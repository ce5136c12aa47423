"""iotstream benchmark: one workload, one Spark process, one closed-loop client.

Usage, from the repository root:

    python3 perfbench/run.py --workload query_mix --seed 1 --seconds 12 --trace 0

The run stages its inputs from ``--seed``, sets the engine up
``SETUPS`` times (session start plus one untimed warm-up pass each),
then runs whole passes over the workload's units for at least
``--seconds`` seconds, calling only public functions of the program.
After timing it checks every output against DuckDB. The last line of
standard output is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` (end-to-end metrics, or with ``--trace 1``
the per-layer metrics of a separate traced window).
"""

from __future__ import annotations

import argparse
import json
import math
import os
import platform
import random
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

#: Machine sizing: cores the engine may use (one executor thread each).
NPROC = 4
#: Driver JVM heap, fixed and touched at start so that resident memory
#: does not depend on when the collector decides to grow the heap; the
#: JVM and the Python processes share a 15 GB box.
DRIVER_HEAP = "2g"
#: Session start plus warm-up pass, repeated; setup_s is their median.
SETUPS = 3
#: Payload events per sensor_ingest drop; a pass drains one drop.
DROP_EVENTS = 100_000
#: A tail percentile must leave at least this many samples above it.
TAIL_ABOVE = 10

# Declared query units per workload (names in
# ``__spark_entry__._declared_queries()``); sensor_ingest's unit is a
# run_sensor_pipeline_stream drain instead. query_mix has one unit per
# layer the ingest path does not reach (a watermarked stateful drain run
# inside the query function, with upsert-sink read-back; windows; TPC-H
# joins; Python workers over Arrow), few enough that three setups and a
# timed window take about a minute.
WORKLOADS: dict[str, tuple[str, ...]] = {
    "sensor_ingest": (),
    "query_mix": (
        "streaming_dedup_wm",
        "flagship",
        "shipping_priority",
        "multimodal_features",
    ),
}


def session_conf(work: str) -> dict[str, str]:
    """Machine sizing and correctness settings only; no program tuning."""
    return {
        "spark.master": f"local[{NPROC}]",
        "spark.sql.shuffle.partitions": str(NPROC),
        "spark.sql.session.timeZone": "UTC",
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.memory": DRIVER_HEAP,
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": (
            f"-Xms{DRIVER_HEAP} -XX:+AlwaysPreTouch -Djava.io.tmpdir={os.path.join(work, 'tmp')}"
        ),
    }


def trace_conf(work: str) -> dict[str, str]:
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": "file://" + os.path.join(work, "eventlog"),
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }


def _process_start() -> float:
    """Epoch time at which this process started (Linux /proc)."""
    with open("/proc/self/stat") as fh:
        ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/stat") as fh:
        btime = next(int(line.split()[1]) for line in fh if line.startswith("btime"))
    return btime + ticks / os.sysconf("SC_CLK_TCK")


def process_tree() -> dict[int, int]:
    """This process and all its descendants, each mapped to its parent."""
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except OSError:
            continue
        kids.setdefault(ppid, []).append(int(name))
    tree, todo = {os.getpid(): os.getppid()}, [os.getpid()]
    while todo:
        p = todo.pop()
        for c in kids.get(p, ()):
            tree[c] = p
            todo.append(c)
    return tree


class RssSampler(threading.Thread):
    """Peak resident memory of this process and all its descendants (the
    driver JVM and the Python workers it forks). Python processes count
    their proportional set size, so pages a forked worker shares with
    its parent count once. The JVM, which shares nothing, counts its
    resident set, which is far cheaper to read for a large heap. A
    process the JVM forks to run a command still runs the java binary
    until it execs and shares all the JVM's pages, so it is not counted."""

    def __init__(self, period: float = 0.2):
        super().__init__(daemon=True)
        self.period = period
        self.peak = 0
        self._done = threading.Event()
        self._page = os.sysconf("SC_PAGE_SIZE")

    def _tree_rss(self) -> int:
        total = 0
        for p, parent in process_tree().items():
            try:
                java = os.path.basename(os.readlink(f"/proc/{p}/exe")) == "java"
                if java and parent != os.getpid():
                    continue
                if java:
                    with open(f"/proc/{p}/statm") as fh:
                        total += int(fh.read().split()[1]) * self._page
                else:
                    with open(f"/proc/{p}/smaps_rollup") as fh:
                        total += 1024 * next(
                            int(line.split()[1]) for line in fh if line.startswith("Pss:")
                        )
            except (OSError, StopIteration):
                continue
        return total

    def run(self) -> None:
        while not self._done.is_set():
            self.peak = max(self.peak, self._tree_rss())
            self._done.wait(self.period)

    def reset(self) -> None:
        self.peak = 0

    def stop(self) -> None:
        self._done.set()
        self.join()


def _cpu_steal() -> tuple[int, int]:
    with open("/proc/stat") as fh:
        v = [int(x) for x in fh.readline().split()[1:]]
    return sum(v), v[7] if len(v) > 7 else 0


def _loadavg() -> float:
    with open("/proc/loadavg") as fh:
        return float(fh.read().split()[0])


def tail_index(n: int) -> int:
    """Index, in ascending order, of the tail sample: the highest one
    that leaves at least TAIL_ABOVE samples above it, but never below
    the 90th percentile (nearest rank), which a short run falls back to."""
    return max(n - 1 - TAIL_ABOVE, math.ceil(0.9 * n) - 1)


class Bench:
    def __init__(self, workload: str, seed: int, seconds: float, work: str):
        from perfbench.trace import Spans

        self.workload = workload
        self.seed = seed
        self.seconds = seconds
        self.work = work
        self.order = random.Random(seed)
        self.spans = Spans()
        self.spark = None
        self.drop = 0
        self.errors: dict[str, str] = {}
        self.outputs: list[tuple[str, tuple]] = []
        self.samples: list[tuple[str, str, float]] = []  # (pass kind, unit, latency)
        self.fixture = os.path.join(work, "fixture")
        self.sinks = os.path.join(work, "sinks")

    # ------------------------------------------------------------ session
    def start_session(self, traced: bool = False):
        from pyspark.sql import SparkSession

        if self.spark is not None:
            self.spark.stop()
        builder = SparkSession.builder.appName(f"perfbench-{self.workload}")
        conf = session_conf(self.work)
        if traced:
            conf.update(trace_conf(self.work))
        for k, v in conf.items():
            builder = builder.config(k, v)
        self.spark = builder.getOrCreate()
        self.spark.sparkContext.setLogLevel("ERROR")
        return self.spark

    # -------------------------------------------------------------- units
    def units(self) -> list[str]:
        if self.workload == "sensor_ingest":
            return ["drop"]
        return list(WORKLOADS[self.workload])

    def run_unit(self, name: str, parent: int, unit: int, collect: bool = False):
        """One call through the program's public API, timed by a span.
        Returns (latency_s, output) where output is the collected
        (columns, rows) when ``collect`` is set."""
        if self.workload == "sensor_ingest":
            return self._drain(parent, unit)
        import __spark_entry__

        fn = __spark_entry__._declared_queries()[name]
        sid = self.spans.begin("unit", parent, unit)
        b = self.spans.begin("entry.build", sid, unit)
        df = fn(self.spark, self.fixture)
        self.spans.end(b)
        e = self.spans.begin("entry.exec", sid, unit)
        if collect:
            out = (df.columns, df.collect())
        else:
            df.write.format("noop").mode("overwrite").save()
            out = None
        self.spans.end(e)
        return self.spans.end(sid), out

    def _drain(self, parent: int, unit: int):
        from iotstream.config import EngineConfig
        from iotstream.pipeline import run_sensor_pipeline_stream
        from perfbench.inputs import land_drop

        land_drop(self.work, self.seed, self.drop, DROP_EVENTS)
        self.drop += 1
        conf = EngineConfig(
            raw_archive_path=os.path.join(self.sinks, "raw"),
            clean_path=os.path.join(self.sinks, "clean"),
        )
        stream = self.spark.readStream.schema("value string").text(
            os.path.join(self.work, "payloads")
        )
        sid = self.spans.begin("unit", parent, unit)
        c = self.spans.begin("pipeline.call", sid, unit)
        run_sensor_pipeline_stream(self.spark, stream, conf, os.path.join(self.sinks, "ckpt"))
        self.spans.end(c)
        return self.spans.end(sid), None

    def one_pass(self, kind: str, collect: bool = False) -> tuple[float, list[float], int]:
        """Every unit once, in seeded order. Returns the pass time (sum of
        unit latencies), the latencies and the number of failed calls.
        With ``collect`` the outputs are kept in ``self.outputs`` for
        the correctness check."""
        pid = self.spans.begin(kind)
        lats, failed = [], 0
        names = self.units()
        for name in self.order.sample(names, len(names)):
            try:
                lat, out = self.run_unit(name, pid, len(self.spans.spans), collect)
                lats.append(lat)
                self.samples.append((kind, name, lat))
                if out is not None:
                    self.outputs.append((name, out))
            except Exception as exc:  # noqa: BLE001 — a failed unit is a result
                failed += 1
                self.errors.setdefault(name, f"{type(exc).__name__}: {exc}"[:500])
        self.spans.end(pid)
        return sum(lats), lats, failed

    def window(self) -> dict:
        """Whole passes until at least ``seconds`` have elapsed."""
        passes, lats, failed = [], [], 0
        t0 = time.perf_counter()
        while not passes or time.perf_counter() - t0 < self.seconds:
            wall, l, f = self.one_pass("pass")
            passes.append(wall)
            lats.extend(l)
            failed += f
        return {"passes": passes, "lats": lats, "failed": failed}

    # ------------------------------------------------------------- checks
    def check(self) -> dict[str, str]:
        """Unit name -> mismatch, for every unit whose output is wrong:
        the collected warm-up outputs of query units against their
        DuckDB twins, or both ingest sinks against the landed payloads."""
        from perfbench import check

        if self.workload == "sensor_ingest":
            msg = check.check_ingest(
                os.path.join(self.work, "payloads"),
                os.path.join(self.sinks, "raw"),
                os.path.join(self.sinks, "clean"),
            )
            return {u: msg for u in self.units()} if msg else {}
        import __spark_entry__

        oracles = __spark_entry__.oracle_sql()
        oracle = check.Oracle(self.fixture)
        bad: dict[str, str] = {}
        try:
            want = {name: oracle.rows(oracles[name]) for name in self.units()}
            for name, (cols, rows) in self.outputs:
                msg = check.diff(check.canonical(cols, rows), want[name])
                if msg:
                    bad.setdefault(name, msg)
            seen = {name for name, _ in self.outputs}
            for name in self.units():
                if name not in seen:
                    bad[name] = self.errors.get(name, "no output")
        finally:
            oracle.close()
        return bad


def _versions(spark) -> dict:
    java = subprocess.run(["java", "-version"], capture_output=True, text=True).stderr
    return {
        "spark": spark.version,
        "java": java.splitlines()[0] if java else "",
        "python": platform.python_version(),
        "nproc": os.cpu_count(),
    }


def _cleanup_shm(before: set[str]) -> None:
    """Remove the scratch dirs the program's one-shot drains left in
    /dev/shm during this run (they are never read again)."""
    shm = "/dev/shm"
    if not os.path.isdir(shm):
        return
    for name in set(os.listdir(shm)) - before:
        if name.startswith("iotstream-"):
            shutil.rmtree(os.path.join(shm, name), ignore_errors=True)


def _started(pid: int) -> int | None:
    """Start time (clock ticks since boot) of a live process, or None if
    it has ended or is a zombie waiting to be reaped."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            fields = fh.read().rsplit(")", 1)[1].split()
    except OSError:
        return None
    return None if fields[0] in "ZX" else int(fields[19])


def stop_engine(timeout: float = 60.0) -> None:
    """Stop the Spark session, the JVM it runs in and every process they
    started, and wait until each has ended. PySpark leaves its JVM
    running until the JVM reads end of input from this process, which
    otherwise happens only as this process exits, so the JVM would
    outlive the run."""
    if "pyspark" not in sys.modules:
        return
    from pyspark import SparkContext

    procs = {p: s for p in process_tree() if p != os.getpid() and (s := _started(p))}
    try:
        if SparkContext._active_spark_context is not None:
            SparkContext._active_spark_context.stop()
    finally:
        gateway = SparkContext._gateway
        proc = getattr(gateway, "proc", None)
        if gateway is not None:
            try:
                gateway.shutdown()
            except Exception:  # noqa: BLE001 — the JVM is stopped below regardless
                pass
            SparkContext._gateway = SparkContext._jvm = None
        if proc is not None:
            if proc.stdin is not None:
                proc.stdin.close()
            try:
                proc.wait(timeout)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        # Whatever the JVM started (Python workers) ends with it; give
        # each a moment, then kill it, and wait until it is gone.
        deadline = time.time() + 10
        for sig in (signal.SIGTERM, signal.SIGKILL, None):
            left = [p for p, s in procs.items() if _started(p) == s]
            while left and time.time() < deadline:
                time.sleep(0.05)
                left = [p for p in left if _started(p) == procs[p]]
            if not left or sig is None:
                break
            for p in left:
                try:
                    os.kill(p, sig)
                except OSError:
                    pass
            deadline = time.time() + 10


def measure(args, work: str) -> dict:
    """Stage, set up, time, optionally trace, and check one workload."""
    from perfbench import inputs
    from perfbench.trace import EventLog, layer_means, progress_listener, unit_table

    proc_start = _process_start()
    t = time.time()
    if args.workload != "sensor_ingest":
        inputs.stage_fixture(os.path.join(work, "fixture"), args.seed)
    staging = time.time() - t
    phases = {"imports": t - proc_start, "staging": staging}
    bench = Bench(args.workload, args.seed, args.seconds, work)
    sampler = RssSampler()
    sampler.start()
    load0, (cpu0, steal0) = _loadavg(), _cpu_steal()

    # A setup is a session start plus one warm-up pass (unit latencies,
    # so landing payload drops is not counted). The first runs from
    # process start, less input staging, and includes the JVM launch;
    # the others restart the session in that JVM.
    setups = []
    for k in range(SETUPS):
        t0 = time.time()
        bench.start_session()
        start = time.time() - (t0 if k else proc_start + staging)
        warm, _, _ = bench.one_pass("warmup", collect=True)
        setups.append(start + warm)
        phases[f"setup{k}"] = [start, warm, time.time() - t0]
    versions = _versions(bench.spark)
    # Memory is the footprint of the timed passes, after setup transients
    # (sessions being replaced) have passed.
    sampler.reset()
    t = time.time()
    timed = bench.window()
    phases["window"] = time.time() - t
    peak_rss = sampler.peak

    traced = None
    if args.trace:
        progress: list[dict] = []
        spark = bench.start_session(traced=True)
        listener = progress_listener(progress)
        spark.streams.addListener(listener)
        bench.one_pass("warmup")
        first = len(bench.spans.spans)
        traced = bench.window()
        spark.streams.removeListener(listener)
        app = spark.sparkContext.applicationId
        bench.start_session()  # stopping the traced session closes its event log
        log = EventLog.read(os.path.join(work, "eventlog", app))
        rows = [
            r for r in unit_table(bench.spans, log, progress, NPROC) if r["unit"] >= first
        ]
        traced.update(
            rows=rows,
            layers=layer_means(rows),
            self_s=bench.spans.self_times(first),
            progress_listener=len(progress),
            progress_eventlog=len(log.progress),
        )
    sampler.stop()

    t = time.time()
    bad = bench.check()
    phases["check"] = time.time() - t
    load1, (cpu1, steal1) = _loadavg(), _cpu_steal()
    meta = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "units": bench.units(),
        "session": session_conf("<work>"),
        **versions,
        "loadavg_start": load0,
        "loadavg_end": load1,
        "steal_ratio": (steal1 - steal0) / max(1, cpu1 - cpu0),
    }
    t = time.time()
    bench.spark.stop()
    phases["stop"] = time.time() - t
    phases["total"] = time.time() - proc_start
    return {
        "phases": phases,
        "setups": setups,
        "timed": timed,
        "traced": traced,
        "peak_rss": peak_rss,
        "bad": bad,
        "errors": bench.errors,
        "samples": bench.samples,
        "spans": bench.spans,
        "meta": meta,
    }


def summarize(args, r: dict) -> dict:
    """The result line: correctness counts and the metrics asked for."""
    from perfbench.trace import LAYER_METRICS

    timed = r["timed"]
    lats = sorted(timed["lats"])
    n = len(timed["lats"]) + timed["failed"]
    per_unit = n / len(r["meta"]["units"])  # calls of each unit in the window
    failed = min(n, timed["failed"] + round(per_unit * len(r["bad"])))
    wall = statistics.median(timed["passes"])
    e2e = {
        "setup_s": (statistics.median(r["setups"]), "s"),
        "wall_s": (wall, "s"),
        "latency_p50_s": (statistics.median(lats) if lats else 0.0, "s"),
        "latency_tail_s": (lats[tail_index(len(lats))] if lats else 0.0, "s"),
        "peak_rss_mb": (r["peak_rss"] / 2**20, "MB"),
    }
    shown = dict(e2e)
    shown["failed_ratio"] = (failed / n if n else 0.0, "ratio")
    if args.workload == "sensor_ingest":
        shown["events_per_s"] = (DROP_EVENTS * len(lats) / sum(lats) if lats else 0.0, "1/s")
    tail_pct = 100.0 * (tail_index(len(lats)) + 1) / len(lats) if lats else 0.0
    print(f"# {args.workload} seed={args.seed} samples={len(lats)} "
          f"tail=p{tail_pct:.1f} passes={len(timed['passes'])}")
    for name, (value, unit) in shown.items():
        print(f"{name:16s} {value:14.6f} {unit}")
    for unit, msg in sorted(r["bad"].items()):
        print(f"MISMATCH {unit}: {msg}")
    for unit, msg in sorted(r["errors"].items()):
        print(f"ERROR {unit}: {msg}")
    print("meta " + json.dumps(r["meta"], sort_keys=True))

    if args.trace:
        tr = r["traced"]
        layers = dict(tr["layers"])
        layers["trace.wall_s"] = statistics.median(tr["passes"])
        layers["trace.overhead_s"] = layers["trace.wall_s"] - wall
        for name, secs in sorted(tr["self_s"].items()):
            print(f"self {name:14s} {secs:10.4f} s")
        print(f"progress events: listener={tr['progress_listener']} "
              f"eventlog={tr['progress_eventlog']}")
        metrics = {k: {"value": layers[k], "unit": u} for k, u in LAYER_METRICS.items()}
    else:
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}
    return {
        "correct": failed == 0 and not r["bad"],
        "attempted": max(1, n),
        "failed": failed,
        "metrics": metrics,
    }


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    # The engine and the fixture come from the checkout this file sits in.
    sys.path.insert(0, ROOT)
    try:
        import iotstream  # noqa: F401
        import __spark_entry__  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: cannot import the engine from {ROOT}: {exc}", file=sys.stderr)
        return 2

    base = os.path.join(ROOT, ".perfbench_work")
    work = os.path.join(base, f"{args.workload}-{args.seed}-{args.trace}-{os.getpid()}")
    for sub in ("tmp", "spark-local", "eventlog"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    # Everything the run and its children write stays in the checkout
    # (SPARK_LOCAL_DIRS wins over spark.local.dir; Python workers inherit
    # TMPDIR and PYTHONPATH).
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR
    shm_before = set(os.listdir("/dev/shm")) if os.path.isdir("/dev/shm") else set()
    # A run stopped by SIGTERM still stops its engine on the way out.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        r = measure(args, work)
    finally:
        stop_engine()
        _cleanup_shm(shm_before)
        shutil.rmtree(work, ignore_errors=True)
    result = summarize(args, r)
    results = os.path.join(base, "results")
    os.makedirs(results, exist_ok=True)
    name = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    spans = r.pop("spans")
    if args.trace:
        spans.dump(os.path.join(results, f"{name}-spans.json"))
    with open(os.path.join(results, f"{name}.json"), "w", encoding="utf-8") as fh:
        json.dump({"result": result, "run": r}, fh, default=str)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
