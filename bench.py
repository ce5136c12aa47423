"""Bench harness — times every declared query at the bench scale factor.

Prints ONE compact JSON line (built by compact_line): the total, the
20 slowest queries plus the flagship, counts, the streaming ingest
throughput, the isolated series and the first errors. The FULL
per-query timing map is written to BENCH_FULL.json alongside.

Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1),
     SPARK_GRAFT_CPUS   (default 32),
     SPARK_DRIVER_MEM   (default 48g),
     SPARK_GRAFT_PREFER_SMJ (default false),
     SPARK_GRAFT_NO_ISOLATED (1 skips the isolated series).

After the in-session sweep, the slowest queries are RE-TIMED in fresh
single-query subprocesses (new JVM each, same warm-up/GC/min-of-2
hygiene) and reported as the "isolated" series alongside the session
numbers: a 128-query session carries co-resident heap/JIT/cache state
that inflates individual timings by 30-40% in ways min-of-2 cannot
remove (VERDICT r6), so regressions are judged on BOTH series — a
session-only rise is load, an isolated rise is a real plan change.
``python bench.py --one <query>`` is the subprocess entry point.

Each query is forced end-to-end with the noop sink (full computation,
no driver-side collect overhead). AQE is on — at bench scale it
coalesces shuffle partitions and handles skew the same way a cluster
run would.
"""

from __future__ import annotations

import json
import os
import re
import sys
import time


def _env_bool(var: str, default: str) -> str:
    """Normalize a boolean env override to the literal 'true'/'false'
    Spark requires — '1'/'yes'/'on' would otherwise fail session init
    instead of toggling the A/B override (ADVICE r17)."""
    raw = os.environ.get(var, default).strip().lower()
    if raw in ("1", "true", "yes", "on"):
        return "true"
    if raw in ("0", "false", "no", "off", ""):
        return "false"
    raise ValueError(f"{var}: expected a boolean (true/false/1/0/yes/no), got {raw!r}")


def _session(cpus: str, extra_conf: dict | None = None, app: str = "iotstream-bench"):
    """The record session. ``extra_conf`` lets tools/ab_bench.py reuse
    this EXACT builder (same baseline configs, incl. the r17
    preferSortMergeJoin/Arrow settings) with per-experiment overrides —
    an A/B harness with its own builder silently measures a different
    baseline than the record sweep (ADVICE r17)."""
    from pyspark.sql import SparkSession

    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app)
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # r17 (guide §3.1/§9): allow the planner to pick shuffled-hash
        # over sort-merge when its size conditions hold — skips both
        # sides' sorts in the fact/dim equi-joins that dominate the
        # tail. Scale-portable (the planner still requires the build
        # side to fit per partition; SMJ remains the fallback) and
        # env-overridable for A/B.
        .config(
            "spark.sql.join.preferSortMergeJoin",
            _env_bool("SPARK_GRAFT_PREFER_SMJ", "false"),
        )
        # r17 (guide §6): Arrow for driver transfers — the similarity
        # kernels collect their fixed query set via toPandas(); the
        # row-pickle path pays per-row conversion for array<double>
        # columns. Orders-of-magnitude cheaper at any scale; A/B at
        # sf0.1 measured ~6% off the similarity family.
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        # local-mode driver == all executors: size the heap so the
        # interpreted-HOF queries (zip_with/aggregate allocate per row)
        # don't turn the tail of the 40-query session into a GC bench.
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "48g"))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _time_one(spark, fn, sf_dir: str) -> float:
    """Warm-up run, forced GC, then min-of-2 — the hygiene every
    timing in this harness shares."""
    try:
        fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
    except Exception:  # noqa: BLE001 — warm-up best-effort
        pass
    spark._jvm.System.gc()
    best = None
    for _ in range(2):
        t0 = time.perf_counter()
        fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        dt = time.perf_counter() - t0
        best = dt if best is None else min(best, dt)
    return best


def one_query(name: str) -> int:
    """Subprocess entry: time ONE query in a pristine JVM and print a
    single JSON line — the isolated series' measurement unit."""
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = _session(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    import __spark_entry__ as entrymod

    qs = entrymod.queries()
    if name not in qs:
        print(json.dumps({"query": name, "error": "unknown"}))
        return 2
    try:
        sec = _time_one(spark, qs[name], sf_dir)
        print(json.dumps({"query": name, "sec": round(sec, 3)}))
        return 0
    except Exception as e:  # noqa: BLE001
        print(json.dumps({"query": name, "error": f"{type(e).__name__}: {e}"[:200]}))
        return 1


def isolated_series(names: list[str], budget_sec: float = 360.0) -> dict[str, float]:
    """Fresh-subprocess min-of-2 per query. ~20 s JVM+warm-up cost per
    entry, so callers pass a small set (the slowest in-session ones).
    ``budget_sec`` caps the WHOLE series — per-query timeouts alone
    would let 10 pathological entries cost 30 min of bench time; when
    the budget runs out the remaining queries are skipped (the series
    is advisory, the session sweep is the record)."""
    import subprocess

    out: dict[str, float] = {}
    t_start = time.perf_counter()
    for name in names:
        remaining = budget_sec - (time.perf_counter() - t_start)
        if remaining <= 0:
            print(
                f"bench isolated: budget exhausted, skipping {name!r} onward",
                file=sys.stderr,
            )
            break
        try:
            proc = subprocess.run(
                [sys.executable, os.path.abspath(__file__), "--one", name],
                capture_output=True,
                text=True,
                timeout=min(180, max(30, remaining)),
            )
            lines = proc.stdout.strip().splitlines()
            rec = json.loads(lines[-1]) if lines else {}
            if "sec" in rec:
                out[name] = rec["sec"]
        except Exception as e:  # noqa: BLE001 — isolated series is advisory
            print(f"bench isolated error in {name}: {e}", file=sys.stderr)
    return out


def compact_line(out: dict) -> dict:
    """The ONE stdout line, built from the full artifact ``out``.

    The bench's stdout is captured as its TAIL (~2000 chars), and a
    127-entry "queries" map once made every line unparseable, so the
    line is capped by construction to stay under 1,800 chars: 20
    slowest queries plus the flagship, the isolated series (at most 10
    entries), and at most 3 errors of at most 80 chars each. The
    complete record lives in BENCH_FULL.json."""
    timings = out["queries"]
    errors = out.get("errors", {})
    ok = {k: v for k, v in timings.items() if v >= 0}
    head = {n: timings[n] for n in sorted(ok, key=ok.get, reverse=True)[:20]}
    if "flagship" in timings:
        head["flagship"] = timings["flagship"]
    line = {
        "metric": out["metric"],
        "value": out["value"],
        "unit": out["unit"],
        "queries": head,
        "sf": out["sf"],
        "n_queries": len(timings),
        "n_errors": len(errors),
        "sub_second": sum(1 for v in ok.values() if v < 1.0),
    }
    if "streaming_ingest_events_per_sec" in out:
        line["streaming_ingest_events_per_sec"] = out[
            "streaming_ingest_events_per_sec"
        ]
    if out.get("isolated"):
        line["isolated"] = out["isolated"]
    if errors:
        line["errors"] = {k: v[:80] for k, v in list(errors.items())[:3]}
    line["full"] = "BENCH_FULL.json"
    return line


def main() -> int:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else -1.0

    spark = _session(cpus)

    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    import __spark_entry__ as entrymod

    # Declaration order encodes the cost layout (cheap batch queries
    # lead so slot 0 pays JVM warmup).
    bench_queries = entrymod.queries()

    spark.range(1_000_000).selectExpr("sum(id)").collect()  # JVM warmup
    # One throwaway REAL-query warm-up before the loop: the synthetic
    # warmup above doesn't touch parquet scans, Arrow, or the Python
    # worker pool, so whichever query ran first absorbed their
    # first-touch cost (r5: slot-0 dedup_report timed 3.32 s driver vs
    # 2.4 s isolated). A cheap declared query soaks that up untimed,
    # making per-query numbers position-independent.
    try:
        next(iter(bench_queries.values()))(spark, sf_dir).write.format(
            "noop"
        ).mode("overwrite").save()
    except Exception:  # noqa: BLE001 — warm-up is best-effort
        pass

    # Per-query warm-up at the SAME scale factor: one untimed run
    # compiles the generated code (Janino/JIT) for the EXACT plan the
    # timed run executes — AQE picks different physical plans per data
    # size, so warming at a smaller SF leaves the real plan's codegen
    # compile (~seconds for the 64-aggregate simhash) inside the timed
    # window. The reported number is steady-state throughput, which is
    # what amortizes at production scale.
    # Reported time = min of 2 measured runs after the warm-up: a 45-
    # query session has GC/scheduling noise of ±1-2 s per query; min-of-2
    # keeps round-over-round comparisons meaningful.
    # _time_one forces a collection between the warm-up and the timed
    # runs: a 128-query session accumulates heap debt, and a major GC
    # landing inside someone's timed window charges the PREVIOUS
    # queries' garbage to this one (A/B: the same query times 0.9 s
    # early-session and 6.8 s late-session without this, flat with
    # it). The reported number is the query's own steady-state cost.
    timings: dict[str, float] = {}
    errors: dict[str, str] = {}
    for name, fn in bench_queries.items():
        try:
            timings[name] = round(_time_one(spark, fn, sf_dir), 3)
        except Exception as e:  # noqa: BLE001
            print(f"bench error in {name}: {type(e).__name__}: {e}", file=sys.stderr)
            timings[name] = -1.0
            errors[name] = f"{type(e).__name__}: {e}"[:300]

    ok = {k: v for k, v in timings.items() if v >= 0}
    out = {
        "metric": "total_runtime_declared_queries",
        "value": round(sum(ok.values()), 3),
        "unit": "sec",
        "queries": timings,
        "sf": sf,
    }
    if errors:
        out["errors"] = errors

    # Isolated series (VERDICT r6 item 6): the 10 slowest in-session
    # queries re-timed in pristine single-query JVMs — the artifact
    # that separates session noise from real plan regressions.
    if os.environ.get("SPARK_GRAFT_NO_ISOLATED") != "1":
        out["isolated"] = isolated_series(
            sorted(ok, key=ok.get, reverse=True)[:10]
        )

    # End-to-end streaming ingest throughput: the reference's full
    # topology (JSON payload stream → parse → pre-filter raw archive +
    # post-filter clean sink) drained as a real micro-batch stream.
    # The reference's generator self-reports 0.5 msg/s/thread
    # (BASELINE.md); this records the engine-side number at bench scale.
    try:
        import shutil
        import tempfile

        from iotstream.config import EngineConfig
        from iotstream.operators.parse import to_sensor_json
        from iotstream.pipeline import run_sensor_pipeline_stream
        from iotstream.schemas import load_table, use_utc
        from iotstream.sensorize import sensorize

        use_utc(spark)
        events = sensorize(load_table(spark, sf_dir, "events"))
        n = events.count()
        tmp = tempfile.mkdtemp(prefix="iotstream-bench-ingest-")
        payloads = f"{tmp}/payloads"
        to_sensor_json(events).write.mode("overwrite").text(payloads)

        def drain(tag: str) -> float:
            conf = EngineConfig(
                raw_archive_path=f"{tmp}/{tag}/raw",
                clean_path=f"{tmp}/{tag}/clean",
            )
            stream = spark.readStream.schema("value string").text(payloads)
            t0 = time.perf_counter()
            run_sensor_pipeline_stream(spark, stream, conf, f"{tmp}/{tag}/ckpt")
            return time.perf_counter() - t0

        # The drain is GC-sensitive: without an explicit collection a
        # mid-addBatch GC pause lands on roughly every other run (A/B:
        # alternating 22k/56k ev/s on an idle machine; forced GC +
        # warm-up converges to a stable ~58k). One untimed warm-up
        # drain, then a forced collection before each of two timed
        # drains; best-of-2 reports steady-state throughput — the
        # number that amortizes at production scale, same rationale as
        # the query min-of-2.
        drain("w")
        best = None
        for tag in ("a", "b"):
            spark._jvm.System.gc()
            dt = drain(tag)
            best = dt if best is None else min(best, dt)
        out["streaming_ingest_events_per_sec"] = round(n / best)
        shutil.rmtree(tmp, ignore_errors=True)
    except Exception as e:  # noqa: BLE001
        print(f"bench ingest error: {type(e).__name__}: {e}", file=sys.stderr)

    try:
        repo_root = os.path.dirname(os.path.abspath(__file__))
        with open(os.path.join(repo_root, "BENCH_FULL.json"), "w") as f:
            json.dump(out, f, indent=1, sort_keys=True)
    except OSError as e:  # never let the artifact write fail the bench
        print(f"bench: BENCH_FULL.json write failed: {e}", file=sys.stderr)

    # Always rc:0 with parseable JSON — a broken query is reported in
    # "errors"/-1.0 timings, never by failing the whole harness (the
    # driver records nothing from a nonzero exit).
    print(json.dumps(compact_line(out)))
    return 0


if __name__ == "__main__":
    if len(sys.argv) >= 3 and sys.argv[1] == "--one":
        raise SystemExit(one_query(sys.argv[2]))
    raise SystemExit(main())
