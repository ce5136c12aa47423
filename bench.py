"""Bench harness — times every declared query at the bench scale factor.

Prints ONE compact JSON line:
    {"metric": ..., "value": <total sec>, "unit": "sec",
     "queries": {<headline subset>: sec, ...}, "sf": <float>,
     "n_queries": N, "loadavg": {...}, "errors": [...]}
(stdout carries only the headline-query subset to keep the line small;
the FULL per-query timing map is written to BENCH_FULL.json alongside.)

The artifact is load-self-diagnosing (VERDICT r8 item 3): loadavg +
ISO-UTC wall-clock + cumulative hypervisor steal are sampled before
the Spark session exists (the clean external-load signal), after
every query, at the end of the query sweep, and at the true end of
the artifact (after the isolated series and the ingest drain, so a
steal burst during those phases is recorded too). The compact line
carries the summary with a headline `contaminated` flag — busy at
start (loadavg), >1% of machine cycles stolen over the session, or
>5% stolen inside any inter-sample window (steal_ratio /
steal_ratio_window_max; loadavg is blind to steal, the measured cause
of the 2× cross-session spread) — so a capture taken on a busy
machine identifies itself instead of reading as a perf regression.
The session threshold was tightened from 0.05 to 0.01 in r14 after
the r13 matrix captures (steal 0.012-0.032, ~32-40% inflated vs the
same code idle at 0.0003) all self-certified clean — see
contamination_verdict() for the full threshold rationale. The
deviation-from-idle-median alternative (VERDICT r13) was rejected:
it couples the gate to a committed reference total that changes with
every engine/query-set edit, while the steal counter is
code-independent.

r15 adds PER-QUERY steal certification (VERDICT r14 item 1 — the
band ate two rounds' bench legs): every reported number carries its
own timing window (pre/post steal samples around _time_one); queries
whose window exceeds PER_QUERY_STEAL_GATE are re-timed after the
sweep inside clean gaps (wait_clean_window) and the clean capture is
SPLICED in. The headline `contaminated` flag is now splice_verdict()
— clean iff start-load clean, no co-tenant sweep load, and every
final window certified — while the raw session detector rides
alongside as `session_contaminated`/`session_causes`. `--wait-clean`
(or SPARK_GRAFT_WAIT_CLEAN=1) additionally delays the sweep start
into a steal-free gap, budget SPARK_GRAFT_WAIT_CLEAN_SEC (900 s
default); re-time budget SPARK_GRAFT_RETIME_SEC (600 s default).

Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1),
     SPARK_GRAFT_CPUS   (default 32).

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

import datetime
import json
import os
import re
import sys
import time


def _tick_hz() -> float:
    """Kernel jiffy rate for /proc/stat deltas. Hardcoding 100 breaks
    the steal ratio (and the contamination verdict) on any kernel built
    with a non-default USER_HZ (ADVICE r9)."""
    try:
        hz = os.sysconf("SC_CLK_TCK")
        return float(hz) if hz > 0 else 100.0
    except (ValueError, OSError, AttributeError):  # pragma: no cover
        return 100.0


def _proc_cpus() -> int:
    """CPUs actually accumulating jiffies, counted from the per-cpu
    lines of /proc/stat — os.cpu_count() over-divides the steal ratio
    when CPUs are offline/hotplugged (ADVICE r9)."""
    try:
        with open("/proc/stat") as f:
            n = sum(
                1
                for line in f
                if line.startswith("cpu") and line[3:4].isdigit()
            )
        return n or (os.cpu_count() or 1)
    except OSError:  # pragma: no cover — non-Linux
        return os.cpu_count() or 1


def load_at_start_threshold(ncpu: int | None = None) -> float:
    """The bench's load_at_start contamination threshold: pre-session
    1-min loadavg above 25% of the machine (floor 2.0) means someone
    ELSE was running before the bench added its own threads. Public so
    tools/run_matrix.py's settle gate imports it instead of duplicating
    the formula (ADVICE r12: a re-derived copy silently diverges from
    the contamination verdict it is meant to pre-empt)."""
    n = ncpu if ncpu is not None else _proc_cpus()
    return max(2.0, round(0.25 * n, 1))


def _load_sample() -> dict:
    """One (timestamp, loadavg, cumulative-steal) sample. Wall-clock is
    ISO-UTC so a reader can line the bench up against external machine
    records. ``steal_jiffies`` is the cumulative hypervisor steal time
    from /proc/stat — this box is a VM, and co-tenant host load is the
    measured cause of the 2× spread on sustained all-core runs
    (loadavg cannot see it; diff two samples to get steal DURING an
    interval)."""
    try:
        l1, l5, l15 = os.getloadavg()
    except OSError:  # pragma: no cover — getloadavg absent on some OSes
        l1 = l5 = l15 = -1.0
    steal = -1
    try:
        with open("/proc/stat") as f:
            parts = f.readline().split()
        # cpu user nice system idle iowait irq softirq steal ...
        if len(parts) > 8:
            steal = int(parts[8])
    except (OSError, ValueError):  # pragma: no cover — non-Linux
        pass
    return {
        "ts": datetime.datetime.now(datetime.timezone.utc).isoformat(
            timespec="seconds"
        ),
        # Monotonic clock for inter-sample windows: the ISO ts is
        # second-precision (fine for lining up with external machine
        # records, useless for sub-second steal windows).
        "mono": round(time.perf_counter(), 3),
        "loadavg": [round(l1, 2), round(l5, 2), round(l15, 2)],
        "steal_jiffies": steal,
    }


#: Per-query window steal gate (VERDICT r14 item 1): a query's number
#: is CERTIFIED clean when the steal inside its own timing window
#: (pre-sample → post-sample, spanning warm-up + GC + both timed runs)
#: stays at or under this fraction of machine cycles. Matches the
#: session threshold (0.01): r13 forensics showed even 1-3% session
#: steal correlates with 30-40% inflation (the counter under-reports
#: co-tenant throttling), while idle noise sits at 0.0003-0.002 — so
#: the gate sits just above idle, with ~5× margin both ways.
PER_QUERY_STEAL_GATE = 0.01

#: Minimum window length (monotonic seconds) for a meaningful per-
#: window steal ratio: below this the /proc read skew dominates the
#: jiffy delta. Shorter windows report -1.0 (unknown → not retried,
#: surfaced as "unknown" in the certification map).
MIN_WINDOW_SEC = 0.05


def window_steal_ratio(
    w: dict, hz: float, ncpu: int
) -> float:
    """Steal fraction of the machine's cycles inside ONE timing window
    ``{"mono0","steal0","mono1","steal1"}``. -1.0 when the window is
    unmeasurable (missing steal data or sub-MIN_WINDOW_SEC span)."""
    m0, m1 = w.get("mono0", -1.0), w.get("mono1", -1.0)
    s0, s1 = w.get("steal0", -1), w.get("steal1", -1)
    if m0 < 0 or m1 < 0 or s0 < 0 or s1 < 0 or m1 - m0 < MIN_WINDOW_SEC:
        return -1.0
    return (s1 - s0) / ((m1 - m0) * hz * ncpu)


def window_clean(w: dict, hz: float, ncpu: int) -> bool:
    """True iff the window's steal was MEASURED at or under the gate.
    An unmeasurable window (ratio -1.0) is NOT clean — `ratio <= gate`
    alone would let an unknown drain displace a certified one and trip
    the best-of early break (ADVICE r15); mirrors splice_dirty's
    in-loop check."""
    ratio = window_steal_ratio(w, hz, ncpu)
    return 0 <= ratio <= PER_QUERY_STEAL_GATE


def splice_verdict(
    load_start: dict,
    query_windows: dict[str, dict],
    ncpu: int,
    bench_threads: int,
    tick_hz: float | None = None,
    timings: dict[str, float] | None = None,
) -> dict:
    """Per-query-certified contamination verdict (VERDICT r14 item 1)
    — pure (no /proc reads) so tests can replay recorded windows.

    ``query_windows`` holds each reported number's FINAL timing window
    (post-splice: a re-timed query carries its clean re-run's window,
    not the original dirty one). The capture is clean iff the machine
    was idle at start, no co-tenant load arrived during the sweep, and
    every MEASURED timing window's steal stayed at or under
    PER_QUERY_STEAL_GATE. Windows too short to measure (ratio -1.0)
    are NOT certified — they are surfaced in ``unknown`` and callers
    must not read all-clean from a capture with unknowns (ADVICE r15).
    When ``timings`` is given, queries that ERRORED (timing < 0,
    reported as -1.0 / no number) are excluded from ``dirty`` — they
    contribute no reported number to certify and can never be re-timed
    clean, so a steal burst during a failing query must not
    permanently flip the headline flag (ADVICE r15); their ratios stay
    in ``window_ratios`` for transparency. This is deliberately
    stricter per-number and looser per-session than
    contamination_verdict(): steal that lands BETWEEN timing windows
    (warm-ups, sampling gaps) inflates the session average without
    touching any reported number, which is exactly the
    false-contamination shape that ate the r13 and r14 bench legs."""
    hz = tick_hz if tick_hz is not None else _tick_hz()
    ratios = {
        n: round(r, 4) if (r := window_steal_ratio(w, hz, ncpu)) >= 0 else -1.0
        for n, w in query_windows.items()
    }
    reported = (
        ratios
        if timings is None
        else {n: r for n, r in ratios.items() if timings.get(n, 0.0) >= 0}
    )
    dirty = sorted(
        n for n, r in reported.items() if r > PER_QUERY_STEAL_GATE
    )
    unknown = sorted(n for n, r in reported.items() if r < 0)
    loads = [
        w["load1"] for w in query_windows.values()
        if w.get("load1", -1) >= 0
    ]
    thresholds = {
        "load_at_start": load_at_start_threshold(ncpu),
        "steal_query_window": PER_QUERY_STEAL_GATE,
        "load_during_sweep": round(1.5 * max(bench_threads, ncpu), 1),
    }
    causes = []
    if load_start["loadavg"][0] > thresholds["load_at_start"]:
        causes.append("load_at_start")
    if dirty:
        causes.append("steal_query_windows")
    if loads and max(loads) > thresholds["load_during_sweep"]:
        causes.append("load_during_sweep")
    return {
        "contaminated": bool(causes),
        "causes": causes,
        "dirty": dirty,
        "unknown": unknown,
        "window_ratios": ratios,
        "thresholds": thresholds,
        "tick_hz": hz,
    }


def wait_clean_window(
    budget_sec: float,
    probe_sec: float = 3.0,
    gate: float = PER_QUERY_STEAL_GATE / 2,
) -> dict:
    """Block until one ``probe_sec`` steal window reads at or under
    ``gate`` (half the per-query gate — start with margin), or the
    budget runs out. The r13/r14 steal band is bursty with idle gaps;
    starting the sweep inside a gap is cheaper than re-timing half the
    queries after it. Returns a record for the artifact."""
    hz = _tick_hz()
    ncpu = _proc_cpus()
    t0 = time.perf_counter()
    probes = 0
    last = -1.0
    while True:
        a = _load_sample()
        time.sleep(probe_sec)
        b = _load_sample()
        probes += 1
        last = window_steal_ratio(
            {"mono0": a["mono"], "steal0": a["steal_jiffies"],
             "mono1": b["mono"], "steal1": b["steal_jiffies"]},
            hz, ncpu,
        )
        waited = time.perf_counter() - t0
        if last < 0 or last <= gate or waited >= budget_sec:
            return {
                "waited_sec": round(waited, 1),
                "probes": probes,
                "final_ratio": round(last, 4) if last >= 0 else -1.0,
                "gate": gate,
                "clean": bool(0 <= last <= gate) or last < 0,
            }
        print(
            f"bench wait-clean: steal {last:.4f} > {gate}, waiting "
            f"({waited:.0f}/{budget_sec:.0f}s)",
            file=sys.stderr,
        )


def splice_dirty(
    timings: dict[str, float],
    query_windows: dict[str, dict],
    time_fn,
    hz: float,
    ncpu: int,
    *,
    budget_sec: float,
    max_attempts: int = 3,
    wait_fn=None,
    sample_fn=None,
    clock=None,
) -> dict[str, dict]:
    """Re-time every query whose timing window read dirty and splice
    clean captures into ``timings``/``query_windows`` IN PLACE.

    ``time_fn(name) -> sec`` runs one measured repeat of the named
    query; wait/sample/clock hooks default to the real machinery and
    exist so tests can drive the loop against scripted steal bands
    (the same injectability pattern as the pure verdicts). Returns the
    re-time record {name: {original_sec, attempts, certified}}.
    A query that never gets a clean window inside the budget keeps its
    ORIGINAL measurement (dirty re-run timings are never spliced — the
    first number is the one whose window the verdict already saw) and
    stays on splice_verdict's dirty list — reported, never hidden."""
    wait_fn = wait_fn if wait_fn is not None else wait_clean_window
    sample_fn = sample_fn if sample_fn is not None else _load_sample
    clock = clock if clock is not None else time.perf_counter
    requeried: dict[str, dict] = {}
    t0 = clock()
    dirty0 = sorted(
        n for n, w in query_windows.items()
        if timings.get(n, -1.0) >= 0
        and window_steal_ratio(w, hz, ncpu) > PER_QUERY_STEAL_GATE
    )
    for name in dirty0:
        rec = {"original_sec": timings[name], "attempts": 0,
               "certified": False}
        requeried[name] = rec
        for _attempt in range(max_attempts):
            remaining = budget_sec - (clock() - t0)
            if remaining <= 0:
                break
            wait_fn(min(60.0, remaining), probe_sec=2.0)
            s0 = sample_fn()
            try:
                sec = time_fn(name)
            except Exception as e:  # noqa: BLE001 — keep original number
                print(
                    f"bench retime error in {name}: {e}", file=sys.stderr
                )
                break
            s1 = sample_fn()
            w = {
                "mono0": s0["mono"], "steal0": s0["steal_jiffies"],
                "mono1": s1["mono"], "steal1": s1["steal_jiffies"],
                "load1": s1["loadavg"][0],
                "retries": query_windows[name]["retries"] + 1,
            }
            query_windows[name]["retries"] = w["retries"]
            rec["attempts"] += 1
            ratio = window_steal_ratio(w, hz, ncpu)
            if 0 <= ratio <= PER_QUERY_STEAL_GATE:
                timings[name] = round(sec, 3)
                query_windows[name] = w
                rec["certified"] = True
                break
    if dirty0:
        print(
            f"bench splice: re-timed {len(dirty0)} dirty-window queries, "
            f"certified {sum(1 for r in requeried.values() if r['certified'])}"
            f" in {clock() - t0:.0f}s",
            file=sys.stderr,
        )
    return requeried


#: Hard cap for the ONE compact stdout line. The driver records only
#: the TAIL (~2000 chars) of stdout, so the line must fit with margin;
#: everything shed here survives in full in BENCH_FULL.json.
COMPACT_LINE_BUDGET = 1800


def _fit_compact(compact: dict) -> dict:
    """Guarantee the compact stdout line fits COMPACT_LINE_BUDGET by
    shedding optional blocks in a FIXED order (r15 regression: the full
    load summary + isolated maps pushed the line to 2349 chars and the
    driver capture truncated → "parsed": null → the round lost its
    trend row). Sheds least-essential first; the metric/value/queries/
    certified/loadavg core is never dropped. A "trimmed" list records
    what was shed so a reader knows to open BENCH_FULL.json."""
    def _size() -> int:
        return len(json.dumps(compact))

    if _size() <= COMPACT_LINE_BUDGET:
        return compact

    def _drop(key: str) -> None:
        compact.pop(key, None)

    def _trim_queries(n: int) -> None:
        q = compact.get("queries") or {}
        keep = sorted(
            (k for k in q if k != "flagship"), key=q.get, reverse=True
        )[:n]
        if "flagship" in q:
            keep.append("flagship")
        compact["queries"] = {k: q[k] for k in keep}

    steps: list[tuple[str, object]] = [
        ("isolated", lambda: _drop("isolated")),
        ("isolated_steal", lambda: _drop("isolated_steal")),
        ("errors", lambda: _drop("errors")),
        ("queries>10", lambda: _trim_queries(10)),
        ("queries>5", lambda: _trim_queries(5)),
        ("causes", lambda: (
            compact.get("loadavg", {}).pop("contamination_causes", None),
            compact.get("loadavg", {}).pop("session_causes", None),
        )),
    ]
    trimmed: list[str] = []
    for name, action in steps:
        action()
        trimmed.append(name)
        compact["trimmed"] = trimmed
        if _size() <= COMPACT_LINE_BUDGET:
            break
    if _size() > COMPACT_LINE_BUDGET:
        # Last-resort shed (ADVICE r16): the six steps can exhaust
        # without fitting (e.g. many long dirty-query names in
        # certified.dirty) and the docstring's guarantee — the r15
        # 'parsed: null' truncation fix — must hold regardless. Trim
        # queries to the flagship alone and cap the dirty list; if
        # even that overflows, say so on stderr so the oversize is
        # attributable instead of silently reproducing the bug.
        q = compact.get("queries") or {}
        compact["queries"] = (
            {"flagship": q["flagship"]} if "flagship" in q else {}
        )
        cert = compact.get("certified")
        if isinstance(cert, dict) and isinstance(cert.get("dirty"), list):
            # The production caller pre-caps the list at 5 names, so a
            # count cap alone was dead code there (ADVICE r17): the
            # REACHABLE overflow shape is 5 *long* names — truncate
            # each name too. The count cap stays for direct callers.
            dirty = cert["dirty"]
            if len(dirty) > 5:
                dirty = dirty[:5] + [f"+{len(dirty) - 5} more"]
            cert["dirty"] = [
                n if len(n) <= 24 else n[:21] + "..." for n in dirty
            ]
        trimmed.append("last_resort")
        compact["trimmed"] = trimmed
        if _size() > COMPACT_LINE_BUDGET:
            print(
                f"bench: compact line still {_size()} chars after "
                f"last-resort shed (budget {COMPACT_LINE_BUDGET})",
                file=sys.stderr,
            )
    return compact


def contamination_verdict(
    load_start: dict,
    load_end: dict,
    per_query_load: dict,
    wall_sec: float,
    ncpu: int,
    bench_threads: int,
    tick_hz: int | None = None,
) -> dict:
    """Cause-coded contamination verdict over a capture's load/steal
    samples — pure (no /proc reads) so tests can replay recorded bands
    against it (VERDICT r13 item 2).

    Cause codes and why each threshold sits where it does:

      load_at_start  — pre-session 1-min loadavg above 25% of the
                       machine (floor 2.0): someone ELSE was running
                       before the bench added its own threads. On a
                       32-CPU box load 2 is ~6% busy, which is noise,
                       so the threshold scales with the machine.
      steal          — session-average hypervisor steal above 1% of
                       machine cycles. History: the original 0.05
                       threshold was proven too loose in r13 — matrix
                       captures at steal 0.012-0.032 self-certified
                       clean while reading ~32-40% slower than the
                       SAME engine code idle (82.31 s at 0.0003,
                       BENCH_IDLE_r13.json, vs 109-121 s in-band).
                       Steal stalls are bursty and the hypervisor's
                       co-tenant pressure throttles more than the
                       steal counter shows, so the ratio is a
                       DETECTOR, not a proportional inflation
                       estimate: the threshold must sit just above
                       idle noise (observed idle: 0.0003-0.002), not
                       at "5% of cycles". 0.01 splits the measured
                       bands with ~5× margin to idle and margin below
                       the contaminated band's floor (0.012).
      steal_burst    — any inter-sample window (start → per-query
                       samples → end) with steal above 5% of that
                       window's cycles: a localized burst a long
                       session's average dilutes below the session
                       threshold still invalidates the queries it
                       landed on.
      load_during_sweep — per-query 1-min loadavg peaking above 1.5×
                       max(bench thread count, CPU count): the bench's
                       own local[N] threads can't get there alone even
                       when N exceeds the machine's CPUs, so a
                       co-tenant arrived mid-run.
    """
    hz = tick_hz if tick_hz is not None else _tick_hz()
    loads = [
        v["load1"] for v in per_query_load.values() if v.get("load1", -1) >= 0
    ]
    s0 = load_start.get("steal_jiffies", -1)
    s1 = load_end.get("steal_jiffies", -1)
    steal_delta = s1 - s0 if s0 >= 0 and s1 >= 0 else -1
    steal_ratio = (
        round(steal_delta / (wall_sec * hz * ncpu), 4)
        if steal_delta >= 0 and wall_sec > 0
        else -1.0
    )
    # Windowed burst scan over the sample chain. Windows shorter than
    # 0.2 s are skipped: at 100 Hz × ncpu the denominator is still
    # hundreds of jiffies so the ratio is meaningful, but below that
    # the /proc read skew dominates.
    window_max = -1.0
    chain = [load_start, *per_query_load.values(), load_end]
    for a, b in zip(chain, chain[1:]):
        ma, mb = a.get("mono", -1.0), b.get("mono", -1.0)
        sa, sb = a.get("steal_jiffies", -1), b.get("steal_jiffies", -1)
        if ma < 0 or mb < 0 or sa < 0 or sb < 0 or mb - ma < 0.2:
            continue
        window_max = max(window_max, (sb - sa) / ((mb - ma) * hz * ncpu))
    if window_max >= 0:
        window_max = round(window_max, 4)
    thresholds = {
        "load_at_start": load_at_start_threshold(ncpu),
        "steal_ratio": 0.01,
        "steal_ratio_window": 0.05,
        "load_during_sweep": round(1.5 * max(bench_threads, ncpu), 1),
    }
    causes = []
    if load_start["loadavg"][0] > thresholds["load_at_start"]:
        causes.append("load_at_start")
    if steal_ratio >= 0 and steal_ratio > thresholds["steal_ratio"]:
        causes.append("steal")
    if window_max >= 0 and window_max > thresholds["steal_ratio_window"]:
        causes.append("steal_burst")
    if loads and max(loads) > thresholds["load_during_sweep"]:
        causes.append("load_during_sweep")
    return {
        "loads": loads,
        "steal_delta": steal_delta,
        "steal_ratio": steal_ratio,
        "steal_ratio_window_max": window_max,
        "thresholds": thresholds,
        "causes": causes,
        "tick_hz": hz,
    }


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
    single JSON line — the isolated series' measurement unit. The line
    carries the timing window's own steal ratio so the isolated series
    is certifiable per number like the session sweep (r15)."""
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = _session(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    import __spark_entry__ as entrymod

    qs = entrymod.queries()
    if name not in qs:
        print(json.dumps({"query": name, "error": "unknown"}))
        return 2
    try:
        s0 = _load_sample()
        sec = _time_one(spark, qs[name], sf_dir)
        s1 = _load_sample()
        ratio = window_steal_ratio(
            {"mono0": s0["mono"], "steal0": s0["steal_jiffies"],
             "mono1": s1["mono"], "steal1": s1["steal_jiffies"]},
            _tick_hz(), _proc_cpus(),
        )
        print(json.dumps({
            "query": name,
            "sec": round(sec, 3),
            "steal_ratio": round(ratio, 4) if ratio >= 0 else -1.0,
        }))
        return 0
    except Exception as e:  # noqa: BLE001
        print(json.dumps({"query": name, "error": f"{type(e).__name__}: {e}"[:200]}))
        return 1


def isolated_series(
    names: list[str], budget_sec: float = 360.0
) -> tuple[dict[str, float], dict[str, float]]:
    """Fresh-subprocess min-of-2 per query. ~20 s JVM+warm-up cost per
    entry, so callers pass a small set (the slowest in-session ones).
    ``budget_sec`` caps the WHOLE series — per-query timeouts alone
    would let 10 pathological entries cost 30 min of driver bench
    time; when the budget runs out the remaining queries are skipped
    (the series is advisory, the session sweep is the record).
    Returns (timings, per-query window steal ratios) — the second map
    lets a reader certify each isolated number like the session sweep.
    A DIRTY isolated window gets ONE retry into a clean gap (budget
    permitting), mirroring the session sweep's splice: the r15 idle
    twin recorded dedup_report at 11.99 s isolated vs 2.13 s
    in-session — same code, a steal burst landing on the one
    subprocess — and without the per-run ratio (not recorded pre-r15)
    the number read as a 4× plan regression (VERDICT r15 item 5). The
    cleaner of the two runs is kept; a still-dirty number stays
    reported with its ratio, never hidden."""
    import subprocess

    def _run_one(name: str, remaining: float) -> dict:
        proc = subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--one", name],
            capture_output=True,
            text=True,
            timeout=min(180, max(30, remaining)),
        )
        line = (
            proc.stdout.strip().splitlines()[-1]
            if proc.stdout.strip() else "{}"
        )
        return json.loads(line)

    out: dict[str, float] = {}
    steal: dict[str, float] = {}
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
            rec = _run_one(name, remaining)
            ratio = rec.get("steal_ratio", -1.0)
            remaining = budget_sec - (time.perf_counter() - t_start)
            if (
                "sec" in rec
                and ratio > PER_QUERY_STEAL_GATE
                and remaining > 45
            ):
                print(
                    f"bench isolated: {name} window steal {ratio:.4f} > "
                    f"{PER_QUERY_STEAL_GATE}, retrying in a clean gap",
                    file=sys.stderr,
                )
                wait_clean_window(min(60.0, remaining), probe_sec=2.0)
                # The retry gets its OWN failure domain (ADVICE r16):
                # a TimeoutExpired/JSON error on the retry must fall
                # back to the first run's valid (dirty) record, never
                # discard it — 'a still-dirty number stays reported'.
                try:
                    retry = _run_one(
                        name, budget_sec - (time.perf_counter() - t_start)
                    )
                except Exception as e:  # noqa: BLE001 — advisory series
                    print(
                        f"bench isolated: retry failed for {name}: {e}; "
                        "keeping first run",
                        file=sys.stderr,
                    )
                    retry = {}
                # Keep the certified-cleaner run: a clean retry
                # replaces; a dirty retry only replaces if faster AND
                # its window steal was MEASURED (ADVICE r16: an
                # unmeasurable -1.0 retry silently downgraded a named
                # dirty record to 'unknown' — min-of-N only holds
                # under equal dirt).
                r2 = retry.get("steal_ratio", -1.0)
                if "sec" in retry and (
                    0 <= r2 <= PER_QUERY_STEAL_GATE
                    or (r2 >= 0 and retry["sec"] < rec["sec"])
                ):
                    rec = retry
            if "sec" in rec:
                out[name] = rec["sec"]
                if "steal_ratio" in rec:
                    steal[name] = rec["steal_ratio"]
        except Exception as e:  # noqa: BLE001 — isolated series is advisory
            print(f"bench isolated error in {name}: {e}", file=sys.stderr)
    return out, steal


def main() -> int:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else -1.0

    # --wait-clean (VERDICT r14 item 1): delay the sweep start into a
    # steal-free gap instead of launching into the band and re-timing
    # half the queries afterwards. Opt-in (flag or env) so ad-hoc runs
    # stay instant; the matrix bench leg passes the flag.
    wait_info: dict | None = None
    if "--wait-clean" in sys.argv or os.environ.get(
        "SPARK_GRAFT_WAIT_CLEAN"
    ) == "1":
        budget = float(os.environ.get("SPARK_GRAFT_WAIT_CLEAN_SEC", "900"))
        wait_info = wait_clean_window(budget)
        if not wait_info["clean"]:
            print(
                f"bench wait-clean: budget spent, starting anyway "
                f"(last steal {wait_info['final_ratio']})",
                file=sys.stderr,
            )

    # Load self-diagnosis (VERDICT r8 item 3): the r8 driver capture
    # read 116.6 s vs an 86.4 s idle re-run, and nothing in the
    # artifact could tell a reader the machine was busy — a full judge
    # re-run was burned proving it. The PRE-SESSION loadavg is the
    # clean external-load signal (sampled before Spark spins up its 32
    # threads); per-query samples are confounded by the bench's own
    # work but still localize WHEN contamination arrived.
    load_start = _load_sample()
    t_session0 = time.perf_counter()
    per_query_load: dict[str, dict] = {}

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
    # Each query's reported number carries its own TIMING WINDOW
    # (pre-sample → post-sample around _time_one) so it can be
    # individually steal-certified; dirty windows are re-timed after
    # the sweep and the clean capture spliced in (VERDICT r14 item 1 —
    # the band ate two rounds' bench legs; a session-average verdict
    # cannot say WHICH numbers a burst hit).
    timings: dict[str, float] = {}
    errors: dict[str, str] = {}
    query_windows: dict[str, dict] = {}
    for name, fn in bench_queries.items():
        s0 = _load_sample()
        try:
            timings[name] = round(_time_one(spark, fn, sf_dir), 3)
        except Exception as e:  # noqa: BLE001
            print(f"bench error in {name}: {type(e).__name__}: {e}", file=sys.stderr)
            timings[name] = -1.0
            errors[name] = f"{type(e).__name__}: {e}"[:300]
        s = _load_sample()
        per_query_load[name] = {
            "ts": s["ts"],
            "mono": s["mono"],
            "load1": s["loadavg"][0],
            "steal_jiffies": s["steal_jiffies"],
        }
        query_windows[name] = {
            "mono0": s0["mono"], "steal0": s0["steal_jiffies"],
            "mono1": s["mono"], "steal1": s["steal_jiffies"],
            "load1": s["loadavg"][0], "retries": 0,
        }

    # Post-sweep splice pass: re-time every query whose window read
    # dirty, waiting for a clean gap between attempts (the band is
    # bursty). Budget-bounded; a query that never gets a clean window
    # keeps its last measurement and stays on the dirty list — the
    # verdict reports it, never hides it.
    hz = _tick_hz()
    ncpu = _proc_cpus()
    requeried = splice_dirty(
        timings,
        query_windows,
        lambda name: _time_one(spark, bench_queries[name], sf_dir),
        hz,
        ncpu,
        budget_sec=float(os.environ.get("SPARK_GRAFT_RETIME_SEC", "600")),
    )

    ok = {k: v for k, v in timings.items() if v >= 0}
    # Mid-point sample: end of the QUERY sweep. The final sample (and
    # the session steal/contamination verdict) is taken only after the
    # isolated series and the ingest drain below — those are exactly
    # the phases a mid-run steal burst would otherwise hit UNRECORDED
    # while "end" read clean.
    load_after_queries = _load_sample()
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
        out["isolated"], out["isolated_steal"] = isolated_series(
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
        # drain, a forced collection, then best-of-2 reports
        # steady-state throughput — the number that amortizes at
        # production scale, same rationale as the query min-of-2.
        # Each timed drain carries its own steal window; if neither of
        # the first two is clean, up to two more attempts wait for a
        # clean gap — the reported number is the best CLEAN drain,
        # falling back to best-of-all (flagged dirty) only when the
        # band never lifts.
        drain("w")
        best = None
        best_w: dict | None = None
        for i, tag in enumerate(("a", "b", "c", "d")):
            if i >= 2:
                if best_w is not None and window_clean(best_w, hz, ncpu):
                    break
                wait_clean_window(60.0, probe_sec=2.0)
            spark._jvm.System.gc()
            s0 = _load_sample()
            dt = drain(tag)
            s1 = _load_sample()
            w = {
                "mono0": s0["mono"], "steal0": s0["steal_jiffies"],
                "mono1": s1["mono"], "steal1": s1["steal_jiffies"],
                "load1": s1["loadavg"][0], "retries": max(0, i - 1),
            }
            clean = window_clean(w, hz, ncpu)
            best_clean = best_w is not None and window_clean(
                best_w, hz, ncpu
            )
            # A clean drain always beats a dirty one; among equals,
            # faster wins (min-of-N).
            if (
                best is None
                or (clean and not best_clean)
                or (clean == best_clean and dt < best)
            ):
                best, best_w = dt, w
        out["streaming_ingest_events_per_sec"] = round(n / best)
        if best_w is not None:
            query_windows["__ingest__"] = best_w
        shutil.rmtree(tmp, ignore_errors=True)
    except Exception as e:  # noqa: BLE001
        print(f"bench ingest error: {type(e).__name__}: {e}", file=sys.stderr)

    # FINAL load/steal sample — after the isolated series and ingest
    # drain, so the self-diagnosis covers the WHOLE artifact, not just
    # the query sweep.
    load_end = _load_sample()
    wall_sec = time.perf_counter() - t_session0
    # Steal as a fraction of the machine's total cycles over the
    # session (the /proc/stat cpu line aggregates all CPUs at ~100 Hz
    # each): loadavg is BLIND to hypervisor steal — the measured cause
    # of the 2× spread on sustained all-core runs (SCALE_PROBE_r9.json
    # records 53-123 s for the same x256 kernel across sessions) — so
    # the contamination verdict must look at both signals.
    ncpu = _proc_cpus()
    # The bench's own worker count comes from SPARK_GRAFT_CPUS (local[N]),
    # not from the machine: on a box with fewer CPUs than N, the bench's
    # own threads alone can push load1 past a machine-sized threshold and
    # false-flag the verdict (ADVICE r10) — so the sweep threshold scales
    # with whichever is larger, and both counts are recorded.
    try:
        bench_threads = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    except ValueError:
        bench_threads = 32
    # Two verdicts, one headline (VERDICT r14 item 1):
    #   - contamination_verdict() — the SESSION detector (average +
    #     burst over the whole artifact), kept raw for transparency
    #     and for re-certifying historical captures;
    #   - splice_verdict() — the PER-NUMBER certification: every
    #     reported timing's own (post-splice) window must be clean.
    # The headline `contaminated` flag is the splice verdict: steal
    # landing between timing windows inflates the session average
    # without touching any reported number — the exact false-positive
    # shape that ate the r13/r14 bench legs.
    verdict = contamination_verdict(
        load_start, load_end, per_query_load, wall_sec, ncpu, bench_threads
    )
    spliced = splice_verdict(
        load_start, query_windows, ncpu, bench_threads, timings=timings
    )
    loads = verdict["loads"]
    steal_delta = verdict["steal_delta"]
    steal_ratio = verdict["steal_ratio"]
    thresholds = verdict["thresholds"]
    causes = verdict["causes"]
    load_summary = {
        "start": load_start["loadavg"][0],
        "end": load_end["loadavg"][0],
        "max": max(loads) if loads else -1.0,
        "mean": round(sum(loads) / len(loads), 2) if loads else -1.0,
        "wall_sec": round(wall_sec, 1),
        # Hypervisor steal in jiffies (≈10 ms units, summed over CPUs)
        # across the whole artifact, plus the same split at the end of
        # the query sweep so a burst localizes to query-sweep vs
        # isolated/ingest phases.
        "steal_jiffies_session": steal_delta,
        "steal_jiffies_query_sweep": (
            load_after_queries["steal_jiffies"] - load_start["steal_jiffies"]
            if load_after_queries["steal_jiffies"] >= 0
            and load_start["steal_jiffies"] >= 0
            else -1
        ),
        "steal_ratio": steal_ratio,
        "steal_ratio_window_max": verdict["steal_ratio_window_max"],
        # Headline verdict = per-number splice certification; the raw
        # session detector rides alongside so a reader sees BOTH (a
        # spliced-clean capture on a steal-band machine reads
        # contaminated:false + session_contaminated:true — every
        # number certified, machine busy between windows).
        "contaminated": spliced["contaminated"],
        "contamination_causes": spliced["causes"],
        "contamination_thresholds": {
            **thresholds, **spliced["thresholds"],
        },
        "session_contaminated": bool(causes),
        "session_causes": causes,
        "dirty_queries": spliced["dirty"],
        "requeried": {
            n: r["attempts"] for n, r in requeried.items()
        },
        "ncpu": ncpu,
        "bench_threads": bench_threads,
        "tick_hz": verdict["tick_hz"],
    }
    out["load"] = {
        "start": load_start,
        "after_query_sweep": load_after_queries,
        "end": load_end,
        "summary": load_summary,
        "per_query": per_query_load,
        # Final (post-splice) timing windows + their steal ratios so a
        # judge can audit every number's certification, plus the full
        # re-time record.
        "query_windows": query_windows,
        "window_ratios": spliced["window_ratios"],
        "requeried": requeried,
    }
    if wait_info is not None:
        out["load"]["wait_clean"] = wait_info

    # The driver captures only the TAIL (~2000 chars) of stdout: a
    # 127-entry "queries" map made every prior round's line unparseable
    # ("parsed": null in BENCH_r1-r3), and the r15 line regressed the
    # same way when the full load summary + isolated maps pushed it to
    # 2349 chars ("parsed": null in BENCH_r15 — the round's trend row
    # was lost). The complete per-query map is written to
    # BENCH_FULL.json at the repo root; stdout carries ONE compact JSON
    # line that is HARD-CAPPED below the capture window (see
    # _fit_compact): "queries" trimmed to the flagship plus the slowest
    # entries, the load story cut to the fields the trend/verdict read,
    # and overflow shed in a fixed order with a "trimmed" marker.
    try:
        repo_root = os.path.dirname(os.path.abspath(__file__))
        with open(os.path.join(repo_root, "BENCH_FULL.json"), "w") as f:
            json.dump(out, f, indent=1, sort_keys=True)
    except OSError as e:  # never let the artifact write fail the bench
        print(f"bench: BENCH_FULL.json write failed: {e}", file=sys.stderr)

    slowest = sorted(ok, key=ok.get, reverse=True)[:20]
    head = {n: timings[n] for n in slowest}
    if "flagship" in timings:
        head["flagship"] = timings["flagship"]
    # Stdout load story: ONLY the fields bench_trend/_capture_summary
    # and the verdict read. The full summary (per-query requeried map,
    # thresholds, jiffy splits — 850+ chars) lives in BENCH_FULL.json;
    # inlining it is what truncated the r15 driver capture.
    load_compact = {
        "start": load_summary["start"],
        "max": load_summary["max"],
        "wall_sec": load_summary["wall_sec"],
        "steal_ratio": load_summary["steal_ratio"],
        "contaminated": load_summary["contaminated"],
        "contamination_causes": load_summary["contamination_causes"],
        "session_contaminated": load_summary["session_contaminated"],
        "session_causes": load_summary["session_causes"],
    }
    compact = {
        "metric": out["metric"],
        "value": out["value"],
        "unit": "sec",
        "queries": head,
        "sf": sf,
        "n_queries": len(timings),
        "n_errors": len(errors),
        "sub_second": sum(1 for v in ok.values() if v < 1.0),
        "loadavg": load_compact,
        "certified": {
            # all_clean requires every reported window MEASURED clean:
            # an unmeasurable window (ratio -1.0) is not a certificate,
            # so unknowns block the flag (ADVICE r15) — surfaced as a
            # count so bench_trend's spliced-clean promotion can't ride
            # on unmeasured windows.
            "all_clean": not spliced["dirty"] and not spliced["unknown"],
            "dirty": spliced["dirty"][:5],
            "unknown": len(spliced["unknown"]),
            "requeried": len(requeried),
            "gate": PER_QUERY_STEAL_GATE,
        },
        "full": "BENCH_FULL.json",
    }
    if "streaming_ingest_events_per_sec" in out:
        compact["streaming_ingest_events_per_sec"] = out[
            "streaming_ingest_events_per_sec"
        ]
    if out.get("isolated"):
        compact["isolated"] = out["isolated"]
        iso_steal = out.get("isolated_steal", {})
        # Per-run isolated steal stays in BENCH_FULL; stdout carries
        # the max and the dirty names — enough to certify the series.
        measured = [r for r in iso_steal.values() if r >= 0]
        compact["isolated_steal"] = {
            "max": max(measured) if measured else -1.0,
            "dirty": sorted(
                n for n, r in iso_steal.items()
                if r > PER_QUERY_STEAL_GATE
            ),
            "unknown": sum(1 for r in iso_steal.values() if r < 0),
        }
    if errors:
        compact["errors"] = {
            k: v[:80] for k, v in list(errors.items())[:3]
        }
    compact = _fit_compact(compact)

    # Always rc:0 with parseable JSON — a broken query is reported in
    # "errors"/-1.0 timings, never by failing the whole harness (the
    # driver records nothing from a nonzero exit).
    print(json.dumps(compact))
    return 0


if __name__ == "__main__":
    if len(sys.argv) >= 3 and sys.argv[1] == "--one":
        raise SystemExit(one_query(sys.argv[2]))
    raise SystemExit(main())
