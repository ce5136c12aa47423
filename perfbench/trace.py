"""Per-layer measurement from outside the program.

Three sources, all recorded by the benchmark:

- spans: the benchmark's own timings around each public call (name,
  start, end, parent, unit id), kept in memory and written at the end;
- Spark's event log (uncompressed, not rolling): jobs, stages, tasks and
  SQL executions, with task metrics and SQL metric accumulables;
- streaming progress from a ``StreamingQueryListener``.

Jobs are attributed to a unit by wall-clock window (the job's submission
time falls inside the unit's span), not by job group: micro-batch jobs
run on the stream thread and do not inherit the caller's job group.
"""

from __future__ import annotations

import json
import statistics
import time
from dataclasses import asdict, dataclass, field
from datetime import datetime

# The per-layer metrics and their units, in the order they are reported.
# Each is the mean over the units of one traced timed window.
LAYER_METRICS: dict[str, str] = {
    # iotstream.streaming: micro-batches and the empty watermark batch
    "streaming.batches": "count",
    "streaming.empty_batches": "count",
    "streaming.empty_batch_ratio": "ratio",
    "streaming.trigger_ms": "ms",
    # state store (iotstream.streaming, .joins, .stateful, ext.sessions)
    "streaming.state_update_ms": "ms",
    "streaming.state_commit_ms": "ms",
    "streaming.state_rows": "count",
    "streaming.state_memory_bytes": "bytes",
    "streaming.state_instances": "count",
    "streaming.late_dropped_rows": "count",
    # iotstream.pipeline per-call fixed cost
    "pipeline.call_s": "s",
    "pipeline.start_s": "s",
    "streaming.walCommit_ms": "ms",
    "streaming.commitOffsets_ms": "ms",
    "streaming.latestOffset_ms": "ms",
    "streaming.queryPlanning_ms": "ms",
    # iotstream.sinks
    "streaming.addBatch_ms": "ms",
    "sinks.records_written": "count",
    "sinks.bytes_written": "bytes",
    "sinks.files_written": "count",
    "exec.busy_ratio": "ratio",
    # __spark_entry__ query functions and ext.* driver-side work
    "entry.build_s": "s",
    "entry.exec_s": "s",
    "entry.eager_jobs": "count",
    # Python workers and driver collects
    "exec.python_bytes_sent": "bytes",
    "exec.python_bytes_received": "bytes",
    "exec.result_bytes": "bytes",
    # shuffle and tasks
    "exec.shuffle_write_bytes": "bytes",
    "exec.shuffle_read_bytes": "bytes",
    "exec.shuffle_fetch_wait_s": "s",
    "exec.spill_bytes": "bytes",
    "exec.stages": "count",
    "exec.task_run_s": "s",
    "exec.task_cpu_s": "s",
    "exec.task_skew": "ratio",
    # Catalyst planning and per-task overhead
    "plan.s": "s",
    "exec.jobs": "count",
    "exec.tasks": "count",
    "exec.task_deser_s": "s",
    # sources and fixture scans
    "sources.records_read": "count",
    "sources.bytes_read": "bytes",
    # every layer
    "exec.gc_s": "s",
    "exec.failed_tasks": "count",
    # the tracing itself: traced pass time, and its excess over the
    # untraced pass time of the same run
    "trace.wall_s": "s",
    "trace.overhead_s": "s",
}
#: The metrics measured per unit (the trace.* ones are per run).
UNIT_METRICS = [n for n in LAYER_METRICS if not n.startswith("trace.")]


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    unit: int | None


@dataclass
class Spans:
    """Spans kept in memory; ``begin`` returns an id that ``end`` closes."""

    spans: list[Span] = field(default_factory=list)

    def begin(self, name: str, parent: int | None = None, unit: int | None = None) -> int:
        self.spans.append(Span(name, time.time(), 0.0, parent, unit))
        return len(self.spans) - 1

    def end(self, sid: int) -> float:
        span = self.spans[sid]
        span.end = time.time()
        return span.end - span.start

    def dump(self, path: str) -> None:
        with open(path, "w", encoding="utf-8") as fh:
            json.dump([asdict(s) for s in self.spans], fh)

    @classmethod
    def load(cls, path: str) -> "Spans":
        with open(path, encoding="utf-8") as fh:
            return cls([Span(**s) for s in json.load(fh)])

    def self_times(self, first: int = 0) -> dict[str, float]:
        """Total self time per span name, over the spans from index
        ``first`` on: a span's duration minus the part its children cover."""
        child_time = [0.0] * len(self.spans)
        for s in self.spans:
            if s.parent is not None:
                child_time[s.parent] += s.end - s.start
        out: dict[str, float] = {}
        for s, c in zip(self.spans[first:], child_time[first:]):
            out[s.name] = out.get(s.name, 0.0) + (s.end - s.start) - c
        return out


def progress_listener(sink: list):
    """A ``StreamingQueryListener`` that appends each progress, as a dict,
    to ``sink``. Imported lazily: it needs a running PySpark."""
    from pyspark.sql.streaming import StreamingQueryListener

    class _Progress(StreamingQueryListener):
        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            sink.append(json.loads(event.progress.json))

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    return _Progress()


def _epoch(iso: str) -> float:
    return datetime.fromisoformat(iso.replace("Z", "+00:00")).timestamp()


@dataclass
class EventLog:
    """The parts of one Spark event log the layer table needs."""

    jobs: dict[int, dict] = field(default_factory=dict)  # id -> submission time, SQL execution
    stage_job: dict[int, int] = field(default_factory=dict)
    tasks: list[dict] = field(default_factory=list)
    sql_start: dict[int, float] = field(default_factory=dict)
    sql_files: dict[int, int] = field(default_factory=dict)  # files written per SQL execution
    progress: list[dict] = field(default_factory=list)

    @classmethod
    def parse(cls, lines) -> "EventLog":
        log = cls()
        files_acc: set[int] = set()  # accumulator ids of "number of written files"
        for line in lines:
            if not line.strip():
                continue
            ev = json.loads(line)
            kind = ev.get("Event", "")
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                sql = props.get("spark.sql.execution.id")
                log.jobs[ev["Job ID"]] = {
                    "start": ev["Submission Time"] / 1000,
                    "sql": int(sql) if sql is not None else None,
                }
                for sid in ev["Stage IDs"]:
                    log.stage_job[sid] = ev["Job ID"]
            elif kind == "SparkListenerTaskEnd":
                log.tasks.append(_task(ev))
            elif kind.endswith("SparkListenerSQLExecutionStart"):
                log.sql_start[ev["executionId"]] = ev["time"] / 1000
                files_acc |= _metric_ids(ev["sparkPlanInfo"], _FILES)
            elif kind.endswith("SparkListenerSQLAdaptiveExecutionUpdate"):
                files_acc |= _metric_ids(ev["sparkPlanInfo"], _FILES)
            elif kind.endswith("SparkListenerDriverAccumUpdates"):
                n = sum(v for a, v in ev["accumUpdates"] if a in files_acc)
                log.sql_files[ev["executionId"]] = log.sql_files.get(ev["executionId"], 0) + n
            elif kind.endswith("StreamingQueryListener$QueryProgressEvent"):
                log.progress.append(ev["progress"])
        return log

    @classmethod
    def read(cls, path: str) -> "EventLog":
        with open(path, encoding="utf-8") as fh:
            return cls.parse(fh)


_PY_SENT = "data sent to Python workers"
_PY_RECV = "data returned from Python workers"
_FILES = "number of written files"


def _metric_ids(plan: dict, name: str) -> set[int]:
    """Accumulator ids of the SQL metric ``name`` anywhere in a plan tree."""
    ids = {m["accumulatorId"] for m in plan.get("metrics", []) if m["name"] == name}
    for child in plan.get("children", []):
        ids |= _metric_ids(child, name)
    return ids


def _task(ev: dict) -> dict:
    m = ev.get("Task Metrics") or {}
    info = ev["Task Info"]
    acc = {
        a.get("Name"): a.get("Update")
        for a in info.get("Accumulables", [])
        if a.get("Name") in (_PY_SENT, _PY_RECV)
    }
    sr = m.get("Shuffle Read Metrics") or {}
    sw = m.get("Shuffle Write Metrics") or {}
    inp = m.get("Input Metrics") or {}
    out = m.get("Output Metrics") or {}
    return {
        "stage": ev["Stage ID"],
        "failed": bool(info.get("Failed")),
        "run_ms": m.get("Executor Run Time", 0),
        "cpu_ns": m.get("Executor CPU Time", 0),
        "deser_ms": m.get("Executor Deserialize Time", 0),
        "gc_ms": m.get("JVM GC Time", 0),
        "result_bytes": m.get("Result Size", 0),
        "spill_bytes": m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0),
        "shuffle_read": sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0),
        "fetch_wait_ms": sr.get("Fetch Wait Time", 0),
        "shuffle_write": sw.get("Shuffle Bytes Written", 0),
        "records_read": inp.get("Records Read", 0),
        "bytes_read": inp.get("Bytes Read", 0),
        "records_written": out.get("Records Written", 0),
        "bytes_written": out.get("Bytes Written", 0),
        "py_sent": int(acc.get(_PY_SENT) or 0),
        "py_recv": int(acc.get(_PY_RECV) or 0),
    }


def unit_table(spans: Spans, log: EventLog, progress: list[dict], cores: int) -> list[dict]:
    """One row of layer numbers per unit span (spans named ``unit``).

    ``progress`` is the listener's record; the event log's own progress
    events are used when the listener recorded none.
    """
    units = [(i, s) for i, s in enumerate(spans.spans) if s.name == "unit"]
    children: dict[int, dict[str, Span]] = {i: {} for i, _ in units}
    for s in spans.spans:
        if s.parent in children:
            children[s.parent][s.name] = s

    def owner(t: float) -> int | None:
        for i, s in units:
            if s.start <= t <= s.end:
                return i
        return None

    job_unit = {j: owner(info["start"]) for j, info in log.jobs.items()}
    stage_tasks: dict[int, list[dict]] = {}
    for t in log.tasks:
        stage_tasks.setdefault(t["stage"], []).append(t)
    batches: dict[int, list[dict]] = {i: [] for i, _ in units}
    for p in progress or log.progress:
        u = owner(_epoch(p["timestamp"]))
        if u is not None:
            batches[u].append(p)

    rows = []
    for i, s in units:
        wall = s.end - s.start
        kids = children[i]
        jobs = {j for j, u in job_unit.items() if u == i}
        stages = [sid for sid, j in log.stage_job.items() if j in jobs and sid in stage_tasks]
        tasks = [t for sid in stages for t in stage_tasks[sid]]
        row = dict.fromkeys(UNIT_METRICS, 0.0)
        row["unit"] = s.unit
        row["wall_s"] = wall
        _streaming(row, batches[i], s.start)
        for name, key in (("pipeline.call_s", "pipeline.call"), ("entry.build_s", "entry.build"),
                          ("entry.exec_s", "entry.exec")):
            if key in kids:
                row[name] = kids[key].end - kids[key].start
        build = kids.get("entry.build")
        if build is not None:
            row["entry.eager_jobs"] = sum(
                1 for j in jobs if build.start <= log.jobs[j]["start"] <= build.end
            )
        row["sinks.files_written"] = sum(
            n for q, n in log.sql_files.items() if owner(log.sql_start.get(q, 0.0)) == i
        )
        sqls = {log.jobs[j]["sql"] for j in jobs if log.jobs[j]["sql"] in log.sql_start}
        for q in sqls:
            first = min(log.jobs[j]["start"] for j in jobs if log.jobs[j]["sql"] == q)
            row["plan.s"] += max(0.0, first - log.sql_start[q])
        row["exec.jobs"] = len(jobs)
        row["exec.stages"] = len(stages)
        row["exec.tasks"] = len(tasks)
        for name, key, scale in (
            ("sinks.records_written", "records_written", 1),
            ("sinks.bytes_written", "bytes_written", 1),
            ("exec.python_bytes_sent", "py_sent", 1),
            ("exec.python_bytes_received", "py_recv", 1),
            ("exec.result_bytes", "result_bytes", 1),
            ("exec.shuffle_write_bytes", "shuffle_write", 1),
            ("exec.shuffle_read_bytes", "shuffle_read", 1),
            ("exec.shuffle_fetch_wait_s", "fetch_wait_ms", 1e-3),
            ("exec.spill_bytes", "spill_bytes", 1),
            ("exec.task_run_s", "run_ms", 1e-3),
            ("exec.task_cpu_s", "cpu_ns", 1e-9),
            ("exec.task_deser_s", "deser_ms", 1e-3),
            ("sources.records_read", "records_read", 1),
            ("sources.bytes_read", "bytes_read", 1),
            ("exec.gc_s", "gc_ms", 1e-3),
            ("exec.failed_tasks", "failed", 1),
        ):
            row[name] = sum(t[key] for t in tasks) * scale
        row["exec.busy_ratio"] = row["exec.task_run_s"] / (wall * cores) if wall > 0 else 0.0
        skews = []
        for sid in stages:
            runs = [t["run_ms"] for t in stage_tasks[sid]]
            med = statistics.median(runs)
            if len(runs) > 1 and med > 0:
                skews.append(max(runs) / med)
        row["exec.task_skew"] = max(skews) if skews else 0.0
        rows.append(row)
    return rows


def _input_rows(progress: dict) -> int:
    """Rows a micro-batch read. The event log's copy of a progress omits
    the top-level total, so it is summed over the sources."""
    if "numInputRows" in progress:
        return progress["numInputRows"]
    return sum(s.get("numInputRows", 0) for s in progress.get("sources", []))


def _streaming(row: dict, batches: list[dict], unit_start: float) -> None:
    if not batches:
        return
    row["streaming.batches"] = len(batches)
    row["streaming.empty_batches"] = sum(1 for b in batches if _input_rows(b) == 0)
    row["streaming.empty_batch_ratio"] = row["streaming.empty_batches"] / len(batches)
    row["pipeline.start_s"] = min(_epoch(b["timestamp"]) for b in batches) - unit_start
    for b in batches:
        d = b.get("durationMs") or {}
        row["streaming.trigger_ms"] += d.get("triggerExecution", 0)
        for phase in ("walCommit", "commitOffsets", "latestOffset", "queryPlanning", "addBatch"):
            row[f"streaming.{phase}_ms"] += d.get(phase, 0)
        for op in b.get("stateOperators") or []:
            row["streaming.state_update_ms"] += op.get("allUpdatesTimeMs", 0)
            row["streaming.state_commit_ms"] += op.get("commitTimeMs", 0)
            row["streaming.late_dropped_rows"] += op.get("numRowsDroppedByWatermark", 0)
    last = max(batches, key=lambda b: _epoch(b["timestamp"]))
    for op in last.get("stateOperators") or []:
        row["streaming.state_rows"] += op.get("numRowsTotal", 0)
        row["streaming.state_memory_bytes"] += op.get("memoryUsedBytes", 0)
        row["streaming.state_instances"] += op.get("numStateStoreInstances", 0)


def layer_means(rows: list[dict]) -> dict[str, float]:
    """Mean of each per-unit metric over the unit rows."""
    if not rows:
        return dict.fromkeys(UNIT_METRICS, 0.0)
    return {n: sum(r[n] for r in rows) / len(rows) for n in UNIT_METRICS}
