"""Per-layer tracing for the benchmark's traced run.

Nothing here changes the program under test.  Three sources feed the layer
metrics:

* ``Spans`` wraps public functions of the package's modules by replacing the
  module attribute (callers that look the function up through the module at
  call time, as the pipeline and the snapshot helpers do, reach the wrapper).
  Each call is one span: layer name, start, end, and the operation it ran in.
* ``StreamProbe`` is a ``StreamingQueryListener``.  Micro-batches run on
  stream threads that do not carry the operation's job group, so streaming
  work is attributed by the listener's progress events and by time window.
* ``EventLog`` parses Spark's own event log (enabled by the benchmark's
  session conf) into jobs, stages and task metrics.  A job belongs to the
  operation whose job group it carries or, failing that, to the operation
  whose time window contains its submission.
"""

from __future__ import annotations

import functools
import glob
import json
import os
import re
import statistics
import time
from dataclasses import dataclass, field
from datetime import datetime

from pyspark.sql.streaming import StreamingQueryListener

# (module, attribute, span name) — the public functions timed in the traced run
WRAPPED = (
    ("airflow_cms_inpatient_etl_spark.session", "get_spark", "session.get_spark"),
    ("airflow_cms_inpatient_etl_spark.sources.files", "read_csv_projected", "sources.files.read_csv_projected"),
    ("airflow_cms_inpatient_etl_spark.sources.files", "write_table", "sources.files.write_table"),
    ("airflow_cms_inpatient_etl_spark.plans.dq", "assert_non_empty", "plans.dq.assert_non_empty"),
    ("airflow_cms_inpatient_etl_spark.plans.dq", "assert_unique_key", "plans.dq.assert_unique_key"),
    ("airflow_cms_inpatient_etl_spark.sources.registry", "tracked_localcheckpoint", "sources.registry.checkpoint"),
    ("airflow_cms_inpatient_etl_spark.sources.registry", "release_snapshots", "sources.registry.release"),
)


@dataclass
class Span:
    name: str
    start: float  # epoch seconds
    end: float
    op: int | None  # index of the operation sample it ran in
    bytes_written: int = 0


def _dir_bytes(path: str) -> int:
    total = 0
    for dirpath, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(dirpath, f)) for f in files)
    return total


class Spans:
    """Module-attribute wrappers; ``install`` patches, ``uninstall`` restores."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self.current_op: int | None = None
        self._saved: list[tuple[object, str, object]] = []

    def _wrap(self, fn, name: str):
        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            start = time.time()
            try:
                return fn(*args, **kwargs)
            finally:
                span = Span(name, start, time.time(), self.current_op)
                if name == "sources.files.write_table":
                    path = kwargs.get("path", args[1] if len(args) > 1 else None)
                    span.bytes_written = _dir_bytes(path) if path else 0
                self.spans.append(span)

        return wrapper

    def install(self) -> None:
        import importlib

        for mod_name, attr, name in WRAPPED:
            mod = importlib.import_module(mod_name)
            fn = getattr(mod, attr)
            self._saved.append((mod, attr, fn))
            setattr(mod, attr, self._wrap(fn, name))

    def uninstall(self) -> None:
        for mod, attr, fn in reversed(self._saved):
            setattr(mod, attr, fn)
        self._saved.clear()


def _iso_epoch(ts: str) -> float:
    return datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp()


class StreamProbe(StreamingQueryListener):
    """Collects query starts and micro-batch progress, with JVM timestamps."""

    def __init__(self) -> None:
        self.started: dict[str, float] = {}  # query id -> start epoch s
        self.batches: list[tuple[str, float, float]] = []  # (id, trigger start, trigger s)

    def onQueryStarted(self, event) -> None:
        self.started[str(event.id)] = _iso_epoch(event.timestamp)

    def onQueryProgress(self, event) -> None:
        p = event.progress
        trigger_s = (p.durationMs or {}).get("triggerExecution", 0) / 1000
        self.batches.append((str(p.id), _iso_epoch(p.timestamp), trigger_s))

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        pass


@dataclass
class OpWindow:
    """One timed operation: its index, query name, job group and wall window."""

    index: int
    name: str
    group: str
    start: float
    end: float
    pass_no: int
    build_s: float = 0.0
    action_s: float = 0.0
    build_jobs: int = 0
    jobs: list[int] = field(default_factory=list)


class EventLog:
    """Jobs, stages and task metrics from an uncompressed Spark event log."""

    def __init__(self, log_dir: str) -> None:
        self.jobs: dict[int, dict] = {}
        self.stage_job: dict[int, int] = {}
        self.tasks: list[dict] = []  # {stage, launch, finish, metrics}
        paths = [p for p in glob.glob(os.path.join(log_dir, "**", "*"), recursive=True) if os.path.isfile(p)]
        # rolled logs are events_<n>_<app>: read them in numeric order
        for path in sorted(paths, key=lambda p: [int(t) if t.isdigit() else t for t in re.split(r"(\d+)", p)]):
            self._read(path)

    def _read(self, path: str) -> None:
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    jid = ev["Job ID"]
                    self.jobs[jid] = {
                        "submit": ev["Submission Time"] / 1000,
                        "end": None,
                        "group": (ev.get("Properties") or {}).get("spark.jobGroup.id"),
                        "stages": ev["Stage IDs"],
                    }
                    for sid in ev["Stage IDs"]:
                        self.stage_job.setdefault(sid, jid)
                elif kind == "SparkListenerJobEnd":
                    self.jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1000
                elif kind == "SparkListenerTaskEnd" and ev.get("Task Metrics"):
                    info = ev["Task Info"]
                    self.tasks.append(
                        {
                            "stage": ev["Stage ID"],
                            "launch": info["Launch Time"] / 1000,
                            "finish": info["Finish Time"] / 1000,
                            "getting_result": info.get("Getting Result Time", 0) / 1000,
                            "m": ev["Task Metrics"],
                        }
                    )

    def attribute(self, ops: list[OpWindow]) -> None:
        """Give every job to an operation: by job group, else by time window."""
        by_group = {op.group: op for op in ops}
        for jid, job in sorted(self.jobs.items()):
            op = by_group.get(job["group"])
            if op is None:
                op = next((o for o in ops if o.start <= job["submit"] <= o.end), None)
            if op is not None:
                op.jobs.append(jid)


def _union_s(intervals: list[tuple[float, float]]) -> float:
    covered, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                covered += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        covered += cur_e - cur_s
    return covered


def _op_layers(op: OpWindow, log: EventLog, spans: list[Span], probe: StreamProbe) -> dict:
    """Layer metrics of one operation sample."""
    stages = {sid for jid in op.jobs for sid in log.jobs[jid]["stages"] if log.stage_job.get(sid) == jid}
    tasks = [t for t in log.tasks if t["stage"] in stages]
    m = {
        "spark.jobs": len(op.jobs),
        "spark.stages": len({t["stage"] for t in tasks}),
        "spark.tasks": len(tasks),
    }
    intervals = [
        (max(op.start, log.jobs[j]["submit"]), min(op.end, log.jobs[j]["end"] or op.end))
        for j in op.jobs
    ]
    m["spark.driver_gap_s"] = (op.end - op.start) - _union_s([iv for iv in intervals if iv[1] > iv[0]])

    def tsum(key, sub=None, scale=1.0):
        total = 0
        for t in tasks:
            v = t["m"].get(sub, {}) if sub else t["m"]
            total += v.get(key, 0) if isinstance(v, dict) else 0
        return total * scale

    m["exec.cpu_s"] = tsum("Executor CPU Time", scale=1e-9)
    m["exec.run_s"] = tsum("Executor Run Time", scale=1e-3)
    m["exec.gc_s"] = tsum("JVM GC Time", scale=1e-3)
    overhead = 0.0
    for t in tasks:
        tm = t["m"]
        deser = tm.get("Executor Deserialize Time", 0) / 1000
        dur = t["finish"] - t["launch"]
        sched = dur - tm.get("Executor Run Time", 0) / 1000 - deser
        sched -= tm.get("Result Serialization Time", 0) / 1000 + t["getting_result"]
        overhead += deser + max(0.0, sched)
    m["exec.task_overhead_s"] = overhead
    skew = 1.0
    for sid in {t["stage"] for t in tasks}:
        durs = [t["finish"] - t["launch"] for t in tasks if t["stage"] == sid]
        if len(durs) >= 2:
            skew = max(skew, max(durs) / max(statistics.median(durs), 1e-3))
    m["exec.task_skew"] = skew
    m["scan.input_bytes"] = tsum("Bytes Read", "Input Metrics")
    m["scan.input_records"] = tsum("Records Read", "Input Metrics")
    m["exchange.shuffle_write_bytes"] = tsum("Shuffle Bytes Written", "Shuffle Write Metrics")
    m["exchange.shuffle_records"] = tsum("Shuffle Records Written", "Shuffle Write Metrics")
    m["exchange.shuffle_read_bytes"] = tsum("Remote Bytes Read", "Shuffle Read Metrics") + tsum(
        "Local Bytes Read", "Shuffle Read Metrics"
    )
    m["exchange.fetch_wait_s"] = tsum("Fetch Wait Time", "Shuffle Read Metrics", 1e-3)
    m["exec.peak_execution_memory_mb"] = max(
        [t["m"].get("Peak Execution Memory", 0) for t in tasks], default=0
    ) / 2**20
    m["exec.spill_bytes"] = tsum("Memory Bytes Spilled") + tsum("Disk Bytes Spilled")

    mine = [s for s in spans if s.op == op.index]

    def span_s(name):
        return sum(s.end - s.start for s in mine if s.name == name)

    for name in ("read_csv_projected", "write_table"):
        m[f"sources.files.{name}_s"] = span_s(f"sources.files.{name}")
    m["sources.files.bytes_written"] = sum(s.bytes_written for s in mine)
    # input files read before the publish ends are the CSVs (load, DQ gates,
    # the join feeding the write); later scans re-read the published parquet
    writes = [s.end for s in mine if s.name == "sources.files.write_table"]
    csv_stages = {
        sid
        for j in op.jobs
        if writes and log.jobs[j]["submit"] <= max(writes)
        for sid in log.jobs[j]["stages"]
        if log.stage_job.get(sid) == j
    }
    m["sources.files.csv_scan_bytes"] = sum(
        t["m"].get("Input Metrics", {}).get("Bytes Read", 0) for t in tasks if t["stage"] in csv_stages
    )
    m["plans.dq.assert_non_empty_s"] = span_s("plans.dq.assert_non_empty")
    m["plans.dq.assert_unique_key_s"] = span_s("plans.dq.assert_unique_key")
    dq = [(s.start, s.end) for s in mine if s.name.startswith("plans.dq.")]
    m["plans.dq.jobs"] = sum(
        1 for j in op.jobs if any(s <= log.jobs[j]["submit"] <= e for s, e in dq)
    )
    m["sources.registry.checkpoints"] = sum(1 for s in mine if s.name == "sources.registry.checkpoint")
    m["sources.registry.checkpoint_s"] = span_s("sources.registry.checkpoint")
    m["sources.registry.release_s"] = span_s("sources.registry.release")
    m["queries.build_s"] = op.build_s
    m["queries.build_jobs"] = op.build_jobs
    m["queries.action_s"] = op.action_s

    streams = {qid for qid, started in probe.started.items() if op.start <= started <= op.end}
    batches = [b for b in probe.batches if b[0] in streams]
    m["streaming.batches"] = len(batches)
    m["streaming.trigger_s"] = sum(b[2] for b in batches)
    m["streaming.first_batch_s"] = sum(
        min(b[1] + b[2] for b in batches if b[0] == qid) - probe.started[qid]
        for qid in streams
        if any(b[0] == qid for b in batches)
    )
    return m


# metrics that combine across the operations of a pass by maximum, not by sum
_PEAKS = ("exec.task_skew", "exec.peak_execution_memory_mb")


def layer_metrics(ops: list[OpWindow], log: EventLog, spans: list[Span], probe: StreamProbe):
    """Per-pass layer metrics (sum over the pass's operations; peaks by max),
    median over passes; plus the per-operation rows."""
    log.attribute(ops)
    rows = [(op, _op_layers(op, log, spans, probe)) for op in ops]
    passes: dict[int, dict[str, float]] = {}
    for op, m in rows:
        acc = passes.setdefault(op.pass_no, {})
        for k, v in m.items():
            acc[k] = max(acc.get(k, v), v) if k in _PEAKS else acc.get(k, 0) + v
    keys = rows[0][1].keys() if rows else []
    medians = {k: statistics.median(p[k] for p in passes.values()) for k in keys}
    per_op = [{"op": op.name, "pass": op.pass_no, "wall_s": op.end - op.start, **m} for op, m in rows]
    return medians, per_op
