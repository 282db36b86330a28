"""Per-layer tracing from outside the engine.

Everything here observes the engine through its public surface:

- :class:`Tracer` keeps spans in memory (pass -> query -> construct /
  action -> pin call / driver collect) and derives self times.
- :func:`install_probes` wraps the materialization and driver-collect
  methods of ``pyspark.sql.classic.dataframe.DataFrame``, the class
  Spark 4 instantiates; the base ``pyspark.sql.DataFrame`` methods are
  overridden there and never run.
- :class:`ProgressListener` records streaming micro-batch progress.
- :func:`read_event_log` and :func:`spark_layers` turn Spark's own
  (uncompressed, non-rolling) event log into job, stage, task and
  Python-worker totals for a time window.
"""

from __future__ import annotations

import json
import os
import time
from dataclasses import dataclass, field

from pyspark.sql.streaming import StreamingQueryListener

PIN_METHODS = ("localCheckpoint", "checkpoint", "persist", "cache")
COLLECT_METHODS = ("collect", "toPandas", "take", "first", "head", "toLocalIterator")
PYTHON_ACCUMS = {
    "time to run Python workers": "python.run_s",
    "time to initialize Python workers": "python.init_s",
    "data sent to Python workers": "python.mb_sent",
    "data returned from Python workers": "python.mb_returned",
}
MB = 1024 * 1024

# Every per-layer metric, by name, with its unit.
LAYER_UNITS: dict[str, str] = {
    "queries.construct_s": "s",
    "queries.construct_self_s": "s",
    "queries.action_s": "s",
    "pin.calls": "count",
    "pin.s": "s",
    "driver.collects": "count",
    "driver.collect_s": "s",
    "driver.idle_s": "s",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.task_failures": "count",
    "spark.executor_run_s": "s",
    "spark.executor_cpu_s": "s",
    "spark.gc_s": "s",
    "spark.input_mb": "MB",
    "spark.shuffle_write_mb": "MB",
    "spark.shuffle_read_mb": "MB",
    "spark.spill_mb": "MB",
    "python.run_s": "s",
    "python.init_s": "s",
    "python.mb_sent": "MB",
    "python.mb_returned": "MB",
    "streaming.microbatches": "count",
    "streaming.add_batch_s": "s",
    "streaming.commit_s": "s",
    "streaming.state_rows": "count",
    "streaming.state_mb": "MB",
    "process.peak_rss_mb": "MB",
    "trace.pass_s": "s",
    "trace.overhead_s": "s",
}


@dataclass
class Span:
    id: int
    parent: int | None
    kind: str
    name: str
    start: float
    end: float = 0.0
    attrs: dict = field(default_factory=dict)


class Tracer:
    """In-memory span recorder. ``recording`` gates the DataFrame
    probes, so calls made outside a traced construct span pass through
    unrecorded."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self.recording = False
        self._stack: list[Span] = []
        self._in_call = False

    def open(self, kind: str, name: str) -> Span:
        parent = self._stack[-1].id if self._stack else None
        span = Span(len(self.spans), parent, kind, name, time.time())
        self.spans.append(span)
        self._stack.append(span)
        return span

    def close(self, span: Span) -> None:
        span.end = time.time()
        popped = self._stack.pop()
        if popped is not span:
            raise RuntimeError(f"span {span.name} closed out of order")

    def call(self, kind: str, name: str, fn, *args, **kwargs):
        """Run ``fn`` inside a leaf span when recording, and not nested
        in another probed call (``first`` -> ``head`` -> ``take`` ->
        ``collect`` records once)."""
        if not self.recording or self._in_call:
            return fn(*args, **kwargs)
        self._in_call = True
        span = self.open(kind, name)
        try:
            return fn(*args, **kwargs)
        finally:
            self.close(span)
            self._in_call = False

    def children(self, span: Span) -> list[Span]:
        return [s for s in self.spans if s.parent == span.id]

    def self_time(self, span: Span) -> float:
        """Duration minus the part of it that child spans cover."""
        covered = union_length([(c.start, c.end) for c in self.children(span)], span.start, span.end)
        return (span.end - span.start) - covered

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump([s.__dict__ | {"self_s": self.self_time(s)} for s in self.spans], fh)


def union_length(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Total length of the union of ``intervals`` clipped to [lo, hi]."""
    total, reach = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, reach), min(b, hi)
        if b > a:
            total += b - a
            reach = b
    return total


def install_probes(tracer: Tracer) -> None:
    """Wrap the classic DataFrame's pin and collect methods. A ``count``
    on a frame that was just persisted or cached is the eager half of a
    pin and is recorded as one."""
    from pyspark.sql.classic.dataframe import DataFrame

    def wrap(method: str, kind: str) -> None:
        orig = getattr(DataFrame, method)

        def probe(self, *args, **kwargs):
            out = tracer.call(kind, method, orig, self, *args, **kwargs)
            if method in ("persist", "cache") and tracer.recording:
                out._perfbench_pending_pin = True
            return out

        probe.__wrapped__ = orig
        setattr(DataFrame, method, probe)

    for m in PIN_METHODS:
        wrap(m, "pin")
    for m in COLLECT_METHODS:
        wrap(m, "collect")

    orig_count = DataFrame.count

    def count(self):
        if getattr(self, "_perfbench_pending_pin", False):
            self._perfbench_pending_pin = False
            return tracer.call("pin", "count", orig_count, self)
        return orig_count(self)

    count.__wrapped__ = orig_count
    DataFrame.count = count


class ProgressListener(StreamingQueryListener):
    """Collects one record per completed streaming micro-batch, stamped
    with its arrival time so it can be attached to the span whose window
    contains it."""

    def __init__(self) -> None:
        self.batches: list[dict] = []

    def onQueryStarted(self, event) -> None:
        pass

    def onQueryProgress(self, event) -> None:
        p = event.progress
        d = p.durationMs or {}
        self.batches.append(
            {
                "t": time.time(),
                "run": str(p.runId),
                "add_batch_s": d.get("addBatch", 0) / 1000.0,
                "commit_s": (d.get("walCommit", 0) + d.get("commitOffsets", 0)) / 1000.0,
                "state_rows": sum(op.numRowsTotal for op in p.stateOperators),
                "state_bytes": sum(op.memoryUsedBytes for op in p.stateOperators),
            }
        )

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        pass


def drain_listener_bus(spark) -> None:
    """Block until Spark's listener bus has delivered every queued
    event, streaming progress included."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()


def streaming_layers(batches: list[dict]) -> dict[str, float]:
    """Micro-batch totals; state size is each query run's final size."""
    final: dict[str, dict] = {}
    for b in batches:
        final[b["run"]] = b
    return {
        "streaming.microbatches": float(len(batches)),
        "streaming.add_batch_s": sum(b["add_batch_s"] for b in batches),
        "streaming.commit_s": sum(b["commit_s"] for b in batches),
        "streaming.state_rows": float(sum(b["state_rows"] for b in final.values())),
        "streaming.state_mb": sum(b["state_bytes"] for b in final.values()) / MB,
    }


def read_event_log(log_dir: str) -> list[dict]:
    """All events of the single application log in ``log_dir``."""
    (name,) = [n for n in os.listdir(log_dir) if not n.startswith(".")]
    with open(os.path.join(log_dir, name)) as fh:
        return [json.loads(line) for line in fh if line.strip()]


def _num(v) -> float:
    return float(v) if v not in (None, "") else 0.0


def spark_layers(events: list[dict], lo: float, hi: float) -> dict[str, float]:
    """Job, stage, task and Python-worker totals for jobs submitted in
    the wall-clock window [lo, hi] (seconds since the epoch), plus the
    window's idle time: the part during which no job was running."""
    jobs: dict[int, list[float]] = {}
    stage_job: dict[int, int] = {}
    for e in events:
        kind = e["Event"]
        if kind == "SparkListenerJobStart":
            t = e["Submission Time"] / 1000.0
            if lo <= t <= hi:
                jobs[e["Job ID"]] = [t, hi]
                for sid in e["Stage IDs"]:
                    stage_job.setdefault(sid, e["Job ID"])
        elif kind == "SparkListenerJobEnd" and e["Job ID"] in jobs:
            jobs[e["Job ID"]][1] = e["Completion Time"] / 1000.0
    out = dict.fromkeys(
        (
            "spark.jobs spark.stages spark.tasks spark.task_failures spark.executor_run_s "
            "spark.executor_cpu_s spark.gc_s spark.input_mb spark.shuffle_write_mb "
            "spark.shuffle_read_mb spark.spill_mb"
        ).split(),
        0.0,
    )
    out |= dict.fromkeys(PYTHON_ACCUMS.values(), 0.0)
    out["spark.jobs"] = float(len(jobs))
    for e in events:
        kind = e["Event"]
        if kind == "SparkListenerStageCompleted" and e["Stage Info"]["Stage ID"] in stage_job:
            out["spark.stages"] += 1
        elif kind == "SparkListenerTaskEnd" and e["Stage ID"] in stage_job:
            info, m = e["Task Info"], e.get("Task Metrics") or {}
            out["spark.tasks"] += 1
            out["spark.task_failures"] += bool(info.get("Failed"))
            out["spark.executor_run_s"] += m.get("Executor Run Time", 0) / 1000.0
            out["spark.executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
            out["spark.gc_s"] += m.get("JVM GC Time", 0) / 1000.0
            out["spark.input_mb"] += m.get("Input Metrics", {}).get("Bytes Read", 0) / MB
            out["spark.shuffle_write_mb"] += m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0) / MB
            sr = m.get("Shuffle Read Metrics", {})
            out["spark.shuffle_read_mb"] += (sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)) / MB
            out["spark.spill_mb"] += (m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)) / MB
            for acc in info.get("Accumulables", []):
                key = PYTHON_ACCUMS.get(acc.get("Name"))
                if key is not None:
                    out[key] += _num(acc.get("Update"))
    # Python timing accumulators are in milliseconds, sizes in bytes.
    for key in ("python.run_s", "python.init_s"):
        out[key] /= 1000.0
    for key in ("python.mb_sent", "python.mb_returned"):
        out[key] /= MB
    out["driver.idle_s"] = (hi - lo) - union_length(list(map(tuple, jobs.values())), lo, hi)
    return out
