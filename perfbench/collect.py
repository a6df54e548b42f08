"""Per-layer collectors for the traced run.

Everything here observes the program from outside: spans around calls
into its public functions, Spark's own status store and query-planning
trackers, and the streaming query's progress reports.  Nothing is
installed inside ``cdp_spark``.
"""

from __future__ import annotations

import functools
import json
import os
import re
import statistics
import threading
import time
from dataclasses import dataclass, field

# Physical operators that hand rows to Python workers.
_PYTHON_NODE = re.compile(r"Pandas|Python|InArrow")


def median(values, default=0.0):
    values = list(values)
    return statistics.median(values) if values else default


def percentile(values, q):
    """Nearest-rank percentile of ``values`` (0 < q <= 100)."""
    values = sorted(values)
    if not values:
        return 0.0
    k = max(0, min(len(values) - 1, -(-len(values) * q // 100) - 1))
    return values[int(k)]


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    trace: str


@dataclass
class Tracer:
    """In-memory spans, one stack per thread; written out at the end."""

    spans: list[Span] = field(default_factory=list)
    _local: threading.local = field(default_factory=threading.local)
    _lock: threading.Lock = field(default_factory=threading.Lock)

    def wrap(self, name: str, fn, trace: str = "run"):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            stack = getattr(self._local, "stack", None)
            if stack is None:
                stack = self._local.stack = []
            parent = stack[-1] if stack else None
            with self._lock:
                idx = len(self.spans)
                self.spans.append(Span(name, time.time(), 0.0, parent, trace))
            stack.append(idx)
            try:
                return fn(*args, **kwargs)
            finally:
                stack.pop()
                self.spans[idx].end = time.time()

        return traced

    def durations(self, name: str, since: float = 0.0, until: float = float("inf")):
        return [
            s.end - s.start
            for s in self.spans
            if s.name == name and s.end and since <= s.start <= until
        ]

    def self_times(self) -> dict[str, float]:
        """Per span name: total duration minus the time its children cover."""
        child_time = [0.0] * len(self.spans)
        for s in self.spans:
            if s.parent is not None and s.end:
                child_time[s.parent] += s.end - s.start
        out: dict[str, float] = {}
        for i, s in enumerate(self.spans):
            if s.end:
                out[s.name] = out.get(s.name, 0.0) + (s.end - s.start) - child_time[i]
        return out

    def dump(self, path: str) -> None:
        with open(path, "w", encoding="utf-8") as fh:
            json.dump(
                {
                    "spans": [s.__dict__ for s in self.spans],
                    "self_s": self.self_times(),
                },
                fh,
            )


class CatalystListener:
    """QueryExecutionListener (a py4j callback) that keeps the analysis,
    optimization and planning times of every executed query."""

    PHASES = ("analysis", "optimization", "planning")

    def __init__(self, spark):
        from pyspark.java_gateway import ensure_callback_server_started

        ensure_callback_server_started(spark.sparkContext._gateway)
        self.records: list[tuple[float, str, dict[str, float]]] = []
        self.errors = 0
        self._manager = spark._jsparkSession.listenerManager()
        self._manager.register(self)

    def onSuccess(self, func_name, qe, duration_ns):  # noqa: N802 — JVM interface
        try:
            phases = qe.tracker().phases()
            times = {}
            for ph in self.PHASES:
                opt = phases.get(ph)
                times[ph] = opt.get().durationMs() / 1000.0 if opt.isDefined() else 0.0
            self.records.append((time.time(), func_name, times))
        except Exception:  # noqa: BLE001 — a listener must never fail the query
            self.errors += 1

    def onFailure(self, func_name, qe, exception):  # noqa: N802 — JVM interface
        self.errors += 1

    def totals(self, since: float, until: float) -> dict[str, float]:
        out = {ph: 0.0 for ph in self.PHASES}
        for t, _fn, times in self.records:
            if since <= t <= until:
                for ph in self.PHASES:
                    out[ph] += times[ph]
        return out

    def close(self) -> None:
        self._manager.unregister(self)

    class Java:
        implements = ["org.apache.spark.sql.util.QueryExecutionListener"]


def _opt_ms(opt) -> float | None:
    return None if opt.isEmpty() else opt.get().getTime() / 1000.0


def _graph_names(cluster) -> list[str]:
    names = [cluster.name()]
    it = cluster.childClusters().iterator()
    while it.hasNext():
        names += _graph_names(it.next())
    return names


def spark_stages(spark, since: float, until: float) -> dict[str, float]:
    """Executor-side work of the stages submitted in [since, until],
    read from Spark's application status store."""
    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()
    jvm = sc._jvm
    empty = jvm.java.util.ArrayList()
    stages = store.stageList(empty, False, False, sc._gateway.new_array(jvm.double, 0), empty)
    m = {
        "spark.stages": 0, "spark.tasks": 0, "spark.executor_run_s": 0.0,
        "spark.executor_cpu_s": 0.0, "spark.gc_s": 0.0, "spark.shuffle_read_bytes": 0,
        "spark.shuffle_write_bytes": 0, "spark.serial_stage_s": 0.0,
        "spark.python_stage_run_s": 0.0, "input_bytes": 0,
    }
    it = stages.iterator()
    while it.hasNext():
        s = it.next()
        sub = _opt_ms(s.submissionTime())
        if sub is None or not since <= sub <= until:
            continue
        done = _opt_ms(s.completionTime())
        run_s = s.executorRunTime() / 1000.0
        m["spark.stages"] += 1
        m["spark.tasks"] += s.numTasks()
        m["spark.executor_run_s"] += run_s
        m["spark.executor_cpu_s"] += s.executorCpuTime() / 1e9
        m["spark.gc_s"] += s.jvmGcTime() / 1000.0
        m["spark.shuffle_read_bytes"] += s.shuffleReadBytes()
        m["spark.shuffle_write_bytes"] += s.shuffleWriteBytes()
        m["input_bytes"] += s.inputBytes()
        if s.numTasks() == 1 and done is not None:
            m["spark.serial_stage_s"] += done - sub
        names = _graph_names(store.operationGraphForStage(s.stageId()).rootCluster())
        if any(_PYTHON_NODE.search(n) for n in names):
            m["spark.python_stage_run_s"] += run_s
    jobs = store.jobsList(empty)
    m["spark.jobs"] = 0
    it = jobs.iterator()
    while it.hasNext():
        sub = _opt_ms(it.next().submissionTime())
        if sub is not None and since <= sub <= until:
            m["spark.jobs"] += 1
    run = m["spark.executor_run_s"]
    m["spark.cpu_ratio"] = m["spark.executor_cpu_s"] / run if run else 0.0
    return m


PROGRESS_PHASES = {
    "stream.trigger_s": "triggerExecution",
    "stream.add_batch_s": "addBatch",
    "stream.query_planning_s": "queryPlanning",
    "stream.wal_commit_s": "walCommit",
    "stream.commit_offsets_s": "commitOffsets",
    "stream.latest_offset_s": "latestOffset",
    "stream.get_batch_s": "getBatch",
}


def progress_time(p) -> float:
    """Start of a progress report's trigger, in unix seconds."""
    from datetime import datetime

    return datetime.fromisoformat(p["timestamp"].replace("Z", "+00:00")).timestamp()


def stream_progress(progress: list[dict], since: float, until: float) -> dict[str, float]:
    """Per-trigger medians of the progress phases (seconds) and state
    figures, over triggers that started in [since, until]."""
    sel = [p for p in progress if since <= progress_time(p) <= until]
    m: dict[str, float] = {"stream.triggers": len(sel)}
    for name, key in PROGRESS_PHASES.items():
        m[name] = median(p["durationMs"].get(key, 0) / 1000.0 for p in sel)
    m["stream.processed_rows_per_s"] = median(p.get("processedRowsPerSecond", 0.0) for p in sel)
    ops = [p["stateOperators"][0] for p in sel if p.get("stateOperators")]
    m["state.commit_s"] = median(o.get("commitTimeMs", 0) / 1000.0 for o in ops)
    m["state.rows_total"] = median(o.get("numRowsTotal", 0) for o in ops)
    m["state.memory_bytes"] = median(o.get("memoryUsedBytes", 0) for o in ops)
    m["state.rows_updated"] = sum(o.get("numRowsUpdated", 0) for o in ops)
    return m


def files_taken(checkpoint_dir: str) -> int:
    """Input files the file source has handed to a micro-batch so far,
    read from its metadata log in the query checkpoint."""
    log_dir = os.path.join(checkpoint_dir, "sources", "0")
    paths: set[str] = set()
    try:
        names = os.listdir(log_dir)
    except FileNotFoundError:
        return 0
    for name in names:
        if name.startswith(".") or name.endswith(".tmp"):
            continue
        try:
            with open(os.path.join(log_dir, name), encoding="utf-8") as fh:
                for line in fh:
                    if line.startswith("{"):
                        paths.add(json.loads(line)["path"])
        except (OSError, ValueError, KeyError):
            continue  # a log file being written or compacted
    return len(paths)
