"""The workloads: each drives the program through the entry points its
users call, checks the outputs, and fills a :class:`Run`."""

from __future__ import annotations

import functools
import glob
import json
import os
import select
import shutil
import subprocess
import sys
import threading
import time
from dataclasses import dataclass, field

import checks
import collect
import feeder
import inputs
import pipelines

HERE = os.path.dirname(os.path.abspath(__file__))

BATCH_EVENTS = 10_000

STREAM_WARMUP = 1_000  # events dropped at once right after the query starts
STREAM_RATE = 500  # events per second, open loop (traced run only)
STREAM_WARM_S = 2.0  # paced seconds before the measured window
STREAM_BURST = 15_000  # the measured burst, dropped once the warm-up is in
# A growing backlog: over the paced phase, the smallest backlog of the
# second half exceeds the first half's by more than two seconds of input.
BACKLOG_GROWTH_FILES = 2 / feeder.TICK_S

NEAR_DUP_THRESHOLD = 0.7


@dataclass
class Run:
    workload: str
    seed: int
    seconds: int
    trace: bool
    dir: str
    pre_setup_s: float  # interpreter start until the benchmark's own work began
    e2e: dict = field(default_factory=dict)
    layers: dict = field(default_factory=dict)
    notes: list = field(default_factory=list)
    attempted: int = 0
    failed: int = 0
    valid: bool = True
    tracer: collect.Tracer | None = None
    counts: dict = field(default_factory=dict)

    def path(self, *parts: str) -> str:
        return os.path.join(self.dir, *parts)

    def span(self, name: str, fn):
        return self.tracer.wrap(name, fn) if self.tracer else fn


def _part_events(path: str) -> list[dict]:
    """Events of one part file a `send-file` (`spark-dir`) sink wrote."""
    with open(path, encoding="utf-8") as fh:
        return [json.loads(line) for line in fh]


def _sink_events(sink_dir: str) -> list[tuple[str, str]]:
    """(name, payload text) of every event a `send-file` directory holds."""
    return [
        (e["n"], json.dumps(e.get("d")))
        for part in sorted(glob.glob(os.path.join(sink_dir, "part-*")))
        for e in _part_events(part)
    ]


def _start_session(run: Run):
    from cdp_spark.session import get_spark

    return get_spark(f"perfbench:{run.workload}")


# ---------------------------------------------------------------- batch


def _batch_pass(run: Run, spark, template, observe: bool = False):
    """One CLI pass (python -m cdp_spark --batch): compile, run the sinks,
    deliver the terminal events ordered by `_ord`.  Returns the pass
    wall time, per-line delivery latencies, the delivered lines, the
    compiled result and the sink directory."""
    from cdp_spark.dead_letter import ship_dead_letters
    from cdp_spark.events import serialize_events
    from cdp_spark.pipeline import compile_pipeline

    sink = template.steps[-1].function_options["path"]
    shutil.rmtree(sink, ignore_errors=True)
    compile_fn = run.span("pipeline.compile", compile_pipeline)

    t0 = time.time()
    result = compile_fn(spark, template, observe=observe)
    run.span("sink.write", result.run_sinks)()
    ship_dead_letters(result.dead_letters)
    out = result.output

    def deliver():
        lines, stamps = [], []
        ordered = out.select(serialize_events(out).alias("line"), "_ord").orderBy("_ord")
        for row in ordered.toLocalIterator():
            lines.append(row["line"])
            stamps.append(time.time())
        return lines, stamps

    lines, stamps = run.span("sink.emit", deliver)()
    t1 = time.time()
    return t1 - t0, [s - t0 for s in stamps], lines, result, sink


def batch_etl(run: Run) -> None:
    from cdp_spark.pipeline import from_yaml

    src = run.path("events.ndjson")
    lines, injected_dead = inputs.batch_lines(run.seed, BATCH_EVENTS)
    with open(src, "w", encoding="utf-8") as fh:
        fh.write("\n".join(lines) + "\n")
    expected = checks.batch_reference(lines)
    src_bytes = os.path.getsize(src)

    t_setup = time.time()
    spark = _start_session(run)
    template = run.span("pipeline.from_yaml", from_yaml)(
        pipelines.batch_etl(src, run.path("sink"))
    )
    run.e2e["setup_s"] = run.pre_setup_s + time.time() - t_setup

    # Passes over the same input until --seconds have gone by since the
    # first began.  A pass in a fresh process, as the CLI runs one, pays
    # for the cold JVM and Python workers; at the benchmark's length that
    # first pass alone outlasts --seconds.
    listener = collect.CatalystListener(spark) if run.trace else None
    walls: list[float] = []
    latencies: list[float] = []
    deadline = time.time() + run.seconds
    while not walls or time.time() < deadline:
        t_pass = time.time()
        wall, lat, delivered, result, sink = _batch_pass(
            run, spark, template, observe=run.trace
        )
        t_end = time.time()
        walls.append(wall)
        latencies += lat
        dead = result.dead_letters.count()
        got = [(e["n"], json.dumps(e.get("d"))) for e in map(json.loads, delivered)]
        failed, notes = checks.check_batch(
            expected, {"output": got, "sink": _sink_events(sink)}, dead, injected_dead
        )
        run.attempted += BATCH_EVENTS
        run.failed += min(failed, BATCH_EVENTS)
        if failed or len(walls) == 1:
            run.notes += [f"pass {len(walls)}: {note}" for note in notes]
    run.e2e["events_per_s"] = BATCH_EVENTS * len(walls) / sum(walls)
    run.e2e["latency_p50_s"] = collect.percentile(latencies, 50)
    run.e2e["latency_p90_s"] = collect.percentile(latencies, 90)
    run.notes.append(f"{len(walls)} CLI passes over {BATCH_EVENTS} events ({src_bytes} bytes), "
                     f"wall s: {[round(w, 3) for w in walls]}")

    if run.trace:
        _trace_batch(run, spark, listener, src, src_bytes, t_pass, t_end, result, template)
    else:
        spark.stop()


def _trace_batch(run, spark, listener, src, src_bytes, t_pass, t_end, result, template):
    """Per-layer figures of the last pass, then the single-thread
    baseline."""
    from cdp_spark.events import read_ndjson
    from cdp_spark.metrics import PipelineMetrics

    time.sleep(1.0)  # let the listener bus deliver the last events
    stages = collect.spark_stages(spark, t_pass, t_end)
    cat = listener.totals(t_pass, t_end)
    listener.close()
    # Observations complete with an action that runs the whole output;
    # the ordered local iterator of the CLI path does not complete them.
    result.output.count()
    metrics = PipelineMetrics()
    metrics.update_from(result)
    _step_counts(run, metrics)

    def parse():
        events, dead_letters = read_ndjson(spark, src)
        return events.count(), dead_letters.count()

    run.span("events.parse", parse)()
    t = run.tracer
    run.layers.update(
        {
            "pipeline.from_yaml_s": sum(t.durations("pipeline.from_yaml")),
            "pipeline.compile_s": collect.median(t.durations("pipeline.compile")),
            "pipeline.compiles": len(t.durations("pipeline.compile")),
            "events.parse_s": sum(t.durations("events.parse")),
            "events.dead_letters": metrics.dead_events,
            "events.scan_amplification": stages.pop("input_bytes") / src_bytes,
            "catalyst.analysis_s": cat["analysis"],
            "catalyst.optimization_s": cat["optimization"],
            "catalyst.planning_s": cat["planning"],
            "sink.write_s": collect.median(t.durations("sink.write")),
            "sink.emit_s": collect.median(t.durations("sink.emit")),
            **stages,
        }
    )

    # Single-thread baseline: a pass on a local[1] session, with the JVM
    # as warm as the passes above.
    saved, run.tracer = run.tracer, None
    spark.stop()
    os.environ["SPARK_GRAFT_CPUS"] = "1"
    spark1 = _start_session(run)
    wall1, *_ = _batch_pass(run, spark1, template)
    run.tracer = saved
    spark1.stop()
    run.layers["baseline.local1_events_per_s"] = BATCH_EVENTS / wall1
    run.notes.append(f"pass at local[1]: {wall1:.3f} s")


def _step_counts(run: Run, metrics) -> None:
    """Per-step event counts out of PipelineMetrics, for the trace record."""
    run.counts["incoming"] = metrics.pipeline_events_total.get("incoming", 0)
    run.counts["steps"] = {
        f"{step}/{flow}": v for (step, flow), v in metrics.step_events_total.items()
    }


# --------------------------------------------------------------- stream


class _SinkWatcher:
    """Reads the windows the pipeline's `send-file` sink commits, noting
    when each was first seen: the moment a consumer of the sink receives
    it.  Spark commits part files by rename, so a listed file is whole."""

    def __init__(self, sink_dir: str, every: float = 0.05):
        self.windows: list[tuple[float, dict]] = []
        self._dir = sink_dir
        self._every = every
        self._seen: set[str] = set()
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._watch, daemon=True)
        self._thread.start()

    def _watch(self) -> None:
        while not self._stop.wait(self._every):
            self.scan()

    def scan(self) -> None:
        try:
            names = sorted(n for n in os.listdir(self._dir) if n.startswith("part-"))
        except FileNotFoundError:
            return
        for name in names:
            if name in self._seen:
                continue
            now = time.time()
            got = [(now, e["d"]) for e in _part_events(os.path.join(self._dir, name))]
            with self._lock:
                self._seen.add(name)
                self.windows += got

    def count(self) -> int:
        with self._lock:
            return len(self.windows)

    def wait_for(self, n: int, deadline: float) -> bool:
        while self.count() < n:
            if time.time() > deadline:
                return False
            time.sleep(0.05)
        return True

    def last_arrival(self) -> float:
        with self._lock:
            return max(t for t, _w in self.windows)

    def close(self) -> list[tuple[float, dict]]:
        self._stop.set()
        self._thread.join()
        self.scan()
        with self._lock:
            return list(self.windows)


class _UncaughtHandler:
    """JVM default uncaught-exception handler (a py4j callback): errors
    that kill a JVM thread, such as the stream execution thread during
    stop(), reach neither stop() nor exception()."""

    def __init__(self, errors: list[str]):
        self.errors = errors

    def uncaughtException(self, thread, exc):  # noqa: N802 — JVM interface
        msg = f"uncaught in JVM thread {thread.getName()}: {exc.toString()}"
        self.errors.append(msg)
        print(msg, file=sys.stderr)

    class Java:
        implements = ["java.lang.Thread$UncaughtExceptionHandler"]


class _StopErrors:
    """Records the errors a streaming query raises when it stops: from
    stop(), exception(), the listener's termination event and JVM threads
    that die with an uncaught error."""

    def __init__(self, spark):
        from pyspark.java_gateway import ensure_callback_server_started
        from pyspark.sql.streaming import StreamingQueryListener

        class Listener(StreamingQueryListener):
            def __init__(self, sink):
                self.sink = sink

            def onQueryStarted(self, event):  # noqa: N802 — Spark interface
                pass

            def onQueryProgress(self, event):  # noqa: N802
                pass

            def onQueryIdle(self, event):  # noqa: N802
                pass

            def onQueryTerminated(self, event):  # noqa: N802
                self.sink.terminated.set()
                if event.exception:
                    self.sink.errors.append(f"terminated: {event.exception}")

        self.errors: list[str] = []
        self.terminated = threading.Event()
        spark.streams.addListener(Listener(self))
        ensure_callback_server_started(spark.sparkContext._gateway)
        spark.sparkContext._jvm.java.lang.Thread.setDefaultUncaughtExceptionHandler(
            _UncaughtHandler(self.errors)
        )

    def stop(self, query) -> None:
        try:
            query.stop()
        except Exception as err:  # noqa: BLE001 — recorded and reported below
            self.errors.append(f"stop(): {type(err).__name__}: {err}")
        try:
            exc = query.exception()
        except Exception as err:  # noqa: BLE001
            self.errors.append(f"exception(): {type(err).__name__}: {err}")
        else:
            if exc is not None:
                self.errors.append(f"exception(): {exc}")
        self.terminated.wait(5.0)
        for e in self.errors:
            print(f"stream stop error: {e}", file=sys.stderr)


def _expected_windows(events) -> int:
    size = pipelines.WINDOW_EVENTS
    per_region: dict[str, int] = {}
    for n, d in events:
        if n.startswith("app."):
            per_region[d["region"]] = per_region.get(d["region"], 0) + 1
    return sum(c // size for c in per_region.values())


class _Feeder:
    def __init__(self, run: Run, spool: str, stage: str, n_events: int, paced_s: float):
        self.proc = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "feeder.py"),
             "--seed", str(run.seed), "--spool", spool, "--stage", stage,
             "--events", str(n_events), "--rate", str(STREAM_RATE),
             "--paced-s", str(paced_s)],
            stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True,
        )

    def send(self, word: str) -> None:
        self.proc.stdin.write(word + "\n")
        self.proc.stdin.flush()

    def read(self, timeout: float, every=None) -> dict:
        """Next report line; calls ``every()`` while waiting."""
        deadline = time.time() + timeout
        while time.time() < deadline:
            ready, _, _ = select.select([self.proc.stdout], [], [], 0.25)
            if ready:
                line = self.proc.stdout.readline()
                if not line:
                    break
                return json.loads(line)
            if every is not None:
                every()
        raise RuntimeError("feeder did not report in time")

    def close(self) -> None:
        if self.proc.poll() is None:
            try:
                self.proc.stdin.close()
                self.proc.wait(timeout=10)
            except (OSError, subprocess.TimeoutExpired):
                self.proc.kill()
                self.proc.wait()
        self.proc.stdout.close()


def stream_windowed(run: Run) -> None:
    """Query start over an empty `tail` directory, a warm-up burst that
    takes the cold first triggers, then the measured burst.  The traced
    run goes on with the paced phase, for latency and per-trigger
    figures."""
    from cdp_spark.metrics import PipelineMetrics
    from cdp_spark.pipeline import from_yaml
    from cdp_spark.streaming import runner

    spool, stage, ckpt = run.path("spool"), run.path("stage"), run.path("checkpoint")
    sink = run.path("sink")
    os.makedirs(spool)
    os.makedirs(stage)
    paced_s = STREAM_WARM_S + run.seconds
    # Phase ends, in events sent: warm-up burst, burst, paced phase.
    ends = [STREAM_WARMUP, STREAM_WARMUP + STREAM_BURST]
    if run.trace:
        ends.append(ends[-1] + int(round(STREAM_RATE * paced_s)))
    events = inputs.stream_events(run.seed, ends[-1])
    want = [_expected_windows(events[:n]) for n in ends]

    feed = _Feeder(run, spool, stage, ends[-1], paced_s)
    recv = _SinkWatcher(sink)
    t_setup = time.time()
    spark = _start_session(run)
    t_session = time.time()
    template = run.span("pipeline.from_yaml", from_yaml)(pipelines.stream_windowed(spool, sink))
    if run.trace:
        # Time the names the runner imports, from outside the program.
        runner.compile_pipeline = run.tracer.wrap(
            "pipeline.compile", _traced_compile(run.tracer, runner.compile_pipeline)
        )
    metrics = PipelineMetrics() if run.trace else None
    query = runner.run_pipeline_stream(
        template, spark=spark, checkpoint_dir=ckpt, metrics=metrics
    )
    run.e2e["setup_s"] = run.pre_setup_s + time.time() - t_setup
    run.notes.append(f"setup: session {t_session - t_setup:.3f} s, "
                     f"pipeline start {time.time() - t_session:.3f} s")
    stop_errors = _StopErrors(spark)
    listener = collect.CatalystListener(spark) if run.trace else None
    backlog: list[tuple[float, int]] = []

    def sample_backlog():
        on_disk = sum(1 for n in os.listdir(spool) if not n.startswith("."))
        backlog.append((time.time(), on_disk - collect.files_taken(ckpt)))

    def arrived(phase: int, label: str) -> bool:
        if recv.wait_for(want[phase], time.time() + 90):
            return True
        run.notes.append(f"{label}: {recv.count()} of {want[phase]} windows arrived")
        return False

    drain = paced = None
    try:
        feed.send(f"burst {STREAM_WARMUP}")
        feed.read(30)
        # Each burst is dropped at once when the windows before are in.
        if arrived(0, "warm-up"):
            feed.send(f"burst {STREAM_BURST}")
            t_drop = feed.read(30)["t_drop"]
            if arrived(1, "burst"):
                drain = recv.last_arrival() - t_drop
                # The sink commits before the trigger reports its progress.
                deadline = time.time() + 10
                while (sum(p["numInputRows"] for p in query.recentProgress) < ends[1]
                       and time.time() < deadline):
                    time.sleep(0.05)
        if run.trace and drain:
            feed.send("paced")
            t0 = feed.read(10)["t0"]
            paced = feed.read(paced_s + 30, every=sample_backlog)
            arrived(2, "paced")
    finally:
        stop_errors.stop(query)
        feed.close()

    windows = recv.close()
    run.e2e["events_per_s"] = STREAM_BURST / drain if drain else 0.0
    if drain:
        # The triggers that took the burst: input rows past the warm-up's.
        triggers, taken = [], 0
        for p in sorted(query.recentProgress, key=lambda p: p["batchId"]):
            if STREAM_WARMUP <= taken < STREAM_WARMUP + STREAM_BURST and p["numInputRows"]:
                triggers.append(p["durationMs"]["triggerExecution"] / 1000)
            taken += p["numInputRows"]
        run.notes.append(f"burst of {STREAM_BURST} events drained in {drain:.3f} s, "
                         f"trigger s: {triggers}")
    failed, notes = checks.check_windows(events, [w for _t, w in windows])
    run.attempted = len(events)
    run.failed = min(failed, len(events))
    run.notes += notes
    if stop_errors.errors:
        run.notes.append(f"{len(stop_errors.errors)} stream stop errors (see stderr)")
    if paced:
        _trace_stream(run, spark, query, listener, metrics, stop_errors, spool, windows,
                      backlog, paced, t0, paced_s)
    spark.stop()


def _trace_stream(run, spark, query, listener, metrics, stop_errors, spool, windows,
                  backlog, paced, t0, paced_s):
    """Latency and per-layer figures of the paced phase.  A run whose
    feeder fell behind or whose backlog kept growing is marked invalid."""
    from cdp_spark.events import read_ndjson

    t_measure, t_paced_end = t0 + STREAM_WARM_S, t0 + paced_s
    lat = [t - w["last_ts"] for t, w in windows if t_measure <= w["last_ts"] <= t_paced_end]
    run.e2e["latency_p50_s"] = collect.percentile(lat, 50)
    run.e2e["latency_p90_s"] = collect.percentile(lat, 90)
    run.notes.append(
        f"paced {STREAM_RATE} ev/s for {paced_s:.0f} s ({STREAM_WARM_S:.0f} s warm-up), "
        f"{len(lat)} windows timed"
    )
    late = paced["max_late_s"]
    half = len(backlog) // 2
    growing = half > 0 and (
        min(b for _t, b in backlog[half:]) > min(b for _t, b in backlog[:half])
        + BACKLOG_GROWTH_FILES
    )
    if late > feeder.TICK_S or growing:
        run.valid = False
        run.notes.append(f"INVALID run: feeder max lateness {late:.3f} s, "
                         f"backlog growing {growing}")

    time.sleep(1.0)  # let the listener bus deliver the last events
    progress = query.recentProgress
    stages = collect.spark_stages(spark, t_measure, t_paced_end)
    cat = listener.totals(t_measure, t_paced_end)
    listener.close()
    all_stages = collect.spark_stages(spark, 0.0, time.time())

    def parse():
        evs, dead = read_ndjson(spark, spool)
        return evs.count(), dead.count()

    _n, n_dead = run.span("events.parse", parse)()
    t = run.tracer
    run.layers.update(
        {
            "pipeline.from_yaml_s": sum(t.durations("pipeline.from_yaml")),
            "pipeline.compile_s": collect.median(
                t.durations("pipeline.compile", t_measure, t_paced_end)),
            "pipeline.compiles": len(t.durations("pipeline.compile")),
            "events.parse_s": sum(t.durations("events.parse")),
            "events.dead_letters": n_dead,
            "events.scan_amplification": all_stages["input_bytes"] / _spool_bytes(spool),
            "catalyst.analysis_s": cat["analysis"],
            "catalyst.optimization_s": cat["optimization"],
            "catalyst.planning_s": cat["planning"],
            "sink.write_s": collect.median(
                t.durations("sink.write", t_measure, t_paced_end)),
            "stream.backlog_files": max((b for _t, b in backlog), default=0),
            "stream.stop_errors": len(stop_errors.errors),
            "feeder.events_sent": STREAM_WARMUP + STREAM_BURST + paced["sent"],
            "feeder.max_late_s": late,
            **collect.stream_progress(progress, t_measure, t_paced_end),
            **{k: v for k, v in stages.items() if k != "input_bytes"},
        }
    )
    _step_counts(run, metrics)


def _spool_bytes(spool: str) -> int:
    return sum(os.path.getsize(os.path.join(spool, n)) for n in os.listdir(spool))


def _traced_compile(tracer: collect.Tracer, compile_pipeline):
    """compile_pipeline whose result times its `run_sinks` as a span."""

    def compile_and_wrap(*args, **kwargs):
        result = compile_pipeline(*args, **kwargs)
        result.run_sinks = tracer.wrap("sink.write", result.run_sinks)
        return result

    return compile_and_wrap


# ------------------------------------------------------------- curation


def corpus_curation(run: Run) -> None:
    """The near-dedup chain of a curation job (`verified_near_dups` ->
    `connected_components` -> `near_dedup_survivors`) over seeded
    documents read from NDJSON, repeated until --seconds have gone by
    since the first round began.  At the benchmark's length the first,
    cold round (a fresh process, as a curation job runs) outlasts
    --seconds."""
    docs = inputs.corpus_docs(run.seed)
    docs_path = run.path("docs.ndjson")
    with open(docs_path, "w", encoding="utf-8") as fh:
        fh.writelines(json.dumps({"doc_id": i, "text": t}) + "\n" for i, t in docs)
    expected = checks.near_dup_survivors(docs, NEAR_DUP_THRESHOLD)

    t_setup = time.time()
    spark = _start_session(run)
    from cdp_spark.datapipe import dedup

    run.e2e["setup_s"] = run.pre_setup_s + time.time() - t_setup

    near_dups = run.span("datapipe.verified_near_dups", dedup.verified_near_dups)
    components = run.span("datapipe.connected_components", dedup.connected_components)

    @functools.partial(run.span, "datapipe.near_dedup_survivors")
    def survivors(docs_df, comp):
        return [r[0] for r in dedup.near_dedup_survivors(docs_df, "doc_id", comp)
                .select("doc_id").collect()]

    listener = collect.CatalystListener(spark) if run.trace else None
    walls: list[float] = []
    deadline = time.time() + run.seconds
    while not walls or time.time() < deadline:
        t_round = time.time()
        docs_df = spark.read.schema("doc_id long, text string").json(docs_path)
        pairs = near_dups(docs_df, "doc_id", "text", threshold=NEAR_DUP_THRESHOLD)
        comp = components(pairs.select(pairs.id_a.alias("src"), pairs.id_b.alias("dst")))
        kept = survivors(docs_df, comp)
        t_end = time.time()
        walls.append(t_end - t_round)
        failed, notes = checks.check_survivors(expected, kept)
        run.attempted += len(docs)
        run.failed += min(failed, len(docs))
        if failed or len(walls) == 1:
            run.notes += [f"round {len(walls)}: {note}" for note in notes]
    run.e2e["events_per_s"] = len(docs) * len(walls) / sum(walls)
    run.notes.append(f"{len(walls)} rounds over {len(docs)} documents, "
                     f"wall s: {[round(w, 3) for w in walls]}")

    if run.trace:
        time.sleep(1.0)  # let the listener bus deliver the last events
        stages = collect.spark_stages(spark, t_round, t_end)
        cat = listener.totals(t_round, t_end)
        listener.close()
        t = run.tracer
        run.layers.update(
            {
                **{f"{name}_s": collect.median(t.durations(name)) for name in (
                    "datapipe.verified_near_dups", "datapipe.connected_components",
                    "datapipe.near_dedup_survivors")},
                "events.scan_amplification":
                    stages.pop("input_bytes") / os.path.getsize(docs_path),
                "catalyst.analysis_s": cat["analysis"],
                "catalyst.optimization_s": cat["optimization"],
                "catalyst.planning_s": cat["planning"],
                **stages,
            }
        )
    spark.stop()


WORKLOADS = {
    "batch_etl": batch_etl,
    "stream_windowed": stream_windowed,
    "corpus_curation": corpus_curation,
}
