"""Pipeline benchmark: run one workload through the program's public entry
points, check its outputs and print its metrics.

    python3 perfbench/run.py --workload batch_etl --seed 1 --seconds 6 --trace 0

Run it from the root of the repository.  ``--trace 0`` prints the
end-to-end metrics; ``--trace 1`` is a separate run with the per-layer
collectors on.  The last line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``.  Scratch files live in
``.bench_run/`` under the repository root; each run's record is appended
to ``.bench_run/records.jsonl`` and a traced run's spans are kept in
``.bench_run/trace-<workload>-<seed>.json``.
"""

from __future__ import annotations

import time

T_ENTER = time.time()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)


def metric_units(spec: dict, key: str) -> dict[str, str]:
    """Name -> unit of the BENCHMARK.json metric list ``key``."""
    return {m["name"]: m["unit"] for m in spec[key]}


def process_age() -> float:
    """Seconds since this process was created (Linux), else 0."""
    try:
        with open("/proc/self/stat", encoding="ascii") as fh:
            start_ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
        with open("/proc/stat", encoding="ascii") as fh:
            btime = next(int(l.split()[1]) for l in fh if l.startswith("btime"))
        return max(0.0, T_ENTER - (btime + start_ticks / os.sysconf("SC_CLK_TCK")))
    except (OSError, ValueError, StopIteration, IndexError):
        return 0.0


def spin_s() -> float:
    """Host calibration: a fixed single-core loop, in seconds."""
    t = time.perf_counter()
    acc = 0
    for i in range(2_000_000):
        acc += i * i
    return time.perf_counter() - t


def nproc() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def environment(run_dir: str) -> None:
    """Spark at local[nproc] (the program's SPARK_GRAFT_CPUS), with all
    scratch space inside the run directory."""
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc())
    os.environ.setdefault("CDP_SPARK_DRIVER_MEM", "2g")
    tmp = os.path.join(run_dir, "tmp")
    local = os.path.join(run_dir, "spark-local")
    os.makedirs(tmp)
    os.makedirs(local)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    # No JVM perf-data file under the system temp directory either.
    os.environ["JAVA_TOOL_OPTIONS"] = (
        os.environ.get("JAVA_TOOL_OPTIONS", "") + f" -Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    ).strip()


def end_jvm() -> None:
    """Wait for the JVM that pyspark launched to exit; it leaves when its
    stdin closes."""
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    if proc is None:
        return
    proc.stdin.close()
    try:
        proc.wait(timeout=30)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


def source_digest() -> str:
    """Digest of the program and benchmark sources, so records of one
    version of the code are compared only with each other."""
    import hashlib

    h = hashlib.sha256()
    for top in ("cdp_spark", "perfbench"):
        for dirpath, dirnames, filenames in sorted(os.walk(os.path.join(ROOT, top))):
            dirnames.sort()
            for name in sorted(filenames):
                if name.endswith(".py"):
                    path = os.path.join(dirpath, name)
                    h.update(os.path.relpath(path, ROOT).encode())
                    with open(path, "rb") as fh:
                        h.update(fh.read())
    return h.hexdigest()[:16]


def tracing_overhead(records_path: str, run, source: str) -> tuple[float, str]:
    """Throughput of the untraced runs of the same code, workload and
    length recorded in this checkout (their median), against this
    traced run's, as the fraction the tracing cost."""
    import statistics

    key = "events_per_s"
    try:
        with open(records_path, encoding="utf-8") as fh:
            past = [json.loads(l) for l in fh]
    except FileNotFoundError:
        past = []
    base = [r["e2e"][key] for r in past
            if r.get("source") == source and r["workload"] == run.workload
            and r["seconds"] == run.seconds and not r["trace"] and r["correct"]
            and r["valid"]]
    if not base or not run.e2e.get(key):
        return 0.0, "no untraced record of this code to compare with"
    ref = statistics.median(base)
    frac = ref / run.e2e[key] - 1
    return frac, f"{key} traced {run.e2e[key]:.4f} vs untraced median {ref:.4f} of {len(base)}"


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description="pipeline benchmark")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True,
                    help="length of the measured phase")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "cdp_spark", "__init__.py")):
        print("perfbench: the cdp_spark package is not in this checkout", file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as fh:
        spec = json.load(fh)
    end_to_end = metric_units(spec, "end_to_end")
    per_layer = metric_units(spec, "per_layer")
    sys.path.insert(1, ROOT)
    import collect
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2

    bench_dir = os.path.join(ROOT, ".bench_run")
    run_dir = os.path.join(bench_dir, f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(run_dir)
    environment(run_dir)
    context = {"nproc": nproc(), "load1_start": os.getloadavg()[0], "spin_s": spin_s()}
    run = workloads.Run(
        workload=args.workload, seed=args.seed, seconds=args.seconds,
        trace=bool(args.trace), dir=run_dir, pre_setup_s=process_age(),
        tracer=collect.Tracer() if args.trace else None,
    )
    try:
        workloads.WORKLOADS[args.workload](run)
    finally:
        end_jvm()
        shutil.rmtree(run_dir, ignore_errors=True)
    context["load1_end"] = os.getloadavg()[0]
    correct = run.failed == 0

    records = os.path.join(bench_dir, "records.jsonl")
    source = source_digest()
    if run.trace:
        # Figures measured alike in both runs, such as latency, that are
        # reported with the layers.
        run.layers.update({k: v for k, v in run.e2e.items() if k in per_layer})
        frac, why = tracing_overhead(records, run, source)
        run.layers["trace.overhead_frac"] = frac
        run.notes.append(f"tracing overhead: {why}")
        run.tracer.dump(os.path.join(bench_dir, f"trace-{run.workload}-{run.seed}.json"))
        run.notes.append(f"span self time (s): "
                         f"{ {k: round(v, 3) for k, v in run.tracer.self_times().items()} }")
        run.notes.append(f"step event counts: {run.counts}")
    record = {
        "workload": run.workload, "seed": run.seed, "source": source, "seconds": run.seconds,
        "trace": run.trace, "correct": correct, "valid": run.valid,
        "attempted": run.attempted, "failed": run.failed, "e2e": run.e2e,
        "layers": run.layers, "context": context, "notes": run.notes,
    }
    with open(records, "a", encoding="utf-8") as fh:
        fh.write(json.dumps(record) + "\n")

    for note in run.notes:
        print(f"# {note}")
    print(f"# context {json.dumps(context)}")
    shown = per_layer if run.trace else end_to_end
    values = run.layers if run.trace else run.e2e
    for name, value in run.e2e.items():
        print(f"{name} {value} {end_to_end.get(name) or per_layer.get(name)}")
    print(f"failed_fraction {run.failed / max(run.attempted, 1)} "
          f"({run.failed} of {run.attempted} operations)")
    print(f"valid {run.valid}")
    metrics = {
        name: {"value": float(values.get(name, 0.0)), "unit": unit}
        for name, unit in shown.items()
    }
    print(json.dumps({"correct": correct, "attempted": max(run.attempted, 1),
                      "failed": run.failed, "metrics": metrics}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
