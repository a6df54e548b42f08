"""Self-tests of the benchmark's own checks.

    python3 perfbench/selftest.py

1. Every check accepts a correct output and rejects a deliberately
   perturbed one (a missing, duplicated or altered result).
2. The near-dedup reference keeps one document of each planted family.
3. The pure-Python batch reference agrees with ``compile_pipeline`` on a
   small seeded input (starts a local Spark session).
"""

from __future__ import annotations

import copy
import json
import os
import shutil
import sys
from collections import Counter

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import checks  # noqa: E402
import inputs  # noqa: E402
import pipelines  # noqa: E402


def _reference_pairs(lines):
    return [(n, d) for (n, d), c in checks.batch_reference(lines).items() for _ in range(c)]


def test_batch_check() -> None:
    lines, dead = inputs.batch_lines(3, 4000)
    expected = checks.batch_reference(lines)
    good = _reference_pairs(lines)
    assert good, "the reference emits nothing"
    assert checks.check_batch(expected, {"out": good}, dead, dead)[0] == 0

    n0, d0 = good[0]
    altered = json.loads(d0)
    altered["amount"] += 1
    perturbed = {
        "missing line": good[1:],
        "duplicated line": good + good[:1],
        "altered payload": [(n0, json.dumps(altered))] + good[1:],
        "renamed event": [("x" + n0, d0)] + good[1:],
    }
    for label, pairs in perturbed.items():
        failed, _ = checks.check_batch(expected, {"out": pairs}, dead, dead)
        assert failed > 0, f"batch check accepted a {label}"
    assert checks.check_batch(expected, {"out": good}, dead - 1, dead)[0] > 0, \
        "batch check accepted a wrong dead-letter count"


def _perfect_windows(events):
    size = pipelines.WINDOW_EVENTS
    buffers: dict[str, list] = {}
    windows = []
    for n, d in events:
        if not n.startswith("app."):
            continue
        buf = buffers.setdefault(d["region"], [])
        buf.append(d)
        if len(buf) == size:
            windows.append({
                "region": d["region"], "count": size, "sum": sum(e["v"] for e in buf),
                "seqs": [e["seq"] for e in buf], "last_ts": 0.0,
            })
            buffers[d["region"]] = []
    return windows


def test_window_check() -> None:
    events = inputs.stream_events(5, 6000)
    good = _perfect_windows(events)
    assert len(good) > 4
    assert checks.check_windows(events, good)[0] == 0

    short = copy.deepcopy(good)
    short[0]["seqs"] = short[0]["seqs"][:-1]
    short[0]["count"] -= 1
    wrong_region = copy.deepcopy(good)
    other = next(w["region"] for w in good if w["region"] != good[0]["region"])
    wrong_region[0]["region"] = other
    wrong_sum = copy.deepcopy(good)
    wrong_sum[0]["sum"] += 1
    perturbed = {
        "short window": short,
        "missing window": good[1:],
        "duplicated window": good + good[:1],
        "window of the wrong region": wrong_region,
        "wrong aggregate": wrong_sum,
    }
    for label, delivered in perturbed.items():
        failed, _ = checks.check_windows(events, delivered)
        assert failed > 0, f"window check accepted a {label}"


def test_near_dup_reference() -> None:
    base = " ".join(f"w{i}" for i in range(60))
    near = base.replace("w30", "x30")
    other = " ".join(f"v{i}" for i in range(60))
    docs = [(1, other), (2, base), (3, near), (4, base), (5, other + " tail")]
    assert checks.near_dup_survivors(docs, 0.7) == {1, 2}
    assert checks.near_dup_survivors(docs, 0.99) == {1, 2, 3, 5}


def test_survivor_check() -> None:
    docs = inputs.corpus_docs(7, 300)
    expected = checks.near_dup_survivors(docs, 0.7)
    assert len(expected) < len(docs), "the corpus plants no duplicates"
    good = sorted(expected)
    assert checks.check_survivors(expected, good)[0] == 0
    dropped = next(i for i, _t in docs if i not in expected)
    perturbed = {
        "missing survivor": good[1:],
        "duplicated survivor": good + good[:1],
        "duplicate kept": good + [dropped],
    }
    for label, kept in perturbed.items():
        assert checks.check_survivors(expected, kept)[0] > 0, f"survivor check accepted a {label}"


def test_reference_matches_engine() -> None:
    """The reference and compile_pipeline agree on a small seeded input."""
    sys.path.insert(1, os.path.dirname(HERE))
    os.environ.setdefault("SPARK_GRAFT_CPUS", "2")
    os.environ.setdefault("CDP_SPARK_DRIVER_MEM", "1g")
    from cdp_spark.pipeline import compile_pipeline, from_yaml
    from cdp_spark.session import get_spark

    tmp = os.path.join(os.path.dirname(HERE), ".bench_run", f"selftest-{os.getpid()}")
    os.makedirs(tmp)
    spark = get_spark("perfbench-selftest")
    try:
        lines, dead = inputs.batch_lines(11, 3000)
        src = os.path.join(tmp, "events.ndjson")
        with open(src, "w", encoding="utf-8") as fh:
            fh.write("\n".join(lines) + "\n")
        template = from_yaml(pipelines.batch_etl(src, os.path.join(tmp, "sink")))
        result = compile_pipeline(spark, template)
        got = [(r["n"], r["d"]) for r in result.output.select("n", "d").collect()]
        expected = checks.batch_reference(lines)
        assert Counter((n, checks.canonical(d)) for n, d in got) == expected, \
            "the batch reference disagrees with compile_pipeline"
        failed, notes = checks.check_batch(
            expected, {"out": got}, result.dead_letters.count(), dead
        )
        assert failed == 0, notes
    finally:
        spark.stop()
        shutil.rmtree(tmp, ignore_errors=True)


def main() -> int:
    tests = [test_batch_check, test_window_check, test_near_dup_reference,
             test_survivor_check, test_reference_matches_engine]
    for test in tests:
        test()
        print(f"ok {test.__name__}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
