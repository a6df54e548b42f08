"""Steadiness check: run one workload over several seeds and report, per
end-to-end metric, the median and the spread between the first and third
quartiles as a share of the median, against the bound BENCHMARK.json
gives it.

    python3 perfbench/steady.py --workload batch_etl --seeds 1-10

Exits 1 when a metric's spread exceeds its bound or fewer than four runs
are usable.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def _seeds(spec: str) -> list[int]:
    out: list[int] = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out += list(range(int(lo), int(hi or lo) + 1))
    return out


def run_one(workload: str, seed: int, seconds: int) -> dict:
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    lines = proc.stdout.strip().splitlines()
    result = json.loads(lines[-1]) if lines and lines[-1].startswith("{") else None
    valid = not any(line.startswith("valid False") for line in lines)
    return {"seed": seed, "rc": proc.returncode, "valid": valid, "result": result}


def summarize(workload: str, rows: list[dict], bounds: dict[str, float]) -> bool:
    """Print the spread table; True when every spread stays within its
    bound."""
    good = [r for r in rows if r["result"] and r["rc"] == 0 and r["valid"]]
    print(f"{workload}: {len(good)} usable of {len(rows)} runs")
    if len(good) < 4:
        return False
    ok = True
    for name, bound in bounds.items():
        values = [r["result"]["metrics"][name]["value"] for r in good]
        med = statistics.median(values)
        q1, _, q3 = statistics.quantiles(values, n=4)
        spread = (q3 - q1) / med if med else float("inf")
        flag = ""
        if spread > bound:
            flag, ok = "  OVER BOUND", False
        elif spread > bound / 3:
            flag = "  above a third of the bound"
        print(f"  {name:16s} median {med:12.4f}  spread {spread:.3f}  bound {bound}{flag}")
    return ok


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    args = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as fh:
        spec = json.load(fh)
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    rows = []
    for seed in _seeds(args.seeds):
        row = run_one(args.workload, seed, spec["run_seconds"])
        rows.append(row)
        values = {k: round(v["value"], 4) for k, v in (row["result"] or {}).get("metrics", {}).items()}
        print(f"seed {seed}: rc {row['rc']}, valid {row['valid']}, {values}", flush=True)
    return 0 if summarize(args.workload, rows, bounds) else 1


if __name__ == "__main__":
    sys.exit(main())
