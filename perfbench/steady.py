"""Steadiness check: run workloads on several seeds and report, for each
metric, the median over runs and the quartile spread (inter-quartile
distance as a share of the median, quartiles from
`statistics.quantiles(values, n=4)`).

    python3 perfbench/steady.py --workloads tail-reads bulk-replay \
        --seeds 1 2 3 4 5 --seconds 15 --out .perfbench/steady.json

Run from the repository root.  Runs one at a time; each run's last two
stdout lines (detail and result) are kept in the output file.
"""

from __future__ import annotations

import argparse
import json
import statistics
import os
import subprocess
import sys
import time

from stats import quartile_spread

HERE = os.path.dirname(os.path.abspath(__file__))


def run_once(workload: str, seed: int, seconds: int) -> dict:
    t = time.monotonic()
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload, "--seed",
         str(seed), "--seconds", str(seconds), "--trace", "0"],
        capture_output=True, text=True, timeout=900,
    )
    wall = time.monotonic() - t
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or len(lines) < 2:
        raise RuntimeError(f"{workload} seed {seed}: exit {proc.returncode}\n{proc.stderr[-2000:]}")
    return {"wall_s": wall, "detail": json.loads(lines[-2])["detail"], "result": json.loads(lines[-1])}


def spreads(runs: list[dict]) -> dict:
    names = runs[0]["result"]["metrics"]
    out = {}
    for name in names:
        values = [r["result"]["metrics"][name]["value"] for r in runs]
        med = statistics.median(values)
        out[name] = {
            "median": med,
            "spread": quartile_spread(values) if len(values) >= 2 and med else None,
            "values": values,
        }
    return out


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workloads", nargs="+", required=True)
    ap.add_argument("--seeds", nargs="+", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--out", required=True)
    args = ap.parse_args()
    report = {}
    for w in args.workloads:
        runs = []
        for seed in args.seeds:
            r = run_once(w, seed, args.seconds)
            res = r["result"]
            print(f"{w} seed {seed}: {r['wall_s']:.1f} s correct={res['correct']} "
                  f"attempted={res['attempted']} failed={res['failed']}", flush=True)
            runs.append(r)
        report[w] = {"runs": runs, "metrics": spreads(runs)}
        for name, m in report[w]["metrics"].items():
            sp = "-" if m["spread"] is None else f"{m['spread']:.3f}"
            print(f"  {name:40s} median {m['median']:.4g}  spread {sp}", flush=True)
        os.makedirs(os.path.dirname(os.path.abspath(args.out)), exist_ok=True)
        with open(args.out, "w") as f:
            json.dump(report, f)
    return 0


if __name__ == "__main__":
    sys.exit(main())
