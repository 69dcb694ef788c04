#!/usr/bin/env python3
"""Run-to-run spread of the end-to-end metrics over a set of seeds.

    python3 perfbench/steadiness.py --workload graph_loops --runs 10 [--first-seed 100]

Runs the benchmark --runs times with consecutive seeds and prints, per
end-to-end metric, the median, the inter-quartile distance as a share of
the median (`statistics.quantiles(values, n=4)`) and the metric's bound
from BENCHMARK.json. Raw result lines are appended to --log if given.
"""
import argparse
import json
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT / "perfbench"))

from stats import median, spread  # noqa: E402


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--log")
    args = ap.parse_args()
    decl = json.loads((ROOT / "BENCHMARK.json").read_text())
    bounds = {m["name"]: m["bound"] for m in decl["end_to_end"]}
    values = {k: [] for k in bounds}
    for seed in range(args.first_seed, args.first_seed + args.runs):
        cmd = [sys.executable, str(ROOT / "perfbench" / "run.py"), "--workload", args.workload,
               "--seed", str(seed), "--seconds", str(decl["run_seconds"]), "--trace", "0"]
        r = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
                           text=True)
        line = r.stdout.strip().splitlines()[-1] if r.stdout.strip() else ""
        if args.log:
            with open(args.log, "a") as f:
                f.write(f"{args.workload} {seed} {r.returncode} {line}\n")
        if r.returncode != 0:
            sys.exit(f"seed {seed}: exit {r.returncode}")
        for k, v in json.loads(line)["metrics"].items():
            values[k].append(v["value"])
    for k, vs in values.items():
        print(f"{args.workload:12s} {k:12s} median {median(vs):10.3f}  spread {spread(vs):.3f}"
              f"  bound {bounds[k]}")


if __name__ == "__main__":
    main()
