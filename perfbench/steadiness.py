#!/usr/bin/env python3
"""Run the benchmark on several seeds and report each end-to-end metric's
median, quartiles and quartile spread ((q3 - q1) / median).

Usage (from the repository root):
  python3 perfbench/steadiness.py --workload scd2_ingest --seeds 1-10 \
      [--seconds 16] [--out .bench_build/steady_scd2_ingest.json]
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import stats  # noqa: E402


def seeds(spec):
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--seconds", type=int,
                    default=json.load(open(os.path.join(HERE, "..", "BENCHMARK.json")))["run_seconds"])
    ap.add_argument("--out")
    args = ap.parse_args()
    runs = []
    for seed in seeds(args.seeds):
        r = subprocess.run([sys.executable, os.path.join(HERE, "run.py"),
                            "--workload", args.workload, "--seed", str(seed),
                            "--seconds", str(args.seconds), "--trace", "0"],
                           capture_output=True, text=True)
        lines = r.stdout.strip().splitlines()
        if r.returncode != 0 or len(lines) < 2:
            sys.exit(f"seed {seed} failed ({r.returncode}): {r.stderr[-2000:]}")
        summary, result = json.loads(lines[-2]), json.loads(lines[-1])
        runs.append({"seed": seed, "correct": result["correct"],
                     "attempted": result["attempted"], "failed": result["failed"],
                     "metrics": {k: v["value"] for k, v in result["metrics"].items()},
                     "aux": {k: v for k, v in summary.items()
                             if isinstance(v, (int, float, dict)) and k not in
                             ("seed", "check", "start_state")}})
        print(json.dumps(runs[-1]), flush=True)
    report = {"workload": args.workload, "seconds": args.seconds, "runs": runs,
              "metrics": {}}
    for name in runs[0]["metrics"]:
        vals = [r["metrics"][name] for r in runs]
        q1, q2, q3 = statistics.quantiles(vals, n=4)
        report["metrics"][name] = {"median": q2, "q1": q1, "q3": q3,
                                   "spread": stats.quartile_spread(vals)}
    print(json.dumps(report["metrics"], indent=1))
    if args.out:
        os.makedirs(os.path.dirname(os.path.abspath(args.out)), exist_ok=True)
        with open(args.out, "w") as fh:
            json.dump(report, fh, indent=1)


if __name__ == "__main__":
    main()
