"""Run the benchmark once per seed and report, per metric, the median and
the quartile spread (distance between the first and third quartile as a
share of the median), with the wall time of each run.

    python3 perfbench/spread.py --workload stream_paced --seeds 1-10 --seconds 10
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import time

sys.path.insert(0, os.getcwd())

from perfbench.stats import median, quartile_spread  # noqa: E402


def seeds(spec: str) -> list[int]:
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, help="first-last, e.g. 1-10")
    ap.add_argument("--seconds", required=True)
    ap.add_argument("--trace", default="0")
    args = ap.parse_args(argv)
    runs = []
    for seed in seeds(args.seeds):
        t0 = time.perf_counter()
        proc = subprocess.run(
            [sys.executable, "perfbench/run.py", "--workload", args.workload, "--seed", str(seed),
             "--seconds", args.seconds, "--trace", args.trace],
            capture_output=True, text=True, timeout=900,
        )
        wall = time.perf_counter() - t0
        lines = proc.stdout.strip().splitlines()
        if proc.returncode != 0 or not lines:
            print(f"seed {seed}: exit {proc.returncode}\n{proc.stderr[-2000:]}", file=sys.stderr)
            return 1
        result = json.loads(lines[-1])
        runs.append({"seed": seed, "wall_s": wall, **result})
        print(json.dumps({"seed": seed, "wall_s": round(wall, 1), "correct": result["correct"],
                          "failed": result["failed"],
                          **{k: v["value"] for k, v in result["metrics"].items()}}), flush=True)
    summary = {"workload": args.workload, "runs": len(runs),
               "all_correct": all(r["correct"] and r["failed"] == 0 for r in runs),
               "wall_s_max": max(r["wall_s"] for r in runs), "metrics": {}}
    for name in runs[0]["metrics"]:
        values = [r["metrics"][name]["value"] for r in runs]
        summary["metrics"][name] = {
            "median": median(values),
            "spread": quartile_spread(values) if len(values) > 1 and median(values) else None,
        }
    print(json.dumps(summary))
    return 0


if __name__ == "__main__":
    sys.exit(main())
