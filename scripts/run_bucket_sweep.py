"""Bucket-count sweep for the Python tiers' shuffle (``plans.adaptive_buckets``
for the vectorized tier, ``plans.kernel_buckets`` for the kernel tier).

Runs one of the benchmark's batch queries (``perfbench/batch.py``) at
multiples of its input; conversations and hot conversations scale together:

- ``batch_windows`` (vectorized tier: tumbling 10m + 1h and session 5m,
  count + sum): 1x, 10x and 40x are 440k, 4.4M and 17.6M turns;
- ``batch_kernel`` (slicing-kernel tier: sliding 1h/1min and session 5m,
  count + histogram quantile): 1x, 10x and 40x are 44k, 440k and 1.76M
  turns.

For each point it prints the bucket count used, the median wall time of the
timed iterations (plan + ``noop`` write, after one untimed warm-up
iteration) and the peak resident memory of the process tree (this
interpreter, the JVM and the Python workers, read before the check). Every
point's output is then checked against one Catalyst groupBy per window
family (``perfbench.batch.check_output``), untimed.

``--buckets`` takes ``auto`` (the engine's own choice) and/or forced
counts; a forced count replaces the query's sizing rule in ``plans`` in the
child process. Each point runs in a fresh subprocess under the benchmark's
session configuration (``perfbench.host``: ``local[nproc]``, 2 GiB JVM
heap), so its peak memory and JVM state are its own; a point that fails
(for example out of memory) is reported and the sweep goes on.

Usage: python scripts/run_bucket_sweep.py [--query batch_windows|batch_kernel]
           [--scales 1,10,40] [--buckets auto,4,64] [--seed 1] [--iterations 8]
"""

from __future__ import annotations

import argparse
import dataclasses
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

# the sizing rule in ``plans`` that each query's tier reads per call
SIZING = {"batch_windows": "adaptive_buckets", "batch_kernel": "kernel_buckets"}


def run_point(query: str, scale: int, forced: int | None, seed: int, iterations: int,
              work: str) -> dict:
    """One sweep point, in this process: prints its timing and memory as a
    ``TIMED`` line, then checks the output and returns the check's counts."""
    from perfbench import batch, host
    from scotty_window_processor_spark import plans

    base = batch.SPECS[query]
    spec = dataclasses.replace(base, n_convs=base.n_convs * scale,
                               n_hot_convs=base.n_hot_convs * scale)
    spark = host.start_session(REPO, work)
    try:
        spark.sparkContext.setLogLevel("ERROR")
        df = spec.synthesize(spark, seed).persist()
        rows = df.count()
        if forced is not None:
            setattr(plans, SIZING[query], lambda _df: forced)
        buckets = getattr(plans, SIZING[query])(df.select(batch.KEY, batch.TS, "v"))
        times = []
        for _ in range(iterations + 1):
            t0 = time.perf_counter()
            spec.plan(df).write.format("noop").mode("overwrite").save()
            times.append(time.perf_counter() - t0)
        timed = {"rows": rows, "buckets": buckets, "warmup_s": times[0],
                 "iterations_s": times[1:], "median_s": statistics.median(times[1:]),
                 "peak_rss_mb": host.tree_hwm_mb(),
                 "jvm_heap_peak_mb": host.jvm_heap_peak_mb(spark)}
        # reported before the check, so a check that fails still shows the timing
        print("TIMED " + json.dumps(timed), flush=True)
        check = batch.check_output(spec, df)
        return {"windows": check["windows_emitted"], "mismatched": check["mismatched"]}
    finally:
        host.stop_session(spark)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--query", default="batch_windows", choices=sorted(SIZING))
    ap.add_argument("--scales", default="1,10,40")
    ap.add_argument("--buckets", default="auto",
                    help="comma list of 'auto' and forced bucket counts")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--iterations", type=int, default=8)
    ap.add_argument("--point", help=argparse.SUPPRESS)  # child mode: scale,buckets
    args = ap.parse_args()

    if args.point:
        scale, b = args.point.split(",")
        work = os.path.join(REPO, ".perfbench", "bucket_sweep")
        shutil.rmtree(work, ignore_errors=True)
        r = run_point(args.query, int(scale), None if b == "auto" else int(b), args.seed,
                      args.iterations, work)
        shutil.rmtree(work, ignore_errors=True)
        print("RESULT " + json.dumps(r), flush=True)
        return

    print("| scale | rows | buckets | median s | iterations s | peak RSS MB | JVM heap peak MB "
          "| windows | mismatched |")
    print("|---|---|---|---|---|---|---|---|---|")
    for scale in (int(s) for s in args.scales.split(",")):
        for b in args.buckets.split(","):
            proc = subprocess.run(
                [sys.executable, os.path.abspath(__file__), "--point", f"{scale},{b}",
                 "--query", args.query, "--seed", str(args.seed),
                 "--iterations", str(args.iterations)],
                capture_output=True, text=True,
            )
            out = {l.split(" ", 1)[0]: json.loads(l.split(" ", 1)[1])
                   for l in proc.stdout.splitlines() if l.startswith(("TIMED ", "RESULT "))}
            failed = proc.returncode != 0 or "RESULT" not in out
            if failed:
                sys.stderr.write(proc.stderr[-4000:])
                errors = [l for l in proc.stderr.splitlines() if "Error" in l] or ["see stderr"]
                note = f"failed (rc {proc.returncode}): {errors[0][:120]}"
            r = out.get("TIMED")
            if r is None:
                print(f"| {scale}x | | {b} | run {note} | | | | | |", flush=True)
                continue
            its = ", ".join(f"{t:.2f}" for t in r["iterations_s"])
            label = f"{r['buckets']}" + (" (auto)" if b == "auto" else "")
            checked = (f"check {note} |" if failed
                       else f"{out['RESULT']['windows']:,} | {out['RESULT']['mismatched']}")
            print(f"| {scale}x | {r['rows']:,} | {label} | {r['median_s']:.2f} | {its} "
                  f"| {r['peak_rss_mb']:.0f} | {r['jvm_heap_peak_mb']:.0f} | {checked} |",
                  flush=True)


if __name__ == "__main__":
    main()
