"""Benchmark of the Scotty-on-Spark engine.

Run from the root of a checkout:

    python3 perfbench/run.py --workload batch_windows --seed 1 --seconds 8 --trace 0

Workloads (``--workload all`` runs them in turn in one process):

- ``batch_windows``: closed loop, one client; the flagship multi-window
  aggregation on the vectorized tier.
- ``stream_paced``: open loop; one generator thread drops one parquet file
  on a fixed schedule into ``scotty_stream`` and the exactly-once sink.
- ``batch_kernel``: closed loop, one client; sliding 1h/1min + session with
  a histogram quantile, on the slicing-kernel tier. BENCHMARK.json leaves
  it out: with it, the repeated runs BENCHMARK.json asks for do not fit
  their time budget on a 4-core host.

Inputs come from ``sources.synthesize_transcripts(seed=--seed)``. Every
workload's output is checked against an independent computation outside
the timed region. With ``--trace 0`` the last line of standard output is
one JSON object carrying the end-to-end metrics; with ``--trace 1`` the
untraced measurement is followed by a traced one, and the JSON carries the
per-layer metrics. The lines above it list every metric by name and unit,
the session configuration and the input properties. A traced run also
runs one operator-suite leaf per ``plans`` family over tables generated
from the seed, checked against DuckDB (``perfbench/leaves.py``). The full
record, spans included, goes to ``.perfbench/results/`` in the checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench.leaves import FAMILIES, LEAVES  # noqa: E402

WORKLOADS = ("batch_windows", "stream_paced", "batch_kernel")

# metric name → unit, in reporting order
END_TO_END = {
    "setup_s": "s",
    "turns_per_s": "1/s",
    "latency_p50_ms": "ms",
}
PER_LAYER = {
    "peak_rss_mb": "MB",
    "jvm.heap_peak_mb": "MB",
    "sources.synthesize_s": "s",
    "plans.build_ms": "ms",
    "plans.buckets": "count",
    "vectorized_multi.rows_per_s": "1/s",
    "kernel.feed_ns_per_row": "ns",
    "kernel.trigger_ms_per_key": "ms",
    "kernel.slices_per_key": "count",
    "kernel.slices_per_window": "count",
    "kernel.windows_per_key": "count",
    "spark.executor_run_ms": "ms",
    "spark.executor_cpu_ms": "ms",
    "spark.shuffle_write_bytes": "bytes",
    "spark.shuffle_write_ms": "ms",
    "spark.tasks": "count",
    "spark.stages": "count",
    "arrow.python_init_ms": "ms",
    "arrow.python_total_ms": "ms",
    "arrow.bytes_received": "bytes",
    "stream.trigger_ms": "ms",
    "stream.add_batch_ms": "ms",
    "stream.wal_commit_ms": "ms",
    "stream.commit_offsets_ms": "ms",
    "stream.planning_ms": "ms",
    "stream.batches": "count",
    "stream.nodata_batches": "count",
    "state.rows_total": "count",
    "state.rows_updated": "count",
    "state.rows_removed": "count",
    "state.memory_bytes": "bytes",
    "state.commit_ms": "ms",
    "state.updates_ms": "ms",
    "state.removals_ms": "ms",
    "state_codec.encode_us_per_key": "us",
    "state_codec.decode_us_per_key": "us",
    "state_codec.bytes_per_key": "bytes",
    "sink.write_ms": "ms",
    "cold.first_iter_s": "s",
    **{f"suite.{family}_s": "s" for family in FAMILIES},
    **{f"leaf.{name}_s": "s" for name in LEAVES},
    "trace.overhead_pct": "%",
}


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ("all",))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=8.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "scotty_window_processor_spark")):
        print("perfbench: run from the root of a checkout holding the engine package "
              "scotty_window_processor_spark/", file=sys.stderr)
        return 2
    sys.path.insert(0, root)
    from perfbench import host
    from perfbench.workloads import run_workload

    work = os.path.join(root, ".perfbench")
    t0 = time.perf_counter()
    spark = host.start_session(root, work)
    session_s = time.perf_counter() - t0
    try:
        names = WORKLOADS if args.workload == "all" else (args.workload,)
        results = []
        for name in names:
            results.append(run_workload(
                spark, name, args.seed, args.seconds, bool(args.trace),
                os.path.join(work, name), session_s,
            ))
        record = {
            "host": host.host_record(spark),
            "session_config": host.session_config(work),
            "seed": args.seed, "seconds": args.seconds, "trace": args.trace,
            "workloads": results,
        }
    finally:
        host.stop_session(spark)
    os.makedirs(os.path.join(work, "results"), exist_ok=True)
    out_path = os.path.join(
        work, "results", f"{args.workload}-seed{args.seed}-trace{args.trace}.json")
    with open(out_path, "w") as f:
        json.dump(record, f, indent=1, default=float)
    wanted = PER_LAYER if args.trace else END_TO_END
    print(f"host {json.dumps(record['host'])}")
    print(f"session {json.dumps(record['session_config'])}")
    for r in results:
        print(f"[{r['workload']}] input {json.dumps(r['input'])}")
        print(f"[{r['workload']}] check {json.dumps(r['check'])}")
        for name, value in r["report"].items():
            print(f"[{r['workload']}] {name} = {value['value']:.6g} {value['unit']}"
                  + (f" (n={value['n']})" if "n" in value else "")
                  + (f" over {value['commits']} commits" if "commits" in value else ""))
    # one workload: metrics by name; all workloads: "<workload>/<name>"
    metrics = {}
    for r in results:
        prefix = "" if len(results) == 1 else f"{r['workload']}/"
        values = r["layers"] if args.trace else r["e2e"]
        for name, unit in wanted.items():
            metrics[prefix + name] = {"value": values[name], "unit": unit}
    print(json.dumps({
        "correct": all(r["correct"] for r in results),
        "attempted": sum(r["attempted"] for r in results),
        "failed": sum(r["failed"] for r in results),
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
