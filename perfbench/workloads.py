"""One run of one workload: set-up, cold iteration, the untraced timed
region, the output check and, when traced, the traced region and the
single-layer probes."""

from __future__ import annotations

import os
import statistics
import time

import pandas as pd

from pyspark.sql import Window
from pyspark.sql import functions as F

from perfbench import batch, host, layers, leaves, stream
from perfbench.spans import SparkCounters, Tracer, layer_self_times
from perfbench.stats import median, percentile
from scotty_window_processor_spark.plans import adaptive_buckets
from scotty_window_processor_spark.plans.scotty_batch import _final_watermark

SETUP_REPS = 3
MIN_ITERATIONS = 3
REPLAY_FILES = 3  # the first one is the cold phase
WARM_FILES = 1  # stream_paced: files processed before the paced ones
# stream_paced offers files for --seconds but at least this many: each file's
# windows share one commit, so the emission median is over this many commits
MIN_PACED_FILES = 3
LEAF_PASSES = 1  # warm passes over the operator-suite leaves in a traced run


def run_workload(spark, name, seed, seconds, traced, work, session_s) -> dict:
    """Set-up time is the session start plus the median of SETUP_REPS input
    preparations; the Python workers start in the cold iteration."""
    os.makedirs(work, exist_ok=True)
    if name == "stream_paced":
        r = _run_stream(spark, seed, seconds, traced, work)
    else:
        r = _run_batch(spark, batch.SPECS[name], seed, seconds, traced, work)
    r["setup"] = {"session_s": session_s, **r["setup"]}
    setup_s = session_s + median(r["setup"]["prepare_s"])
    r["report"] = {"setup_s": {"value": setup_s, "unit": "s"}, **r["report"]}
    r["e2e"]["setup_s"] = setup_s
    r["workload"] = name
    if traced:
        _trace_leaves(spark, seed, work, r)
    return r


def closed_loop(seconds: float, op, min_iterations: int = MIN_ITERATIONS) -> list[float]:
    """Run ``op(i)`` back to back until ``seconds`` have passed (at least
    ``min_iterations`` times); wall time of each call."""
    times = []
    deadline = time.perf_counter() + seconds
    while len(times) < min_iterations or time.perf_counter() < deadline:
        t0 = time.perf_counter()
        op(len(times))
        times.append(time.perf_counter() - t0)
    return times


# -- batch -------------------------------------------------------------------

def _batch_properties(df) -> dict:
    t = F.unix_millis(batch.TS)
    prev = F.max(t).over(Window.partitionBy(batch.KEY).orderBy("turn_idx")
                         .rowsBetween(Window.unboundedPreceding, -1))
    row = df.select(batch.KEY, (t < prev).alias("ooo"),
                    (t < prev - F.lit(batch.LATENESS_MS)).alias("late")).agg(
        F.count(F.lit(1)).alias("rows"),
        F.countDistinct(batch.KEY).alias("keys"),
        F.sum(F.col("ooo").cast("long")).alias("ooo"),
        F.sum(F.col("late").cast("long")).alias("late"),
    ).collect()[0]
    hot = df.groupBy(batch.KEY).count().orderBy(F.desc("count"), batch.KEY).first()
    rows = int(row["rows"])
    return {
        "rows": rows,
        "keys": int(row["keys"]),
        "hot_key": hot[batch.KEY],
        "hot_key_row_share": hot["count"] / rows,
        "out_of_order_share": int(row["ooo"] or 0) / rows,
        "beyond_lateness_share": int(row["late"] or 0) / rows,
        "active_keys_per_batch": int(row["keys"]),
    }


def _run_batch(spark, spec, seed, seconds, traced, work) -> dict:
    untraced = Tracer(spec.name, enabled=False)
    prepare_s, df = [], None
    for _ in range(SETUP_REPS):
        if df is not None:
            df.unpersist(blocking=True)
        t0 = time.perf_counter()
        df = spec.synthesize(spark, seed).persist()
        df.count()
        prepare_s.append(time.perf_counter() - t0)
    props = _batch_properties(df)
    n_rows = props["rows"]

    failures = []

    def iteration(i, tracer=untraced):
        try:
            batch.run_iteration(spec, df, tracer, i)
        except Exception as e:  # noqa: BLE001 - a failed operation is counted, not fatal
            failures.append(repr(e))

    t0 = time.perf_counter()
    iteration(-1)
    cold_s = time.perf_counter() - t0
    times = closed_loop(seconds, iteration)
    peak_mb = host.tree_hwm_mb()
    heap_mb = host.jvm_heap_peak_mb(spark)
    check = batch.check_output(spec, df)
    props["windows_emitted"] = check["windows_emitted"]
    correct = check["mismatched"] == 0 and not failures
    attempted = len(times)
    failed = min(attempted, len(failures)) if check["mismatched"] == 0 else attempted

    p50 = percentile(times, 50)
    report = {
        "peak_rss_mb": {"value": peak_mb, "unit": "MB"},
        "jvm.heap_peak_mb": {"value": heap_mb, "unit": "MB"},
        "turns_per_s": {"value": n_rows / p50.value, "unit": "1/s", "n": p50.n},
        "iteration_p50_ms": {"value": p50.value * 1e3, "unit": "ms", "n": p50.n},
        "cold.first_iter_s": {"value": cold_s, "unit": "s"},
    }
    result = {
        "input": props, "check": check, "correct": correct, "attempted": attempted,
        "failed": failed, "errors": failures[:5],
        "setup": {"prepare_s": prepare_s},
        "iterations_s": times,
        "report": report,
        "e2e": {"turns_per_s": report["turns_per_s"]["value"],
                "latency_p50_ms": report["iteration_p50_ms"]["value"]},
    }
    if traced:
        result["layers"] = _trace_batch(spark, spec, df, seconds, work, props, result)
        result["layers"]["sources.synthesize_s"] = median(prepare_s)
        result["layers"]["cold.first_iter_s"] = cold_s
        result["layers"]["jvm.heap_peak_mb"] = heap_mb
        result["layers"]["peak_rss_mb"] = peak_mb
    df.unpersist()
    return result


def _trace_batch(spark, spec, df, seconds, work, props, result) -> dict:
    counters = SparkCounters(spark)
    tracer = Tracer(spec.name)
    per_iter, roots = [], []

    def iteration(i):
        with tracer.span("iteration", iteration=i) as root:
            with tracer.span("trace.counters"):
                mark = counters.mark()
            batch.run_iteration(spec, df, tracer, i)
            with tracer.span("trace.counters"):
                c = counters.since(mark)
        root.attrs.update(c)
        per_iter.append(c)
        roots.append(root)

    traced_times = closed_loop(seconds, iteration)
    # means: several SQL metrics arrive rounded to 0.1 s, a median would
    # repeat that rounding
    metrics = {name: statistics.fmean(c[name] for c in per_iter) for name in per_iter[0]}
    build = [s.duration * 1e3 for s in tracer.spans if s.name == "plans.build"]
    metrics["plans.build_ms"] = median(build)
    untraced_p50 = median(result["iterations_s"])
    metrics["trace.overhead_pct"] = (median(traced_times) - untraced_p50) / untraced_p50 * 100
    layers_one = layer_self_times(tracer.spans, roots[len(roots) // 2].id)
    wall = roots[len(roots) // 2].duration
    result["trace"] = {
        "spans": tracer.records(),
        "iteration_layer_self_s": layers_one,
        "iteration_wall_s": wall,
        "layer_coverage": (wall - layers_one.get("iteration", 0.0)) / wall,
        "traced_iterations_s": traced_times,
    }

    pruned = df.select(batch.KEY, batch.TS, "v")
    metrics["plans.buckets"] = float(adaptive_buckets(pruned))
    sample = (stream.with_sample_bucket(df)
              .where((F.col(stream.SAMPLE_COL) == 0) | (F.col(batch.KEY) == props["hot_key"]))
              .withColumn("ts_ms", F.unix_millis(batch.TS)).toPandas())
    metrics.update(_kernel_probe_batch(sample, spec))
    metrics.update(layers.vectorized_probe(
        sample.rename(columns={batch.KEY: "key"}), spec.windows))
    metrics.update(_stream_replay(spark, sample, spec.windows, spec.aggs, work, result))
    return metrics


def _kernel_probe_batch(sample: pd.DataFrame, spec) -> dict:
    feeds = []
    windows = spec.windows()
    for _, g in sample.groupby(batch.KEY, sort=True):
        ts = g["ts_ms"].to_numpy("int64")
        wm = _final_watermark(int(ts.max()), windows, batch.LATENESS_MS)
        feeds.append(layers.KernelFeed([ts], [g["v"].to_numpy("float64")], [wm]))
    return layers.kernel_probe(feeds, spec.windows, spec.aggs, batch.LATENESS_MS)


def _plan_metrics_mean(run: stream.StreamRun) -> dict:
    """Mean over data batches of each micro-batch plan metric."""
    data_ids = [p["batchId"] for p in run.progress
                if p.get("numInputRows", 0) > 0 and p["batchId"] >= run.first_timed_batch]
    per_batch = [run.sink.plan_metrics[b] for b in data_ids if b in run.sink.plan_metrics]
    if not per_batch:
        return {}
    return {k: statistics.fmean(m[k] for m in per_batch) for k in per_batch[0]}


def _stream_metrics(run: stream.StreamRun) -> dict:
    m = stream.progress_metrics(run.progress, run.first_timed_batch)
    data_ids = [p["batchId"] for p in run.progress
                if p.get("numInputRows", 0) > 0 and p["batchId"] >= run.first_timed_batch]
    writes = [run.sink.write_s[b] * 1e3 for b in data_ids if b in run.sink.write_s]
    m["sink.write_ms"] = median(writes) if writes else 0.0
    return m


def _stream_replay(spark, sample: pd.DataFrame, windows_factory, aggs, work, result) -> dict:
    """The streaming layers on a batch workload's input: the sampled keys'
    rows, in arrival order, as REPLAY_FILES files, the first on its own and
    the rest all at once, so their micro-batches run back to back. Its
    output is checked like ``stream_paced``'s and mismatches count as
    failed operations of the run."""
    inp = stream.stage_files(sample, REPLAY_FILES, os.path.join(work, "replay-staging"))
    tracer = Tracer("replay", enabled=False)
    run = stream.run_query(spark, inp, os.path.join(work, "replay"), windows_factory(), aggs,
                           None, tracer, warm_files=1)
    check, failed, correct = _check_stream_run(
        spark, inp, run, stream.committed_windows(spark, run), aggs, windows_factory)
    result["trace"]["replay"] = {"input": inp.properties, "check": check}
    _count(result, check["instances_compared"], failed, correct)
    return _stream_metrics(run)


def _count(result, attempted: int, failed: int, correct: bool) -> None:
    """Add a traced-run check's operations to the run's totals."""
    result["attempted"] += max(attempted, 1)
    result["failed"] += min(failed, max(attempted, 1))
    result["correct"] = result["correct"] and correct


def _check_stream_run(spark, inp, run, committed, aggs, windows_factory):
    """Check a stream run's committed windows; (check, failed, correct)."""
    dropped = stream.dropped_rows(inp, run)
    complete = dropped is not None
    if not complete:
        dropped = inp.rows["late"].to_numpy()
    check = stream.check_stream(spark, inp, committed, aggs, dropped, windows_factory)
    spark_dropped = stream.progress_metrics(run.progress)["state.rows_dropped_by_watermark"]
    check.update(
        watermark_mismatches=stream.watermark_mismatches(run.progress, inp.wm_after),
        rows_dropped=int(dropped.sum()), rows_dropped_by_spark=int(spark_dropped),
        progress_complete=complete, finished=run.finished,
    )
    failed = check["mismatched"] + check["windows_duplicated"]
    if not run.finished:
        failed = max(check["instances_compared"], 1)
    correct = (failed == 0 and check["watermark_mismatches"] == 0 and complete
               and check["rows_dropped"] == check["rows_dropped_by_spark"])
    return check, failed, correct


# -- stream ------------------------------------------------------------------

def _run_stream(spark, seed, seconds, traced, work) -> dict:
    """WARM_FILES files start the query (the cold phase); then ``seconds``
    worth of files, and at least MIN_PACED_FILES, are offered on the fixed
    schedule."""
    spec = stream.PACED
    n_files = WARM_FILES + max(MIN_PACED_FILES, int(round(seconds / spec.period_s)))
    prepare_s = []
    for _ in range(SETUP_REPS):
        t0 = time.perf_counter()
        pdf = stream.synthesize_pandas(
            spark, spec.convs_per_file * n_files, spec.turns_per_conv,
            spec.n_hot_convs, spec.hot_factor, seed)
        inp = stream.stage_files(pdf, n_files, os.path.join(work, "staging"))
        prepare_s.append(time.perf_counter() - t0)

    counters = SparkCounters(spark)
    run = stream.run_query(spark, inp, os.path.join(work, "paced"), stream.stream_windows(),
                           stream.STREAM_AGGS, spec.period_s, Tracer("stream_paced", enabled=False),
                           warm_files=WARM_FILES, counters=counters)
    spark_counters = counters.since(run.counters_mark)
    peak_mb = host.tree_hwm_mb()
    heap_mb = host.jvm_heap_peak_mb(spark)
    result = _stream_result(spark, inp, run, spec, n_files)
    result["setup"] = {"prepare_s": prepare_s}
    result["report"] = {"peak_rss_mb": {"value": peak_mb, "unit": "MB"},
                        "jvm.heap_peak_mb": {"value": heap_mb, "unit": "MB"},
                        **result["report"]}
    result["e2e"] = {"turns_per_s": result["report"]["stream_turns_per_s"]["value"],
                     "latency_p50_ms": result["report"]["emit_p50_ms"]["value"]}
    result["spark_counters"] = spark_counters
    if traced:
        layers_ = _trace_stream(spark, inp, spec, work, result)
        layers_["sources.synthesize_s"] = median(prepare_s)
        layers_["cold.first_iter_s"] = run.cold_s
        layers_["jvm.heap_peak_mb"] = heap_mb
        layers_["peak_rss_mb"] = peak_mb
        result["layers"] = layers_
    return result


def _stream_result(spark, inp, run, spec, n_files) -> dict:
    committed = stream.committed_windows(spark, run)
    check, failed, correct = _check_stream_run(spark, inp, run, committed, stream.STREAM_AGGS,
                                               stream.stream_windows)
    lats, commits, unattributed = stream.emission_latencies(committed, run, inp.wm_after,
                                                            first_file=WARM_FILES)
    batches = stream.batch_log(run)
    check["unattributed"] = unattributed
    props = dict(inp.properties)
    props["windows_emitted"] = check["windows_committed"]
    props["offered_turns_per_s"] = props["rows"] / n_files / spec.period_s
    props["period_s"] = spec.period_s

    attempted = max(check["instances_compared"], 1)
    if run.finished:
        failed += unattributed
    correct = correct and unattributed == 0

    last_commit = max(run.sink.returned.values())
    paced_rows = int((inp.rows["file"] >= WARM_FILES).sum())
    p50, p99 = percentile(lats, 50), percentile(lats, 99)
    late_ms = [(c - d) * 1e3 for c, d in zip(run.created[WARM_FILES:], run.due[WARM_FILES:])]
    # from the first paced file's due time to the last commit
    report = {
        "stream_turns_per_s": {"value": paced_rows / (last_commit - run.due[WARM_FILES]),
                               "unit": "1/s"},
        "emit_p50_ms": {"value": p50.value, "unit": "ms", "n": p50.n,
                        "commits": len(set(commits))},
        "emit_p99_ms": {"value": p99.value, "unit": "ms", "n": p99.n,
                        "commits": len(set(commits))},
        "cold.first_iter_s": {"value": run.cold_s, "unit": "s"},
        "gen.late_ms_max": {"value": max(late_ms), "unit": "ms"},
    }
    return {
        "input": props, "check": check, "correct": correct, "attempted": attempted,
        "failed": min(failed, attempted), "report": report, "latencies_ms": lats,
        "batches": batches,
    }


def _trace_stream(spark, inp, spec, work, result) -> dict:
    """A second paced run with spans around the generator's file drops and
    every sink call, then the single-layer probes on the sampled keys."""
    tracer = Tracer("stream_paced")
    counters = SparkCounters(spark)
    run = stream.run_query(spark, inp, os.path.join(work, "paced-traced"), stream.stream_windows(),
                           stream.STREAM_AGGS, spec.period_s, tracer, warm_files=WARM_FILES,
                           counters=counters)
    c = counters.since(run.counters_mark)
    traced = _stream_result(spark, inp, run, spec, len(inp.files))
    _count(result, traced["attempted"], traced["failed"], traced["correct"])
    metrics = _stream_metrics(run)
    per_batch = max(1.0, metrics["stream.batches"] + metrics["stream.nodata_batches"])
    metrics.update({k: v / per_batch for k, v in c.items()})
    metrics.update(_plan_metrics_mean(run))
    metrics["plans.build_ms"] = median(
        [s.duration * 1e3 for s in tracer.spans if s.name == "plans.build"])
    untraced = result["report"]["emit_p50_ms"]["value"]
    metrics["trace.overhead_pct"] = (traced["report"]["emit_p50_ms"]["value"] - untraced) / untraced * 100
    result["trace"] = {"spans": tracer.records(), "check": traced["check"],
                       "spark_counters_total": c, "report": traced["report"]}

    rows = inp.rows[~inp.rows["late"]]
    hot = inp.rows[stream.KEY].value_counts().index[0]
    sample = rows[(rows[stream.SAMPLE_COL] == 0) | (rows[stream.KEY] == hot)]
    wm_before = [0] + inp.wm_after[:-1]
    feeds = []
    for _, g in sample.groupby(stream.KEY, sort=True):
        ts_chunks, v_chunks, wms = [], [], []
        for k, part in g.groupby("file", sort=True):
            ts_chunks.append(part["ts_ms"].to_numpy("int64"))
            v_chunks.append(part["v"].to_numpy("float64"))
            wms.append(wm_before[k])
        ts_chunks.append(ts_chunks[0][:0])
        v_chunks.append(v_chunks[0][:0])
        wms.append(inp.wm_after[-1])
        feeds.append(layers.KernelFeed(ts_chunks, v_chunks, wms))
    metrics.update(layers.kernel_probe(feeds, stream.stream_windows, stream.STREAM_AGGS,
                                       stream.LATENESS_MS))
    metrics.update(layers.vectorized_probe(
        sample.rename(columns={stream.KEY: "key"}), stream.stream_windows))
    sdf = spark.createDataFrame(rows[[stream.KEY, "ts_ms", "v"]])
    metrics["plans.buckets"] = float(adaptive_buckets(sdf))
    return metrics


# -- operator-suite leaves (traced runs) -------------------------------------

def _trace_leaves(spark, seed, work, result) -> None:
    """The operator-suite leaves over the seed's tables: a cold pass that
    checks each leaf's output against its DuckDB oracle (a mismatching leaf
    is a failed operation of the run), then LEAF_PASSES warm traced passes;
    per-leaf median warm wall time and its family sums."""
    suite = leaves.LeafSuite(spark, seed, os.path.join(work, "leaves"))
    tracer = Tracer(result["workload"])
    cold, check = suite.check_pass()
    passes = [suite.run_pass(tracer, i) for i in range(LEAF_PASSES)]
    leaf_s = {name: median([p[name] for p in passes]) for name in leaves.LEAVES}
    _count(result, check["leaves"], check["mismatched"], check["mismatched"] == 0)
    result["layers"].update(leaves.family_times(leaf_s))
    result["layers"].update({f"leaf.{name}_s": v for name, v in leaf_s.items()})
    result["leaves"] = {"check": check, "cold_s": cold, "passes_s": passes,
                        "spans": tracer.records()}
