"""Closed-loop batch workloads: one client runs ``scotty_window_aggregate``
over persisted synthesized transcripts, materialized through the ``noop``
sink so every output column is computed.

- ``batch_windows``: tumbling 10m + tumbling 1h + session 5m with count
  and sum over the headline input of ``bench.py`` (2,000 conversations of
  200 turns plus 4 hot ones, 440k turns); the cost chooser routes it to
  the vectorized tier.
- ``batch_kernel``: sliding 1h/1min (60 slices per window) + session 5m
  with count and the histogram quantile of the text length; no Catalyst
  or numpy form exists, so it runs on the slicing-kernel tier.
"""

from __future__ import annotations

import time
from dataclasses import dataclass
from typing import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from scotty_window_processor_spark.functions import (
    CountAggregation,
    HistogramQuantileAggregation,
    SumAggregation,
)
from scotty_window_processor_spark.operators import (
    SessionWindow,
    SlidingWindow,
    TumblingWindow,
    WindowMeasure,
)
from scotty_window_processor_spark.plans.scotty_batch import scotty_window_aggregate
from scotty_window_processor_spark.sources import synthesize_transcripts

KEY, TS = "conv_id", "ts"
LATENESS_MS = 30_000
HIST_WIDTH = 0.25


@dataclass(frozen=True)
class BatchSpec:
    name: str
    n_convs: int
    turns_per_conv: int
    n_hot_convs: int
    hot_factor: int
    value_expr: Callable[[], object]
    windows: Callable[[], list]
    aggs: tuple

    def synthesize(self, spark, seed: int) -> DataFrame:
        return synthesize_transcripts(
            spark, n_convs=self.n_convs, turns_per_conv=self.turns_per_conv,
            n_hot_convs=self.n_hot_convs, hot_factor=self.hot_factor, seed=seed,
        ).withColumn("v", self.value_expr())

    def plan(self, df: DataFrame) -> DataFrame:
        return scotty_window_aggregate(
            df, key=KEY, ts=TS, value="v", windows=self.windows(), aggs=list(self.aggs),
            lateness_ms=LATENESS_MS,
        )


BATCH_WINDOWS = BatchSpec(
    name="batch_windows",
    n_convs=2000, turns_per_conv=200, n_hot_convs=4, hot_factor=50,
    value_expr=lambda: F.col("tool").isNotNull().cast("double"),
    windows=lambda: [
        TumblingWindow(WindowMeasure.TIME, 600_000, window_id=1),
        TumblingWindow(WindowMeasure.TIME, 3_600_000, window_id=2),
        SessionWindow(WindowMeasure.TIME, 300_000, window_id=3),
    ],
    aggs=(("turns", "long", CountAggregation), ("tool_calls", "double", SumAggregation)),
)

BATCH_KERNEL = BatchSpec(
    name="batch_kernel",
    n_convs=400, turns_per_conv=100, n_hot_convs=2, hot_factor=20,
    value_expr=lambda: F.length("text").cast("double"),
    windows=lambda: [
        SlidingWindow(WindowMeasure.TIME, 3_600_000, 60_000, window_id=1),
        SessionWindow(WindowMeasure.TIME, 300_000, window_id=2),
    ],
    aggs=(("turns", "long", CountAggregation),
          ("p50_len", "double", lambda: HistogramQuantileAggregation(0.5, HIST_WIDTH))),
)

SPECS = {s.name: s for s in (BATCH_WINDOWS, BATCH_KERNEL)}


def run_iteration(spec: BatchSpec, df: DataFrame, tracer, i: int) -> None:
    """Plan build plus a ``noop``-sink write: one timed operation."""
    with tracer.span("plans.build"):
        out = spec.plan(df)
    with tracer.span("spark.execute"):
        out.write.format("noop").mode("overwrite").save()


def _catalyst_family(df: DataFrame, w, aggs) -> DataFrame:
    """One window family as a plain Catalyst groupBy, independent of the
    engine's planner."""
    if isinstance(w, SessionWindow):
        win = F.session_window(F.col(TS), f"{w.gap} milliseconds")
    elif isinstance(w, SlidingWindow):
        win = F.window(F.col(TS), f"{w.size} milliseconds", f"{w.slide} milliseconds")
    else:
        win = F.window(F.col(TS), f"{w.size} milliseconds")
    exprs = []
    for name, ddl, factory in aggs:
        fn = factory()
        if isinstance(fn, CountAggregation):
            e = F.count(F.lit(1))
        elif isinstance(fn, SumAggregation):
            e = F.sum("v")
        elif isinstance(fn, HistogramQuantileAggregation):
            # the smallest bin whose cumulative count reaches
            # max(1, ceil(q·n)) is the bin at that rank of the sorted bins
            bins = F.array_sort(F.collect_list(F.floor(F.col("v") / F.lit(fn.width))))
            rank = F.greatest(F.lit(1), F.ceil(F.count("v") * F.lit(float(fn.q)))).cast("int")
            e = F.element_at(bins, rank) * F.lit(fn.width)
        else:
            raise ValueError(f"no Catalyst oracle for {type(fn).__name__}")
        exprs.append(e.cast(ddl).alias(name))
    return df.groupBy(F.col(KEY), win.alias("w")).agg(*exprs).select(
        F.col(KEY),
        F.lit(w.window_id).cast("long").alias("window_id"),
        F.unix_millis(F.col("w.start")).alias("w_start"),
        F.unix_millis(F.col("w.end")).alias("w_end"),
        *[F.col(name) for name, _, _ in aggs],
    )


def check_output(spec: BatchSpec, df: DataFrame) -> dict:
    """Compare the engine's output with one Catalyst subplan per window
    family by a distributed full outer join on the window instance: counts
    must match exactly, sums within a relative 1e-9, quantile bins exactly."""
    windows = spec.windows()
    oracle = None
    for w in windows:
        part = _catalyst_family(df, w, spec.aggs)
        oracle = part if oracle is None else oracle.unionByName(part)
    keys = [KEY, "window_id", "w_start", "w_end"]
    names = [name for name, _, _ in spec.aggs]
    engine = spec.plan(df).select(*keys, *[F.col(n).alias(f"e_{n}") for n in names])
    ref = oracle.select(*keys, *[F.col(n).alias(f"o_{n}") for n in names])
    j = engine.withColumn("_e", F.lit(1)).join(ref.withColumn("_o", F.lit(1)), keys, "full_outer")
    bad = F.col("_e").isNull() | F.col("_o").isNull()
    for name, ddl, _ in spec.aggs:
        e, o = F.col(f"e_{name}"), F.col(f"o_{name}")
        if ddl == "double":
            diff = F.abs(e - o) > F.greatest(F.lit(1.0), F.abs(o)) * F.lit(1e-9)
        else:
            diff = e != o
        bad = bad | diff | (e.isNull() != o.isNull())
    t0 = time.perf_counter()
    row = j.agg(
        F.count(F.lit(1)).alias("instances"),
        F.sum(F.when(bad, 1).otherwise(0)).alias("mismatched"),
        F.sum(F.when(F.col("_e").isNotNull(), 1).otherwise(0)).alias("emitted"),
    ).collect()[0]
    return {
        "windows_emitted": int(row["emitted"] or 0),
        "instances_compared": int(row["instances"]),
        "mismatched": int(row["mismatched"] or 0),
        "check_s": time.perf_counter() - t0,
    }
