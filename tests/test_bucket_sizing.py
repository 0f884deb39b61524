"""Bucket sizing of the Python tiers' shuffle: whole waves of cores from plan
statistics for the vectorized tier (plans.adaptive_buckets), the per-task
row target with a shuffle-partitions floor for the kernel tier
(plans.kernel_buckets), and output independent of the count on both."""

import pytest

from pyspark.sql import functions as F

from scotty_window_processor_spark import plans
from scotty_window_processor_spark.functions import (
    CountAggregation,
    HistogramQuantileAggregation,
    MaxAggregation,
    SumAggregation,
)
from scotty_window_processor_spark.operators import (
    SessionWindow,
    SlidingWindow,
    TumblingWindow,
    WindowMeasure,
)
from scotty_window_processor_spark.plans.scotty_batch import scotty_window_aggregate
from scotty_window_processor_spark.plans.vectorized_multi import multikey_window_aggregate
from scotty_window_processor_spark.sources import synthesize_transcripts

from spark_fixtures import get_spark


@pytest.mark.parametrize(
    "rows, cores, buckets",
    [
        (440_000, 4, 4),
        (4_400_000, 4, 20),
        (17_600_000, 4, 68),
        (4 * 262_144, 4, 4),  # exactly one full wave
        (4 * 262_144 + 1, 4, 8),
        (440_000, 16, 16),
        (10**13, 4, 32_768),  # capped
        (10**13, 3, 32_768),
        (1, 4, 4),  # never fewer than one wave
        (0, 4, 4),
        (None, 4, 4),  # no statistics
        (None, 8, 8),
    ],
)
def test_wave_buckets(rows, cores, buckets):
    assert plans.wave_buckets(rows, cores) == buckets


@pytest.fixture(scope="module")
def spark():
    return get_spark()


@pytest.fixture(scope="module")
def transcripts(spark):
    df = synthesize_transcripts(spark, n_convs=30, turns_per_conv=40, n_hot_convs=1,
                                hot_factor=10).persist()
    df.count()
    yield df
    df.unpersist()


def test_cached_input_is_sized_from_its_exact_row_count_without_a_job(spark, transcripts):
    sc = spark.sparkContext
    jobs = set(sc.statusTracker().getJobIdsForGroup(None))
    pruned = transcripts.select("conv_id", "ts", "turn_idx")
    filtered = transcripts.where(F.col("turn_idx") > 3).select("conv_id", "ts")
    assert plans.adaptive_buckets(pruned) == sc.defaultParallelism
    # the pruning Project drops the cache's rowCount; the leaf still has it
    assert plans._plan_rows(pruned) == 30 * 40 + 40 * 10
    assert plans._plan_rows(filtered) == 30 * 40 + 40 * 10  # an upper bound
    assert set(sc.statusTracker().getJobIdsForGroup(None)) == jobs


def test_vectorized_output_is_independent_of_bucket_count(spark, transcripts, monkeypatch):
    p = spark.sparkContext.defaultParallelism
    df = transcripts.withColumn("v", F.col("turn_idx").cast("double"))
    windows = [
        TumblingWindow(WindowMeasure.TIME, 600_000, window_id=1),
        SlidingWindow(WindowMeasure.TIME, 600_000, 120_000, window_id=2),
        SessionWindow(WindowMeasure.TIME, 120_000, window_id=3),
    ]
    aggs = [("n", "long", CountAggregation), ("s", "double", SumAggregation),
            ("mx", "double", MaxAggregation)]
    outputs = []
    for n in (p, 3 * p):
        used = []
        monkeypatch.setattr(plans, "adaptive_buckets", lambda d, n=n: used.append(n) or n)
        out = multikey_window_aggregate(df, "conv_id", "ts", "v", windows, aggs)
        outputs.append(sorted(tuple(r) for r in out.collect()))
        assert used == [n]
    assert outputs[0] and outputs[0] == outputs[1]


def test_kernel_tier_keeps_the_shuffle_partitions_floor(spark, transcripts):
    pruned = transcripts.select("conv_id", "ts", "turn_idx")
    floor = max(int(spark.conf.get("spark.sql.shuffle.partitions")),
                spark.sparkContext.defaultParallelism)
    assert plans.kernel_buckets(pruned) == floor
    assert plans.kernel_buckets(spark.range(0).select("id")) == floor


def test_kernel_output_is_independent_of_bucket_count(spark, transcripts, monkeypatch):
    p = spark.sparkContext.defaultParallelism
    df = transcripts.withColumn("v", F.length("text").cast("double"))
    windows = [
        SlidingWindow(WindowMeasure.TIME, 600_000, 120_000, window_id=1),
        SessionWindow(WindowMeasure.TIME, 120_000, window_id=2),
    ]
    aggs = [("n", "long", CountAggregation),
            ("p50", "double", lambda: HistogramQuantileAggregation(0.5, 0.25))]
    outputs = []
    for n in (p, 3 * p):
        used = []
        monkeypatch.setattr(plans, "kernel_buckets", lambda d, n=n: used.append(n) or n)
        out = scotty_window_aggregate(df, "conv_id", "ts", "v", windows, aggs)
        outputs.append(sorted(tuple(r) for r in out.collect()))
        assert used == [n]
    assert outputs[0] and outputs[0] == outputs[1]
