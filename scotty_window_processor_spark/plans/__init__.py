"""Batch (DataFrame/Catalyst) implementations of the engine's operators.

Everything here is declarative DataFrame/SQL first: Catalyst gets to push
filters into the parquet scan, prune columns, broadcast small join sides,
and keep the hot path inside whole-stage codegen. Python only appears in
the kernel-backed multi-window operator (``scotty_batch``) and the
multimodal stubs — always Arrow-batched per key group, never per row.
"""

from __future__ import annotations

from py4j.protocol import Py4JError

ROWS_PER_TASK = 262144  # BENCH/bucket_sizing.md
_BUCKET_CAP = 32768  # stage task-count ceiling


def wave_buckets(rows: int | None, cores: int) -> int:
    """Bucket count for ``rows`` input rows on ``cores`` cores: the fewest
    whole waves of ``cores`` tasks that keep each task at or under
    ``ROWS_PER_TASK`` rows, capped at ``_BUCKET_CAP``. Unknown (``None``)
    or empty inputs get one wave."""
    waves = max(1, -(-(rows or 0) // (cores * ROWS_PER_TASK)))
    return min(cores * waves, _BUCKET_CAP)


def shuffle_partitions(spark) -> int:
    """``spark.sql.shuffle.partitions`` as an int, tolerating non-numeric
    values (e.g. ``"auto"`` under Databricks auto-optimized shuffle)."""
    try:
        return int(spark.conf.get("spark.sql.shuffle.partitions", "64"))
    except ValueError:
        return spark.sparkContext.defaultParallelism or 64


def _byte_rows(df, plan) -> int | None:
    """Rows estimated from ``plan``'s sizeInBytes over a calibrated ~4
    compressed bytes per column per row (string-keyed parquet transcripts
    measure 13.8 B/row across 3 columns); None for unstatted plans."""
    size = int(plan.stats().sizeInBytes())
    if size <= 0 or size > 1 << 55:  # unstatted plans report a huge sentinel
        return None
    return size // (4 * max(len(df.columns), 4))


def _plan_rows(df) -> int | None:
    """Row count of ``df`` from its optimized plan's statistics (no job): the
    leaf's exact ``rowCount`` when only Project/Filter nodes sit above it (a
    loaded cache reports one, while the pruning Project above it drops it;
    with a Filter it is an upper bound), else ``_byte_rows``, else None."""
    try:
        plan = df._jdf.queryExecution().optimizedPlan()
        leaf = plan
        while leaf.nodeName() in ("Project", "Filter"):
            leaf = leaf.child()
        if leaf.children().isEmpty():
            count = leaf.stats().rowCount()
            if count.isDefined():
                return int(count.get())
        return _byte_rows(df, plan)
    except Py4JError:
        return None


def adaptive_buckets(df) -> int:
    """Bucket count for the vectorized tier's shuffle (``vectorized_multi``):
    ``wave_buckets`` of the input's plan-statistics row count on
    ``defaultParallelism`` cores.

    Why whole waves of cores, each task up to ~256k rows: on a 4-core
    host a Python task pays a fixed ~0.3 s (worker set-up, about half of
    it pyspark's per-task ``importlib.invalidate_caches()``) whatever its
    size, so the fewest tasks that still fill every core win — 4 buckets
    instead of 22 ran the benchmark's ``batch_windows`` (440k turns) at
    526k against 208k turns/s. The per-task row target stays because one
    wave stops winning once tasks grow far past it (17.6M turns: 64
    buckets 12.3 s, 16 buckets 17.0 s, 4 buckets out of memory on a 2 GiB
    heap). Sweep: BENCH/bucket_sizing.md.
    """
    return wave_buckets(_plan_rows(df), df.sparkSession.sparkContext.defaultParallelism)


def kernel_buckets(df) -> int:
    """Bucket count for the kernel tier's shuffle (``scotty_batch``): about
    ``max(spark.sql.execution.arrow.maxRecordsPerBatch, 65536)`` rows per
    task by ``_byte_rows``, clamped to [max(shuffle.partitions,
    defaultParallelism), 32768].

    The kernel tier does not use ``adaptive_buckets``: its per-row cost is
    ~100x the vectorized tier's, so the fixed per-task cost that whole
    waves save is a small share of each task, and whole waves were slower
    on every kernel input timed where the two rules differ
    (BENCH/bucket_sizing.md, "Kernel tier"). A row target measured for
    this tier should replace this rule.
    """
    spark = df.sparkSession
    lo = max(shuffle_partitions(spark), spark.sparkContext.defaultParallelism or 1)
    try:
        rows = _byte_rows(df, df._jdf.queryExecution().optimizedPlan())
    except Py4JError:
        return lo
    if rows is None:
        return lo
    try:
        batch = int(spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch", "10000"))
    except ValueError:
        batch = 10000
    target = max(batch, 65536)  # tiny-batch configs should not explode task count
    return int(min(max(lo, -(-rows // target)), _BUCKET_CAP))
