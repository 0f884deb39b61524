"""Open-loop streaming workload ``stream_paced`` and the stream replay
used to trace the streaming layers on the batch workloads' inputs.

Rows are written in arrival order: per conversation, a turn arrives at the
running maximum of ``ts`` over the turns before it (in ``turn_idx``
order), so the synthesizer's pulled-back turns arrive out of order. The
rows, in arrival order, are cut into equal parquet files. One generator
thread links one file into the source directory on a fixed schedule; the
query reads one file per trigger, so every micro-batch holds one file and
the output is the same under any timing.

Emission latency of a window runs from the moment the file whose rows
first move the watermark past the window's end was due, to the return of
the sink call for the batch that committed the window.
"""

from __future__ import annotations

import bisect
import os
import shutil
import statistics
import threading
import time
from dataclasses import dataclass, field
from datetime import datetime

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from pyspark.sql import functions as F

from scotty_window_processor_spark.functions import CountAggregation, SumAggregation
from scotty_window_processor_spark.operators import SessionWindow, TumblingWindow, WindowMeasure
from scotty_window_processor_spark.plans.scotty_batch import scotty_window_aggregate
from scotty_window_processor_spark.sources import synthesize_transcripts, transcripts_schema
from scotty_window_processor_spark.streaming.processor import scotty_stream
from scotty_window_processor_spark.streaming.sink import ExactlyOnceParquetSink

KEY, TS = "conv_id", "ts"
DELAY_MS = 30_000
LATENESS_MS = 30_000
WINDOW_KEYS = [KEY, "window_id", "w_start", "w_end"]
SAMPLE_COL = "sample_bucket"
SAMPLE_BUCKETS = 40  # layer probes use the keys of hash bucket 0, plus the hot key


def with_sample_bucket(df):
    return df.withColumn(SAMPLE_COL, F.pmod(F.xxhash64(KEY), F.lit(SAMPLE_BUCKETS)).cast("int"))


def stream_windows():
    return [
        TumblingWindow(WindowMeasure.TIME, 600_000, window_id=1),
        SessionWindow(WindowMeasure.TIME, 300_000, window_id=2),
    ]


STREAM_AGGS = (("turns", "long", CountAggregation), ("tool_calls", "double", SumAggregation))


@dataclass(frozen=True)
class PacedSpec:
    """``stream_paced``: ``convs_per_file`` conversations' worth of rows per
    file, one file due every ``period_s``, fixed so that every run, and
    every commit, is offered the same load. Measured on a 4-core host, a
    micro-batch costs 2.0-3.5 s whatever its size (about 2,500 to 10,000
    rows), and a paced file pays two: its own and the watermark-only batch
    that commits the windows it closed. Back to back, files run at one per
    ~2.8 s (no watermark-only batches); paced, at one per 4.5-7 s. At a
    5-6 s period files queue behind the watermark-only batches and
    latency grows through the run; the period leaves headroom over the
    slow end, so every file's late rows meet a current watermark."""

    convs_per_file: int = 48
    turns_per_conv: int = 200
    n_hot_convs: int = 2
    hot_factor: int = 5
    period_s: float = 8.0


PACED = PacedSpec()


# -- pure helpers (unit-tested) ---------------------------------------------

def arrival_order(pdf: pd.DataFrame) -> pd.DataFrame:
    """Rows in arrival order: per key, a row arrives at the running maximum
    of ``ts_ms`` over the key's rows up to it in ``turn_idx`` order."""
    pdf = pdf.sort_values([KEY, "turn_idx"], kind="mergesort")
    pdf = pdf.assign(arrival_ms=pdf.groupby(KEY, sort=False)["ts_ms"].cummax())
    return pdf.sort_values(["arrival_ms", KEY, "turn_idx"], kind="mergesort").reset_index(drop=True)


def watermarks_after(file_max_ts, delay_ms: int) -> list[int]:
    """Event-time watermark after each file: the running maximum event
    time minus the delay (Spark never moves it backwards)."""
    out, hi = [], None
    for m in file_max_ts:
        hi = m if hi is None else max(hi, m)
        out.append(int(hi) - delay_ms)
    return out


def closing_file(w_end: int, wm_after: list[int], session: bool) -> int | None:
    """Index of the first file after which the watermark closes a window
    ending at ``w_end``: a fixed window once the watermark reaches its
    end, a session once the watermark is past it (the kernel's trigger
    rules). None if no file closes it."""
    i = bisect.bisect_right(wm_after, w_end) if session else bisect.bisect_left(wm_after, w_end)
    return i if i < len(wm_after) else None


def late_mask(file_idx: np.ndarray, ts_ms: np.ndarray, wm_after: list[int]) -> np.ndarray:
    """Rows the watermark drops: a row of file k is late when its event
    time is at or below the watermark in force while file k is processed
    (the watermark after file k-1)."""
    wm_before = np.array([np.iinfo(np.int64).min] + list(wm_after[:-1]), dtype="int64")
    return ts_ms <= wm_before[file_idx]


def out_of_order_mask(keys: np.ndarray, ts_ms: np.ndarray) -> np.ndarray:
    """Rows (in arrival order) whose event time is below the largest event
    time that arrived before them for the same key."""
    s = pd.Series(ts_ms)
    prev_max = s.groupby(keys, sort=False).cummax().groupby(keys, sort=False).shift(1)
    return (s < prev_max).to_numpy()


# -- inputs ------------------------------------------------------------------

@dataclass
class StreamInput:
    files: list[str]                 # staged parquet files, in arrival order
    rows: pd.DataFrame               # key, ts_ms, v, file, sample bucket, late; arrival order
    wm_after: list[int]
    properties: dict = field(default_factory=dict)


def _to_parquet(chunk: pd.DataFrame, path: str) -> None:
    cols = [f.name for f in transcripts_schema().fields] + ["v"]
    tbl = pa.Table.from_pandas(chunk[cols], preserve_index=False)
    tbl = tbl.set_column(tbl.schema.get_field_index(TS), TS, tbl.column(TS).cast(pa.timestamp("us")))
    tmp = path + ".tmp"
    pq.write_table(tbl, tmp)
    os.replace(tmp, path)


def stage_files(pdf: pd.DataFrame, n_files: int, staging: str) -> StreamInput:
    """Cut arrival-ordered rows into ``n_files`` equal files under
    ``staging``; derive the watermark after each file and the input's
    disorder properties."""
    shutil.rmtree(staging, ignore_errors=True)
    os.makedirs(staging)
    pdf = arrival_order(pdf)
    n = len(pdf)
    file_idx = (np.arange(n) * n_files) // n
    pdf = pdf.assign(file=file_idx)
    files = []
    for k in range(n_files):
        path = os.path.join(staging, f"{k:05d}.parquet")
        _to_parquet(pdf[pdf["file"] == k], path)
        files.append(path)
    wm_after = watermarks_after(pdf.groupby("file")["ts_ms"].max().tolist(), DELAY_MS)
    keys = pdf[KEY].to_numpy()
    ts_ms = pdf["ts_ms"].to_numpy("int64")
    late = late_mask(file_idx, ts_ms, wm_after)
    per_key = pdf[KEY].value_counts()
    props = {
        "rows": n,
        "keys": int(per_key.size),
        "hot_key_row_share": float(per_key.iloc[0] / n),
        "out_of_order_share": float(out_of_order_mask(keys, ts_ms).mean()),
        "beyond_lateness_share": float(late.mean()),
        "files": n_files,
        "active_keys_per_batch": float(pdf.groupby("file")[KEY].nunique().median()),
    }
    rows = pdf[[KEY, "ts_ms", "v", "file", SAMPLE_COL]].assign(late=late)
    return StreamInput(files, rows, wm_after, props)


def synthesize_pandas(spark, n_convs, turns_per_conv, n_hot_convs, hot_factor, seed) -> pd.DataFrame:
    df = synthesize_transcripts(
        spark, n_convs=n_convs, turns_per_conv=turns_per_conv,
        n_hot_convs=n_hot_convs, hot_factor=hot_factor, seed=seed,
    ).withColumn("v", F.col("tool").isNotNull().cast("double"))
    return with_sample_bucket(df).withColumn("ts_ms", F.unix_millis(TS)).toPandas()


# -- running a query ---------------------------------------------------------

_NS_PER_MS = 1e6


def plan_metrics(query) -> dict[str, float]:
    """SQL metrics of the stateful operator and its sort in the current
    micro-batch's executed plan, read from the live accumulators (a
    micro-batch runs inside the sink's own write, so the status store
    never attributes them to a plan)."""
    from perfbench.spans import PYTHON_NODES, SQL_METRICS

    out = dict.fromkeys(list(SQL_METRICS.values()) + ["arrow.rows_received"], 0.0)
    plan = query._jsq.streamingQuery().lastExecution().executedPlan()
    todo = [plan]
    while todo:
        node = todo.pop()
        it = node.children().iterator()
        while it.hasNext():
            todo.append(it.next())
        python_node = node.nodeName() in PYTHON_NODES
        metrics = node.metrics().iterator()
        while metrics.hasNext():
            pair = metrics.next()
            m = pair._2()
            name = SQL_METRICS.get(m.name().get() if m.name().isDefined() else "")
            if name is None and python_node and pair._1() == "numOutputRows":
                name = "arrow.rows_received"
            if name is None:
                continue
            value = float(m.value())
            out[name] += value / _NS_PER_MS if m.metricType() == "nsTiming" else value
    return out


class TimedSink:
    """Wraps the exactly-once sink; records per batch the wall time of the
    call and when it returned. With an enabled tracer the call is a span
    carrying the micro-batch's plan metrics."""

    def __init__(self, sink: ExactlyOnceParquetSink, tracer):
        self.sink = sink
        self.tracer = tracer
        self.query = None
        self.returned: dict[int, float] = {}
        self.write_s: dict[int, float] = {}
        self.plan_metrics: dict[int, dict] = {}
        self._lock = threading.Lock()

    def __call__(self, batch_df, batch_id: int) -> None:
        t0 = time.perf_counter()
        with self.tracer.span("sink.write", iteration=batch_id) as sp:
            self.sink(batch_df, batch_id)
            if sp is not None and self.query is not None:
                with self.tracer.span("trace.counters"):
                    sp.attrs.update(plan_metrics(self.query))
        dt = time.perf_counter() - t0
        with self._lock:
            self.write_s[batch_id] = dt
            self.returned[batch_id] = time.time()
            if sp is not None:
                self.plan_metrics[batch_id] = dict(sp.attrs)


def _iso_ms(s: str) -> int:
    return int(datetime.fromisoformat(s.replace("Z", "+00:00")).timestamp() * 1000)


def _watermark_ms(p) -> int:
    wm = (p.get("eventTime") or {}).get("watermark")
    return _iso_ms(wm) if wm else 0


@dataclass
class StreamRun:
    due: list[float]
    created: list[float]
    sink: TimedSink
    progress: list[dict]
    out_dir: str
    finished: bool
    cold_s: float
    first_timed_batch: int  # the first batch after the cold phase
    counters_mark: int | None  # SparkCounters mark at the end of the cold phase


def _wait_for_watermark(q, sink: TimedSink, wm: int, deadline: float) -> bool:
    """Until the first batch running at watermark >= ``wm`` has committed."""
    while time.time() < deadline:
        if q.exception() is not None:
            raise RuntimeError(f"streaming query failed: {q.exception()}")
        done = [p["batchId"] for p in q.recentProgress if _watermark_ms(p) >= wm]
        if done and min(done) in sink.returned:
            return True
        time.sleep(0.02)
    return False


def run_query(spark, inp: StreamInput, work: str, windows, aggs, period_s: float | None,
              tracer, warm_files: int = 0, counters=None, timeout_s: float = 90.0) -> StreamRun:
    """Start the query and link the first ``warm_files`` files in one at a
    time, each once the batch running at the previous file's watermark has
    committed (the cold phase); then link the rest in, one every
    ``period_s`` (or all at once when None), and wait until the batch
    running at the final watermark has committed. A hard link appears
    atomically and leaves the staged file for the next run."""
    src, ckpt, out = (os.path.join(work, d) for d in ("src", "ckpt", "out"))
    for d in (src, ckpt, out):
        shutil.rmtree(d, ignore_errors=True)
    os.makedirs(src)
    schema = transcripts_schema().add("v", "double")
    source = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(src)
    with tracer.span("plans.build"):
        result = scotty_stream(
            source, key=KEY, ts=TS, value="v", windows=windows, aggs=list(aggs),
            watermark_delay=f"{DELAY_MS // 1000} seconds", lateness_ms=LATENESS_MS,
        )
    sink = TimedSink(ExactlyOnceParquetSink(out), tracer)
    n = len(inp.files)
    created = [0.0] * n
    due = [0.0] * n

    def drop(k):
        with tracer.span("gen.file", iteration=k):
            os.link(inp.files[k], os.path.join(src, os.path.basename(inp.files[k])))
        created[k] = time.time()

    t_start = time.time()
    q = (result.writeStream.foreachBatch(sink).option("checkpointLocation", ckpt)
         .outputMode("append").start())
    sink.query = q
    gen = None
    finished = False
    try:
        # cold phase: one file at a time, each followed by its watermark batch
        deadline = time.time() + timeout_s
        for k in range(warm_files):
            drop(k)
            due[k] = created[k]
            if not _wait_for_watermark(q, sink, inp.wm_after[k], deadline):
                raise RuntimeError("the cold phase of the streaming query did not finish")
        cold_s = time.time() - t_start
        first_timed = max(sink.returned, default=-1) + 1
        mark = counters.mark() if counters is not None else None
        t0 = time.time() + 0.2
        for k in range(warm_files, n):
            due[k] = t0 + (k - warm_files) * (period_s or 0.0)
        if period_s is None:
            for k in range(warm_files, n):
                drop(k)
        else:
            def generate():
                for k in range(warm_files, n):
                    pause = due[k] - time.time()
                    if pause > 0:
                        time.sleep(pause)
                    drop(k)

            gen = threading.Thread(target=generate, name="perfbench-generator", daemon=True)
            gen.start()
        deadline = due[-1] + timeout_s
        finished = _wait_for_watermark(q, sink, inp.wm_after[-1], deadline)
    finally:
        if gen is not None:
            gen.join(timeout=timeout_s)
        progress = [dict(p) for p in q.recentProgress]
        q.stop()
    return StreamRun(due, created, sink, progress, out, finished, cold_s, first_timed, mark)


# -- analysis ----------------------------------------------------------------

def late_event_watermarks(progress: list[dict], n_files: int) -> list[int] | None:
    """Per file, the watermark Spark filters its late rows with: the
    watermark of the batch before the one holding the file (Spark keeps one
    watermark for late rows and a newer one for eviction); nothing is late
    in batch 0. None when the progress does not cover every file."""
    by_id = {p["batchId"]: p for p in progress}
    data = sorted(b for b, p in by_id.items() if p.get("numInputRows", 0) > 0)
    if len(data) != n_files or any(b > 0 and b - 1 not in by_id for b in data):
        return None
    return [_watermark_ms(by_id[b - 1]) if b > 0 else np.iinfo(np.int64).min for b in data]


def dropped_rows(inp: StreamInput, run: StreamRun) -> np.ndarray | None:
    """Rows Spark's late filter drops in ``run`` (see
    ``late_event_watermarks``); None when the progress is incomplete."""
    late_wm = late_event_watermarks(run.progress, len(inp.files))
    if late_wm is None:
        return None
    wm_by_file = np.array(late_wm, dtype="int64")
    return inp.rows["ts_ms"].to_numpy("int64") <= wm_by_file[inp.rows["file"].to_numpy()]


def committed_windows(spark, run: StreamRun) -> pd.DataFrame:
    paths = [os.path.join(run.out_dir, d) for d in sorted(os.listdir(run.out_dir))
             if d.startswith("batch_id=")]
    if not paths:
        return pd.DataFrame(columns=WINDOW_KEYS + ["batch_id"])
    df = spark.read.option("basePath", run.out_dir).parquet(*paths)
    return df.toPandas()


def emission_latencies(windows: pd.DataFrame, run: StreamRun, wm_after: list[int],
                       first_file: int = 0):
    """Latency (ms) of each committed window closed by a file from
    ``first_file`` on, the commit (batch id) that carried each, and the
    count of windows that no file closes or that were committed before
    their closing file was due."""
    session_ids = {w.window_id for w in stream_windows() if isinstance(w, SessionWindow)}
    lats, commits, bad = [], [], 0
    for wid, w_end, b in zip(windows["window_id"], windows["w_end"], windows["batch_id"]):
        k = closing_file(int(w_end), wm_after, int(wid) in session_ids)
        ret = run.sink.returned.get(int(b))
        if k is None or ret is None or ret < run.due[k]:
            bad += 1
        elif k >= first_file:
            lats.append((ret - run.due[k]) * 1000.0)
            commits.append(int(b))
    return lats, commits, bad


def check_stream(spark, inp: StreamInput, windows: pd.DataFrame, aggs, dropped,
                 windows_factory=stream_windows) -> dict:
    """Compare committed windows with the batch engine (which plans the
    stream's two window families on its Catalyst tier, away from the
    slicing kernel) over the rows the watermark keeps (``dropped`` marks
    the others), restricted to windows the final watermark closed; a
    window committed twice is a failure."""
    dup = int(windows.duplicated(WINDOW_KEYS).sum())
    kept = inp.rows[~dropped]
    kdf = spark.createDataFrame(
        kept[[KEY, "ts_ms", "v"]].rename(columns={"ts_ms": "ts_ms_"})
    ).withColumn(TS, F.timestamp_millis(F.col("ts_ms_"))).drop("ts_ms_")
    ref = scotty_window_aggregate(kdf, key=KEY, ts=TS, value="v", windows=windows_factory(),
                                  aggs=list(aggs), lateness_ms=LATENESS_MS).toPandas()
    final_wm = inp.wm_after[-1]
    session_ids = {w.window_id for w in windows_factory() if isinstance(w, SessionWindow)}
    is_session = ref["window_id"].isin(session_ids)
    closed = np.where(is_session, ref["w_end"] < final_wm, ref["w_end"] <= final_wm)
    ref = ref[closed]
    names = [name for name, _, _ in aggs]
    got = windows.drop_duplicates(WINDOW_KEYS)
    m = got[WINDOW_KEYS + names].merge(ref[WINDOW_KEYS + names], on=WINDOW_KEYS, how="outer",
                                       suffixes=("_s", "_b"), indicator=True)
    bad = m["_merge"] != "both"
    for name in names:
        a, b = m[f"{name}_s"].astype(float), m[f"{name}_b"].astype(float)
        bad |= ~np.isclose(a, b, rtol=1e-9, atol=0.0)
    return {
        "windows_expected": int(len(ref)),
        "windows_committed": int(len(windows)),
        "windows_duplicated": dup,
        "mismatched": int(bad.sum()),
        "instances_compared": int(len(m)),
    }


def batch_log(run: StreamRun) -> list[dict]:
    """Per micro-batch: id, input rows, watermark, trigger time and when
    its sink call returned, relative to the first due file."""
    t0 = run.due[0]
    return [{
        "batch": p["batchId"], "rows": p.get("numInputRows", 0), "watermark": _watermark_ms(p),
        "trigger_ms": (p.get("durationMs") or {}).get("triggerExecution"),
        "returned_s": round(run.sink.returned[p["batchId"]] - t0, 3)
        if p["batchId"] in run.sink.returned else None,
    } for p in run.progress]


def progress_metrics(progress: list[dict], first_batch: int = 0) -> dict:
    """Means over the data batches from ``first_batch`` on (progress
    reports whole milliseconds)."""
    progress = [p for p in progress if p["batchId"] >= first_batch]
    data = [p for p in progress if p.get("numInputRows", 0) > 0]
    idle = [p for p in progress if p.get("numInputRows", 0) == 0]

    def mean(values):
        return statistics.fmean(values) if values else 0.0

    def dur(key):
        return mean([(p.get("durationMs") or {}).get(key, 0) for p in data])

    def state(key):
        return mean([sum(so.get(key, 0) for so in p.get("stateOperators") or []) for p in data])

    return {
        "stream.trigger_ms": dur("triggerExecution"),
        "stream.add_batch_ms": dur("addBatch"),
        "stream.wal_commit_ms": dur("walCommit"),
        "stream.commit_offsets_ms": dur("commitOffsets"),
        "stream.planning_ms": dur("queryPlanning"),
        "stream.batches": float(len(data)),
        "stream.nodata_batches": float(len(idle)),
        "state.rows_total": state("numRowsTotal"),
        "state.rows_updated": state("numRowsUpdated"),
        "state.rows_removed": state("numRowsRemoved"),
        "state.memory_bytes": state("memoryUsedBytes"),
        "state.commit_ms": state("commitTimeMs"),
        "state.updates_ms": state("allUpdatesTimeMs"),
        "state.removals_ms": state("allRemovalsTimeMs"),
        "state.rows_dropped_by_watermark": float(sum(
            so.get("numRowsDroppedByWatermark", 0)
            for p in progress for so in p.get("stateOperators") or [])),
    }


def watermark_mismatches(progress: list[dict], wm_after: list[int]) -> int:
    """Data batches whose watermark differs from the one derived from the
    files (the batch holding file k runs at the watermark after file k-1)."""
    data = sorted((p for p in progress if p.get("numInputRows", 0) > 0), key=lambda p: p["batchId"])
    bad = 0
    for k, p in enumerate(data):
        want = wm_after[k - 1] if k > 0 else 0
        if _watermark_ms(p) != max(want, 0):
            bad += 1
    return bad
