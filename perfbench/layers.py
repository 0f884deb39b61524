"""In-process probes of single engine layers, driven on a workload's own
input: the slicing kernel (``operators.kernel``), the vectorized tier's
segment math (``plans.vectorized_multi.multikey_rows``) and the
streaming state codec (``streaming.state_codec``).

Each probe feeds rows the way the engine's tier does, times only the
calls into the layer, and reports counts that explain the times.
"""

from __future__ import annotations

import bisect
import pickle
import statistics
import time
from dataclasses import dataclass

import numpy as np
import pandas as pd

from scotty_window_processor_spark.functions import CountAggregation, SumAggregation
from scotty_window_processor_spark.operators.kernel import SlicingWindowOperator
from scotty_window_processor_spark.plans.vectorized_multi import multikey_rows
from scotty_window_processor_spark.streaming import processor
from scotty_window_processor_spark.streaming.state_codec import decode_op, encode_op


@dataclass
class KernelFeed:
    """One key's rows in arrival order, cut into the chunks the engine hands
    the kernel (one per micro-batch, or one for a batch key group), with
    the watermark the engine passes after each chunk."""

    ts_chunks: list
    value_chunks: list
    watermarks: list


def _new_op(windows, aggs, lateness_ms):
    op = SlicingWindowOperator(max_lateness=lateness_ms)
    for _, _, factory in aggs:
        op.add_aggregation(factory())
    for w in windows:
        op.add_window(w)
    return op


def _closed_slices(bounds, w) -> int:
    """Slices of a snapshot ``bounds`` (sorted (t_start, t_end)) lying
    inside window result ``w``."""
    starts = [b[0] for b in bounds]
    i = bisect.bisect_left(starts, w.start)
    n = 0
    while i < len(bounds) and bounds[i][1] <= w.end:
        n += 1
        i += 1
    return n


def kernel_probe(feeds: list[KernelFeed], windows_factory, aggs, lateness_ms) -> dict:
    """Drive one ``SlicingWindowOperator`` per key through its chunks with
    the streaming feed (out-of-order prefix per element, in-order rest in
    bulk), then ``process_watermark``; time feed and trigger separately.
    Also times the state codec on each key's state before its last
    trigger: the typed Arrow encoding where the engine uses it, the
    pickled kernel otherwise."""
    windows = windows_factory()
    kinds = processor._feed_kinds(aggs, "v")
    typed = processor.typed_state_eligible(windows, aggs, "v")
    codec_kinds = processor._bulk_kinds(aggs) if typed else None
    feed_ns = trigger_ns = rows = 0
    n_windows = slice_hits = 0
    peak_slices = []
    enc_ns, dec_ns, state_bytes = [], [], []
    for feed in feeds:
        op = _new_op(windows_factory(), aggs, lateness_ms)
        peak = 0
        for i, (ts, vals, wm) in enumerate(zip(feed.ts_chunks, feed.value_chunks, feed.watermarks)):
            if len(ts):
                order = np.argsort(ts, kind="stable")
                ts_sorted, v_sorted = ts[order], vals[order]
                op.seed_watermark(int(ts_sorted[0]) - 1)
                t0 = time.perf_counter_ns()
                processor.feed_sorted_batch(op, v_sorted, ts_sorted, kinds)
                feed_ns += time.perf_counter_ns() - t0
                rows += len(ts)
            peak = max(peak, len(op.store))
            if i == len(feed.ts_chunks) - 1:
                e, d, b = _codec_roundtrip(op, windows_factory, aggs, lateness_ms, codec_kinds)
                enc_ns.append(e)
                dec_ns.append(d)
                state_bytes.append(b)
            if wm <= 0:
                continue
            bounds = [(s.t_start, s.t_end) for s in op.store.slices]
            t0 = time.perf_counter_ns()
            results = op.process_watermark(wm)
            trigger_ns += time.perf_counter_ns() - t0
            for w in results:
                if w.has_value:
                    n_windows += 1
                    slice_hits += _closed_slices(bounds, w)
        peak_slices.append(peak)
    keys = max(1, len(feeds))
    return {
        "kernel.feed_ns_per_row": feed_ns / max(1, rows),
        "kernel.trigger_ms_per_key": trigger_ns / 1e6 / keys,
        "kernel.slices_per_key": statistics.fmean(peak_slices) if peak_slices else 0.0,
        "kernel.slices_per_window": slice_hits / max(1, n_windows),
        "kernel.windows_per_key": n_windows / keys,
        "kernel.keys": float(len(feeds)),
        "kernel.rows": float(rows),
        "state_codec.encode_us_per_key": statistics.median(enc_ns) / 1e3 if enc_ns else 0.0,
        "state_codec.decode_us_per_key": statistics.median(dec_ns) / 1e3 if dec_ns else 0.0,
        "state_codec.bytes_per_key": statistics.fmean(state_bytes) if state_bytes else 0.0,
        "state_codec.typed": float(typed),
    }


def _codec_roundtrip(op, windows_factory, aggs, lateness_ms, kinds):
    """(encode ns, decode ns, encoded bytes) of one kernel's state."""
    if kinds is None:
        t0 = time.perf_counter_ns()
        blob = pickle.dumps(op)
        t1 = time.perf_counter_ns()
        pickle.loads(blob)
        return t1 - t0, time.perf_counter_ns() - t1, len(blob)
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_type

    t0 = time.perf_counter_ns()
    enc = encode_op(op, kinds)
    t1 = time.perf_counter_ns()
    fresh = _new_op(windows_factory(), aggs, lateness_ms)
    t2 = time.perf_counter_ns()
    decode_op(fresh, kinds, *enc)
    t3 = time.perf_counter_ns()
    # the encoded state as the Arrow struct the state store holds
    schema = processor.typed_state_schema(len(kinds))
    scalars_t = schema["scalars"].dataType
    session_t = schema["sessions"].dataType.elementType
    slice_t = schema["slices"].dataType.elementType
    scalars, sessions, slices = enc
    value = {"scalars": dict(zip(scalars_t.names, scalars)),
             "sessions": [dict(zip(session_t.names, s)) for s in sessions],
             "slices": [dict(zip(slice_t.names, s)) for s in slices]}
    size = pa.array([value], type=to_arrow_type(schema)).nbytes
    return t1 - t0, t3 - t2, size


def vectorized_probe(pdf: pd.DataFrame, windows_factory, repeats: int = 3) -> dict:
    """rows/s of ``multikey_rows`` (count + sum) over one collected bucket
    (``key``, ``ts_ms``, ``v``), sorted by key and event time as the tier's
    Tungsten sort leaves it."""
    pdf = pdf.sort_values(["key", "ts_ms"], kind="mergesort")
    key_codes = pd.factorize(pdf["key"], sort=True)[0].astype("int64")
    ts_ms = pdf["ts_ms"].to_numpy("int64")
    vals = pdf["v"].to_numpy("float64")

    def make_fns():
        return [CountAggregation(), SumAggregation()]

    times = []
    for _ in range(repeats):
        windows = windows_factory()
        t0 = time.perf_counter()
        multikey_rows(key_codes, ts_ms, vals, windows, make_fns)
        times.append(time.perf_counter() - t0)
    return {
        "vectorized_multi.rows_per_s": len(pdf) / statistics.median(times),
        "vectorized_multi.rows": float(len(pdf)),
    }
