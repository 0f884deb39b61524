"""Tests of the benchmark's own helpers: order statistics, attribution of
windows to the file that closed them, span self-time, and the operator-suite
leaves' tables, result comparison and family sums.

Run from the root of the checkout: ``python3 -m pytest perfbench/tests -q``.
"""

from __future__ import annotations

import threading

import numpy as np
import pandas as pd
import pytest

from perfbench import leaves, stream
from perfbench.spans import Span, Tracer, layer_self_times, parse_sql_metric, self_times
from perfbench.stats import percentile, quartile_spread


# -- percentiles ---------------------------------------------------------------

def test_percentile_carries_sample_count():
    p = percentile([5.0, 1.0, 3.0, 2.0, 4.0], 50)
    assert (p.value, p.n, p.q) == (3.0, 5, 50)


def test_percentile_is_nearest_rank():
    xs = list(range(1, 101))
    assert percentile(xs, 99).value == 99
    assert percentile(xs, 100).value == 100
    assert percentile(xs, 1).value == 1
    assert percentile([7.0], 99).value == 7.0


def test_percentile_rejects_empty_sample_and_bad_rank():
    with pytest.raises(ValueError):
        percentile([], 50)
    with pytest.raises(ValueError):
        percentile([1.0], 0)


def test_quartile_spread_is_iqr_over_median():
    assert quartile_spread([10.0] * 10) == 0.0
    xs = [9.0, 10.0, 11.0, 10.0, 10.0, 9.5, 10.5, 10.0, 10.0, 10.0]
    assert quartile_spread(xs) == pytest.approx((10.125 - 9.875) / 10.0)


# -- attribution of windows to the file that closed them -------------------------

def test_watermarks_after_never_move_back():
    assert stream.watermarks_after([100, 90, 250], delay_ms=30) == [70, 70, 220]


def test_closing_file_fixed_window_closes_when_watermark_reaches_end():
    wm_after = [70, 100, 220]
    assert stream.closing_file(60, wm_after, session=False) == 0
    assert stream.closing_file(70, wm_after, session=False) == 0
    assert stream.closing_file(100, wm_after, session=False) == 1
    assert stream.closing_file(101, wm_after, session=False) == 2
    assert stream.closing_file(221, wm_after, session=False) is None


def test_closing_file_session_closes_when_watermark_passes_end():
    wm_after = [70, 100, 220]
    assert stream.closing_file(69, wm_after, session=True) == 0
    assert stream.closing_file(70, wm_after, session=True) == 1
    assert stream.closing_file(100, wm_after, session=True) == 2
    assert stream.closing_file(220, wm_after, session=True) is None


def _run(due, returned):
    sink = stream.TimedSink(sink=None, tracer=Tracer("t", enabled=False))
    sink.returned.update(returned)
    return stream.StreamRun(due=due, created=due, sink=sink, progress=[], out_dir="",
                            finished=True, cold_s=0.0, first_timed_batch=0, counters_mark=None)


def test_watermark_mismatches_compare_batches_with_the_files():
    progress = [
        {"batchId": 0, "numInputRows": 10, "eventTime": {}},
        {"batchId": 1, "numInputRows": 0, "eventTime": {"watermark": "1970-01-01T00:00:01.000Z"}},
        {"batchId": 2, "numInputRows": 10, "eventTime": {"watermark": "1970-01-01T00:00:01.000Z"}},
    ]
    assert stream.watermark_mismatches(progress, [1_000, 2_000]) == 0
    assert stream.watermark_mismatches(progress, [1_500, 2_000]) == 1


def test_emission_latency_runs_from_the_closing_file_to_the_commit():
    wm_after = [1_000, 2_000, 3_000]
    run = _run(due=[10.0, 20.0, 30.0], returned={0: 12.0, 1: 15.0, 2: 24.5, 3: 33.0})
    windows = pd.DataFrame({
        # tumbling window (id 1) ending at 2_000: closed by file 1
        # session (id 2) ending at 2_000: closed only by file 2
        "window_id": [1, 2, 1],
        "w_end": [2_000, 2_000, 500],
        "batch_id": [2, 3, 1],
    })
    lats, commits, bad = stream.emission_latencies(windows, run, wm_after)
    assert bad == 0
    assert lats == pytest.approx([4_500.0, 3_000.0, 5_000.0])
    assert commits == [2, 3, 1]
    lats, commits, _ = stream.emission_latencies(windows, run, wm_after, first_file=1)
    assert lats == pytest.approx([4_500.0, 3_000.0])
    assert commits == [2, 3]


def test_window_committed_before_its_closing_file_is_counted_bad():
    run = _run(due=[10.0, 20.0], returned={0: 12.0, 1: 18.0})
    windows = pd.DataFrame({"window_id": [1, 1], "w_end": [1_500, 9_999], "batch_id": [1, 1]})
    lats, commits, bad = stream.emission_latencies(windows, run, [1_000, 2_000])
    # closed by file 1 (due at 20 s) but committed at 18 s; the other is
    # never closed
    assert (lats, commits, bad) == ([], [], 2)


def test_late_rows_are_those_at_or_below_the_watermark_in_force():
    wm_after = [100, 200, 300]
    file_idx = np.array([0, 0, 1, 1, 2, 2])
    ts = np.array([5, 150, 100, 101, 200, 250])
    assert stream.late_mask(file_idx, ts, wm_after).tolist() == [False, False, True, False, True, False]


def test_late_event_watermark_is_the_previous_batch_watermark():
    progress = [
        {"batchId": 0, "numInputRows": 10, "eventTime": {}},
        {"batchId": 1, "numInputRows": 0, "eventTime": {"watermark": "1970-01-01T00:00:01.000Z"}},
        {"batchId": 2, "numInputRows": 10, "eventTime": {"watermark": "1970-01-01T00:00:01.000Z"}},
        {"batchId": 3, "numInputRows": 12, "eventTime": {"watermark": "1970-01-01T00:00:02.000Z"}},
        {"batchId": 4, "numInputRows": 0, "eventTime": {"watermark": "1970-01-01T00:00:03.000Z"}},
    ]
    # batch 3 followed batch 2 directly, so it filters with the older watermark
    assert stream.late_event_watermarks(progress, 3) == [np.iinfo(np.int64).min, 1_000, 1_000]
    assert stream.late_event_watermarks(progress, 4) is None
    assert stream.late_event_watermarks(progress[:1] + progress[2:], 3) is None


def test_arrival_order_delays_pulled_back_turns():
    pdf = pd.DataFrame({
        "conv_id": ["a", "a", "a", "b", "b"],
        "turn_idx": [0, 1, 2, 0, 1],
        "ts_ms": [100, 300, 200, 150, 400],
    })
    out = stream.arrival_order(pdf)
    # a:2 (ts 200) arrives with a:1 at 300, after b:0 at 150
    assert list(zip(out["conv_id"], out["turn_idx"])) == [("a", 0), ("b", 0), ("a", 1), ("a", 2), ("b", 1)]
    mask = stream.out_of_order_mask(out["conv_id"].to_numpy(), out["ts_ms"].to_numpy())
    assert mask.tolist() == [False, False, False, True, False]


# -- span self-time ------------------------------------------------------------

def _span(id_, start, end, parent=None, name=None):
    return Span(id_, name or f"s{id_}", start, end, parent, "w", 0)


def test_self_time_subtracts_children():
    spans = [_span(0, 0.0, 10.0), _span(1, 1.0, 3.0, 0), _span(2, 4.0, 8.0, 0), _span(3, 5.0, 6.0, 2)]
    own = self_times(spans)
    assert own == pytest.approx({0: 4.0, 1: 2.0, 2: 3.0, 3: 1.0})
    assert sum(own.values()) == pytest.approx(10.0)


def test_self_time_counts_overlapping_children_once():
    spans = [_span(0, 0.0, 10.0), _span(1, 1.0, 6.0, 0), _span(2, 4.0, 8.0, 0), _span(3, 9.0, 12.0, 0)]
    assert self_times(spans)[0] == pytest.approx(10.0 - 7.0 - 1.0)


def test_layer_self_times_sum_to_the_root_wall_time():
    spans = [
        _span(0, 0.0, 10.0, name="iteration"),
        _span(1, 0.0, 1.0, 0, "plans.build"),
        _span(2, 1.0, 9.5, 0, "spark.execute"),
        _span(3, 9.5, 9.7, 0, "trace.counters"),
        _span(4, 9.7, 9.9, 0, "trace.counters"),
        _span(5, 20.0, 30.0, name="iteration"),
    ]
    layers = layer_self_times(spans, 0)
    assert layers == pytest.approx(
        {"iteration": 0.1, "plans.build": 1.0, "spark.execute": 8.5, "trace.counters": 0.4})
    assert sum(layers.values()) == pytest.approx(10.0)


def test_tracer_nests_spans_per_thread():
    tracer = Tracer("w")
    with tracer.span("root", iteration=7):
        with tracer.span("child"):
            pass
        done = threading.Event()

        def worker():
            with tracer.span("callback"):
                pass
            done.set()

        t = threading.Thread(target=worker)
        t.start()
        t.join(timeout=10)
        assert not t.is_alive() and done.is_set()
    by_name = {s.name: s for s in tracer.spans}
    assert by_name["child"].parent == by_name["root"].id
    assert by_name["child"].iteration == 7
    assert by_name["callback"].parent is None
    assert len({s.id for s in tracer.spans}) == len(tracer.spans)


def test_disabled_tracer_records_nothing():
    tracer = Tracer("w", enabled=False)
    with tracer.span("x") as sp:
        assert sp is None
    assert tracer.spans == []


# -- Spark status-store metric strings ----------------------------------------

@pytest.mark.parametrize("text, value", [
    ("58,000", 58_000.0),
    ("12 ms", 12.0),
    ("total (min, med, max (stageId: taskId))\n1.5 s (0 ms, 1 ms, 2 ms (stage 1.0: task 3))", 1_500.0),
    ("total (min, med, max (stageId: taskId))\n2.0 KiB (1.0 B, 2.0 B, 3.0 B (stage 1.0: task 3))", 2_048.0),
    ("0.0 B", 0.0),
])
def test_parse_sql_metric(text, value):
    assert parse_sql_metric(text) == pytest.approx(value)


def test_parse_sql_metric_rejects_unknown_units():
    with pytest.raises(ValueError):
        parse_sql_metric("3 parsecs")


# -- operator-suite leaves -----------------------------------------------------

def test_leaf_tables_follow_the_seed(tmp_path):
    a = leaves.make_tables(3, str(tmp_path / "a"))
    b = leaves.make_tables(3, str(tmp_path / "b"))
    c = leaves.make_tables(4, str(tmp_path / "c"))
    assert a == b == c == {"events": leaves.N_EVENTS, "documents": leaves.N_DOCS,
                           "embeddings": leaves.N_VECS}
    for t in leaves.TABLES:
        pa_, pb, pc = (tmp_path / d / f"{t}.parquet" for d in "abc")
        assert pa_.read_bytes() == pb.read_bytes()
        assert pa_.read_bytes() != pc.read_bytes()


def test_same_result_ignores_row_and_column_order_and_float_noise():
    scols, srows = ["k", "v"], [(2, 0.1 + 0.2), (1, None)]
    ocols, orows = ["v", "k"], [(None, 1), (0.3, 2)]
    assert leaves.same_result(scols, srows, ocols, orows)
    assert not leaves.same_result(scols, srows, ocols, [(None, 1), (0.31, 2)])
    assert not leaves.same_result(scols, srows, ocols, orows[:1])
    assert not leaves.same_result(["k", "w"], srows, ocols, orows)


def test_family_times_sum_the_leaves_of_each_family():
    leaf_s = {name: 1.0 for name in leaves.LEAVES}
    out = leaves.family_times(leaf_s)
    assert list(out) == [f"suite.{f}_s" for f in leaves.FAMILIES]
    assert sum(out.values()) == pytest.approx(len(leaves.LEAVES))
    assert set(leaves.FAMILIES) == {"windows", "relational", "dedup", "similarity", "text",
                                    "sampling", "cep", "multimodal"}
