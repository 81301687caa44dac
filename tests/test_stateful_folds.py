"""The stateful operators' per-key folds and stream driver, without Spark.

The batch lowerings (``operators/stateful.py``) and the stream lowerings
(``streaming/runtime.py``) share one fold per semantics, and the stream
driver's per-key function runs the operator bodies on one key's
micro-batch. These tests drive that function directly with chunked
pandas frames and a dict-like fake ``GroupState``: ordering across
chunks, the pre-update filter predicate, cross-batch state carry, the
count-window buffers and the order-robust watermark release.
"""

from __future__ import annotations

from functools import partial

import pandas as pd
import pytest

from striot_spark.operators.stateful import filter_fold, scan_fold
from striot_spark.streaming import runtime as RT


class FakeState:
    """Stands in for ``GroupState``: one key's state tuple, plus the
    watermark and the timeout the order-robust mode reads and sets."""

    def __init__(self, watermark_ms: int = 0):
        self.value = None
        self.watermark_ms = watermark_ms
        self.timeout_ms = None

    @property
    def exists(self) -> bool:
        return self.value is not None

    @property
    def get(self):
        return self.value

    def update(self, v) -> None:
        self.value = tuple(v)

    def getCurrentWatermarkMs(self) -> int:
        return self.watermark_ms

    def setTimeoutTimestamp(self, ms: int) -> None:
        self.timeout_ms = ms


def _chunks(rows, columns, split_at):
    """A per-key batch as Spark hands it over: several chunks."""
    pdf = pd.DataFrame(rows, columns=columns)
    return iter([pdf.iloc[:split_at], pdf.iloc[split_at:]])


def test_scan_orders_across_chunks_and_carries_state():
    fn = RT._per_key(
        partial(RT._scan_body, lambda acc, row: acc + row["v"], ["k", "ts"], "running"),
        (0.0,),
        ["ts"],
    )
    state = FakeState()
    # batch 1: rows arrive out of event-time order, split across chunks
    rows = [("a", 3, 30.0), ("a", 1, 10.0), ("a", 2, 20.0)]
    out = pd.concat(fn(("a",), _chunks(rows, ["k", "ts", "v"], 2), state))
    # sorted by ts as ONE sequence, then folded: 10, 30, 60
    assert out["ts"].tolist() == [1, 2, 3]
    assert out["running"].tolist() == [10.0, 30.0, 60.0]
    assert state.value == (60.0,)
    # batch 2: the accumulator carries across micro-batches
    out2 = pd.concat(fn(("a",), _chunks([("a", 4, 1.0)], ["k", "ts", "v"], 1), state))
    assert out2["running"].tolist() == [61.0]
    assert state.value == (61.0,)
    # the batch lowering folds the same rows to the same outputs
    ordered = [{"v": 10.0}, {"v": 20.0}, {"v": 30.0}, {"v": 1.0}]
    assert scan_fold(lambda acc, row: acc + row["v"], 0.0, ordered) == (
        [10.0, 30.0, 60.0, 61.0],
        61.0,
    )


def test_filter_pred_sees_pre_update_acc_and_carried_state():
    """FunctionalProcessing.hs:181-185 — the predicate sees the
    accumulator BEFORE this event's update; the accumulator updates on
    every event, kept or not."""
    fn = RT._per_key(
        partial(
            RT._filter_body,
            lambda acc, row: (row["v"],),
            lambda row, acc: acc[0] is None or row["v"] != acc[0],
            False,
        ),
        (None,),
        ["ts"],
    )
    state = FakeState()
    rows = [("a", 1, "x"), ("a", 2, "x"), ("a", 3, "y"), ("a", 4, "y")]
    out = pd.concat(fn(("a",), _chunks(rows, ["k", "ts", "v"], 2), state))
    # dedup-on-change: keep ts 1 (first) and 3 (change), drop 2 and 4
    assert out["ts"].tolist() == [1, 3]
    assert state.value == ("y",)
    # next batch: the same value as the carried state is suppressed
    out2 = list(fn(("a",), _chunks([("a", 5, "y")], ["k", "ts", "v"], 1), state))
    assert sum(len(p) for p in out2) == 0
    assert state.value == ("y",)


def test_filter_kept_only_advances_on_kept_rows():
    """The two filter semantics differ only in when the accumulator
    advances: every row (streamFilterAcc) or kept rows (debounce)."""
    rows = [{"v": v} for v in range(5)]

    def step(acc, row):
        return row["v"]

    def pred(row, acc):
        return acc is None or row["v"] - acc >= 2

    assert filter_fold(step, pred, None, rows, kept_only=False) == (
        [True, False, False, False, False],
        4,
    )
    assert filter_fold(step, pred, None, rows, kept_only=True) == (
        [True, False, True, False, True],
        4,
    )


def test_sliding_buffer_holds_last_n_minus_1_across_batches():
    window = partial(
        RT._sliding_window, 3, lambda xs: float(sum(xs)), ["k"], "ts", "sum3"
    )
    fn = RT._per_key(partial(RT._pairs_body, window, "ts", "v"), ([],), ["ts"])
    state = FakeState()
    rows = [("a", i, float(i)) for i in range(1, 6)]  # v = 1..5
    out = pd.concat(fn(("a",), _chunks(rows, ["k", "ts", "v"], 3), state))
    assert out["sum3"].tolist() == [1.0, 3.0, 6.0, 9.0, 12.0]
    # the state buffer holds the last n-1 values
    assert list(state.value[0]) == [4.0, 5.0]
    # ... and carries them into the next batch
    out2 = pd.concat(fn(("a",), _chunks([("a", 6, 6.0)], ["k", "ts", "v"], 1), state))
    assert out2["sum3"].tolist() == [15.0]
    # n = 1: one-value windows, nothing buffered
    out1, st1 = RT._sliding_window(
        1, sum, ["k"], "ts", "s", ("a",), [(1, 7), (2, 8)], ([],)
    )
    assert out1["s"].tolist() == [7, 8] and st1 == ([],)


def test_chop_window_emits_complete_windows_and_keeps_the_partial():
    window = partial(RT._chop_window, 2, sum, ["k"], "ts", "s")
    out, st = window(("a",), [(1, 1), (2, 2), (3, 3)], (0, []))
    assert out.values.tolist() == [["a", 0, 2, 3]]
    assert st == (1, [3])
    out, st = window(("a",), [(4, 4)], st)
    assert out.values.tolist() == [["a", 1, 4, 7]]
    assert st == (2, [])
    assert window(("a",), [(5, 5)], st)[0] is None


def test_order_robust_releases_below_watermark_in_event_order():
    """The pending buffer releases only rows strictly below the
    watermark, in (ts, tiebreak) order, and keeps the rest in state."""
    t0 = pd.Timestamp("2024-01-01")

    def ts(s):
        return t0 + pd.Timedelta(seconds=s)

    def ms(s):
        return ts(s).value // 1_000_000

    fn = RT._per_key_pending(
        partial(RT._chop_window, 2, sum, ["k"], "ts", "s"),
        (0, []),
        "ts",
        "id",
        "v",
        int,
    )
    cols = ["k", "ts", "id", "v"]
    state = FakeState(watermark_ms=ms(4))
    rows = [("a", ts(3), 3, 30), ("a", ts(1), 1, 10), ("a", ts(5), 5, 50)]
    out = pd.concat(fn(("a",), _chunks(rows, cols, 2), state))
    # ts 1 and 3 are final and fill window 0; ts 5 waits
    assert out.values.tolist() == [["a", 0, ts(3), 40]]
    ordinal, buf, pts, ptb, pv = state.value
    assert (ordinal, buf, ptb, pv) == (1, [], [5], [50])
    assert state.timeout_ms == ms(4) + 1
    # a no-data call after the watermark passes drains the buffer
    state.watermark_ms = ms(9)
    assert list(fn(("a",), iter([]), state)) == []
    assert state.value == (1, [50], [], [], [])
    out = pd.concat(fn(("a",), _chunks([("a", ts(7), 7, 70)], cols, 1), state))
    assert out.values.tolist() == [["a", 1, ts(7), 120]]


@pytest.mark.parametrize("n", [0, -1])
def test_count_windows_reject_non_positive_n(spark, n):
    df = spark.createDataFrame([], "k long, ts timestamp, v double")
    for op in (RT.chop_count_stream, RT.sliding_count_stream):
        with pytest.raises(ValueError, match="positive"):
            op(df, n, "v", sum, key=["k"], time_col="ts")
