"""Unit tests for the applyInPandasWithState profile state machine — the
pure transition logic, driven with a stubbed GroupState (batch boundaries
and timeouts are the engine's job; the invariants under them are ours)."""

from __future__ import annotations

import pandas as pd

from python_async_sample_spark.streaming.stateful import _make_profile_fn

GAP_US = 30 * 60 * 1_000_000


class FakeState:
    def __init__(self, watermark_ms=0):
        self.exists = False
        self.hasTimedOut = False
        self._v = None
        self.timeout_ms = None
        self.removed = False
        self.watermark_ms = watermark_ms

    def getCurrentWatermarkMs(self):
        return self.watermark_ms

    @property
    def get(self):
        return self._v

    def update(self, v):
        self._v = v
        self.exists = True

    def remove(self):
        self.removed = True
        self.exists = False

    def setTimeoutTimestamp(self, ms):
        self.timeout_ms = ms


def _batch(ts_us, values=None):
    values = values if values is not None else [1.0] * len(ts_us)
    return pd.DataFrame({"ts_us": ts_us, "value": values})


def test_single_batch_sessions_and_gaps():
    fn = _make_profile_fn(GAP_US)
    st = FakeState()
    # 3 events: two 1s apart, then one 31min later -> 2 sessions
    out = list(fn((7,), iter([_batch([0, 1_000_000, 31 * 60 * 1_000_000])]), st))
    assert out == []  # append mode: nothing emitted before timeout
    n, s, g, last, v = st._v
    assert (n, s) == (3, 2)
    assert g == 31 * 60 * 1_000_000 - 1_000_000
    assert last == 31 * 60 * 1_000_000
    assert v == 3.0
    assert st.timeout_ms == last // 1000 + GAP_US // 1000


def test_cross_batch_gap_uses_carried_last_ts():
    fn = _make_profile_fn(GAP_US)
    st = FakeState()
    list(fn((7,), iter([_batch([0])]), st))
    # second batch starts 40min after the carried last ts -> new session
    list(fn((7,), iter([_batch([40 * 60 * 1_000_000])]), st))
    n, s, g, _last, _v = st._v
    assert (n, s) == (2, 2)
    assert g == 40 * 60 * 1_000_000


def test_unsorted_batch_is_sorted_before_gaps():
    fn = _make_profile_fn(GAP_US)
    st = FakeState()
    list(fn((7,), iter([_batch([5_000_000, 0, 2_000_000])]), st))
    n, s, g, last, _v = st._v
    assert (n, s) == (3, 1)
    assert g == 3_000_000  # max consecutive diff of the SORTED sequence
    assert last == 5_000_000


def test_timeout_emits_exactly_one_row_and_clears_state():
    fn = _make_profile_fn(GAP_US)
    st = FakeState()
    list(fn((7,), iter([_batch([0, 1_000_000], [0.25, 0.5])]), st))
    st.hasTimedOut = True
    out = list(fn((7,), iter([]), st))
    assert len(out) == 1
    row = out[0].iloc[0]
    assert (row.user_id, row.n_events, row.n_sessions) == (7, 2, 1)
    assert row.max_gap_us == 1_000_000
    assert row.sum_value == 0.75
    assert st.removed


def test_timeout_clamps_to_watermark_when_natural_timeout_is_stale():
    # user's last event is far behind the watermark: the natural timeout
    # (last + gap) would be invalid; it must clamp to watermark + 1
    fn = _make_profile_fn(GAP_US)
    wm_ms = 10**9
    st = FakeState(watermark_ms=wm_ms)
    list(fn((7,), iter([_batch([0, 1_000_000])]), st))
    assert st.timeout_ms == wm_ms + 1

