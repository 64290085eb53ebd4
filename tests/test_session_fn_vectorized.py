"""Unit tests driving the vectorized session fn directly (round-15:
the per-event Python fold became a numpy interval merge — guide §4.2).

These exercise the merge paths a Spark replay rarely hits in one run:
a state interval whose END spans later points (running-max, not
prev-point, must gate the segment break), a straggler before the
state's start, NaT rows, and the timed-out flush. A fake GroupState
stands in for the engine so each path is pinned deterministically;
the loop implementation passes these tests identically.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from real_time_data_pipeline_for_restaurant_analytics_spark.streaming.windows import (
    _make_session_fn,
)

GAP_MS = 30 * 60 * 1000  # 30 min
US = 1_000_000


class FakeState:
    def __init__(self, value=None, timed_out=False):
        self._v = value
        self.hasTimedOut = timed_out
        self.updated = None
        self.removed = False
        self.timeout_set = None

    @property
    def exists(self):
        return self._v is not None

    @property
    def get(self):
        return self._v

    def update(self, v):
        self.updated = v
        self._v = v

    def remove(self):
        self.removed = True
        self._v = None

    def setTimeoutDuration(self, ms):
        self.timeout_set = ms


def _run(points_s: list[float | None], state=None, idle_timeout=True):
    fn = _make_session_fn(GAP_MS, "ts", idle_timeout=idle_timeout)
    ts = pd.Series(
        [pd.Timestamp(int(p * US), unit="us") if p is not None else pd.NaT
         for p in points_s],
        dtype="datetime64[ns]",
    )
    st = FakeState(state)
    out = list(fn((7,), iter([pd.DataFrame({"ts": ts})]), st))
    assert len(out) == 1
    rows = [
        (int(r.session_start.timestamp() * US) // US,
         int(r.session_end.timestamp() * US) // US,
         int(r.n_events))
        for r in out[0].itertuples()
    ]
    return rows, st


def test_plain_points_split_on_gap():
    rows, st = _run([0, 60, 5000, 5060, 99999])
    assert rows == [(0, 60, 2), (5000, 5060, 2)]
    assert st.updated == (99999 * US, 99999 * US, 1)
    assert st.timeout_set == GAP_MS


def test_state_end_spans_later_points_running_max():
    # open session (0 .. 7000s, 5 events); new points at 3000s and
    # 5000s fall INSIDE the open interval — the running-max end (7000s)
    # must keep them in one segment even though 5000s - 3000s > gap
    rows, st = _run([3000, 5000], state=(0, 7000 * US, 5))
    assert rows == []
    assert st.updated == (0, 7000 * US, 7)


def test_straggler_before_state_start_emits_own_session():
    # open session at 10000s; a straggler at 0 is > gap before it —
    # closes as its own session, state unchanged in span
    rows, st = _run([0], state=(10000 * US, 10060 * US, 2))
    assert rows == [(0, 0, 1)]
    assert st.updated == (10000 * US, 10060 * US, 2)


def test_straggler_within_gap_extends_state_backwards():
    # straggler 10 min before the open session's start merges into it
    rows, st = _run([9400], state=(10000 * US, 10060 * US, 2))
    assert rows == []
    assert st.updated == (9400 * US, 10060 * US, 3)


def test_nat_rows_dropped_and_empty_batch_keeps_state():
    rows, st = _run([None, None], state=(0, 60 * US, 2))
    assert rows == []
    # all-NaT batch: state re-asserted unchanged (same tuple)
    assert st.updated == (0, 60 * US, 2)


def test_all_nat_no_state_emits_empty_without_update():
    rows, st = _run([None])
    assert rows == []
    assert st.updated is None


def test_timed_out_flushes_open_session():
    fn = _make_session_fn(GAP_MS, "ts")
    st = FakeState((5 * US, 65 * US, 3), timed_out=True)
    out = list(fn((7,), iter([]), st))
    assert st.removed
    df = out[0]
    assert [(int(r.session_start.timestamp()), int(r.session_end.timestamp()), r.n_events)
            for r in df.itertuples()] == [(5, 65, 3)]


def test_emit_dtypes_stable_even_when_empty():
    fn = _make_session_fn(GAP_MS, "ts", idle_timeout=False)
    st = FakeState()
    out = list(fn((7,), iter([pd.DataFrame({"ts": pd.Series([], dtype="datetime64[ns]")})]), st))
    df = out[0]
    assert str(df["session_start"].dtype) == "datetime64[us]"
    assert str(df["session_end"].dtype) == "datetime64[us]"
    assert str(df["n_events"].dtype) == "int64"
    assert len(df) == 0


def test_empty_iterator_on_live_key():
    """A non-timed-out call with NO pandas frames at all: no state →
    an empty emit and no update; open state → re-asserted unchanged."""
    fn = _make_session_fn(GAP_MS, "ts")
    st = FakeState()
    (df,) = list(fn((7,), iter([]), st))
    assert len(df) == 0 and st.updated is None
    st = FakeState((5 * US, 65 * US, 3))
    (df,) = list(fn((7,), iter([]), st))
    assert len(df) == 0
    assert st.updated == (5 * US, 65 * US, 3) and st.timeout_set == GAP_MS
