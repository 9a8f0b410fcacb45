"""Property tests for the pure sessionization walk (no JVM needed).

A naive reference implementation splits a sorted event list wherever
the inter-event gap exceeds gap_us; merge_session_events must agree
with it for any input, any gap, and any batch slicing (incremental
feeding through the open-session state must equal one-shot feeding —
the property that makes micro-batch boundaries semantically invisible).
"""

from __future__ import annotations

import pytest
from hypothesis import given
from hypothesis import strategies as st

from big_data_2021_spark_streaming_spark.streaming.pipeline import (
    _duration_to_us,
    merge_session_events,
)


def naive_sessions(events, gap_us):
    """Split sorted (ts, value) events into sessions the obvious way."""
    sessions = []
    for t, v in events:
        if sessions and t <= sessions[-1][1] + gap_us:
            s = sessions[-1]
            sessions[-1] = (min(s[0], t), max(s[1], t), s[2] + 1, s[3] + v)
        else:
            sessions.append((t, t, 1, v))
    return sessions


events_strategy = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=10**7),
        st.integers(min_value=-100, max_value=100).map(float),
    ),
    min_size=1,
    max_size=60,
).map(lambda evs: sorted(evs, key=lambda e: e[0]))

gap_strategy = st.integers(min_value=1, max_value=10**6)


@given(events_strategy, gap_strategy)
def test_walk_matches_naive(events, gap_us):
    closed, cur = merge_session_events(None, events, gap_us)
    assert closed + [cur] == naive_sessions(events, gap_us)


@given(events_strategy, gap_strategy, st.data())
def test_batch_slicing_is_invisible(events, gap_us, data):
    """Feeding the same events through any sequence of batches (with
    the open session carried as state) gives the same sessions as one
    shot — the micro-batch boundary invariance sessionize relies on."""
    one_shot_closed, one_shot_cur = merge_session_events(None, events, gap_us)

    cut_points = sorted(
        data.draw(
            st.lists(
                st.integers(min_value=0, max_value=len(events)), max_size=5
            )
        )
    )
    bounds = [0, *cut_points, len(events)]
    closed, cur = [], None
    for lo, hi in zip(bounds, bounds[1:]):
        batch_closed, cur = merge_session_events(cur, events[lo:hi], gap_us)
        closed.extend(batch_closed)
    assert closed == one_shot_closed
    assert cur == one_shot_cur


def test_empty_batch_keeps_state():
    closed, cur = merge_session_events((5, 10, 2, 3.0), [], 100)
    assert closed == [] and cur == (5, 10, 2, 3.0)


def test_unknown_gap_unit_is_a_named_error():
    with pytest.raises(ValueError, match="unit must be one of"):
        _duration_to_us("1 day")
