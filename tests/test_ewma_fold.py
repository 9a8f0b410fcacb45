"""The per-user EWMA fold both streaming forms call (``ewma_fold``),
without a JVM: it must equal ``ewma_spike_step`` folded by hand in
(ts, event_id) order, and feeding one user's rows in two calls through
the returned history must equal one call."""

from __future__ import annotations

import pandas as pd

from big_data_2021_spark_streaming_spark.streaming.pipeline import (
    EWMA_OUTPUT_SCHEMA,
    ewma_fold,
    ewma_spike_step,
)

# (ts, event_id, value): a quiet baseline, then bursts; two events share
# a timestamp so event_id breaks the tie, and one value is negative
EVENTS = [
    (0, 1, 1.0),
    (60, 2, 1.1),
    (120, 4, 0.9),
    (120, 3, 1.0),
    (180, 5, 1.05),
    (240, 6, 9.5),
    (300, 7, -2.25),
    (360, 8, 1.0),
    (420, 9, 12.25),
    (480, 10, 0.95),
]


def _rows(events):
    # shuffled, as a micro-batch may deliver them
    return pd.DataFrame(
        reversed(events), columns=["ts", "event_id", "value"]
    ).assign(user_id=7)


def _by_hand(events, hist):
    out = []
    for _, eid, v in sorted(events):
        res, hist = ewma_spike_step(hist, int(round(v * 1_000_000)))
        if res is not None:
            out.append((7, eid, v, res[0], res[1]))
    return out, hist


def test_fold_equals_the_step_folded_by_hand():
    out, hist = ewma_fold(7, _rows(EVENTS), [])
    assert (out, hist) == _by_hand(EVENTS, [])
    assert {eid for _, eid, *_ in out} >= {6, 9}  # the bursts alarm
    assert all(len(r) == len(EWMA_OUTPUT_SCHEMA.fieldNames()) for r in out)


def test_two_calls_equal_one():
    # every cut of the (ts, event_id)-ordered rows into two micro-batches
    ordered = sorted(EVENTS)
    whole, hist = ewma_fold(7, _rows(EVENTS), [])
    for cut in range(1, len(ordered)):
        first, mid = ewma_fold(7, _rows(ordered[:cut]), [])
        second, end = ewma_fold(7, _rows(ordered[cut:]), mid)
        assert (first + second, end) == (whole, hist), cut
