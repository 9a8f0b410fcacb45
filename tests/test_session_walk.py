"""The duration parser that checks ``sessionize``'s gap (no JVM needed)."""

from __future__ import annotations

import pytest

from big_data_2021_spark_streaming_spark.streaming.pipeline import _duration_to_us


def test_unknown_gap_unit_is_a_named_error():
    with pytest.raises(ValueError, match="unit must be one of"):
        _duration_to_us("1 day")
