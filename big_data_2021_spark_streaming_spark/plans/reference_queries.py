"""The reference's three declared queries as reusable lineage builders.

Each builder takes a DataFrame and returns a DataFrame, so the same
lineage runs in batch (fixture files, oracle-checkable) and streaming
(file/Kafka source) — the Structured Streaming model.

Reference lineages being reproduced (SURVEY.md §2.10):
- Q1 "US meetups only":   decode → flatten → ``group_country = 'us'``
  (``srapk_structure_streaming.py:59-64``)
- Q2 "enrich with state names": Q1 → project 8 nested fields → inner
  broadcast join vs the states dim → double-nested ``to_json`` payload
  (``srapk_structure_streaming.py:66-143``). Quirks preserved: the
  dim's full-name column shadows the fact's ``group_state`` in the
  output, and ``group_name`` is selected upstream but dropped from the
  final payload.
- Q3 "cities per minute": decode (keeping the envelope timestamp) →
  ``to_timestamp`` → 1-min watermark → 1-min tumbling window →
  ``collect_set(group_city)`` → date-part extraction → JSON payload
  (``srapk_structure_streaming.py:145-165``). Note: the reference does
  NOT apply the US filter on this path (code over comment).

Scale notes: the states join is pinned ``F.broadcast`` (56 rows — never
let a planner regression shuffle the stream side); the windowed
aggregation relies on watermark-bounded state and map-side partial
aggregation; ``collect_set`` is an ObjectHashAggregate — fine while
per-window city cardinality is bounded (it is: #US cities).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame

from ..schemas import rsvp_schema


def decode_rsvps(raw: DataFrame, mode: str = "faithful") -> DataFrame:
    """Kafka-envelope surrogate → decoded RSVP rows.

    ``raw`` has columns (value STRING, timestamp STRING) — what the
    reference sees after its cast-projection
    (``srapk_structure_streaming.py:16``). PERMISSIVE ``from_json``:
    malformed rows stay, with a ``data`` struct ``decode_failed`` flags.
    """
    return raw.select(
        F.from_json("value", rsvp_schema(mode)).alias("data"),
        F.col("timestamp"),
    )


def decode_failed() -> Column:
    """True on a decoded row whose JSON failed to parse. PERMISSIVE
    ``from_json`` yields an all-NULL struct for corrupt input, not a
    NULL struct, so the test is on three top-level fields that are
    never all NULL together on a valid record."""
    return (
        F.col("data.rsvp_id").isNull()
        & F.col("data.group").isNull()
        & F.col("data.event").isNull()
    )


def q1_us_meetups(raw: DataFrame, mode: str = "faithful") -> DataFrame:
    """Q1: only meetups from the US (``srapk_structure_streaming.py:63-64``)."""
    return (
        decode_rsvps(raw, mode)
        .select("data.*")
        .where(F.col("group.group_country") == "us")
    )


def q2_us_meetups_enriched(
    raw: DataFrame, states: DataFrame, mode: str = "faithful"
) -> DataFrame:
    """Q2: US events enriched with full state names, double-encoded JSON.

    Output: single ``value`` STRING column, payload
    ``{event:"<inner json string>", group_city, group_country, group_id,
    group_state:<FULL NAME>}`` (``srapk_structure_streaming.py:139-143``).
    """
    q1 = q1_us_meetups(raw, mode)
    projected = q1.select(
        F.col("group.group_city").alias("group_city"),
        F.col("group.group_country").alias("group_country"),
        F.col("group.group_id").alias("group_id"),
        F.col("group.group_name").alias("group_name"),
        F.col("group.group_state").alias("group_state"),
        F.col("event.event_name").alias("event_name"),
        F.col("event.event_id").alias("event_id"),
        F.col("event.time").alias("time"),
    )
    joined = projected.join(
        F.broadcast(states),
        projected.group_state == states.state_short,
        "inner",
    )
    # inner payload {event_id,event_name,time}, serialized to a STRING,
    # then embedded in the outer payload — i.e. the outer JSON carries
    # the inner object double-encoded. group_name is dropped here, and
    # states.group_state (the full name) wins the name collision.
    with_event_blob = joined.select(
        F.to_json(F.struct("event_id", "event_name", "time")).alias("event"),
        "group_city",
        "group_country",
        "group_id",
        states.group_state,
    )
    return with_event_blob.select(
        F.to_json(
            F.struct(
                "event", "group_city", "group_country", "group_id", "group_state"
            )
        ).alias("value")
    )


def q3_cities_per_minute(raw: DataFrame, as_json: bool = True) -> DataFrame:
    """Q3: per 1-minute tumbling window, the set of cities with RSVPs.

    Event time is the *envelope* timestamp (Kafka ingest time), not any
    RSVP field (``srapk_structure_streaming.py:147-153``). No US filter
    on this path. ``as_json=False`` returns typed columns (plus a
    sorted city array) for oracle comparison instead of the JSON
    payload of ``srapk_structure_streaming.py:156-165``.
    """
    decoded = (
        decode_rsvps(raw)
        .select("data.*", F.to_timestamp("timestamp").alias("timestamp"))
        .withWatermark("timestamp", "1 minute")  # a no-op on a batch frame
    )
    windowed = decoded.groupBy(F.window("timestamp", "1 minute")).agg(
        F.collect_set("group.group_city").alias("cities")
    )
    parts = windowed.select(
        "window",
        F.month("window.start").alias("month"),
        F.dayofmonth("window.start").alias("day_of_the_month"),
        F.hour("window.start").alias("hour"),
        F.minute("window.start").alias("minute"),
        "cities",
    ).drop("window")
    if not as_json:
        return parts.withColumn("cities", F.array_sort("cities"))
    return parts.select(
        F.to_json(
            F.struct("month", "day_of_the_month", "hour", "minute", "cities")
        ).alias("value")
    )
