"""Driver-gate entries for the FAITHFUL RSVP lineages.

The batch registry otherwise exercises the reference's operator
*classes* on the driver's TPC-H-ish tables; these two entries put the
reference's exact RSVP semantics — quirks included — under the same
DuckDB hash gate. There is no RSVP parquet table, so the fixture is
inlined: BOTH engines derive their rows from the same Python literals
below (the hyperplane-inlining pattern from operators.similarity), so
the entries are self-contained and ignore ``sf_dir``.

What each entry pins:

- ``rsvp_faithful_filter`` — Q1 decode→flatten→US filter
  (``srapk_structure_streaming.py:59-64``) under the FAITHFUL schema,
  including quirk 2 (SURVEY.md §0): ``mtime`` declared IntegerType but
  fed epoch-milliseconds, so `from_json` NULLs it on int32 overflow.
  The oracle encodes that rule explicitly (CASE on the int32 range) —
  one fixture row carries an in-range mtime to prove non-overflow
  values survive. A malformed-JSON row pins PERMISSIVE null-struct
  behavior (dropped by the filter in both engines).
- ``rsvp_q2_payload`` — the full Q2 lineage
  (``srapk_structure_streaming.py:66-143``): 8-field nested
  projection, broadcast states join with the name-collision swap
  (abbreviation → FULL NAME, including the reference's truncated
  'NORTHERN MARIANA IS'), the dropped ``group_name``, and the
  double-encoded JSON payload (the inner event object is a JSON
  *string* inside the outer JSON). Runs in normalized mode so
  ``event.time`` is an epoch-ms long — both engines serialize longs
  identically, whereas the faithful year-53444 timestamp (quirk 3)
  overflows Python datetime and is pinned by pytest goldens instead.
"""

from __future__ import annotations

import json

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from ..schemas import STATE_NAME_BY_ABBREV, states_dimension
from ..session import local_frame
from .reference_queries import (
    decode_failed,
    decode_rsvps,
    q1_us_meetups,
    q2_us_meetups_enriched,
)

# (rsvp_id, country, city, state, mtime_ms, guests, event_id, event_name, time_ms)
_FIXTURE = [
    (1001, "us", "Bend", "OR", 1622913129340, 0, "e1", "Bike ride", 1624379400000),
    (1002, "us", "Austin", "TX", 1622913130111, 2, "e2", "Tech BBQ", 1624379460000),
    (1003, "gb", "London", None, 1622913131222, 1, "e3", "Pub quiz", 1624379520000),
    (1004, "us", "Saipan", "MP", 1622913132333, 0, "e4", "Beach day", 1624379580000),
    (1005, "fr", "Paris", None, 1622913133444, 3, "e5", "Wine talk", 1624379640000),
    # 'ZZ' is not a US state/territory abbreviation → dropped by the Q2 join
    (1006, "us", "Nowhere", "ZZ", 1622913134555, 1, "e6", "Mystery", 1624379700000),
    # in-int32-range mtime → must NOT be nulled (pins the overflow rule)
    (1007, "us", "Nome", "AK", 12345, 0, "e7", "Ice swim", 1624379760000),
]
_MALFORMED = "{this is not json"
# valid-but-empty JSON object: from_json yields an all-null struct, so the
# decode audit counts it corrupt on BOTH sides (predicate pinned below)
_EMPTY_OBJECT = "{}"


def _envelope_rows() -> list[tuple[str, str]]:
    rows = []
    for i, (rid, country, city, state, mtime, guests, eid, ename, etime) in enumerate(
        _FIXTURE
    ):
        value = json.dumps(
            {
                "response": "yes",
                "guests": guests,
                "rsvp_id": rid,
                "mtime": mtime,
                "event": {
                    "event_name": ename,
                    "event_id": eid,
                    "time": etime,
                    "event_url": f"https://example.test/{eid}",
                },
                "group": {
                    "group_city": city,
                    "group_country": country,
                    "group_id": rid - 1000,
                    "group_name": f"group-{rid}",
                    "group_state": state,
                },
            }
        )
        rows.append((value, f"2021-06-09 00:00:{i:02d}"))
    rows.append((_MALFORMED, "2021-06-09 00:00:58"))
    rows.append((_EMPTY_OBJECT, "2021-06-09 00:00:59"))
    return rows


def _envelope_df(spark: SparkSession) -> DataFrame:
    return local_frame(
        spark, _envelope_rows(), "value STRING, timestamp STRING"
    )


def _sql_quote(s: str) -> str:
    return "'" + s.replace("'", "''") + "'"


def _envelope_values_sql() -> str:
    return ", ".join(
        f"({_sql_quote(v)}, {_sql_quote(t)})" for v, t in _envelope_rows()
    )


def _states_values_sql() -> str:
    return ", ".join(
        f"({_sql_quote(name)}, {_sql_quote(ab)})"
        for ab, name in STATE_NAME_BY_ABBREV.items()
    )


def rsvp_faithful_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q1 on the faithful schema; output pins the mtime-NULL quirk."""
    return q1_us_meetups(_envelope_df(spark), "faithful").select(
        "rsvp_id",
        "guests",
        "mtime",  # NULL wherever the feed's epoch-ms overflows int32
        F.col("group.group_city").alias("group_city"),
        F.col("group.group_state").alias("group_state"),
    )


def rsvp_q2_payload(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q2's double-encoded payload, exactly one ``value`` column."""
    return q2_us_meetups_enriched(
        _envelope_df(spark), states_dimension(spark), mode="normalized"
    )


def rsvp_decode_failures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PERMISSIVE-decode audit: total rows vs rows whose JSON failed to
    parse (from_json → NULL struct) — the corrupt-rate metric an ingest
    pipeline monitors before trusting a feed."""
    return decode_rsvps(_envelope_df(spark)).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(decode_failed().cast("bigint")).alias("n_corrupt"),
    )


def _decode_failures_sql() -> str:
    # Semantically identical to the Spark predicate: a record is corrupt
    # when from_json can't produce any of the three top-level fields —
    # i.e. invalid JSON OR a valid object missing rsvp_id/group/event
    # (pinned by the `{}` fixture row). CASE keeps json extraction off
    # the invalid-JSON branch; outer CAST defeats DuckDB's
    # SUM(BIGINT)→HUGEINT→pandas-float64 drift vs Spark's int64.
    corrupt = """CASE WHEN NOT json_valid(value) THEN 1
                      WHEN (value -> '$.rsvp_id') IS NULL
                           AND (value -> '$.group') IS NULL
                           AND (value -> '$.event') IS NULL THEN 1
                      ELSE 0 END"""
    return f"""
        SELECT COUNT(*) AS n_rows,
               CAST(SUM({corrupt}) AS BIGINT) AS n_corrupt
        FROM (VALUES {_envelope_values_sql()}) AS envelope(value, ts)
    """


def _faithful_filter_sql() -> str:
    mt = "CAST(value -> '$.mtime' AS BIGINT)"
    return f"""
        SELECT CAST(value ->> '$.rsvp_id' AS INTEGER) AS rsvp_id,
               CAST(value ->> '$.guests' AS INTEGER) AS guests,
               CASE WHEN {mt} BETWEEN -2147483648 AND 2147483647
                    THEN CAST({mt} AS INTEGER) ELSE NULL END AS mtime,
               value ->> '$.group.group_city' AS group_city,
               value ->> '$.group.group_state' AS group_state
        FROM (VALUES {_envelope_values_sql()}) AS envelope(value, ts)
        WHERE json_valid(value)
          AND (value ->> '$.group.group_country') = 'us'
    """


def _q2_payload_sql() -> str:
    return f"""
        WITH envelope(value, ts) AS (VALUES {_envelope_values_sql()}),
        states(group_state, state_short) AS (VALUES {_states_values_sql()}),
        decoded AS (
            SELECT value ->> '$.group.group_city' AS group_city,
                   value ->> '$.group.group_country' AS group_country,
                   CAST(value ->> '$.group.group_id' AS INTEGER) AS group_id,
                   value ->> '$.group.group_state' AS abbrev,
                   value ->> '$.event.event_name' AS event_name,
                   value ->> '$.event.event_id' AS event_id,
                   CAST(value -> '$.event.time' AS BIGINT) AS time
            FROM envelope
            WHERE json_valid(value)
              AND (value ->> '$.group.group_country') = 'us'
        )
        SELECT to_json(struct_pack(
                   event := CAST(to_json(struct_pack(
                       event_id := event_id,
                       event_name := event_name,
                       "time" := time)) AS VARCHAR),
                   group_city := group_city,
                   group_country := group_country,
                   group_id := group_id,
                   group_state := states.group_state)) AS value
        FROM decoded
        JOIN states ON decoded.abbrev = states.state_short
    """


QUERIES = {
    "rsvp_faithful_filter": rsvp_faithful_filter,
    "rsvp_q2_payload": rsvp_q2_payload,
    "rsvp_decode_failures": rsvp_decode_failures,
}

ORACLES: dict[str, str] = {
    "rsvp_faithful_filter": _faithful_filter_sql(),
    "rsvp_q2_payload": _q2_payload_sql(),
    "rsvp_decode_failures": _decode_failures_sql(),
}
