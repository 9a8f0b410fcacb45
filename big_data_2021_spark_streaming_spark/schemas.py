"""RSVP record schemas and the US-states dimension.

The reference hand-declares a 40-line nested StructType for the Meetup
RSVP feed (``srapk_structure_streaming.py:18-57``) with two verified
quirks (SURVEY.md §0):

- ``mtime`` is declared IntegerType but the feed carries epoch
  *milliseconds* (``data_example.json:19``), overflowing int32 so
  ``from_json`` yields NULL on every record.
- ``event.time`` is declared TimestampType but carries epoch-ms;
  Spark's JSON reader treats bare ints as epoch-*seconds*, so the
  value parses ~1000x too far in the future.

``rsvp_schema("faithful")`` reproduces those declarations exactly (so
golden tests can pin the quirky behavior); ``rsvp_schema("normalized")``
types both fields as LongType epoch-ms for correct downstream use —
callers convert with ``F.timestamp_millis``.

The states dimension reproduces the lookup list the reference inlines
at ``srapk_structure_streaming.py:78-137`` (public USPS abbreviations,
50 states + DC + AS/GU/MP/PR/VI). Column naming is deliberately odd and
load-bearing: the *full name* column is called ``group_state`` — the
same name as the RSVP abbreviation column — because the reference's Q2
join uses the collision to swap abbreviations for full names in its
output (SURVEY.md §0 quirk 4).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import (
    ArrayType,
    FloatType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from .session import local_frame

# USPS two-letter code -> full name, uppercase (public reference data).
_STATES_COMPACT = (
    "AL:ALABAMA,AK:ALASKA,AZ:ARIZONA,AR:ARKANSAS,CA:CALIFORNIA,"
    "CO:COLORADO,CT:CONNECTICUT,DE:DELAWARE,FL:FLORIDA,GA:GEORGIA,"
    "HI:HAWAII,ID:IDAHO,IL:ILLINOIS,IN:INDIANA,IA:IOWA,KS:KANSAS,"
    "KY:KENTUCKY,LA:LOUISIANA,ME:MAINE,MD:MARYLAND,MA:MASSACHUSETTS,"
    "MI:MICHIGAN,MN:MINNESOTA,MS:MISSISSIPPI,MO:MISSOURI,MT:MONTANA,"
    "NE:NEBRASKA,NV:NEVADA,NH:NEW HAMPSHIRE,NJ:NEW JERSEY,NM:NEW MEXICO,"
    "NY:NEW YORK,NC:NORTH CAROLINA,ND:NORTH DAKOTA,OH:OHIO,OK:OKLAHOMA,"
    "OR:OREGON,PA:PENNSYLVANIA,RI:RHODE ISLAND,SC:SOUTH CAROLINA,"
    "SD:SOUTH DAKOTA,TN:TENNESSEE,TX:TEXAS,UT:UTAH,VT:VERMONT,"
    "VA:VIRGINIA,WA:WASHINGTON,WV:WEST VIRGINIA,WI:WISCONSIN,WY:WYOMING,"
    "DC:DISTRICT OF COLUMBIA,AS:AMERICAN SAMOA,GU:GUAM,"
    # "NORTHERN MARIANA IS" is the reference's exact (truncated) string
    # (srapk_structure_streaming.py:116) — kept verbatim so Q2 output
    # matches the reference for group_state='MP'
    "MP:NORTHERN MARIANA IS,PR:PUERTO RICO,VI:VIRGIN ISLANDS"
)

STATE_NAME_BY_ABBREV: dict[str, str] = dict(
    pair.split(":", 1) for pair in _STATES_COMPACT.split(",")
)


def states_dimension(spark: SparkSession) -> DataFrame:
    """56-row static dimension; broadcast side of the Q2 join.

    Columns mirror the reference (``srapk_structure_streaming.py:137``):
    ``group_state`` = FULL NAME (collides with the fact column by
    design), ``state_short`` = abbreviation (join key).
    """
    rows = [(name, abbrev) for abbrev, name in STATE_NAME_BY_ABBREV.items()]
    return local_frame(spark, rows, "group_state STRING, state_short STRING")


def rsvp_schema(mode: str = "faithful") -> StructType:
    """Nested RSVP schema (``srapk_structure_streaming.py:18-57``).

    mode="faithful": reproduce the reference's declared types, including
    the int32 ``mtime`` overflow and seconds-as-ms ``event.time`` quirks.
    mode="normalized": epoch-ms fields as LongType for correct decoding.
    """
    if mode not in ("faithful", "normalized"):
        raise ValueError(f"mode must be faithful|normalized, got {mode!r}")
    faithful = mode == "faithful"
    mtime_type = IntegerType() if faithful else LongType()
    event_time_type = TimestampType() if faithful else LongType()

    venue = StructType(
        [
            StructField("venue_name", StringType()),
            StructField("lon", FloatType()),
            StructField("lat", FloatType()),
            StructField("venue_id", IntegerType()),
        ]
    )
    member = StructType(
        [
            StructField("member_id", IntegerType()),
            StructField("photo", StringType()),
            StructField("member_name", StringType()),
        ]
    )
    event = StructType(
        [
            StructField("event_name", StringType()),
            StructField("event_id", StringType()),
            StructField("time", event_time_type),
            StructField("event_url", StringType()),
        ]
    )
    topic = StructType(
        [
            StructField("urlkey", StringType(), nullable=False),
            StructField("topic_name", StringType(), nullable=False),
        ]
    )
    group = StructType(
        [
            StructField("group_topics", ArrayType(topic)),
            StructField("group_city", StringType()),
            StructField("group_country", StringType()),
            StructField("group_id", IntegerType(), nullable=False),
            StructField("group_name", StringType()),
            StructField("group_lon", FloatType()),
            StructField("group_urlname", StringType()),
            StructField("group_state", StringType()),
            StructField("group_lat", FloatType()),
        ]
    )
    return StructType(
        [
            StructField("venue", venue),
            StructField("visibility", StringType()),
            StructField("response", StringType()),
            StructField("guests", IntegerType()),
            StructField("member", member),
            StructField("rsvp_id", IntegerType()),
            StructField("mtime", mtime_type),
            StructField("event", event),
            StructField("group", group),
        ]
    )
