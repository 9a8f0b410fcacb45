"""Streaming semantics tests: file-source replay of the reference
lineages, watermark late-data drop, batch≡stream equivalence,
bounded-state dedup, stateful sessionization, checkpoint recovery.

Strategy per SURVEY.md §5: fixtures replayed one-file-per-microbatch
through a JSON file source, collected via memory sink; append-mode
windows are finalized by pushing a sentinel event past the watermark.
"""

from __future__ import annotations

import json
from datetime import datetime, timedelta

import pytest

from big_data_2021_spark_streaming_spark.plans.reference_queries import (
    q1_us_meetups,
    q2_us_meetups_enriched,
    q3_cities_per_minute,
)
from big_data_2021_spark_streaming_spark.schemas import states_dimension
from big_data_2021_spark_streaming_spark.streaming.pipeline import (
    rsvp_file_stream,
    sessionize,
    stream_dedup,
    to_memory_sink,
)
from big_data_2021_spark_streaming_spark.streaming.replay import (
    FileEnvelopeProducer,
    iter_jsonl_records,
)


def rsvp_json(country, city, state=None):
    return json.dumps(
        {
            "response": "yes",
            "guests": 0,
            "rsvp_id": 7,
            "event": {"event_name": "e", "event_id": "id1", "event_url": "u"},
            "group": {
                "group_city": city,
                "group_country": country,
                "group_id": 1,
                "group_name": "g",
                "group_state": state,
            },
        }
    )


def drain(query):
    query.processAllAvailable()
    query.stop()


@pytest.fixture
def fixture_dir(tmp_path):
    d = tmp_path / "stream"
    d.mkdir()
    return d


@pytest.fixture
def producer(fixture_dir):
    return FileEnvelopeProducer(fixture_dir)


def test_q1_q2_streaming_replay(spark, fixture_dir, producer):
    producer.send_batch(
        [
            (rsvp_json("us", "Bend", "OR"), "2021-06-09 00:00:07"),
            (rsvp_json("gb", "London"), "2021-06-09 00:00:09"),
        ]
    )
    producer.send_batch(
        [(rsvp_json("us", "Austin", "TX"), "2021-06-09 00:01:07")]
    )
    raw = rsvp_file_stream(spark, str(fixture_dir))
    assert raw.isStreaming
    q1 = to_memory_sink(
        q1_us_meetups(raw).select("group.group_city"), "q1_sink"
    )
    drain(q1)
    cities = {r.group_city for r in spark.table("q1_sink").collect()}
    assert cities == {"Bend", "Austin"}

    q2 = to_memory_sink(
        q2_us_meetups_enriched(raw, states_dimension(spark)), "q2_sink"
    )
    drain(q2)
    payloads = [json.loads(r.value) for r in spark.table("q2_sink").collect()]
    assert {p["group_state"] for p in payloads} == {"OREGON", "TEXAS"}


def test_batch_stream_equivalence(spark, fixture_dir, producer):
    rows = [
        (rsvp_json("us", "Bend", "OR"), "2021-06-09 00:00:07"),
        (rsvp_json("us", "Austin", "TX"), "2021-06-09 00:01:07"),
        (rsvp_json("fr", "Paris"), "2021-06-09 00:01:30"),
        (rsvp_json("us", "Nome", "AK"), "2021-06-09 00:09:00"),
    ]
    producer.send_batch(rows)
    # batch run of the SAME lineage
    batch_raw = spark.createDataFrame(rows, ["value", "timestamp"])
    batch = {
        (r.minute, tuple(r.cities))
        for r in q3_cities_per_minute(batch_raw, as_json=False).collect()
    }
    # streaming run, complete mode (all windows, finalized or not)
    stream_raw = rsvp_file_stream(spark, str(fixture_dir))
    q = to_memory_sink(
        q3_cities_per_minute(stream_raw, as_json=False),
        "equiv_sink",
        output_mode="complete",
    )
    drain(q)
    stream = {
        (r.minute, tuple(r.cities)) for r in spark.table("equiv_sink").collect()
    }
    assert batch == stream


def test_stream_dedup_within_watermark(spark, tmp_path):
    d = tmp_path / "dedup"
    d.mkdir()
    evs = [
        {"event_id": 1, "ts": "2024-01-01 00:00:01", "user_id": 10},
        {"event_id": 1, "ts": "2024-01-01 00:00:02", "user_id": 10},  # dup id
        {"event_id": 2, "ts": "2024-01-01 00:00:03", "user_id": 11},
    ]
    (d / "b0.json").write_text("\n".join(json.dumps(e) for e in evs))
    schema = "event_id LONG, ts STRING, user_id LONG"
    stream = (
        spark.readStream.schema(schema)
        .json(str(d))
        .selectExpr("event_id", "CAST(ts AS TIMESTAMP) AS ts", "user_id")
    )
    deduped = stream_dedup(stream, ["event_id"], "ts", "1 minute")
    q = to_memory_sink(deduped, "dedup_sink")
    drain(q)
    out = spark.table("dedup_sink").collect()
    assert sorted(r.event_id for r in out) == [1, 2]


def test_sessionize_closes_on_gap_and_timeout(spark, tmp_path):
    d = tmp_path / "sess"
    d.mkdir()
    t0 = datetime(2024, 1, 1, 0, 0, 0)

    def ev(i, minutes, value, user=1):
        return {
            "event_id": i,
            "ts": (t0 + timedelta(minutes=minutes)).strftime("%Y-%m-%d %H:%M:%S"),
            "user_id": user,
            "value": value,
        }

    def write(name, events):
        (d / name).write_text("\n".join(json.dumps(e) for e in events))

    # batch 0 opens session A for user 1 (3 events within the gap)
    write("b0.json", [ev(1, 0, 1.0), ev(2, 5, 2.0), ev(3, 10, 3.0)])
    schema = "event_id LONG, ts STRING, user_id LONG, value DOUBLE"
    stream = (
        spark.readStream.schema(schema)
        .json(str(d))
        .selectExpr(
            "event_id", "CAST(ts AS TIMESTAMP) AS ts", "user_id", "value"
        )
    )
    sessions = sessionize(stream, gap="30 minutes", watermark_delay="1 minute")
    q = to_memory_sink(sessions, "sess_sink")
    q.processAllAvailable()
    assert spark.table("sess_sink").count() == 0  # A still open

    # gap closure: a user-1 event 300 min later opens session B (window
    # 300-330 min) and moves the watermark to 299 min, past A's window
    # end (last event + gap = 40 min): the no-data batch after it emits A
    write("b1.json", [ev(4, 300, 9.0)])
    q.processAllAvailable()
    out = spark.table("sess_sink").collect()
    assert len(out) == 1
    s = out[0]
    assert s.user_id == 1 and s.n_events == 3 and s.total_value == 6.0
    assert s.session_start == t0 and s.session_end == t0 + timedelta(minutes=10)

    # watermark closure of the last session: batch 2 (another user)
    # moves the watermark to 599 min, past B's window end (330 min), so
    # the batch after it emits B; batch 3 and the drain flush the rest
    write("b2.json", [ev(5, 600, 4.0, user=2)])
    q.processAllAvailable()
    write("b3.json", [ev(6, 900, 5.0, user=3)])
    drain(q)
    out = {(r.user_id, r.n_events, r.total_value) for r in spark.table("sess_sink").collect()}
    assert (1, 1, 9.0) in out  # session B, closed by the watermark
    assert (1, 3, 6.0) in out  # session A still there (gap closure)


def test_sessionize_splits_within_one_batch(spark, tmp_path):
    """Two gap-separated bursts arriving in a single micro-batch must
    still become two sessions (the session window splits at the gap)."""
    d = tmp_path / "sess2"
    d.mkdir()
    t0 = datetime(2024, 1, 1, 0, 0, 0)
    evs = [
        {"event_id": 1, "ts": "2024-01-01 00:00:00", "user_id": 7, "value": 1.0},
        {"event_id": 2, "ts": "2024-01-01 00:10:00", "user_id": 7, "value": 2.0},
        # 90-minute silence > 30-minute gap
        {"event_id": 3, "ts": "2024-01-01 01:40:00", "user_id": 7, "value": 4.0},
    ]
    (d / "b0.json").write_text("\n".join(json.dumps(e) for e in evs))
    schema = "event_id LONG, ts STRING, user_id LONG, value DOUBLE"
    stream = (
        spark.readStream.schema(schema)
        .json(str(d))
        .selectExpr(
            "event_id", "CAST(ts AS TIMESTAMP) AS ts", "user_id", "value"
        )
    )
    sessions = sessionize(stream, gap="30 minutes", watermark_delay="1 minute")
    q = to_memory_sink(sessions, "sess2_sink")
    drain(q)
    out = spark.table("sess2_sink").collect()
    # the first burst's window ends at 40 min, below the 99-min watermark
    # the batch sets; the second burst's session is still open
    assert len(out) == 1
    s = out[0]
    assert s.n_events == 2 and s.total_value == 3.0
    assert s.session_start == t0 and s.session_end == t0 + timedelta(minutes=10)


T0 = datetime(2024, 1, 1, 0, 0, 0)
SESSION_EVENT_SCHEMA = "event_id LONG, ts STRING, user_id LONG, value DOUBLE"


def session_event(i, minutes, value, user=1):
    return {
        "event_id": i,
        "ts": (T0 + timedelta(minutes=minutes)).strftime("%Y-%m-%d %H:%M:%S"),
        "user_id": user,
        "value": value,
    }


def session_events(reader, d):
    """Session-event JSON files in ``d`` as (event_id, ts, user_id, value)
    frames; ``reader`` is ``spark.read`` or ``spark.readStream``."""
    return (
        reader.schema(SESSION_EVENT_SCHEMA)
        .json(str(d))
        .selectExpr("event_id", "CAST(ts AS TIMESTAMP) AS ts", "user_id", "value")
    )


def write_events(path, events):
    path.write_text("\n".join(json.dumps(e) for e in events))


def test_sessionize_merges_admitted_out_of_order_event(spark, tmp_path):
    """An event above the watermark that lands between two bursts
    bridges them: one session, as the batch session window over all
    events gives."""
    d = tmp_path / "sess_ooo"
    d.mkdir()
    write_events(
        d / "b0.json",
        [session_event(1, 0, 1.0), session_event(2, 10, 2.0), session_event(3, 45, 5.0)],
    )
    sessions = sessionize(
        session_events(spark.readStream, d),
        gap="30 minutes",
        watermark_delay="10 minutes",
    )
    q = to_memory_sink(sessions, "sess_ooo_sink")
    q.processAllAvailable()
    # 38 min is above the 35-min watermark, so Spark admits it
    write_events(d / "b1.json", [session_event(4, 38, 7.0)])
    q.processAllAvailable()
    write_events(d / "b2.json", [session_event(5, 300, 0.0, user=2)])
    q.processAllAvailable()
    write_events(d / "b3.json", [session_event(6, 600, 0.0, user=3)])
    drain(q)
    out = [r for r in spark.table("sess_ooo_sink").collect() if r.user_id == 1]
    assert len(out) == 1
    s = out[0]
    assert s.n_events == 4 and s.total_value == 15.0
    assert s.session_start == T0 and s.session_end == T0 + timedelta(minutes=45)


@pytest.mark.parametrize("n_files", [1, 2, 4])
def test_sessionize_stream_matches_static_for_any_slicing(spark, tmp_path, n_files):
    """In-order events fed as 1, 2 or 4 files give the rows sessionize
    returns on the static frame of all events."""
    evs = [
        session_event(1, 0, 1.0),
        session_event(2, 5, 2.0, user=2),
        session_event(3, 20, 3.0),
        session_event(4, 70, 4.0, user=2),
        session_event(5, 90, 5.0),
        session_event(6, 100, 6.0, user=2),
        session_event(7, 115, 7.0),
        session_event(8, 200, 8.0),
    ]
    static_dir = tmp_path / "all"
    static_dir.mkdir()
    write_events(static_dir / "all.json", evs)
    static = sessionize(session_events(spark.read, static_dir)).collect()
    assert len(static) == 5

    d = tmp_path / "sliced"
    d.mkdir()
    step = len(evs) // n_files
    for k in range(n_files):
        write_events(d / f"b{k}.json", evs[k * step : (k + 1) * step])
    sink = f"sess_slice_{n_files}_sink"
    q = to_memory_sink(sessionize(session_events(spark.readStream, d)), sink)
    q.processAllAvailable()
    # two pushes of another user's events move the watermark past
    # every session above and flush them
    write_events(d / "push0.json", [session_event(9, 1000, 0.0, user=99)])
    q.processAllAvailable()
    write_events(d / "push1.json", [session_event(10, 2000, 0.0, user=99)])
    drain(q)
    streamed = [r for r in spark.table(sink).collect() if r.user_id != 99]
    assert sorted(streamed) == sorted(static)


def test_sessionize_output_schema(spark, tmp_path):
    want = (
        "struct<user_id:bigint,session_start:timestamp,session_end:timestamp,"
        "n_events:int,total_value:double>"
    )
    write_events(tmp_path / "b0.json", [session_event(1, 0, 1.0)])
    for reader in (spark.read, spark.readStream):
        sessions = sessionize(session_events(reader, tmp_path))
        assert sessions.schema.simpleString() == want


@pytest.mark.parametrize("gap", ["30 minutez", "0 minutes", "-5 minutes"])
def test_sessionize_rejects_bad_gap_at_build_time(spark, tmp_path, gap):
    """F.session_window silently drops every row on such a gap, so
    sessionize refuses it before any query starts."""
    stream = session_events(spark.readStream, tmp_path)
    with pytest.raises(ValueError, match="duration"):
        sessionize(stream, gap=gap)
    assert spark.streams.active == []


def test_checkpoint_recovery(spark, tmp_path):
    """Kill a checkpointed query, append new data, restart from the same
    checkpoint: no reprocessing of old batches, new data picked up —
    the reference's recovery contract (checkpoint/ artifacts, §W5)."""
    src = tmp_path / "src"
    src.mkdir()
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "out")
    prod = FileEnvelopeProducer(src)
    prod.send_batch([(rsvp_json("us", "Bend", "OR"), "2021-06-09 00:00:07")])
    raw = rsvp_file_stream(spark, str(src))
    lineage = q1_us_meetups(raw).select("group.group_city")
    q = (
        lineage.writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .start()
    )
    q.processAllAvailable()
    q.stop()
    prod.send_batch([(rsvp_json("us", "Austin", "TX"), "2021-06-09 00:01:07")])
    raw2 = rsvp_file_stream(spark, str(src))
    q2 = (
        q1_us_meetups(raw2)
        .select("group.group_city")
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .start()
    )
    q2.processAllAvailable()
    q2.stop()
    cities = sorted(
        r.group_city for r in spark.read.parquet(out).collect()
    )
    assert cities == ["Austin", "Bend"]  # exactly once each


def test_interval_join_state_survives_checkpoint_restart(spark, tmp_path):
    """Join-STATE recovery (beyond the aggregation-state recovery
    above): a click buffered in join state before the stop must still
    match a purchase that arrives only after restart from the same
    checkpoint — and nothing is emitted twice."""
    from big_data_2021_spark_streaming_spark.streaming.pipeline import (
        stream_interval_join,
    )

    cdir, pdir = tmp_path / "clicks", tmp_path / "purch"
    cdir.mkdir()
    pdir.mkdir()
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "out")

    def build():
        clicks = (
            spark.readStream.schema("click_id LONG, click_ts STRING, user_id LONG")
            .json(str(cdir))
            .selectExpr(
                "click_id", "CAST(click_ts AS TIMESTAMP) AS click_ts", "user_id"
            )
        )
        purchases = (
            spark.readStream.schema("p_id LONG, p_ts STRING, p_user_id LONG")
            .json(str(pdir))
            .selectExpr("p_id", "CAST(p_ts AS TIMESTAMP) AS p_ts", "p_user_id")
        )
        return stream_interval_join(
            clicks, purchases, "click_ts", "p_ts", "user_id = p_user_id", "1 hour"
        ).select("click_id", "p_id")

    def start(df):
        return (
            df.writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .start()
        )

    (cdir / "b0.json").write_text(
        json.dumps({"click_id": 1, "click_ts": "2024-01-01 10:00:00", "user_id": 1})
    )
    (pdir / "b0.json").write_text(
        json.dumps({"p_id": 10, "p_ts": "2024-01-01 10:10:00", "p_user_id": 1})
    )
    q = start(build())
    q.processAllAvailable()
    q.stop()
    # the matching purchase for the STILL-BUFFERED click arrives only
    # after the restart; recovery must restore the click from join state
    (pdir / "b1.json").write_text(
        json.dumps({"p_id": 11, "p_ts": "2024-01-01 10:30:00", "p_user_id": 1})
    )
    q2 = start(build())
    q2.processAllAvailable()
    q2.stop()
    pairs = sorted(
        (r.click_id, r.p_id) for r in spark.read.parquet(out).collect()
    )
    assert pairs == [(1, 10), (1, 11)]  # old match once, new match found


def test_replay_producer_roundtrip(tmp_path):
    """FileEnvelopeProducer writes the exact envelope contract and
    iter_jsonl_records is its inverse (the reference's decode loop)."""
    d = tmp_path / "replay"
    prod = FileEnvelopeProducer(d)
    p0 = prod.send_batch([({"a": 1}, "2021-06-09 00:00:07")])
    p1 = prod.send_batch([(rsvp_json("us", "Bend", "OR"), "2021-06-09 00:00:09")])
    assert p0.name < p1.name  # files sort in send order
    recs = list(iter_jsonl_records(p0)) + list(iter_jsonl_records(p1))
    assert recs[0] == {"value": '{"a": 1}', "timestamp": "2021-06-09 00:00:07"}
    inner = json.loads(recs[1]["value"])
    assert inner["group"]["group_city"] == "Bend"


def test_replay_jsonl_chunks_batches(tmp_path):
    fixture = tmp_path / "fixture.jsonl"
    fixture.write_text("\n".join(json.dumps({"i": i}) for i in range(7)))
    out = tmp_path / "out"
    n = FileEnvelopeProducer(out).replay_jsonl(fixture, "2021-06-09 00:00:00", batch_size=3)
    assert n == 7
    files = sorted(out.iterdir())
    assert len(files) == 3  # 3 + 3 + 1
    assert sum(1 for f in files for _ in iter_jsonl_records(f)) == 7


def test_native_session_window_streaming(spark, tmp_path):
    """F.session_window in streaming append mode: a session is emitted
    once the watermark passes its end (last event + gap) — the operator
    ``sessionize`` is built on, read here through its raw window."""
    import pyspark.sql.functions as F

    d = tmp_path / "natsess"
    d.mkdir()
    t0 = datetime(2024, 1, 1, 0, 0, 0)

    def ev(i, minutes, user, value):
        return {
            "event_id": i,
            "ts": (t0 + timedelta(minutes=minutes)).strftime("%Y-%m-%d %H:%M:%S"),
            "user_id": user,
            "value": value,
        }

    def write(name, events):
        (d / name).write_text("\n".join(json.dumps(e) for e in events))

    write("b0.json", [ev(1, 0, 1, 1.0), ev(2, 10, 1, 2.0)])
    schema = "event_id LONG, ts STRING, user_id LONG, value DOUBLE"
    stream = (
        spark.readStream.schema(schema)
        .json(str(d))
        .selectExpr("CAST(ts AS TIMESTAMP) AS ts", "user_id", "value")
    )
    sessions = (
        stream.withWatermark("ts", "1 minute")
        .groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"), F.sum("value").alias("total"))
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
            "total",
        )
    )
    q = to_memory_sink(sessions, "natsess_sink", output_mode="append")
    q.processAllAvailable()
    # advance the watermark far past session end (10 + 30 = 40 min)
    write("b1.json", [ev(3, 300, 2, 9.0)])
    q.processAllAvailable()
    write("b2.json", [ev(4, 600, 3, 9.0)])
    drain(q)
    rows = {r.user_id: r for r in spark.table("natsess_sink").collect()}
    s = rows[1]
    assert s.n_events == 2 and s.total == 3.0
    assert s.session_start == t0
    assert s.session_end == t0 + timedelta(minutes=40)  # last event + gap


def test_console_sink_runs(spark, fixture_dir, producer):
    """S6 debug sink: starts, drains a micro-batch, stops cleanly."""
    from big_data_2021_spark_streaming_spark.streaming.pipeline import (
        to_console_sink,
    )

    producer.send_batch([(rsvp_json("us", "Bend", "OR"), "2021-06-09 00:00:07")])
    raw = rsvp_file_stream(spark, str(fixture_dir))
    q = to_console_sink(q1_us_meetups(raw).select("group.group_city"))
    drain(q)
    assert q.lastProgress is not None


def test_foreach_batch_available_now_exactly_once(spark, tmp_path):
    """foreachBatch + availableNow: drain-all-then-stop trigger, with
    per-batch_id overwrite making replays idempotent. A restart from
    the same checkpoint must not rewrite old batches."""
    from big_data_2021_spark_streaming_spark.streaming.pipeline import (
        idempotent_parquet_batch_writer,
        to_foreach_batch_sink,
    )

    src = tmp_path / "fb_src"
    src.mkdir()
    ckpt = str(tmp_path / "fb_ckpt")
    out = str(tmp_path / "fb_out")
    prod = FileEnvelopeProducer(src)
    prod.send_batch([(rsvp_json("us", "Bend", "OR"), "2021-06-09 00:00:07")])

    def run():
        raw = rsvp_file_stream(spark, str(src))
        q = to_foreach_batch_sink(
            q1_us_meetups(raw).select("group.group_city"),
            idempotent_parquet_batch_writer(out),
            ckpt,
            available_now=True,
        )
        q.awaitTermination()  # availableNow stops by itself when drained

    run()
    prod.send_batch([(rsvp_json("us", "Austin", "TX"), "2021-06-09 00:01:07")])
    run()
    cities = sorted(r.group_city for r in spark.read.parquet(out).collect())
    assert cities == ["Austin", "Bend"]  # each batch written exactly once


def test_stream_stream_interval_join(spark, tmp_path):
    """Stream–stream interval join with watermarks on both sides:
    purchases within 1 hour after a click by the same user match."""
    from big_data_2021_spark_streaming_spark.streaming.pipeline import (
        stream_interval_join,
    )

    cdir, pdir = tmp_path / "clicks", tmp_path / "purch"
    cdir.mkdir()
    pdir.mkdir()
    (cdir / "b0.json").write_text(
        "\n".join(
            json.dumps(e)
            for e in [
                {"click_id": 1, "click_ts": "2024-01-01 10:00:00", "user_id": 1},
                {"click_id": 2, "click_ts": "2024-01-01 10:05:00", "user_id": 2},
            ]
        )
    )
    (pdir / "b0.json").write_text(
        "\n".join(
            json.dumps(e)
            for e in [
                # 30 min after user 1's click -> match
                {"p_id": 10, "p_ts": "2024-01-01 10:30:00", "p_user_id": 1},
                # 2 h after user 2's click -> outside window, no match
                {"p_id": 11, "p_ts": "2024-01-01 12:05:00", "p_user_id": 2},
            ]
        )
    )
    clicks = (
        spark.readStream.schema("click_id LONG, click_ts STRING, user_id LONG")
        .json(str(cdir))
        .selectExpr("click_id", "CAST(click_ts AS TIMESTAMP) AS click_ts", "user_id")
    )
    purchases = (
        spark.readStream.schema("p_id LONG, p_ts STRING, p_user_id LONG")
        .json(str(pdir))
        .selectExpr("p_id", "CAST(p_ts AS TIMESTAMP) AS p_ts", "p_user_id")
    )
    joined = stream_interval_join(
        clicks, purchases, "click_ts", "p_ts", "user_id = p_user_id", "1 hour"
    ).select("click_id", "p_id")
    q = to_memory_sink(joined, "ssj_sink")
    drain(q)
    pairs = {(r.click_id, r.p_id) for r in spark.table("ssj_sink").collect()}
    assert pairs == {(1, 10)}


def test_stream_stream_left_outer_join_delayed_nulls(spark, tmp_path):
    """Left-outer stream–stream join: an unmatched left row is emitted
    NULL-padded only after the watermark proves no match can arrive
    (watermark > click_ts + window) — not in the batch it arrives in."""
    from big_data_2021_spark_streaming_spark.streaming.pipeline import (
        stream_interval_join,
    )

    cdir, pdir = tmp_path / "clicks", tmp_path / "purch"
    cdir.mkdir()
    pdir.mkdir()
    (cdir / "b0.json").write_text(
        "\n".join(
            json.dumps(e)
            for e in [
                {"click_id": 1, "click_ts": "2024-01-01 10:00:00", "user_id": 1},
                # user 2 never purchases -> must surface as (2, NULL),
                # but only after the watermark passes 11:05 + delay
                {"click_id": 2, "click_ts": "2024-01-01 10:05:00", "user_id": 2},
            ]
        )
    )
    (pdir / "b0.json").write_text(
        json.dumps({"p_id": 10, "p_ts": "2024-01-01 10:30:00", "p_user_id": 1})
    )
    clicks = (
        spark.readStream.schema("click_id LONG, click_ts STRING, user_id LONG")
        .json(str(cdir))
        .selectExpr("click_id", "CAST(click_ts AS TIMESTAMP) AS click_ts", "user_id")
    )
    purchases = (
        spark.readStream.schema("p_id LONG, p_ts STRING, p_user_id LONG")
        .json(str(pdir))
        .selectExpr("p_id", "CAST(p_ts AS TIMESTAMP) AS p_ts", "p_user_id")
    )
    joined = stream_interval_join(
        clicks,
        purchases,
        "click_ts",
        "p_ts",
        "user_id = p_user_id",
        "1 hour",
        how="left_outer",
    ).select("click_id", "p_id")
    q = to_memory_sink(joined, "ssoj_sink")
    try:
        q.processAllAvailable()
        first = {
            (r.click_id, r.p_id) for r in spark.table("ssoj_sink").collect()
        }
        assert first == {(1, 10)}, "NULL row must NOT be emitted early"
        # advance BOTH watermarks past click_ts + window + delay so the
        # join can prove click 2 is unmatched
        (cdir / "b1.json").write_text(
            json.dumps(
                {"click_id": 99, "click_ts": "2024-01-01 13:00:00", "user_id": 98}
            )
        )
        (pdir / "b1.json").write_text(
            json.dumps({"p_id": 90, "p_ts": "2024-01-01 13:00:00", "p_user_id": 97})
        )
        q.processAllAvailable()
        # the watermark computed from b1 only takes effect on the NEXT
        # micro-batch — state eviction (and the NULL emission) needs
        # one more batch, so nudge each source once more
        (cdir / "b2.json").write_text(
            json.dumps(
                {"click_id": 100, "click_ts": "2024-01-01 13:10:00", "user_id": 96}
            )
        )
        (pdir / "b2.json").write_text(
            json.dumps({"p_id": 91, "p_ts": "2024-01-01 13:10:00", "p_user_id": 95})
        )
        q.processAllAvailable()
        final = {
            (r.click_id, r.p_id) for r in spark.table("ssoj_sink").collect()
        }
        assert (2, None) in final, "watermark-proven unmatched left row missing"
        assert (1, 10) in final
    finally:
        q.stop()


def test_observed_ingest_metrics(spark, fixture_dir, producer):
    """observe(): per-micro-batch quality metrics ride the query
    progress — row count and PERMISSIVE decode failures — without a
    second aggregation query over the stream."""
    from big_data_2021_spark_streaming_spark.plans.reference_queries import (
        decode_rsvps,
    )
    from big_data_2021_spark_streaming_spark.streaming.pipeline import (
        rsvp_file_stream,
        to_memory_sink,
        with_ingest_metrics,
    )

    producer.send_batch(
        [
            (rsvp_json("us", "Bend", "OR"), "2021-06-09 00:00:07"),
            ("{not json", "2021-06-09 00:00:08"),  # decode failure
            (rsvp_json("gb", "London"), "2021-06-09 00:00:09"),
        ]
    )
    raw = rsvp_file_stream(spark, str(fixture_dir))
    observed = with_ingest_metrics(decode_rsvps(raw))
    q = to_memory_sink(observed.select("timestamp"), "obs_sink")
    try:
        q.processAllAvailable()
        metrics = None
        for p in reversed(q.recentProgress):
            om = p.observedMetrics.get("ingest_metrics")
            if om is not None and om["n_rows"]:
                metrics = om
                break
        assert metrics is not None, "no batch carried observed metrics"
        assert metrics["n_rows"] == 3
        assert metrics["n_corrupt"] == 1
        assert metrics["max_event_ts"] == "2021-06-09 00:00:09"
    finally:
        q.stop()


def test_text_quality_batch_stream_equivalence(spark, tmp_path):
    """The text-quality lineage is stateless: running it over a
    documents stream must equal the batch run on the same rows."""
    from big_data_2021_spark_streaming_spark.operators.text import quality_lineage

    d = tmp_path / "docs"
    d.mkdir()
    rows = [
        {"doc_id": 1, "text": "the quick brown fox jumps over the lazy dog"},
        {"doc_id": 2, "text": "a   b"},
        {"doc_id": 3, "text": "word " * 150},
    ]
    (d / "b0.json").write_text("\n".join(json.dumps(r) for r in rows))
    schema = "doc_id LONG, text STRING"
    stream = spark.readStream.schema(schema).json(str(d))
    q = to_memory_sink(quality_lineage(stream), "tq_sink")
    drain(q)
    streamed = {tuple(r) for r in spark.table("tq_sink").collect()}
    batch = {
        tuple(r)
        for r in quality_lineage(
            spark.createDataFrame([(r["doc_id"], r["text"]) for r in rows], schema)
        ).collect()
    }
    assert streamed == batch


def test_update_output_mode_re_emits_changed_windows(spark, fixture_dir, producer):
    """Update mode: a window re-emits each batch it changes (vs append,
    which emits exactly once after finalization)."""
    import pyspark.sql.functions as F

    producer.send_batch(
        [(rsvp_json("us", "Bend", "OR"), "2021-06-09 00:00:07")]
    )
    raw = rsvp_file_stream(spark, str(fixture_dir))
    counts = (
        q1_us_meetups(raw)
        .groupBy(F.col("group.group_state").alias("state"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    q = to_memory_sink(counts, "upd_sink", output_mode="update")
    q.processAllAvailable()
    producer.send_batch(
        [(rsvp_json("us", "Portland", "OR"), "2021-06-09 00:00:30")]
    )
    drain(q)
    # OR emitted twice: n=1 after batch 0, n=2 after batch 1
    emissions = [r.n for r in spark.table("upd_sink").collect() if r.state == "OR"]
    assert sorted(emissions) == [1, 2]


# The state-store providers a stateful scenario runs under, each with a
# custom metric only it reports: HDFS-backed is the reference's
# provider, RocksDB is the one get_session sets.
_PROVIDER_METRICS = {
    "HDFSBackedStateStoreProvider": "loadedMapCacheHitCount",
    "RocksDBStateStoreProvider": "rocksdbGetCount",
}


def _under_each_provider(spark, scenario):
    """Run ``scenario(provider) -> (query, result)`` once per state-store
    provider and return the results in ``_PROVIDER_METRICS`` order. Each
    query's progress must carry its provider's metric, so a comparison
    cannot silently run one provider twice. The provider is resolved
    from SQLConf at query start, so a conf flip between queries is
    enough; the session's provider is restored afterward."""
    key = "spark.sql.streaming.stateStore.providerClass"
    prev = spark.conf.get(key)
    results = []
    try:
        for provider, metric in _PROVIDER_METRICS.items():
            spark.conf.set(
                key, f"org.apache.spark.sql.execution.streaming.state.{provider}"
            )
            q, result = scenario(provider)
            seen = {
                m
                for p in q.recentProgress
                for op in p["stateOperators"]
                for m in op["customMetrics"]
            }
            assert metric in seen, provider
            results.append(result)
    finally:
        spark.conf.set(key, prev)
    return results


def _run_q3_scenario(spark, d, sink):
    """The append-mode Q3 lineage with a late straggler: (query,
    {minute: sorted cities})."""
    d.mkdir()
    producer = FileEnvelopeProducer(d)
    # The file source orders files by mtime, so three files written in
    # the same tick can coalesce/reorder. Write each file only after the
    # previous micro-batch fully drained: batch order is deterministic.
    producer.send_batch(
        [
            (rsvp_json("us", "Bend", "OR"), "2021-06-09 00:00:07"),
            (rsvp_json("us", "Portland", "OR"), "2021-06-09 00:00:30"),
        ]
    )
    raw = rsvp_file_stream(spark, str(d))
    q = to_memory_sink(
        q3_cities_per_minute(raw, as_json=False), sink, output_mode="append"
    )
    q.processAllAvailable()
    # batch 1 advances the watermark past minute 0 (event at 00:05)
    producer.send_batch(
        [(rsvp_json("us", "Austin", "TX"), "2021-06-09 00:05:00")]
    )
    q.processAllAvailable()
    # batch 2 is a late straggler for the already-finalized minute 0
    producer.send_batch(
        [(rsvp_json("us", "LateCity", "CA"), "2021-06-09 00:00:45")]
    )
    drain(q)
    return q, {r.minute: sorted(r.cities) for r in spark.table(sink).collect()}


def test_q3_append_mode_emits_closed_windows_and_drops_late(spark, tmp_path):
    _, rows = _run_q3_scenario(spark, tmp_path / "q3", "q3_sink")
    # minute-0 window was finalized when the watermark passed its end —
    # and the late 'LateCity' arrival was dropped, not re-emitted
    assert rows.get(0) == ["Bend", "Portland"]
    assert not any("LateCity" in cities for cities in rows.values())


def test_q3_rocksdb_state_store_matches_default(spark, tmp_path):
    """Append-mode Q3 emits closed windows and drops late data under
    both state-store providers: windowed-aggregation state in RocksDB
    (off-heap, spillable — the provider a large cluster runs) gives the
    rows the reference's HDFS-backed provider gives. The minute-0 window
    is finalized when the watermark passes its end, and the late
    'LateCity' arrival is dropped, not re-emitted."""
    hdfs, rocks = _under_each_provider(
        spark,
        lambda provider: _run_q3_scenario(
            spark, tmp_path / provider, f"q3_{provider}_sink"
        ),
    )
    assert hdfs == rocks
    assert rocks.get(0) == ["Bend", "Portland"]
    assert not any("LateCity" in cities for cities in rocks.values())


def test_sessionize_rocksdb_state_store_matches_default(spark, tmp_path):
    """Session-window state under both state-store providers: the
    watermark closes the same session row on RocksDB as on the
    reference's HDFS-backed provider."""
    t0 = datetime(2024, 1, 1, 0, 0, 0)

    def ev(i, minutes, value, user=1):
        return {
            "event_id": i,
            "ts": (t0 + timedelta(minutes=minutes)).strftime("%Y-%m-%d %H:%M:%S"),
            "user_id": user,
            "value": value,
        }

    def scenario(provider):
        d = tmp_path / provider
        d.mkdir()
        (d / "b0.json").write_text(
            "\n".join(
                json.dumps(e) for e in [ev(1, 0, 1.0), ev(2, 5, 2.0), ev(3, 10, 3.0)]
            )
        )
        schema = "event_id LONG, ts STRING, user_id LONG, value DOUBLE"
        stream = (
            spark.readStream.schema(schema)
            .json(str(d))
            .selectExpr(
                "event_id", "CAST(ts AS TIMESTAMP) AS ts", "user_id", "value"
            )
        )
        sessions = sessionize(stream, gap="30 minutes", watermark_delay="1 minute")
        sink = f"sess_{provider}_sink"
        q = to_memory_sink(sessions, sink)
        q.processAllAvailable()
        (d / "b1.json").write_text(json.dumps(ev(4, 300, 9.0)))
        drain(q)
        return q, spark.table(sink).collect()

    for out in _under_each_provider(spark, scenario):
        assert len(out) == 1
        s = out[0]
        assert s.user_id == 1 and s.n_events == 3 and s.total_value == 6.0
        assert s.session_start == t0 and s.session_end == t0 + timedelta(minutes=10)


def test_dlq_split_preserves_every_row_and_is_idempotent(spark, tmp_path):
    """Dead-letter-queue fan-out via foreachBatch: good ∪ dlq must be
    row-exactly the input (nothing silently dropped, the reference's
    decode-failure gap closed), reasons attributed, and replaying a
    batch_id must rewrite its own partition identically."""
    import json as _json

    from big_data_2021_spark_streaming_spark.streaming.pipeline import (
        dlq_split_batch_writer,
        to_foreach_batch_sink,
    )

    src = tmp_path / "dlq_src"
    src.mkdir()
    ckpt = str(tmp_path / "dlq_ckpt")
    out = str(tmp_path / "dlq_out")
    # reject: undecodable props JSON or a non-positive value. Modern
    # from_json yields an ALL-NULL struct for corrupt input, not a
    # NULL struct — probe the decoded field (same predicate class as
    # rsvp_decode_failures)
    writer = dlq_split_batch_writer(
        out,
        reject_sql="from_json(props, 'k INT').k IS NULL OR value <= 0",
        reason_sql=(
            "CASE WHEN from_json(props, 'k INT').k IS NULL"
            " THEN 'decode_failure' ELSE 'nonpositive_value' END"
        ),
    )

    def run():
        stream = (
            spark.readStream.schema("event_id LONG, value DOUBLE, props STRING")
            .json(str(src))
        )
        q = to_foreach_batch_sink(stream, writer, ckpt, available_now=True)
        q.awaitTermination()

    rows0 = [
        {"event_id": 1, "value": 5.0, "props": '{"k": 1}'},
        {"event_id": 2, "value": 5.0, "props": "not json"},
        {"event_id": 3, "value": -1.0, "props": '{"k": 3}'},
    ]
    (src / "b0.json").write_text("\n".join(_json.dumps(r) for r in rows0))
    run()
    good = spark.read.parquet(f"{out}/good").collect()
    dlq = spark.read.parquet(f"{out}/dlq").collect()
    assert {r.event_id for r in good} == {1}
    assert {r.event_id: r.reject_reason for r in dlq} == {
        2: "decode_failure",
        3: "nonpositive_value",
    }
    # partition contract: good ∪ dlq == input, schema preserved + reason
    assert len(good) + len(dlq) == len(rows0)

    # second micro-batch appends its own partition, first is untouched
    rows1 = [{"event_id": 4, "value": 1.0, "props": '{"k": 4}'}]
    (src / "b1.json").write_text("\n".join(_json.dumps(r) for r in rows1))
    run()
    good_all = spark.read.parquet(f"{out}/good").collect()
    assert {r.event_id for r in good_all} == {1, 4}

    # replay batch 0 by hand: identical rewrite, no duplication
    replay = spark.read.schema("event_id LONG, value DOUBLE, props STRING").json(
        str(src / "b0.json")
    )
    writer(replay, 0)
    good_replayed = spark.read.parquet(f"{out}/good").collect()
    dlq_replayed = spark.read.parquet(f"{out}/dlq").collect()
    assert {r.event_id for r in good_replayed} == {1, 4}
    assert {r.event_id for r in dlq_replayed} == {2, 3}


def test_upsert_state_writer_maintains_latest_per_key(spark, tmp_path):
    """Streaming MERGE-upsert via foreachBatch: versioned compaction
    keeps the latest row per key across micro-batches, and replaying a
    batch_id rewrites its own version identically (idempotent under
    the at-least-once delivery contract)."""
    import json as _json

    from big_data_2021_spark_streaming_spark.streaming.pipeline import (
        read_upsert_state,
        to_foreach_batch_sink,
        upsert_state_batch_writer,
    )

    src = tmp_path / "ups_src"
    src.mkdir()
    ckpt = str(tmp_path / "ups_ckpt")
    out = str(tmp_path / "ups_out")
    writer = upsert_state_batch_writer(
        out, key_cols=["user_id"], order_cols=["ts", "event_id"]
    )

    def run():
        stream = (
            spark.readStream.schema(
                "event_id LONG, ts STRING, user_id LONG, utype STRING"
            )
            .json(str(src))
            .selectExpr(
                "event_id", "CAST(ts AS TIMESTAMP) AS ts", "user_id", "utype"
            )
        )
        q = to_foreach_batch_sink(stream, writer, ckpt, available_now=True)
        q.awaitTermination()

    (src / "b0.json").write_text(
        "\n".join(
            _json.dumps(e)
            for e in [
                {"event_id": 1, "ts": "2024-01-01 10:00:00", "user_id": 1, "utype": "A"},
                {"event_id": 2, "ts": "2024-01-01 10:01:00", "user_id": 2, "utype": "B"},
            ]
        )
    )
    run()
    state0 = {r.user_id: r.utype for r in read_upsert_state(spark, out).collect()}
    assert state0 == {1: "A", 2: "B"}

    # newer row for user 1, plus a LATE row older than user 2's current
    # state — the upsert must take the newer ts, not the newer batch
    (src / "b1.json").write_text(
        "\n".join(
            _json.dumps(e)
            for e in [
                {"event_id": 3, "ts": "2024-01-01 10:05:00", "user_id": 1, "utype": "C"},
                {"event_id": 4, "ts": "2024-01-01 09:00:00", "user_id": 2, "utype": "STALE"},
            ]
        )
    )
    run()
    state1 = {r.user_id: r.utype for r in read_upsert_state(spark, out).collect()}
    assert state1 == {1: "C", 2: "B"}

    # replay batch 1 by hand: identical inputs -> identical v=1 state
    replay = spark.read.schema(
        "event_id LONG, ts STRING, user_id LONG, utype STRING"
    ).json(str(src / "b1.json")).selectExpr(
        "event_id", "CAST(ts AS TIMESTAMP) AS ts", "user_id", "utype"
    )
    writer(replay, 1)
    state_replayed = {
        r.user_id: r.utype for r in read_upsert_state(spark, out).collect()
    }
    assert state_replayed == state1


def _ewma_batch_and_stream(spark, d, user_id, split, sink):
    """One user's 10 events, a quiet baseline then bursts, through the
    batch EWMA plan and through the streaming detector with the events
    split across two micro-batches before index ``split``: (query,
    (batch rows, streamed rows))."""
    import json as _json

    import pandas as pd

    from big_data_2021_spark_streaming_spark.plans.analytics import (
        event_ewma_spikes,
    )
    from big_data_2021_spark_streaming_spark.streaming.pipeline import (
        stream_ewma_spikes,
    )

    vals = [1.0, 1.1, 0.9, 1.0, 1.05, 9.5, 1.0, 1.0, 12.25, 0.95]
    rows = [
        {
            "event_id": i + 1,
            "user_id": user_id,
            "ts": f"2024-01-01 00:{i:02d}:00",
            "value": v,
        }
        for i, v in enumerate(vals)
    ]
    # batch side: same rows as a parquet events table
    pdf = pd.DataFrame(rows)
    pdf["ts"] = pd.to_datetime(pdf["ts"])
    events_dir = d / "batch"
    events_dir.mkdir(parents=True)
    pdf.to_parquet(events_dir / "events.parquet")
    batch = {
        (r.user_id, r.event_id, r.value, r.n_hist, r.ewma)
        for r in event_ewma_spikes(spark, str(events_dir)).collect()
    }

    sdir = d / "stream"
    sdir.mkdir()
    (sdir / "b0.json").write_text(
        "\n".join(_json.dumps(r) for r in rows[:split])
    )
    schema = "event_id LONG, user_id LONG, ts TIMESTAMP, value DOUBLE"
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .json(str(sdir))
    )
    q = to_memory_sink(stream_ewma_spikes(stream), sink)
    try:
        q.processAllAvailable()
        (sdir / "b1.json").write_text(
            "\n".join(_json.dumps(r) for r in rows[split:])
        )
        q.processAllAvailable()
        streamed = {tuple(r) for r in spark.table(sink).collect()}
    finally:
        q.stop()
    return q, (batch, streamed)


def test_ewma_spikes_batch_stream_equivalence(spark, tmp_path):
    """The streaming EWMA spike detector must emit exactly the rows the
    batch plan produces on the same events, with the data split across
    micro-batches in event-time order — bounded per-user state carries
    the history across the batch boundary."""
    # split after event 6, so some spikes land in batch 2
    _, (batch, streamed) = _ewma_batch_and_stream(
        spark, tmp_path, 7, 6, "ewma_sink"
    )
    assert batch, "fixture produced no spikes — test is vacuous"
    assert streamed == batch
    assert any(r[1] > 6 for r in streamed), (
        "no spike in batch 2 — state never crossed the boundary"
    )


def test_ewma_spikes_rocksdb_state_store_matches_batch(spark, tmp_path):
    """The EWMA detector's per-user array state reproduces the batch
    plan exactly across a micro-batch boundary under both state-store
    providers — the applyInPandasWithState + list-state shape on the
    reference's HDFS-backed provider and on RocksDB, the provider a
    large cluster runs."""
    runs = _under_each_provider(
        spark,
        lambda provider: _ewma_batch_and_stream(
            spark, tmp_path / provider, 11, 5, f"ewma_{provider}_sink"
        ),
    )
    for batch, streamed in runs:
        assert streamed == batch and batch
