"""Per-batch streaming drift monitor (pipeline.drift_monitor_batch_writer):
rate-limited file-stream ingest, fixed-grid TVD vs a reference
histogram, idempotent per-batch metrics rows."""

from __future__ import annotations

import math

import pyspark.sql.functions as F
import pytest

from big_data_2021_spark_streaming_spark.operators.audit import DRIFT_BUCKETS
from big_data_2021_spark_streaming_spark.sources.batch import load_table
from big_data_2021_spark_streaming_spark.streaming import pipeline


def _ref_histogram(events):
    lo, hi = events.agg(F.min("value"), F.max("value")).first()
    bucket = F.least(
        F.lit(DRIFT_BUCKETS - 1),
        F.floor((F.col("value") - F.lit(lo)) * DRIFT_BUCKETS / F.lit(hi - lo)),
    ).cast("int")
    cells = (
        events.select(bucket.alias("bucket"))
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    )
    return {r.bucket: r.n for r in cells}, lo, hi


def _tvd_micro(batch_cells, ref_cells):
    n_b = sum(batch_cells.values())
    n_ref = sum(ref_cells.values())
    num = sum(
        abs(batch_cells.get(b, 0) * n_ref - ref_cells.get(b, 0) * n_b)
        for b in set(batch_cells) | set(ref_cells)
    )
    return (2 * 1_000_000 * num + 2 * n_b * n_ref) // (4 * n_b * n_ref)


def test_stream_drift_monitor_per_batch_tvd(spark, sf_dir, tmp_path):
    events = load_table(spark, sf_dir, "events").select("event_id", "value")
    ref_cells, lo, hi = _ref_histogram(events)

    # two input files → with maxFilesPerTrigger=1, two micro-batches:
    # batch of in-distribution values, then a deliberately shifted one
    src = tmp_path / "stream_src"
    half = events.where(F.col("event_id") % 2 == 0)
    half.coalesce(1).write.parquet(str(src / "f0"))
    shifted = half.withColumn("value", F.col("value") * 3 + F.lit(float(hi)))
    shifted.coalesce(1).write.parquet(str(src / "f1"))

    stream = (
        spark.readStream.schema("event_id BIGINT, value DOUBLE")
        .option("maxFilesPerTrigger", 1)
        .option("recursiveFileLookup", True)
        .parquet(str(src))
    )
    out_dir = str(tmp_path / "drift_out")
    q = pipeline.to_foreach_batch_sink(
        stream,
        pipeline.drift_monitor_batch_writer(ref_cells, lo, hi, out_dir),
        checkpoint_dir=str(tmp_path / "ckpt"),
        available_now=True,
    )
    q.awaitTermination(120)

    rows = {
        r.batch_id: r
        for r in spark.read.option("recursiveFileLookup", True)
        .parquet(out_dir)
        .collect()
    }
    assert len(rows) == 2
    n_half = half.count()
    assert all(r.n_batch == n_half for r in rows.values())

    # recompute expected TVD per batch with the same integer formula
    def cells_of(df):
        bucket = F.least(
            F.lit(DRIFT_BUCKETS - 1),
            F.floor(
                (F.col("value") - F.lit(lo)) * DRIFT_BUCKETS / F.lit(hi - lo)
            ),
        ).cast("int")
        got = (
            df.select(bucket.alias("b")).groupBy("b").count().collect()
        )
        return {r.b: r["count"] for r in got}

    expected = sorted(
        _tvd_micro(cells_of(df), ref_cells) for df in (half, shifted)
    )
    got = sorted(r.tvd_micro for r in rows.values())
    assert got == expected
    # the shifted batch must alarm much harder than the clean one
    assert max(got) > 10 * max(1, min(got))
    assert not math.isnan(max(got))


def test_drift_writer_empty_batch_writes_zero_tvd(spark, tmp_path):
    # an empty micro-batch has no measurable drift: one row with
    # n_batch = 0 and tvd_micro = 0, not an ANSI divide-by-zero
    out_dir = str(tmp_path / "drift_out")
    write = pipeline.drift_monitor_batch_writer({0: 3, 9: 1}, 0.0, 1.0, out_dir)
    write(spark.range(0).selectExpr("CAST(id AS DOUBLE) AS value"), 4)
    rows = spark.read.parquet(f"{out_dir}/batch_id=4").collect()
    assert [(r.batch_id, r.n_batch, r.tvd_micro) for r in rows] == [(4, 0, 0)]


@pytest.mark.parametrize("ref_cells", [{}, {0: 0, 9: 0}])
def test_drift_writer_rejects_an_empty_reference(ref_cells, tmp_path):
    with pytest.raises(ValueError, match="ref_cells"):
        pipeline.drift_monitor_batch_writer(ref_cells, 0.0, 1.0, str(tmp_path))


def test_stream_user_bitmap_equals_batch_and_merges(spark, tmp_path):
    """The streaming bitmap sketch must equal the batch sketch over the
    same rows at every boundary, and a stale emission OR-merged into a
    later one must be absorbed (idempotent, monotone) — the property
    that makes it replay-safe."""
    import json as _json

    from big_data_2021_spark_streaming_spark.operators.sketches import (
        user_presence_bitmap as stream_user_bitmap,
    )
    from big_data_2021_spark_streaming_spark.streaming.pipeline import (
        to_memory_sink,
    )

    d = tmp_path / "ev"
    d.mkdir()
    batch1 = [
        {"event_id": i, "user_id": 100 + i % 7, "event_type": "click"}
        for i in range(20)
    ]
    (d / "b0.json").write_text("\n".join(_json.dumps(r) for r in batch1))
    schema = "event_id LONG, user_id LONG, event_type STRING"
    stream = spark.readStream.schema(schema).json(str(d))
    q = to_memory_sink(
        stream_user_bitmap(stream, words=8), "bm_sink", output_mode="complete"
    )
    try:
        q.processAllAvailable()
        first = {
            (r.event_type, r.word): r.mask
            for r in spark.table("bm_sink").collect()
        }
        batch2 = [
            {"event_id": 100 + i, "user_id": 200 + i, "event_type": "click"}
            for i in range(5)
        ] + [{"event_id": 200, "user_id": 1, "event_type": "purchase"}]
        (d / "b1.json").write_text("\n".join(_json.dumps(r) for r in batch2))
        q.processAllAvailable()
        final = {
            (r.event_type, r.word): r.mask
            for r in spark.table("bm_sink").collect()
        }
    finally:
        q.stop()

    batch_df = spark.createDataFrame(
        [(r["event_id"], r["user_id"], r["event_type"]) for r in batch1 + batch2],
        schema,
    )
    expected = {
        (r.event_type, r.word): r.mask
        for r in stream_user_bitmap(batch_df, words=8).collect()
    }
    assert final == expected
    # monotone: every first-boundary mask is a submask of the final
    for k, m in first.items():
        assert (m | final[k]) == final[k], k
    # idempotent merge: OR-ing the stale emission changes nothing
    merged = dict(final)
    for k, m in first.items():
        merged[k] = merged[k] | m
    assert merged == final
