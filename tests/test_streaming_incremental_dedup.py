"""The streaming incremental-dedup twin (SURVEY §7.4b item 1).

``incremental_dedup_batch_writer`` is ``operators/dedup.
incremental_dedup`` — the daily-increment near-dup shape — as a
foreachBatch stream with partitioned-parquet signature state. Pins:

- batch ≡ stream: streaming the corpus as (everything-else, then the
  INCR_SOURCE docs) must give the INCR batch verdicts value-identical
  to the batch operator (which the driver's DuckDB oracle has
  hash-verified). Both paths run the same code (dedup._minhash_of,
  dedup._best_prior_match, dedup._dedup_verdicts), so this pins that
  shared code over both kinds of state: a table split by source, and
  parquet signature partitions read back by batch id;
- replay idempotence: re-running a committed batch rewrites exactly
  its own partitions and sees exactly the pre-batch corpus;
- slicing invariance: how the PRIOR corpus was split into micro-batches
  cannot change a later batch's verdicts;
- a real availableNow file stream drives the same writer end to end.
"""

from __future__ import annotations

import json

from pyspark.sql import functions as F

from big_data_2021_spark_streaming_spark.operators.dedup import (
    INCR_SOURCE,
    incremental_dedup,
)
from big_data_2021_spark_streaming_spark.sources.batch import load_table
from big_data_2021_spark_streaming_spark.streaming.pipeline import (
    incremental_dedup_batch_writer,
)

SF = "/root/testdata/sf0.001"
DOC_COLS = ["doc_id", "source", "text"]


def _verdict_rows(df):
    return sorted(
        (
            int(r["doc_id"]),
            bool(r["is_novel"]),
            None if r["dup_of"] is None else int(r["dup_of"]),
            None if r["est_jaccard"] is None else float(r["est_jaccard"]),
        )
        for r in df.select(
            "doc_id", "is_novel", "dup_of", "est_jaccard"
        ).collect()
    )


def test_stream_matches_batch_operator(spark, tmp_path):
    docs = load_table(spark, SF, "documents").select(*DOC_COLS)
    corpus = docs.where(F.col("source") != INCR_SOURCE)
    incr = docs.where(F.col("source") == INCR_SOURCE)
    out = str(tmp_path / "incdedup")
    write = incremental_dedup_batch_writer(out)
    write(corpus, 0)
    write(incr, 1)
    got = _verdict_rows(spark.read.parquet(f"{out}/verdicts/batch_id=1"))
    want = _verdict_rows(incremental_dedup(spark, SF))
    assert got == want
    assert any(not novel for _, novel, _, _ in got)  # fixture has dups


def test_replay_is_idempotent(spark, tmp_path):
    docs = load_table(spark, SF, "documents").select(*DOC_COLS)
    corpus = docs.where(F.col("source") != INCR_SOURCE)
    incr = docs.where(F.col("source") == INCR_SOURCE)
    out = str(tmp_path / "incdedup")
    write = incremental_dedup_batch_writer(out)
    write(corpus, 0)
    write(incr, 1)
    before = _verdict_rows(spark.read.parquet(f"{out}/verdicts/batch_id=1"))
    n_sigs = spark.read.parquet(f"{out}/sigs").count()
    write(incr, 1)  # replay after a simulated failure
    after = _verdict_rows(spark.read.parquet(f"{out}/verdicts/batch_id=1"))
    assert after == before
    assert spark.read.parquet(f"{out}/sigs").count() == n_sigs


def test_verdicts_invariant_to_corpus_slicing(spark, tmp_path):
    docs = load_table(spark, SF, "documents").select(*DOC_COLS)
    corpus = docs.where(F.col("source") != INCR_SOURCE)
    incr = docs.where(F.col("source") == INCR_SOURCE)

    one = str(tmp_path / "one")
    write = incremental_dedup_batch_writer(one)
    write(corpus, 0)
    write(incr, 1)

    split = str(tmp_path / "split")
    write = incremental_dedup_batch_writer(split)
    write(corpus.where(F.col("doc_id") % 2 == 0), 0)
    write(corpus.where(F.col("doc_id") % 2 == 1), 1)
    write(incr, 2)

    assert _verdict_rows(
        spark.read.parquet(f"{split}/verdicts/batch_id=2")
    ) == _verdict_rows(spark.read.parquet(f"{one}/verdicts/batch_id=1"))


def test_real_stream_drives_the_writer(spark, tmp_path):
    # two availableNow drains = two micro-batches, the daily-increment
    # arrival pattern: corpus lands first, the increment on the next run
    from big_data_2021_spark_streaming_spark.streaming.pipeline import (
        to_foreach_batch_sink,
    )

    docs = load_table(spark, SF, "documents").select(*DOC_COLS)
    corpus = docs.where(F.col("source") != INCR_SOURCE).limit(200).collect()
    incr = docs.where(F.col("source") == INCR_SOURCE).limit(50).collect()

    src = tmp_path / "docs_src"
    src.mkdir()
    out = str(tmp_path / "incdedup")
    ckpt = str(tmp_path / "ckpt")

    def dump(rows, name):
        (src / name).write_text(
            "\n".join(
                json.dumps(
                    {"doc_id": r["doc_id"], "source": r["source"], "text": r["text"]}
                )
                for r in rows
            )
        )

    def drain():
        stream = (
            spark.readStream.schema("doc_id long, source string, text string")
            .json(str(src))
        )
        q = to_foreach_batch_sink(
            stream,
            incremental_dedup_batch_writer(out),
            ckpt,
            available_now=True,
        )
        q.awaitTermination()

    dump(corpus, "b0.json")
    drain()
    dump(incr, "b1.json")
    drain()

    v1 = spark.read.parquet(f"{out}/verdicts/batch_id=1")
    assert v1.count() == len(incr)
    # every non-novel verdict points at a batch-0 (corpus) document
    corpus_ids = {r["doc_id"] for r in corpus}
    dups = [r for r in v1.collect() if not r["is_novel"]]
    assert all(r["dup_of"] in corpus_ids for r in dups)
