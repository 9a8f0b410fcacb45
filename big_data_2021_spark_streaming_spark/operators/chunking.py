"""Sequence chunking & context-window packing — the tokenize-adjacent
preprocessing stage of an LLM training pipeline.

``doc_chunking`` slides a fixed token window with overlap across every
document (the long-document split that keeps each training example
inside the context budget); ``doc_packing`` assigns documents to
fixed-token-budget bins by their offset in the concatenated corpus
stream (the concatenate-and-cut packing that keeps context windows
full).

The reference has nothing in this territory (its pipeline is
decode→filter→join→window, ``srapk_structure_streaming.py``); these
are north-star extensions per SURVEY.md §7.4.

Scale posture:
- chunking is a narrow, shuffle-free pass — one corpus scan, a
  bounded ``explode`` (≈ n_tokens/STRIDE rows per doc, linear in
  corpus tokens), every expression JVM-side in whole-stage codegen.
- packing needs a GLOBAL running token count, which a naive
  ``Window.orderBy(doc_id)`` would compute on a single partition —
  the classic 100 TB cliff. Instead it is the two-phase parallel
  prefix scan: per-segment cumulative sums run partitioned (wide and
  parallel), the per-segment totals (one row per ~SEG docs, trivially
  small) take the only global window, and the resulting prefix
  offsets broadcast back. No stage ever holds more than a segment in
  one task.

All outputs are exact-integer (counts, offsets, md5 hex) — no
floating point, so the DuckDB oracle comparison is bit-stable at any
scale factor.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from ..functions.exact import half_up
from ..sources.batch import load_table
from .text import tokens_col, _oracle_tokens

CHUNK = 64  # tokens per training chunk
STRIDE = 48  # window stride (CHUNK - STRIDE = 16 tokens of overlap)
PACK_BUDGET = 2048  # tokens per packed context window
SEG = 1024  # docs per prefix-scan segment


def doc_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping fixed-size token windows per document.

    A document with n_tokens ≤ CHUNK yields one chunk; otherwise
    ``1 + ceil((n_tokens - CHUNK)/STRIDE)`` chunks, so the final
    window always reaches the last token (standard sliding-window
    coverage). ``chunk_md5`` hashes the space-rejoined window — the
    stable chunk identity downstream exact-dedup can key on.
    """
    docs = load_table(spark, sf_dir, "documents")
    base = docs.select(
        "doc_id", tokens_col(F.col("text")).alias("toks")
    ).withColumn("n_tokens", F.size("toks"))
    n_chunks = F.when(
        F.col("n_tokens") > CHUNK,
        F.lit(1) + F.expr(f"(n_tokens - {CHUNK} + {STRIDE - 1}) div {STRIDE}"),
    ).otherwise(F.lit(1))
    chunked = base.withColumn("n_chunks", n_chunks).select(
        "doc_id",
        "toks",
        F.explode(F.sequence(F.lit(0), F.col("n_chunks") - 1)).alias("chunk_idx"),
    )
    ctoks = F.slice("toks", F.col("chunk_idx") * STRIDE + 1, CHUNK)
    return chunked.select(
        "doc_id",
        "chunk_idx",
        (F.col("chunk_idx") * STRIDE).alias("start_tok"),
        F.size(ctoks).alias("n_tok"),
        F.md5(F.array_join(ctoks, " ")).alias("chunk_md5"),
    )


def doc_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concatenate-and-cut packing: every document joins the bin at
    ``floor(stream_offset / PACK_BUDGET)`` where stream_offset is the
    total token count of all earlier docs (doc_id order). Reported per
    bin: doc/token totals, the id span, and how many member docs
    straddle a bin boundary (the examples a packed-attention mask must
    split).

    The global offset is the two-phase prefix scan described in the
    module docstring — no single-partition window over the corpus.
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = (
        docs.select("doc_id", tokens_col(F.col("text")).alias("t"))
        .select(
            "doc_id",
            F.size("t").cast("bigint").alias("n_tokens"),
            F.expr(f"doc_id div {SEG}").alias("seg"),
        )
    )
    w_in = Window.partitionBy("seg").orderBy("doc_id")
    within = toks.withColumn("cum_in_seg", F.sum("n_tokens").over(w_in))
    # one row per segment — the ONLY global-order window runs on this
    # small frame, then joins back (strategy AQE's: segments are
    # corpus/SEG, linear in the data, so no pinned broadcast). Totals
    # come from the windowed frame (max cumsum per segment), not a
    # second corpus scan: the seg-hash Exchange is then shared
    # (ReusedExchange), so the whole operator tokenizes the corpus
    # exactly once.
    w_seg = Window.orderBy("seg").rowsBetween(Window.unboundedPreceding, -1)
    prefix = (
        within.groupBy("seg")
        .agg(F.max("cum_in_seg").alias("seg_tokens"))
        .select(
            "seg",
            F.coalesce(F.sum("seg_tokens").over(w_seg), F.lit(0)).alias(
                "seg_prefix"
            ),
        )
    )
    placed = (
        within.join(prefix, "seg")
        .withColumn(
            "cum_before", F.col("seg_prefix") + F.col("cum_in_seg") - F.col("n_tokens")
        )
        .select(
            "doc_id",
            "n_tokens",
            F.expr(f"cum_before div {PACK_BUDGET}").alias("bin_id"),
            (
                F.expr(f"cum_before div {PACK_BUDGET}")
                != F.expr(f"(cum_before + n_tokens - 1) div {PACK_BUDGET}")
            ).alias("straddles"),
        )
    )
    return placed.groupBy("bin_id").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum("n_tokens").alias("total_tokens"),
        F.min("doc_id").alias("first_doc_id"),
        F.max("doc_id").alias("last_doc_id"),
        F.sum(F.col("straddles").cast("bigint")).alias("boundary_docs"),
    )


_TOKS = _oracle_tokens()

BUCKET_CAPS = (32, 64, 128, 256, 512, 1024, 2048, 4096)


def _cap_case(col: str) -> str:
    """Shared CASE ladder (both engines): smallest power-of-two bucket
    ≥ n_tokens, clamped to BUCKET_CAPS[0] / BUCKET_CAPS[-1]."""
    whens = " ".join(
        f"WHEN {col} <= {c} THEN {c}" for c in BUCKET_CAPS[:-1]
    )
    return f"CASE {whens} ELSE {BUCKET_CAPS[-1]} END"


def doc_length_bucketing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length-bucketed batching report — the OTHER way (beside
    doc_packing's concatenate-and-cut) to keep context windows full:
    route each doc to the smallest power-of-two bucket that holds it
    and pad to the bucket cap. Reports, per bucket, the doc/token
    volume and the exact padding-waste share (padded − real)/padded —
    the number that decides packing vs bucketing for a training run.
    Docs past the top cap are counted against it (they'd be chunked
    first; see doc_chunking).

    One scan, a ≤|BUCKET_CAPS|-key aggregate, pure integer math."""
    docs = load_table(spark, sf_dir, "documents")
    base = docs.select(
        F.size(tokens_col(F.col("text"))).cast("bigint").alias("n_tokens")
    ).select(
        "n_tokens", F.expr(_cap_case("n_tokens")).cast("bigint").alias("cap")
    )
    agg = base.groupBy("cap").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("n_tokens").alias("real_tokens"),
        # tokens past the cap spill to chunking, so padded ≥ counted
        F.sum(F.least(F.col("n_tokens"), F.col("cap"))).alias(
            "in_cap_tokens"
        ),
    )
    return agg.select(
        "cap",
        "n_docs",
        "real_tokens",
        (F.col("n_docs") * F.col("cap")).alias("padded_tokens"),
        (
            F.expr(half_up("(n_docs * cap - in_cap_tokens) * 1000000", "n_docs * cap"))
            / F.lit(1e6)
        ).alias("padding_waste"),
    )


ORACLES: dict[str, str] = {}

ORACLES["doc_length_bucketing"] = f"""
    WITH base AS (
        SELECT CAST(len({_oracle_tokens()}) AS BIGINT) AS n_tokens
        FROM documents
    ),
    capped AS (
        SELECT n_tokens,
               CAST({_cap_case('n_tokens')} AS BIGINT) AS cap
        FROM base
    ),
    agg AS (
        SELECT cap,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(n_tokens) AS BIGINT) AS real_tokens,
               CAST(SUM(least(n_tokens, cap)) AS BIGINT) AS in_cap_tokens
        FROM capped GROUP BY cap
    )
    SELECT cap, n_docs, real_tokens,
           n_docs * cap AS padded_tokens,
           ((2 * (n_docs * cap - in_cap_tokens) * 1000000
             + n_docs * cap) // (2 * n_docs * cap)) / 1e6
               AS padding_waste
    FROM agg
"""

ORACLES["doc_chunking"] = f"""
    WITH base AS (
        SELECT doc_id, {_TOKS} AS toks, len({_TOKS}) AS n_tokens
        FROM documents
    ),
    nc AS (
        SELECT doc_id, toks,
               CASE WHEN n_tokens > {CHUNK}
                    THEN 1 + (n_tokens - {CHUNK} + {STRIDE - 1}) // {STRIDE}
                    ELSE 1 END AS n_chunks
        FROM base
    ),
    chunks AS (
        SELECT doc_id, toks,
               unnest(generate_series(0, n_chunks - 1)) AS chunk_idx
        FROM nc
    )
    SELECT doc_id,
           CAST(chunk_idx AS INTEGER) AS chunk_idx,
           CAST(chunk_idx * {STRIDE} AS INTEGER) AS start_tok,
           CAST(len(list_slice(toks, chunk_idx * {STRIDE} + 1,
                               chunk_idx * {STRIDE} + {CHUNK})) AS INTEGER)
               AS n_tok,
           md5(array_to_string(
               list_slice(toks, chunk_idx * {STRIDE} + 1,
                          chunk_idx * {STRIDE} + {CHUNK}), ' ')) AS chunk_md5
    FROM chunks
"""

ORACLES["doc_packing"] = f"""
    WITH toks AS (
        SELECT doc_id, CAST(len({_TOKS}) AS BIGINT) AS n_tokens
        FROM documents
    ),
    scanned AS (
        SELECT doc_id, n_tokens,
               CAST(SUM(n_tokens) OVER (
                   ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS BIGINT) - n_tokens AS cum_before
        FROM toks
    ),
    placed AS (
        SELECT doc_id, n_tokens,
               cum_before // {PACK_BUDGET} AS bin_id,
               (cum_before // {PACK_BUDGET})
                   <> ((cum_before + n_tokens - 1) // {PACK_BUDGET})
                   AS straddles
        FROM scanned
    )
    SELECT bin_id,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
           MIN(doc_id) AS first_doc_id,
           MAX(doc_id) AS last_doc_id,
           CAST(SUM(CASE WHEN straddles THEN 1 ELSE 0 END) AS BIGINT)
               AS boundary_docs
    FROM placed
    GROUP BY bin_id
"""

QUERIES = {
    # round-4j addition first: registry order = driver grading order
    "doc_length_bucketing": doc_length_bucketing,
    "doc_chunking": doc_chunking,
    "doc_packing": doc_packing,
}
