"""Corpus-curation operators: the composition layer of a training-data
pipeline.

The individual signals (quality score, language, near-dup clusters,
n-gram fingerprints) each exist as their own operator; what a real
pipeline ships is their COMPOSITION — one declarative plan per corpus
pass that decides keep/drop with a reason, and one that flags
benchmark contamination. Both stay pure DataFrame lineage, so Catalyst
fuses the signal computations into the minimum number of corpus scans.

The reference has nothing in this territory (its whole pipeline is
decode→filter→join→window, ``srapk_structure_streaming.py``); these
are the north-star extensions of SURVEY.md §7.4.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from ..functions.exact import exact_global_rank, half_up
from ..sources.batch import load_table
from ..operators.text import quality_lineage, tokens_col
from ..operators import dedup as _dedup  # oracle-SQL fragments only
from ..operators.dedup import (
    NUM_PERM as DEDUP_NUM_PERM,
    _candidate_docs,
    _minhash_signatures,
    _token_sets,
    minhash_lsh_pairs,
    near_dup_clusters,
)

QUALITY_MIN = 0.5
KEEP_LANGS = ("en", "es", "fr", "de")


def curation_keep_list(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The curation funnel as one plan: keep a document iff it is the
    canonical member of its near-dup cluster AND its quality score
    clears the bar AND its language is in the keep set. ``reason``
    records the FIRST failing gate (dup → quality → lang), the order a
    production funnel applies them (cheap structural drops before
    model-ish scoring).

    Plan shape: quality is a stateless per-row pass, language is a
    column read, and the cluster flag joins in from the (tiny,
    pair-graph-sized) label frame — one corpus scan plus one bounded
    join; the decision itself is pure expression logic.
    """
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang", "text")
    quality = quality_lineage(docs).select("doc_id", "quality")
    clusters = near_dup_clusters(spark, sf_dir).select(
        "doc_id", "cluster_id", "is_canonical"
    )
    # COALESCE: a NULL lang must FAIL the language gate, not propagate
    # NULL through keep/reason (a NULL-lang doc fell through the when
    # chain to 'ok' — NULL-bearing-corpus sweep, round 7)
    lang_ok = F.coalesce(F.col("lang").isin(*KEEP_LANGS), F.lit(False))
    quality_ok = F.col("quality") >= QUALITY_MIN
    reason = (
        F.when(~F.col("is_canonical"), F.lit("near_dup"))
        .when(~quality_ok, F.lit("low_quality"))
        .when(~lang_ok, F.lit("lang"))
        .otherwise(F.lit("ok"))
    )
    return (
        docs.select("doc_id", "lang")
        .join(quality, "doc_id")
        .join(clusters, "doc_id")
        .select(
            "doc_id",
            "lang",
            "quality",
            "cluster_id",
            (F.col("is_canonical") & quality_ok & lang_ok).alias("keep"),
            reason.alias("reason"),
        )
    )


# squared-distance gate for the embedding signal: at sf0.01 the
# per-label centroid distances sit in [0.93, 1.10] with p80 ≈ 1.01, so
# 1.02 flags a meaningful ~15-20% tail without degenerating to all/none
EMBED_MAX_DIST_SQ = 1.02


def multisignal_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-modal keep/drop: a document survives iff its TEXT quality
    clears the bar AND its EMBEDDING is not an outlier vs its label
    centroid — the two-signal gate a multimodal curation pipeline runs
    (cheap text heuristics first, encoder-space QC second; documents
    and embeddings are 1:1 on doc_id = vec_id).

    Plan shape: quality is a stateless corpus scan; the embedding side
    is one DECIMAL-exact centroid aggregation + a broadcast-back
    distance scan (the embedding_outliers lineage, pre-top-k); the two
    signals meet in ONE equi-join on the id. No all-pairs work
    anywhere, so the plan scales linearly in both tables. The keep
    decision compares the raw double distance (bit-identical across
    engines — sequential fold ≡ unrolled left-associated sum); only
    the REPORTED dist_sq is rounded."""
    from ..operators.similarity import label_centroid_distances

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    quality = quality_lineage(docs).select("doc_id", "quality")
    scored = label_centroid_distances(spark, sf_dir)
    quality_ok = F.col("quality") >= QUALITY_MIN
    embed_ok = F.col("d") <= EMBED_MAX_DIST_SQ
    reason = (
        F.when(~quality_ok, F.lit("low_quality"))
        .when(~embed_ok, F.lit("embed_outlier"))
        .otherwise(F.lit("ok"))
    )
    return (
        quality.join(scored, quality.doc_id == scored.vec_id)
        .select(
            "doc_id",
            "label",
            "quality",
            F.round("d", 6).alias("dist_sq"),
            (quality_ok & embed_ok).alias("keep"),
            reason.alias("reason"),
        )
    )


# word-n-gram width and flag threshold. Real decontamination uses 8-13
# word grams; the synthetic corpus's vocabulary is tiny, so 3-grams are
# used here to produce a non-degenerate overlap distribution while
# exercising the identical plan.
DECON_NGRAM = 3
DECON_MIN_SHARED = 5
EVAL_SOURCE = "src0"


def _word_grams(docs: DataFrame) -> DataFrame:
    """Distinct (doc_id, source, gram) word n-grams via posexplode +
    lead() — one window pass, linear per token. The array-lambda
    formulation (transform over sequence) is avoided deliberately:
    Catalyst inlines the token array into the lambda and re-splits the
    document per element (the quadratic CollapseProject trap)."""
    pos = docs.select(
        "doc_id", "source", F.posexplode(tokens_col(F.col("text"))).alias("pos", "tok")
    ).where(F.col("tok") != "")
    w = Window.partitionBy("doc_id").orderBy("pos")
    parts = [F.col("tok")] + [
        F.lead("tok", i).over(w) for i in range(1, DECON_NGRAM)
    ]
    return (
        pos.select(
            "doc_id",
            "source",
            F.concat_ws(" ", *parts).alias("gram"),
            F.lead("tok", DECON_NGRAM - 1).over(w).alias("_last"),
        )
        .where(F.col("_last").isNotNull())
        .select("doc_id", "source", "gram")
        .distinct()
    )


def decontaminate_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: flag corpus documents sharing ≥
    DECON_MIN_SHARED distinct word n-grams with the eval split
    (``source = 'src0'`` stands in for the held-out benchmark).

    Plan shape: both sides reduce to distinct gram sets first (map-side
    combine), then one equi-join on the gram — candidate work is
    bounded by true overlaps, never |corpus| × |eval|. At 100 TB the
    eval side is small enough to broadcast; here Catalyst chooses.
    """
    grams = _word_grams(
        load_table(spark, sf_dir, "documents").select("doc_id", "source", "text")
    )
    eval_grams = (
        grams.where(F.col("source") == EVAL_SOURCE).select("gram").distinct()
    )
    corpus = grams.where(F.col("source") != EVAL_SOURCE)
    shared = (
        corpus.join(eval_grams, "gram")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_shared_grams"))
    )
    corpus_docs = (
        load_table(spark, sf_dir, "documents")
        .where(F.col("source") != EVAL_SOURCE)
        .select("doc_id")
    )
    return corpus_docs.join(shared, "doc_id", "left").select(
        "doc_id",
        F.coalesce("n_shared_grams", F.lit(0)).alias("n_shared_grams"),
        (F.coalesce("n_shared_grams", F.lit(0)) >= DECON_MIN_SHARED).alias(
            "contaminated"
        ),
    )


def cross_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise source-level redundancy audit: estimated Jaccard
    similarity between every pair of corpus sources over their distinct
    word n-gram sets. Two crawls of the same sites, a re-scrape, or a
    mirrored dump show up as a high-Jaccard source pair — the
    corpus-composition signal that decides whether adding a new source
    actually adds information (``decontaminate_overlap`` asks the same
    question of one doc vs the eval split; this asks it of whole
    sources against each other).

    Plan shape: one gram explode reduced to the distinct
    (source, gram) frame (map-side combine), then a gram-keyed
    self-join whose per-gram fan-out is bounded by |sources| — never
    doc×doc or gram×gram. Per-source totals are |sources| rows and
    broadcast onto the pair frame; Jaccard is exact half-up integer
    permille. At 100 TB the (source, gram) frame is the only large
    intermediate and it shrinks with gram dedup; everything after it
    is dimension-table-sized.
    """
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "text"
    )
    grams = _word_grams(docs).select("source", "gram").distinct()
    sizes = grams.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_grams")
    )
    inter = (
        grams.alias("a")
        .join(grams.alias("b"), "gram")
        .where(F.col("a.source") < F.col("b.source"))
        .groupBy(
            F.col("a.source").alias("source_a"),
            F.col("b.source").alias("source_b"),
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("inter_grams"))
    )
    pairs = (
        sizes.select(
            F.col("source").alias("source_a"), F.col("n_grams").alias("grams_a")
        )
        .crossJoin(
            F.broadcast(
                sizes.select(
                    F.col("source").alias("source_b"),
                    F.col("n_grams").alias("grams_b"),
                )
            )
        )
        .where(F.col("source_a") < F.col("source_b"))
        .join(inter, ["source_a", "source_b"], "left")
        .select(
            "source_a",
            "source_b",
            "grams_a",
            "grams_b",
            F.coalesce("inter_grams", F.lit(0)).cast("bigint").alias(
                "inter_grams"
            ),
        )
    )
    union = F.col("grams_a") + F.col("grams_b") - F.col("inter_grams")
    return pairs.select(
        "source_a",
        "source_b",
        "grams_a",
        "grams_b",
        "inter_grams",
        F.when(union == 0, F.lit(0).cast("bigint"))
        .otherwise(
            F.expr(
                half_up("1000 * inter_grams", "(grams_a + grams_b - inter_grams)")
            )
        )
        .alias("jaccard_permille"),
    )


def source_minhash_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dataset-level MinHash: the SKETCH form of the source-pair
    redundancy question ``corpus_cross_source_overlap`` answers
    exactly. MinHash signatures are mergeable by element-wise MIN —
    min over a source's per-doc signatures IS the signature of the
    union of its docs' token sets — so each source collapses to
    NUM_PERM integers and every pair comparison is constant work. At
    100 TB this is the only affordable corpus-pair similarity: the
    exact gram self-join touches the (source, gram) universe; the
    sketch touches |sources|·NUM_PERM rows after one signature scan
    (shared, persisted — the same frame the LSH dedup stack uses).

    Output per source pair: matching signature members, the sketch
    Jaccard estimate, and the exact token-set Jaccard (same universe
    the signatures hash — the acceptance metric), all exact micro-unit
    integers. |sources|² pair grid is a handful of rows (intended
    BNLJ)."""
    mh = _minhash_signatures(spark, sf_dir)
    n_perm = DEDUP_NUM_PERM
    per_source = mh.groupBy("source").agg(
        *[F.min(f"mh{j}").alias(f"mh{j}") for j in range(n_perm)]
    )
    a = per_source.alias("a")
    b = per_source.alias("b")
    matches = None
    for j in range(n_perm):
        t = (F.col(f"a.mh{j}") == F.col(f"b.mh{j}")).cast("int")
        matches = t if matches is None else matches + t
    pairs = (
        a.join(b, F.col("a.source") < F.col("b.source"))
        .select(
            F.col("a.source").alias("source_a"),
            F.col("b.source").alias("source_b"),
            matches.cast("bigint").alias("matching_members"),
        )
    )
    toks = (
        _token_sets(spark, sf_dir)
        .select("source", F.explode("tok").alias("t"))
        .distinct()
    )
    sizes = toks.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_toks")
    )
    inter = (
        toks.alias("x")
        .join(
            toks.alias("y"),
            (F.col("x.t") == F.col("y.t"))
            & (F.col("x.source") < F.col("y.source")),
        )
        .groupBy(
            F.col("x.source").alias("source_a"),
            F.col("y.source").alias("source_b"),
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("inter_toks"))
    )
    out = (
        pairs.join(
            F.broadcast(
                sizes.select(
                    F.col("source").alias("source_a"),
                    F.col("n_toks").alias("toks_a"),
                )
            ),
            "source_a",
        )
        .join(
            F.broadcast(
                sizes.select(
                    F.col("source").alias("source_b"),
                    F.col("n_toks").alias("toks_b"),
                )
            ),
            "source_b",
        )
        .join(inter, ["source_a", "source_b"], "left")
        .withColumn(
            "inter_toks", F.coalesce("inter_toks", F.lit(0).cast("bigint"))
        )
    )
    return out.select(
        "source_a",
        "source_b",
        "matching_members",
        F.expr(half_up("matching_members * 1000000", f"{n_perm}")).alias(
            "est_jaccard_micro"
        ),
        "toks_a",
        "toks_b",
        "inter_toks",
        F.expr(
            half_up("inter_toks * 1000000", "(toks_a + toks_b - inter_toks)")
        ).alias("exact_jaccard_micro"),
    )


def _quality_cte() -> str:
    # exact micro-unit quality, shared with operators.text's oracle so
    # every consumer of the score agrees bit-for-bit (the old double
    # formulation hit the cross-engine ROUND boundary at sf0.1)
    from ..operators.text import _ORACLE_Q_MICRO, _STOP_LIST

    return f"""
    qt AS (
        SELECT doc_id,
               CAST(len(toks) AS BIGINT) AS n_tokens,
               CAST(len(list_filter(toks,
                        t -> t IN ({_STOP_LIST}))) AS BIGINT) AS n_stop,
               CAST(list_sum(list_transform(toks, t -> length(t)))
                    AS BIGINT) AS total_len
        FROM (
            SELECT doc_id,
                   regexp_split_to_array(trim(text), '\\s+') AS toks
            FROM documents
        )
    ),
    q AS (
        SELECT doc_id, ({_ORACLE_Q_MICRO}) / 1e6 AS quality FROM qt
    )
"""


_QUALITY_CTE = _quality_cte()

ORACLES: dict[str, str] = {}

ORACLES["curation_keep_list"] = f"""
    WITH RECURSIVE {_dedup._MH_CTE},
    {_dedup._BANDS_CTE},
    pairs AS (
        SELECT cand.doc_id_a, cand.doc_id_b
        FROM cand
        JOIN mh a ON a.doc_id = cand.doc_id_a
        JOIN mh b ON b.doc_id = cand.doc_id_b
        WHERE ({_dedup._MATCHES}) / {float(_dedup.NUM_PERM)}
              >= {_dedup.EST_THRESHOLD}
    ),
    {_dedup._COMPONENTS_CTE},
    {_QUALITY_CTE}
    SELECT d.doc_id,
           d.lang,
           q.quality,
           COALESCE(c.cluster_id, d.doc_id) AS cluster_id,
           (d.doc_id = COALESCE(c.cluster_id, d.doc_id)
            AND q.quality >= {QUALITY_MIN}
            AND COALESCE(d.lang IN {KEEP_LANGS}, FALSE)) AS keep,
           CASE
               WHEN d.doc_id <> COALESCE(c.cluster_id, d.doc_id)
                   THEN 'near_dup'
               WHEN q.quality < {QUALITY_MIN} THEN 'low_quality'
               WHEN NOT COALESCE(d.lang IN {KEEP_LANGS}, FALSE)
                   THEN 'lang'
               ELSE 'ok'
           END AS reason
    FROM documents d
    JOIN q USING (doc_id)
    LEFT JOIN comp c USING (doc_id)
"""

def _multisignal_sql() -> str:
    from ..operators.similarity import centroid_scored_cte_sql

    return f"""
        WITH {_QUALITY_CTE},
        {centroid_scored_cte_sql()}
        SELECT q.doc_id,
               s.label,
               q.quality,
               ROUND(s.d, 6) AS dist_sq,
               (q.quality >= {QUALITY_MIN}
                AND s.d <= {EMBED_MAX_DIST_SQ}) AS keep,
               CASE
                   WHEN q.quality < {QUALITY_MIN} THEN 'low_quality'
                   WHEN s.d > {EMBED_MAX_DIST_SQ} THEN 'embed_outlier'
                   ELSE 'ok'
               END AS reason
        FROM q JOIN scored s ON s.vec_id = q.doc_id
    """


ORACLES["curation_multisignal_gate"] = _multisignal_sql()


def _decon_grams_sql(keys: str) -> str:
    """``pos`` and ``grams``: the distinct (``keys``, DECON_NGRAM-token
    gram) rows of every document, as the head of a WITH list."""
    return f"""pos AS (
        SELECT doc_id, source,
               generate_subscripts(toks, 1) AS pos,
               unnest(toks) AS tok
        FROM (
            SELECT doc_id, source,
                   regexp_split_to_array(trim(text), '\\s+') AS toks
            FROM documents
        )
    ),
    grams AS (
        SELECT DISTINCT {keys}, gram FROM (
            SELECT doc_id, source,
                   concat_ws(' ', tok,
                             {", ".join(f"lead(tok, {i}) OVER w" for i in range(1, DECON_NGRAM))}) AS gram,
                   lead(tok, {DECON_NGRAM - 1}) OVER w AS _last
            FROM pos WHERE tok <> ''
            WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
        ) WHERE _last IS NOT NULL
    )"""


ORACLES["decontaminate_overlap"] = f"""
    WITH {_decon_grams_sql("doc_id, source")},
    eval_grams AS (
        SELECT DISTINCT gram FROM grams WHERE source = '{EVAL_SOURCE}'
    ),
    shared AS (
        SELECT doc_id, COUNT(*) AS n_shared_grams
        FROM grams JOIN eval_grams USING (gram)
        WHERE source <> '{EVAL_SOURCE}'
        GROUP BY doc_id
    )
    SELECT d.doc_id,
           COALESCE(s.n_shared_grams, 0) AS n_shared_grams,
           COALESCE(s.n_shared_grams, 0) >= {DECON_MIN_SHARED}
               AS contaminated
    FROM documents d
    LEFT JOIN shared s USING (doc_id)
    WHERE d.source <> '{EVAL_SOURCE}'
"""

_SRC_MH_COLS = ", ".join(
    f"MIN(mh{j}) AS mh{j}" for j in range(_dedup.NUM_PERM)
)
_SRC_MATCHES = " + ".join(
    f"CAST(a.mh{j} = b.mh{j} AS INTEGER)" for j in range(_dedup.NUM_PERM)
)

ORACLES["corpus_source_minhash"] = f"""
    WITH {_dedup._MH_CTE},
    src_mh AS (SELECT source, {_SRC_MH_COLS} FROM mh GROUP BY source),
    toks_d AS (SELECT DISTINCT source, sh FROM toks),
    sizes AS (
        SELECT source, CAST(COUNT(*) AS BIGINT) AS n_toks
        FROM toks_d GROUP BY source
    ),
    inter AS (
        SELECT x.source AS source_a, y.source AS source_b,
               CAST(COUNT(*) AS BIGINT) AS inter_toks
        FROM toks_d x JOIN toks_d y
          ON x.sh = y.sh AND x.source < y.source
        GROUP BY 1, 2
    )
    SELECT a.source AS source_a, b.source AS source_b,
           CAST({_SRC_MATCHES} AS BIGINT) AS matching_members,
           (2 * CAST({_SRC_MATCHES} AS BIGINT) * 1000000
            + {_dedup.NUM_PERM}) // (2 * {_dedup.NUM_PERM})
               AS est_jaccard_micro,
           sa.n_toks AS toks_a, sb.n_toks AS toks_b,
           COALESCE(i.inter_toks, 0::BIGINT) AS inter_toks,
           (2 * COALESCE(i.inter_toks, 0) * 1000000
            + (sa.n_toks + sb.n_toks - COALESCE(i.inter_toks, 0)))
               // (2 * (sa.n_toks + sb.n_toks - COALESCE(i.inter_toks, 0)))
               AS exact_jaccard_micro
    FROM src_mh a JOIN src_mh b ON a.source < b.source
    JOIN sizes sa ON sa.source = a.source
    JOIN sizes sb ON sb.source = b.source
    LEFT JOIN inter i
      ON i.source_a = a.source AND i.source_b = b.source
"""

ORACLES["corpus_cross_source_overlap"] = f"""
    WITH {_decon_grams_sql("source")},
    sizes AS (
        SELECT source, CAST(COUNT(*) AS BIGINT) AS n_grams
        FROM grams GROUP BY source
    ),
    inter AS (
        SELECT a.source AS source_a, b.source AS source_b,
               CAST(COUNT(*) AS BIGINT) AS inter_grams
        FROM grams a JOIN grams b
          ON a.gram = b.gram AND a.source < b.source
        GROUP BY 1, 2
    )
    SELECT sa.source AS source_a, sb.source AS source_b,
           sa.n_grams AS grams_a, sb.n_grams AS grams_b,
           CAST(COALESCE(i.inter_grams, 0) AS BIGINT) AS inter_grams,
           CASE WHEN sa.n_grams + sb.n_grams - COALESCE(i.inter_grams, 0) = 0
                THEN CAST(0 AS BIGINT)
                ELSE (2 * 1000 * COALESCE(i.inter_grams, 0)
                      + (sa.n_grams + sb.n_grams - COALESCE(i.inter_grams, 0)))
                     // (2 * (sa.n_grams + sb.n_grams
                              - COALESCE(i.inter_grams, 0)))
           END AS jaccard_permille
    FROM sizes sa
    JOIN sizes sb ON sa.source < sb.source
    LEFT JOIN inter i
      ON i.source_a = sa.source AND i.source_b = sb.source
"""

# per-language sampling rates (percent) — the data-mixing knob: a
# training mix typically downsamples over-represented languages/sources
MIX_RATES: dict[str, int] = {"en": 30, "zh": 60}
MIX_DEFAULT_RATE = 80


def corpus_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified sampling for corpus mixing: keep a
    per-language fraction of documents, selected by a salted content-
    independent hash of the doc_id — reproducible across runs, engines
    and cluster sizes (no RNG state, no per-partition seed drift, the
    property sampleBy cannot give across engines). One stateless scan:
    the filter is pure expression logic and pushes into the plan like
    any predicate; sampling 100 TB costs one read, no shuffle.
    """
    from ..functions.hashing import h60

    docs = load_table(spark, sf_dir, "documents")
    rate = F.lit(MIX_DEFAULT_RATE)
    for lang, r in sorted(MIX_RATES.items()):
        rate = F.when(F.col("lang") == lang, F.lit(r)).otherwise(rate)
    bucket = h60(F.concat(F.lit("sample:"), F.col("doc_id").cast("string"))) % 100
    return (
        docs.where(bucket < rate)
        .select("doc_id", "lang", "source", F.col("n_chars").alias("n_chars"))
    )


def _h60_sample_sql() -> str:
    from ..functions.hashing import h60_sql

    return h60_sql("'sample:' || CAST(doc_id AS VARCHAR)")


def _rate_case_sql() -> str:
    whens = " ".join(
        f"WHEN lang = '{lang}' THEN {r}" for lang, r in sorted(MIX_RATES.items())
    )
    return f"CASE {whens} ELSE {MIX_DEFAULT_RATE} END"


ORACLES["corpus_stratified_sample"] = f"""
    SELECT doc_id, lang, source, n_chars
    FROM documents
    WHERE {_h60_sample_sql()} % 100 < {_rate_case_sql()}
"""

WSAMPLE_TOP = 50
WSAMPLE_BUCKETS = 1 << 20


def weighted_doc_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-weighted priority sampling without replacement — the
    deterministic analogue of the A-RES exponential race (priority =
    u^(1/w), take top-k): here each doc draws a salted-hash bucket
    u ∈ [1, 2^20] and races with rational priority w·2^20/u, so higher
    quality (w) systematically beats a given luck draw and the winners
    are identical across runs, engines, and cluster sizes. This is the
    'sample the best K docs, weighted, reproducibly' pass a curation
    pipeline runs after scoring.

    Scale: one scan (quality lineage is per-doc expression logic), no
    shuffle except the top-k itself, which is sort+limit —
    TakeOrderedAndProject keeps a K-row heap per partition and merges
    K rows per partition at the driver, never a global sort. All
    arithmetic is exact BIGINT (w_micro ≤ 1e6+1, ·2^20 ≪ 2^63).
    """
    docs = load_table(spark, sf_dir, "documents")
    from ..functions.hashing import h60

    q = quality_lineage(docs, keep=("lang",)).select(
        "doc_id",
        "lang",
        (F.round(F.col("quality") * 1e6).cast("bigint") + 1).alias("w_micro"),
        (
            h60(F.concat(F.lit("wsample:"), F.col("doc_id").cast("string")))
            % WSAMPLE_BUCKETS
            + 1
        ).alias("u_bucket"),
    )
    return (
        q.select(
            "doc_id",
            "lang",
            "w_micro",
            F.expr(half_up(f"w_micro * {WSAMPLE_BUCKETS}", "u_bucket")).alias(
                "priority"
            ),
        )
        .orderBy(F.col("priority").desc(), "doc_id")
        .limit(WSAMPLE_TOP)
    )


def _wsample_sql() -> str:
    from ..functions.hashing import h60_sql

    hashed = h60_sql("'wsample:' || CAST(doc_id AS VARCHAR)")
    u = f"({hashed} % {WSAMPLE_BUCKETS} + 1)"
    return f"""
    WITH {_quality_cte()},
    weighted AS (
        SELECT doc_id, d.lang,
               CAST(round(quality * 1e6) AS BIGINT) + 1 AS w_micro,
               {u} AS u_bucket
        FROM q JOIN documents d USING (doc_id)
    )
    SELECT doc_id, lang, w_micro,
           (2 * w_micro * {WSAMPLE_BUCKETS} + u_bucket) // (2 * u_bucket)
               AS priority
    FROM weighted
    ORDER BY priority DESC, doc_id
    LIMIT {WSAMPLE_TOP}
"""


BUDGET_NUM, BUDGET_DEN = 2, 5  # keep the best 2/5 of corpus tokens
BUDGET_BANDS = 32


def token_budget_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget curation plan: fill a token budget (2/5 of the
    corpus) with documents in descending quality order and report, per
    (lang, source) stratum, how many docs/tokens survive the cut — the
    'select the best N tokens for this training run' pass, which is
    how pretraining corpora are actually sized (token budgets, not doc
    counts).

    Exactness: the cut is an inclusive prefix-sum test in integer
    tokens (cum·DEN ≤ total·NUM — no division at all), over the unique
    total order (q_micro DESC, doc_id).

    Scale: the global cumulative sum never funnels through one sort
    task — docs are banded by quality value (BUDGET_BANDS fixed bands),
    the running token sum is computed within each band, and the ≤32
    per-band token totals are prefix-summed and broadcast back as
    offsets (same two-phase shape as _exact_group_rank). One corpus
    scan + one |bands|-row exchange + one |strata|-key rollup."""
    docs = load_table(spark, sf_dir, "documents")
    q = quality_lineage(docs, keep=("lang", "source")).select(
        "doc_id",
        "lang",
        "source",
        F.col("n_tokens").cast("bigint").alias("n_tokens"),
        F.expr("cast(round(quality * 1000000) as bigint)").alias("q_micro"),
    )
    total = q.agg(F.sum("n_tokens").alias("_tot"))
    banded = q.crossJoin(F.broadcast(total)).withColumn(
        "_band",
        F.expr(f"int(((1000000 - q_micro) * {BUDGET_BANDS}) div 1000001)"),
    )
    w_in = (
        Window.partitionBy("_band")
        .orderBy(F.col("q_micro").desc(), "doc_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    w_off = Window.orderBy("_band").rowsBetween(
        Window.unboundedPreceding, -1
    )  # ≤ BUDGET_BANDS rows — never a data-sized global window
    offs = (
        banded.groupBy("_band")
        .agg(F.sum("n_tokens").alias("_c"))
        .select(
            "_band",
            F.coalesce(F.sum("_c").over(w_off), F.lit(0)).alias("_off"),
        )
    )
    kept = (
        banded.join(F.broadcast(offs), "_band")
        .withColumn("_cum", F.col("_off") + F.sum("n_tokens").over(w_in))
        .where(F.expr(f"_cum * {BUDGET_DEN} <= _tot * {BUDGET_NUM}"))
    )
    totals = q.groupBy("lang", "source").agg(
        F.count(F.lit(1)).alias("n_docs_total"),
        F.sum("n_tokens").alias("tokens_total"),
    )
    kept_agg = kept.groupBy("lang", "source").agg(
        F.count(F.lit(1)).alias("n_docs_kept"),
        F.sum("n_tokens").alias("tokens_kept"),
    )
    return (
        totals.join(kept_agg, ["lang", "source"], "left")
        .select(
            "lang",
            "source",
            "n_docs_total",
            F.coalesce("n_docs_kept", F.lit(0)).cast("bigint").alias(
                "n_docs_kept"
            ),
            "tokens_total",
            F.coalesce("tokens_kept", F.lit(0)).cast("bigint").alias(
                "tokens_kept"
            ),
        )
        .withColumn(
            "kept_share",
            F.expr(half_up("tokens_kept * 1000000", "tokens_total"))
            / F.lit(1e6),
        )
    )


ORACLES["corpus_token_budget_plan"] = f"""
    WITH {_quality_cte()},
    base AS (
        SELECT d.doc_id, d.lang, d.source, qt.n_tokens,
               CAST(round(q.quality * 1000000) AS BIGINT) AS q_micro
        FROM documents d
        JOIN qt USING (doc_id)
        JOIN q USING (doc_id)
    ),
    tot AS (SELECT CAST(SUM(n_tokens) AS BIGINT) AS t FROM base),
    cum AS (
        SELECT lang, source, n_tokens,
               SUM(n_tokens) OVER (
                   ORDER BY q_micro DESC, doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS c
        FROM base
    ),
    kept AS (
        SELECT lang, source,
               CAST(COUNT(*) AS BIGINT) AS n_docs_kept,
               CAST(SUM(n_tokens) AS BIGINT) AS tokens_kept
        FROM cum, tot
        WHERE c * {BUDGET_DEN} <= t * {BUDGET_NUM}
        GROUP BY 1, 2
    ),
    totals AS (
        SELECT lang, source,
               CAST(COUNT(*) AS BIGINT) AS n_docs_total,
               CAST(SUM(n_tokens) AS BIGINT) AS tokens_total
        FROM base GROUP BY 1, 2
    )
    SELECT t.lang, t.source, t.n_docs_total,
           COALESCE(k.n_docs_kept, 0) AS n_docs_kept,
           t.tokens_total,
           COALESCE(k.tokens_kept, 0) AS tokens_kept,
           ((2 * COALESCE(k.tokens_kept, 0) * 1000000 + t.tokens_total)
               // (2 * t.tokens_total)) / 1e6 AS kept_share
    FROM totals t LEFT JOIN kept k USING (lang, source)
"""


def corpus_mixture_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The mixture dashboard behind the sampling knob above: per
    (lang, source) document counts, char volume, mean quality, and
    corpus share. One scan + one tiny groupBy; the share denominator
    is a window over the aggregated frame (strata-cardinality rows),
    never a second corpus pass.

    Mean quality is computed in EXACT integer micro-units: the per-doc
    score is already a 6-decimal value, so ``round(quality * 1e6)`` is
    an exact bigint, the sum is order-independent, and the half-up
    mean is pure integer arithmetic ``(2s + n) div 2n`` — a sum of
    6-decimal values divided by a small count lands exactly on a
    half-rounding boundary about half the time (n=2 strata hit it for
    any odd sum digit), where double rounding diverges between
    engines; integers cannot.
    """
    docs = load_table(spark, sf_dir, "documents")
    q = quality_lineage(docs, keep=("lang", "source", "n_chars"))
    agg = q.groupBy("lang", "source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
        F.sum(F.round(F.col("quality") * 1e6).cast("bigint")).alias("q_micro"),
    )
    return agg.select(
        "lang",
        "source",
        "n_docs",
        "total_chars",
        (
            F.expr(half_up("q_micro", "n_docs")) / F.lit(1e6)
        ).alias("avg_quality"),
        (
            F.expr(half_up("n_docs * 1000000", "sum(n_docs) over ()"))
            / F.lit(1e6)
        ).alias("share"),
    )


def mixture_reweight_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sampling-rate planner for a target training mixture: given the
    observed per-language char volumes and a uniform target share,
    compute the keep rate that downsamples every over-represented
    language to the target (capped at 1 — we never upsample), plus the
    expected post-sampling volume. This is the knob-setting pass that
    runs BEFORE ``corpus_stratified_sample`` executes the plan.

    One corpus scan → language-cardinality frame; the target is a
    window over that tiny frame. All rates are exact half-up
    micro-unit integers and the expected volume is a floor product —
    bit-stable across engines and scale factors.
    """
    docs = load_table(spark, sf_dir, "documents")
    strata = docs.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("stratum_chars"),
    )
    planned = strata.select(
        "lang",
        "n_docs",
        "stratum_chars",
        F.expr(
            "sum(stratum_chars) over () div count(1) over ()"
        ).alias("target_chars"),
    )
    rate_sql = (
        f"least(1000000, {half_up('target_chars * 1000000', 'stratum_chars')})"
    )
    return planned.select(
        "lang",
        "n_docs",
        "stratum_chars",
        "target_chars",
        F.expr(rate_sql).alias("rate_micro"),
        F.expr(f"{rate_sql} * stratum_chars div 1000000").alias("expected_chars"),
    )


def _mixture_sql() -> str:
    from ..operators.text import _ORACLE_Q_MICRO, _STOP_LIST, _oracle_tokens

    return f"""
        WITH t AS (
            SELECT lang, source, n_chars,
                   CAST(len({_oracle_tokens()}) AS BIGINT) AS n_tokens,
                   CAST(len(list_filter({_oracle_tokens()},
                                        t -> t IN ({_STOP_LIST}))) AS BIGINT)
                       AS n_stop,
                   CAST(list_sum(list_transform({_oracle_tokens()},
                                                t -> length(t))) AS BIGINT)
                       AS total_len
            FROM documents
        ),
        q AS (
            SELECT lang, source, n_chars,
                   ({_ORACLE_Q_MICRO}) / 1e6 AS quality
            FROM t
        )
        SELECT lang, source, COUNT(*) AS n_docs,
               CAST(SUM(n_chars) AS BIGINT) AS total_chars,
               ((2 * CAST(SUM(CAST(round(quality * 1e6) AS BIGINT)) AS BIGINT)
                 + COUNT(*)) // (2 * COUNT(*))) / 1e6 AS avg_quality,
               ((2 * COUNT(*) * 1000000 + CAST(SUM(COUNT(*)) OVER () AS BIGINT))
                // (2 * CAST(SUM(COUNT(*)) OVER () AS BIGINT))) / 1e6
                   AS share
        FROM q GROUP BY lang, source
    """


ORACLES["corpus_mixture_report"] = _mixture_sql()
ORACLES["weighted_doc_sample"] = _wsample_sql()

ORACLES["mixture_reweight_plan"] = """
    WITH strata AS (
        SELECT lang, COUNT(*) AS n_docs,
               CAST(SUM(n_chars) AS BIGINT) AS stratum_chars
        FROM documents GROUP BY lang
    ),
    planned AS (
        SELECT lang, n_docs, stratum_chars,
               CAST(SUM(stratum_chars) OVER () AS BIGINT)
                   // CAST(COUNT(*) OVER () AS BIGINT) AS target_chars
        FROM strata
    )
    SELECT lang, n_docs, stratum_chars, target_chars,
           LEAST(1000000,
                 (2 * target_chars * 1000000 + stratum_chars)
                 // (2 * stratum_chars)) AS rate_micro,
           LEAST(1000000,
                 (2 * target_chars * 1000000 + stratum_chars)
                 // (2 * stratum_chars)) * stratum_chars // 1000000
               AS expected_chars
    FROM planned
"""

# ---------------------------------------------------------------------------
# train/val/test split, per-source caps, and contrastive pair mining —
# the release-engineering tail of a training-data pipeline

SPLIT_TRAIN_PCT = 90  # bucket < 90 → train
SPLIT_VAL_PCT = 95    # 90 ≤ bucket < 95 → val; rest → test


def _split_expr(bucket: F.Column) -> F.Column:
    return (
        F.when(bucket < SPLIT_TRAIN_PCT, F.lit("train"))
        .when(bucket < SPLIT_VAL_PCT, F.lit("val"))
        .otherwise(F.lit("test"))
    )


def train_split_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-proof train/val/test assignment: the split bucket is a
    salted hash of the near-dup CLUSTER id, not the document id, so
    every member of a near-dup cluster lands in the same split BY
    CONSTRUCTION — hashing doc_id instead is the classic eval-leak
    (val examples that are near-copies of train examples).

    Plan shape: the cluster-label frame (memoized, pair-graph-sized
    state joined back over one corpus scan) plus a stateless hash
    expression — no new shuffle beyond the label join the dedup family
    already shares. Deterministic across runs, engines and cluster
    sizes: no RNG, no per-partition seed state.
    """
    from ..functions.hashing import h60

    clusters = near_dup_clusters(spark, sf_dir)
    bucket = h60(
        F.concat(F.lit("split:"), F.col("cluster_id").cast("string"))
    ) % 100
    return clusters.select(
        "doc_id", "cluster_id", _split_expr(bucket).alias("split")
    )


def split_leakage_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The audit behind the split: per-split document/cluster/char
    volumes plus ``leaked_clusters`` — the number of clusters whose
    members span more than one split. The split derives from the
    cluster id, so the invariant is provable; the audit COMPUTES it
    from the assignment anyway (the check a release gate runs, and the
    cross-engine hash fails loudly if the two engines ever cluster or
    bucket differently).

    Plan shape: one corpus join to fetch n_chars, one groupBy on the
    3-value split key, one cluster-cardinality aggregate for the leak
    count; the 1-row leak total broadcast-crossJoins onto the 3-row
    summary (bounded by construction).
    """
    assigned = train_split_assign(spark, sf_dir)
    chars = load_table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    per_split = (
        assigned.join(chars, "doc_id")
        .groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.countDistinct("cluster_id").alias("n_clusters"),
            F.sum("n_chars").alias("total_chars"),
        )
    )
    leaks = (
        assigned.groupBy("cluster_id")
        .agg(F.countDistinct("split").alias("n_splits"))
        .where(F.col("n_splits") > 1)
        .agg(F.count(F.lit(1)).alias("leaked_clusters"))
    )
    return per_split.crossJoin(F.broadcast(leaks))


SOURCE_CAP = 15  # max documents retained per source


def source_cap_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source document caps — the domain-balancing pass of web-scale
    curation (no single crawl domain may dominate the mix): within each
    source, documents are ranked by a salted content-independent hash
    (deterministic, order-free) and only the first SOURCE_CAP survive.
    Reports per-source kept/dropped counts AND the kept char volume, so
    the hash gate pins the exact kept SET, not just its size.

    Plan shape: one shuffle on the source key for the rank window, then
    a map-side-combinable re-aggregation on the same key (no second
    exchange). At 100 TB a heavy-hitter source would skew the window
    shuffle; the production variant pre-caps per (source, salt) shard
    at a higher threshold first — same plan shape, bounded partitions —
    before this exact global pass over the survivors.
    """
    from ..functions.hashing import h60

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "n_chars"
    )
    h = h60(F.concat(F.lit("cap:"), F.col("doc_id").cast("string")))
    w = Window.partitionBy("source").orderBy(F.col("h"), F.col("doc_id"))
    ranked = docs.withColumn("h", h).withColumn("rk", F.row_number().over(w))
    kept = F.col("rk") <= SOURCE_CAP
    return (
        ranked.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(kept.cast("bigint")).alias("n_kept"),
            F.sum((~kept).cast("bigint")).alias("n_dropped"),
            F.sum(F.when(kept, F.col("n_chars")).otherwise(F.lit(0))).alias(
                "kept_chars"
            ),
        )
    )


NEG_PER_ANCHOR = 3   # negatives mined per anchor document
ANCHOR_MOD = 20      # anchors = doc_id % 20 == 0 (a deterministic 5%)


def contrastive_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup-aware negative mining for contrastive training: for each
    anchor document, draw NEG_PER_ANCHOR pseudo-random candidate ids
    (salted hash mod corpus size — reproducible, no RNG state), then
    DROP any candidate that is the anchor itself or a member of the
    anchor's near-dup cluster — a near-copy used as a negative is a
    false negative that actively corrupts the contrastive objective.
    This is the composition that makes the dedup stack a training-data
    feature, not just a cleanup pass.

    Plan shape: anchors are a hash-filtered sliver of one corpus scan;
    the corpus-size scalar is a 1-row aggregate broadcast-crossJoined
    on (bounded by construction); candidate ids join back to the corpus
    and to the (memoized) cluster-label frame by plain equi-joins on
    the id — the tiny candidate side broadcasts, the corpus is never
    shuffled. Works on dense ids (TESTDATA doc_id = 0..N-1); sparse-id
    corpora would first zipWithIndex-style densify once.
    """
    from ..functions.hashing import h60

    docs = load_table(spark, sf_dir, "documents")
    n_total = docs.agg(F.count(F.lit(1)).alias("n_total"))
    anchors = (
        docs.where(F.col("doc_id") % ANCHOR_MOD == 0)
        .select(F.col("doc_id").alias("anchor_id"))
        .crossJoin(F.broadcast(n_total))
        .select(
            "anchor_id",
            "n_total",
            F.explode(
                F.array(*[F.lit(k) for k in range(NEG_PER_ANCHOR)])
            ).alias("k"),
        )
    )
    neg_id = h60(
        F.concat(
            F.lit("neg:"),
            F.col("k").cast("string"),
            F.lit(":"),
            F.col("anchor_id").cast("string"),
        )
    ) % F.col("n_total")
    cand = anchors.select("anchor_id", "k", neg_id.alias("neg_id")).where(
        F.col("neg_id") != F.col("anchor_id")
    )
    labels = near_dup_clusters(spark, sf_dir).select(
        "doc_id", "cluster_id"
    )
    a_lab = labels.select(
        F.col("doc_id").alias("anchor_id"),
        F.col("cluster_id").alias("anchor_cluster"),
    )
    n_lab = labels.select(
        F.col("doc_id").alias("neg_id"),
        F.col("cluster_id").alias("neg_cluster"),
    )
    neg_meta = docs.select(
        F.col("doc_id").alias("neg_id"), "lang", "source"
    )
    return (
        cand.join(a_lab, "anchor_id")
        .join(n_lab, "neg_id")
        .where(F.col("anchor_cluster") != F.col("neg_cluster"))
        .join(neg_meta, "neg_id")
        .select(
            "anchor_id",
            "k",
            "neg_id",
            F.col("lang").alias("neg_lang"),
            F.col("source").alias("neg_source"),
        )
    )


def _h60_oracle(expr: str) -> str:
    from ..functions.hashing import h60_sql

    return h60_sql(expr)


_SPLIT_CASE = f"""CASE
    WHEN {_h60_oracle("'split:' || CAST(cluster_id AS VARCHAR)")} % 100
         < {SPLIT_TRAIN_PCT} THEN 'train'
    WHEN {_h60_oracle("'split:' || CAST(cluster_id AS VARCHAR)")} % 100
         < {SPLIT_VAL_PCT} THEN 'val'
    ELSE 'test'
END"""


def _clusters_sub() -> str:
    return _dedup.ORACLES["dedup_clusters"]


ORACLES["train_split_assign"] = f"""
    SELECT doc_id, cluster_id, {_SPLIT_CASE} AS split
    FROM ({_clusters_sub()}) c
"""

ORACLES["split_leakage_report"] = f"""
    WITH assigned AS (
        SELECT doc_id, cluster_id, {_SPLIT_CASE} AS split
        FROM ({_clusters_sub()}) c
    ),
    leaks AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS leaked_clusters FROM (
            SELECT cluster_id FROM assigned
            GROUP BY cluster_id HAVING COUNT(DISTINCT split) > 1
        )
    )
    SELECT a.split,
           COUNT(*) AS n_docs,
           CAST(COUNT(DISTINCT a.cluster_id) AS BIGINT) AS n_clusters,
           CAST(SUM(d.n_chars) AS BIGINT) AS total_chars,
           ANY_VALUE(l.leaked_clusters) AS leaked_clusters
    FROM assigned a
    JOIN documents d USING (doc_id)
    CROSS JOIN leaks l
    GROUP BY a.split
"""

ORACLES["source_cap_report"] = f"""
    WITH ranked AS (
        SELECT doc_id, source, n_chars,
               ROW_NUMBER() OVER (
                   PARTITION BY source
                   ORDER BY {_h60_oracle("'cap:' || CAST(doc_id AS VARCHAR)")},
                            doc_id
               ) AS rk
        FROM documents
    )
    SELECT source,
           COUNT(*) AS n_docs,
           CAST(COUNT(*) FILTER (rk <= {SOURCE_CAP}) AS BIGINT) AS n_kept,
           CAST(COUNT(*) FILTER (rk > {SOURCE_CAP}) AS BIGINT) AS n_dropped,
           CAST(COALESCE(SUM(n_chars) FILTER (rk <= {SOURCE_CAP}), 0)
                AS BIGINT) AS kept_chars
    FROM ranked GROUP BY source
"""

ORACLES["contrastive_negatives"] = f"""
    WITH clusters AS (
        SELECT doc_id, cluster_id FROM ({_clusters_sub()}) c
    ),
    n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_total FROM documents),
    cand AS (
        SELECT d.doc_id AS anchor_id, k.k,
               {_h60_oracle(
                   "'neg:' || CAST(k.k AS VARCHAR) || ':' "
                   "|| CAST(d.doc_id AS VARCHAR)"
               )} % n.n_total AS neg_id
        FROM documents d
        CROSS JOIN (VALUES {", ".join(f"({k})" for k in range(NEG_PER_ANCHOR))}) AS k(k)
        CROSS JOIN n
        WHERE d.doc_id % {ANCHOR_MOD} = 0
    )
    SELECT c.anchor_id, c.k, c.neg_id,
           nd.lang AS neg_lang, nd.source AS neg_source
    FROM cand c
    JOIN clusters ca ON ca.doc_id = c.anchor_id
    JOIN clusters cn ON cn.doc_id = c.neg_id
    JOIN documents nd ON nd.doc_id = c.neg_id
    WHERE c.neg_id <> c.anchor_id
      AND ca.cluster_id <> cn.cluster_id
"""


SHUFFLE_EPOCHS = 3
SHUFFLE_QUARTERS = 4


def epoch_shuffle_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reproducible per-epoch training-data shuffle, with a balance QC:
    epoch e orders the corpus by ``h60('epoch:e:' || doc_id)`` — a
    content-independent salted hash, so the permutation is identical
    across engines, runs and cluster sizes (what RNG-seeded shuffles
    cannot promise), differs per epoch, and needs no state. The QC
    buckets each epoch's order into quarters and counts per (epoch,
    source, quarter): a source clumping into one quarter of an epoch
    means data ordering will bias that epoch's gradient mix.

    One scan × EPOCHS (a tiny range crossJoin fans the corpus out),
    one |epochs·sources·4|-key aggregate. The actual shuffle a trainer
    runs is ``ORDER BY h60(...)`` — a sort, not this QC; at 100 TB
    that sort is a range-partitioned exchange, never one task."""
    from ..functions.hashing import h60

    docs = load_table(spark, sf_dir, "documents")
    epochs = spark.range(1, SHUFFLE_EPOCHS + 1).select(
        F.col("id").cast("int").alias("epoch")
    )
    pos = h60(
        F.concat(
            F.lit("epoch:"),
            F.col("epoch").cast("string"),
            F.lit(":"),
            F.col("doc_id").cast("string"),
        )
    )
    quarter = F.expr(
        f"int((_pos * {SHUFFLE_QUARTERS}) div {1 << 60})"
    )
    return (
        docs.crossJoin(F.broadcast(epochs))
        .select("source", "epoch", pos.alias("_pos"))
        .select("source", "epoch", quarter.alias("quarter"))
        .groupBy("epoch", "source", "quarter")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"))
    )


def _epoch_hash_sql() -> str:
    from ..functions.hashing import h60_sql

    return h60_sql(
        "'epoch:' || CAST(e.epoch AS VARCHAR) || ':'"
        " || CAST(doc_id AS VARCHAR)"
    )


ORACLES["epoch_shuffle_plan"] = f"""
    SELECT e.epoch, source, quarter,
           CAST(COUNT(*) AS BIGINT) AS n_docs
    FROM (SELECT source, doc_id FROM documents) d
    CROSS JOIN (SELECT CAST(unnest(range(1, {SHUFFLE_EPOCHS + 1}))
                       AS INTEGER) AS epoch) e
    CROSS JOIN LATERAL (
        SELECT CAST(({_epoch_hash_sql()} * {SHUFFLE_QUARTERS})
                    // {1 << 60} AS INTEGER) AS quarter
    ) q
    GROUP BY e.epoch, source, quarter
"""


SHARD_BYTES = 8192  # target shard payload (chars stand in for bytes)


def _shard_placement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-document shard placement — the shared layout
    step of ``corpus_shard_plan`` (which summarizes it per shard) and
    ``corpus_cross_shard_dups`` (which joins near-dup pairs onto it):
    documents in salted-hash order, cut at SHARD_BYTES boundaries of
    the running payload. Returns (doc_id, source, nb, shard_id).

    The running sum uses the banded two-phase prefix shape (bands are
    a pure function of the uniform hash, so band population is
    balanced by construction): rank/cumsum within band + broadcast
    band-offset table — no single-partition sort of the corpus. A
    shard is then `prior_bytes div SHARD_BYTES` — pure arithmetic,
    no per-shard state, so the plan itself never materializes shards."""
    from ..functions.hashing import h60

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        "source",
        F.col("n_chars").cast("bigint").alias("nb"),
        h60(F.concat(F.lit("shard:"), F.col("doc_id").cast("string"))).alias(
            "hk"
        ),
    )
    banded = docs.withColumn(
        # 512 uniform hash-range bands; band population is balanced by
        # construction because hk is uniform
        "band", F.expr(f"cast(hk div {(1 << 60) // 512} as int)")
    )
    w_in = (
        Window.partitionBy("band")
        .orderBy("hk", "doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    in_band = banded.withColumn(
        "prior_in_band", F.coalesce(F.sum("nb").over(w_in), F.lit(0))
    )
    w_off = Window.orderBy("band").rowsBetween(Window.unboundedPreceding, -1)
    offs = (
        banded.groupBy("band")
        .agg(F.sum("nb").alias("band_bytes"))
        .select(
            "band",
            F.coalesce(F.sum("band_bytes").over(w_off), F.lit(0)).alias(
                "band_off"
            ),
        )
    )  # ≤512 rows: the unpartitioned window is bounded
    return in_band.join(F.broadcast(offs), "band").select(
        "doc_id",
        "source",
        "nb",
        F.expr(
            f"(band_off + prior_in_band) div {SHARD_BYTES}"
        ).alias("shard_id"),
    )


def corpus_shard_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic shard bin-packing — the plan for writing the
    corpus out as fixed-size training shards (WebDataset/TFRecord
    style), summarized per shard: doc count, payload, and source
    diversity — the QC that catches a shard holding one giant document
    or a single source. Placement comes from ``_shard_placement``
    (salted-hash order cut at SHARD_BYTES boundaries; see there for
    the banded two-phase prefix shape)."""
    return _shard_placement(spark, sf_dir).groupBy("shard_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("nb").cast("bigint").alias("payload_chars"),
        F.count_distinct("source").cast("bigint").alias("n_sources"),
    )


def corpus_cross_shard_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """How many near-dup pairs STRADDLE training-shard boundaries —
    the number that decides whether per-shard (local) dedup is good
    enough or the corpus needs the global pass: the salted-hash shard
    layout deliberately scatters sources, so near-identical documents
    almost always land in different shards and a shard-local dedup
    would miss them. One row: pair counts intra/inter shard and the
    inter share in exact micro.

    Scale: reuses the persisted LSH pair frame (bounded: band-blocked
    candidates only) and joins each side onto the deterministic
    placement frame — two equi-joins on doc_id, then a 1-row
    aggregate."""
    from .dedup import minhash_lsh_pairs

    pairs = minhash_lsh_pairs(spark, sf_dir).select("doc_id_a", "doc_id_b")
    place = _shard_placement(spark, sf_dir).select("doc_id", "shard_id")
    pa = place.select(
        F.col("doc_id").alias("doc_id_a"), F.col("shard_id").alias("sa")
    )
    pb = place.select(
        F.col("doc_id").alias("doc_id_b"), F.col("shard_id").alias("sb")
    )
    j = pairs.join(pa, "doc_id_a").join(pb, "doc_id_b")
    return j.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
        F.sum((F.col("sa") == F.col("sb")).cast("bigint"))
        .cast("bigint")
        .alias("intra_shard"),
        F.sum((F.col("sa") != F.col("sb")).cast("bigint"))
        .cast("bigint")
        .alias("inter_shard"),
    ).select(
        "n_pairs",
        "intra_shard",
        "inter_shard",
        # zero-denominator rate := 0 (r07 degenerate policy, ADVICE r07):
        # no LSH pairs means nothing straddles a shard
        F.expr(
            "CASE WHEN n_pairs = 0 THEN 0 ELSE "
            + half_up("inter_shard * 1000000", "n_pairs")
            + " END"
        ).alias("inter_share_micro"),
    )


def _shard_hash_sql() -> str:
    return _h60_oracle("'shard:' || CAST(doc_id AS VARCHAR)")


ORACLES["corpus_shard_plan"] = f"""
    WITH docs AS (
        SELECT doc_id, source, CAST(n_chars AS BIGINT) AS nb,
               {_shard_hash_sql()} AS hk
        FROM documents
    ),
    placed AS (
        SELECT doc_id, source, nb,
               CAST(COALESCE(SUM(nb) OVER (
                   ORDER BY hk, doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
               ), 0) // {SHARD_BYTES} AS BIGINT) AS shard_id
        FROM docs
    )
    SELECT shard_id,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(nb) AS BIGINT) AS payload_chars,
           CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources
    FROM placed
    GROUP BY shard_id
"""


QD_DECILES = 10


def quality_dup_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-decile × duplication correlation: bucket the corpus into
    exact global quality deciles and report each decile's near-dup
    rate — the analysis behind the curation folk theorem that low-
    quality text is disproportionately boilerplate/template duplicates.
    If the bottom decile's dup rate ISN'T elevated, the quality bar and
    the dedup pass are pruning independent populations and the funnel
    order doesn't matter; if it is, dedup-first saves quality-scoring
    compute.

    Deciles come from ``exact_global_rank`` on the exact micro
    quality (banded two-phase — no single-partition sort); the dup
    flag joins in from the memoized cluster-label frame (pair-graph
    sized). One corpus scan + one bounded join + a 10-key aggregate."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    qm = quality_lineage(docs).select(
        "doc_id",
        F.expr("cast(round(quality * 1000000) as bigint)").alias("qm"),
    )
    ranked = exact_global_rank(qm, "qm", "doc_id", "rnk")
    n_frame = qm.agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    deciled = ranked.crossJoin(F.broadcast(n_frame)).select(
        "doc_id",
        F.expr(f"cast(1 + ((rnk - 1) * {QD_DECILES}) div n as int)").alias(
            "decile"
        ),
    )
    clusters = near_dup_clusters(spark, sf_dir).select(
        "doc_id", "is_canonical"
    )
    return (
        deciled.join(clusters, "doc_id")
        .groupBy("decile")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum((~F.col("is_canonical")).cast("bigint")).alias("n_dups"),
        )
        .select(
            "decile",
            "n_docs",
            "n_dups",
            F.expr(half_up("n_dups * 1000000", "n_docs")).alias("dup_micro"),
        )
    )


def _quality_sub() -> str:
    from ..operators.text import ORACLES as _TEXT_ORACLES

    return _TEXT_ORACLES["text_quality_score"]


ORACLES["quality_dup_profile"] = f"""
    WITH qm AS (
        SELECT doc_id, CAST(ROUND(quality * 1000000) AS BIGINT) AS qm
        FROM ({_quality_sub()}) q
    ),
    ranked AS (
        SELECT doc_id,
               ROW_NUMBER() OVER (ORDER BY qm, doc_id) AS rnk,
               CAST(COUNT(*) OVER () AS BIGINT) AS n
        FROM qm
    ),
    deciled AS (
        SELECT doc_id,
               CAST(1 + ((rnk - 1) * {QD_DECILES}) // n AS INTEGER)
                   AS decile
        FROM ranked
    ),
    clusters AS (
        SELECT doc_id, is_canonical FROM ({_clusters_sub()}) c
    )
    SELECT decile,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN is_canonical THEN 0 ELSE 1 END) AS BIGINT)
               AS n_dups,
           CAST((2 * SUM(CASE WHEN is_canonical THEN 0 ELSE 1 END) * 1000000
                 + COUNT(*)) // (2 * COUNT(*)) AS BIGINT) AS dup_micro
    FROM deciled JOIN clusters USING (doc_id)
    GROUP BY decile
"""


def quality_budget_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-vs-budget tradeoff curve: rank the corpus best-first by
    exact micro quality, cut into deciles, and report each decile's
    token yield plus the cumulative tokens and cumulative corpus share
    — the curve a data lead reads to answer 'if we only train on the
    top-k% by quality, how many tokens is that?'. The retrospective
    companion of ``corpus_token_budget_plan`` (which packs to a fixed
    cap in arrival order).

    Ranks come from ``exact_global_rank`` on negated micro quality
    (banded two-phase — no single-partition sort); the only
    unpartitioned window runs over the ≤10 decile rows."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    q = (
        quality_lineage(docs)
        .select(
            "doc_id",
            F.expr("cast(round(quality * 1000000) as bigint)").alias("qm"),
            F.col("n_tokens").cast("bigint").alias("nb"),
        )
        .withColumn("neg_qm", -F.col("qm"))
    )
    ranked = exact_global_rank(q, "neg_qm", "doc_id", "rnk")
    n_frame = q.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("nb").cast("bigint").alias("total_tokens"),
    )
    deciled = ranked.crossJoin(F.broadcast(n_frame)).select(
        F.expr(f"cast(1 + ((rnk - 1) * {QD_DECILES}) div n as int)").alias(
            "decile"
        ),
        "nb",
        "total_tokens",
    )
    per = deciled.groupBy("decile").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("nb").cast("bigint").alias("tokens"),
        F.max("total_tokens").alias("_tt"),
    )
    w = Window.orderBy("decile").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = F.sum("tokens").over(w)
    return per.select(
        "decile",
        "n_docs",
        "tokens",
        cum.cast("bigint").alias("cum_tokens"),
        F.expr(half_up("cum_tokens * 1000000", "_tt")).alias("cum_share_micro"),
    ).orderBy("decile")


ORACLES["curation_quality_budget_curve"] = f"""
    WITH qm AS (
        SELECT doc_id, CAST(ROUND(quality * 1000000) AS BIGINT) AS qm,
               CAST(n_tokens AS BIGINT) AS nb
        FROM ({_quality_sub()}) q
    ),
    ranked AS (
        SELECT doc_id, nb,
               ROW_NUMBER() OVER (ORDER BY qm DESC, doc_id) AS rnk,
               CAST(COUNT(*) OVER () AS BIGINT) AS n,
               CAST(SUM(nb) OVER () AS BIGINT) AS tt
        FROM qm
    ),
    per AS (
        SELECT CAST(1 + ((rnk - 1) * {QD_DECILES}) // n AS INTEGER)
                   AS decile,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(nb) AS BIGINT) AS tokens,
               CAST(MAX(tt) AS BIGINT) AS tt
        FROM ranked GROUP BY 1
    )
    SELECT decile, n_docs, tokens,
           CAST(SUM(tokens) OVER (ORDER BY decile) AS BIGINT)
               AS cum_tokens,
           CAST((2 * SUM(tokens) OVER (ORDER BY decile) * 1000000 + tt)
                // (2 * tt) AS BIGINT) AS cum_share_micro
    FROM per ORDER BY decile
"""


ORACLES["corpus_cross_shard_dups"] = f"""
    WITH RECURSIVE {_dedup._MH_CTE},
    {_dedup._BANDS_CTE},
    lsh_pairs AS (
        SELECT cand.doc_id_a, cand.doc_id_b
        FROM cand
        JOIN mh a ON a.doc_id = cand.doc_id_a
        JOIN mh b ON b.doc_id = cand.doc_id_b
        WHERE ({_dedup._MATCHES}) / {float(_dedup.NUM_PERM)}
              >= {_dedup.EST_THRESHOLD}
    ),
    sdocs AS (
        SELECT doc_id, CAST(n_chars AS BIGINT) AS nb,
               {_shard_hash_sql()} AS hk
        FROM documents
    ),
    placed AS (
        SELECT doc_id,
               CAST(COALESCE(SUM(nb) OVER (
                   ORDER BY hk, doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
               ), 0) // {SHARD_BYTES} AS BIGINT) AS shard_id
        FROM sdocs
    ),
    j AS (
        SELECT pa.shard_id AS sa, pb.shard_id AS sb
        FROM lsh_pairs p
        JOIN placed pa ON pa.doc_id = p.doc_id_a
        JOIN placed pb ON pb.doc_id = p.doc_id_b
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs,
           CAST(SUM(CASE WHEN sa = sb THEN 1 ELSE 0 END) AS BIGINT)
               AS intra_shard,
           CAST(SUM(CASE WHEN sa <> sb THEN 1 ELSE 0 END) AS BIGINT)
               AS inter_shard,
           CAST(CASE WHEN COUNT(*) = 0 THEN 0 ELSE
                (2 * SUM(CASE WHEN sa <> sb THEN 1 ELSE 0 END) * 1000000
                 + COUNT(*)) // (2 * COUNT(*)) END AS BIGINT)
               AS inter_share_micro
    FROM j
"""


def quality_auc_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT ROC-AUC of the quality score as a near-dup detector —
    the threshold-free companion to quality_dup_profile's deciles.
    AUC = P(quality(random non-dup) > quality(random dup)) + ½·P(tie),
    via the Mann-Whitney rank-sum identity computed on score GROUPS:
    group the corpus by exact micro-unit quality (the per-score group
    frame is bounded by distinct score values, not corpus size), take
    one cumulative sum over that tiny frame, and recover the pair
    counts algebraically — concordant·2 = 2·P·N − 2·Σp_g·cumq_g +
    Σp_g·q_g. No doc×doc pair join, no corpus-wide rank: the only
    window runs over the aggregated score-group frame (audited
    bounded-frame global window). All arithmetic is exact integer;
    the displayed AUC is the standard half-up micro-unit rational.

    An AUC well below 0.5 is the curation folk theorem made
    quantitative (dups concentrate in low quality); ≈0.5 means the
    quality bar and the dedup pass prune independent populations.
    """
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    qm = quality_lineage(docs).select(
        "doc_id",
        F.expr("cast(round(quality * 1000000) as bigint)").alias("qm"),
    )
    pairs = minhash_lsh_pairs(spark, sf_dir).select(
        "doc_id_a", "doc_id_b"
    )
    paired = _candidate_docs(pairs).withColumn("is_dup", F.lit(True))
    # candidate-doc frame grows with dup density — strategy is AQE's
    labeled = qm.join(paired, "doc_id", "left").select(
        "qm", F.coalesce("is_dup", F.lit(False)).alias("is_dup")
    )
    g = labeled.groupBy("qm").agg(
        F.sum(F.col("is_dup").cast("bigint")).alias("p"),
        F.sum((~F.col("is_dup")).cast("bigint")).alias("q"),
    )
    cum = g.select(
        "p",
        "q",
        F.sum("q")
        .over(
            Window.orderBy("qm").rowsBetween(
                Window.unboundedPreceding, Window.currentRow
            )
        )
        .alias("cum_q"),
    )
    agg = cum.agg(
        F.sum("p").cast("bigint").alias("n_dup"),
        F.sum("q").cast("bigint").alias("n_nondup"),
        F.sum(F.expr("p * cum_q")).cast("bigint").alias("s1"),
        F.sum(F.expr("p * q")).cast("bigint").alias("s2"),
    )
    return agg.select(
        "n_dup",
        "n_nondup",
        F.expr("2 * n_dup * n_nondup - 2 * s1 + s2").alias("concordant2"),
        F.when(
            (F.col("n_dup") > 0) & (F.col("n_nondup") > 0),
            F.expr(
                half_up(
                    "(2 * n_dup * n_nondup - 2 * s1 + s2) * 1000000",
                    "2 * n_dup * n_nondup",
                )
                + " / 1000000.0D"
            ),
        ).alias("auc"),
    )


ORACLES["quality_auc_eval"] = f"""
    WITH cand_pairs AS ({_dedup._LSH_PAIRS_SQL}),
    paired AS (
        SELECT DISTINCT doc_id FROM (
            SELECT doc_id_a AS doc_id FROM cand_pairs
            UNION ALL
            SELECT doc_id_b FROM cand_pairs
        )
    ),
    qm AS (
        SELECT doc_id, CAST(ROUND(quality * 1000000) AS BIGINT) AS qm
        FROM ({_quality_sub()}) qq
    ),
    lab AS (
        SELECT qm.qm, p.doc_id IS NOT NULL AS is_dup
        FROM qm LEFT JOIN paired p USING (doc_id)
    ),
    g AS (
        SELECT qm,
               CAST(SUM(CASE WHEN is_dup THEN 1 ELSE 0 END) AS BIGINT) AS p,
               CAST(SUM(CASE WHEN is_dup THEN 0 ELSE 1 END) AS BIGINT) AS q
        FROM lab GROUP BY qm
    ),
    c AS (
        SELECT p, q,
               CAST(SUM(q) OVER (ORDER BY qm ROWS BETWEEN UNBOUNDED
                    PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_q
        FROM g
    ),
    a AS (
        SELECT CAST(SUM(p) AS BIGINT) AS n_dup,
               CAST(SUM(q) AS BIGINT) AS n_nondup,
               CAST(SUM(p * cum_q) AS BIGINT) AS s1,
               CAST(SUM(p * q) AS BIGINT) AS s2
        FROM c
    )
    SELECT n_dup, n_nondup,
           CAST(2 * n_dup * n_nondup - 2 * s1 + s2 AS BIGINT)
               AS concordant2,
           CASE WHEN n_dup > 0 AND n_nondup > 0 THEN
               ((2 * (2 * n_dup * n_nondup - 2 * s1 + s2) * 1000000
                 + 2 * n_dup * n_nondup)
                // (2 * 2 * n_dup * n_nondup)) / 1000000.0
           ELSE NULL END AS auc
    FROM a
"""


QUERIES = {
    # round-7 entries first: registry order = driver grading order
    "curation_quality_budget_curve": quality_budget_curve,
    "corpus_cross_shard_dups": corpus_cross_shard_dups,
    # new-in-round-4 entries
    "corpus_token_budget_plan": token_budget_plan,
    "quality_auc_eval": quality_auc_eval,
    "corpus_source_minhash": source_minhash_similarity,
    "quality_dup_profile": quality_dup_profile,
    "corpus_shard_plan": corpus_shard_plan,
    "epoch_shuffle_plan": epoch_shuffle_plan,
    "corpus_cross_source_overlap": cross_source_overlap,
    "weighted_doc_sample": weighted_doc_sample,
    "train_split_assign": train_split_assign,
    "split_leakage_report": split_leakage_report,
    "source_cap_report": source_cap_report,
    "contrastive_negatives": contrastive_negatives,
    "mixture_reweight_plan": mixture_reweight_plan,
    # new-in-round-3 entries next
    "curation_multisignal_gate": multisignal_gate,
    "curation_keep_list": curation_keep_list,
    "decontaminate_overlap": decontaminate_overlap,
    "corpus_stratified_sample": corpus_stratified_sample,
    "corpus_mixture_report": corpus_mixture_report,
}
