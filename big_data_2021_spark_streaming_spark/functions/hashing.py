"""Cross-engine deterministic hashing.

Sketch operators (MinHash, SimHash, LSH) need a hash family that
produces IDENTICAL values in Spark and in the DuckDB oracle. Neither
engine's native 64-bit hash matches the other (xxhash64 vs DuckDB's
murmur-derived ``hash()``), so we standardize on:

    h60(s) = first 15 hex chars of md5(s), read as a base-16 integer

- 60 bits → always positive, exact in int64 and in a double's 53-bit
  mantissa is NOT required (we never go through floats).
- Independent family members come from domain separation:
  ``h60(j || ':' || s)`` for permutation/hyperplane index j.

Both sides are plain built-in SQL functions — JVM-side codegen in
Spark (no Python in the hot path), vectorized in DuckDB.
"""

from __future__ import annotations

import pyspark.sql.functions as F

H60_BITS = 60


def h60(col: F.Column) -> F.Column:
    """60-bit md5-derived hash of a string column (Spark side)."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("bigint")


def h60_seeded(seed: int | str, col: F.Column) -> F.Column:
    """Domain-separated family member: h60(f"{seed}:{s}")."""
    return h60(F.concat(F.lit(f"{seed}:"), col))


def h60_sql(expr: str) -> str:
    """DuckDB-side equivalent of :func:`h60` over a SQL expression."""
    return f"CAST('0x' || substr(md5({expr}), 1, 15) AS BIGINT)"


def h60_seeded_sql(seed: int | str, expr: str) -> str:
    return h60_sql(f"'{seed}:' || {expr}")


# MinHash family packing: each seeded md5 yields TWO independent 60-bit
# members (hex chars 1-15 and 17-31 are independent digest bits), so k
# members cost k/2 md5 calls per token occurrence — the md5 IS the
# MinHash hot-loop cost at corpus scale. The members keep the full
# independence of one-md5-per-member; cheaper algebraic families were
# measured and rejected: Kirsch–Mitzenmacher double hashing inflates
# the ≥0.8-estimate candidate set with 17% false positives (true
# Jaccard < 0.5) and a 32-bit-base 2-independent linear family with
# 4.3%, vs 0.6% for independent digest bits on the sf0.01 corpus.


def h60_packed_md5(seed: int, col: F.Column) -> F.Column:
    """The seeded digest string for a member pair (Spark side). Project
    it to a named column BEFORE extracting the two members — inlining
    the md5 into each extraction re-hashes per member."""
    return F.md5(F.concat(F.lit(f"{seed}:"), col))


def h60_packed_member(digest: F.Column, half: int) -> F.Column:
    """Member ``half`` ∈ {0, 1} of a packed digest column."""
    return F.conv(F.substring(digest, 1 + 16 * half, 15), 16, 10).cast("bigint")


def h60_packed_md5_sql(seed: int, expr: str) -> str:
    return f"md5('{seed}:' || {expr})"


def h60_packed_member_sql(digest_expr: str, half: int) -> str:
    return f"CAST('0x' || substr({digest_expr}, {1 + 16 * half}, 15) AS BIGINT)"


def fingerprint_col(text_col: str = "text") -> F.Column:
    """Whitespace-normalized md5 content fingerprint — THE exact-dedup
    key. One definition shared by text.fingerprint, dedup.exact_dedup
    and dedup.dup_rate_report, so a normalization tweak can never make
    them disagree about the 'exact duplicate' universe; the SQL twin is
    ``fingerprint_sql``."""
    return F.md5(F.lower(F.trim(F.regexp_replace(text_col, r"\s+", " "))))


def fingerprint_sql(expr: str = "text") -> str:
    """DuckDB twin of ``fingerprint_col``."""
    return f"md5(lower(trim(regexp_replace({expr}, '\\s+', ' ', 'g'))))"
