"""Exact arithmetic: the one Spark-side definition of the rounding policy.

Every displayed sum, mean and ratio the registry hash-compares against
its DuckDB oracle is computed on exact integers and rounded ONCE, by a
half-up integer division:

    round_half_up(a / b) = (2·a + b) div (2·b)      for a ≥ 0, b > 0

A numerator of either sign rounds half away from zero (what both
engines' ROUND do) through a sign CASE around the same division, since
``div`` truncates toward zero.

The helpers build Spark SQL text. Operands are spliced verbatim:
``half_up("n_inter * 1000000", "n_union")`` is
``(2 * n_inter * 1000000 + n_union) div (2 * n_union)``, so a caller
that passes its operands as it spelled them keeps the parsed expression
tree, and with it the physical plan. An operand that binds looser than
``*`` (a sum, a difference, a comparison) must come parenthesized. A
literal integer divisor is doubled in Python (``div 20000``, not
``div (2 * 10000)``): that is how the rule was spelled by hand, and
inside a pivot aggregate the unfolded form plans differently.

The DuckDB oracles mirror the rule with ``//`` (plans/oracles.py and
each module's ``ORACLES``), with operands kept non-negative or behind
the same sign CASE, so DuckDB's floor equals Spark's truncation. They
are the reference the gate compares against, so they stay a separate
copy.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Window


def _twice(den: str) -> str:
    return str(2 * int(den)) if den.isdigit() else f"(2 * {den})"


def half_up(num: str, den: str) -> str:
    """SQL: ``round_half_up(num / den)`` for ``num >= 0``, ``den > 0``."""
    return f"(2 * {num} + {den}) div {_twice(den)}"


def half_up_signed(num: str, den: str) -> str:
    """SQL: ``num / den`` rounded half away from zero, ``den > 0``."""
    return (
        f"case when {num} >= 0 then {half_up(num, den)}"
        f" else -((-2 * {num} + {den}) div {_twice(den)}) end"
    )


# ---------------------------------------------------------------------------
# Displayed aggregates. ROUND(SUM(double)) is partition-order-dependent
# in the last ulp, and the final ROUND itself diverges cross-engine on
# .xx5 boundaries (Spark rounds the shortest decimal repr of the double,
# DuckDB the raw binary value) — the sf0.4 sweep flipped five queries
# this way. So every displayed SUM/AVG/ratio of a ≤6-decimal double
# rides an exact micro-unit integer sum (the per-row ×1e6 product is ONE
# shared IEEE op; the DECIMAL(38,0) accumulator cannot overflow at any
# realistic corpus) with half-up INTEGER division down to the display
# precision, then one exact /10^k.
# ---------------------------------------------------------------------------


def sum_m6(expr: str) -> str:
    """SQL: exact 1e-6-unit sum of a ≤6dp double expr, decimal(38,0)-
    typed but accumulated as TWO BIGINT sums (hi = x div 1e6, lo =
    x % 1e6; x ≡ hi·1e6 + lo exactly for either sign, so Σx =
    1e6·Σhi + Σlo). Per-row work stays on primitive longs inside
    whole-stage codegen — a straight decimal(38,0) sum runs ~3× slower
    through the non-primitive aggregation buffer — and the decimal
    recombination happens once per GROUP. Σhi is dollars-scaled and
    Σlo < rows·1e6, so both partials sit far inside int64 at any
    realistic corpus while the recombined total gets decimal range."""
    x = f"cast(round(({expr}) * 1000000) as bigint)"
    return (
        f"(cast(sum({x} div 1000000) as decimal(38,0)) * 1000000"
        f" + sum({x} % 1000000))"
    )


def cents(sum_sql: str) -> str:
    """SQL: half-up 2-decimal display of a non-negative micro sum."""
    return f"{half_up(f'({sum_sql})', '10000')} / 100.0D"


def cents_signed(sum_sql: str) -> str:
    """Sign-aware 2-decimal display of a micro sum that can be negative
    (acctbal)."""
    return f"({half_up_signed(f'({sum_sql})', '10000')}) / 100.0D"


def avg6(sum_sql: str, n_sql: str = "count(1)") -> str:
    """SQL: half-up 6-decimal display of mean = micro sum / count."""
    return f"{half_up(f'({sum_sql})', f'({n_sql})')} / 1000000.0D"


def ratio6(num_sql: str, den_sql: str) -> str:
    """SQL: half-up 6-decimal display of a non-negative ratio."""
    return f"{half_up(f'({num_sql}) * 1000000', f'({den_sql})')} / 1000000.0D"


RFM_BANDS = 1024


def exact_global_rank(df: DataFrame, metric: str, tiebreak: str, out: str) -> DataFrame:
    """Exact global dense row-number by (metric, tiebreak) WITHOUT a
    single-partition sort: deterministic arithmetic value-bands (a pure
    function of the value, so ties never straddle bands), row_number
    within each band, then band offsets from a ≤RFM_BANDS-row cumsum
    broadcast back — the same two-phase prefix shape as
    ``peak_concurrent_sessions``. Integer metrics only."""
    ext = df.agg(
        F.max(metric).alias("_mx"), F.min(metric).alias("_mn")
    )
    banded = df.crossJoin(F.broadcast(ext)).withColumn(
        "_band",
        F.expr(
            f"int((({metric} - _mn) * {RFM_BANDS}) div ((_mx - _mn) + 1))"
        ),
    )
    w_in = Window.partitionBy("_band").orderBy(metric, tiebreak)
    ranked = banded.withColumn("_r_in", F.row_number().over(w_in))
    w_off = Window.orderBy("_band").rowsBetween(Window.unboundedPreceding, -1)
    # band sizes come from the PRE-window frame so the expensive
    # windowed lineage is referenced exactly once downstream
    offs = (
        banded.groupBy("_band")
        .agg(F.count(F.lit(1)).alias("_c"))
        .select(
            "_band",
            F.coalesce(F.sum("_c").over(w_off), F.lit(0)).alias("_off"),
        )
    )
    return (
        ranked.join(F.broadcast(offs), "_band")
        .withColumn(out, (F.col("_off") + F.col("_r_in")).cast("bigint"))
        .drop("_band", "_r_in", "_mx", "_mn", "_off")
    )
