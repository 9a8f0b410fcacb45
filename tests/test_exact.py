"""The exact-arithmetic helpers (``functions/exact.py``), with no table
data: the half-up rule is spelled in that module only, the SQL text the
helpers emit is pinned, and their values on a local session equal an
independent ``fractions.Fraction`` definition."""

from __future__ import annotations

import ast
import re
from decimal import Decimal
from fractions import Fraction
from pathlib import Path

from big_data_2021_spark_streaming_spark.functions.exact import (
    half_up,
    half_up_signed,
)

PKG = Path(__file__).resolve().parents[1] / "big_data_2021_spark_streaming_spark"
EXACT = PKG / "functions" / "exact.py"

# Spark's half-up division (2·a + b) div (2·b): a `div` by a doubled
# operand, by (200 * n), or by a literal that was doubled by hand
# (div 20000). Floor halves such as the midpoint rank `(n + 1) div 2`
# do not match, and the DuckDB oracles spell the rule with `//`.
_HALF_UP_DIV = re.compile(
    r"\bdiv\s*\(\s*(?:[24]\s*\*|200)|\bdiv\s+2\d*0\b", re.IGNORECASE
)
# The second spelling of the same rule: (x + h) div d with a literal
# addend h of exactly half a literal divisor d, as in
# (rev_micro + 5000) div 10000. The ceil forms (n + 99) div 100 add
# d - 1, and d = 2 is the midpoint rank (n + 1) div 2 above.
_ADDEND_DIV = re.compile(r"\+\s*(\d+)\s*\)\s*div\s+(\d+)\b", re.IGNORECASE)


def _spells_half_up(s: str) -> bool:
    return bool(_HALF_UP_DIV.search(s)) or any(
        2 * int(h) == int(d) > 2 for h, d in _ADDEND_DIV.findall(s)
    )



def _code_strings(tree: ast.AST):
    """Every string constant in the module except docstrings (prose),
    with the name of the function that holds it."""
    docstrings = {
        id(node.body[0].value)
        for node in ast.walk(tree)
        if isinstance(
            node, (ast.Module, ast.ClassDef, ast.FunctionDef, ast.AsyncFunctionDef)
        )
        and node.body
        and isinstance(node.body[0], ast.Expr)
        and isinstance(node.body[0].value, ast.Constant)
    }
    funcs = [
        (n.lineno, n.end_lineno, n.name)
        for n in ast.walk(tree)
        if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef))
    ]
    for node in ast.walk(tree):
        if (
            isinstance(node, ast.Constant)
            and isinstance(node.value, str)
            and id(node) not in docstrings
        ):
            covering = [f for f in funcs if f[0] <= node.lineno <= f[1]]
            func = max(covering)[2] if covering else "<module>"
            yield node.lineno, func, node.value


def test_lint_pattern_matches_hand_spelled_half_up():
    for spelled in (
        "(2 * n_inter * 1000000 + n_union) div (2 * n_union)",
        "(2 * (S) + 10000) div 20000 / 100.0D",
        "(2 * s_us + 100 * n_gaps) div (200 * n_gaps)",
        " div (4 * n1 * n2) END",
        "(2 * m_trailing + 100) div 200",
        "(rev_micro + 5000) div 10000",
        "(v + 5000) div 10000",
        "(x+50)div 100",
    ):
        assert _spells_half_up(spelled), spelled
    for other in (
        "(n + 1) div 2",
        "us div 1000000",
        "int(((m - _mn) * 1024) div ((_mx - _mn) + 1))",
        "(2 * a * 1000000 + b) // (2 * b)",
        "(q * n + 99) div 100",
        "pos <= n - ((800000 * n + 999999) div 1000000) + 1",
        "(9 * n + 9) div 10",
        "(x + 5000) // 10000",
    ):
        assert not _spells_half_up(other), other


def test_half_up_division_is_spelled_only_in_exact():
    hits = [
        f"{py.relative_to(PKG)}:{lineno} ({func}): {s.strip()[:80]}"
        for py in sorted(PKG.rglob("*.py"))
        if py != EXACT
        for lineno, func, s in _code_strings(ast.parse(py.read_text()))
        if _spells_half_up(s)
    ]
    assert not hits, (
        "half-up division spelled outside functions/exact.py; call "
        "exact.half_up / half_up_signed instead:\n" + "\n".join(hits)
    )


def test_helpers_splice_operands_verbatim():
    assert (
        half_up("n_inter * 1000000", "n_union")
        == "(2 * n_inter * 1000000 + n_union) div (2 * n_union)"
    )
    assert (
        half_up("(n_a - n_b) * 1000000", "(n_a + n_b - n_inter)")
        == "(2 * (n_a - n_b) * 1000000 + (n_a + n_b - n_inter))"
        " div (2 * (n_a + n_b - n_inter))"
    )
    assert half_up("(s)", "10000") == "(2 * (s) + 10000) div 20000"
    assert half_up_signed("x", "n") == (
        "case when x >= 0 then (2 * x + n) div (2 * n)"
        " else -((-2 * x + n) div (2 * n)) end"
    )


def _half_up(a: int, b: int) -> int:
    return int((Fraction(a, b) + Fraction(1, 2)).__floor__())


def _half_away(a: int, b: int) -> int:
    return _half_up(a, b) if a >= 0 else -_half_up(-a, b)


def test_helper_values_match_fraction(spark):
    # a tie past the BIGINT range (the quotient itself fits a BIGINT)
    big = 10**12 * 14_000_000 + 7_000_000
    assert big > 2**63
    cases = [
        (1, 2),  # positive tie rounds up
        (5, 2),
        (7, 3),
        (0, 9),  # zero numerator
        (-1, 2),  # negative ties round away from zero (signed helper)
        (-5, 2),
        (-7, 3),
        (big, 14_000_000),
        (-big, 14_000_000),
        (big - 1, 14_000_000),
        (5_000, 10_000),  # ties of (x + 5000) div 10000
        (-5_000, 10_000),
        (-15_000, 10_000),
    ]
    df = spark.createDataFrame(
        [(i, Decimal(a), b) for i, (a, b) in enumerate(cases)],
        "i int, a decimal(38,0), b bigint",
    )
    rows = df.selectExpr(
        "i",
        f"{half_up('a', 'b')} as up",
        f"{half_up_signed('a', 'b')} as away",
        # the hand spellings the lint rejects equal the helper for
        # either sign: a halved literal addend, and adding b but
        # dividing by its decimal cast
        f"{half_up('a', '10000')} as up_lit",
        "(a + 5000) div 10000 as hand_lit",
        f"{half_up('a', 'cast(b as decimal(38,0))')} as up_cast",
        "(2 * a + b) div (2 * cast(b as decimal(38,0))) as hand_cast",
    ).orderBy("i").collect()
    for (a, b), r in zip(cases, rows):
        assert r.away == _half_away(a, b), (a, b)
        assert r.up_lit == r.hand_lit, (a, b)
        assert r.up_cast == r.hand_cast == r.up, (a, b)
        if a >= 0:
            assert r.up == _half_up(a, b), (a, b)
            assert r.up_lit == _half_up(a, 10_000), (a, b)
