"""Steps with one definition stay spelled once, with no table data: an
AST scan of the package for hand copies of the seeded 60-bit hash, of
the whitespace tokenizer, of the ANN top-k tail, of the PQ codebook
distance, of the edit-1 deletion variant and of the 3-token shingle
explode, and a source scan for copies of two DuckDB oracle steps (the
dense day grid and the LSH near-dup cut). A copy that drifts from its
definition breaks oracle parity (the hash), the shared token contract
(the tokenizer), the neighbor_id tie-break and persisted result set
that the recall reports share (the top-k), the code a vector and a
query agree on (the codebook distance) or the one candidate and gram
set two twin queries share, in one operator only."""

from __future__ import annotations

import ast
import re
from pathlib import Path

PKG = Path(__file__).resolve().parents[1] / "big_data_2021_spark_streaming_spark"

# (module, function) that may spell each step: its one definition
_HASH_HOME = {("functions/hashing.py", "h60")}
_TOKENIZER_HOME = {("operators/text.py", "tokens_col")}
_TOPK_HOME = {("operators/similarity.py", "_rank_topk")}
_BOOK_HOME = {("operators/similarity.py", "_book_dists")}
_DELETION_HOME = {("plans/analytics.py", "_edit1_name_pairs")}
_SHINGLE_HOME = {("operators/text.py", "_token_shingles")}

_DELETION = "substr(c_name, 1, pos - 1)"
_SHINGLE = "transform(sequence(1, size(toks) - 2)"
_DENSE_GRID = "generate_series(d0, d1)) AS day FROM bounds"
# dedup's one near-dup cut, plus curation's two copies that break the
# line before ``>=`` and so render other bytes
_NEAR_CUT = re.compile(
    r"/ \{float\((?:_dedup\.)?NUM_PERM\)\}\s*>= \{(?:_dedup\.)?EST_THRESHOLD\}"
)
_NEAR_CUT_COPIES = 3


def _name(call: ast.AST) -> str | None:
    """``conv`` for ``F.conv(...)`` or ``conv(...)``; None for a non-call."""
    if not isinstance(call, ast.Call):
        return None
    f = call.func
    return f.attr if isinstance(f, ast.Attribute) else getattr(f, "id", None)


def _first_arg(call: ast.Call) -> ast.AST | None:
    return call.args[0] if call.args else None


def _is_md5_hash(node: ast.AST) -> bool:
    """conv(substring(md5(...), ...), ...): the h60 digest-prefix hash."""
    return (
        _name(node) == "conv"
        and _name(sub := _first_arg(node)) == "substring"
        and _name(_first_arg(sub)) == "md5"
    )


def _is_ws_tokenizer(node: ast.AST) -> bool:
    """split(trim(...), r"\\s+"): the whitespace tokenizer."""
    return (
        _name(node) == "split"
        and len(node.args) >= 2
        and _name(node.args[0]) == "trim"
        and isinstance(node.args[1], ast.Constant)
        and node.args[1].value == r"\s+"
    )


def _is_topk_cut(node: ast.AST) -> bool:
    """F.col("rank") <= TOPK: the per-query top-k cut."""
    return (
        isinstance(node, ast.Compare)
        and _name(node.left) == "col"
        and isinstance(arg := _first_arg(node.left), ast.Constant)
        and arg.value == "rank"
        and len(node.ops) == 1
        and isinstance(node.ops[0], ast.LtE)
        and isinstance(node.comparators[0], ast.Name)
        and node.comparators[0].id == "TOPK"
    )


def _is_book_diff(node: ast.AST) -> bool:
    """x - F.col("cq"): a component's distance to a codebook entry."""
    return (
        isinstance(node, ast.BinOp)
        and isinstance(node.op, ast.Sub)
        and _name(node.right) == "col"
        and isinstance(arg := _first_arg(node.right), ast.Constant)
        and arg.value == "cq"
    )


def _spark_expr(needle: str):
    """Matcher for F.expr("...needle..."): a Spark SQL-expression step."""

    def match(node: ast.AST) -> bool:
        return (
            _name(node) == "expr"
            and isinstance(arg := _first_arg(node), ast.Constant)
            and isinstance(arg.value, str)
            and needle in arg.value
        )

    return match


def _source_hits(pattern: re.Pattern) -> list[tuple[str, int]]:
    """(module, line) of every match of ``pattern`` in the package source."""
    hits = []
    for py in sorted(PKG.rglob("*.py")):
        text = py.read_text()
        for m in pattern.finditer(text):
            hits.append(
                (str(py.relative_to(PKG)), text.count("\n", 0, m.start()) + 1)
            )
    return hits


def _spellings(tree: ast.AST, match) -> list[tuple[int, str]]:
    funcs = [
        (n.lineno, n.end_lineno, n.name)
        for n in ast.walk(tree)
        if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef))
    ]
    out = []
    for node in ast.walk(tree):
        if match(node):
            covering = [f for f in funcs if f[0] <= node.lineno <= f[1]]
            out.append((node.lineno, max(covering)[2] if covering else "<module>"))
    return out


def _sites(match) -> set[tuple[str, str]]:
    sites = set()
    for py in sorted(PKG.rglob("*.py")):
        rel = str(py.relative_to(PKG))
        for _, func in _spellings(ast.parse(py.read_text()), match):
            sites.add((rel, func))
    return sites


def test_matchers_pin_what_they_match():
    def hits(src: str, match) -> int:
        return len(_spellings(ast.parse(src), match))

    seeded = 'F.conv(F.substring(F.md5(F.concat(F.lit("s:"), c)), 1, 15), 16, 10)'
    assert hits(seeded, _is_md5_hash)
    assert hits("conv(substring(md5(c), 1, 15), 16, 10)", _is_md5_hash)
    # the packed-member extraction reads a projected digest column
    assert not hits("F.conv(F.substring(digest, 17, 15), 16, 10)", _is_md5_hash)
    assert hits('F.split(F.trim("text"), r"\\s+")', _is_ws_tokenizer)
    assert hits('F.explode(F.split(F.trim(F.col("text")), r"\\s+"))', _is_ws_tokenizer)
    # a newline split of a trimmed file is not the tokenizer
    newline = 'F.element_at(F.split(F.trim("value"), "\\n"), 2)'
    assert not hits(newline, _is_ws_tokenizer)
    assert not hits('F.split("sym", "\\x1f")', _is_ws_tokenizer)
    assert hits('df.where(F.col("rank") <= TOPK)', _is_topk_cut)
    # other cuts with their own sizes: the diverse fused list, the
    # outlier report and bq_topk's Hamming short-list
    assert not hits('F.col("rank") <= DIVERSE_TOPK', _is_topk_cut)
    assert not hits('F.col("rank") <= OUTLIER_TOP', _is_topk_cut)
    assert not hits('F.col("crank") <= BQ_CANDIDATES', _is_topk_cut)
    assert hits('diff = F.col("rq") - F.col("cq")', _is_book_diff)
    # the residual subtracts the IVF centroid component, not a codebook
    assert not hits('(F.col("xq") - F.col("ccq")).alias("xq")', _is_book_diff)
    deletion = _spark_expr(_DELETION)
    assert hits('F.expr("substr(c_name, 1, pos - 1)")', deletion)
    # the DuckDB twin in an oracle f-string is not the Spark step
    assert not hits('f"""SELECT substr(c_name, 1, pos - 1) FROM {t}"""', deletion)
    shingle = (
        'F.expr("transform(sequence(1, size(toks) - 2),"'
        '" i -> concat_ws(\' \', toks[i-1], toks[i], toks[i+1]))")'
    )
    assert hits(shingle, _spark_expr(_SHINGLE))
    assert _NEAR_CUT.search("WHERE ({_MATCHES}) / {float(NUM_PERM)} >= {EST_THRESHOLD}")
    assert _NEAR_CUT.search(
        "WHERE ({_dedup._MATCHES}) / {float(_dedup.NUM_PERM)}\n"
        "              >= {_dedup.EST_THRESHOLD}"
    )
    # the estimate column is not the cut
    assert not _NEAR_CUT.search("({_MATCHES}) / {float(NUM_PERM)} AS est_jaccard")


def test_seeded_hash_is_spelled_only_in_hashing():
    sites = _sites(_is_md5_hash)
    assert sites == _HASH_HOME, (
        "md5-prefix hash spelled outside functions/hashing.py; call "
        f"hashing.h60 / h60_seeded instead: {sorted(sites - _HASH_HOME)}"
    )


def test_whitespace_tokenizer_is_spelled_only_in_tokens_col():
    sites = _sites(_is_ws_tokenizer)
    assert sites == _TOKENIZER_HOME, (
        "whitespace tokenizer spelled outside text.tokens_col; call it "
        f"instead: {sorted(sites - _TOKENIZER_HOME)}"
    )


def test_topk_cut_is_spelled_only_in_rank_topk():
    sites = _sites(_is_topk_cut)
    assert sites == _TOPK_HOME, (
        "per-query top-k cut spelled outside similarity._rank_topk; call "
        f"it instead: {sorted(sites - _TOPK_HOME)}"
    )


def test_codebook_distance_is_spelled_only_in_book_dists():
    sites = _sites(_is_book_diff)
    assert sites == _BOOK_HOME, (
        "codebook distance spelled outside similarity._book_dists; call "
        f"it (or _pq_encode / _adc_table) instead: {sorted(sites - _BOOK_HOME)}"
    )


def test_deletion_variant_is_spelled_only_in_edit1_name_pairs():
    sites = _sites(_spark_expr(_DELETION))
    assert sites == _DELETION_HOME, (
        "edit-1 deletion variant spelled outside analytics._edit1_name_pairs;"
        f" call it instead: {sorted(sites - _DELETION_HOME)}"
    )


def test_token_shingles_are_spelled_only_in_token_shingles():
    sites = _sites(_spark_expr(_SHINGLE))
    assert sites == _SHINGLE_HOME, (
        "3-token shingle explode spelled outside text._token_shingles; call"
        f" it instead: {sorted(sites - _SHINGLE_HOME)}"
    )


def test_oracle_dense_day_grid_is_spelled_once():
    hits = _source_hits(re.compile(re.escape(_DENSE_GRID)))
    assert len(hits) == 1, (
        "dense day grid spelled more than once; paste oracles._DENSE_CTE"
        f" (or _DAILY_DENSE_CTE) instead: {hits}"
    )


def test_oracle_near_dup_cut_is_not_copied():
    hits = _source_hits(_NEAR_CUT)
    assert len(hits) == _NEAR_CUT_COPIES, (
        "LSH near-dup cut spelled again; paste dedup._NEAR_CUT,"
        f" _NEAR_JOIN or _PAIRS_CTE instead: {hits}"
    )
