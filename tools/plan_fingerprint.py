"""Normalized plan fingerprints for driver-verified queries.

The registry's standing rule: any query whose builder or oracle is
re-planned after its last driver green must leave ``_DRIVER_VERIFIED``
(into ``_REPLANNED_AFTER_GREEN``) so it regrades early. Both sets are
the keys of this tool's two output files (plans/registry.py), so moving
a name means moving its entry between the files. Round 5 argued
ONE scoped exception — a pure JOIN-STRATEGY diff (adding/removing an
``F.broadcast`` hint and nothing else) cannot change result VALUES, so
it does not invalidate a value green. VERDICT r05 item 4 asked for that
argument to become a lint instead of a comment; this module is the
mechanism.

``builder_fingerprint`` hashes the builder function's *normalized* AST
closure:

- ``F.broadcast(x)`` / ``broadcast(x)`` call nodes are replaced by
  their argument, so adding or removing a broadcast hint leaves the
  fingerprint unchanged (the exemption class, now mechanical);
- docstrings are stripped (prose cannot change a plan);
- every in-package module-level function the builder references is
  hashed transitively (a shared-helper edit re-plans every query that
  uses it — exactly the staleness the rule guards against);
- referenced module-level constants (ints/strings/floats/tuples/
  frozensets/dicts) are folded in by repr, so retuning e.g. a band
  count or a k floor invalidates its users;
- the query's oracle SQL is folded in verbatim (the exemption never
  covers oracle edits).

``python tools/plan_fingerprint.py`` rehashes the names already in the
committed baseline
``big_data_2021_spark_streaming_spark/plans/verified_fingerprints.json``
and writes every other registry name to ``pending_fingerprints.json``
beside it. A fold moves the newly green entries from the pending file
to the verified file and then runs the tool; a re-planned verified name
moves the other way. Rerun it on a moved baseline ONLY at fold time, or
after a plan-identity proof (tools/plan_identity.py) plus the oracle
gate show a refactor plan-neutral — never to silence a mid-round
failure. The enforcing test is
``tests/test_plans.py::test_verified_builders_unchanged_since_green``.
"""

from __future__ import annotations

import ast
import hashlib
import inspect
import json
import sys
import textwrap
import types
from pathlib import Path

_BASELINE = (
    Path(__file__).resolve().parent.parent
    / "big_data_2021_spark_streaming_spark"
    / "plans"
    / "verified_fingerprints.json"
)
_PKG = "big_data_2021_spark_streaming_spark"
_CONST_TYPES = (int, float, str, bytes, bool, tuple, frozenset, dict, list, set)


def _is_runtime_cache(name: str) -> bool:
    """Module-level cache dicts (``session._SESSION_CACHE``) are RUNTIME
    state, not plan constants: their contents change as queries execute
    in-session, so hashing them makes the fingerprint depend on test
    order. Excluded by the repo's naming convention; a plan constant
    with non-scalar leaves under any other name raises loudly in
    _checked_repr instead of drifting silently."""
    return name.endswith("_CACHE")


_SCALARS = (int, float, str, bytes, bool, type(None))


def _data_only(val) -> bool:
    if isinstance(val, _SCALARS):
        return True
    if isinstance(val, (list, tuple, set, frozenset)):
        return all(_data_only(v) for v in val)
    if isinstance(val, dict):
        return all(_data_only(k) and _data_only(v) for k, v in val.items())
    return False


def _checked_repr(name: str, val) -> str:
    if not _data_only(val):
        raise TypeError(
            f"constant {name} holds non-data values (runtime objects?) — "
            "keep session state in session.session_cached, or make it "
            "plain data so the plan fingerprint is stable"
        )
    return _stable_repr(val)


def _stable_repr(val) -> str:
    """repr with deterministic ordering for hash-ordered containers.

    ``repr(frozenset({"a", "b"}))`` iterates in string-hash order, which
    varies per process under PYTHONHASHSEED randomization — a fingerprint
    must not.
    """
    if isinstance(val, (set, frozenset)):
        inner = ", ".join(sorted(_stable_repr(v) for v in val))
        return f"{type(val).__name__}({{{inner}}})"
    if isinstance(val, dict):
        inner = ", ".join(
            f"{_stable_repr(k)}: {_stable_repr(v)}"
            for k, v in sorted(val.items(), key=lambda kv: repr(kv[0]))
        )
        return f"{{{inner}}}"
    if isinstance(val, (list, tuple)):
        inner = ", ".join(_stable_repr(v) for v in val)
        return f"[{inner}]" if isinstance(val, list) else f"({inner})"
    return repr(val)


class _StripBroadcast(ast.NodeTransformer):
    """Replace ``F.broadcast(x)`` / ``broadcast(x)`` with ``x``."""

    def visit_Call(self, node: ast.Call) -> ast.AST:
        self.generic_visit(node)
        fn = node.func
        is_broadcast = (
            isinstance(fn, ast.Attribute) and fn.attr == "broadcast"
        ) or (isinstance(fn, ast.Name) and fn.id == "broadcast")
        if is_broadcast and len(node.args) == 1 and not node.keywords:
            return node.args[0]
        return node


def _strip_docstrings(node: ast.AST) -> None:
    for child in ast.walk(node):
        if isinstance(
            child,
            (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef, ast.Module),
        ) and (
            child.body
            and isinstance(child.body[0], ast.Expr)
            and isinstance(child.body[0].value, ast.Constant)
            and isinstance(child.body[0].value.value, str)
        ):
            child.body = child.body[1:] or [ast.Pass()]


def _source_tree(fn: types.FunctionType) -> ast.Module:
    """The parsed source of ``fn``. ``inspect`` slices the file on disk
    by the line numbers recorded at import, so a file edited since then
    can yield a slice that does not parse."""
    try:
        return ast.parse(textwrap.dedent(inspect.getsource(fn)))
    except SyntaxError as e:
        raise RuntimeError(
            f"{inspect.getsourcefile(fn)}: the source of {fn.__qualname__} "
            "no longer parses; the file changed after import, so rerun"
        ) from e


def _normalized_source(tree: ast.Module) -> str:
    tree = _StripBroadcast().visit(tree)
    _strip_docstrings(tree)
    return ast.dump(tree)


def _referenced_names(tree: ast.Module) -> list[str]:
    return sorted({n.id for n in ast.walk(tree) if isinstance(n, ast.Name)})


def _local_imports(fn: types.FunctionType, tree: ast.Module) -> list[object]:
    """Objects bound by ``from X import Y`` statements INSIDE the
    function body. These never appear in module globals, so the
    referenced-name walk alone would miss them — e.g. dedup_semantic's
    function-local ``from .similarity import kmeans_assignments`` is
    precisely the shared-helper edge the staleness rule exists for."""
    import importlib

    out = []
    for node in ast.walk(tree):
        if not isinstance(node, ast.ImportFrom):
            continue
        if node.level:  # relative: resolve against the builder's module
            base = fn.__module__.rsplit(".", node.level)[0]
            mod_name = f"{base}.{node.module}" if node.module else base
        else:
            mod_name = node.module or ""
        if not mod_name.startswith(_PKG):
            continue
        try:
            mod = importlib.import_module(mod_name)
        except ImportError:
            continue
        for alias in node.names:
            val = getattr(mod, alias.name, None)
            if val is not None:
                out.append(val)
    return out


def _unwrap(fn) -> types.FunctionType:
    while True:
        if isinstance(fn, types.FunctionType):
            return fn
        if hasattr(fn, "func"):  # functools.partial
            fn = fn.func
            continue
        if hasattr(fn, "__wrapped__"):
            fn = fn.__wrapped__
            continue
        raise TypeError(f"cannot unwrap builder {fn!r}")


def _in_pkg(val) -> bool:
    return (getattr(val, "__module__", None) or "").startswith(_PKG)


def _closure(build) -> tuple[dict[str, str], list[str]]:
    """One walk of ``build``'s closure: the fingerprint's hashed parts
    and the escape violations (see ``fingerprint_escapes``).

    Each function's normalized source is a part. In-package functions
    are followed through closure cells, referenced names and
    function-local ``from X import Y``; UPPERCASE data constants and
    data closure cells are parts by repr. An in-package module
    referenced by name, or a referenced lowercase module-level data
    constant, is a violation."""
    parts: dict[str, str] = {}
    viol: list[str] = []
    seen: set[str] = set()

    def walk(fn) -> None:
        fn = _unwrap(fn)
        key = f"{fn.__module__}.{fn.__qualname__}"
        if key in seen:
            return
        seen.add(key)
        tree = _source_tree(fn)
        names = _referenced_names(tree)
        imports = _local_imports(fn, tree)
        parts[key] = _normalized_source(tree)
        module = sys.modules.get(fn.__module__)
        if module is None or not fn.__module__.startswith(_PKG):
            return
        # closure cells (builders produced by factory functions) hash by value
        if fn.__closure__:
            for var, cell in zip(
                fn.__code__.co_freevars, fn.__closure__, strict=True
            ):
                try:
                    val = cell.cell_contents
                except ValueError:  # empty cell
                    continue
                if callable(val) and _in_pkg(val):
                    walk(val)
                elif isinstance(val, _CONST_TYPES) and not _is_runtime_cache(var):
                    parts[f"{key}::cell::{var}"] = _checked_repr(var, val)
        for name in names:
            val = getattr(module, name, None)
            if val is None:
                continue
            if isinstance(val, types.ModuleType) and val.__name__.startswith(
                _PKG
            ):
                viol.append(
                    f"{key}: references in-package module {name!r} by "
                    "attribute — invisible to the plan fingerprint; use "
                    "'from ... import name' instead"
                )
            elif isinstance(val, types.FunctionType) and _in_pkg(val):
                walk(val)
            elif isinstance(val, _CONST_TYPES) and not _is_runtime_cache(name):
                if name.isupper():
                    parts[f"{fn.__module__}.{name}"] = _checked_repr(name, val)
                else:
                    viol.append(
                        f"{key}: references lowercase module-level constant "
                        f"{name!r} — invisible to the plan fingerprint; "
                        "rename it UPPERCASE so edits invalidate greens"
                    )
        for val in imports:
            if isinstance(val, types.FunctionType) and _in_pkg(val):
                walk(val)

    walk(build)
    return parts, viol


def fingerprint_escapes(build) -> list[str]:
    """Closure edges the fingerprint CANNOT see (ADVICE r06): an
    in-package module referenced by attribute (``operators.foo(...)``)
    or a referenced lowercase module-level data constant would let an
    edit slip past the staleness lint — the fingerprint only folds in
    bare-Name function references, closure cells, function-local
    ``from X import Y`` edges, and UPPERCASE constants. Rather than
    widening the traversal (attribute roots are unboundedly aliasable),
    the repo bans the escaping patterns outright; this returns the
    violations for the enforcing test."""
    return _closure(build)[1]


def builder_fingerprint(name: str, spec) -> str:
    parts = _closure(spec.build)[0]
    if spec.oracle is not None:
        parts["__oracle__"] = spec.oracle
    blob = json.dumps(parts, sort_keys=True).encode()
    return hashlib.sha256(blob).hexdigest()


def current_fingerprints(only_verified: bool = True) -> dict[str, str]:
    from big_data_2021_spark_streaming_spark.plans.registry import (
        _DRIVER_VERIFIED,
        all_queries,
    )

    out = {}
    for name, spec in all_queries().items():
        if only_verified and name not in _DRIVER_VERIFIED:
            continue
        out[name] = builder_fingerprint(name, spec)
    return dict(sorted(out.items()))


def load_baseline() -> dict[str, str]:
    return json.loads(_BASELINE.read_text())


_PENDING = _BASELINE.with_name("pending_fingerprints.json")


def load_pending() -> dict[str, str]:
    return json.loads(_PENDING.read_text())


def main() -> None:
    sys.path.insert(0, str(_BASELINE.parent.parent.parent))
    fps = current_fingerprints()
    _BASELINE.write_text(json.dumps(fps, indent=1, sort_keys=True) + "\n")
    print(f"wrote {_BASELINE} ({len(fps)} verified queries)")
    # VERDICT r06 item 8: not-yet-verified queries enter the staleness
    # regime from DAY ONE — their fingerprints are recorded here at
    # registration, so the next round's fold can verify the plan the
    # driver graded is the plan being folded. Unlike the verified
    # baseline (regenerate ONLY at fold), this file regenerates with
    # any pre-grade edit — pending queries have no green to protect,
    # the file just pins what the driver will see.
    allfps = current_fingerprints(only_verified=False)
    pend = {n: h for n, h in allfps.items() if n not in fps}
    _PENDING.write_text(json.dumps(pend, indent=1, sort_keys=True) + "\n")
    print(f"wrote {_PENDING} ({len(pend)} pending queries)")


if __name__ == "__main__":
    main()
