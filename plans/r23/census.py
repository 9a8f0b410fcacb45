"""Settable-value census: parameters with a default that no call site passes.

Usage: python census.py ROOT [--list]
Searches the package, perfbench/, tools/, bench.py, __spark_entry__.py, tests/.
A call site matches a def by name (f(...) or x.f(...)); a parameter counts as
passed if any matching call passes it by keyword, by position, or uses *args /
**kwargs. Methods skip `self`/`cls` positionally.
"""
import ast
import sys
from collections import defaultdict
from pathlib import Path

root = Path(sys.argv[1])
files = []
for d in ["big_data_2021_spark_streaming_spark", "perfbench", "tools", "tests"]:
    files += sorted((root / d).rglob("*.py"))
files += [root / "bench.py", root / "__spark_entry__.py"]

defs = []  # (file, qualname, name, [(param, index)], scope-is-package)
calls = defaultdict(list)
for f in files:
    tree = ast.parse(f.read_text())
    for node in ast.walk(tree):
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            a = node.args
            pos = a.posonlyargs + a.args
            is_method = bool(pos) and pos[0].arg in ("self", "cls")
            off = 1 if is_method else 0
            dflt = []
            nd = len(a.defaults)
            for i, p in enumerate(pos[len(pos) - nd:], start=len(pos) - nd):
                dflt.append((p.arg, i - off))
            for p, dv in zip(a.kwonlyargs, a.kw_defaults):
                if dv is not None:
                    dflt.append((p.arg, None))
            if dflt:
                defs.append((f.relative_to(root), node.name, dflt))
        elif isinstance(node, ast.Call):
            fn = node.func
            name = fn.id if isinstance(fn, ast.Name) else (
                fn.attr if isinstance(fn, ast.Attribute) else None)
            if name:
                calls[name].append(node)

pkg = "big_data_2021_spark_streaming_spark"
unset = []
for path, name, dflt in defs:
    if not str(path).startswith(pkg):
        continue
    for p, idx in dflt:
        passed = False
        for c in calls.get(name, []):
            if any(isinstance(x, ast.Starred) for x in c.args):
                passed = True
            if any(k.arg is None or k.arg == p for k in c.keywords):
                passed = True
            if idx is not None and len(c.args) > idx:
                passed = True
            if passed:
                break
        if not passed:
            unset.append(f"{path}::{name}({p})")
print(len(unset))
if "--list" in sys.argv:
    print("\n".join(unset))
