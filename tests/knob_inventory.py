"""Inventory of branch-selecting switches that no caller sets.

    python tests/knob_inventory.py [tree]

Static (AST only, no Spark).  For every top-level function of the
package outside ``plans/``, a row for each parameter that

  - has a default,
  - is read in the test of an ``if`` statement or a conditional
    expression anywhere in the function's body (nested functions
    included), and
  - is passed a value other than its default by no call in the package
    (``plans/`` included), ``bench.py`` or ``__spark_entry__.py``.

Each row names the test functions that do pass it.  Such a parameter
picks a code path that only tests (or nobody) run: a candidate for
deletion, or a reference-parity feature that a test pins on purpose.

A second listing names the mirror case: a defaulted, branch-selecting
parameter that every such call passes, each with a value other than
its default (and at least one call exists).  There the default's
branch is the one that only tests (or nobody) run: a candidate for a
required parameter and for deleting that branch.

Calls are matched by function name (``f(...)`` and ``m.f(...)``), so
a call to any same-named function counts for all of them.  A call
passes a parameter when it names it as a keyword or reaches its
position, with any expression other than the default's own text; a
``*args`` / ``**kwargs`` splat counts as passing every parameter in
the first listing and as maybe passing the default in the second.
Both rules err towards listing fewer rows.
"""

from __future__ import annotations

import ast
import os
import sys
from collections import defaultdict

PACKAGE = "hadoop_3_3_6_spark"
CALLER_FILES = ("bench.py", "__spark_entry__.py")


def _py_files(root: str) -> list[str]:
    out = []
    for dirpath, dirnames, filenames in os.walk(root):
        dirnames[:] = sorted(d for d in dirnames if d != "__pycache__")
        out.extend(os.path.join(dirpath, f) for f in sorted(filenames) if f.endswith(".py"))
    return out


def _parse(path: str) -> ast.Module:
    with open(path, encoding="utf-8") as fh:
        return ast.parse(fh.read(), path)


def _knobs(fn: ast.FunctionDef) -> list[tuple[str, int | None, ast.expr]]:
    """(name, position, default) of the defaulted parameters read in a
    branch test; position is None for keyword-only parameters."""
    args = fn.args
    positional = args.posonlyargs + args.args
    first = len(positional) - len(args.defaults)
    defaulted = {
        a.arg: (first + i, d) for i, (a, d) in enumerate(zip(positional[first:], args.defaults))
    }
    defaulted.update(
        {a.arg: (None, d) for a, d in zip(args.kwonlyargs, args.kw_defaults) if d is not None}
    )
    tested = set()
    for node in ast.walk(fn):
        if isinstance(node, (ast.If, ast.IfExp)):
            tested.update(n.id for n in ast.walk(node.test) if isinstance(n, ast.Name))
    return [(name, pos, d) for name, (pos, d) in defaulted.items() if name in tested]


def _callee(call: ast.Call) -> str | None:
    if isinstance(call.func, ast.Name):
        return call.func.id
    if isinstance(call.func, ast.Attribute):
        return call.func.attr
    return None


def _splat(call: ast.Call) -> bool:
    return any(isinstance(a, ast.Starred) for a in call.args) or any(
        k.arg is None for k in call.keywords
    )


def _values(call: ast.Call, name: str, pos: int | None) -> list[ast.expr]:
    values = [k.value for k in call.keywords if k.arg == name]
    if pos is not None and pos < len(call.args):
        values.append(call.args[pos])
    return values


def _passes(call: ast.Call, name: str, pos: int | None, default: ast.expr) -> bool:
    """Whether ``call`` passes parameter ``name`` a non-default value."""
    if _splat(call):
        return True
    return any(ast.dump(v) != ast.dump(default) for v in _values(call, name, pos))


def _always_passes(call: ast.Call, name: str, pos: int | None, default: ast.expr) -> bool:
    """Whether ``call`` surely passes parameter ``name`` a non-default value."""
    values = _values(call, name, pos)
    return not _splat(call) and bool(values) and all(
        ast.dump(v) != ast.dump(default) for v in values
    )


def _calls(tree: ast.Module):
    """(enclosing top-level name, call) for every call in ``tree``."""
    for top in tree.body:
        owner = getattr(top, "name", f"line {top.lineno}")
        for node in ast.walk(top):
            if isinstance(node, ast.Call):
                yield owner, node


def inventory(tree_root: str, mirror: bool = False) -> list[dict]:
    """The switches no non-test call sets; with ``mirror``, those every
    non-test call sets."""
    pkg = os.path.join(tree_root, PACKAGE)
    pkg_files = _py_files(pkg)
    parsed = {p: _parse(p) for p in pkg_files}
    callers = list(parsed.items()) + [
        (p, _parse(p)) for p in (os.path.join(tree_root, f) for f in CALLER_FILES) if os.path.exists(p)
    ]
    test_dir = os.path.join(tree_root, "tests")
    tests = [(p, _parse(p)) for p in _py_files(test_dir) if os.path.basename(p).startswith("test_")]

    calls_by_name = defaultdict(list)
    for _, tree in callers:
        for _, call in _calls(tree):
            calls_by_name[_callee(call)].append(call)
    test_calls_by_name = defaultdict(list)
    for path, tree in tests:
        rel = os.path.relpath(path, tree_root)
        for owner, call in _calls(tree):
            test_calls_by_name[_callee(call)].append((f"{rel}::{owner}", call))

    rows = []
    for path, tree in parsed.items():
        rel = os.path.relpath(path, tree_root)
        if rel.startswith(os.path.join(PACKAGE, "plans") + os.sep):
            continue
        for fn in tree.body:
            if not isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef)):
                continue
            for name, pos, default in _knobs(fn):
                calls, tests = calls_by_name[fn.name], test_calls_by_name[fn.name]
                if mirror:
                    if not calls or not all(_always_passes(c, name, pos, default) for c in calls):
                        continue
                    set_by = {t for t, c in tests if not _always_passes(c, name, pos, default)}
                else:
                    if any(_passes(c, name, pos, default) for c in calls):
                        continue
                    set_by = {t for t, c in tests if _passes(c, name, pos, default)}
                rows.append({
                    "where": f"{rel}:{fn.lineno}",
                    "function": fn.name,
                    "param": f"{name}={ast.unparse(default)}",
                    "tests": sorted(set_by),
                })
    return rows


def main(argv: list[str]) -> int:
    root = os.path.realpath(argv[1] if len(argv) > 1 else os.getcwd())
    rows = inventory(root)
    for r in rows:
        tests = ", ".join(r["tests"]) or "no test"
        print(f"{r['where']}  {r['function']}({r['param']})  set by: {tests}")
    print(f"{len(rows)} defaulted branch switches that no non-test caller sets")
    mirror = inventory(root, mirror=True)
    for r in mirror:
        tests = ", ".join(r["tests"]) or "no test"
        print(f"{r['where']}  {r['function']}({r['param']})  default left by: {tests}")
    print(f"{len(mirror)} defaulted branch switches that every non-test caller sets")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
