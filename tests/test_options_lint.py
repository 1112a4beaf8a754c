"""Lint: every option of a package helper is set by some caller.

A defaulted parameter that no call passes is a knob nobody turns: its
default is a constant in disguise, and each one is a settable value a
reader has to account for.  For every module-level function in
``un_datapipeline_spark/`` except registered operators (their signature
is the driver's ``(spark, sf_dir)``), each defaulted parameter must be
passed — by keyword, by position, or through ``*args``/``**kwargs`` — by
at least one call somewhere in the repo's Python.  Calls are matched by
function name, so a same-named method call counts too (the lint can miss
a dead option, never flag a live one).  Methods are out of scope.
"""

from __future__ import annotations

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
PKG = ROOT / "un_datapipeline_spark"


def _python_files():
    for p in ROOT.rglob("*.py"):
        parts = p.relative_to(ROOT).parts
        if not any(part.startswith(".") or part == "spark-warehouse" for part in parts):
            yield p


def _is_registered(fn: ast.FunctionDef) -> bool:
    for d in fn.decorator_list:
        target = d.func if isinstance(d, ast.Call) else d
        if getattr(target, "id", getattr(target, "attr", None)) == "register":
            return True
    return False


def _options(fn: ast.FunctionDef):
    """(position or None, name) of each defaulted parameter."""
    a = fn.args
    pos = a.posonlyargs + a.args
    first = len(pos) - len(a.defaults)
    yield from ((i, pos[i].arg) for i in range(first, len(pos)))
    yield from ((None, k.arg) for k, d in zip(a.kwonlyargs, a.kw_defaults) if d is not None)


def _passes(call: ast.Call, pos, name: str) -> bool:
    if any(k.arg in (name, None) for k in call.keywords):
        return True
    if pos is None:
        return False
    return pos < len(call.args) or any(isinstance(x, ast.Starred) for x in call.args)


def never_passed() -> list[str]:
    trees = {p: ast.parse(p.read_text()) for p in _python_files()}
    calls: dict[str, list[ast.Call]] = {}
    for tree in trees.values():
        for node in ast.walk(tree):
            if isinstance(node, ast.Call):
                f = node.func
                name = f.id if isinstance(f, ast.Name) else getattr(f, "attr", None)
                if name:
                    calls.setdefault(name, []).append(node)
    dead = []
    for path, tree in trees.items():
        if PKG not in path.parents:
            continue
        for fn in tree.body:
            if not isinstance(fn, ast.FunctionDef) or _is_registered(fn):
                continue
            for pos, name in _options(fn):
                if not any(_passes(c, pos, name) for c in calls.get(fn.name, [])):
                    dead.append(f"{path.relative_to(ROOT)}:{fn.lineno} {fn.name}({name}=)")
    return dead


def test_every_helper_option_is_passed_somewhere():
    dead = never_passed()
    assert not dead, (
        f"{len(dead)} defaulted parameter(s) no call passes; make each a "
        "constant in the function body:\n" + "\n".join(dead)
    )
