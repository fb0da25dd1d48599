"""Every defaulted parameter of the engine is set by some caller.

A defaulted parameter that no call passes is one value dressed up as a
setting: it should be the module constant or derived value it stands
for.  This Spark-free scan collects the defaulted parameters of the
module-level functions under ``sdg_engine/`` and every call in the
repo's Python files, matched by function name (``f(...)`` and
``x.f(...)`` alike).  A call sets a parameter if it passes it by
keyword, by position, or through ``*args`` / ``**kwargs``.
"""

from __future__ import annotations

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]

# function.parameter -> why it stays although no call sets it
ALLOWED = {
    "check_all.only": "operator filter for running a subset of the "
                      "parity check by hand",
    "fixture_dir.base": "a path: the fixture cache location, next to "
                        "the package by default",
}


def _py_files() -> list[Path]:
    files = sorted(ROOT.glob("*.py"))
    for d in ("sdg_engine", "scripts", "perfbench", "tests"):
        files += sorted((ROOT / d).rglob("*.py"))
    return files


def _defaulted() -> list[tuple[str, str, int | None]]:
    """(function, parameter, position or None if keyword-only)."""
    out = []
    for f in sorted((ROOT / "sdg_engine").rglob("*.py")):
        for node in ast.parse(f.read_text()).body:
            if not isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                continue
            a = node.args
            pos = a.posonlyargs + a.args
            first = len(pos) - len(a.defaults)
            out += [(node.name, p.arg, i) for i, p in enumerate(pos)
                    if i >= first]
            out += [(node.name, p.arg, None)
                    for p, d in zip(a.kwonlyargs, a.kw_defaults)
                    if d is not None]
    return out


def _calls() -> dict[str, list[ast.Call]]:
    by_name: dict[str, list[ast.Call]] = {}
    for f in _py_files():
        for node in ast.walk(ast.parse(f.read_text())):
            if not isinstance(node, ast.Call):
                continue
            fn = node.func
            name = (fn.id if isinstance(fn, ast.Name)
                    else fn.attr if isinstance(fn, ast.Attribute) else None)
            if name:
                by_name.setdefault(name, []).append(node)
    return by_name


def _sets(call: ast.Call, param: str, pos: int | None) -> bool:
    if any(k.arg in (param, None) for k in call.keywords):
        return True  # by keyword, or through **kwargs
    if pos is None:
        return False
    for i, arg in enumerate(call.args):
        if i > pos:
            break
        if i == pos or isinstance(arg, ast.Starred):
            return True  # by position, or through *args
    return False


def test_every_defaulted_parameter_has_a_caller_that_sets_it():
    calls = _calls()
    unset = [
        f"{fn}.{p}"
        for fn, p, pos in _defaulted()
        if not any(_sets(c, p, pos) for c in calls.get(fn, []))
    ]
    extra = sorted(set(unset) - set(ALLOWED))
    assert not extra, (
        f"{len(extra)} defaulted parameters that no call sets; make each "
        "the constant or derived value it stands for:\n  "
        + "\n  ".join(extra)
    )
    stale = sorted(set(ALLOWED) - set(unset))
    assert not stale, f"allowlist entries that a call now sets: {stale}"
