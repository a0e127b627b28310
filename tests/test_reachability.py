"""Every public engine function and class has a production caller.

A public top-level `def`/`class` in engine/ must be referenced by name from
engine/, jobs/, tools/, __spark_entry__.py or bench.py somewhere outside
its own definition.  References are collected from the AST (names,
attribute names and `from ... import` names), so a test-only helper left
in the engine fails here instead of silently growing the non-test code.
"""

from __future__ import annotations

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PRODUCTION = [ROOT / "engine", ROOT / "jobs", ROOT / "tools",
              ROOT / "__spark_entry__.py", ROOT / "bench.py"]

# Reached only from tests, kept on purpose.
ALLOWED = {
    # scalar reference forms the oracle and the dedup tests compare the
    # batch simhash path against
    "simhash_for_dedup": "scalar reference form of the batch simhash",
    "to_signed64": "scalar reference form of the batch simhash",
    "bands": "scalar reference form of the batch band split",
    # the documented hook for plugging in a real flac/opus/mp3 backend
    "register_decoder": "audio backend registration hook (CLAUDE.md)",
    # engine/geo.py is the reference's C2 projected midpoint; whether it
    # stays is a roadmap decision, not a dead-code one
    "projected_midpoint_udf": "the reference's C2 midpoint (engine/geo.py)",
}


def _py_files(paths):
    for p in paths:
        yield from (sorted(p.rglob("*.py")) if p.is_dir() else [p])


def _public_defs():
    """-> [(module path, name, first line, last line)]"""
    out = []
    for f in _py_files([ROOT / "engine"]):
        for node in ast.parse(f.read_text()).body:
            if (isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef,
                                  ast.ClassDef))
                    and not node.name.startswith("_")):
                out.append((f, node.name, node.lineno, node.end_lineno))
    return out


def _references():
    """-> {name: [(file, line)]} over every production source."""
    refs: dict[str, list] = {}
    for f in _py_files(PRODUCTION):
        for node in ast.walk(ast.parse(f.read_text())):
            if isinstance(node, ast.Name):
                name = node.id
            elif isinstance(node, ast.Attribute):
                name = node.attr
            elif isinstance(node, ast.alias):
                name = node.name.rsplit(".", 1)[-1]
            else:
                continue
            refs.setdefault(name, []).append((f, node.lineno))
    return refs


def test_every_public_engine_name_has_a_production_caller():
    refs = _references()
    unreached = []
    for f, name, lo, hi in _public_defs():
        outside = [(rf, ln) for rf, ln in refs.get(name, [])
                   if not (rf == f and lo <= ln <= hi)]
        if not outside and name not in ALLOWED:
            unreached.append(f"{f.relative_to(ROOT)}:{lo} {name}")
    assert not unreached, (
        "public engine names with no production caller (delete them, or "
        "allowlist with a reason):\n  " + "\n  ".join(unreached))


def test_allowlist_names_still_exist():
    names = {name for _, name, _, _ in _public_defs()}
    assert set(ALLOWED) <= names, set(ALLOWED) - names
