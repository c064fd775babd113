"""Knob-creep guard: the package reads a fixed set of ``SPARK_GRAFT_*``
environment variables.  Each one is a configuration that tests and the
benchmark must cover, so a new env switch has to change this set on
purpose (physical-tier choices come from the data, and tests force a
tier by patching the module constant that decides it)."""

from __future__ import annotations

import ast
from pathlib import Path

PKG = Path(__file__).resolve().parent.parent / "ab_metadata_pusher_spark"

ALLOWED = {"SPARK_GRAFT_CPUS", "SPARK_GRAFT_DRIVER_MEM"}


def _is_os(node: ast.AST, attr: str) -> bool:
    return (isinstance(node, ast.Attribute) and node.attr == attr
            and isinstance(node.value, ast.Name) and node.value.id == "os")


def _env_keys(tree: ast.AST):
    """Key expression of every ``os.environ``/``os.getenv`` read."""
    for node in ast.walk(tree):
        if isinstance(node, ast.Call) and node.args:
            f = node.func
            if _is_os(f, "getenv") or (
                    isinstance(f, ast.Attribute)
                    and f.attr in ("get", "pop", "setdefault")
                    and _is_os(f.value, "environ")):
                yield node.args[0]
        elif isinstance(node, ast.Subscript) and _is_os(node.value,
                                                        "environ"):
            yield node.slice
        elif isinstance(node, ast.Compare) and any(
                _is_os(c, "environ") for c in node.comparators):
            yield node.left


def _string_constants(trees) -> dict[str, str]:
    """Module-level ``NAME = "literal"`` bindings across the package, so
    a read through a named constant resolves to its variable name."""
    out = {}
    for tree in trees:
        for node in tree.body:
            if (isinstance(node, ast.Assign)
                    and isinstance(node.value, ast.Constant)
                    and isinstance(node.value.value, str)):
                for t in node.targets:
                    if isinstance(t, ast.Name):
                        out[t.id] = node.value.value
    return out


def test_spark_graft_env_reads_are_exactly_the_allowed_set():
    trees = [ast.parse(p.read_text(), str(p))
             for p in sorted(PKG.rglob("*.py"))]
    consts = _string_constants(trees)
    read = set()
    for tree in trees:
        for key in _env_keys(tree):
            if isinstance(key, ast.Constant):
                name = key.value
            elif isinstance(key, ast.Name):
                name = consts.get(key.id)
            elif isinstance(key, ast.Attribute):
                name = consts.get(key.attr)
            else:
                name = None
            if isinstance(name, str) and name.startswith("SPARK_GRAFT_"):
                read.add(name)
    assert read == ALLOWED
