"""Per-key Python state has two entry points, and every operator that
uses them is listed in SCALING.md with the reason no native Spark
operator gives the same emission. An AST scan of the package keeps
that list true without starting Spark."""

from __future__ import annotations

import ast
import os
import re

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = os.path.join(REPO, "flink_tutorial_spark")
ENTRY_POINTS = {"keyed_process", "by_bucket"}
WRAPPERS = {"stateful.keyed_process", "buckets.by_bucket"}


def _calls():
    """(call name, 'module.function') for every call of an entry point
    or of applyInPandasWithState, where function is the top-level def
    that makes it."""
    found = []
    for root, _, files in os.walk(PACKAGE):
        for name in sorted(files):
            if not name.endswith(".py"):
                continue
            path = os.path.join(root, name)
            tree = ast.parse(open(path).read(), path)
            for top in tree.body:
                if not isinstance(top, (ast.FunctionDef, ast.AsyncFunctionDef)):
                    continue
                for node in ast.walk(top):
                    if not isinstance(node, ast.Call):
                        continue
                    f = node.func
                    if isinstance(f, ast.Attribute):
                        called = f.attr
                    else:
                        called = getattr(f, "id", None)
                    if called in ENTRY_POINTS | {"applyInPandasWithState"}:
                        found.append((called, f"{name[:-3]}.{top.name}"))
    return found


def _scaling_table() -> dict:
    """{operator: reason} from the table in SCALING.md's known costs."""
    text = open(os.path.join(REPO, "SCALING.md")).read()
    section = text.split("## Known costs accepted deliberately", 1)[1]
    section = section.split("\n## ", 1)[0]
    rows = re.findall(r"^\| `([\w.]+)` \|(.*)\|\s*$", section, re.M)
    return {op: reason.strip() for op, reason in rows}


def test_apply_in_pandas_with_state_only_in_entry_points():
    sites = {w for called, w in _calls() if called == "applyInPandasWithState"}
    assert sites == WRAPPERS


def test_python_state_operators_match_scaling_table():
    callers = {
        where
        for called, where in _calls()
        if called in ENTRY_POINTS and where not in WRAPPERS
    }
    table = _scaling_table()
    assert callers == set(table), (
        f"not in SCALING.md: {sorted(callers - set(table))}; "
        f"no longer callers: {sorted(set(table) - callers)}"
    )
    assert len(table) == 14
    assert all(table.values()), [op for op, why in table.items() if not why]
