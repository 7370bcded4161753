"""Source guard: no module of the engine defines the same top-level
function or class twice (a later definition silently shadows the
earlier one for every caller)."""

import ast
import os

PKG = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(
    __file__))), "clickhouse_core_spark")


def test_no_top_level_name_defined_twice():
    dupes = []
    for root, _dirs, files in os.walk(PKG):
        for f in sorted(files):
            if not f.endswith(".py"):
                continue
            path = os.path.join(root, f)
            with open(path) as fh:
                tree = ast.parse(fh.read(), path)
            seen = {}
            for node in tree.body:
                if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef,
                                     ast.ClassDef)):
                    if node.name in seen:
                        dupes.append(f"{os.path.relpath(path, PKG)}: "
                                     f"{node.name} (lines {seen[node.name]}"
                                     f", {node.lineno})")
                    seen.setdefault(node.name, node.lineno)
    assert dupes == []
