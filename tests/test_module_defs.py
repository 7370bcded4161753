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


def test_no_top_level_name_bound_twice_to_one_literal():
    """A top-level name bound to the same literal twice, in one module
    or in two, is a copy that can drift: bind it once and import it.
    Empty and zero values (a module's fresh cache or counter) copy
    nothing and are left out."""
    seen, dupes = {}, []
    for root, _dirs, files in os.walk(PKG):
        for f in sorted(files):
            if not f.endswith(".py"):
                continue
            path = os.path.join(root, f)
            with open(path) as fh:
                tree = ast.parse(fh.read(), path)
            for node in tree.body:
                if isinstance(node, ast.Assign) and len(node.targets) == 1:
                    target, value = node.targets[0], node.value
                elif isinstance(node, ast.AnnAssign) and node.value:
                    target, value = node.target, node.value
                else:
                    continue
                if not isinstance(target, ast.Name):
                    continue
                try:
                    lit = ast.literal_eval(value)
                except ValueError:
                    continue
                if not lit:
                    continue
                key = (target.id, repr(lit))
                where = f"{os.path.relpath(path, PKG)}:{node.lineno}"
                if key in seen:
                    dupes.append(f"{target.id}: {seen[key]}, {where}")
                seen.setdefault(key, where)
    assert dupes == []
