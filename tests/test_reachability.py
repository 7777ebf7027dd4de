"""Reachability census: every top-level engine definition must be reached
from production code, so code that only tests call cannot grow back.

Static, stdlib ``ast`` only; no Spark session.

* Nodes: top-level ``def``/``class`` statements in ``etl_inreach_spark/``.
* Roots: ``@query``-decorated functions; module-level statements other than
  def, class or import, plus the re-exports in ``__init__.py``; every name
  used in ``bench.py``, ``__spark_entry__.py``, ``tools/*.py`` and non-test
  ``perfbench/*.py``.
* Edges: a ``Name``, ``Attribute`` or import alias inside a reached node
  reaches every engine definition with that name.

Matching by name over-approximates reachability, so it can only miss dead
code; it never flags live code.
"""

from __future__ import annotations

import ast
import glob
import os

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ENGINE = "etl_inreach_spark"

# Unreached by production on purpose: tests compare production code
# against these references.
KEPT_REFERENCES = {
    # tests/test_nb_quality.py::test_ilog2_fp_spark_matches_python_replica
    # pins the fixed-point log2 column expression against it.
    ("etl_inreach_spark/operators/nb_quality.py", "ilog2_fp_py"),
    # tests/test_geojson_post.py and tests/test_kml_pipeline.py parse the
    # posted FeatureCollection documents with it.
    ("etl_inreach_spark/sinks/geojson.py", "parse_feature_collection"),
    # tests/test_dedup.py::test_agg_and_window_agree_on_events checks the
    # max_by aggregation form against this window form.
    ("etl_inreach_spark/operators/dedup.py", "latest_by_key_window"),
}

_DEFS = (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)
_IMPORTS = (ast.Import, ast.ImportFrom)


def _names(tree: ast.AST) -> set[str]:
    """Every identifier a subtree uses: names, attributes, import aliases."""
    out: set[str] = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.Name):
            out.add(node.id)
        elif isinstance(node, ast.Attribute):
            out.add(node.attr)
        elif isinstance(node, ast.alias):
            out.update(node.name.split("."))
    return out


def _is_query(fn: ast.AST) -> bool:
    for deco in getattr(fn, "decorator_list", ()):
        target = deco.func if isinstance(deco, ast.Call) else deco
        name = target.attr if isinstance(target, ast.Attribute) else getattr(target, "id", None)
        if name == "query":
            return True
    return False


def _parse(path: str) -> ast.Module:
    with open(path, encoding="utf-8") as fh:
        return ast.parse(fh.read(), filename=path)


def unreached() -> list[tuple[str, int, str]]:
    """``(relpath, line, name)`` of every engine definition no root reaches."""
    by_name: dict[str, list[tuple[str, int, str]]] = {}
    nodes: dict[tuple[str, int, str], ast.AST] = {}
    frontier: list[ast.AST] = []
    for path in sorted(glob.glob(os.path.join(REPO, ENGINE, "**", "*.py"), recursive=True)):
        rel = os.path.relpath(path, REPO).replace(os.sep, "/")
        for stmt in _parse(path).body:
            if isinstance(stmt, _DEFS):
                key = (rel, stmt.lineno, stmt.name)
                nodes[key] = stmt
                by_name.setdefault(stmt.name, []).append(key)
            elif not isinstance(stmt, _IMPORTS) or rel.endswith("__init__.py"):
                frontier.append(stmt)
    reached = {key for key, stmt in nodes.items() if _is_query(stmt)}
    frontier += [nodes[key] for key in reached]
    for pattern in ("bench.py", "__spark_entry__.py", "tools/*.py", "perfbench/*.py"):
        frontier += [_parse(path) for path in sorted(glob.glob(os.path.join(REPO, pattern)))]

    while frontier:
        for name in _names(frontier.pop()):
            for key in by_name.get(name, ()):
                if key not in reached:
                    reached.add(key)
                    frontier.append(nodes[key])
    return sorted(set(nodes) - reached)


def test_only_kept_references_are_unreached():
    found = unreached()
    new = [f"{rel}:{line} {name}" for rel, line, name in found if (rel, name) not in KEPT_REFERENCES]
    assert not new, "engine definitions only tests reach:\n" + "\n".join(new)
    # a kept reference that production now reaches leaves the allow-list
    assert {(rel, name) for rel, _, name in found} == KEPT_REFERENCES
