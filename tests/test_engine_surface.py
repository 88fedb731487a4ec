"""Tripwires on the engine's surface, by AST scan (no Spark session).

One implementation per algorithm: a public function of the algorithm
modules that only tests call is a second implementation waiting to drift
from the one the registry runs, so each must have a caller in the engine
package itself (a registered query, a stream, a pipeline or another engine
function). And the engine imports no MLlib: ``pyspark.ml`` stays a test-only
reference.
"""

from __future__ import annotations

import ast
from pathlib import Path

ENGINE = Path(__file__).resolve().parent.parent / "ecommerce_etl_pipeline_spark"
ALGORITHM_MODULES = (
    "llmops/clustering.py",
    "llmops/similarity.py",
    "operators/graph.py",
    "operators/sampling.py",
)


def _trees() -> dict[str, ast.Module]:
    return {
        str(p.relative_to(ENGINE)): ast.parse(p.read_text(), filename=str(p))
        for p in sorted(ENGINE.rglob("*.py"))
    }


def _referenced_names(node: ast.AST) -> set[str]:
    """Names ``node`` reads: bare names and attribute accesses."""
    out = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Name) and isinstance(n.ctx, ast.Load):
            out.add(n.id)
        elif isinstance(n, ast.Attribute):
            out.add(n.attr)
    return out


def test_every_public_algorithm_function_has_an_engine_caller():
    trees = _trees()
    # (module, top-level def) -> names it reads; a def's reads of its own
    # name (recursion) are not a caller
    reads = {
        (mod, getattr(stmt, "name", None)): _referenced_names(stmt)
        for mod, tree in trees.items()
        for stmt in tree.body
    }
    uncalled = []
    for mod in ALGORITHM_MODULES:
        for stmt in trees[mod].body:
            if not isinstance(stmt, ast.FunctionDef) or stmt.name.startswith("_"):
                continue
            if not any(
                stmt.name in names
                for (m, owner), names in reads.items()
                if (m, owner) != (mod, stmt.name)
            ):
                uncalled.append(f"{mod}::{stmt.name}")
    assert not uncalled, f"public functions with no engine caller: {uncalled}"


def test_engine_imports_no_mllib():
    offenders = []
    for mod, tree in _trees().items():
        for n in ast.walk(tree):
            if isinstance(n, ast.Import):
                names = [a.name for a in n.names]
            elif isinstance(n, ast.ImportFrom) and n.module:
                names = [n.module] + [f"{n.module}.{a.name}" for a in n.names]
            else:
                continue
            if any(x == "pyspark.ml" or x.startswith("pyspark.ml.") for x in names):
                offenders.append(f"{mod}:{n.lineno}")
    assert not offenders, f"engine modules importing pyspark.ml: {offenders}"
