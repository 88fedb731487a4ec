"""The one cache owner (operators/caches.py): a scope releases exactly the
frames persisted inside it, and no engine module persists a frame any
other way."""

from __future__ import annotations

import ast
import contextvars
import pathlib

import pytest
from pyspark import StorageLevel

from ecommerce_etl_pipeline_spark.operators import caches

ENGINE = pathlib.Path(caches.__file__).resolve().parent.parent


def _frame(spark, tag: int):
    # a distinct literal per frame: CacheManager keys entries by plan
    return spark.range(10).selectExpr(f"id + {tag} AS x")


def _cached(df) -> bool:
    return df.storageLevel != StorageLevel.NONE


def test_scope_releases_its_frames_when_the_body_raises(spark):
    df = _frame(spark, 9001)
    with pytest.raises(RuntimeError, match="boom"):
        with caches.scope() as owned:
            caches.persist(df).count()
            assert _cached(df)
            raise RuntimeError("boom")
    assert owned == [df]
    assert not df.is_cached and not _cached(df)


def test_inner_scope_exit_keeps_outer_and_unscoped_frames(spark):
    unscoped = _frame(spark, 9002)
    # a fresh context has no active scope
    contextvars.Context().run(caches.persist, unscoped)
    try:
        with caches.scope() as outer:
            kept = caches.persist(_frame(spark, 9003))
            with caches.scope() as inner:
                dropped = caches.persist(_frame(spark, 9004))
            assert inner == [dropped] and outer == [kept]
            assert not _cached(dropped)
            assert _cached(kept) and _cached(unscoped)
        assert not _cached(kept)
        assert _cached(unscoped)
    finally:
        unscoped.unpersist(blocking=True)


def test_engine_persists_only_through_caches():
    """One cache lifetime rule: outside operators/caches.py no engine module
    calls ``.cache()`` or ``.persist()``; they call ``caches.persist``."""
    offenders = []
    for path in sorted(ENGINE.rglob("*.py")):
        if path == pathlib.Path(caches.__file__).resolve():
            continue
        for node in ast.walk(ast.parse(path.read_text(), str(path))):
            if not (isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute)):
                continue
            f = node.func
            via_owner = isinstance(f.value, ast.Name) and f.value.id == "caches"
            if f.attr == "cache" or (f.attr == "persist" and not via_owner):
                offenders.append(f"{path.relative_to(ENGINE)}:{node.lineno}")
    assert offenders == []
