"""The one owner of engine caches.

Operators persist the intermediates they reuse through :func:`persist`.
The caller decides how long those frames live: work run inside
:func:`scope` has every frame it persisted unpersisted when the scope
exits, by exception too. Outside any scope a frame stays cached until the
caller clears the catalog, as ``bench.py`` and perfbench do after each op.

A scope is narrower than ``spark.catalog.clearCache()``, which drops every
cached frame in the session: a test run in a scope keeps the frames its
module-scoped fixtures cached, a caller that embeds the engine in its own
session keeps its own caches, and the scope's list names what a call left
cached, which is how the cache-contract tests check it.

Scopes nest and belong to one thread (a ``ContextVar``): a frame joins only
the innermost scope of the thread that persisted it.

Spark's CacheManager keys entries by canonicalized plan and does not count
references. Releasing a scope therefore also drops an equal plan cached
elsewhere in the session, including one a concurrently running query still
reads. Release a scope only after every query that may share its plans is
done.
"""

from __future__ import annotations

from collections.abc import Iterator
from contextlib import contextmanager
from contextvars import ContextVar

from pyspark.sql import DataFrame

_owned: ContextVar[list[DataFrame] | None] = ContextVar("cache_scope", default=None)


def persist(df: DataFrame) -> DataFrame:
    """``df.persist()``, owned by the innermost active scope if there is one."""
    df = df.persist()
    owned = _owned.get()
    if owned is not None:
        owned.append(df)
    return df


@contextmanager
def scope() -> Iterator[list[DataFrame]]:
    """Yield the list of frames persisted inside; unpersist them on exit."""
    owned: list[DataFrame] = []
    token = _owned.set(owned)
    try:
        yield owned
    finally:
        _owned.reset(token)
        for df in owned:
            df.unpersist(blocking=True)
