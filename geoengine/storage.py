"""Lifetime of the blocks the engine persists: every cache and eager
localCheckpoint goes through :func:`cache` / :func:`checkpoint`, and one
:func:`scope` around the caller's materialization releases them all:

    with storage.scope():
        rows = spatial_dbscan(points, 10.0, 8).collect()

Outside a scope nothing is released, but :func:`cache` still first drops
any equal-plan CacheManager entry, so a block left by an earlier call
(planned under that call's conf) is never reused. Caches are released
with ``Dataset.unpersist`` (the only call that also drops the
CacheManager entry); checkpoint blocks, which ``Dataset.unpersist`` does
NOT free, by RDD id through the ``getPersistentRDDs`` py4j seam — the
engine's second private-API dependency, next to ``gates.plan_stats``.
"""

from __future__ import annotations

from contextlib import ExitStack, contextmanager
from contextvars import ContextVar
from typing import Callable, Iterator

from pyspark.sql import DataFrame

_ACTIVE: ContextVar[ExitStack | None] = ContextVar(
    "geoengine_storage_scope", default=None
)


@contextmanager
def scope() -> Iterator[None]:
    """On exit, an exception included, release (newest first) everything
    cached or checkpointed while this was the innermost active scope.
    Scopes nest. Materialize results INSIDE the block."""
    with ExitStack() as releases:
        token = _ACTIVE.set(releases)
        try:
            yield
        finally:
            _ACTIVE.reset(token)


def _register(release: Callable[[], None]) -> None:
    releases = _ACTIVE.get()
    if releases is not None:
        releases.callback(release)


def cache(df: DataFrame) -> DataFrame:
    """``df.cache()``, unpersisted when the active scope (if any) exits.
    Any CacheManager entry with an equal plan is dropped first: it was
    planned under the conf of whichever call cached it, so reusing it
    would carry that conf's choices (a broadcast, say) into this call."""
    df.unpersist()
    df = df.cache()
    _register(df.unpersist)
    return df


def _persistent_rdd_ids(spark) -> set:
    """Ids of persisted RDDs, localCheckpoint blocks included; a py4j
    failure degrades to an empty set (blocks then release on GC)."""
    try:
        ids, it = set(), spark.sparkContext._jsc.sc().getPersistentRDDs().iterator()
        while it.hasNext():
            ids.add(it.next()._1())
        return ids
    except Exception:  # pragma: no cover - py4j surface differences
        return set()


def checkpoint(df: DataFrame) -> tuple[DataFrame, Callable[[], None]]:
    """Eager ``df.localCheckpoint()`` and a ``release()`` that frees
    exactly its RDD blocks (a second call does nothing); the active scope
    calls it too, so a loop may release a superseded round early. The
    blocks are the persistent-id delta around the call — a cache created
    concurrently in the same instant would be swept with them."""
    spark = df.sparkSession
    before = _persistent_rdd_ids(spark)
    out = df.localCheckpoint()
    ids = _persistent_rdd_ids(spark) - before

    def release() -> None:
        if not ids:
            return
        try:
            it = spark.sparkContext._jsc.sc().getPersistentRDDs().iterator()
            while it.hasNext():
                kv = it.next()
                if kv._1() in ids:
                    kv._2().unpersist(False)
        except Exception:  # pragma: no cover - degrade to GC-time release
            pass
        ids.clear()

    _register(release)
    return out, release
