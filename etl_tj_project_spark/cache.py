"""Cached-frame lifecycle: every DataFrame cache in the package has an owner.

The rule: a frame passed to :func:`persist` belongs to the innermost open
``with cache_scope(spark):`` of its session and is released, newest first,
when that scope exits, on every exit path. Outside any scope the session
owns it until ``spark.stop()``.

``persist`` skips a frame whose plan the CacheManager already holds, and a
scope owns only what it persisted itself, so an inner scope never frees an
outer scope's or the session's cache. :func:`release` frees an owned frame
early and is a no-op on a frame ``persist`` skipped.

The code that knows a frame's last reader opens the scope. A function that
returns a lazy plan reading a cache it built opens none: its consumer's
scope (or the session) owns the cache. Newest-first release never drops a
cache while a cache built from it is still registered.
"""

from __future__ import annotations

from contextlib import contextmanager
from contextvars import ContextVar

from pyspark.sql import DataFrame, SparkSession

# Open scopes, innermost last: (session, frames the scope persisted).
_SCOPES: ContextVar[tuple] = ContextVar("cache_scopes", default=())
_NOT_OWNED = object()


@contextmanager
def cache_scope(spark: SparkSession):
    """Own every frame :func:`persist` caches for ``spark`` until exit."""
    owned: list[DataFrame] = []
    token = _SCOPES.set(_SCOPES.get() + ((spark, owned),))
    try:
        yield
    finally:
        _SCOPES.reset(token)
        while owned:
            release(owned[-1])


def persist(df: DataFrame) -> DataFrame:
    """Cache ``df`` unless its plan is already cached (``df.storageLevel``
    looks the plan up; ``df.is_cached`` sees only this object)."""
    lvl = df.storageLevel
    if lvl.useMemory or lvl.useDisk:
        return df
    df.persist()
    scopes = [owned for s, owned in _SCOPES.get() if s is df.sparkSession]
    owner = scopes[-1] if scopes else None  # None: the session
    if owner is not None:
        owner.append(df)
    df.__dict__["_cache_owner"] = owner
    return df


def release(df: DataFrame) -> None:
    """Free ``df``'s cache now if :func:`persist` made it."""
    owner = df.__dict__.pop("_cache_owner", _NOT_OWNED)
    if owner is _NOT_OWNED:
        return
    if owner is not None:
        owner[:] = [f for f in owner if f is not df]
    df.unpersist()
