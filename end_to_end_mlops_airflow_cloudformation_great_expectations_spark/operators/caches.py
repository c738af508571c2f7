"""Call-scoped cache lifetime for operators that return lazy results."""

from __future__ import annotations

from pyspark.sql import DataFrame


def tracked_persist():
    """A ``persist(df, *, fresh=True)`` that owns its own set of caches.

    An operator's result must stay lazy (the driver contract builds
    plans without side effects), so a cache it creates cannot be
    unpersisted inside the call. Instead the NEXT call evicts it: a
    long-lived session (bench loops, pipelines) holds one live cache
    set instead of an unbounded pile. Unpersisting a cache that a
    still-lazy earlier result references is safe; that plan just
    recomputes. ``fresh=True`` (a call's first persist) drops every
    cache the set still tracks; ``fresh=False`` adds another cache of
    the SAME call without evicting the first. Each module makes its
    own set, so eviction stays per module: a dedup call never evicts
    a live similarity cache. Not thread-safe."""
    live: list[DataFrame] = []

    def persist(df: DataFrame, *, fresh: bool = True) -> DataFrame:
        if fresh:
            while live:
                live.pop().unpersist(blocking=False)
        live.append(df.persist())
        return df

    return persist
