"""Bounded per-pipeline caching for multi-consumer intermediate frames.

Several pipelines (MinHash verify, LSH buckets, SimHash fingerprints,
connected-components labels) build an intermediate that multiple plan
branches consume; without persist+materialize each branch re-runs the
whole upstream DAG. A CacheSlot persists those frames AND releases the
previous run's frames on the next run, so long sessions (bench loops,
repeated driver checks) hold at most one run's worth of cache per
pipeline instead of accumulating forever.
"""

from __future__ import annotations

import weakref

from pyspark.sql import DataFrame

_ALL_SLOTS: "weakref.WeakSet[CacheSlot]" = weakref.WeakSet()


def release_all_cache_slots() -> None:
    """Unpersist every live CacheSlot's frames. Long mixed-query sessions
    (the bench runs ~80 queries x3) otherwise keep ONE cached frame per
    cache-using pipeline resident to the end of the session — enough to
    OOM Spark's default 1g local driver heap once the query list grew
    (r9 bench). Each query still pays its own cold cache-build inside its
    timer, so releasing between queries does not distort measurements."""
    for slot in list(_ALL_SLOTS):
        slot.release()


class CacheSlot:
    def __init__(self) -> None:
        self._frames: list[DataFrame] = []
        _ALL_SLOTS.add(self)

    def hold(self, df: DataFrame, materialize: bool = True) -> DataFrame:
        """Persist ``df`` and track it for release.

        ``materialize=True`` runs a blocking count — needed when separate
        *driver-side* consumers would otherwise race to build the cache.
        When all consumers live inside one subsequent job DAG, pass
        ``materialize=False``: the first job fills the cache in-flight and
        the extra count job is pure overhead (~40% of the MinHash pipeline
        at bench scale).

        A final global ``orderBy`` is such a case even with ONE consumer:
        a global sort computes its child twice, once in the
        range-partition sampling job and again in the map stage. Holding
        a costly child lazily lets the sampling job fill the cache and the
        map stage read it.
        """
        df.persist()
        if materialize:
            df.count()
        self._frames.append(df)
        return df

    def adopt(self, df: DataFrame) -> DataFrame:
        """Track an already-persisted frame for release."""
        self._frames.append(df)
        return df

    def release(self) -> None:
        while self._frames:
            self._frames.pop().unpersist(blocking=False)
