"""Registry of datapipe-persisted frames (see release_caches).

The dedup operators ``persist()`` narrow intermediate frames that both
sides of a self-join consume (prefix/banded indexes, exploded
paragraphs).  Spark evicts them under memory pressure (MEMORY_AND_DISK),
but a long-lived session compiling many rules should release them
explicitly between corpus passes: every persist registers here (a
strong reference, see ``_PERSISTED``) and :func:`release_caches`
unpersists them all.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

# persisted intermediates (STRONG refs: the builder's local frame objects
# die with the builder, but the JVM-side cached plan lives until
# unpersisted — the registry must outlive the locals so release_caches
# can find it; entries are a few plan handles per compiled operator and
# the list is cleared on release)
_PERSISTED: list[DataFrame] = []


def _track_persist(df: DataFrame, storage_level=None) -> DataFrame:
    """persist() + register for :func:`release_caches`."""
    df = df.persist(storage_level) if storage_level is not None else df.persist()
    _PERSISTED.append(df)
    return df


def release_caches(blocking: bool = False) -> int:
    """Unpersist every registered frame; returns how many unpersist calls
    returned.  Frames of a stopped session are dropped uncounted (their
    cache went with the session); any other unpersist failure raises.
    Non-blocking by default (block eviction completes asynchronously);
    pass ``blocking=True`` to wait for removal — useful in tests and
    teardown paths that assert the cache returned to baseline."""
    n = 0
    while _PERSISTED:
        df = _PERSISTED.pop()
        if df.sparkSession.sparkContext._jsc is None:
            continue  # session stopped: nothing left to release
        df.unpersist(blocking=blocking)
        n += 1
    return n
