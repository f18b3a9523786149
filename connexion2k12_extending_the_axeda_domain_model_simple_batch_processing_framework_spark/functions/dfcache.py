"""Session-scoped memoization of expensive shared relations.

Two index-shaped intermediates dominate whole families of queries: the
MinHash band index (every dedup consumer) and the IVF coarse-quantizer +
inverted file (ANN top-k, semantic dedup, retrieval). A production
deployment persists each ONCE and every consumer reads it; this module is
the in-session equivalent — a keyed memo of already-materialized
DataFrames, shared across queries of the same SparkSession.

Design rules:

- **Keys pin the session and the canonical input plan** (``semanticHash``
  over a normalized projection), so different corpora — or a new session
  whose storage blocks are gone — never alias.
- **Storage is CacheManager ``persist`` (MEMORY_AND_DISK), never a
  checkpoint**: a checkpoint whose blocks an external unpersist reaps is
  unrecoverable (truncated lineage), while a dropped cache block just
  recomputes — the memo degrades to a rebuild, never to a failure.
- **Entries record the RDD ids of their storage blocks**
  (``persistent_exempt_ids``) so block reapers — bench.py releases all
  persisted RDDs between queries — can exempt the shared indexes and
  keep them warm across a suite. The first consumer's timed run still
  pays the build.
- **FIFO-capped** (evicted entries unpersist) to bound pinned storage.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark import StorageLevel
from pyspark.sql import DataFrame

_CACHE: dict = {}
_CACHE_MAX = 16
#: monotone count of cache MISSES (build() invocations). Unlike the cache
#: length, this never decreases, so callers measuring "did this query pay
#: an index build" (bench.py) see builds even when an eviction during the
#: same query nets the cache length back to zero.
_BUILDS = 0


def build_count() -> int:
    """Total build() invocations since process start (monotone)."""
    return _BUILDS


def _persistent_rdd_ids(spark) -> set[int]:
    return set(spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray())


def session_alive(spark) -> bool:
    """True while the session's SparkContext is still running. Cache
    entries of a stopped session must drop out: here their recorded RDD
    ids are meaningless in a NEW context (ids restart at 0), so a stale
    entry could exempt an unrelated fresh block from an external reaper;
    ``sources.catalog`` drops its table plans the same way."""
    try:
        return spark.sparkContext._jsc is not None
    except Exception:
        return False


def _prune_stale() -> None:
    for k in [k for k, (_v, _ids, s) in _CACHE.items() if not session_alive(s)]:
        del _CACHE[k]


def persistent_exempt_ids() -> set[int]:
    """RDD ids of the storage blocks backing live cache entries (stopped
    sessions' entries pruned first — see ``session_alive``)."""
    _prune_stale()
    ids: set[int] = set()
    for _value, entry_ids, _spark in _CACHE.values():
        ids |= entry_ids
    return ids


def persist_df(df: DataFrame) -> DataFrame:
    """Materialize ``df`` into the CacheManager (MEMORY_AND_DISK)."""
    d = df.persist(StorageLevel.MEMORY_AND_DISK)
    d.count()
    return d


def memo(spark, key, build: Callable[[], tuple]) -> tuple:
    """Return the cached value for ``key``, else run ``build()`` (which
    persists its own DataFrames via ``persist_df``), record the storage
    ids it created, and cache. ``key`` must include the SparkSession."""
    global _BUILDS
    _prune_stale()
    if key in _CACHE:
        return _CACHE[key][0]
    _BUILDS += 1
    before = _persistent_rdd_ids(spark)
    value = build()
    entry_ids = _persistent_rdd_ids(spark) - before
    _CACHE[key] = (value, entry_ids, spark)
    while len(_CACHE) > _CACHE_MAX:
        # release by the RECORDED block ids, not the value tuple's
        # DataFrames: a build can create auxiliary persisted blocks
        # (e.g. a checkpoint inside the pipeline) that only entry_ids see
        _value, old_ids, old_spark = _CACHE.pop(next(iter(_CACHE)))
        if not session_alive(old_spark):
            continue
        try:
            jmap = old_spark.sparkContext._jsc.getPersistentRDDs()
            for rid in list(jmap.keySet().toArray()):
                if int(rid) in old_ids:
                    jmap.get(rid).unpersist(False)
        except Exception:
            pass  # session raced a stop; nothing to release
    return value
