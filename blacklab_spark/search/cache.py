"""Materialized-search cache — the BlsCache analogue.

The reference caches running/finished searches keyed by their full
parameter fingerprint and reuses them across requests, evicting by
age / size / free-memory targets (reference
server/.../search/BlsCache.java performLoadManagement;
wslib/.../config/BLSConfigCache.java:26-41 — maxNumberOfJobs,
maxJobAgeSec, maxSizeMegs, targetFreeMemMegs). Spark translation: an
entry persists the result DataFrame (MEMORY_AND_DISK — spills, never
OOMs); hits return the persisted handle so repeated identical requests
skip recomputation entirely.

Eviction policy (performLoadManagement's order, run on every access):
1. entries unused for more than ``max_age_sec`` are dropped
   (BlsCache.java:395-413 "Searchjob too old");
2. when the summed persisted size exceeds ``max_size_mb``, least-
   recently-used entries are dropped until under budget (maxSizeMegs);
3. when JVM free memory falls below ``target_free_mem_mb``, LRU
   entries are dropped until the shortfall is covered by their
   estimated sizes (targetFreeMemMegs, same rough-guess accounting as
   BlsCache.java:433);
4. the entry-count LRU cap (maxNumberOfJobs) backstops everything.

Entry sizes are the bytes of the batches an entry's cache has actually
built (the cached relation's batch-size accumulator), read driver-side
with zero jobs. An entry that has not materialized counts 0: its
Catalyst estimate (huge for join-bearing plans) would otherwise evict
every other entry.

Keys include the index GENERATION (bumped by incremental add/delete/
compact), so a cache never serves stale results across index updates.
Eviction unpersists the evicted DataFrame — executor memory cannot
leak past the configured budgets.
"""

from __future__ import annotations

import time
from collections import OrderedDict
from dataclasses import dataclass
from typing import Callable

from pyspark.sql import DataFrame
from pyspark.storagelevel import StorageLevel


@dataclass
class _Entry:
    df: DataFrame
    created: float
    last_access: float


def _entry_bytes(df: DataFrame) -> int:
    """Bytes of the cached batches a persisted DataFrame has built so
    far — 0 until its cache materializes, and 0 once unpersisted.
    Driver-side metadata only; no Spark job."""
    try:
        cached = (df.sparkSession._jsparkSession.sharedState()
                  .cacheManager().lookupCachedData(df._jdf))
        if not cached.isDefined():
            return 0
        return int(cached.get().cachedRepresentation().cacheBuilder()
                   .sizeInBytesStats().value())
    except Exception:
        return 0


def _jvm_free_bytes(df: DataFrame) -> int | None:
    try:
        rt = df.sparkSession._jvm.java.lang.Runtime.getRuntime()
        return int(rt.maxMemory() - rt.totalMemory() + rt.freeMemory())
    except Exception:
        return None


class SearchCache:
    def __init__(self, max_entries: int = 32,
                 max_size_mb: float | None = None,
                 max_age_sec: float | None = 3600.0,
                 target_free_mem_mb: float | None = None,
                 clock: Callable[[], float] = time.monotonic):
        self.max_entries = max_entries
        self.max_size_mb = max_size_mb
        self.max_age_sec = max_age_sec
        self.target_free_mem_mb = target_free_mem_mb
        self._clock = clock
        self._lru: OrderedDict[str, _Entry] = OrderedDict()
        self.hits = 0
        self.misses = 0

    def get_or_compute(self, key: str, supplier: Callable[[], DataFrame]) -> DataFrame:
        now = self._clock()
        if key in self._lru:
            self._lru.move_to_end(key)
            e = self._lru[key]
            e.last_access = now
            self.hits += 1
            self._manage(except_key=key)
            return e.df
        self.misses += 1
        df = supplier().persist(StorageLevel.MEMORY_AND_DISK)
        self._lru[key] = _Entry(df, now, now)
        self._manage(except_key=key)
        return df

    def _drop(self, key: str) -> None:
        self._lru.pop(key).df.unpersist()

    def _manage(self, except_key: str | None = None) -> None:
        """One load-management pass (BlsCache.performLoadManagement):
        age, then size budget, then free-memory target, then the entry
        cap. The just-touched entry is never evicted."""
        now = self._clock()
        if self.max_age_sec is not None:
            for k in [k for k, e in self._lru.items()
                      if k != except_key
                      and now - e.last_access > self.max_age_sec]:
                self._drop(k)
        evictable = [k for k in self._lru if k != except_key]  # LRU order
        if self.max_size_mb is not None and evictable:
            sizes = {k: _entry_bytes(self._lru[k].df) for k in self._lru}
            budget = self.max_size_mb * (1 << 20)
            total = sum(sizes.values())
            for k in evictable:
                if total <= budget:
                    break
                total -= sizes[k]
                self._drop(k)
            evictable = [k for k in self._lru if k != except_key]
        if self.target_free_mem_mb is not None and evictable:
            free = _jvm_free_bytes(self._lru[evictable[0]].df)
            if free is not None:
                shortfall = self.target_free_mem_mb * (1 << 20) - free
                for k in evictable:
                    if shortfall <= 0:
                        break
                    shortfall -= _entry_bytes(self._lru[k].df)
                    self._drop(k)
        while len(self._lru) > self.max_entries:
            k = next(iter(self._lru))
            if k == except_key:  # cap of 0/1 with a fresh entry: keep it
                break
            self._drop(k)

    def clear(self) -> None:
        for e in self._lru.values():
            e.df.unpersist()
        self._lru.clear()

    def info(self) -> dict:
        """cache-info endpoint payload (reference RequestHandlerCacheInfo
        / BlsCache.getCacheStatus keys: maxNumberOfJobs, maxJobAgeSec,
        maxSizeMegs, targetFreeMemMegs, sizeBytes)."""
        now = self._clock()
        sizes = {k: _entry_bytes(e.df) for k, e in self._lru.items()}
        return {
            "entries": len(self._lru),
            "max_entries": self.max_entries,
            "hits": self.hits,
            "misses": self.misses,
            "sizeBytes": sum(sizes.values()),
            "maxSizeMegs": self.max_size_mb,
            "maxJobAgeSec": self.max_age_sec,
            "targetFreeMemMegs": self.target_free_mem_mb,
            "cacheEntries": [
                {"sizeBytes": sizes[k],
                 "ageSec": round(now - e.created, 3),
                 "unusedSec": round(now - e.last_access, 3)}
                for k, e in self._lru.items()
            ],
        }
