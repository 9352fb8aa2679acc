"""Memory/age-aware SearchCache eviction (reference BlsCache
performLoadManagement + BLSConfigCache.java:26-41 maxSizeMegs /
maxJobAgeSec / targetFreeMemMegs semantics)."""

from __future__ import annotations

from blacklab_spark.search.cache import SearchCache, _entry_bytes


def test_size_budget_eviction(small_corpus):
    """Entries beyond the byte budget are evicted LRU-first; sizes come
    from Spark's cached-relation stats with zero extra jobs."""
    corpus, _ = small_corpus
    cache = SearchCache(max_entries=32, max_size_mb=0.000001)
    dfs = {}
    for i in range(3):
        key = f"k{i}"
        dfs[key] = cache.get_or_compute(
            key, lambda i=i: corpus.tokenized.select("doc_id").limit(10 + i)
        )
        dfs[key].count()  # materialize so stats are actual bytes
    # every materialized entry is far over the ~1-byte budget, so only
    # the newest (never-evicted just-touched) entry survives
    assert cache.info()["entries"] == 1
    assert "k2" in [k for k in cache._lru]
    # evicted frames were unpersisted
    assert dfs["k0"].storageLevel.useMemory is False


def test_age_eviction_and_info_sizes(small_corpus):
    corpus, _ = small_corpus
    t = [0.0]
    cache = SearchCache(max_age_sec=100.0, clock=lambda: t[0])
    cache.get_or_compute("old", lambda: corpus.tokenized.limit(5))
    cache.get_or_compute("old", lambda: None).count()
    t[0] = 50.0
    cache.get_or_compute("new", lambda: corpus.tokenized.limit(6)).count()
    info = cache.info()
    assert info["entries"] == 2
    # cache-info reports per-entry sizes + ages (BlsCache.getCacheStatus)
    assert info["sizeBytes"] > 0
    assert len(info["cacheEntries"]) == 2
    assert info["maxJobAgeSec"] == 100.0
    # 'old' now unused for 101s > maxJobAgeSec -> dropped on next access
    t[0] = 101.0
    cache.get_or_compute("new", lambda: None)
    assert [k for k in cache._lru] == ["new"]


def test_entry_count_cap_still_backstops(small_corpus):
    corpus, _ = small_corpus
    cache = SearchCache(max_entries=2, max_age_sec=None)
    for i in range(4):
        cache.get_or_compute(f"k{i}", lambda i=i: corpus.tokenized.limit(i + 1))
    assert cache.info()["entries"] == 2
    assert [k for k in cache._lru] == ["k2", "k3"]


def test_entry_bytes_is_metadata_only(small_corpus):
    """Size readout must not launch a Spark job (it feeds every cache
    access)."""
    corpus, _ = small_corpus
    spark = corpus.spark
    df = corpus.tokenized.select("doc_id").limit(3).persist()
    df.count()
    before = spark.sparkContext._jsc.sc().statusTracker().getJobIdsForGroup(None)
    n_before = len(list(before))
    assert _entry_bytes(df) > 0
    after = spark.sparkContext._jsc.sc().statusTracker().getJobIdsForGroup(None)
    assert len(list(after)) == n_before
    df.unpersist()


def test_unmaterialized_entry_does_not_evict(small_corpus):
    """A fresh persisted entry that has not run holds no memory: its
    Catalyst estimate (inflated by a join) must not push materialized
    entries out of the size budget."""
    corpus, _ = small_corpus
    t = corpus.tokenized.select("doc_id")
    cache = SearchCache(max_size_mb=1.0)
    for i in range(2):
        cache.get_or_compute(f"k{i}", lambda i=i: t.limit(10 + i)).count()
    joined = cache.get_or_compute("join", lambda: t.join(t, "doc_id"))
    estimate = joined._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
    assert int(estimate) > cache.max_size_mb * (1 << 20)
    assert list(cache._lru) == ["k0", "k1", "join"]
    assert _entry_bytes(joined) == 0
    assert all(_entry_bytes(cache._lru[k].df) > 0 for k in ("k0", "k1"))
    cache.clear()
