"""FullTextIndex build cache: bounded LRU with unpersist-on-evict (a
long-lived session building many corpora must not leak executor storage)."""

from __future__ import annotations

from pyspark.sql import functions as F

from matrixone_spark.operators import fulltext as ft


def _corpus(spark, seed: int):
    return spark.createDataFrame(
        [(i, f"corpus{seed} doc {i} spark query table") for i in range(5)],
        "doc_id long, text string",
    )


def test_cache_bounded_and_evicts_persisted(spark):
    ft._INDEX_CACHE.clear()
    old_capacity = ft._INDEX_CACHE.capacity
    ft._INDEX_CACHE.capacity = 3
    try:
        # reuse the same DataFrame objects, as Catalog's table cache does —
        # the cache key is the corpus' semantic hash
        corpora = [_corpus(spark, s) for s in range(5)]
        indexes = [ft.FullTextIndex.build_cached(c, "doc_id", "text") for c in corpora]
        assert len(ft._INDEX_CACHE) == 3
        # oldest two evicted AND their postings no longer persisted
        for idx in indexes[:2]:
            assert not idx.postings.storageLevel.useMemory
            assert not idx.doc_stats.storageLevel.useMemory
        # survivors still persisted and still served from cache
        again = ft.FullTextIndex.build_cached(corpora[4], "doc_id", "text")
        assert again is indexes[4]
        assert again.postings.storageLevel.useMemory
    finally:
        ft._INDEX_CACHE.capacity = old_capacity
        ft._INDEX_CACHE.clear()


def test_cache_hit_returns_same_index(spark):
    ft._INDEX_CACHE.clear()
    try:
        c = _corpus(spark, 9)
        a = ft.FullTextIndex.build_cached(c, "doc_id", "text")
        b = ft.FullTextIndex.build_cached(c, "doc_id", "text")
        assert a is b
        assert len(ft._INDEX_CACHE) == 1
    finally:
        ft._INDEX_CACHE.clear()


def test_build_empty_corpus(spark):
    """r13 advice fix: a corpus with zero indexable docs (empty/NULL text)
    must build (avg_dl NULL → 0.0, n_docs 0) and score to empty frames, not
    raise TypeError at build time."""
    empty = spark.createDataFrame([(1, ""), (2, None)], "doc_id long, text string")
    idx = ft.FullTextIndex.build(empty, "doc_id", "text")
    assert idx.n_docs == 0 and idx.avg_dl == 0.0
    assert idx.match_natural(["spark"], algo="bm25").collect() == []
