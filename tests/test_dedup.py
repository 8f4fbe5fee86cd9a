"""Dedup operator gates beyond the oracle: LSH recall vs exact Jaccard,
SimHash identity property."""

from __future__ import annotations

from pyspark.sql import functions as F

from matrixone_spark.catalog import Catalog
from matrixone_spark.operators.dedup import (
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    simhash_pairs,
    simhash_signatures,
)
from tests.conftest import SF_DIR


def test_minhash_lsh_recall(spark):
    d = Catalog(spark, SF_DIR).table("documents").filter(F.col("doc_id") < 250)
    exact = {
        (r.id_a, r.id_b)
        for r in ngram_jaccard_pairs(d, "doc_id", "text", 3, 0.2).collect()
    }
    lsh = {
        (r.id_a, r.id_b)
        for r in minhash_lsh_pairs(d, "doc_id", "text", 32, 8, 3, 0.2).collect()
    }
    assert lsh <= exact, "LSH must be a subset (exact verification)"
    if exact:
        recall = len(lsh & exact) / len(exact)
        assert recall >= 0.8, f"LSH recall {recall:.2f} < 0.8 over {len(exact)} true pairs"


def test_minhash_bucket_cap_is_subset(spark):
    """max_bucket_len (the r13 LSH skew bound mirroring ngram's
    max_posting_len) may only REMOVE pairs: a boilerplate clique shares all
    bands, its bucket exceeds the cap and vanishes whole; small buckets
    survive; a generous cap is a no-op."""
    base = ("the quick brown fox jumps over the lazy dog while the cat "
            "sleeps on the warm mat near the door of the old red barn")
    rows = []
    for i in range(8):  # 8 near-identical docs -> one fat clique
        words = base.split()
        words[i] = f"w{i}"
        rows.append((i, " ".join(words)))
    rows += [(20, "two documents about spark sql engines reading parquet files quickly"),
             (21, "two documents about spark sql engines reading parquet files slowly")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    uncapped = {
        (r.id_a, r.id_b)
        for r in minhash_lsh_pairs(df, "doc_id", "text", 32, 8, 3, 0.2).collect()
    }
    assert len(uncapped) > 1, "need a clique for the cap to bite"
    capped = {
        (r.id_a, r.id_b)
        for r in minhash_lsh_pairs(
            df, "doc_id", "text", 32, 8, 3, 0.2, max_bucket_len=4
        ).collect()
    }
    assert capped <= uncapped, "cap invented pairs"
    assert len(capped) < len(uncapped), "cap=4 must drop the 8-doc clique buckets"
    huge = {
        (r.id_a, r.id_b)
        for r in minhash_lsh_pairs(
            df, "doc_id", "text", 32, 8, 3, 0.2, max_bucket_len=10**6
        ).collect()
    }
    assert huge == uncapped


def test_ngram_posting_cap_is_subset(spark):
    """max_posting_len (the 100 TB stop-shingle bound) may only REMOVE pairs:
    capped output ⊆ uncapped output at every cap, and a generous cap changes
    nothing on a corpus whose max posting length is below it."""
    d = Catalog(spark, SF_DIR).table("documents").filter(F.col("doc_id") < 250)
    uncapped = {
        (r.id_a, r.id_b): r.jaccard
        for r in ngram_jaccard_pairs(d, "doc_id", "text", 3, 0.2).collect()
    }
    assert uncapped, "need true pairs for the subset property to be meaningful"
    for cap in (2, 5, 20):
        capped = {
            (r.id_a, r.id_b): r.jaccard
            for r in ngram_jaccard_pairs(
                d, "doc_id", "text", 3, 0.2, max_posting_len=cap
            ).collect()
        }
        assert set(capped) <= set(uncapped), f"cap={cap} produced pairs not in uncapped output"
        # dropping shingles can only shrink the measured intersection
        for pair, j in capped.items():
            assert j <= uncapped[pair] + 1e-9, f"cap={cap} raised jaccard for {pair}"
    # posting lists here are shorter than 10^6 → a huge cap is a no-op
    huge = {
        (r.id_a, r.id_b): r.jaccard
        for r in ngram_jaccard_pairs(
            d, "doc_id", "text", 3, 0.2, max_posting_len=10**6
        ).collect()
    }
    assert huge == uncapped


def test_simhash_identity_and_stability(spark):
    df = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog"),
         (2, "the quick brown fox jumps over the lazy dog"),
         (3, "a completely different sentence about spark engines")],
        "id long, text string",
    )
    pairs = simhash_pairs(df, "id", "text", max_hamming=0).collect()
    assert {(p.id_a, p.id_b) for p in pairs} == {(1, 2)}
    h = {r.doc_id: r.sh for r in simhash_signatures(df, "id", "text").collect()}
    assert h[1] == h[2] != h[3]


def test_simhash_block_cap_is_subset(spark):
    """max_block_len (the r13 skew bound mirroring ngram's max_posting_len)
    may only REMOVE pairs: capped output ⊆ uncapped at every cap, a pair
    inside an over-full block is dropped whole, and a generous cap is a
    no-op. Uses a corpus where several docs share a block (identical text →
    identical signature → same 16-bit prefix)."""
    rows = [(i, "the quick brown fox jumps over the lazy dog") for i in range(1, 6)]
    rows += [(10, "a completely different sentence about spark engines"),
             (11, "a completely different sentence about spark engines")]
    df = spark.createDataFrame(rows, "id long, text string")
    uncapped = {
        (p.id_a, p.id_b)
        for p in simhash_pairs(df, "id", "text", max_hamming=0).collect()
    }
    # 5-doc clique (10 pairs) + 2-doc pair
    assert len(uncapped) == 11
    for cap in (2, 4):
        capped = {
            (p.id_a, p.id_b)
            for p in simhash_pairs(
                df, "id", "text", max_hamming=0, max_block_len=cap
            ).collect()
        }
        assert capped <= uncapped, f"cap={cap} invented pairs"
        # the 5-doc block exceeds both caps and must vanish whole;
        # the 2-doc block fits and must survive
        assert capped == {(10, 11)}, f"cap={cap}: {capped}"
    huge = {
        (p.id_a, p.id_b)
        for p in simhash_pairs(
            df, "id", "text", max_hamming=0, max_block_len=10**6
        ).collect()
    }
    assert huge == uncapped


def test_exact_dedup_keeps_lowest_id_full_rows(spark):
    """r12 internals change (min_by aggregate instead of window row_number):
    the survivor per digest must still be the LOWEST-id row, with every
    column intact and column order preserved."""
    from matrixone_spark.operators.dedup import exact_dedup

    df = spark.createDataFrame(
        [(5, "aaa", "x5"), (2, "aaa", "x2"), (9, "bbb", "x9"),
         (1, "ccc", "x1"), (7, "ccc", "x7"), (3, "ccc", "x3")],
        "doc_id long, text string, extra string",
    )
    out = exact_dedup(df, "text", "doc_id")
    assert out.columns == ["doc_id", "text", "extra"]
    rows = sorted((r.doc_id, r.text, r.extra) for r in out.collect())
    assert rows == [(1, "ccc", "x1"), (2, "aaa", "x2"), (9, "bbb", "x9")]


def test_connected_components_chain_and_isolates(spark):
    """r12 internals change (union+single-aggregate rounds, aggregate-carried
    convergence flag): a 5-node chain needs multiple propagation rounds and
    must converge to min-label 1 everywhere; isolated nodes keep themselves."""
    from matrixone_spark.operators.dedup import connected_components

    nodes = spark.createDataFrame([(i,) for i in range(1, 9)], "node long")
    # chain 1-2-3-4-5 (diameter forces >1 round), pair 6-7, isolate 8
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5), (6, 7)], "src long, dst long"
    )
    got = {r.node: r.component for r in connected_components(nodes, edges).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 5: 1, 6: 6, 7: 6, 8: 8}
