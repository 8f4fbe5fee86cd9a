"""Vector search coverage — SURVEY §2.8 vector family + ProductL2/IVF.

Oracle strategy: Spark's F.aggregate fold and DuckDB's list functions both
reduce in index order over doubles → verified bit-exact (no rounding needed).
embeddings table: 500..50k rows, dim 64 float, label 0..k.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from matrixone_spark.catalog import Catalog
from matrixone_spark.functions import vector as V
from matrixone_spark.operators.knn import IvfIndex, IvfPqIndex, LshAnnIndex, knn_exact
from matrixone_spark.queries import register

# Deterministic query vector (shared by Spark and oracle SQL).
_QVEC = [float(i % 7) / 7.0 for i in range(64)]
_QSQL = "[" + ",".join(f"CAST({v} AS DOUBLE)" for v in _QVEC) + "]"
_DEMB = "list_transform(embedding, x -> CAST(x AS DOUBLE))"


@register(
    "vec_norms_battery",
    oracle=f"""
SELECT vec_id,
       CAST(len(embedding) AS INT)                                   AS dims,
       list_sum(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS l1,
       sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS l2,
       list_sum({_DEMB})                                             AS tot,
       CAST(embedding[3] AS DOUBLE)                                  AS elem3,
       CAST(len(embedding[2:5]) AS INT)                              AS sub_len,
       {_DEMB}[1] / sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS norm_first
FROM embeddings WHERE vec_id < 200
""",
    tags=("vector",),
    doc="vector_dims/l1_norm/l2_norm/summation/subvector/normalize_l2 (moarray kernels, func_binary_array_distance_test.go) as pure array expressions.",
)
def vec_norms_battery(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = Catalog(spark, sf_dir).table("embeddings").filter(F.col("vec_id") < 200)
    return e.selectExpr(
        "vec_id",
        f"{V.vector_dims_sql('embedding')} AS dims",
        f"{V.l1_norm_sql('embedding')} AS l1",
        f"{V.l2_norm_sql('embedding')} AS l2",
        f"{V.summation_sql('embedding')} AS tot",
        "CAST(embedding[2] AS DOUBLE) AS elem3",
        f"size({V.subvector_sql('embedding', 2, 4)}) AS sub_len",
        f"{V.normalize_l2_sql('embedding')}[0] AS norm_first",
    )


@register(
    "vec_distances",
    oracle=f"""
SELECT vec_id,
       sqrt(list_sum(list_transform(list_zip(embedding, {_QSQL}),
                                    x -> (CAST(x[1] AS DOUBLE) - x[2]) * (CAST(x[1] AS DOUBLE) - x[2])))) AS l2_dist,
       list_cosine_similarity({_DEMB}, {_QSQL}) AS cos_sim,
       -list_inner_product({_DEMB}, {_QSQL})    AS ip
FROM embeddings WHERE vec_id < 200
""",
    tags=("vector",),
    doc="l2_distance/cosine_similarity/inner_product vs a constant query vector (moarray; SQL surface vector/vector_index.sql) — bit-exact vs DuckDB list kernels.",
)
def vec_distances(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = Catalog(spark, sf_dir).table("embeddings").filter(F.col("vec_id") < 200)
    q = V.lit_vector_sql(_QVEC)
    return e.selectExpr(
        "vec_id",
        f"{V.l2_distance_sql('embedding', q)} AS l2_dist",
        f"{V.cosine_similarity_sql('embedding', q)} AS cos_sim",
        f"{V.inner_product_sql('embedding', q)} AS ip",
    )


@register(
    "knn_exact_topk",
    oracle=f"""
SELECT vec_id, label,
       sqrt(list_sum(list_transform(list_zip(embedding, {_QSQL}),
                                    x -> (CAST(x[1] AS DOUBLE) - x[2]) * (CAST(x[1] AS DOUBLE) - x[2])))) AS distance
FROM embeddings
ORDER BY distance, vec_id
LIMIT 10
""",
    tags=("vector", "bench"),
    doc="Exact KNN: ORDER BY l2_distance(emb, q) LIMIT k (ProductL2 parity, product_l2.go:70; BVT vector/vector_index.sql). Plan: TakeOrderedAndProject — no shuffle.",
)
def knn_exact_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = Catalog(spark, sf_dir).table("embeddings")
    return knn_exact(e, "embedding", _QVEC, 10, "vec_id").select("vec_id", "label", "distance")


@register(
    "knn_join_per_query",
    oracle=f"""
WITH queries AS (SELECT vec_id AS qid, embedding AS qemb FROM embeddings WHERE vec_id < 5),
     scored AS (
  SELECT q.qid, e.vec_id,
         sqrt(list_sum(list_transform(list_zip(e.embedding, list_transform(q.qemb, y -> CAST(y AS DOUBLE))),
                                      x -> (CAST(x[1] AS DOUBLE) - x[2]) * (CAST(x[1] AS DOUBLE) - x[2])))) AS distance
  FROM embeddings e CROSS JOIN queries q
  WHERE e.vec_id <> q.qid)
SELECT qid, vec_id, distance FROM (
  SELECT qid, vec_id, distance,
         ROW_NUMBER() OVER (PARTITION BY qid ORDER BY distance, vec_id) AS rn
  FROM scored) t
WHERE rn <= 3
""",
    tags=("vector",),
    doc="KNN join: per-probe top-k against the whole set (ProductL2 many-probe mode) — broadcast queries + window row_number.",
)
def knn_join_per_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = Catalog(spark, sf_dir).table("embeddings")
    queries = e.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qemb")
    )
    # broadcast the probes, rank per probe with a window; self-matches are
    # excluded before ranking (same as the oracle's WHERE)
    items = e.select("vec_id", "embedding")
    pairs = items.crossJoin(F.broadcast(queries)).filter(F.col("vec_id") != F.col("qid"))
    from pyspark.sql import Window

    w = Window.partitionBy("qid").orderBy(F.asc("distance"), F.asc("vec_id"))
    return (
        pairs.withColumn("distance", F.expr(V.l2_distance_sql("embedding", "qemb")))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("qid", "vec_id", "distance")
    )


@register(
    "vec_centroid_by_label",
    oracle="""
SELECT label,
       COUNT(*) AS n,
       CAST(SUM(CAST(ROUND(CAST(embedding[1] AS DOUBLE), 6) AS DECIMAL(18,6))) AS DOUBLE) AS sum_first_dim
FROM embeddings GROUP BY label
""",
    tags=("vector", "agg"),
    doc="Per-label vector aggregate (cluster_centers-style partial: per-group component sums). Exact decimal sum of first component.",
)
def vec_centroid_by_label(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = Catalog(spark, sf_dir).table("embeddings")
    return e.groupBy("label").agg(
        F.count(F.lit(1)).alias("n"),
        # float→decimal directly is engine-dependent (shortest-repr vs binary
        # expansion rounding); widen to double and round first
        F.sum(F.round(F.col("embedding").getItem(0).cast("double"), 6).cast("decimal(18,6)"))
        .cast("double")
        .alias("sum_first_dim"),
    )


@register(
    "vec_neardup_pairs",
    oracle=f"""
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       list_cosine_similarity(list_transform(a.embedding, x -> CAST(x AS DOUBLE)),
                              list_transform(b.embedding, x -> CAST(x AS DOUBLE))) AS cos_sim
FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
WHERE a.vec_id < 100 AND b.vec_id < 100
  AND list_cosine_similarity(list_transform(a.embedding, x -> CAST(x AS DOUBLE)),
                             list_transform(b.embedding, x -> CAST(x AS DOUBLE))) > 0.95
""",
    tags=("vector", "dedup"),
    doc="Embedding-cosine near-duplicate pairs (LLM-pipeline op): self-join upper triangle + cosine threshold. At scale the self-join goes through LSH bucketing first (operators/dedup.py minhash pattern); exact form here is the oracle-checkable core.",
)
def vec_neardup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = Catalog(spark, sf_dir).table("embeddings").filter(F.col("vec_id") < 100)
    a = e.select(F.col("vec_id").alias("id_a"), F.col("embedding").alias("emb_a"))
    b = e.select(F.col("vec_id").alias("id_b"), F.col("embedding").alias("emb_b"))
    return (
        a.join(b, F.col("id_a") < F.col("id_b"))
        .withColumn("cos_sim", F.expr(V.cosine_similarity_sql("emb_a", "emb_b")))
        .filter(F.col("cos_sim") > 0.95)
        .select("id_a", "id_b", "cos_sim")
    )


@register(
    "ivf_search",
    oracle=None,  # approximate: recall vs exact gated in tests/test_vector.py
    tags=("vector", "approx"),
    doc="IVF-flat index search (ivf_create/ivf_search TVFs, apply_indices_ivfflat.go rewrite): KMeans centroids (cluster_centers parity) + nprobe bucket probe. Recall ≥0.9 vs exact KNN pytest-gated.",
)
def ivf_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    idx = _ivf_index_cached(spark, sf_dir)
    return idx.search(_QVEC, 10, nprobe=3).select("vec_id", "label", "distance")


@register(
    "ann_lsh_topk",
    oracle=None,  # approximate: recall vs exact gated in tests/test_vector.py
    tags=("vector", "approx"),
    doc=(
        "ANN top-k with the HNSW search contract (hnsw_create/hnsw_search "
        "TVFs, pkg/vectorindex/hnsw/) via BucketedRandomProjectionLSH: "
        "build = one-pass bucket hashing (no graph walk — the Spark-shaped "
        "equivalent), search = bucket-pruned candidates + exact top-k. "
        "Recall ≥0.9 vs exact KNN pytest-gated (operators/knn.py LshAnnIndex)."
    ),
)
def ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    idx = _lsh_index_cached(spark, sf_dir)
    return idx.search(_QVEC, 10)


@register(
    "ivfpq_search",
    oracle=None,  # approximate: recall vs exact gated in tests/test_vector.py
    tags=("vector", "approx"),
    doc=(
        "IVF-PQ index search (ivfpq_create/ivfpq_search TVFs, "
        "colexec/table_function/ivfpq_search_cpu.go, pkg/vectorindex/ivfpq/): "
        "coarse KMeans buckets + product-quantized residuals; search probes "
        "nprobe buckets with asymmetric-distance LUTs (broadcast-joined, "
        "pure zip_with/aggregate JVM expressions) then exact-refines the "
        "shortlist. Recall ≥0.9 vs exact KNN pytest-gated "
        "(operators/knn.py IvfPqIndex)."
    ),
)
def ivfpq_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    idx = _ivfpq_index_cached(spark, sf_dir)
    return idx.search(_QVEC, 10, nprobe=4, refine=8).select("vec_id", "label", "distance")


_IVF_CACHE: "dict[tuple[str, str], IvfIndex]" = {}


def _ivf_index_cached(spark: SparkSession, sf_dir: str) -> "IvfIndex":
    # build-once-search-many, same contract as the LSH/IVF-PQ caches below
    # (ivf_create writes the index once; ivf_search probes it — the KMeans
    # fit was being re-run on every probe call)
    key = (spark.sparkContext.applicationId, sf_dir)
    idx = _IVF_CACHE.get(key)
    if idx is None:
        e = Catalog(spark, sf_dir).table("embeddings")
        # r13 (guide §2.4 — fewer driver rounds): max_iter 20→5. Each KMeans
        # iteration is a synchronous driver job; on this corpus the fit never
        # hits the tol early-exit, so 20 iterations is pure cold-build wall
        # (probe: k=8 fit 12.6 s → 2.6 s). Recall vs exact KNN stays ≥0.9
        # (pytest-gated, tests/test_vector.py) — the reference contract for
        # approx indexes is recall, not a fixed iteration count.
        idx = IvfIndex.build(e, "embedding", "vec_id", n_centroids=8, max_iter=5)
        _IVF_CACHE[key] = idx
    return idx


_IVFPQ_CACHE: "dict[tuple[str, str], IvfPqIndex]" = {}


def _ivfpq_index_cached(spark: SparkSession, sf_dir: str) -> "IvfPqIndex":
    # build-once-search-many (ivfpq_create writes the index table once;
    # ivfpq_search probes it) — keyed like the LSH cache below
    key = (spark.sparkContext.applicationId, sf_dir)
    idx = _IVFPQ_CACHE.get(key)
    if idx is None:
        e = Catalog(spark, sf_dir).table("embeddings")
        # r13: max_iter 20→5 (same rationale as _ivf_index_cached above; this
        # build runs 9 fits — 1 coarse + m=8 subspaces — so iteration count
        # dominates the 37 s cold build). Recall gate ≥0.9 in tests.
        idx = IvfPqIndex.build(e, "embedding", "vec_id", nlist=8, m=8, ksub=16, max_iter=5)
        _IVFPQ_CACHE[key] = idx
    return idx


_LSH_CACHE: "dict[tuple[str, str], LshAnnIndex]" = {}


def _lsh_index_cached(spark: SparkSession, sf_dir: str) -> "LshAnnIndex":
    key = (spark.sparkContext.applicationId, sf_dir)
    idx = _LSH_CACHE.get(key)
    if idx is None:
        e = Catalog(spark, sf_dir).table("embeddings")
        idx = LshAnnIndex.build(e, "embedding", "vec_id", bucket_length=2.0, num_tables=8)
        _LSH_CACHE[key] = idx
    return idx


@register(
    "vec_base64_roundtrip",
    oracle="""
SELECT vec_id,
       len(embedding)                               AS dims,
       list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE))) AS vec_sum
FROM embeddings WHERE vec_id < 400
""",
    tags=("vector", "udf"),
    doc=(
        "Base64 vector codec (func_unary.go:5849 VecFromBase64: base64 of "
        "raw little-endian element bytes): encode the float32 embedding, "
        "decode it back, then index-order-sum the DECODED array — the "
        "oracle sums the ORIGINAL parquet floats, so any endianness/width "
        "bug in the codec mismatches. f32→bytes→f32 is lossless."
    ),
)
def vec_base64_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    from matrixone_spark.functions.vector import vec_from_base64, vec_to_base64

    e = Catalog(spark, sf_dir).table("embeddings").filter(F.col("vec_id") < 400)
    decoded = vec_from_base64(vec_to_base64("embedding", "float32"), "float32")
    return e.select(
        "vec_id",
        F.size(decoded).alias("dims"),
        F.aggregate(
            decoded, F.lit(0.0), lambda acc, x: acc + x.cast("double")
        ).alias("vec_sum"),
    )
