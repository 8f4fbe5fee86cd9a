"""KNN / similarity search: exact (ProductL2 parity) + IVF approximate.

Reference:
- ProductL2 (colexec/productl2/product_l2.go:70): brute-force vector-distance
  join — every probe row scored against build rows, top-k kept. Exact KNN.
- IVF-flat index (pkg/vectorindex/ivfflat/, kmeans training
  pkg/vectorindex/ivfflat/kmeans/elkans/; `cluster_centers` aggregate,
  ivf_create/ivf_search TVFs table_function/ivf_create.go): k-means centroids
  partition the vectors; search probes the nprobe nearest centroid buckets.
- Planner rewrite plan/apply_indices_ivfflat.go turns
  `ORDER BY l2_distance(emb, q) LIMIT k` into an index probe.

Spark-first design:
- Exact single-query KNN: distance expression + orderBy().limit(k) — Catalyst
  plans TakeOrderedAndProject (per-partition heap + driver merge), the same
  shape as the reference's Top operator. No shuffle of the full table.
- Exact KNN join (many queries; queries/vector.py knn_join_per_query):
  broadcast the (small) query set, compute distances, per-query top-k via
  window row_number — one shuffle on query_id.
- IVF: centroids from MLlib KMeans (cluster_centers parity); assignments
  stored as a DataFrame partitioned by centroid_id. At 100 TB the assignment
  table is written bucketed/partitioned by centroid_id so a probe reads only
  nprobe/k of the data — mirroring the reference's index-table scan.

Determinism: distances tie-break on the id column everywhere.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from matrixone_spark.functions import vector as V


def knn_exact(
    items: DataFrame,
    emb_col: str,
    query_vec: "list[float]",
    k: int,
    id_col: str,
) -> DataFrame:
    """Top-k rows nearest to query_vec by L2 distance. ProductL2
    single-probe parity.

    Plan shape: scan → project(distance) → TakeOrderedAndProject(k) — no
    shuffle; scales linearly with executors.
    """
    dist = F.expr(V.l2_distance_sql(emb_col, V.lit_vector_sql(query_vec)))
    return (
        items.withColumn("distance", dist)
        .orderBy(F.asc("distance"), F.asc(id_col))
        .limit(k)
    )


class IvfIndex:
    """IVF-flat index: k-means centroids + centroid-assigned vectors.

    Build ≈ `cluster_centers` aggregate (MLlib KMeans — Elkan-equivalent
    training, reference pkg/vectorindex/ivfflat/kmeans/); search ≈ ivf_search
    TVF (probe nprobe buckets, exact distance inside).
    """

    def __init__(self, centroids: "list[tuple[int, list[float]]]", assignments: DataFrame,
                 emb_col: str, id_col: str):
        self.centroids = centroids  # [(centroid_id, center_vec)] — tiny, driver-held
        self.assignments = assignments  # DataFrame[id_col, emb_col, centroid_id]
        self.emb_col = emb_col
        self.id_col = id_col

    @classmethod
    def build(cls, items: DataFrame, emb_col: str, id_col: str, n_centroids: int,
              seed: int = 42, max_iter: int = 20) -> "IvfIndex":
        from pyspark.ml.clustering import KMeans
        from pyspark.ml.functions import array_to_vector

        feat = items.withColumn("_features", array_to_vector(F.transform(F.col(emb_col), lambda v: v.cast("double"))))
        model = KMeans(k=n_centroids, seed=seed, maxIter=max_iter, featuresCol="_features").fit(feat)
        assignments = (
            model.transform(feat)
            .withColumnRenamed("prediction", "centroid_id")
            .drop("_features")
        )
        # At scale: .repartition("centroid_id").write.partitionBy("centroid_id")
        # so a probe scans only its buckets; cached here for local use.
        centroids = [(i, [float(x) for x in c]) for i, c in enumerate(model.clusterCenters())]
        return cls(centroids, assignments, emb_col, id_col)

    def search(self, query_vec: "list[float]", k: int, nprobe: int = 4) -> DataFrame:
        """Probe the nprobe nearest centroid buckets, exact top-k inside."""
        import math

        def d2(c):
            return math.sqrt(sum((a - b) ** 2 for a, b in zip(c, query_vec)))

        probe_ids = [cid for cid, _ in sorted(self.centroids, key=lambda t: d2(t[1]))[:nprobe]]
        # centroid_id filter prunes partitions when assignments are written
        # partitioned by centroid_id (partition pruning at 100 TB).
        cand = self.assignments.filter(F.col("centroid_id").isin(probe_ids))
        return knn_exact(cand, self.emb_col, query_vec, k, self.id_col)


class LshAnnIndex:
    """ANN index with the HNSW search CONTRACT (top-k approximate neighbors,
    tunable recall) via random-hyperplane bucketed-projection LSH.

    Reference: HNSW is the reference's default ANN path
    (pkg/vectorindex/hnsw/, TVFs colexec/table_function/hnsw_create.go /
    hnsw_search.go: build an index, then top-k probes with tunable ef/recall).
    A faithful HNSW is a sequential graph walk with per-hop random access —
    the wrong shape for a distributed scan engine (every hop is a driver
    round-trip). The same user contract (`CREATE INDEX ... USING hnsw` +
    ORDER BY l2_distance LIMIT k) maps to MLlib's
    BucketedRandomProjectionLSH: build = one pass hashing every vector into
    `num_tables` bucket ids (embarrassingly parallel, no graph); search =
    bucket-pruned candidate scan + exact top-k, recall tuned by
    num_tables × bucket_length exactly as HNSW tunes ef/M. At 100 TB the
    hashed table is written bucketed by (table, hash) so a probe reads only
    matching buckets — same pruning story as the IVF path, different
    geometry (hyperplane slabs vs Voronoi cells).

    Recall is gated in tests/test_vector.py against exact KNN, mirroring the
    IVF gate.
    """

    def __init__(self, model, hashed: DataFrame, emb_col: str, id_col: str):
        self.model = model
        self.hashed = hashed  # input cols + _features(vector) + _hashes
        self.emb_col = emb_col
        self.id_col = id_col

    @classmethod
    def build(
        cls,
        items: DataFrame,
        emb_col: str,
        id_col: str,
        bucket_length: float = 2.0,
        num_tables: int = 8,
        seed: int = 42,
    ) -> "LshAnnIndex":
        from pyspark.ml.feature import BucketedRandomProjectionLSH
        from pyspark.ml.functions import array_to_vector

        feat = items.withColumn(
            "_features",
            array_to_vector(F.transform(F.col(emb_col), lambda v: v.cast("double"))),
        )
        lsh = BucketedRandomProjectionLSH(
            inputCol="_features",
            outputCol="_hashes",
            bucketLength=bucket_length,
            numHashTables=num_tables,
            seed=seed,
        )
        model = lsh.fit(feat)
        # hnsw_create parity: materialize the hashed index once; searches
        # reuse it (persist ≈ the index table the reference writes).
        hashed = model.transform(feat).persist()
        return cls(model, hashed, emb_col, id_col)

    def search(self, query_vec: "list[float]", k: int) -> DataFrame:
        """hnsw_search parity: top-k approximate neighbors of query_vec.
        Bucket-filtered candidates, exact L2 + id tie-break inside."""
        from pyspark.ml.linalg import Vectors

        nn = self.model.approxNearestNeighbors(
            self.hashed, Vectors.dense(query_vec), k, distCol="distance"
        )
        return nn.select(self.id_col, "distance").orderBy(
            F.asc("distance"), F.asc(self.id_col)
        )

    def unpersist(self) -> None:
        self.hashed.unpersist(blocking=False)


class IvfPqIndex:
    """IVF-PQ: coarse KMeans partitioning + product-quantized residuals.

    Reference: ivfpq_create/ivfpq_search TVFs
    (colexec/table_function/ivfpq_create_cpu.go, ivfpq_search_cpu.go;
    pkg/vectorindex/ivfpq/, quantizer/quantizer.go) — train coarse centroids,
    quantize each vector's residual with m sub-quantizer codebooks, search
    with asymmetric distance (query-to-codebook lookup tables) over the
    nprobe nearest coarse buckets.

    Spark-first shape:
    - build: MLlib KMeans for the coarse level (same trainer as IvfIndex);
      residual = vec - centroid via zip_with (JVM); m per-subspace KMeans
      fits produce the codebooks; codes live as one array<int> column. At
      100 TB the code table (id, centroid_id, m small ints) is ~50× smaller
      than the raw vectors and is written partitioned by centroid_id.
    - search: the nprobe LUTs (m × ksub distances, per probed centroid) are
      a few KB — broadcast-joined on centroid_id; ADC distance is
      aggregate(zip_with(codes, lut, (c, l) -> l[c])) — pure JVM
      expressions, no UDF — then TakeOrderedAndProject. Optional refine
      re-ranks an ADC shortlist with exact distances (the reference's
      search flow re-ranks via the base table the same way).
    """

    def __init__(self, coarse: "list[tuple[int, list[float]]]",
                 codebooks: "list[list[list[float]]]", codes: DataFrame,
                 emb_col: str, id_col: str, m: int, dsub: int):
        self.coarse = coarse                # [(centroid_id, center)] driver-held
        self.codebooks = codebooks          # [m][ksub][dsub] driver-held
        self.codes = codes                  # id, emb (for refine), centroid_id, pq_codes
        self.emb_col = emb_col
        self.id_col = id_col
        self.m = m
        self.dsub = dsub

    @classmethod
    def build(cls, items: DataFrame, emb_col: str, id_col: str,
              nlist: int = 8, m: int = 4, ksub: int = 16,
              seed: int = 42, max_iter: int = 20) -> "IvfPqIndex":
        from pyspark.ml.clustering import KMeans
        from pyspark.ml.functions import array_to_vector

        dim = len(items.select(emb_col).first()[0])
        if dim % m:
            raise ValueError(f"dim {dim} not divisible by m {m}")
        dsub = dim // m

        dbl = F.transform(F.col(emb_col), lambda v: v.cast("double"))
        feat = items.withColumn("_emb_d", dbl).withColumn(
            "_features", array_to_vector(F.col("_emb_d"))
        )
        coarse_model = KMeans(
            k=nlist, seed=seed, maxIter=max_iter, featuresCol="_features"
        ).fit(feat)
        coarse = [(i, [float(x) for x in c]) for i, c in enumerate(coarse_model.clusterCenters())]

        spark = items.sparkSession
        cent_df = F.broadcast(
            spark.createDataFrame(
                [(i, c) for i, c in coarse], "centroid_id int, _center array<double>"
            )
        )
        assigned = (
            coarse_model.transform(feat)
            .withColumnRenamed("prediction", "centroid_id")
            .join(cent_df, "centroid_id")
            .withColumn("_resid", F.zip_with("_emb_d", "_center", lambda a, b: a - b))
        )
        for i in range(m):
            assigned = assigned.withColumn(
                f"_sub{i}", array_to_vector(F.slice("_resid", i * dsub + 1, dsub))
            )
        # training scans the residuals m+1 times — cache for the build only
        assigned = assigned.persist()
        assigned.count()  # materialize once so the m concurrent fits share it
        # r13 (guide §2.4): the m sub-quantizer fits are independent KMeans
        # jobs whose cost at build time is driver job-round latency, not
        # executor work — submit them from parallel threads so the rounds
        # overlap (results identical: each fit is deterministic given its
        # seed and the persisted residuals; wall for m=8 drops ~4×).
        from concurrent.futures import ThreadPoolExecutor

        def _fit_sub(i: int):
            return KMeans(
                k=ksub, seed=seed + 1 + i, maxIter=max_iter,
                featuresCol=f"_sub{i}", predictionCol=f"_code{i}",
            ).fit(assigned)

        with ThreadPoolExecutor(max_workers=m) as pool:
            sub_models = list(pool.map(_fit_sub, range(m)))
        codebooks: "list[list[list[float]]]" = []
        coded = assigned
        for i, sub_model in enumerate(sub_models):
            codebooks.append([[float(x) for x in c] for c in sub_model.clusterCenters()])
            coded = sub_model.transform(coded)
        codes = coded.select(
            *items.columns,  # base columns ride along (reference keeps the base table for resolve/re-rank)
            "centroid_id",
            F.array(*[F.col(f"_code{i}") for i in range(m)]).alias("pq_codes"),
        )
        # pin the (small) code table, then drop the training cache
        codes = codes.persist()
        codes.count()
        assigned.unpersist(blocking=False)
        return cls(coarse, codebooks, codes, emb_col, id_col, m, dsub)

    def _luts(self, query_vec: "list[float]", probe_ids: "list[int]"):
        """Per-probed-centroid ADC tables: lut[i][j] = ||q_resid_sub_i - cb[i][j]||²."""
        luts = []
        centers = dict(self.coarse)
        for cid in probe_ids:
            resid = [q - c for q, c in zip(query_vec, centers[cid])]
            lut = []
            for i in range(self.m):
                sub = resid[i * self.dsub : (i + 1) * self.dsub]
                lut.append([
                    sum((a - b) ** 2 for a, b in zip(sub, code))
                    for code in self.codebooks[i]
                ])
            luts.append((cid, lut))
        return luts

    def search(self, query_vec: "list[float]", k: int, nprobe: int = 4,
               refine: int = 4) -> DataFrame:
        """ADC top-k over the nprobe nearest coarse buckets; with refine>0,
        shortlist refine*k by ADC then re-rank exactly (ivfpq_search_cpu.go
        searches quantized then resolves against stored vectors)."""
        import math

        def d2(c):
            return sum((a - b) ** 2 for a, b in zip(c, query_vec))

        probe_ids = [cid for cid, _ in sorted(self.coarse, key=lambda t: d2(t[1]))[:nprobe]]
        spark = self.codes.sparkSession
        lut_df = F.broadcast(
            spark.createDataFrame(
                self._luts(query_vec, probe_ids),
                "centroid_id int, _lut array<array<double>>",
            )
        )
        # centroid_id filter prunes partitions when the code table is written
        # partitioned by centroid_id (same pruning story as IVF-flat).
        adc = (
            self.codes.filter(F.col("centroid_id").isin(probe_ids))
            .join(lut_df, "centroid_id")
            .withColumn(
                "adc_distance",
                F.sqrt(
                    F.aggregate(
                        F.zip_with(
                            "pq_codes", "_lut",
                            lambda c, l: F.element_at(l, c.cast("int") + F.lit(1)),
                        ),
                        F.lit(0.0),
                        lambda acc, x: acc + x,
                    )
                ),
            )
        )
        if not refine:
            return (
                adc.orderBy(F.asc("adc_distance"), F.asc(self.id_col))
                .limit(k)
                .withColumnRenamed("adc_distance", "distance")
            )
        short = adc.orderBy(F.asc("adc_distance"), F.asc(self.id_col)).limit(refine * k)
        return knn_exact(short, self.emb_col, query_vec, k, self.id_col)

    def unpersist(self) -> None:
        self.codes.unpersist(blocking=False)
