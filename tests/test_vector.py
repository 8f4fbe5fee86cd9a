"""Vector operator tests beyond the oracle gate: IVF recall vs exact KNN
(reference defines approx-index correctness as recall, SURVEY §7 'vector
index recall parity')."""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from matrixone_spark.catalog import Catalog
from matrixone_spark.obs import executed_plan
from matrixone_spark.operators.knn import IvfIndex, knn_exact
from tests.conftest import SF_DIR

QVEC = [float(i % 7) / 7.0 for i in range(64)]


def test_ivf_recall_vs_exact(spark):
    e = Catalog(spark, SF_DIR).table("embeddings")
    exact_ids = {r.vec_id for r in knn_exact(e, "embedding", QVEC, 10, "vec_id").collect()}
    idx = IvfIndex.build(e, "embedding", "vec_id", n_centroids=8)
    approx_ids = {r.vec_id for r in idx.search(QVEC, 10, nprobe=3).collect()}
    recall = len(exact_ids & approx_ids) / len(exact_ids)
    assert recall >= 0.9, f"IVF recall {recall} below 0.9 (exact={exact_ids}, approx={approx_ids})"


def test_ivf_full_probe_equals_exact(spark):
    """nprobe = n_centroids must reproduce exact KNN precisely."""
    e = Catalog(spark, SF_DIR).table("embeddings")
    exact_ids = [r.vec_id for r in knn_exact(e, "embedding", QVEC, 5, "vec_id").collect()]
    idx = IvfIndex.build(e, "embedding", "vec_id", n_centroids=4)
    approx_ids = [r.vec_id for r in idx.search(QVEC, 5, nprobe=4).collect()]
    assert exact_ids == approx_ids


def test_lsh_ann_recall_vs_exact(spark):
    """HNSW-contract ANN (LshAnnIndex): recall ≥0.9 against exact KNN —
    same gate the IVF path carries."""
    from matrixone_spark.operators.knn import LshAnnIndex

    e = Catalog(spark, SF_DIR).table("embeddings")
    exact_ids = {r.vec_id for r in knn_exact(e, "embedding", QVEC, 10, "vec_id").collect()}
    idx = LshAnnIndex.build(e, "embedding", "vec_id", bucket_length=2.0, num_tables=8)
    try:
        approx = idx.search(QVEC, 10).collect()
        approx_ids = {r.vec_id for r in approx}
        recall = len(exact_ids & approx_ids) / len(exact_ids)
        assert recall >= 0.9, f"LSH recall {recall} (exact={exact_ids}, approx={approx_ids})"
        # distances must be real L2 values, ascending
        dists = [r.distance for r in approx]
        assert dists == sorted(dists)
    finally:
        idx.unpersist()


def test_knn_exact_plan_has_no_shuffle_before_topk(spark):
    """ProductL2 parity must plan as TakeOrderedAndProject, not sort+shuffle."""
    e = Catalog(spark, SF_DIR).table("embeddings")
    plan = executed_plan(knn_exact(e, "embedding", QVEC, 10, "vec_id"))
    assert "TakeOrderedAndProject" in plan, plan


def test_vec_base64_dtypes_and_errors(spark):
    from pyspark.sql import functions as F
    from matrixone_spark.functions.vector import vec_from_base64, vec_to_base64
    import base64, struct

    df = spark.createDataFrame([([1.5, -2.25, 0.125],)], "v array<double>")
    # f64 roundtrip is exact
    r = df.select(vec_from_base64(vec_to_base64("v", "float64"), "float64").alias("d")).collect()[0].d
    assert r == [1.5, -2.25, 0.125]
    # known bytes: little-endian f32 of [1.0] is 0000803f
    b = base64.b64encode(struct.pack("<f", 1.0)).decode()
    got = spark.range(1).select(vec_from_base64(F.lit(b), "float32").alias("d")).collect()[0].d
    assert got == [1.0]
    # int8 path
    bi = base64.b64encode(struct.pack("bbb", -1, 0, 7)).decode()
    gi = spark.range(1).select(vec_from_base64(F.lit(bi), "int8").alias("d")).collect()[0].d
    assert gi == [-1.0, 0.0, 7.0]
    # invalid base64 and wrong-multiple length -> NULL
    bad = spark.createDataFrame([("!!notb64!!",), (base64.b64encode(b"abc").decode(),)], "s string")
    out = bad.select(vec_from_base64("s", "float32").alias("d")).collect()
    assert out[0].d is None and out[1].d is None


def test_compress_mysql_layout(spark):
    from pyspark.sql import functions as F
    from matrixone_spark.functions.mysql import compress, uncompress, uncompressed_length
    import struct, zlib

    r = spark.range(1).select(
        compress(F.lit("hello hello hello")).alias("c"),
        uncompress(compress(F.lit("hello hello hello"))).cast("string").alias("rt"),
        uncompressed_length(compress(F.lit("hello hello hello"))).alias("n"),
        compress(F.lit("")).alias("empty"),
        uncompress(F.lit(b"garbage here")).alias("bad"),
    ).collect()[0]
    assert r.rt == "hello hello hello" and r.n == 17
    # MySQL layout: LE length prefix then a real zlib stream
    assert struct.unpack("<I", bytes(r.c[:4]))[0] == 17
    assert zlib.decompress(bytes(r.c[4:])) == b"hello hello hello"
    assert bytes(r.empty) == b"" and r.bad is None


def test_ivfpq_recall_vs_exact(spark):
    """IVF-PQ (coarse KMeans + product-quantized residuals + ADC search with
    exact refine): recall ≥0.9 against exact KNN — the same gate the
    reference applies to its approximate indexes."""
    from matrixone_spark.operators.knn import IvfPqIndex

    e = Catalog(spark, SF_DIR).table("embeddings")
    exact_ids = {r.vec_id for r in knn_exact(e, "embedding", QVEC, 10, "vec_id").collect()}
    idx = IvfPqIndex.build(e, "embedding", "vec_id", nlist=8, m=8, ksub=16)
    try:
        approx_ids = {r.vec_id for r in idx.search(QVEC, 10, nprobe=4, refine=8).collect()}
    finally:
        idx.unpersist()
    recall = len(exact_ids & approx_ids) / len(exact_ids)
    assert recall >= 0.9, f"IVF-PQ recall {recall} (exact={exact_ids}, approx={approx_ids})"


def test_ivfpq_adc_only_recall(spark):
    """Pure ADC (no exact refine) still ranks well enough to put most true
    neighbors in a 4x shortlist — guards the LUT/codebook math itself."""
    from matrixone_spark.operators.knn import IvfPqIndex

    e = Catalog(spark, SF_DIR).table("embeddings")
    exact_ids = {r.vec_id for r in knn_exact(e, "embedding", QVEC, 10, "vec_id").collect()}
    idx = IvfPqIndex.build(e, "embedding", "vec_id", nlist=4, m=8, ksub=16)
    try:
        short = {r.vec_id for r in idx.search(QVEC, 40, nprobe=4, refine=0).collect()}
    finally:
        idx.unpersist()
    hit = len(exact_ids & short) / len(exact_ids)
    assert hit >= 0.8, f"ADC shortlist hit-rate {hit} (exact={exact_ids})"


def test_vec_from_base64_dtype_variants(spark):
    """vecf64/vecf16/vecbf16/vecint8_from_base64 (function_id.go names):
    known byte patterns decode to known values."""
    import base64
    import numpy as np
    from matrixone_spark.functions import vector as V

    vals = [1.5, -2.0, 0.25]
    cases = {
        "f64": (base64.b64encode(np.array(vals, "<f8").tobytes()).decode(), V.vecf64_from_base64),
        "f32": (base64.b64encode(np.array(vals, "<f4").tobytes()).decode(), V.vecf32_from_base64),
        "f16": (base64.b64encode(np.array(vals, "<f2").tobytes()).decode(), V.vecf16_from_base64),
        "i8": (base64.b64encode(np.array([1, -2, 3], "i1").tobytes()).decode(), V.vecint8_from_base64),
    }
    # bf16: float32 1.5 == 0x3FC0_0000 -> bf16 0x3FC0
    bf16 = base64.b64encode(np.array([0x3FC0, 0xC000], "<u2").tobytes()).decode()
    df = spark.createDataFrame(
        [(cases["f64"][0], cases["f32"][0], cases["f16"][0], cases["i8"][0], bf16)],
        "c64 string, c32 string, c16 string, ci8 string, cbf string",
    )
    r = df.select(
        cases["f64"][1]("c64").alias("v64"),
        cases["f32"][1]("c32").alias("v32"),
        cases["f16"][1]("c16").alias("v16"),
        cases["i8"][1]("ci8").alias("vi8"),
        V.vecbf16_from_base64("cbf").alias("vbf"),
    ).collect()[0]
    assert r.v64 == [1.5, -2.0, 0.25] and r.v32 == [1.5, -2.0, 0.25]
    assert r.v16 == [1.5, -2.0, 0.25] and r.vi8 == [1.0, -2.0, 3.0]
    assert r.vbf == [1.5, -2.0]


# Edge inputs for the vector builders: zero vector, NULL array, one element,
# negatives; the query literal's reprs use exponents and a signed zero.
_EDGE_ROWS = [
    (0, [0.0, 0.0, 0.0]),
    (1, None),
    (2, [3.5]),
    (3, [-1.0, 2.0, -3.0]),
    (4, [1e-3, -2.5, 4.0]),
]
_EDGE_Q = [1e-300, 1e16, -0.0]


def _np_spec(v, q):
    """NumPy reference: in-order double folds (np.add.reduce over a Python
    list of floats sums left to right for these lengths), NULL in → NULL
    out, division by a zero norm → NULL under non-ANSI semantics."""
    import numpy as np

    if v is None:
        return None
    a = np.array(v, dtype=np.float64)
    l2 = float(np.sqrt(sum(x * x for x in a)))
    out = {
        "dims": len(v),
        "l1": float(sum(abs(x) for x in a)),
        "l2sq": float(sum(x * x for x in a)),
        "l2": l2,
        "tot": float(sum(x for x in a)),
        "sub": v[1:3],
        "sub_tail": v[1:],
        "norm": [float(x / l2) if l2 != 0 else None for x in a],
    }
    if len(v) == len(q):
        b = np.array(q, dtype=np.float64)
        dot = float(sum(x * y for x, y in zip(a, b)))
        qn = float(np.sqrt(sum(y * y for y in b)))
        den = l2 * qn
        cos = dot / den if den != 0 else None
        out.update({
            "ip": -dot,
            "l2dsq": float(sum((x - y) * (x - y) for x, y in zip(a, b))),
            "l2d": float(np.sqrt(sum((x - y) * (x - y) for x, y in zip(a, b)))),
            "cos": cos,
            "cosd": None if cos is None else 1 - cos,
        })
    return out


def test_vector_builders_match_numpy_spec(spark):
    from matrixone_spark.functions import vector as V

    df = spark.createDataFrame(_EDGE_ROWS, "id int, v array<float>")
    q = V.lit_vector_sql(_EDGE_Q)
    exprs = {
        "dims": V.vector_dims_sql("v"),
        "l1": V.l1_norm_sql("v"),
        "l2sq": V.l2_norm_sq_sql("v"),
        "l2": V.l2_norm_sql("v"),
        "tot": V.summation_sql("v"),
        "sub": V.subvector_sql("v", 2, 2),
        "sub_tail": V.subvector_sql("v", 2),
        "norm": V.normalize_l2_sql("v"),
        "ip": V.inner_product_sql("v", q),
        "l2dsq": V.l2_distance_sq_sql("v", q),
        "l2d": V.l2_distance_sql("v", q),
        "cos": V.cosine_similarity_sql("v", q),
        "cosd": V.cosine_distance_sql("v", q),
    }
    got = df.selectExpr("id", "v", f"{q} AS q", *[f"{e} AS {k}" for k, e in exprs.items()])
    rows = sorted(got.collect(), key=lambda r: r.id)
    assert len(rows) == len(_EDGE_ROWS)
    # the literal holds exactly the given doubles, signed zero included
    assert rows[0].q == _EDGE_Q and math.copysign(1.0, rows[0].q[2]) == -1.0
    for r in rows:
        want = _np_spec(r.v, _EDGE_Q)
        for k in exprs:
            if want is None:
                assert r[k] is None or k == "dims" and r[k] == -1, (k, r.id, r[k])
            elif k in want:
                assert r[k] == want[k], (k, r.id, r[k], want[k])
    zero = rows[0]
    assert zero.norm == [None, None, None] and zero.cos is None
