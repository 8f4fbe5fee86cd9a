"""Vector/array math — SURVEY §2.8 vector family.

Reference: vecf32/vecf64 column types (pkg/container/types/types.go:99-104)
with kernels in pkg/vectorize/moarray/ — l1_norm, l2_norm, inner_product,
cosine_similarity, l2_distance, cosine_distance, vector_dims, normalize_l2,
summation, subvector (function/func_binary_array_distance_test.go).

Spark-first: embeddings are ArrayType(FloatType) columns; every op below is a
pure array expression (aggregate / transform / zip_with) that runs JVM-side
inside codegen — no UDF, no Python, broadcast-friendly. Elements are cast to
double before reduction; aggregate folds sequentially (index order), so
results are IEEE-deterministic and reproducible across partitionings —
required for the DuckDB hash-gate and for stable KNN ranking at 100 TB.

Each function is one ``*_sql`` builder over SQL operands (column names,
``lit_vector_sql(q)`` literals or any array expression); callers parse the
string once with ``F.expr``/``selectExpr``.
"""

from __future__ import annotations

from pyspark.sql import Column


def lit_vector_sql(vec: "list[float]") -> str:
    """Constant query vector as an array<double> literal. `repr(float)` is
    the shortest exact round-trip decimal and the `D` suffix makes each
    element a DoubleType literal, so the parsed array holds exactly the
    given doubles (one parse call instead of a py4j round-trip per
    element)."""
    return "array({})".format(", ".join(f"{float(v)!r}D" for v in vec))


def _d_sql(col_sql: str) -> str:
    """array<float> → array<double> (widen before arithmetic)."""
    return f"transform({col_sql}, v -> CAST(v AS DOUBLE))"


def _fold_sum_sql(arr_sql: str) -> str:
    """Sequential in-order double sum of an array expression."""
    return f"aggregate({arr_sql}, 0.0D, (acc, v) -> acc + v)"


def _dot_sql(a_sql: str, b_sql: str) -> str:
    return _fold_sum_sql(f"zip_with({_d_sql(a_sql)}, {_d_sql(b_sql)}, (x, y) -> x * y)")


def vector_dims_sql(col_sql: str) -> str:
    """vector_dims(v). Reference: moarray dims."""
    return f"size({col_sql})"


def l1_norm_sql(col_sql: str) -> str:
    """Σ|x_i|. Reference: moarray l1_norm."""
    return _fold_sum_sql(f"transform({_d_sql(col_sql)}, x -> abs(x))")


def l2_norm_sq_sql(col_sql: str) -> str:
    return _fold_sum_sql(f"transform({_d_sql(col_sql)}, x -> x * x)")


def l2_norm_sql(col_sql: str) -> str:
    """sqrt(Σx²). Reference: moarray l2_norm."""
    return f"sqrt({l2_norm_sq_sql(col_sql)})"


def summation_sql(col_sql: str) -> str:
    """Σx_i. Reference: moarray summation."""
    return _fold_sum_sql(_d_sql(col_sql))


def inner_product_sql(a_sql: str, b_sql: str) -> str:
    """−(a·b) — the reference NEGATES the dot product so smaller means
    closer, like its other distances (metric.InnerProduct returns -sum,
    vectorindex/metric/distance_func.go:206)."""
    return f"negative({_dot_sql(a_sql, b_sql)})"


def l2_distance_sq_sql(a_sql: str, b_sql: str) -> str:
    """Σ(a-b)². Reference: l2_distance_sq."""
    return _fold_sum_sql(
        f"zip_with({_d_sql(a_sql)}, {_d_sql(b_sql)}, (x, y) -> (x - y) * (x - y))"
    )


def l2_distance_sql(a_sql: str, b_sql: str) -> str:
    """Euclidean distance. Reference: moarray l2_distance; powers the L2 join
    (colexec/productl2/product_l2.go:70)."""
    return f"sqrt({l2_distance_sq_sql(a_sql, b_sql)})"


def cosine_similarity_sql(a_sql: str, b_sql: str) -> str:
    """a·b / (|a||b|) — the POSITIVE dot here (inner_product carries the
    reference's negated-distance convention). Reference: moarray
    cosine_similarity."""
    return f"{_dot_sql(a_sql, b_sql)} / ({l2_norm_sql(a_sql)} * {l2_norm_sql(b_sql)})"


def cosine_distance_sql(a_sql: str, b_sql: str) -> str:
    """1 - cosine_similarity. Reference: moarray cosine_distance."""
    return f"1 - ({cosine_similarity_sql(a_sql, b_sql)})"


def normalize_l2_sql(col_sql: str) -> str:
    """v / |v|₂ (zero vector → NULL elements, matching reference error-free
    mode). Reference: moarray normalize_l2."""
    n = l2_norm_sql(col_sql)
    return f"transform({_d_sql(col_sql)}, x -> CASE WHEN {n} != 0 THEN x / {n} END)"


def subvector_sql(col_sql: str, start: int, length: "int | None" = None) -> str:
    """subvector(v, start[, len]) — 1-based like the SQL surface.
    Reference: moarray subvector."""
    n = length if length is not None else f"size({col_sql})"
    return f"slice({col_sql}, {int(start)}, {n})"


# --- base64 vector codecs (func_unary.go:5849 VecFromBase64: base64 of the
# raw little-endian element bytes, as produced by to_base64(vec);
# function_id.go vecf32/vecf64/vecf16/vecbf16/vecint8/vecuint8_from_base64).
# Arrow-batched numpy codecs — byte reinterpretation has no Column form. ---

import base64 as _b64

import numpy as _np
import pandas as _pd
from pyspark.sql.functions import pandas_udf as _pandas_udf
from pyspark.sql.types import ArrayType as _ArrayType
from pyspark.sql.types import DoubleType as _DoubleType
from pyspark.sql.types import FloatType as _FloatType
from pyspark.sql.types import StringType as _StringType

_NP_DTYPES = {
    "float32": "<f4",
    "float64": "<f8",
    "float16": "<f2",
    "int8": "i1",
    "uint8": "u1",
}


def vec_to_base64(col, dtype: str = "float32") -> Column:
    """to_base64(vector): base64 of the little-endian element bytes."""
    nd = _NP_DTYPES[dtype]

    @_pandas_udf(_StringType())
    def enc(vs: _pd.Series) -> _pd.Series:
        return _pd.Series(
            [
                None
                if v is None
                else _b64.b64encode(_np.asarray(v, dtype=nd).tobytes()).decode()
                for v in vs
            ],
            dtype="object",
        )

    return enc(col)


def vec_from_base64(col, dtype: str = "float32") -> Column:
    """vecf32_from_base64 et al.: decode base64 → element array (NULL on
    invalid base64 / length not a multiple of the element size — the
    batch analogue of the reference's per-row error)."""
    nd = _NP_DTYPES[dtype]
    out_type = _ArrayType(_FloatType() if dtype in ("float32", "float16") else _DoubleType())
    as_float = dtype in ("float32", "float16")

    @_pandas_udf(out_type)
    def dec(ss: _pd.Series) -> _pd.Series:
        out = []
        for s in ss:
            if s is None:
                out.append(None)
                continue
            try:
                raw = _b64.b64decode(s, validate=True)
            except Exception:
                out.append(None)
                continue
            size = _np.dtype(nd).itemsize
            if len(raw) % size != 0:
                out.append(None)
                continue
            arr = _np.frombuffer(raw, dtype=nd)
            out.append(
                [float(x) for x in arr.astype("<f4" if as_float else "<f8")]
            )
        return _pd.Series(out, dtype="object")

    return dec(col)


def vecf32_from_base64(col) -> Column:
    """function_id.go VECF32_FROM_BASE64."""
    return vec_from_base64(col, "float32")


def vecf64_from_base64(col) -> Column:
    """function_id.go VECF64_FROM_BASE64."""
    return vec_from_base64(col, "float64")


def vecf16_from_base64(col) -> Column:
    """function_id.go VECF16_FROM_BASE64."""
    return vec_from_base64(col, "float16")


def vecbf16_from_base64(col) -> Column:
    """function_id.go VECBF16_FROM_BASE64 (bfloat16 = float32 with the
    trailing 16 mantissa bits dropped; numpy lacks bf16, decode widens via
    uint16<<16 bit-reinterpretation)."""
    import numpy as np

    @_pandas_udf(_ArrayType(_FloatType()))
    def dec(ss: _pd.Series) -> _pd.Series:
        out = []
        for s in ss:
            if s is None:
                out.append(None)
                continue
            try:
                raw = _b64.b64decode(s, validate=True)
            except Exception:
                out.append(None)
                continue
            if len(raw) % 2 != 0:
                out.append(None)
                continue
            u16 = np.frombuffer(raw, dtype="<u2").astype(np.uint32) << 16
            out.append([float(x) for x in u16.view(np.float32)])
        return _pd.Series(out, dtype="object")

    return dec(col)


def vecint8_from_base64(col) -> Column:
    """function_id.go VECINT8_FROM_BASE64."""
    return vec_from_base64(col, "int8")


def vecuint8_from_base64(col) -> Column:
    """function_id.go VECUINT8_FROM_BASE64."""
    return vec_from_base64(col, "uint8")
