"""ONNX model inference: batched scoring over vector columns.

Reference: ``onnx_run(model, input, input_shape, output_shape)`` evaluates an
ONNX model inside the engine (function/func_builtin_onnx.go:38-47 — model is
varbinary bytes or a datalink, input a JSON flat array, output JSON), with one
``onnx.Session`` cached per expression instance and reused across rows
(func_builtin_onnx.go:52-57; runtime ``pkg/mlai/onnx/``).

Spark-first shape: a pandas UDF receives Arrow batches of input vectors and
scores the whole batch against ONE session — the session is constructed once
per UDF closure (cloudpickle ships it to each Python worker), so a
1000-executor job runs bounded concurrent sessions, each amortising the model
load over entire partitions — the same per-expression caching the reference
does per pipeline operator.

``onnxruntime`` is not installed in this container, so the runtime is
injectable (`set_onnx_runtime`); unset, models of the form
``b"linear:<seed>:<dim>"`` get a deterministic fake linear scorer that keeps
the plumbing (Arrow batching, schema, NULL handling, session reuse) real and
the results oracle-expressible.  The fake computes

    score(x) = sum_j x_j * w_j + bias,
    w_j  = ((seed * (j+1)) % 97) / 97.0 - 0.5        (j 0-based)
    bias = seed / 10.0

with a sequential left-to-right float64 fold, matching DuckDB's
``list_sum(list_transform(v, (x,i) -> ...))`` and Spark's ``aggregate`` fold
bit-for-bit.
"""

from __future__ import annotations

from typing import Callable

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import DoubleType

from matrixone_spark.functions import col_of

# runtime: model_bytes -> (list[list[float]] -> list[float|None])
_runtime: "dict[str, Callable | None]" = {"load": None}


def set_onnx_runtime(load: "Callable | None" = None) -> None:
    """Inject a session factory: ``load(model_bytes)`` returns a batch scorer
    ``vectors -> scores``. Unset → try onnxruntime, else the deterministic
    fake linear model."""
    _runtime["load"] = load


def _load_session(model: bytes) -> Callable:
    if _runtime["load"] is not None:
        return _runtime["load"](model)
    try:  # real path when the wheel is present (not in this container)
        import numpy as np
        import onnxruntime as ort  # type: ignore

        sess = ort.InferenceSession(model)
        in_name = sess.get_inputs()[0].name
        out_name = sess.get_outputs()[0].name

        def run(vectors: "list[list[float]]") -> "list[float]":
            x = np.asarray(vectors, dtype=np.float32)
            out = sess.run([out_name], {in_name: x})[0]
            return [float(v) for v in out.reshape(len(vectors), -1)[:, 0]]

        return run
    except ImportError:
        return fake_linear_session(model)


def fake_linear_session(model: bytes) -> Callable:
    """Deterministic linear scorer for model specs ``b"linear:<seed>:<dim>"``."""
    parts = model.decode("utf-8").split(":")
    if parts[0] != "linear" or len(parts) != 3:
        raise ValueError(
            f"no onnx runtime available and model {model[:32]!r} is not a "
            "'linear:<seed>:<dim>' fake spec; inject one with set_onnx_runtime()"
        )
    seed, dim = int(parts[1]), int(parts[2])
    weights = [((seed * (j + 1)) % 97) / 97.0 - 0.5 for j in range(dim)]
    bias = seed / 10.0

    def run(vectors: "list[list[float]]") -> "list[float | None]":
        out: "list[float | None]" = []
        for v in vectors:
            if v is None:
                out.append(None)
                continue
            acc = 0.0
            for j in range(dim):  # sequential fold == list_sum / aggregate()
                acc += float(v[j]) * weights[j]
            out.append(acc + bias)
        return out

    return run


def onnx_run(input_col, model: bytes) -> Column:
    """onnx_run(model, input) → double score (func_builtin_onnx.go:38).

    ``input_col`` is an array<float> column; the model session is built once
    per Python worker from the closure-captured bytes and reused for every
    Arrow batch (reference caches one session per expression instance)."""
    loader = _runtime["load"]  # capture injected loader, not the module global

    @pandas_udf(DoubleType())
    def udf(vectors: pd.Series) -> pd.Series:
        if loader is not None:
            run = loader(model)
        else:
            run = _load_session(model)
        vals = run([None if v is None else list(v) for v in vectors])
        return pd.Series(vals, dtype="float64")

    return udf(col_of(input_col))


def fake_linear_oracle_expr(vec_sql: str, seed: int, dim: int) -> str:
    """DuckDB expression computing the same fake-linear score (1-based i)."""
    return (
        f"list_sum(list_transform({vec_sql}, (x, i) -> CAST(x AS DOUBLE) * "
        f"(CAST(({seed} * i) % 97 AS DOUBLE) / CAST(97 AS DOUBLE) - 0.5)))"
        f" + CAST({seed} AS DOUBLE) / CAST(10 AS DOUBLE)"
    )
