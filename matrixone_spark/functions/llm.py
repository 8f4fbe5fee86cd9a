"""LLM functions: batched embedding / chat over model endpoints.

Reference: llm_chat(server, addr, model, options, prompt) and
llm_embedding(...) call ollama/openai-compatible endpoints from inside the
engine (function/func_builtin_llm.go:48-66, client pkg/monlp/llm/); onnx_run
evaluates ONNX models (func_builtin_onnx.go).

Spark-first shape: mapInPandas/pandas UDF batches prompts per Arrow batch and
posts ONE request per batch to the endpoint — the unit of parallelism is the
partition, so a 1000-executor job fans out to the model service at controlled
concurrency (repartition(n) = n concurrent clients). No network access exists
in this container, so the transport is stubbed: `set_llm_transport` injects
the HTTP caller; the default deterministic fake keeps pipelines testable and
the plumbing (batching, schema, NULL handling) real.
"""

from __future__ import annotations

import hashlib
import struct
from typing import Callable

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import ArrayType, FloatType, StringType

from matrixone_spark.functions import col_of

EMBED_DIM = 16

# transport: (endpoint, model, list[str]) -> list[list[float]] | list[str]
_transport: "dict[str, Callable | None]" = {"embed": None, "chat": None}


def set_llm_transport(embed=None, chat=None) -> None:
    """Inject real endpoint callers (e.g. requests.post to an
    openai-compatible server). Unset → deterministic fakes."""
    _transport["embed"] = embed
    _transport["chat"] = chat


def fake_embed_batch(endpoint: str, model: str, texts: "list[str]") -> "list[list[float]]":
    """Deterministic stand-in: md5-seeded unit-ish vectors (stable across
    runs/partitions, so downstream similarity ops are testable)."""
    out = []
    for t in texts:
        h = hashlib.md5((model + "\0" + (t or "")).encode("utf-8")).digest()
        vals = [struct.unpack("<h", h[2 * i : 2 * i + 2])[0] / 32768.0 for i in range(8)]
        vals = vals + [-v for v in vals]  # EMBED_DIM=16
        out.append(vals)
    return out


def fake_chat_batch(endpoint: str, model: str, prompts: "list[str]") -> "list[str]":
    return [f"[{model}] echo:" + (p or "")[:48] for p in prompts]


def llm_embedding(text, endpoint: str = "local", model: str = "fake-embed") -> Column:
    """llm_embedding(text) → array<float> (func_builtin_llm.go:61).

    The transport is captured in the UDF closure at Column-construction time —
    module globals don't reach Python worker processes; closures do
    (cloudpickle)."""
    fn = _transport["embed"] or fake_embed_batch

    @pandas_udf(ArrayType(FloatType()))
    def udf(texts: pd.Series) -> pd.Series:
        vals = fn(endpoint, model, [None if pd.isna(t) else t for t in texts])
        return pd.Series(vals)

    return udf(col_of(text))


def llm_chat(prompt, endpoint: str = "local", model: str = "fake-chat") -> Column:
    """llm_chat(prompt) → string (func_builtin_llm.go:48)."""
    fn = _transport["chat"] or fake_chat_batch

    @pandas_udf(StringType())
    def udf(prompts: pd.Series) -> pd.Series:
        return pd.Series(fn(endpoint, model, [None if pd.isna(t) else t for t in prompts]))

    return udf(col_of(prompt))
