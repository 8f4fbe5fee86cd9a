"""Central query registry.

Every implemented operator/query from SURVEY.md §2 registers here with:
  - a Spark callable  (spark, sf_dir) -> DataFrame   (the engine under test)
  - an oracle SQL string (ANSI SQL DuckDB runs on the same parquet views), or
    None for genuinely non-SQL-expressible ops (driver then records a weaker
    rows-only check).

``__spark_entry__.py`` (driver contract), ``tests/`` and ``bench.py`` all
consume this single registry, so a query is simultaneously gated by pytest,
the driver's DuckDB hash-compare, and the benchmark.

Determinism discipline (hash-match requirement):
  - float aggregations go through exact DECIMAL arithmetic, then CAST to
    DOUBLE — bit-identical across Spark and DuckDB regardless of partial-agg
    ordering (double summation order is non-deterministic under parallelism;
    decimal summation is exact).
  - every ORDER BY used for top-k/limit has a unique tie-break key.
  - column names are aliased identically on both sides (driver sorts columns
    by name before hashing).
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Callable

from pyspark.sql import DataFrame, SparkSession


@dataclass(frozen=True)
class Query:
    name: str
    fn: Callable[[SparkSession, str], DataFrame]
    oracle: "str | None"
    tags: tuple = ()
    doc: str = ""


REGISTRY: "dict[str, Query]" = {}


def register(name: str, oracle: "str | None", tags: tuple = (), doc: str = ""):
    """Decorator: register a (spark, sf_dir) -> DataFrame callable.

    The driver contract hands a query an ARBITRARY SparkSession, not our
    get_spark one, and no session starts with the SQL-text function surface
    (mo_*, h3_*, …) registered. A query whose SQL text calls those names
    runs it through ``sql_surface.run_sql``, which registers them on the
    session it is given (round-4 red row: UNRESOLVED_ROUTINE mo_conv)."""

    def deco(fn):
        if name in REGISTRY:
            raise ValueError(f"duplicate query name {name!r}")
        REGISTRY[name] = Query(name=name, fn=fn, oracle=oracle, tags=tags, doc=doc)
        return fn

    return deco


# --- driver-window ordering -------------------------------------------------
# The correctness driver verifies the FIRST 50 entries of queries() per round.
# Round 1 verified tpch/relational/window (import order); to convert the
# still-unverified families into hard-signal rows, load_all() returns the
# registry re-ordered: a fixed set of TPC-H sentinels (regression canaries),
# then this round's new operators, then never-driver-verified families in
# priority order, with the already-green round-1 families at the back.
# Rotate _MODULE_PRIORITY between rounds to sweep the remaining families.

# Round 5: the r04 window drained the never-verified ledger, so sentinels
# return — tpch regression canaries plus the r04-stale/red re-pins the r4
# verdict names (#2/#3/#4): the fulltext boolean quartet (only registered
# queries with zero driver history), the two fixed red rows, the re-built
# S2 pair, and this round's new queries. The tail of the 50-row window
# refreshes the oldest r01-only greens (plan-fragility check).
_SENTINELS: "tuple[str, ...]" = ()

# The 50 rows of the r13 driver window (r12 VERDICT ask #1): every query
# whose CODE changed in the r12 optimization round but sat outside the r12
# window (the semantic rewrites whose only r12 evidence was pytest + the
# full in-round sims — tpch_q18, the dedup family rewrites, the fulltext
# boolean/natural family, the geo staging + distance join, the four stream
# rows), plus every path round 13 touches (minhash/simhash/pipeline/
# recursive/bvt replay/ivf — rows-only rows included so the driver at
# least re-executes them), plus the r12-rewritten rows kept window-resident
# (q21/q2/q17/agg_basic) so this round's changes under them stay gated,
# plus bench rows whose last pin predates r12 (q10, knn, text, timewin).
_HEAD: "tuple[str, ...]" = (
    # -- r12 semantic rewrites with no driver hash pin yet (20) --
    "tpch_q18",
    "dedup_ngram_jaccard",
    "dedup_exact_keep",
    "dedup_components",
    "fulltext_natural_bm25",
    "geo_distance_join",
    "geo_polygon_battery",
    "geo_polygon_predicates",
    "geo_linestring_metrics",
    "stream_tumbling_counts",
    "stream_static_join",
    "stream_stream_join",
    "stream_stateful_user_stats",
    "fulltext_boolean_phrase",
    "fulltext_boolean_wildcard",
    "fulltext_boolean_weights",
    "fulltext_boolean_group",
    "fulltext_natural_tfidf",
    "fulltext_cjk",
    "fulltext_cjk_dict",
    # -- r13 touched paths (oracle-gated) --
    "pipeline_clean_corpus",
    "recursive_cte_hierarchy",
    # -- r13 touched paths (rows-only: driver re-executes them) --
    "dedup_minhash_lsh",
    "dedup_simhash",
    "ivf_search",
    "ivfpq_search",
    # -- r12 rewrites kept window-resident + r13 guard rows --
    "tpch_q21",
    "tpch_q2",
    "tpch_q17",
    "agg_basic",
    "fulltext_boolean",
    "tpch_q9",
    # -- bvt replay layer (re-pin if r13 touches the replay machinery) --
    "bvt_select_battery",
    "bvt_operator_battery",
    "bvt_subquery_battery",
    "bvt_union_battery",
    "bvt_distinct_battery",
    "bvt_expression_battery",
    "bvt_operator_scripts_battery",
    "bvt_join_battery",
    # -- bench rows last pinned before r12 --
    "tpch_q10",
    "knn_exact_topk",
    "text_token_stats",
    "timewin_tumbling",
    # -- r13 scaled-long revenue rewrite (tpch.py _rev4_col/_sum_rev): the
    # directly-rewritten rows outrank family-adjacent guards for the 50-row
    # cap (q10 is already window-resident above) --
    "tpch_q1",
    "tpch_q3",
    "tpch_q5",
    "tpch_q7",
    "tpch_q14",
    # -- regex-count text scorers (functions/text.py *_rx_sql):
    # text_token_stats + pipeline_clean_corpus are window-resident above;
    # text_lang_guess pins the langid rewrite (text_quality_filter shares
    # the same rx primitives and stays gated by the full-registry sim) --
    "text_lang_guess",
)

# Module order for everything else (module name without package prefix).
# Unlisted modules sort after listed ones, keeping registration order.
# Round-3 rotation: never-driver-verified families first (scalar batteries,
# timeseries, table funcs fill the 50-row window after _HEAD); the families
# below the fold rotate to the front in round 4.
# ROUND-4 PLAN: _HEAD = sentinels + bvt_expression_battery,
# bvt_operator_scripts_battery, bvt_join_battery (new baked categories,
# never driver-verified) + any new round-4 ops; then _MODULE_PRIORITY =
# streaming_mm tail (stream_sliding_activity/static_join/stateful_user_
# stats, multimodal_*), advanced (11), geo_bitmap (10), aggregates tail
# (agg_corr_exact/collect_json/approx_percentile/stddev_exact) — that
# converts every remaining never-verified ledger line.
_MODULE_PRIORITY = (
    "scalar_funcs",
    "timeseries",
    "table_funcs",
    "streaming_mm",
    "advanced",
    "geo_bitmap",
    "aggregates",
    "bvt",
    # driver-verified families last:
    "dedup",
    "vector",
    "textops",
    "json_ops",
    "tpch",
    "tpch2",
    "relational",
    "window",
)


def _driver_order(registry: "dict[str, Query]") -> "dict[str, Query]":
    rank = {m: i for i, m in enumerate(_MODULE_PRIORITY)}
    idx = {name: i for i, name in enumerate(registry)}  # registration order
    out: "dict[str, Query]" = {}
    for name in (*_SENTINELS, *_HEAD):
        if name in registry:
            out[name] = registry[name]
    rest = sorted(
        (n for n in registry if n not in out),
        key=lambda n: (
            rank.get(registry[n].fn.__module__.rsplit(".", 1)[-1], len(rank)),
            idx[n],
        ),
    )
    for n in rest:
        out[n] = registry[n]
    return out


def load_all() -> "dict[str, Query]":
    """Import every query module (side-effect: fills REGISTRY); return it in
    driver-window priority order (see _driver_order)."""
    from matrixone_spark.queries import (  # noqa: F401
        tpch,
        tpch2,
        relational,
        window,
        aggregates,
        scalar_funcs,
        json_ops,
        timeseries,
        vector,
        textops,
        dedup,
        table_funcs,
        streaming_mm,
        advanced,
        geo_bitmap,
        geofull,
        bvt,
        mlops,
    )

    return _driver_order(REGISTRY)
