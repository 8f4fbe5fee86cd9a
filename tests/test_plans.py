"""Plan-shape regression gates: the optimizations PERF.md claims must stay
in the executed plans (broadcasts, pushdown, pruning, no-shuffle top-k)."""

from __future__ import annotations

import re

from matrixone_spark.functions.sql_surface import run_sql
from matrixone_spark.obs import executed_plan, final_plan
from matrixone_spark.queries import load_all
from tests.conftest import SF_DIR


def _plan(spark, name: str) -> str:
    return executed_plan(load_all()[name].fn(spark, SF_DIR))


def _lambda_bodies(plan: str) -> "list[str]":
    """The argument text of every ``lambdafunction(...)`` in ``plan``."""
    bodies = []
    for m in re.finditer(r"lambdafunction\(", plan):
        depth, i = 1, m.end()
        while depth:
            depth += {"(": 1, ")": -1}.get(plan[i], 0)
            i += 1
        bodies.append(plan[m.end() : i - 1])
    return bodies


def test_q5_broadcasts_dims_after_aqe(spark):
    """Bounded dims broadcast statically; supplier-sized frames convert to
    broadcast at runtime via AQE at this SF (and stay shuffled at 100 TB —
    the point of not forcing them). Assert on the POST-execution final plan."""
    df = load_all()["tpch_q5"].fn(spark, SF_DIR)
    df.collect()
    plan = executed_plan(df)
    assert plan.count("BroadcastHashJoin") >= 4, plan
    # fact-fact joins (lineitem⋈orders) may legitimately stay sort-merge
    assert plan.count("SortMergeJoin") <= 2, plan


def test_q6_pushdown_and_pruning(spark):
    plan = _plan(spark, "tpch_q6")
    scan = plan.split("FileScan")[1]
    assert "PushedFilters: [IsNotNull(l_shipdate)" in scan, scan[:400]
    # column pruning: only the 4 needed columns in ReadSchema
    m = re.search(r"ReadSchema: struct<([^>]*)>", scan)
    cols = m.group(1).count(":") if m else 99
    assert cols == 4, scan[:400]


def test_knn_plans_take_ordered_no_exchange(spark):
    plan = _plan(spark, "knn_exact_topk")
    assert "TakeOrderedAndProject" in plan
    assert "Exchange" not in plan


def test_aggregates_are_two_phase(spark):
    # partial→merge split (Group→MergeGroup parity); physical flavor may be
    # Hash- or SortAggregate depending on buffer types
    plan = _plan(spark, "agg_basic")
    assert "merge_count" in plan or "partial_count" in plan, plan
    assert plan.count("Aggregate(") >= 2, plan
    plan_q1 = _plan(spark, "tpch_q1")
    assert "HashAggregate" in plan_q1, plan_q1


def test_sql_join_hints_respected(spark):
    """Optimizer hints (BVT hint/; reference parses MySQL-style optimizer
    hints): Spark SQL comment hints steer the physical join strategy."""
    from matrixone_spark.engine import Engine

    eng = Engine(spark)
    eng.load(SF_DIR)
    q = (
        "SELECT /*+ {h} */ COUNT(*) AS n FROM orders o "
        "JOIN customer c ON o.o_custkey = c.c_custkey"
    )
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        # kill auto-broadcast so only the hint can produce a broadcast join
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        bcast = eng.sql(q.format(h="BROADCAST(c)"))
        plan = executed_plan(bcast)
        assert "BroadcastHashJoin" in plan, plan
        merge = eng.sql(q.format(h="MERGE(c)"))
        plan_m = executed_plan(merge)
        assert "SortMergeJoin" in plan_m, plan_m
        assert bcast.first().n == merge.first().n > 0
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_bvt_battery_constant_folds_no_scan(spark):
    """The BVT batteries must compile to constant-folded one-row unions —
    zero parquet scans, values computed at optimization time."""
    plan = _plan(spark, "bvt_select_battery")
    assert "Scan parquet" not in plan
    assert "OneRowRelation" in plan


def test_s2_bucket_join_is_single_shuffle_equi_join(spark):
    """The S2-bucketed spatial join must plan as an equi-join on the cell id
    (bounded-key shuffle), never a cross join."""
    plan = _plan(spark, "geo_s2_bucket_join")
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan
    assert plan.count("Scan parquet") == 2


def test_q2_q17_q18_single_fact_pass(spark):
    """r12 rewrites: the correlated/HAVING aggregate rides the one fact scan
    (window or reused aggregate) instead of a second lineitem scan+agg."""
    for name, marker in (
        ("tpch_q2", "Window"),    # best-price-per-part as window min
        ("tpch_q17", "Window"),   # 20%-of-avg threshold as window
        ("tpch_q18", None),       # HAVING aggregate IS the output aggregate
    ):
        plan = _plan(spark, name)
        n_li = len(re.findall(r"FileScan parquet[^\n]*lineitem", plan))
        assert n_li == 1, (name, n_li, plan[:600])
        if marker:
            assert marker in plan, (name, plan[:600])
    assert "LeftSemi" not in _plan(spark, "tpch_q18")


def test_agg_basic_hash_aggregate_over_scan(spark):
    """r12: the string max is split off, so the full-table branch must stay
    a 2-phase HashAggregate — a SortAggregate (with its full-table Sort)
    may survive only over the tiny distinct-pairs intermediate, never
    directly over the parquet scan."""
    plan = _plan(spark, "agg_basic")
    assert "HashAggregate" in plan, plan[:600]
    for frag in plan.split("SortAggregate")[1:]:
        # the subtree below a SortAggregate must aggregate an aggregated
        # input (the pairs frame), not the raw file scan: a scan directly
        # under it would mean the optimizer re-fused the string max
        head = frag[:2000]
        assert "HashAggregate" in head or "FileScan" not in head, head


def test_fulltext_boolean_single_postings_scan(spark):
    """r12: single-token boolean leaves share ONE postings probe (explode of
    matched leaf indices) instead of one scan + distinct exchange per leaf.
    4 leaves => the executed plan holds at most 2 postings scans (the probe
    subtree is referenced twice: df computation + wide pivot)."""
    from matrixone_spark.catalog import Catalog
    from matrixone_spark.operators.fulltext import FullTextIndex

    d = Catalog(spark, SF_DIR).table("documents")
    idx = FullTextIndex.build_cached(d, "doc_id", "text")
    df = idx.match_pattern("table <query >spark ~slow", algo="tfidf")
    final = final_plan(df)
    assert final.count("InMemoryTableScan") <= 2, final[:800]
    assert "Generate" in final, final[:800]  # the explode probe


def test_simhash_pairs_single_signature_subtree(spark):
    """r12: pair expansion through per-block posting lists computes the
    64-aggregate signature subtree once (the block self-join computed it
    twice). One corpus scan in the executed plan."""
    from pyspark.sql import functions as F

    from matrixone_spark.catalog import Catalog
    from matrixone_spark.operators.dedup import simhash_pairs

    d = Catalog(spark, SF_DIR).table("documents").filter(F.col("doc_id") < 60)
    df = simhash_pairs(d, "doc_id", "text", max_hamming=10)
    final = final_plan(df)
    n_scans = len(re.findall(r"FileScan parquet[^\n]*documents", final))
    assert n_scans == 1, (n_scans, final[:800])


def test_search_scan_stages_do_per_row_work_once(spark, monkeypatch):
    """Each document is tokenized, and regex-scored, once per row:
    - pipeline_clean_corpus's gate reads 5 staged regex-count primitives
      (a gate pushed through a plain projection inlines the composite
      scores into the FilterExec, which has no subexpression elimination:
      26 passes);
    - text_lang_guess keeps its 4 stopword scores in their own projection;
    - dedup_ngram_jaccard and the shingle sets dedup_minhash_lsh
      checkpoints split the text once: no lambda body re-splits it per
      shingle, and no inferred explode filter evaluates the shingles
      twice."""
    from pyspark.sql.classic.dataframe import DataFrame

    checkpointed = []
    real = DataFrame.localCheckpoint

    def spy(self, *args, **kwargs):
        checkpointed.append(self)
        return real(self, *args, **kwargs)

    monkeypatch.setattr(DataFrame, "localCheckpoint", spy)
    registry = load_all()
    plans = {
        name: final_plan(registry[name].fn(spark, SF_DIR))
        for name in (
            "pipeline_clean_corpus", "text_lang_guess", "dedup_ngram_jaccard",
            "dedup_minhash_lsh",
        )
    }
    (sets,) = checkpointed
    plans["minhash shingle sets"] = final_plan(sets)
    for name, needle, want in (
        ("pipeline_clean_corpus", "regexp_extract_all(", 5),
        ("text_lang_guess", "regexp_extract_all(", 4),
        ("dedup_ngram_jaccard", "split(lower(", 1),
        ("minhash shingle sets", "split(lower(", 1),
    ):
        assert plans[name].count(needle) == want, (name, needle, plans[name][:3000])
    for name, plan in plans.items():
        for body in _lambda_bodies(plan):
            assert "split(" not in body, (name, body[:300])


def test_arrow_udf_plans_name_the_kernel(spark):
    """A DataFrame-tier Arrow UDF shows in ArrowEvalPython under its row
    kernel's name; an SQL-registered one keeps its SQL name."""
    from matrixone_spark.functions import mysql as M

    df = spark.createDataFrame([("MySQL",)], "s string")
    plan = final_plan(df.select(M.crc32("s")))
    assert re.search(r"ArrowEvalPython \[_k_crc32\(s#\d+\)", plan), plan
    sql_plan = final_plan(run_sql(spark, "SELECT mo_conv('ff', 16, 10)"))
    assert re.search(r"ArrowEvalPython \[mo_conv\(", sql_plan), sql_plan
