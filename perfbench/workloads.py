"""The benchmark's workloads: which operations one pass runs, and how each
operation's output is checked.

An operation is built in two steps, both timed: ``build()`` returns the
DataFrame (plan construction, plus any eager work the program does there)
and the runner then calls ``collect()`` on it.  ``after()`` runs inside the
timed region too, for operations with a clean-up step.  Each operation has
either a DuckDB ``oracle`` text over the same input tables or an invariant
``check(rows, duck)`` that returns a list of problems.
"""

from __future__ import annotations

import itertools
import math
import os
import random
from dataclasses import dataclass
from typing import Callable

from pyspark.sql import functions as F

from gen import SEGMENTS, table_sizes

EARTH_RADIUS_M = 6371008.8  # the mean radius the engine's geo functions use


@dataclass(frozen=True)
class Op:
    name: str
    build: Callable
    oracle: "str | None" = None
    check: "Callable | None" = None
    after: "Callable | None" = None


@dataclass(frozen=True)
class Workload:
    name: str
    rows: "tuple[str, ...]"
    # the input tables the run generates and the catalog loads
    tables: "tuple[str, ...]"
    # adds the seeded MySQL statements and the result / snapshot round trips
    session: bool = False


TPCH = ("region", "nation", "customer", "supplier", "part", "orders", "lineitem")

WORKLOADS: "dict[str, Workload]" = {
    w.name: w
    for w in (
        Workload(
            "olap_tpch",
            ("tpch_q1", "tpch_q3", "tpch_q5", "tpch_q6", "tpch_q9", "tpch_q10",
             "tpch_q18", "tpch_q21", "agg_basic"),
            tables=TPCH,
        ),
        # the search rows whose cold cost fits the benchmark's time budget
        Workload(
            "search_mix",
            ("pipeline_clean_corpus", "text_token_stats", "dedup_minhash_lsh",
             "dedup_ngram_jaccard", "knn_exact_topk"),
            tables=("documents", "embeddings"),
        ),
        # every search row, with the fulltext index and the S2 join
        Workload(
            "search_full",
            ("pipeline_clean_corpus", "text_token_stats", "fulltext_natural_bm25",
             "dedup_minhash_lsh", "dedup_ngram_jaccard", "knn_exact_topk",
             "geo_s2_join_bench"),
            tables=("customer", "documents", "embeddings"),
        ),
        Workload(
            "session_mix",
            ("stream_tumbling_counts",),
            tables=("customer", "orders", "lineitem", "events"),
            session=True,
        ),
    )
}


# -- invariant checks for rows without an oracle -----------------------------

def _pair_key(row) -> "tuple[int, int]":
    a, b = int(row["id_a"]), int(row["id_b"])
    return (a, b) if a < b else (b, a)


def _check_minhash(oracle_sql: str) -> Callable:
    """MinHash-LSH emits verified pairs only, so its pairs must be a subset of
    the exact n-gram Jaccard pairs (same shingles, same threshold)."""

    def check(rows, duck) -> "list[str]":
        exact = {(min(a, b), max(a, b)) for a, b, _ in duck(oracle_sql).itertuples(index=False)}
        got = {_pair_key(r) for r in rows}
        problems = []
        if not got:
            problems.append("no candidate pairs (near-duplicates were injected)")
        extra = sorted(got - exact)
        if extra:
            problems.append(f"{len(extra)} pairs not in the exact Jaccard set, e.g. {extra[:3]}")
        return problems

    return check


def _check_geo(rows, duck) -> "list[str]":
    """Brute-force DuckDB haversine join over the same customer points: the
    S2-bucketed join must find exactly the pairs within 120 km."""
    r = EARTH_RADIUS_M
    pts = (
        "SELECT c_custkey AS id, (c_custkey % 720) / 2.0 - 179.5 AS lon, "
        "(c_custkey % 340) / 2.0 - 84.5 AS lat FROM customer"
    )
    h = (
        "sin((radians(b.lat) - radians(a.lat)) / 2) ^ 2 + cos(radians(a.lat)) * "
        "cos(radians(b.lat)) * sin((radians(b.lon) - radians(a.lon)) / 2) ^ 2"
    )
    sql = (
        f"WITH p AS ({pts}) SELECT count(*) AS n, sum(d) / 1000.0 AS km FROM ("
        f"SELECT asin(sqrt({h})) * 2.0 * {r} AS d FROM p a JOIN p b ON a.id < b.id "
        f"AND abs(a.lat - b.lat) <= 1.1) WHERE d <= 120000.0"
    )
    n, km = duck(sql).iloc[0]
    if len(rows) != 1:
        return [f"expected one row, got {len(rows)}"]
    got_n, got_km = int(rows[0]["n_pairs"]), float(rows[0]["sum_km"])
    problems = []
    if got_n != int(n):
        problems.append(f"n_pairs {got_n} != brute force {int(n)}")
    if not math.isclose(got_km, float(km or 0.0), abs_tol=1.0):
        problems.append(f"sum_km {got_km} != brute force {km}")
    return problems


# -- operation builders --------------------------------------------------------

def _row_op(registry, name: str, spark, sf_dir: str) -> Op:
    q = registry[name]
    check = None
    if name == "dedup_minhash_lsh":
        check = _check_minhash(registry["dedup_ngram_jaccard"].oracle)
    elif name == "geo_s2_join_bench":
        check = _check_geo
    return Op(name, lambda: q.fn(spark, sf_dir), oracle=q.oracle, check=check)


_POINT = ("SELECT o_orderkey, o_custkey, o_orderpriority, o_totalprice, {day} AS odate "
          "FROM orders WHERE o_orderkey = {key}")
_WEEK = ("SELECT l_returnflag, COUNT(*) AS n, "
         "CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue "
         "FROM lineitem WHERE l_shipdate >= {lo} AND l_shipdate < {hi} GROUP BY l_returnflag")
_TOPK = ("SELECT c.c_custkey, c.c_name, "
         "CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS spend "
         "FROM customer c JOIN orders o ON o.o_custkey = c.c_custkey "
         "WHERE c.c_nationkey = {nation} GROUP BY c.c_custkey, c.c_name "
         "ORDER BY spend DESC, c.c_custkey LIMIT 5")
_PREPARED = ("SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders "
             "WHERE o_custkey = {cust} ORDER BY o_orderkey LIMIT 10")


def _interactive_ops(engine, rng: random.Random, sf: float) -> "list[Op]":
    """MySQL-dialect statements with seeded parameters (point lookups, one-week
    range aggregates, top-k per nation, a prepared statement), each paired
    with the DuckDB text that must give the same rows."""
    n = table_sizes(sf)
    prepared = engine.prepare(_PREPARED.format(cust="?"), dialect="mysql")
    key, nation, cust = rng.randrange(n["orders"]), rng.randrange(25), rng.randrange(n["customer"])
    day = f"{rng.randrange(1995, 2001)}-{rng.randrange(1, 13):02d}-{rng.randrange(1, 29):02d}"
    statements = (
        ("point_order",
         _POINT.format(day="DATE_FORMAT(o_orderdate, '%Y-%m-%d')", key=key),
         _POINT.format(day="strftime(o_orderdate, '%Y-%m-%d')", key=key)),
        ("week_revenue",
         _WEEK.format(lo=f"'{day}'", hi=f"DATE_ADD('{day}', INTERVAL 7 DAY)"),
         _WEEK.format(lo=f"TIMESTAMP '{day}'", hi=f"TIMESTAMP '{day}' + INTERVAL 7 DAY")),
        ("topk_nation", _TOPK.format(nation=nation), _TOPK.format(nation=nation)),
    )
    ops = [Op(name, lambda q=mysql: engine.mysql_sql(q), oracle=duck)
           for name, mysql, duck in statements]
    ops.append(Op("prepared_orders", lambda: prepared.execute([cust]),
                  oracle=_PREPARED.format(cust=cust)))
    return ops


def _round_trip_ops(engine, rng: random.Random, run_dir: str) -> "list[Op]":
    """ResultStore save -> result_scan -> collect, and SnapshotStore
    create -> read -> drop, with seeded predicates."""
    from matrixone_spark.results import ResultStore, SnapshotStore

    results = ResultStore(engine.spark, os.path.join(run_dir, "results"))
    snaps = SnapshotStore(engine.spark, os.path.join(run_dir, "snapshots"))
    year = rng.randrange(1995, 2001)
    segment = rng.choice(SEGMENTS)
    saved_sql = (
        "SELECT o_orderpriority, COUNT(*) AS n, "
        "CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total "
        f"FROM orders WHERE o_orderdate >= TIMESTAMP '{year}-01-01' "
        f"AND o_orderdate < TIMESTAMP '{year + 1}-01-01' GROUP BY o_orderpriority"
    )
    counter = itertools.count()

    def save_and_scan():
        return results.result_scan(results.save(engine.sql(saved_sql)))

    def snapshot_read():
        name = f"snap{next(counter)}"
        snaps.create(name, "customer", engine.table("customer").where(f"c_mktsegment = '{segment}'"))
        return snaps.read(name, "customer").groupBy("c_nationkey").agg(
            F.count("c_custkey").alias("n"),
            F.expr("CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS bal"),
        )

    def snapshot_drop():
        for name in snaps.list():
            snaps.drop(name)

    return [
        Op("result_roundtrip", save_and_scan, oracle=saved_sql),
        Op(
            "snapshot_roundtrip", snapshot_read,
            oracle=(
                "SELECT c_nationkey, count(c_custkey) AS n, "
                "CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS bal FROM customer "
                f"WHERE c_mktsegment = '{segment}' GROUP BY c_nationkey"
            ),
            after=snapshot_drop,
        ),
    ]


def build_ops(workload: Workload, registry, engine, sf_dir: str, sf: float,
              run_dir: str, seed: int) -> "list[Op]":
    rng = random.Random(seed)
    ops = [_row_op(registry, name, engine.spark, sf_dir) for name in workload.rows]
    if workload.session:
        ops += _interactive_ops(engine, rng, sf) + _round_trip_ops(engine, rng, run_dir)
    return ops
