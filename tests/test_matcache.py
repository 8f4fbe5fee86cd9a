"""MaterializationCache: one bounded, source-fingerprinted cache for every
in-session table frame, index, schema and stream session.

The class tests need no Spark. The Spark tests check that a source file
rewritten under the same path is never served stale, and that repeated
stateful queries leave the session flat."""

from __future__ import annotations

import os
import shutil

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
import pytest

from matrixone_spark.matcache import MaterializationCache, fingerprint
from tests.conftest import SF_DIR


def _builder(log: list, value):
    def build():
        log.append(value)
        return value

    return build


def test_lru_order_and_release_once_on_evict():
    released = []
    c = MaterializationCache(2, release=released.append)
    built = []
    assert c.get("app", "a", (), _builder(built, "A")) == "A"
    assert c.get("app", "b", (), _builder(built, "B")) == "B"
    assert c.get("app", "a", (), _builder(built, "A2")) == "A"  # hit: a is now newest
    c.get("app", "c", (), _builder(built, "C"))  # evicts b, the least recent
    assert built == ["A", "B", "C"]
    assert released == ["B"]
    assert c.values() == ["A", "C"] and len(c) == 2
    c.get("app", "d", (), _builder(built, "D"))  # evicts a
    assert released == ["B", "A"]
    c.clear()
    assert sorted(released) == ["A", "B", "C", "D"] and len(c) == 0


def test_fingerprint_change_rebuilds_and_releases_old(tmp_path):
    src = tmp_path / "t.parquet"
    src.write_bytes(b"v1")
    released = []
    c = MaterializationCache(4, release=released.append)
    built = []
    assert c.get("app", "t", [str(src)], _builder(built, 1)) == 1
    assert c.get("app", "t", [str(src)], _builder(built, 99)) == 1
    st = os.stat(src)
    # same size, mtime moved by less than a second
    src.write_bytes(b"v2")
    os.utime(src, ns=(st.st_atime_ns, st.st_mtime_ns + 1000))
    assert c.get("app", "t", [str(src)], _builder(built, 2)) == 2
    assert built == [1, 2] and released == [1] and len(c) == 1
    # file: URIs (DataFrame.inputFiles) fingerprint like plain paths
    assert fingerprint("file:" + str(src)) == fingerprint(str(src))
    assert fingerprint(str(tmp_path / "missing")) is None


def test_directory_fingerprint_is_its_own_mtime(tmp_path):
    d = tmp_path / "table"
    d.mkdir()
    os.utime(d, ns=(0, 0))
    assert fingerprint(str(d)) == (0,)
    (d / "part-0000.parquet").write_bytes(b"x")  # adding a file moves the dir mtime
    assert fingerprint(str(d)) == (os.stat(d).st_mtime_ns,) != (0,)


def test_app_ids_coexist():
    c = MaterializationCache(4)
    assert c.get("app-1", "k", (), lambda: 1) == 1
    assert c.get("app-2", "k", (), lambda: 2) == 2
    assert c.get("app-1", "k", (), lambda: 3) == 1
    assert len(c) == 2


# ---------------------------------------------------------------- Spark


def _assert_oracle(spark, query, sf_dir):
    from matrixone_spark.oracle import compare_frames, run_oracle

    problems = compare_frames(query.fn(spark, sf_dir).toPandas(), run_oracle(query.oracle, sf_dir))
    assert not problems, f"{query.name}:\n" + "\n".join(problems)


def _assert_exact_neighbours(spark, query, sf_dir):
    """Every (vec_id, distance) an approximate vector row returns names a
    vector of the CURRENT embeddings file at its exact L2 distance."""
    import numpy as np

    from matrixone_spark.queries.vector import _QVEC

    got = query.fn(spark, sf_dir).select("vec_id", "distance").collect()
    assert got, query.name
    emb = pq.read_table(os.path.join(sf_dir, "embeddings.parquet")).to_pydict()
    exact = {
        i: float(np.linalg.norm(np.asarray(v, np.float64) - np.asarray(_QVEC)))
        for i, v in zip(emb["vec_id"], emb["embedding"])
    }
    for r in got:
        assert r.vec_id in exact, (query.name, r.vec_id)
        assert r.distance == pytest.approx(exact[r.vec_id], rel=1e-9), (query.name, r.vec_id)


def test_rewritten_sources_are_never_served_stale(spark, registry, tmp_path):
    """Tables, vector indexes, the fulltext index and the stream schema
    follow a file rewritten under the same path."""
    import duckdb

    from matrixone_spark.catalog import Catalog

    sf = str(tmp_path / "sf")
    os.makedirs(sf)
    for t in ("documents", "embeddings", "events"):
        shutil.copy(os.path.join(SF_DIR, f"{t}.parquet"), sf)

    def check():
        ev = Catalog(spark, sf).table("events").selectExpr("count(ts)", "max(unix_micros(ts))")
        oracle = duckdb.sql(f"SELECT count(ts), epoch_us(max(ts)) FROM '{sf}/events.parquet'")
        assert tuple(ev.first()) == oracle.fetchone()
        for name in ("ivf_search", "ann_lsh_topk"):
            _assert_exact_neighbours(spark, registry[name], sf)
        for name in ("fulltext_natural_bm25", "stream_tumbling_counts"):
            _assert_oracle(spark, registry[name], sf)

    check()

    # new rows under the same paths: shifted ids, negated vectors, half the
    # corpus, and the events' ts in the TIMESTAMP(NANOS) layout
    docs = pq.read_table(os.path.join(sf, "documents.parquet")).slice(0, 250)
    docs = docs.set_column(0, "doc_id", pc.add(docs["doc_id"], 10_000))
    pq.write_table(docs, os.path.join(sf, "documents.parquet"))
    emb = pq.read_table(os.path.join(sf, "embeddings.parquet"))
    emb = emb.set_column(0, "vec_id", pc.add(emb["vec_id"], 10_000))
    neg = pa.array([[-x for x in v] for v in emb["embedding"].to_pylist()], emb.schema.field("embedding").type)
    pq.write_table(emb.set_column(1, "embedding", neg), os.path.join(sf, "embeddings.parquet"))
    ev = pq.read_table(os.path.join(sf, "events.parquet")).slice(0, 600)
    i = ev.schema.get_field_index("ts")
    ev = ev.set_column(i, "ts", ev["ts"].cast(pa.timestamp("ns")))
    pq.write_table(ev, os.path.join(sf, "events.parquet"))

    check()


def test_stateful_queries_keep_the_session_flat(spark, registry):
    """Five runs of every cached stateful row: after the first, the temp
    views of the caller and stream sessions, the persisted RDDs and every
    cache's size stay flat."""
    from matrixone_spark.catalog import _TABLE_CACHE
    from matrixone_spark.operators.fulltext import _INDEX_CACHE
    from matrixone_spark.queries.geo_bitmap import _S2_BASE_CACHE
    from matrixone_spark.queries.vector import _IVF_CACHE, _IVFPQ_CACHE, _LSH_CACHE
    from matrixone_spark.streaming.events import _SCHEMA_CACHE, _STREAM_SESSION, _stream_session

    caches = (_TABLE_CACHE, _INDEX_CACHE, _S2_BASE_CACHE, _IVF_CACHE, _IVFPQ_CACHE,
              _LSH_CACHE, _SCHEMA_CACHE, _STREAM_SESSION)

    def state():
        return (
            len(spark.catalog.listTables()),
            len(_stream_session(spark).catalog.listTables()),
            spark.sparkContext._jsc.getPersistentRDDs().size(),
            tuple(len(c) for c in caches),
        )

    for name in ("ivf_search", "ivfpq_search", "ann_lsh_topk", "fulltext_natural_bm25",
                 "geo_s2_join_bench", "stream_tumbling_counts"):
        q = registry[name]
        q.fn(spark, SF_DIR).collect()
        first = state()
        for _ in range(4):
            q.fn(spark, SF_DIR).collect()
            assert state() == first, name
