"""Streaming gates beyond the oracle: streaming session windows must equal
the batch gaps-and-islands sessionizer on a bounded source."""

from __future__ import annotations

import shutil
from pathlib import Path

import pytest
from pyspark.errors import StreamingQueryException
from pyspark.sql import functions as F

from matrixone_spark.catalog import Catalog
from matrixone_spark.operators.timewindow import sessionize
from matrixone_spark.queries import load_all
from tests.conftest import SF_DIR


def test_stream_sessions_equal_batch(spark):
    streaming = (
        load_all()["stream_session_windows"].fn(spark, SF_DIR)
        .select("user_id", "session_start", "n_events")
        .orderBy("user_id", "session_start")
        .collect()
    )
    e = Catalog(spark, SF_DIR).table("events").filter(F.col("user_id") <= 10)
    batch = (
        sessionize(e, "ts", 1800, ["user_id"])
        .groupBy("user_id", "session_id")
        .agg(F.min("ts").alias("session_start"), F.count(F.lit(1)).alias("n_events"))
        .select("user_id", "session_start", "n_events")
        .orderBy("user_id", "session_start")
        .collect()
    )
    assert [(r.user_id, r.session_start, r.n_events) for r in streaming] == [
        (r.user_id, r.session_start, r.n_events) for r in batch
    ]


def test_cdc_sink_foreachbatch_exactly_once(spark, tmp_path):
    """CDC sink: all source rows land once; a re-run with the same checkpoint
    is a no-op (resume semantics, pkg/cdc reader watermark parity)."""
    from pyspark.sql import functions as F

    from matrixone_spark.streaming.events import run_cdc_sink

    out, ckpt = str(tmp_path / "out"), tmp_path / "ckpt"
    run_cdc_sink(
        spark, SF_DIR, out, str(ckpt),
        transform=lambda df: df.filter(F.col("event_type") == "purchase"),
    )
    src_n = (
        Catalog(spark, SF_DIR).table("events")
        .filter(F.col("event_type") == "purchase").count()
    )
    got_n = spark.read.parquet(out).count()
    assert got_n == src_n
    # the durable checkpoint is written on the caller's session, which keeps
    # Hadoop's checksummed local file system (only drains use RawLocalFs)
    assert (ckpt / "offsets" / ".0.crc").is_file()
    # resume: no new files → no duplicate rows
    run_cdc_sink(
        spark, SF_DIR, out, str(ckpt),
        transform=lambda df: df.filter(F.col("event_type") == "purchase"),
    )
    assert spark.read.parquet(out).count() == src_n


def test_multimodal_decoder_stub_raises(spark):
    from matrixone_spark.operators.multimodal import real_decoder

    import pytest

    with pytest.raises(NotImplementedError):
        real_decoder(b"bytes", "image/png")


def test_stateful_state_survives_micro_batches(spark, tmp_path):
    """applyInPandasWithState must accumulate across micro-batches: split the
    events into two files, force one file per trigger, and check the
    converged totals equal the batch aggregate over everything."""
    import pandas as pd
    from pyspark.sql import functions as F
    from matrixone_spark.catalog import Catalog
    from matrixone_spark.streaming import events as E

    src = Catalog(spark, "/root/testdata/sf0.001").table("events").select("user_id", "value", "ts")
    half = src.count() // 2
    pdf = src.toPandas()
    two_files = tmp_path / "events_split"
    two_files.mkdir()
    pdf.iloc[:half].to_parquet(two_files / "part1.parquet", index=False)
    pdf.iloc[half:].to_parquet(two_files / "part2.parquet", index=False)

    schema = spark.read.parquet(str(two_files)).schema
    # same operator body as stateful_user_stats, driven by the 2-batch stream
    import uuid as _uuid
    from pyspark.sql.streaming.state import GroupStateTimeout
    from pyspark.sql.types import LongType, StructField, StructType

    out_schema = StructType([
        StructField("user_id", LongType()), StructField("n_events", LongType()),
        StructField("sum_cents", LongType()),
    ])
    state_schema = StructType([StructField("n", LongType()), StructField("cents", LongType())])

    def update(key, pdf_iter, state):
        n, cents = state.get if state.exists else (0, 0)
        for p in pdf_iter:
            n += len(p)
            cents += int(p["value"].mul(100).round().astype("int64").sum())
        state.update((n, cents))
        yield pd.DataFrame({"user_id": [key[0]], "n_events": [n], "sum_cents": [cents]})

    expect = (
        src.groupBy("user_id").agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.round(F.col("value") * 100).cast("long")).alias("sum_cents"),
        ).toPandas()
    )
    # the caller's session (LocalFs) and the drain session (RawLocalFs): state
    # written by the first micro-batch must reload in the second on both
    for session in (spark, E._stream_session(spark)):
        stream = (
            session.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(str(two_files))
        )
        name = f"t_{_uuid.uuid4().hex[:8]}"
        q = (
            stream.groupBy("user_id")
            .applyInPandasWithState(update, out_schema, state_schema, "update", GroupStateTimeout.NoTimeout)
            .writeStream.outputMode("update").format("memory").queryName(name)
            .trigger(availableNow=True).start()
        )
        q.awaitTermination()
        sink = session.table(name).toPandas()
        session.catalog.dropTempView(name)
        # at least one user must have emitted twice (proof of multi-batch state)
        assert sink.groupby("user_id").size().max() >= 2
        final = sink.sort_values("n_events").groupby("user_id").last().reset_index()
        merged = final.merge(expect, on="user_id", suffixes=("_s", "_b"))
        assert len(merged) == len(expect)
        assert (merged.n_events_s == merged.n_events_b).all()
        assert (merged.sum_cents_s == merged.sum_cents_b).all()


def test_stream_session_isolates_caller_confs(spark):
    """r13 advice fix: bounded drains run on an isolated child session — the
    caller's session-global confs (shuffle.partitions) must never be mutated,
    even transiently, and the child carries the drain confs: one state store
    per task slot, at most 8, and checkpoints on RawLocalFs, which the
    caller's session does not get."""
    from matrixone_spark.streaming.events import (
        _stream_session,
        run_streaming_aggregate,
        tumbling_event_counts,
    )

    before = spark.conf.get("spark.sql.shuffle.partitions")
    out = run_streaming_aggregate(spark, SF_DIR, tumbling_event_counts)
    assert out.count() > 0
    assert spark.conf.get("spark.sql.shuffle.partitions") == before
    ss = _stream_session(spark)
    assert ss is not spark
    stores = min(spark.sparkContext.defaultParallelism, 8)
    assert ss.conf.get("spark.sql.shuffle.partitions") == str(stores)
    assert ss.conf.get("spark.sql.streaming.noDataMicroBatches.enabled") == "false"
    assert ss.conf.get("fs.AbstractFileSystem.file.impl") == "org.apache.hadoop.fs.local.RawLocalFs"
    assert spark.conf.get("fs.AbstractFileSystem.file.impl", None) is None
    # reused across drains (one child per application)
    assert _stream_session(spark) is ss


def test_drain_runs_one_state_store_per_slot(spark):
    """The stateful operator of a drain on the stream session reports one
    state-store instance per task slot (at most 8), as sized at start."""
    from matrixone_spark.streaming.events import (
        _events_stream,
        _stream_session,
        tumbling_event_counts,
    )

    ss = _stream_session(spark)
    stream = _events_stream(ss, SF_DIR).withWatermark("ts", "1 hour")
    q = (
        tumbling_event_counts(stream)
        .writeStream.outputMode("complete")
        .format("noop")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    (op,) = q.lastProgress["stateOperators"]
    assert op["numStateStoreInstances"] == min(spark.sparkContext.defaultParallelism, 8)


def test_stream_drains_leave_no_sink_tables(spark, registry):
    """Each drain drops its memory-sink view and Spark deletes its temporary
    checkpoint: repeated stream rows leave the stream session's catalog and
    the JVM's temp directory flat, and every returned frame still collects
    after its view is gone."""
    from matrixone_spark.streaming.events import _stream_session

    tmpdir = spark.sparkContext._jvm.System.getProperty("java.io.tmpdir")

    def checkpoints():
        return {p.name for p in Path(tmpdir).glob("temporary-*")}

    q = registry["stream_tumbling_counts"]
    q.fn(spark, SF_DIR)
    ss = _stream_session(spark)
    n_tables = len(ss.catalog.listTables())
    before = checkpoints()
    frames = [q.fn(spark, SF_DIR) for _ in range(5)]
    assert len(ss.catalog.listTables()) == n_tables
    assert checkpoints() - before == set()
    rows = [sorted(map(tuple, f.collect())) for f in frames]
    assert rows[0] and all(r == rows[0] for r in rows)


def _tumbling_drain(ss, src: Path, checkpoint: Path) -> None:
    """One tumbling-count drain over the parquet files in ``src`` with an
    explicit checkpoint, so its files can be inspected afterwards."""
    from matrixone_spark.catalog import _fix_nanos_timestamps
    from matrixone_spark.streaming.events import tumbling_event_counts

    schema = ss.read.parquet(str(src)).schema
    stream = _fix_nanos_timestamps(ss.readStream.schema(schema).parquet(str(src)))
    q = (
        tumbling_event_counts(stream.withWatermark("ts", "1 hour"))
        .writeStream.outputMode("complete")
        .format("noop")
        .option("checkpointLocation", str(checkpoint))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def _events_dir(tmp_path) -> Path:
    """A stream source directory holding one copy of the events file."""
    src = tmp_path / "events"
    src.mkdir()
    shutil.copy(Path(SF_DIR) / "events.parquet", src / "part1.parquet")
    return src


def test_drain_checkpoint_holds_only_sparks_files(spark, tmp_path):
    """The drain session writes checkpoints on RawLocalFs: Spark's own
    checksum files and state schema are there, Hadoop's hidden .crc
    sidecars are not."""
    from matrixone_spark.streaming.events import _stream_session

    ckpt = tmp_path / "ckpt"
    _tumbling_drain(_stream_session(spark), _events_dir(tmp_path), ckpt)
    files = [p for p in ckpt.rglob("*") if p.is_file()]
    assert any(p.name == "1.delta.crc" for p in files)
    assert any(p.name == "schema" and p.parent.name == "_metadata" for p in files)
    hadoop_crc = [p for p in files if p.name.startswith(".") and p.name.endswith(".crc")]
    assert [str(p.relative_to(ckpt)) for p in hadoop_crc] == []


def test_drain_checkpoint_checksum_catches_corruption(spark, tmp_path):
    """Without Hadoop's .crc, Spark's checkpoint checksum still guards the
    state: a flipped byte in each state delta fails the next micro-batch."""
    from matrixone_spark.streaming.events import _stream_session

    ss = _stream_session(spark)
    src, ckpt = _events_dir(tmp_path), tmp_path / "ckpt"
    _tumbling_drain(ss, src, ckpt)
    deltas = list(ckpt.glob("state/0/*/1.delta"))
    assert deltas
    for p in deltas:
        data = bytearray(p.read_bytes())
        data[len(data) // 2] ^= 0xFF
        p.write_bytes(bytes(data))
    shutil.copy(src / "part1.parquet", src / "part2.parquet")
    with pytest.raises(StreamingQueryException) as info:
        _tumbling_drain(ss, src, ckpt)
    messages, cause = [], info.value._origin
    while cause is not None:
        messages.append(cause.getMessage() or "")
        cause = cause.getCause()
    assert any("CHECKPOINT_FILE_CHECKSUM_VERIFICATION_FAILED" in m for m in messages)


def test_concurrent_drains_equal_serial(spark, registry):
    """Four threads share the stream session, each running stream rows
    twice: every result equals the serial run and no sink table is left."""
    from concurrent.futures import ThreadPoolExecutor

    from matrixone_spark.streaming.events import _stream_session

    names = [
        "stream_tumbling_counts",
        "stream_static_join",
        "stream_dedup_exactly_once",
        "stream_sliding_activity",
    ]

    def run(name):
        return sorted(map(tuple, registry[name].fn(spark, SF_DIR).collect()))

    serial = {name: run(name) for name in names}
    ss = _stream_session(spark)
    n_tables = len(ss.catalog.listTables())
    with ThreadPoolExecutor(max_workers=4) as pool:
        futures = [(name, pool.submit(run, name)) for name in names * 2]
        got = [(name, f.result(timeout=300)) for name, f in futures]
    for name, rows in got:
        assert rows == serial[name], name
    assert len(ss.catalog.listTables()) == n_tables
