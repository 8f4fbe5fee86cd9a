"""Structured Streaming over the events table.

Reference parity: the reference has no streaming dataflow engine — its
streaming-ish surface is CDC tailing an append log into a sink with resumable
watermarks (pkg/cdc/, reader_v2_*.go; SURVEY §2.11). The Spark-native
analogue: readStream over the append-only events source → windowed
aggregation with event-time watermark → sink. Here the sink is an in-memory
table and the trigger is availableNow, so the same entry point serves the
batch driver contract; swap sink/trigger for a real deployment
(kafka/delta + processingTime).

Correctness: complete-mode aggregation over a bounded source must equal the
batch computation — that equality IS the oracle gate (streaming query result
vs plain SQL over the same parquet).
"""

from __future__ import annotations

import os
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from matrixone_spark.matcache import LAZY_CAPACITY, MaterializationCache

# State-store partition count for the bounded availableNow drains (r12 perf).
# Structured Streaming pins the stateful operator's partitioning — and
# therefore the number of state-store instances, each paying provider init +
# a per-commit delta-file write — to spark.sql.shuffle.partitions at query
# start. That knob must be sized to STATE VOLUME (Spark guidance: ~100 MB-1 GB
# of state per partition), not to the session's batch-shuffle default: these
# gate queries hold a few thousand keys of state, where 32 partitions mean
# 32 near-empty state stores whose fixed commit cost dominates the batch
# (measured sf0.1 local[32]: 32 partitions -> 2.0 s state stage, 8 -> ~0.4 s,
# identical results). A 100 TB deployment sets this to (state size / ~500 MB)
# via the same env knob; the local default 8 matches the harness's KB-scale
# state while still exercising multi-partition state-store commit paths.
_STATE_PARTITIONS = os.environ.get("SPARK_GRAFT_STREAM_STATE_PARTITIONS", "8")


# appId -> isolated SparkSession for bounded streaming drains.
_STREAM_SESSION = MaterializationCache(LAZY_CAPACITY)


def _stream_session(spark: SparkSession) -> SparkSession:
    """Isolated session (shared SparkContext, own SQLConf) for bounded
    streaming drains, with the drain confs set ONCE:

    - shuffle.partitions: state-store partition count (see _STATE_PARTITIONS)
      — Structured Streaming reads it at query start to size the stateful
      operator's partitioning.
    - noDataMicroBatches off: with an event-time watermark, availableNow
      otherwise appends a trailing EMPTY micro-batch purely to advance the
      watermark and evict state — a full extra pass over every state store.
      Complete-mode re-emits the identical result; append-mode operators here
      (stream-stream inner join, dropDuplicatesWithinWatermark) emit matches/
      firsts in the data batch itself, so the empty batch adds no rows on any
      of these queries at any scale; eviction matters only for a LONG-RUNNING
      query, which the production path (real sink + processingTime trigger)
      re-enables by simply not using this session.

    r12 ran drains under a set/restore context manager on the CALLER's
    session; any query planned concurrently on that session during the window
    silently picked up the streaming shuffle-partition count (r12 advice).
    A child session has its own SQLConf, so batch work on the caller's
    session is never affected; one child per application, reused across
    drains. Correctness confs (UTC, nanosAsLong) are re-applied on the child
    by Catalog's ensure_session_confs when the stream source is built.
    """

    def build() -> SparkSession:
        ss = spark.newSession()
        ss.conf.set("spark.sql.shuffle.partitions", _STATE_PARTITIONS)
        ss.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", "false")
        return ss

    return _STREAM_SESSION.get(spark.sparkContext.applicationId, "drain", (), build)


# (appId, path) -> parquet schema: footer-sniffing costs a driver job per
# readStream construction; the schema is fixed until the file changes.
_SCHEMA_CACHE = MaterializationCache(LAZY_CAPACITY)


def _events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """readStream over the events parquet with the batch-read schema
    (nanos→us fixup included via the same catalog conversion)."""
    from matrixone_spark.catalog import Catalog, _fix_nanos_timestamps

    cat = Catalog(spark, sf_dir)
    path = cat.path("events")
    batch_schema = _SCHEMA_CACHE.get(cat.app_id, path, [path], lambda: spark.read.parquet(path).schema)
    reader = spark.readStream.schema(batch_schema).format("parquet")
    if os.path.isfile(path):
        # file-source streams need a directory: stream the parent dir with a
        # glob pinned to this table's file
        reader = reader.option("pathGlobFilter", os.path.basename(path))
        path = os.path.dirname(path)
    return _fix_nanos_timestamps(reader.load(path))


def _drain(df: DataFrame, mode: str) -> DataFrame:
    """Run a streaming frame to completion (availableNow) into a memory sink
    and return the emitted rows as a batch DataFrame. The frame must have
    been built on the _stream_session (its confs are read at query start).

    The returned frame is analyzed on creation, so it holds the sink's data
    through its plan and no longer needs the sink's temp view; the view is
    dropped here — otherwise every drain would leave one memory-sink table
    behind in the long-lived stream session's catalog."""
    name = f"stream_result_{uuid.uuid4().hex[:8]}"
    q = (
        df.writeStream.outputMode(mode)
        .format("memory")
        .queryName(name)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    ss = df.sparkSession
    out = ss.table(name)
    ss.catalog.dropTempView(name)
    return out


def run_streaming_aggregate(
    spark: SparkSession,
    sf_dir: str,
    agg_builder,
    watermark: "tuple[str, str] | None" = ("ts", "1 hour"),
) -> DataFrame:
    """Run a streaming aggregation to completion (availableNow) and return
    the final result as a batch DataFrame."""
    ss = _stream_session(spark)
    stream = _events_stream(ss, sf_dir)
    if watermark:
        stream = stream.withWatermark(*watermark)
    return _drain(agg_builder(stream), "complete")


def tumbling_event_counts(stream: DataFrame) -> DataFrame:
    """Per-hour, per-type event counts + exact value sum (decimal for
    hash-stability, as everywhere)."""
    return (
        stream.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("total_value"),
        )
        .select(F.col("w.start").alias("_wstart"), "event_type", "n", "total_value")
    )


def sliding_user_activity(stream: DataFrame) -> DataFrame:
    """Sliding 2h/1h distinct-ish activity per window (approx_count_distinct
    is the streaming-safe distinct; exact distinct isn't incremental)."""
    return (
        stream.groupBy(F.window("ts", "2 hours", "1 hour").alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.approx_count_distinct("user_id").alias("approx_users"),
        )
        .select(F.col("w.start").alias("_wstart"), "n_events", "approx_users")
    )


def run_cdc_sink(
    spark: SparkSession,
    sf_dir: str,
    target_path: str,
    checkpoint: str,
    transform=None,
) -> None:
    """CDC-style sink: stream the append-only events source into a parquet
    target via foreachBatch — the Spark analogue of the reference's CDC
    pipeline (pkg/cdc/sinker.go:60 sinks tailed changes into MySQL with
    resumable watermarks; here the checkpoint is the resume point).

    foreachBatch gives per-micro-batch batch-DataFrame semantics, so the same
    sink code could MERGE into anything (JDBC, Delta); parquet append here.
    """

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        out = transform(batch_df) if transform else batch_df
        out.write.mode("append").parquet(target_path)

    q = (
        _events_stream(spark, sf_dir)
        .writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def session_windows(stream: DataFrame, gap: str = "30 minutes") -> DataFrame:
    """Native streaming session windows (F.session_window) — the streaming
    counterpart of operators/timewindow.sessionize."""
    return (
        stream.groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "user_id",
            "n_events",
        )
    )


def stream_stream_interval_join(
    spark: SparkSession, sf_dir: str, window: str = "5 minutes"
) -> DataFrame:
    """Stream-stream INNER interval join: each view matched to the same
    user's clicks within [view.ts, view.ts + window].

    Both sides are real readStream sources with event-time watermarks; the
    time-range predicate bounds the join state (Spark evicts buffered rows
    once the other side's watermark passes the interval — the scale story
    for unbounded streams). Inner-join matches emit immediately, so the
    bounded availableNow drain produces exactly the batch join result —
    that equality is the oracle gate. (CDC-analogue surface, SURVEY §2.11:
    the reference joins change feeds by tailing logs, pkg/cdc/.)
    """
    ss = _stream_session(spark)
    views = (
        _events_stream(ss, sf_dir)
        .filter(F.col("event_type") == "view")
        .select(
            F.col("event_id").alias("v_id"),
            F.col("user_id").alias("v_user"),
            F.col("ts").alias("v_ts"),
        )
        .withWatermark("v_ts", "1 hour")
    )
    clicks = (
        _events_stream(ss, sf_dir)
        .filter(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("c_id"),
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("c_ts"),
        )
        .withWatermark("c_ts", "1 hour")
    )
    joined = views.join(
        clicks,
        (F.col("v_user") == F.col("c_user"))
        & (F.col("c_ts") >= F.col("v_ts"))
        & (F.col("c_ts") <= F.col("v_ts") + F.expr(f"INTERVAL {window}")),
        "inner",
    ).select(
        "v_id",
        "c_id",
        F.col("v_user").alias("user_id"),
        (F.unix_micros("c_ts") - F.unix_micros("v_ts")).alias("gap_us"),
    )
    return _drain(joined, "append")


def stateful_user_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful streaming operator via applyInPandasWithState:
    per-user running (event count, value-cents sum) held in GroupState
    across micro-batches, emitting the updated totals each batch.

    This is the Spark-native form of the reference's stateful CDC consumers
    (pkg/cdc/ watermarked readers): state lives in the state store
    (checkpointable, partitioned by key), updates are Arrow-batched pandas.
    Value sums are held in integer cents so cross-batch accumulation is
    exact regardless of arrival order. On a bounded drain the final row per
    user equals the batch groupBy — the oracle gate.
    """
    import pandas as pd  # noqa: F401  (worker-side import)
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
    from pyspark.sql.types import (
        LongType,
        StructField,
        StructType,
    )

    out_schema = StructType(
        [
            StructField("user_id", LongType()),
            StructField("n_events", LongType()),
            StructField("sum_cents", LongType()),
        ]
    )
    state_schema = StructType(
        [StructField("n", LongType()), StructField("cents", LongType())]
    )

    def update(key, pdf_iter, state: GroupState):
        import pandas as pd

        n, cents = state.get if state.exists else (0, 0)
        for pdf in pdf_iter:
            n += len(pdf)
            cents += int(pdf["value"].mul(100).round().astype("int64").sum())
        state.update((n, cents))
        yield pd.DataFrame({"user_id": [key[0]], "n_events": [n], "sum_cents": [cents]})

    ss = _stream_session(spark)
    stream = _events_stream(ss, sf_dir).select("user_id", "value", "ts")
    updated = stream.groupBy("user_id").applyInPandasWithState(
        update, out_schema, state_schema, "update", GroupStateTimeout.NoTimeout
    )
    # multiple micro-batches emit successive totals; the final row per user
    # (max n_events) is the converged state
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy(F.col("n_events").desc())
    return (
        _drain(updated, "update")
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def run_streaming_append(agg: DataFrame) -> DataFrame:
    """Run an append-mode streaming transform to completion (availableNow)
    and return the emitted rows as a batch DataFrame. The stream must have
    been built on the _stream_session (its confs are read at query start)."""
    return _drain(agg, "append")


def dedup_within_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming exactly-once dedup: the events stream unioned with itself
    (every event arrives twice — the at-least-once delivery a CDC pipeline
    actually sees, pkg/cdc/ retry semantics) is deduplicated on event_id
    with dropDuplicatesWithinWatermark, which bounds the dedup state to the
    watermark horizon — the scale-critical property: unbounded-key dedup
    state OOMs a 100 TB stream; watermarked state is O(events per horizon).
    """
    ss = _stream_session(spark)
    a = _events_stream(ss, sf_dir).filter(F.col("user_id") <= 5)
    b = _events_stream(ss, sf_dir).filter(F.col("user_id") <= 5)
    doubled = a.unionAll(b).withWatermark("ts", "1 hour")
    return run_streaming_append(
        doubled.dropDuplicatesWithinWatermark(["event_id"]).select(
            "event_id", "event_type", "user_id"
        )
    )
