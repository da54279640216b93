"""Structured Streaming over the ``events`` table.

The reference is pure batch (SURVEY.md §2.10: no stream abstraction); this is
the idiomatic upgrade path §2.9 names: readStream -> event-time windowed
aggregation with watermark -> sink. The queries run the real streaming
engine (micro-batch, state store, watermark tracking) with
Trigger.AvailableNow against the static parquet, so the semantics tested are
genuinely Structured Streaming's — then the result is handed back as a batch
DataFrame for the oracle compare, since windowed-agg-over-bounded-input must
equal the batch GROUP BY (the Dataflow-model equivalence).

Scale: at 100 TB/day the same code tails a file/Kafka source; state is keyed
by (window, event_type) — constant cardinality here, watermark bounds it for
high-cardinality keys. maxFilesPerTrigger paces backfills.
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..query import Q
from ..sources.catalog import load_table as _t

_counter = 0
STATE_PARTITIONS = 8  # see stream_state_partitions


class stream_state_partitions:
    """Pin ``spark.sql.shuffle.partitions`` while a streaming query plans.

    Stateful streaming cost scales with the number of state-store INSTANCES
    (one per shuffle partition per stateful operator per side), not with the
    data: a stream-stream join inheriting the batch default pays provider
    init + commit + snapshot per instance per micro-batch. Size it to state
    volume instead — measured here: the interval join at sf0.1 drops ~5x
    (12.7s -> 2.6s) going from 32 partitions to 4-8. On a real cluster this
    number is the state-shard count (fixed at first checkpoint); raise
    STATE_PARTITIONS for high-cardinality keys / RocksDB-sized state, where
    more shards mean smaller per-instance snapshots.
    """

    def __init__(self, spark: SparkSession):
        self.spark = spark

    def __enter__(self):
        self.saved = self.spark.conf.get("spark.sql.shuffle.partitions")
        self.spark.conf.set("spark.sql.shuffle.partitions", str(STATE_PARTITIONS))
        return self

    def __exit__(self, *exc):
        self.spark.conf.set("spark.sql.shuffle.partitions", self.saved)
        return False


def _run_stream_to_table(spark: SparkSession, stream_df: DataFrame, mode: str) -> DataFrame:
    """Execute a streaming plan to completion (AvailableNow) into an
    in-memory sink table and return the materialized result."""
    global _counter
    _counter += 1
    name = f"stream_result_{_counter}"
    with tempfile.TemporaryDirectory(prefix="ckpt_") as ckpt, stream_state_partitions(spark):
        q = (
            stream_df.writeStream.format("memory")
            .queryName(name)
            .outputMode(mode)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    return spark.table(name)


def _events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """readStream over the events parquet with the batch-derived schema
    (streaming sources require an explicit schema), applying the same
    scan-time ts normalization as the batch catalog.

    The file-stream source wants a DIRECTORY it can poll for arriving files
    (that's the tailing semantics); the driver data is one file per table in
    a shared dir, so stage a per-table symlink directory."""
    # Content-addressed stage key (same convention as sources/jdbc._derby_stage):
    # keyed on the ABSOLUTE fixture path, not its basename — two roots sharing
    # a leaf name (e.g. two pytest tmp dirs both ending in sf0-empty) must not
    # collide. islink (not exists) guards re-linking: exists() follows the
    # symlink and returns False once the old target is garbage-collected,
    # which made the subsequent symlink() die with FileExistsError on the
    # dangling link it failed to see.
    import hashlib

    src = os.path.abspath(sf_dir.rstrip("/"))
    sig = hashlib.md5(src.encode()).hexdigest()[:8]
    stage = os.path.join(tempfile.gettempdir(), f"stream_src_{sig}_events")
    os.makedirs(stage, exist_ok=True)
    link = os.path.join(stage, "events.parquet")
    target = os.path.join(src, "events.parquet")
    if os.path.islink(link):
        if os.readlink(link) != target:
            os.remove(link)
            os.symlink(target, link)
    elif not os.path.exists(link):
        os.symlink(target, link)
    raw_schema = spark.read.parquet(f"{sf_dir}/events.parquet").schema
    df = spark.readStream.format("parquet").schema(raw_schema).load(stage)
    ts_type = dict(df.dtypes)["ts"]
    if ts_type == "bigint":
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    elif ts_type == "timestamp_ntz":
        # withWatermark requires TimestampType (event time must be an
        # instant); under the session's pinned UTC zone the NTZ->TZ cast is
        # a deterministic wall-clock identity, so windows line up with the
        # batch/DuckDB date_trunc oracle.
        df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def stream_tumbling_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-time tumbling 1-day window per event_type with a 1-day
    watermark, complete output mode. Equal to the batch date_trunc GROUP BY."""
    ev = _events_stream(spark, sf_dir)
    agg = (
        ev.withWatermark("ts", "1 day")
        .groupBy(F.window("ts", "1 day").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.round(F.col("value") * 100).cast("long")).alias("value_cents"),
        )
    )
    out = _run_stream_to_table(spark, agg, "complete")
    return out.select(
        F.date_format(F.col("w.start"), "yyyy-MM-dd").alias("day"),
        "event_type",
        F.col("n_events").cast("long").alias("n_events"),
        "value_cents",
    )


STREAM_TUMBLING_ORACLE = """
SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
       event_type,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS value_cents
FROM events
GROUP BY 1, 2
"""


def stream_sliding_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding window (6h length, 3h slide): each event lands in 2 windows —
    the overlap semantics batch GROUP BY can't express directly; the oracle
    replicates it with an explicit 2-way window-offset union."""
    ev = _events_stream(spark, sf_dir)
    agg = (
        ev.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "6 hours", "3 hours").alias("w"))
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    out = _run_stream_to_table(spark, agg, "complete")
    return out.select(
        F.date_format(F.col("w.start"), "yyyy-MM-dd HH:mm:ss").alias("window_start"),
        F.col("n_events").cast("long").alias("n_events"),
    )


STREAM_SLIDING_ORACLE = """
WITH assigned AS (
  -- every event belongs to the two 6h windows whose starts are the two most
  -- recent 3h slots
  SELECT to_timestamp(floor(epoch(ts) / 10800) * 10800) AS ws FROM events
  UNION ALL
  SELECT to_timestamp(floor(epoch(ts) / 10800) * 10800 - 10800) AS ws FROM events
)
SELECT strftime(ws, '%Y-%m-%d %H:%M:%S') AS window_start,
       COUNT(*) AS n_events
FROM assigned
GROUP BY 1
"""


def stream_dedup_watermarked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming dropDuplicates keyed by (user_id, event_type) with a
    watermark — the streaming form of the reference's staging dedup (W2).
    Output: per event_type, how many distinct users acted. Append mode:
    dedup state emits rows immediately."""
    ev = _events_stream(spark, sf_dir)
    dedup = ev.withWatermark("ts", "1 day").dropDuplicates(["user_id", "event_type"])
    out = _run_stream_to_table(spark, dedup, "append")
    return out.groupBy("event_type").agg(F.count(F.lit(1)).cast("long").alias("distinct_users")).orderBy("event_type")


STREAM_DEDUP_ORACLE = """
SELECT event_type, COUNT(DISTINCT user_id) AS distinct_users
FROM events
GROUP BY event_type
ORDER BY event_type
"""


STREAMING_QUERIES = [
    Q("stream_tumbling_daily", stream_tumbling_daily, STREAM_TUMBLING_ORACLE, "tumbling window + watermark"),
    Q("stream_sliding_hourly", stream_sliding_hourly, STREAM_SLIDING_ORACLE, "sliding window overlap"),
    Q("stream_dedup_watermarked", stream_dedup_watermarked, STREAM_DEDUP_ORACLE, "streaming dedup (W2 analog)"),
]
