"""Multi-format source layer: CSV, JSON-lines, and ORC scans with declared
schemas, plus malformed-record policy.

The reference reads exactly one physical format (MySQL via SQLAlchemy,
stats.py:126-149) and trusts it implicitly. An engine meant to ingest
arbitrary 100 TB corpora needs (a) schema-on-read with DECLARED StructTypes
(never inference — a schema-inference pass over 100 TB is a full extra scan,
and inference drift silently changes downstream types), and (b) an explicit
malformed-record policy (the distributed analog of the reference's
tolerant-vs-raising JSON split, SURVEY.md §2.7 C5: a single bad line must
not kill the job, but must be COUNTED).

Each gate stages the events table into the format under test once (temp
dir, marker-file idempotent), reads it back through the declared-schema
scan, and aggregates; the DuckDB oracle runs on the ORIGINAL parquet — so a
match certifies the write→read round-trip was lossless, not just that two
readers agree on the same staged bytes.

Scale notes: CSV/JSON are row-major text — no column pruning, no predicate
pushdown, no min/max skipping; the scan cost is O(total bytes) regardless of
the query. ORC (like parquet) is columnar with pushdown — the ORC gate's
plan is audited for PushedFilters. The engine treats text formats as
landing-zone inputs to be compacted into columnar storage once (the
incremental runner's parquet sink, revisions ym-sorted so row-group
statistics prune a month), never queried in place repeatedly.
"""

from __future__ import annotations

import os
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..query import Q
from ..sources.catalog import load_table as _t

# Declared schema for the staged events data. ts is written as an ISO string
# with microseconds and declared TimestampType on read; value stays double;
# props is a JSON string column (parsed by expression downstream, §2.8).
EVENTS_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType(), True),
        T.StructField("ts", T.TimestampType(), True),
        T.StructField("user_id", T.LongType(), True),
        T.StructField("event_type", T.StringType(), True),
        T.StructField("value", T.DoubleType(), True),
        T.StructField("props", T.StringType(), True),
    ]
)

_TS_FMT = "yyyy-MM-dd HH:mm:ss.SSSSSS"

N_CORRUPT = 7


def _stage(spark: SparkSession, sf_dir: str, fmt: str) -> str:
    """Write events once into `fmt` under a temp dir; idempotent via marker.

    The marker is versioned: v2 normalizes ts to TimestampType before the
    write (the driver testdata can scan as TIMESTAMP_NTZ, and the text
    writers format NTZ with `timestampNTZFormat` — ISO 'T' form — which the
    TimestampType read path then can't parse). A stale v1 stage from an
    earlier process must be rebuilt, not trusted."""
    stage = os.path.join(
        tempfile.gettempdir(),
        f"fmt_stage_{os.path.basename(sf_dir.rstrip('/'))}_{fmt}",
    )
    marker = os.path.join(stage, "_STAGED_v2")
    if os.path.exists(marker):
        return stage
    shutil.rmtree(stage, ignore_errors=True)
    ev = _t(spark, sf_dir, "events").withColumn("ts", F.col("ts").cast("timestamp"))
    writer = ev.write.mode("overwrite")
    if fmt == "csv":
        # header on; explicit timestampFormat so microseconds survive the
        # text round-trip (default format truncates to millis)
        writer.option("header", "true").option("timestampFormat", _TS_FMT).csv(stage)
    elif fmt == "json":
        writer.option("timestampFormat", _TS_FMT).json(stage)
    elif fmt == "orc":
        writer.orc(stage)
    else:  # pragma: no cover
        raise ValueError(fmt)
    with open(marker, "w") as f:
        f.write("ok\n")
    return stage


_AGG_ORACLE = """
SELECT event_type,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS value_cents,
       strftime(MIN(ts), '%Y-%m-%d %H:%M:%S.%f') AS first_ts,
       strftime(MAX(ts), '%Y-%m-%d %H:%M:%S.%f') AS last_ts
FROM events
GROUP BY event_type
ORDER BY event_type
"""


def _roundtrip_agg(df: DataFrame) -> DataFrame:
    """The lossless-round-trip certificate: counts, exact cents, and the
    microsecond-precision min/max timestamps per event_type. Any field the
    format dropped or mangled (precision, encoding, null-vs-empty) shifts at
    least one output value."""
    return (
        df.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.sum(F.round(F.col("value") * 100).cast("long")).alias("value_cents"),
            F.date_format(F.min("ts"), _TS_FMT).alias("first_ts"),
            F.date_format(F.max("ts"), _TS_FMT).alias("last_ts"),
        )
        .orderBy("event_type")
    )


def src_csv_declared_schema(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV scan with declared schema, FAILFAST mode (clean input must parse
    completely; silent null-ing of bad cells is how type drift hides)."""
    stage = _stage(spark, sf_dir, "csv")
    df = (
        spark.read.schema(EVENTS_SCHEMA)
        .option("header", "true")
        .option("timestampFormat", _TS_FMT)
        .option("mode", "FAILFAST")
        .csv(stage)
    )
    return _roundtrip_agg(df)


def src_jsonl_declared_schema(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON-lines scan with declared schema + a JSON-path projection of the
    nested props payload (F4/§2.8 at the source layer)."""
    stage = _stage(spark, sf_dir, "json")
    df = (
        spark.read.schema(EVENTS_SCHEMA)
        .option("timestampFormat", _TS_FMT)
        .option("mode", "FAILFAST")
        .json(stage)
    )
    return (
        df.select(
            "event_type",
            F.get_json_object("props", "$.k").cast("long").alias("k"),
        )
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.sum("k").cast("long").alias("k_sum"),
        )
        .orderBy("event_type")
    )


SRC_JSONL_ORACLE = """
SELECT event_type,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(props ->> '$.k' AS BIGINT)) AS BIGINT) AS k_sum
FROM events
GROUP BY event_type
ORDER BY event_type
"""


def src_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC scan — columnar round-trip; filters and column pruning push into
    the ORC reader exactly as with parquet (plan-audited in tests)."""
    stage = _stage(spark, sf_dir, "orc")
    df = spark.read.schema(EVENTS_SCHEMA).orc(stage)
    return _roundtrip_agg(df)


def _corrupt_stage(spark: SparkSession, sf_dir: str) -> str:
    """JSONL staging with N_CORRUPT deliberately malformed lines appended."""
    clean = _stage(spark, sf_dir, "json")
    stage = clean.rstrip("/") + "_corrupt"
    marker = os.path.join(stage, "_STAGED_v2")
    if os.path.exists(marker):
        return stage
    shutil.rmtree(stage, ignore_errors=True)
    shutil.copytree(clean, stage)
    bad = [
        "{not json at all",
        '{"event_id": "twelve"}',  # type mismatch -> corrupt under declared schema
        "",  # blank lines are skipped by the reader, not counted corrupt
        '{"event_id": 1 "ts": 2}',
        "garbage garbage",
        "[1,2,3]",  # top-level array, not an object
        '{"unterminated": "str',
        "null",
        "{}}",
    ]
    with open(os.path.join(stage, "zz_corrupt.json"), "w") as f:
        f.write("\n".join(bad) + "\n")
    with open(marker, "w") as f:
        f.write("ok\n")
    return stage


def src_jsonl_permissive_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PERMISSIVE scan of dirty JSONL: bad lines land in _corrupt_record
    instead of killing the job, and are counted — the distributed form of the
    reference's raising JSON arms (C5, transforms.py:180-239): a 100 TB
    ingest survives garbage but never hides it."""
    stage = _corrupt_stage(spark, sf_dir)
    # fresh StructType: StructType.add mutates the receiver in place
    schema = T.StructType(
        list(EVENTS_SCHEMA.fields) + [T.StructField("_corrupt_record", T.StringType(), True)]
    )
    df = (
        spark.read.schema(schema)
        .option("timestampFormat", _TS_FMT)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .json(stage)
    )
    # Spark disallows scans whose pruned schema is ONLY the corrupt column
    # (QUERY_ONLY_CORRUPT_RECORD_COLUMN), and downstream consumers (a bare
    # count() of this audit) can legally prune every real column away.
    # Per Spark's own guidance, materialize the parse once, then query the
    # snapshot; at ingest scale the same move is "persist the parsed batch,
    # audit the snapshot" — one read of the raw bytes either way.
    df = df.select(
        F.when(F.col("_corrupt_record").isNull(), F.lit("good"))
        .otherwise(F.lit("corrupt"))
        .alias("status"),
        "event_id",
    ).localCheckpoint(eager=False)
    return (
        df.groupBy("status")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.count("event_id").cast("long").alias("n_with_id"),
        )
        .orderBy("status")
    )


# The corrupt-line census is fixed by _corrupt_stage. Of the 9 staged bad
# lines: the blank line is SKIPPED by the reader (not a record at all); a
# bare `null` parses as a JSON null -> an all-null row that is NOT flagged
# corrupt (no parse error occurred — exactly the kind of silent semantics a
# gate should pin down); the remaining 7 land in _corrupt_record with every
# data field null. Good rows = events + the null row.
SRC_PERMISSIVE_ORACLE = f"""
SELECT 'corrupt' AS status, {N_CORRUPT} AS n_rows, 0 AS n_with_id
UNION ALL
SELECT 'good' AS status, COUNT(*) + 1 AS n_rows, COUNT(event_id) AS n_with_id FROM events
ORDER BY status
"""


FORMAT_QUERIES = [
    Q("src_csv_declared_schema", src_csv_declared_schema, _AGG_ORACLE, "CSV declared-schema round-trip"),
    Q("src_jsonl_declared_schema", src_jsonl_declared_schema, SRC_JSONL_ORACLE, "JSONL + JSON-path projection"),
    Q("src_orc_roundtrip", src_orc_roundtrip, _AGG_ORACLE, "ORC columnar round-trip"),
    Q("src_jsonl_permissive_audit", src_jsonl_permissive_audit, SRC_PERMISSIVE_ORACLE, "malformed-record policy (C5 at source)"),
]
