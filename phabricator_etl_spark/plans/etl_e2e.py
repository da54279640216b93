"""End-to-end ETL as gate entries (VERDICT r4 "next round" #6): the closest
analog to the reference's ``process()`` (stats.py:1094-1164), wired as two
value-hash-checked queries over the final destination tables.

- ``etl_e2e_full``: one full run — watermark=None, all 8 tables built,
  recency-deduped, merged (first-run insert path) and written to a scratch
  destination, revisions as one ym-sorted file per write task (row-group
  statistics prune a month without a directory per month); the query
  returns a per-table summary (row count + key checksum + recency mass) of
  the FINAL tables.
- ``etl_e2e_incremental``: the full protocol across TWO runs — a full run
  at a mid-world split time, then an incremental run (destination watermark
  readback -> changed-revision filter -> stack-component expansion -> MERGE
  upsert) at end time. The oracle is THE SAME final-state summary as the
  full run: the incremental==full-recompute invariant, formerly only a
  pytest property, is now value-hash-gated per round.

The per-table summaries compress each destination table to
(table_name, n_rows, key_sum, rec_sum) where key_sum folds the repo's
60-bit md5 of the merge key modulo a prime (order-free int64, overflow-safe
at any SF) and rec_sum is the exact sum of the recency column. Full-row
value hashing of each table is already covered by the eight ``phab_*`` gate
entries; these two entries certify the RUNNER protocol on top.
"""

from __future__ import annotations

import os
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.hashing import md5_long, md5_long_sql
from ..query import Q
from . import incremental_runner as R
from . import phab_queries as PQ

_SUM_P = 1_000_000_007


def _summarize(out: dict[str, DataFrame]) -> DataFrame:
    """One pass: every table's (table_name, key, rec) rows are unioned and
    reduced by one groupBy. One zero-weight marker row per table keeps an
    empty table's summary row: n_rows 0, key_sum NULL and rec_sum 0, the
    oracle's ``COALESCE(SUM(...), 0)`` (the marker's rec is 0, so it moves
    no other sum)."""
    spark = next(iter(out.values())).sparkSession
    marker = spark.createDataFrame(
        [(name, None, 0, 0) for name in sorted(R.MERGE_KEYS)],
        "table_name string, key string, rec long, w int",
    )
    rows = marker
    for name, (key, recency) in sorted(R.MERGE_KEYS.items()):
        rows = rows.unionByName(
            out[name].select(
                F.lit(name).alias("table_name"),
                F.col(key).cast("string").alias("key"),
                (F.coalesce(F.col(recency), F.lit(0)) if recency else F.lit(0)).cast("long").alias("rec"),
                F.lit(1).alias("w"),
            )
        )
    return (
        rows.groupBy("table_name")
        .agg(
            F.sum("w").cast("long").alias("n_rows"),
            F.sum(md5_long(F.col("key")) % _SUM_P).cast("long").alias("key_sum"),
            F.sum("rec").cast("long").alias("rec_sum"),
        )
        .orderBy("table_name")
    )


def _dest(tag: str) -> str:
    """Deterministic scratch destination, wiped per call (idempotent runs)."""
    d = os.path.join(tempfile.gettempdir(), f"etl_e2e_{tag}_seed{PQ.FIXTURE_SEED}")
    shutil.rmtree(d, ignore_errors=True)
    os.makedirs(d, exist_ok=True)
    return d


_END = 2_000_000_000  # after every fixture timestamp


def etl_e2e_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    src = PQ._ensure_world(spark)
    out = R.run_incremental(spark, src, _dest("full"), now=_END, full=True)
    return _summarize(out)


def etl_e2e_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrival-based split (same protocol as the pytest invariant): run 1
    sees only revisions with dateModified <= the median (the 'early' world
    present at first run); run 2 sees the full world and picks up the rest
    through the destination watermark."""
    from ..sources.phab_fixtures import PhabSources

    src = PQ._ensure_world(spark)
    dest = _dest("incr")
    # exact-median scalar readback (rel=0), same pattern as the pytest
    # invariant — never collect the full timestamp column to the driver
    cut = int(src.revision.approxQuantile("dateModified", [0.5], 0.0)[0])
    early = PhabSources(
        **{**src.__dict__, "revision": src.revision.filter(F.col("dateModified") <= cut)}
    )
    R.run_incremental(spark, early, dest, now=_END)
    out = R.run_incremental(spark, src, dest, now=_END)
    return _summarize(out)


def _e2e_oracle() -> str:
    """Final-state summary over the SAME fixture parquet, via the eight
    per-table pipeline oracles, the ``phab_<table>`` entries of
    PHAB_QUERIES (each a complete WITH..SELECT — legal as a derived table
    in DuckDB), wrapped in the recency-winner dedup the
    runner applies before merging. Both e2e entries share this oracle: a
    full run IS the final state, and the incremental protocol must land on
    the same final state (the invariant under test)."""
    oracles = {q.name: q.oracle for q in PQ.PHAB_QUERIES}
    selects = []
    for name, (key, recency) in sorted(R.MERGE_KEYS.items()):
        ksum = f"CAST(SUM({md5_long_sql(f'CAST({key} AS VARCHAR)')} % {_SUM_P}) AS BIGINT)"
        rsum = f"CAST(COALESCE(SUM({recency}), 0) AS BIGINT)" if recency else "CAST(0 AS BIGINT)"
        dedup = (
            f"QUALIFY ROW_NUMBER() OVER (PARTITION BY {key} ORDER BY {recency} DESC, {key} DESC) = 1"
            if recency
            else f"QUALIFY ROW_NUMBER() OVER (PARTITION BY {key} ORDER BY {key} DESC) = 1"
        )
        selects.append(
            f"""SELECT '{name}' AS table_name, COUNT(*) AS n_rows, {ksum} AS key_sum, {rsum} AS rec_sum
FROM (SELECT * FROM ({oracles[f'phab_{name}']}) {dedup})"""
        )
    return "\nUNION ALL\n".join(selects) + "\nORDER BY table_name"


ETL_E2E_QUERIES = [
    Q("etl_e2e_full", etl_e2e_full, _e2e_oracle(), "full ETL run -> final-table summary"),
    Q(
        "etl_e2e_incremental",
        etl_e2e_incremental,
        _e2e_oracle(),
        "watermark+merge incremental ETL across a split == full recompute",
    ),
]
