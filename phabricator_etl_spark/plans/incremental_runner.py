"""Incremental ETL runner: the reference's full protocol end to end.

process() in the reference (stats.py:1094-1164) per run: read the
destination's MAX(date_modified) watermark -> filter sources to changed
revisions -> build rows -> stage -> monthly MERGE with recency-winner dedup.
This module is the Spark-native runner: same watermark semantics, the merge
as the deterministic join-rewrite. The month survives as revisions' ``ym``
column, not as a directory: every run rewrites the whole table, so each
write task writes one ym-sorted file whose row groups' min/max statistics
serve a ``ym`` filter.

A run commits all eight tables or none (the smallest form of Delta Lake's
log-then-pointer commit, Armbrust et al., VLDB 2020):
- stage: every table, merged or snapshot, first load or not, is written to
  ``<table>__stage`` while the committed ``<table>`` stays readable;
- mark: once every stage is complete, ``<dest>/_COMMIT`` is created;
- swap: ``_commit`` replaces each table with its stage, then deletes the
  marker.
The next run calls ``_commit`` before it reads the watermark: a marker
means a killed swap, which it finishes; stages without one are partial
output, which it drops. So a table directory only ever holds a complete,
committed table, the watermark moves only with all eight tables, and a
committed table that cannot be read fails the run.

The invariant tests/test_incremental_runner.py checks is the one that
matters: incremental run over (old ∪ new) == full recompute over the same
world, for any split point — the property the reference's protocol is
designed to deliver but never tests.
"""

from __future__ import annotations

import os
import time
from concurrent.futures import ThreadPoolExecutor

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType
from pyspark.sql.window import Window
from ..functions.phab import revision_year_month
from ..sources.phab_fixtures import PhabSources
from . import phab_pipelines as P

MERGE_KEYS = {  # merge key + recency column per table (stats.py:976-984)
    "revisions": ("revision_id", "date_modified"),
    "diffs": ("diff_id", "date_created"),
    "changesets": ("changeset_id", None),
    "comments": ("comment_id", "date_created"),
    "review_requests": ("review_id", "date_modified"),
    "transactions": ("transaction_id", "date_created"),
    "review_groups": ("group_id", None),
    "project_transactions": ("transaction_id", "date_created"),
}

# snapshot tables are fully recomputed every run (stats.py:1125-1138)
SNAPSHOT_TABLES = {"review_groups", "project_transactions"}

COMMIT_MARKER = "_COMMIT"  # present only while the staged tables are being swapped in


def _hadoop_fs(spark: SparkSession, path: str):
    """The Hadoop FileSystem holding ``path`` (file://, hdfs://, s3a://
    alike) and the Path class to address it with."""
    jvm_path = spark._jvm.org.apache.hadoop.fs.Path
    return jvm_path(path).getFileSystem(spark._jsc.hadoopConfiguration()), jvm_path


def _commit(spark: SparkSession, dest_dir: str) -> None:
    """Swap every staged table into place if ``_COMMIT`` marks the stages
    complete, else drop them; then delete the marker. Each step is safe to
    repeat, so a run killed anywhere in here is finished by the next."""
    fs, jvm_path = _hadoop_fs(spark, dest_dir)
    marker = jvm_path(os.path.join(dest_dir, COMMIT_MARKER))
    committed = fs.exists(marker)
    for name in MERGE_KEYS:
        path, stage = (jvm_path(os.path.join(dest_dir, t)) for t in (name, name + "__stage"))
        if not committed:
            fs.delete(stage, True)
        elif fs.exists(stage):
            fs.delete(path, True)
            if not fs.rename(stage, path):
                raise IOError(f"rename {stage} -> {path} failed")
    if committed:
        fs.delete(marker, False)


def read_watermark(spark: SparkSession, dest_dir: str) -> int | None:
    """S2: MAX(date_modified) of the loaded revisions table; None on first
    run. The probe goes through the Hadoop FS API: a failing
    ``spark.read.parquet`` would log Spark 4's stored PATH_NOT_FOUND error
    (ERROR ExecutionListenerBus) on every first run."""
    path = os.path.join(dest_dir, "revisions")
    fs, jvm_path = _hadoop_fs(spark, path)
    if not fs.exists(jvm_path(path)):
        return None
    return spark.read.parquet(path).agg(F.max("date_modified").alias("wm")).collect()[0].wm


def filter_changed_revisions(src: PhabSources, last_run: int | None, now: int) -> PhabSources:
    """P6: the reference's get_time_queries window — revisions created or
    modified in (last_run, now). Downstream tables follow their revision
    (the reference processes per changed revision), so only the revision
    table needs the filter; joins prune the rest."""
    cond = (F.col("dateCreated") < now) | (F.col("dateModified") < now)
    if last_run is not None:
        cond = cond & ((F.col("dateCreated") > last_run) | (F.col("dateModified") > last_run))
    filtered = src.revision.filter(cond)
    return PhabSources(**{**src.__dict__, "revision": filtered})


def expand_by_stack_component(src: PhabSources, changed: PhabSources, comp: DataFrame) -> PhabSources:
    """Graph-aware invalidation — a deliberate IMPROVEMENT on the reference.

    The reference recomputes stack_size only for CHANGED revisions, so an
    unchanged revision keeps a stale stack_size when a new revision joins
    its dependency stack (inherent to its per-revision protocol). This
    engine widens the changed set to every revision sharing a same-bug
    dependency component with a changed one, so stack_size is always
    current and incremental == full recompute.

    One window does the widening, over narrow (phid, changed, component)
    rows: a revision is hit when max(changed) over its component is 1; one
    without a component is its own partition (``coalesce(component,
    phid)``), hit only when it changed itself. The rows come from one
    aggregate per phid over the changed phids (changed 1) and the labels
    (changed 0), not from a revision ⋈ comp join: a join's size estimate
    is the product of its sides, so the hits would never be broadcast
    statically, and AQE would shuffle the revision table before turning
    the semi-join into a broadcast (one wasted job, measured). The hits
    are semi-joined back to the revision table. `comp` is the component
    table of ``P.stack_components(src)``."""
    rows = (
        changed.revision.select("phid", F.lit(1).alias("changed"))
        .unionByName(
            comp.select(F.col("rev_phid").alias("phid"), F.lit(0).alias("changed"), "component"),
            allowMissingColumns=True,
        )
        .groupBy("phid")
        .agg(F.max("changed").alias("changed"), F.max("component").alias("component"))
    )
    hit = F.max("changed").over(Window.partitionBy(F.coalesce("component", "phid")))
    hits = rows.select("phid", hit.alias("hit")).filter(F.col("hit") == 1)
    expanded = src.revision.join(hits, "phid", "left_semi")
    return PhabSources(**{**src.__dict__, "revision": expanded})


def dedup_latest(df: DataFrame, key: str, recency: str | None) -> DataFrame:
    """W2: one winner per merge key. With a recency column the latest wins
    (max recency; ties broken by the full remaining tuple — strictly more
    deterministic than the reference's ORDER BY (SELECT NULL),
    stats.py:918); without one the full remaining tuple decides
    (SURVEY §7.8).

    Implemented as a struct-max aggregation rather than the
    ROW_NUMBER-over-window form (r10 optimization, guide §2.3): the
    aggregate does PARTIAL (map-side) combination, so duplicate keys
    collapse before the exchange. The max of the row's struct is that
    struct, compared field by field (recency first) with NULL low, so its
    buffer holds one copy of the row. A hash-aggregate buffer cannot hold
    a struct, so it plans as SortAggregate on BOTH sides of the exchange:
    Sort + partial SortAggregate, Exchange hashpartitioning(key), Sort +
    final SortAggregate. Where the input is already partitioned on the key
    (transactions, project_transactions) the Exchange and the Sort between
    the two aggregates drop out. The winner is the desc-NULLS-LAST
    window's wherever recency differs, with a deterministic full-tuple
    tiebreak where it doesn't."""
    rest = [c for c in df.columns if c != key]
    if recency:
        ordered = [recency] + [c for c in rest if c != recency]
    else:
        ordered = rest
    win = df.groupBy(key).agg(F.max(F.struct(*ordered)).alias("__w"))
    return win.select(key, *[F.col(f"__w.{c}").alias(c) for c in ordered]).select(*df.columns)


def merge_upsert(target: DataFrame, staging: DataFrame, key: str) -> DataFrame:
    """S5 join-rewrite: matched -> replaced by staging, unmatched target
    kept, new staging keys inserted. Delta MERGE INTO compiles to the same
    plan for whole-row updates."""
    return target.join(staging.select(key), key, "left_anti").unionByName(staging)


# Wall-clock decomposition of every run_incremental call, appended per run
# (r6 verdict #7: the e2e bench entry moved +30% r5->r6 and the phases were
# not separable from the one total). benchutil.measure_cell clears it before
# every rep and returns the best rep's copy, which bench.py writes to
# BENCH_DETAIL.json as phase_timings of the etl_e2e_* cells; it costs 22
# perf_counter() reads per run, nothing more. The branch_* keys are wall
# time INSIDE the concurrent merge pool, so they overlap each other and sum
# to more than merge_write_wall.
PHASE_LOG: list[dict[str, float]] = []


def run_incremental(
    spark: SparkSession,
    src: PhabSources,
    dest_dir: str,
    *,
    now: int,
    full: bool = False,
) -> dict[str, DataFrame]:
    """One ETL run. Returns the post-merge tables (also written to dest_dir,
    revisions as one ym-sorted file per write task: a month directory per
    task costs a parquet footer per file and prunes nothing statistics
    cannot)."""
    phases: dict[str, float] = {}
    t_phase = time.perf_counter()
    _commit(spark, dest_dir)  # finish or drop what a killed run left
    last_run = None if full else read_watermark(spark, dest_dir)
    world = filter_changed_revisions(src, last_run, now)
    # ONE CC pass feeds both the graph-aware invalidation and the stack sizes.
    # connected_components returns its labels with their lineage cut (a
    # driver-built local relation on the small-graph path; on the
    # distributed one a checkpoint its first reader fills from the final
    # labels checkpoint), so they are used as they come.
    comp = P.stack_components(src)
    phases["watermark_and_cc"] = round(time.perf_counter() - t_phase, 3)
    t_phase = time.perf_counter()
    world = expand_by_stack_component(src, world, comp=comp)
    # Pin rule: pin a frame only when two or more branches read it and
    # rebuilding it needs its own shuffle or broadcast. Two frames qualify:
    # the expanded revision table (four branches; rebuilding re-runs the
    # invalidation aggregate and window, two exchanges, and the hits'
    # broadcast) and dim_principals (six branches; the user, primary-email
    # and project union aggregate). The repository dim feeds one branch, so
    # it is built inline where read.
    with ThreadPoolExecutor(max_workers=2) as pool:
        f_rev = pool.submit(world.revision.localCheckpoint, eager=True)
        f_principals = pool.submit(P.dim_principals(world).localCheckpoint, eager=True)
        revision, principals = f_rev.result(), f_principals.result()
    world = PhabSources(**{**world.__dict__, "revision": revision})
    phases["expand_and_pin_dims"] = round(time.perf_counter() - t_phase, 3)
    t_phase = time.perf_counter()
    # comp covers the FULL graph (the filtered world can't see unchanged
    # stack members — stats.py:1117-1119 queries all_revisions)
    # world differs from src only in revision, which the snapshot builders never read
    tables = P.build_all(world, principals, comp)

    def _stage(name: str, df: DataFrame) -> StructType:
        t_branch = time.perf_counter()
        key, recency = MERGE_KEYS[name]
        merged = dedup_latest(df, key, recency)
        path = os.path.join(dest_dir, name)
        fs, jvm_path = _hadoop_fs(spark, path)
        if name not in SNAPSHOT_TABLES and fs.exists(jvm_path(path)):
            # the stored revisions table carries its derived ym column;
            # strip it so target and staging schemas line up for the merge
            merged = merge_upsert(spark.read.parquet(path).drop("ym"), merged, key)
        if name == "revisions":
            merged = merged.withColumn("ym", revision_year_month(F.col("date_modified")))
            # one file per task, its row groups in month order, so a ym
            # filter pushed to the scan skips row groups by min/max
            merged = merged.sortWithinPartitions("ym")
        # Never write the committed path: the merge plan reads it, and the
        # commit swaps all eight stages in or none.
        merged.write.mode("overwrite").parquet(path + "__stage")
        phases[f"branch_{name}"] = round(time.perf_counter() - t_branch, 3)
        return merged.schema

    # The eight table branches are independent (distinct dest paths, shared
    # inputs all read-only) — submit them as CONCURRENT Spark jobs from a
    # thread pool instead of ~17 serial driver round-trips. On local[32]
    # this collapses the e2e wall time to the slowest branch; on a real
    # cluster it overlaps each branch's shuffle/write stages the same way
    # (SparkSession job submission is thread-safe; FIFO scheduling lets
    # later jobs use idle slots).
    with ThreadPoolExecutor(max_workers=len(tables)) as pool:
        futures = {name: pool.submit(_stage, name, df) for name, df in tables.items()}
        schemas = {name: fut.result() for name, fut in futures.items()}
    fs, jvm_path = _hadoop_fs(spark, dest_dir)
    fs.create(jvm_path(os.path.join(dest_dir, COMMIT_MARKER)), True).close()
    _commit(spark, dest_dir)
    # read back with the schema just written: inferring it would run one
    # more job per table to re-read the footers
    out = {name: spark.read.schema(schema).parquet(os.path.join(dest_dir, name)) for name, schema in schemas.items()}
    phases["merge_write_wall"] = round(time.perf_counter() - t_phase, 3)
    phases["full" if full else "incremental"] = 1.0
    PHASE_LOG.append(phases)
    return out
