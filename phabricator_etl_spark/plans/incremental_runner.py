"""Incremental ETL runner: the reference's full protocol end to end.

process() in the reference (stats.py:1094-1164) per run: read the
destination's MAX(date_modified) watermark -> filter sources to changed
revisions -> build rows -> stage -> monthly MERGE with recency-winner dedup.
This module is the Spark-native runner: same watermark semantics, the merge
as the deterministic join-rewrite, the month unit as a ym partition column,
crash-safety from write atomicity instead of staging tables (S3/S6/S7
disappear — Delta MERGE INTO is the drop-in upgrade where available).

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


def _hadoop_fs(spark: SparkSession, path: str):
    """The Hadoop FileSystem holding ``path`` (file://, hdfs://, s3a://
    alike) and the Path class to address it with."""
    jvm_path = spark._jvm.org.apache.hadoop.fs.Path
    return jvm_path(path).getFileSystem(spark._jsc.hadoopConfiguration()), jvm_path


def _dest_exists(spark: SparkSession, path: str) -> bool:
    """Cluster-correct existence probe via the Hadoop FS API. Probing with a
    failing ``spark.read.parquet`` instead would store a PATH_NOT_FOUND
    analysis error that Spark 4's ObservationManager listener re-raises
    into the log on every first run (ERROR ExecutionListenerBus) — probe
    the filesystem, not the analyzer."""
    fs, jvm_path = _hadoop_fs(spark, path)
    return bool(fs.exists(jvm_path(path)))


def read_watermark(spark: SparkSession, dest_dir: str) -> int | None:
    """S2: MAX(date_modified) of the loaded revisions table; None on first
    run (destination absent/empty)."""
    path = os.path.join(dest_dir, "revisions")
    if not _dest_exists(spark, path):
        return None
    try:
        df = spark.read.parquet(path)
    except Exception:
        return None
    row = df.agg(F.max("date_modified").alias("wm")).collect()[0]
    return row.wm


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


def expand_by_stack_component(
    src: PhabSources, changed: PhabSources, comp: DataFrame | None = None
) -> PhabSources:
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
    are semi-joined back to the revision table. Pass `comp` to reuse an
    already-materialized component table (the runner shares ONE CC pass
    between this expansion and the stack sizes)."""
    if comp is None:
        comp = P.stack_components(src)
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

    Implemented as a struct-max_by aggregation rather than the
    ROW_NUMBER-over-window form (r10 optimization, guide §2.3): the
    aggregate does PARTIAL (map-side) combination, so duplicate keys
    collapse before the exchange. max_by is a declarative aggregate whose
    buffer holds the struct, which a hash-aggregate buffer cannot, so it
    plans as SortAggregate on BOTH sides of the exchange: Sort + partial
    SortAggregate, Exchange hashpartitioning(key), Sort + final
    SortAggregate. Where the input is already partitioned on the key
    (transactions, project_transactions) the Exchange and the Sort between
    the two aggregates drop out. Struct comparison orders field-by-field
    (recency first), with NULL low — identical winner choice to the
    desc-NULLS-LAST window wherever recency differs, and a deterministic
    full-tuple tiebreak where it doesn't."""
    rest = [c for c in df.columns if c != key]
    if recency:
        ordered = [recency] + [c for c in rest if c != recency]
    else:
        ordered = rest
    win = df.groupBy(key).agg(
        F.max_by(F.struct(*ordered), F.struct(*ordered)).alias("__w")
    )
    return win.select(key, *[F.col(f"__w.{c}").alias(c) for c in ordered]).select(*df.columns)


def merge_upsert(target: DataFrame | None, staging: DataFrame, key: str) -> DataFrame:
    """S5 join-rewrite: matched -> replaced by staging, unmatched target
    kept, new staging keys inserted. Delta MERGE INTO compiles to the same
    plan for whole-row updates."""
    if target is None:
        return staging
    return target.join(staging.select(key), key, "left_anti").unionByName(staging)


# Wall-clock decomposition of every run_incremental call, appended per run
# (r6 verdict #7: the e2e bench entry moved +30% r5->r6 and the phases were
# not separable from the one total). benchutil.measure_cell clears it before
# every rep and returns the best rep's copy, which bench.py writes to
# BENCH_DETAIL.json as phase_timings of the etl_e2e_* cells; it costs five
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
    revisions ym-partitioned per SURVEY §4.4)."""
    phases: dict[str, float] = {}
    t_phase = time.perf_counter()
    last_run = None if full else read_watermark(spark, dest_dir)
    world = filter_changed_revisions(src, last_run, now)
    # ONE CC pass feeds both the graph-aware invalidation and the stack sizes.
    # connected_components returns its labels already materialized (a
    # driver-built local relation on the small-graph path, the final label
    # checkpoint on the distributed one), so they are used as they come.
    comp = P.stack_components(src)
    phases["watermark_and_cc"] = round(time.perf_counter() - t_phase, 3)
    t_phase = time.perf_counter()
    world = expand_by_stack_component(src, world, comp=comp)
    # Pin rule: pin a frame only when two or more branches read it and
    # rebuilding it needs its own shuffle or broadcast. Two frames qualify:
    # the expanded revision table (four branches; rebuilding re-runs the
    # invalidation aggregate and window, two exchanges, and the hits'
    # broadcast) and dim_users (six branches; the user and primary-email
    # union aggregate). The project dim is a bare projection and the
    # repository dim feeds one branch, so both are built inline where read.
    with ThreadPoolExecutor(max_workers=2) as pool:
        f_rev = pool.submit(world.revision.localCheckpoint, eager=True)
        f_users = pool.submit(P.dim_users(world).localCheckpoint, eager=True)
        revision, users = f_rev.result(), f_users.result()
    world = PhabSources(**{**world.__dict__, "revision": revision})
    projects, repos = P.dim_projects(world), P.dim_repositories(world)
    phases["expand_and_pin_dims"] = round(time.perf_counter() - t_phase, 3)
    t_phase = time.perf_counter()
    # stack sizes come from the FULL graph (the filtered world can't see
    # unchanged stack members — stats.py:1117-1119 queries all_revisions),
    # counted straight from the labels: no revision scan, no join
    built = {
        "revisions": P.build_revisions(world, repos, projects, stacks=P.component_sizes(comp)),
        "diffs": P.build_diffs(world, users),
        "changesets": P.build_changesets(world),
        "comments": P.build_comments(world, users),
        "review_requests": P.build_review_requests(world, users, projects),
        "transactions": P.build_transactions(world, users, projects),
        # snapshots run over the UNFILTERED world every time; the user and
        # project dims are safe to share — they read only the
        # user/user_email/project tables, which the changed-revision filter
        # never touches (src and the expanded world agree on them)
        "review_groups": P.build_review_groups(src, users),
        "project_transactions": P.build_project_transactions(src, users, projects),
    }

    def _merge_and_write(name: str, df: DataFrame) -> DataFrame:
        t_branch = time.perf_counter()
        key, recency = MERGE_KEYS[name]
        staging = dedup_latest(df, key, recency)
        path, stage = os.path.join(dest_dir, name), os.path.join(dest_dir, name + "__stage")
        fs, jvm_path = _hadoop_fs(spark, path)
        if fs.exists(jvm_path(stage)):
            # A killed run left its swap (below) unfinished. The stage is
            # fully written before the target is deleted, so with no target
            # it is the complete new table: finish the rename. Next to a
            # target it may be partial: drop it.
            if fs.exists(jvm_path(path)):
                fs.delete(jvm_path(stage), True)
            elif not fs.rename(jvm_path(stage), jvm_path(path)):
                raise IOError(f"rename {stage} -> {path} failed")
        target = None
        if name not in SNAPSHOT_TABLES and fs.exists(jvm_path(path)):
            # the stored revisions table carries its ym partition column;
            # strip it so target and staging schemas line up for the merge
            try:
                target = spark.read.parquet(path).drop("ym")
            except Exception:
                # the path exists but holds no readable parquet (e.g. a
                # killed previous run left an empty/partial dir): treat
                # as first run rather than failing the whole batch. The
                # failed read does leave one ExecutionListenerBus log
                # line (the Spark 4 ObservationManager gotcha) — fine
                # for this corruption-recovery arm, which the happy path
                # never enters thanks to the FS-API probe above.
                target = None
        merged = staging if target is None else merge_upsert(target, staging, key)
        if name == "revisions":
            merged = merged.withColumn("ym", revision_year_month(F.col("date_modified")))
        # r10 optimization (guide §2.4/§5): the old path localCheckpointed
        # `merged` before every write — a full extra materialization of every
        # table on every run — because the merge plan may READ the very path
        # it overwrites. Instead, write straight to the destination when
        # nothing reads it (first run / snapshot overwrite), and otherwise
        # write to a sibling tmp dir while the old files stay readable, then
        # swap. One materialization either way, and the swap is MORE
        # crash-safe than checkpoint+overwrite (the old table stays complete
        # until the new one is fully written).
        write_path = path if target is None else stage
        writer = merged.write.mode("overwrite")
        if name == "revisions":
            writer = writer.partitionBy("ym")
        writer.parquet(write_path)
        if write_path != path:
            fs.delete(jvm_path(path), True)
            if not fs.rename(jvm_path(stage), jvm_path(path)):
                raise IOError(f"rename {stage} -> {path} failed")
        phases[f"branch_{name}"] = round(time.perf_counter() - t_branch, 3)
        # read back with the schema just written: inferring it would run
        # one more job per table to re-read the footers
        return spark.read.schema(merged.schema).parquet(path)

    # The eight table branches are independent (distinct dest paths, shared
    # inputs all read-only) — submit them as CONCURRENT Spark jobs from a
    # thread pool instead of ~17 serial driver round-trips. On local[32]
    # this collapses the e2e wall time to the slowest branch; on a real
    # cluster it overlaps each branch's shuffle/write stages the same way
    # (SparkSession job submission is thread-safe; FIFO scheduling lets
    # later jobs use idle slots).
    with ThreadPoolExecutor(max_workers=len(built)) as pool:
        futures = {name: pool.submit(_merge_and_write, name, df) for name, df in built.items()}
        out = {name: fut.result() for name, fut in futures.items()}
    phases["merge_write_wall"] = round(time.perf_counter() - t_phase, 3)
    phases["full" if full else "incremental"] = 1.0
    PHASE_LOG.append(phases)
    return out
