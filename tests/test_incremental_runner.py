"""The incremental invariant the reference never tests: running the ETL in
two incremental batches must produce exactly the tables a single full run
produces — for the reference's own watermark/merge/snapshot semantics, and
after a run that died at any step of its commit."""

from __future__ import annotations

import os
import shutil
import tempfile
import time

import pyarrow.parquet as pq
import pytest
from pyspark.sql import DataFrameWriter
from pyspark.sql import functions as F

from phabricator_etl_spark.plans import incremental_runner as R
from phabricator_etl_spark.sources import phab_fixtures
from phabricator_etl_spark.sources.phab_fixtures import PhabSources

NOW = 10_000_000_000  # far-future run bound


def _split_world(spark, seed=31):
    """Split the revision set at its median dateModified: the 'early' world
    is what the first run sees; the full world arrives by run 2."""
    src = phab_fixtures.generate(spark, seed=seed, n_revisions=90)
    cut = src.revision.approxQuantile("dateModified", [0.5], 0.0)[0]
    early = PhabSources(**{**src.__dict__, "revision": src.revision.filter(F.col("dateModified") <= cut)})
    return src, early


def _rows(df, drop=("ym",)):
    # column order varies between a freshly-built frame and a partitioned
    # parquet read-back; compare on name-sorted columns
    cols = sorted(c for c in df.columns if c not in drop)
    return sorted((tuple(r) for r in df.select(*cols).collect()), key=repr)


@pytest.mark.parametrize("seed", [31, 77])
def test_two_runs_equal_full_recompute(spark, seed):
    full_src, early_src = _split_world(spark, seed)
    with tempfile.TemporaryDirectory(prefix="incr_") as d1, tempfile.TemporaryDirectory(prefix="full_") as d2:
        # run 1: early world only (cold start — no watermark)
        R.run_incremental(spark, early_src, d1, now=NOW)
        wm = R.read_watermark(spark, d1)
        assert wm is not None, "run 1 must establish a watermark"

        # run 2: full world, incremental (watermark skips unchanged revisions)
        incr = R.run_incremental(spark, full_src, d1, now=NOW)

        # reference: one full run over the complete world
        fullr = R.run_incremental(spark, full_src, d2, now=NOW, full=True)

        for name in R.MERGE_KEYS:
            assert _rows(incr[name]) == _rows(fullr[name]), (
                f"{name}: incremental (2 runs) != full recompute"
            )


def test_watermark_skips_unchanged(spark):
    full_src, early_src = _split_world(spark, seed=31)
    with tempfile.TemporaryDirectory(prefix="incr_") as d:
        R.run_incremental(spark, early_src, d, now=NOW)
        wm = R.read_watermark(spark, d)
        changed = R.filter_changed_revisions(full_src, wm, NOW).revision
        total = full_src.revision.count()
        n_changed = changed.count()
        assert 0 < n_changed < total, (
            f"watermark must prune already-loaded revisions ({n_changed}/{total})"
        )


def _tuple_max(rows):
    """Python's max over whole tuples, NULL below every value: the W2
    winner rule dedup_latest applies to (recency, rest...)."""
    return max(rows, key=lambda r: tuple((0,) if v is None else (1, v) for v in r))


def test_dedup_latest_winner_rule(spark):
    """One row per key: the latest recency wins, a NULL recency loses to any
    value, equal recency falls back to the max of the remaining tuple (an
    array column compared element by element, then by length), and with
    no recency column the whole tuple decides. Checked against a Python
    oracle over hand-picked cases and a seeded random set."""
    import random

    cases = [
        ("a", 1, 10, ["x"]), ("b", 1, 20, ["a"]),  # latest recency wins
        ("z", 2, None, ["z"]), ("a", 2, 5, []),  # NULL recency loses
        ("a", 3, 7, ["q"]), ("b", 3, 7, ["a"]),  # equal recency: v decides
        ("a", 4, 7, ["x", "b"]), ("a", 4, 7, ["x"]), ("a", 4, 7, ["x", "a"]),  # the array decides
        (None, 5, 7, ["a"]), ("a", 5, 7, None),  # a NULL v is low
    ]
    rng = random.Random(5)
    arrays = [None, [], ["a"], ["a", "b"], ["b"]]
    cases += [
        (rng.choice([None, "a", "b"]), k, rng.choice([None, 1, 2]), rng.choice(arrays))
        for k in range(10, 30)
        for _ in range(rng.randint(1, 6))
    ]
    df = spark.createDataFrame(cases, "v string, k long, ts long, arr array<string>").repartition(3)

    got = {r["k"]: tuple(r) for r in R.dedup_latest(df, "k", "ts").collect()}
    want = {}
    for k in {c[1] for c in cases}:
        ts, v, arr = _tuple_max([(c[2], c[0], c[3]) for c in cases if c[1] == k])
        want[k] = (v, k, ts, arr)
    assert got == want
    assert [got[k] for k in (1, 2, 3, 4, 5)] == [
        ("b", 1, 20, ["a"]), ("a", 2, 5, []), ("b", 3, 7, ["a"]), ("a", 4, 7, ["x", "b"]), ("a", 5, 7, None),
    ]

    got = {r["k"]: tuple(r) for r in R.dedup_latest(df, "k", None).collect()}
    want = {}
    for k in {c[1] for c in cases}:
        v, ts, arr = _tuple_max([(c[0], c[2], c[3]) for c in cases if c[1] == k])
        want[k] = (v, k, ts, arr)
    assert got == want


class _Killed(Exception):
    """The run dies here."""


@pytest.fixture(scope="module")
def crash_world(spark, tmp_path_factory):
    """The median-split world, a destination holding its first run over the
    early half, and the rows of a full recompute over the whole world."""
    full_src, early_src = _split_world(spark, seed=31)
    early = str(tmp_path_factory.mktemp("early"))
    R.run_incremental(spark, early_src, early, now=NOW)
    ref = R.run_incremental(spark, full_src, str(tmp_path_factory.mktemp("ref")), now=NOW, full=True)
    return full_src, early_src, early, {name: _rows(ref[name]) for name in R.MERGE_KEYS}


def _assert_recovers(spark, crash_world, dest):
    """The next incremental run over the whole world equals a full
    recompute on every table and leaves no stage and no marker."""
    full_src, _, _, ref = crash_world
    got = R.run_incremental(spark, full_src, dest, now=NOW)
    for name in R.MERGE_KEYS:
        assert _rows(got[name]) == ref[name], f"{name}: run after the crash != full recompute"
    assert sorted(os.listdir(dest)) == sorted(R.MERGE_KEYS)


def _table_files(dest):
    """Size of every file of the committed tables."""
    return {
        os.path.relpath(os.path.join(root, f), dest): os.path.getsize(os.path.join(root, f))
        for name in R.MERGE_KEYS
        for root, _, files in os.walk(os.path.join(dest, name))
        for f in files
    }


@pytest.mark.parametrize("first_load", [False, True], ids=["incremental", "first_load"])
def test_failed_table_write_commits_no_table(spark, crash_world, tmp_path, monkeypatch, first_load):
    """A run whose comments write fails must commit none of its tables: a
    committed revisions table would move the watermark past the lost
    comments, and no later run would load them."""
    full_src, early_src, early, _ = crash_world
    dest = str(tmp_path / "dest")
    if not first_load:
        shutil.copytree(early, dest)
    write = DataFrameWriter.parquet

    def parquet(self, path, *args, **kwargs):
        if os.path.basename(path).startswith("comments"):
            raise _Killed(path)
        return write(self, path, *args, **kwargs)

    with monkeypatch.context() as m:
        m.setattr(DataFrameWriter, "parquet", parquet)
        with pytest.raises(_Killed):
            R.run_incremental(spark, early_src if first_load else full_src, dest, now=NOW)
    _assert_recovers(spark, crash_world, dest)


@pytest.mark.parametrize(
    "op,name",
    [
        ("create", R.COMMIT_MARKER),
        ("delete", "revisions"),
        ("delete", "comments"),
        ("rename", "comments__stage"),
        ("delete", R.COMMIT_MARKER),
    ],
    ids=["before_marker", "0_of_8_swaps", "3_of_8_swaps", "between_delete_and_rename", "8_of_8_swaps"],
)
def test_killed_commit_is_finished_or_dropped(spark, crash_world, tmp_path, monkeypatch, op, name):
    """A run killed anywhere in its commit, the Hadoop FS call ``op`` on
    ``name`` never made: killed before the marker, the next run drops the
    stages and loads the delta again; killed after it, the next run
    finishes the swap (tables go in MERGE_KEYS order, comments fourth)."""
    full_src, _, early, _ = crash_world
    dest = str(tmp_path / "dest")
    shutil.copytree(early, dest)
    hadoop_fs = R._hadoop_fs

    class KillAt:
        def __init__(self, fs):
            self._fs = fs

        def __getattr__(self, attr):
            def call(path, *args):
                if (attr, path.getName()) == (op, name):
                    raise _Killed(f"{attr} {path}")
                return getattr(self._fs, attr)(path, *args)

            return call

    def killing_fs(spark, path):
        fs, jvm_path = hadoop_fs(spark, path)
        return KillAt(fs), jvm_path

    with monkeypatch.context() as m:
        m.setattr(R, "_hadoop_fs", killing_fs)
        with pytest.raises(_Killed):
            R.run_incremental(spark, full_src, dest, now=NOW)
    assert os.path.exists(os.path.join(dest, R.COMMIT_MARKER)) == (op != "create")
    _assert_recovers(spark, crash_world, dest)


def test_unreadable_committed_table_fails_the_run(spark, crash_world, tmp_path):
    """A committed table that cannot be read fails the run loudly and
    leaves every committed table as it was, instead of being taken for a
    first load that keeps only the changed rows."""
    full_src, _, early, _ = crash_world
    dest = str(tmp_path / "dest")
    shutil.copytree(early, dest)
    comments = os.path.join(dest, "comments")
    part = next(f for f in sorted(os.listdir(comments)) if f.startswith("part-"))
    with open(os.path.join(comments, part), "w") as f:
        f.write("not parquet\n")
    before = _table_files(dest)
    with pytest.raises(Exception, match="comments/part-"):
        R.run_incremental(spark, full_src, dest, now=NOW)
    assert _table_files(dest) == before


def _chunk_codecs(dest):
    """Codec of every column chunk of every committed parquet file."""
    codecs = set()
    for name in R.MERGE_KEYS:
        for f in sorted((dest / name).glob("*.parquet")):
            meta = pq.ParquetFile(f).metadata
            codecs |= {
                meta.row_group(g).column(c).compression
                for g in range(meta.num_row_groups)
                for c in range(meta.num_columns)
            }
    return codecs


def test_run_merges_tables_written_with_snappy(spark, crash_world, tmp_path):
    """The upgrade path of the zstd codec: a destination whose first load
    was written with snappy, Spark's default parquet codec, is merged by
    the next incremental run into the rows of a full recompute, and every
    table that run commits is zstd throughout."""
    full_src, early_src, _, ref = crash_world
    dest = tmp_path / "dest"
    conf = "spark.sql.parquet.compression.codec"
    codec = spark.conf.get(conf)
    spark.conf.set(conf, "snappy")
    try:
        R.run_incremental(spark, early_src, str(dest), now=NOW)
    finally:
        spark.conf.set(conf, codec)
    assert _chunk_codecs(dest) == {"SNAPPY"}
    got = R.run_incremental(spark, full_src, str(dest), now=NOW)
    for name in R.MERGE_KEYS:
        assert _rows(got[name]) == ref[name], f"{name}: run over snappy tables != full recompute"
    assert _chunk_codecs(dest) == {"ZSTD"}


def test_revisions_are_one_ym_sorted_file_per_write_task(spark, tmp_path):
    """A first load writes revisions as at most one parquet file per write
    task, with no month directory: every row's ym is the UTC month of its
    date_modified, ym never decreases within a file, and a ym filter is
    pushed to the parquet scan, so row-group statistics stand in for the
    month directories. AQE's partition coalescing is off, so the shuffle
    partitions reach the write as at scale; with month directories each
    task wrote one file per month it held."""
    conf = "spark.sql.adaptive.coalescePartitions.enabled"
    before = spark.conf.get(conf)
    spark.conf.set(conf, "false")
    try:
        src = phab_fixtures.land(spark, str(tmp_path / "world"), seed=7)
        R.run_incremental(spark, src, str(tmp_path / "dest"), now=NOW, full=True)
    finally:
        spark.conf.set(conf, before)
    path = tmp_path / "dest" / "revisions"
    assert not [p.name for p in path.iterdir() if p.name.startswith("ym=")]
    files = sorted(path.glob("*.parquet"))
    assert 0 < len(files) <= int(spark.conf.get("spark.sql.shuffle.partitions")), [f.name for f in files]

    months = set()
    for f in files:
        cols = pq.read_table(f, columns=["date_modified", "ym"]).to_pydict()
        want = [None if t is None else time.strftime("%Y-%m", time.gmtime(t)) for t in cols["date_modified"]]
        assert cols["ym"] == want, f.name
        assert want == sorted(want, key=lambda ym: (ym is not None, ym)), f"{f.name}: ym decreases"
        months.update(ym for ym in want if ym is not None)

    month = min(months)
    plan = spark.read.parquet(str(path)).filter(F.col("ym") == month)._jdf.queryExecution().executedPlan()
    pushed = [line for line in plan.toString().splitlines() if "PushedFilters" in line]
    assert pushed and f"EqualTo(ym,{month})" in pushed[0], plan.toString()
