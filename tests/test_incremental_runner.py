"""The incremental invariant the reference never tests: running the ETL in
two incremental batches must produce exactly the tables a single full run
produces — for the reference's own watermark/merge/snapshot semantics."""

from __future__ import annotations

import tempfile

import pytest
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


def test_corrupted_dest_falls_back_to_first_run(spark):
    """A destination table dir that EXISTS but holds no readable parquet
    (the footprint of a killed previous run) must be treated as a first run
    (insert path), not fail the batch (r5 ADVICE: the _dest_exists probe
    alone can't distinguish 'present' from 'present and readable')."""
    import os

    full_src, early_src = _split_world(spark, seed=31)
    with tempfile.TemporaryDirectory(prefix="corrupt_") as d1, tempfile.TemporaryDirectory(prefix="ref_") as d2:
        # simulate the killed run: an existing dir with a garbage file
        for name in ("diffs", "comments"):
            os.makedirs(os.path.join(d1, name), exist_ok=True)
            with open(os.path.join(d1, name, "part-junk"), "w") as f:
                f.write("not parquet\n")
        got = R.run_incremental(spark, full_src, d1, now=NOW)
        ref = R.run_incremental(spark, full_src, d2, now=NOW, full=True)
        for name in R.MERGE_KEYS:
            assert _rows(got[name]) == _rows(ref[name]), (
                f"{name}: recovery run over corrupted dest != clean full run"
            )


def test_interrupted_swap_is_finished_or_dropped(spark):
    """A run killed inside the stage-then-swap write leaves one of two
    states; the next incremental run must still equal a full recompute.
    Killed after deleting the target: only ``comments__stage`` exists, and
    it is the complete table, so the run finishes the rename instead of
    treating ``comments`` as a first load (which kept only the changed
    subset). Killed while writing the stage: ``diffs__stage`` may be
    partial next to an intact ``diffs``, so the run drops it."""
    import os
    import shutil

    full_src, early_src = _split_world(spark, seed=31)
    with tempfile.TemporaryDirectory(prefix="swap_") as d1, tempfile.TemporaryDirectory(prefix="ref_") as d2:
        R.run_incremental(spark, early_src, d1, now=NOW)
        os.rename(os.path.join(d1, "comments"), os.path.join(d1, "comments__stage"))
        partial = os.path.join(d1, "diffs__stage")
        shutil.copytree(os.path.join(d1, "diffs"), partial)
        for f in sorted(f for f in os.listdir(partial) if f.startswith("part-"))[1:]:
            os.remove(os.path.join(partial, f))
        with open(os.path.join(partial, "part-junk"), "w") as f:
            f.write("not parquet\n")

        got = R.run_incremental(spark, full_src, d1, now=NOW)
        ref = R.run_incremental(spark, full_src, d2, now=NOW, full=True)
        for name in R.MERGE_KEYS:
            assert _rows(got[name]) == _rows(ref[name]), f"{name}: run after an interrupted swap != full recompute"
        assert not [p for p in os.listdir(d1) if p.endswith("__stage")]
