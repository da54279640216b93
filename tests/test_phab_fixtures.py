"""phab_fixtures.land: the parquet world Spark and the DuckDB oracles share.

land() must give the same tables as generate(), land them without a Spark
job, leave a finished world alone, and be what the registry's fixture world
reads.
"""

from __future__ import annotations

import os
from dataclasses import fields

import pytest

from perfbench.counters import StatusReader
from phabricator_etl_spark.sources import phab_fixtures


@pytest.mark.parametrize("seed,sizes", [(7, {}), (23, {"n_revisions": 60})])
def test_land_reads_back_generate(spark, tmp_path, seed, sizes):
    landed = phab_fixtures.land(spark, str(tmp_path), seed=seed, **sizes)
    generated = phab_fixtures.generate(spark, seed=seed, **sizes)
    for f in fields(landed):
        got, want = getattr(landed, f.name), getattr(generated, f.name)
        assert got.schema == want.schema, f.name
        assert got.exceptAll(want).unionAll(want.exceptAll(got)).count() == 0, f.name


def test_land_writes_one_file_per_table_without_spark_jobs(spark, tmp_path):
    reader = StatusReader(spark)
    before = reader.last_job_id()
    phab_fixtures.land(spark, str(tmp_path), seed=7)
    assert reader.work_since(before).jobs == 0
    names = [f.name for f in fields(phab_fixtures.PhabSources)]
    assert sorted(os.listdir(tmp_path)) == sorted([*names, "_DONE"])
    assert all(os.listdir(tmp_path / n) == ["part-0.parquet"] for n in names)


def test_land_never_rewrites_a_done_world(spark, tmp_path):
    """Once _DONE exists the files stay as they are, even for another seed:
    a reader in another process may be scanning them."""
    phab_fixtures.land(spark, str(tmp_path), seed=7)
    part = tmp_path / "revision" / "part-0.parquet"
    written = part.stat().st_mtime_ns
    again = phab_fixtures.land(spark, str(tmp_path), seed=23, n_revisions=60)
    assert part.stat().st_mtime_ns == written
    assert again.revision.count() == 120


def test_registry_world_scans_landed_files(spark):
    """The gate's world is scans of files, not Python-RDD frames: those carry
    no size statistics, so no join over them plans a broadcast."""
    from phabricator_etl_spark.plans.phab_queries import _ensure_world

    src = _ensure_world(spark)
    for f in fields(src):
        plan = getattr(src, f.name)._jdf.queryExecution().sparkPlan().toString()
        assert "ExistingRDD" not in plan, f"{f.name}: {plan}"
