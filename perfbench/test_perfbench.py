"""Tests of the benchmark's own machinery.

    python3 -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import json
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [ROOT, HERE]

from counters import StatusReader, module_of  # noqa: E402
from run import END_TO_END, per_layer_units  # noqa: E402
from tracing import Tracer, self_seconds, unwrap, wrap_everywhere  # noqa: E402


@pytest.fixture(scope="module")
def spark():
    from phabricator_etl_spark.session import get_spark

    s = get_spark("perfbench-test")
    s.sparkContext.setLogLevel("ERROR")
    yield s


def test_counts_for_a_fixed_tiny_query(spark):
    from pyspark.sql import functions as F

    reader = StatusReader(spark)
    last = reader.last_job_id()
    spark.range(0, 1000, 1, 4).agg(F.sum("id")).collect()
    w = reader.work_since(last)
    # AQE submits the 4-task map stage as its own job; the result job then
    # skips that stage and runs the single-partition final aggregate
    assert (w.jobs, w.stages, w.tasks) == (2, 2, 5)
    assert w.shuffle_write_mb > 0 and w.shuffle_read_mb == w.shuffle_write_mb
    assert w.spill_mb == 0
    # the call site is this file, not a package module
    assert w.jobs_unattributed == 2
    # nothing ran since: an empty window
    assert reader.work_since(reader.last_job_id()).jobs == 0


def test_call_sites_map_to_package_modules():
    assert module_of("toPandas at /src/phabricator_etl_spark/operators/graph.py:147") == "graph"
    assert module_of("count at /src/phabricator_etl_spark/plans/etl_e2e.py:12") == "etl_e2e"
    assert module_of("parquet at NativeMethodAccessorImpl.java:0") is None
    assert module_of("$anonfun$withThreadLocalCaptured$2 at CompletableFuture.java:1768") is None


def test_spans_nest_and_wrappers_come_off():
    import phabricator_etl_spark.plans.phab_pipelines as P
    from phabricator_etl_spark.operators import graph

    tracer = Tracer()
    original = graph.connected_components
    undo = wrap_everywhere(tracer, original, "graph.connected_components")
    # rebound where it is defined and where phab_pipelines imported it by name
    assert graph.connected_components is not original
    assert P.connected_components is graph.connected_components
    unwrap(undo)
    assert graph.connected_components is original and P.connected_components is original

    with tracer.unit("u1") as root:
        with tracer.span("child"):
            pass
    spans = tracer.of_unit("u1")
    child = next(s for s in spans if s.name == "child")
    assert child.parent == root.id
    assert self_seconds(spans, root) == pytest.approx(root.seconds - child.seconds)


def test_benchmark_json_lists_what_the_runner_reports():
    from workloads import TABLES, WORKLOADS, AnalyticsMix

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert {w["name"] for w in spec["workloads"]} == set(WORKLOADS)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == per_layer_units(AnalyticsMix.QUERIES, TABLES)


def _write(path: str, **cols) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(pa.table(cols), path)


def test_rows_changed_matches_columns_by_name(tmp_path):
    from workloads import _rows_changed

    before, after = str(tmp_path / "before"), str(tmp_path / "after")
    _write(f"{before}/t/ym=2020-01/part-0.parquet", k=[1, 2, 3], v=["a", "b", "c"])
    # the same rows with the key column first, one updated and one inserted
    _write(f"{after}/t/ym=2020-01/part-0.parquet", v=["a", "B", "c"], k=[1, 2, 3])
    _write(f"{after}/t/ym=2020-02/part-0.parquet", v=["d"], k=[4])
    assert _rows_changed(before, after, ["t"]) == 2
    assert _rows_changed(after, after, ["t"]) == 0


def test_restore_reproduces_the_preload_and_counts_no_writes(tmp_path):
    import time

    from workloads import EtlFull, _manifest, _new_files

    wl = EtlFull(str(tmp_path))
    part = f"{wl.pristine}/revisions/ym=2020-01/part-0.parquet"
    _write(part, k=[1])
    os.utime(part, (1, 1))
    wl.pristine_manifest = _manifest(wl.pristine)
    wl.incremental = True
    since = time.time()
    wl.before_unit()  # restored files keep the preload's mtimes
    assert _manifest(wl.dest) == wl.pristine_manifest
    assert _new_files(wl.dest, since) == []
