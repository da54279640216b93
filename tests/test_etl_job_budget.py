"""Spark job budgets of a first-load ETL run and of five sentinel queries.

At fixture size the runner is bound by scheduling, not data: each Spark job
costs a driver round-trip whatever it moves. The job count is a
host-independent counter, so it can be pinned. The world is read from the
parquet ``phab_fixtures.land`` writes, as a production run reads stored
tables: in-memory sources never plan broadcasts, so they count differently.
land() writes each table as one file, so the scans' task counts do not
follow the session's core count: landed one file per core, the count at 32
cores varied from run to run with the timing of AQE's query stages.

Jobs are counted by job-id range from Spark's status store: the runner
submits from pool threads, which do not inherit a job group.
"""

from __future__ import annotations

import os
import re
import tempfile

import pytest

from phabricator_etl_spark.plans import incremental_runner as R
from phabricator_etl_spark.sources import phab_fixtures

NOW = 2_000_000_000  # after every fixture timestamp
SF_SMOKE_DIR = "/root/testdata/sf0.001"

# Jobs of one first load of the gate-size world: 49 at 1, 4, 8 and 16
# cores. Per SQL execution: the small-graph connected-components path's one
# probe collect 4 (it also runs the vertex and edge pipelines' query stages,
# which share one broadcast of the revision phids, and fills no cache); the
# revision pin 4 (the invalidation aggregate and window, the hits'
# broadcast and the checkpoint) and the principal-dim pin 2 (its union
# aggregate and the checkpoint); then the staged tables: revisions
# 10, comments 6, review_requests 5, review_groups 5, transactions 4,
# project_transactions 3, diffs 3 and changesets 3 (each transaction
# table resolves its author, owner and named principals in one broadcast
# of the dim).
JOB_BUDGET = 49
GRAPH_JOB_BUDGET = 4

# Jobs of stack_components over the gate-size world with both cutovers at
# 0, so the probe comes back truncated and the distributed fixpoint runs:
# the probe, the one cache fill of the graph's rows, then one checkpoint
# per round and no convergence job (the labels checkpoint observes whether
# a label moved). 20 or 21 at 1, 4, 8 and 16 cores, two runs each, over 2
# rounds; 26 or 27 when each round ended in a join of new against old
# labels.
DISTRIBUTED_CC_JOB_BUDGET = 21

# Jobs of graph_bfs_distance (pointer jumping) over a 3000-order table with
# both cutovers at 0, its parquet read included: its seeds and edges come
# out of one window, which runs in the probe and once more in the cache
# fill; then one checkpoint per round over 6 rounds and no convergence job
# (the pointer checkpoint observes whether any pointer jumped). 31 at 1, 4,
# 8 and 16 cores, two runs each; 45 when an initial and a per-round sum of
# the distances tested the fixpoint.
DISTRIBUTED_PJ_JOB_BUDGET = 31

# Jobs of one count() of each sentinel query at sf0.001: the most seen at
# 1, 4, 8 and 16 cores, each count repeating over 10 runs (1 core runs
# 3/7/6/8/4). phab_revisions runs 6 at each, three runs per core count, 4
# of them the connected-components probe. It is counted with the fixture
# world already landed, as bench.py warms it.
QUERY_JOB_BUDGETS = {
    "q1_pricing_summary": 4,
    "q3_shipping_priority": 7,
    "phab_revisions": 6,
    "dedup_minhash_lsh": 10,
    "ann_topk_vectorized": 7,
}


def _jobs_since(spark, last_job_id: int) -> list[tuple[int, str]]:
    """(job id, call site) of every job with an id above ``last_job_id``."""
    sc = spark.sparkContext._jsc.sc()
    sc.listenerBus().waitUntilEmpty()  # the status store is fed asynchronously
    it = sc.statusStore().jobsList(None).iterator()
    jobs = []
    while it.hasNext():
        j = it.next()
        if j.jobId() > last_job_id:
            jobs.append((j.jobId(), j.name()))
    return jobs


@pytest.fixture(scope="module")
def first_load(spark):
    """A first load of the gate-size world over parquet sources: its jobs,
    returned frames and destination."""
    with tempfile.TemporaryDirectory(prefix="job_budget_") as d:
        src = phab_fixtures.land(spark, os.path.join(d, "world"), seed=7)
        dest = os.path.join(d, "dest")
        before = max((i for i, _ in _jobs_since(spark, -1)), default=-1)
        out = R.run_incremental(spark, src, dest, now=NOW, full=True)
        jobs = _jobs_since(spark, before)
        yield jobs, out, dest


def _jobs_per_execution(spark, job_ids: set[int]) -> dict[str, list[int]]:
    """The given jobs per SQL execution, named by the staged table the
    execution writes, else by its description; jobs outside any execution
    are listed under "no execution"."""
    it = spark._jsparkSession.sharedState().statusStore().executionsList().iterator()
    out, seen = {}, set()
    while it.hasNext():
        e = it.next()
        keys = e.jobs().keys().iterator()
        ids = []
        while keys.hasNext():
            ids.append(int(keys.next()))
        ids = sorted(set(ids) & job_ids)
        if ids:
            staged = re.search(r"/(\w+)__stage\b", e.physicalPlanDescription() or "")
            out[f"{staged.group(1) if staged else e.description()} (execution {e.executionId()})"] = ids
            seen.update(ids)
    if job_ids - seen:
        out["no execution"] = sorted(job_ids - seen)
    return out


def test_first_load_job_budget(spark, first_load):
    jobs, _, _ = first_load
    assert len(jobs) <= JOB_BUDGET, f"{len(jobs)} jobs: {_jobs_per_execution(spark, {i for i, _ in jobs})}"


def test_first_load_graph_job_budget(first_load):
    jobs, _, _ = first_load
    graph = [site for _, site in jobs if "operators/graph.py" in site]
    assert len(graph) <= GRAPH_JOB_BUDGET, graph


def test_distributed_components_job_budget(spark, monkeypatch, tmp_path):
    from phabricator_etl_spark.operators import graph
    from phabricator_etl_spark.plans import phab_pipelines as P

    monkeypatch.setattr(graph, "LOCAL_EDGE_THRESHOLD", 0)
    monkeypatch.setattr(graph, "LOCAL_VERTEX_THRESHOLD", 0)
    src = phab_fixtures.land(spark, str(tmp_path / "world"), seed=7)
    before = max((i for i, _ in _jobs_since(spark, -1)), default=-1)
    P.stack_components(src)
    jobs = _jobs_since(spark, before)
    assert len(jobs) <= DISTRIBUTED_CC_JOB_BUDGET, f"{len(jobs)} jobs: {sorted(jobs)}"


def test_distributed_pointer_jumping_job_budget(spark, monkeypatch, tmp_path):
    import pyarrow as pa
    import pyarrow.parquet as pq

    from phabricator_etl_spark.operators import graph
    from phabricator_etl_spark.operators.iterative import graph_bfs_distance

    monkeypatch.setattr(graph, "LOCAL_EDGE_THRESHOLD", 0)
    monkeypatch.setattr(graph, "LOCAL_VERTEX_THRESHOLD", 0)
    keys = list(range(1, 3001))
    orders = {"o_orderkey": keys, "o_custkey": [k % 100 for k in keys]}
    pq.write_table(pa.table({c: pa.array(v, pa.int64()) for c, v in orders.items()}), str(tmp_path / "orders.parquet"))
    before = max((i for i, _ in _jobs_since(spark, -1)), default=-1)
    got = dict(map(tuple, graph_bfs_distance(spark, str(tmp_path)).collect()))
    jobs = _jobs_since(spark, before)
    assert got == {k: (k - 1) // 100 for k in keys}  # position in the customer's chain
    assert len(jobs) <= DISTRIBUTED_PJ_JOB_BUDGET, f"{len(jobs)} jobs: {sorted(jobs)}"


def test_read_back_schema_matches_written_files(spark, first_load):
    """Reading a table back with the schema just written must give the
    frame that schema inference over the files would: same columns, types,
    order and nullability."""
    _, out, dest = first_load
    assert sorted(out) == sorted(R.MERGE_KEYS)
    for name, df in out.items():
        assert df.schema == spark.read.parquet(os.path.join(dest, name)).schema, name


def test_summary_of_an_empty_table_follows_the_oracle(first_load):
    """etl_e2e's summary row of an empty table is the DuckDB oracle's: no
    rows, key_sum NULL (a SUM over no rows) and rec_sum 0 (the oracle's
    COALESCE(SUM(date_created), 0)). The other tables' rows do not move."""
    from phabricator_etl_spark.plans.etl_e2e import _summarize

    _, out, _ = first_load
    full = [tuple(r) for r in _summarize(out).collect()]
    emptied = [tuple(r) for r in _summarize({**out, "diffs": out["diffs"].limit(0)}).collect()]
    assert [r for r in emptied if r[0] == "diffs"] == [("diffs", 0, None, 0)]
    assert [r for r in emptied if r[0] != "diffs"] == [r for r in full if r[0] != "diffs"]


# The sentinels read the sf0.001 parquet fixtures, which CI does not have;
# the first-load tests above generate their own world and always run.
@pytest.mark.skipif(not os.path.isdir(SF_SMOKE_DIR), reason=f"{SF_SMOKE_DIR} missing")
@pytest.mark.parametrize("name", sorted(QUERY_JOB_BUDGETS))
def test_sentinel_query_job_budget(spark, sf_smoke, name):
    from phabricator_etl_spark.plans.phab_queries import _ensure_world
    from phabricator_etl_spark.registry import queries_dict

    _ensure_world(spark)
    build = queries_dict()[name]
    before = max((i for i, _ in _jobs_since(spark, -1)), default=-1)
    build(spark, sf_smoke).count()
    jobs = _jobs_since(spark, before)
    assert len(jobs) <= QUERY_JOB_BUDGETS[name], f"{len(jobs)} jobs: {sorted(jobs)}"
