"""Measurement-discipline helpers: shared by bench.py, tools/scale_bench.py
and tools/opt_probe.py, which all measure through ``measure_cell``.

The contract under test is the r8 advisor finding: every rep of a min-of-N
cell must re-pay model builds the timed query itself performed, while
keeping caches that predate its snapshot (the documented kmeans_cells ->
ann_ivf_kmeans layering).
"""

from __future__ import annotations

from phabricator_etl_spark.benchutil import (
    WARM_DEPS,
    cache_rollback,
    cache_snapshot,
    model_caches,
)
from phabricator_etl_spark.operators.clustering import _fitted
from phabricator_etl_spark.operators.dedup import _shingle_postings
from phabricator_etl_spark.operators.quantization import _codebooks
from phabricator_etl_spark.plans.phab_queries import _ensure_world

# keys shaped like the decorator's own: (applicationId, *args)
PRE = ("app", "pre-existing")
BUILT = ("app", "built-by-query")


def test_rollback_evicts_only_keys_added_since_snapshot():
    fit, postings = _fitted.cache, _shingle_postings.cache
    try:
        fit[PRE] = "warm-dep-model"
        snap = cache_snapshot()
        # rollback at rep 0 of the FIRST attempt: nothing added yet -> no-op
        cache_rollback(snap)
        assert fit[PRE] == "warm-dep-model"
        # the timed query builds a model; the next rep must re-pay it
        fit[BUILT] = "fit"
        postings[BUILT] = "index"
        cache_rollback(snap)
        assert BUILT not in fit
        assert BUILT not in postings
        # ...but the pre-populated dep model survives every rollback
        assert fit[PRE] == "warm-dep-model"
    finally:
        fit.pop(PRE, None)


def test_rollback_covers_every_session_cache():
    """Every decorated cache is in the rollback set by construction — the PQ
    codebooks were once missing from a hand-kept list, so ann_pq_adc's
    repeats timed an apply with already-trained codebooks. A cache created
    after the snapshot is emptied too."""
    from phabricator_etl_spark.session import SESSION_CACHES, session_cached

    decorated = [_fitted, _shingle_postings, _codebooks, _ensure_world]
    assert all(any(fn.cache is c for c in model_caches()) for fn in decorated)
    snap = cache_snapshot()

    @session_cached
    def late(spark):
        return None

    try:
        for fn in [*decorated, late]:
            fn.cache[BUILT] = "model"
        cache_rollback(snap)
        for fn in [*decorated, late]:
            assert BUILT not in fn.cache, fn.__name__
    finally:
        SESSION_CACHES[:] = [c for c in SESSION_CACHES if c is not late.cache]


def test_warm_deps_name_real_registry_queries():
    from phabricator_etl_spark.registry import all_queries

    names = {q.name for q in all_queries()}
    for query, dep in WARM_DEPS.items():
        assert query in names and dep in names


def test_initial_heap_clamps_to_available_ram():
    import os

    import pytest

    from phabricator_etl_spark.session import _initial_heap, _mem_to_mb

    assert _mem_to_mb("8g") == 8192
    assert _mem_to_mb("512m") == 512
    small = _initial_heap("1g")
    assert _mem_to_mb(small) <= 1024  # never above the configured cap
    if not os.path.exists("/proc/meminfo"):
        # documented non-Linux fallback returns the request unchanged —
        # the clamp assertions below only hold where MemAvailable exists
        pytest.skip("no /proc/meminfo: clamp falls back to the request")
    # a heap far beyond this host's RAM must clamp below the request
    # (keeps -Xms startable where -Xms == -Xmx would OOM at JVM start)
    huge = _initial_heap("100000g")
    assert _mem_to_mb(huge) < _mem_to_mb("100000g")
    # ...but never below the 256 MiB JVM-startable floor, even when the
    # host reports almost no MemAvailable (r9 advisor: '0m' fails startup)
    assert _mem_to_mb(_initial_heap("100000g")) >= 256


def test_mem_to_mb_rejects_unitless_strings():
    import pytest

    from phabricator_etl_spark.session import _mem_to_mb

    # bare numbers mean BYTES to the JVM; guessing GiB here would
    # overestimate 8192x and defeat the -Xms clamp (r9 advisor)
    with pytest.raises(ValueError, match="unit suffix"):
        _mem_to_mb("8192")
    # an empty string (SPARK_GRAFT_DRIVER_MEM set but blank) must get the
    # same actionable message, not a bare IndexError (r9 advisor)
    with pytest.raises(ValueError, match="unit suffix"):
        _mem_to_mb("")


def test_initial_heap_floor_on_exhausted_host(monkeypatch, tmp_path):
    """With MemAvailable near zero the clamp must still emit a startable -Xms."""
    import builtins

    from phabricator_etl_spark import session as sess

    meminfo = tmp_path / "meminfo"
    meminfo.write_text("MemTotal: 1024 kB\nMemAvailable: 1024 kB\n")
    real_open = builtins.open

    def fake_open(path, *a, **kw):
        if path == "/proc/meminfo":
            return real_open(meminfo, *a, **kw)
        return real_open(path, *a, **kw)

    monkeypatch.setattr(builtins, "open", fake_open)
    assert sess._mem_to_mb(sess._initial_heap("8g")) == 256


def test_cache_owner_and_staged_input_declarations():
    """The harness discipline tables must stay consistent with the operators:
    every CACHE_OWNERS key is a registry query, every WARM_DEPS value is an
    owner, and every POSTINGS_CONSUMERS name is a registry query."""
    import __spark_entry__ as entry

    from phabricator_etl_spark.benchutil import (
        CACHE_OWNERS,
        POSTINGS_CONSUMERS,
        WARM_DEPS,
    )

    names = set(entry.queries())
    assert set(CACHE_OWNERS) <= names
    # an owner's cache is a decorated one, so rollback also covers it
    for owner in CACHE_OWNERS.values():
        assert any(owner.cache is c for c in model_caches())
    assert set(WARM_DEPS.values()) <= set(CACHE_OWNERS), (
        "a WARM_DEPS warm-up can pre-build a model; its builder must be "
        "declared an owner so harnesses clear it before measuring the owner"
    )
    assert POSTINGS_CONSUMERS <= names


class _FakeQuery:
    """A registry entry whose build runs ``action`` and whose count() is
    one Spark job returning ``rows``."""

    rows = 0

    def __init__(self, action):
        self.action = action

    def build(self, spark, sf_dir):
        self.action()
        return self

    def count(self):
        _FakeStatus.jobs += 1
        return self.rows


class _FakeStatus:
    """Stands in for perfbench.counters.StatusReader: job ids count up,
    and the work since a job id is the number of jobs after it."""

    jobs = 0

    def __init__(self, spark):
        pass

    def last_job_id(self):
        return _FakeStatus.jobs

    def work_since(self, last_job_id):
        return _FakeStatus.jobs - last_job_id


def test_measure_cell_repays_model_build_every_rep():
    """The documented kmeans_cells -> ann_ivf_kmeans layering: the WARM_DEPS
    dependency runs once before the snapshot, so its model survives every
    rollback, while the model the timed query builds itself is evicted and
    re-paid at every rep."""
    from phabricator_etl_spark.benchutil import measure_cell

    fit = _fitted.cache
    builds = []

    def build_dep():
        fit[PRE] = "warm-dep-model"

    def build_timed():
        # a warm hit here would time apply-with-warm-model
        assert BUILT not in fit
        assert fit[PRE] == "warm-dep-model"
        builds.append(1)
        fit[BUILT] = "fit"

    by_name = {
        WARM_DEPS["ann_ivf_kmeans"]: _FakeQuery(build_dep),
        "ann_ivf_kmeans": _FakeQuery(build_timed),
    }
    try:
        cell = measure_cell(None, "sf", by_name, "ann_ivf_kmeans", 3, _FakeStatus)
        assert len(builds) == 3, "every rep must re-pay the fit"
        assert fit[PRE] == "warm-dep-model"
        assert cell.work == 1 and cell.phases == []
    finally:
        fit.pop(PRE, None)
        fit.pop(BUILT, None)


def test_measure_cell_reports_fastest_rep(monkeypatch):
    """The counters, phases, row count and stage decomposition returned are
    those of the rep whose time is returned: a later, slower rep must not
    overwrite them, and no rep inherits an earlier rep's stage times."""
    from phabricator_etl_spark import benchutil
    from phabricator_etl_spark.operators.iterative import STAGE_TIMES
    from phabricator_etl_spark.plans.incremental_runner import PHASE_LOG

    # reps take 5, 3 and 9 (perf_counter is read at the start and end of each)
    ticks = iter([0, 5, 10, 13, 100, 109])
    monkeypatch.setattr(benchutil.time, "perf_counter", lambda: next(ticks))
    reps = []

    def run():
        reps.append(len(reps))
        # the rep's own jobs and phase record: rep k runs k + 1 jobs
        _FakeStatus.jobs += len(reps) - 1
        PHASE_LOG.append({"rep": reps[-1]})
        # only rep 1 runs a staged operator; its rows differ per rep
        if reps[-1] == 1:
            STAGE_TIMES["edges_checkpoint"] = 1.5
        fake.rows = 100 + reps[-1]

    fake = _FakeQuery(run)
    try:
        cell = benchutil.measure_cell(None, "sf", {"fake": fake}, "fake", 3, _FakeStatus)
        assert STAGE_TIMES == {}, "rep 2 must start from empty stage times"
    finally:
        PHASE_LOG.clear()
        STAGE_TIMES.clear()
    assert reps == [0, 1, 2]
    assert cell.seconds == 3
    assert cell.work == 2 and cell.phases == [{"rep": 1}]
    assert cell.rows == 101 and cell.stage_times == {"edges_checkpoint": 1.5}


def test_bench_unknown_query_name_fails_before_any_session():
    """A typo in SPARK_GRAFT_BENCH_ONLY must not measure zero queries and
    report a 0 s total: the name lookup raises before a session starts."""
    import os
    import subprocess
    import sys

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = {**os.environ, "SPARK_GRAFT_BENCH_ONLY": "q1_pricing_summary,no_such_query"}
    proc = subprocess.run(
        [sys.executable, os.path.join(root, "bench.py")],
        env=env,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert proc.returncode != 0
    assert "KeyError: 'no_such_query'" in proc.stderr
    assert not proc.stdout.strip(), proc.stdout


def test_bench_failed_session_restart_is_a_cell_error(monkeypatch, capsys):
    """A session restart that raises costs the cell it was for, not the
    bench line: the next cell retries the restart, and the stdout line and
    detail still come out."""
    import importlib.util
    import json
    import os

    from perfbench.counters import Work
    from phabricator_etl_spark import benchutil
    from phabricator_etl_spark.benchutil import Cell

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    spec = importlib.util.spec_from_file_location("bench", os.path.join(root, "bench.py"))
    bench = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(bench)

    starts = []

    def fresh_session(sf_dir):
        starts.append(sf_dir)
        if len(starts) == 1:
            raise RuntimeError("JVM gateway exited")
        return "spark"

    def measure_cell(spark, sf_dir, by_name, name, repeats, reader):
        assert spark == "spark"
        return Cell(1.5, Work(jobs=4, stages=4, tasks=8), [], 0, {})

    monkeypatch.setattr(benchutil, "fresh_session", fresh_session)
    monkeypatch.setattr(benchutil, "measure_cell", measure_cell)
    monkeypatch.setenv("SPARK_GRAFT_BENCH_ONLY", "q1_pricing_summary,q3_shipping_priority")
    bench.main()

    line = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert len(starts) == 2
    assert (line["n_queries"], line["n_errors"], line["spark_jobs"]) == (1, 1, 4)
    assert line["queries"] == {"q3_shipping_priority": 1.5}
    with open("/tmp/BENCH_DETAIL.smoke.json") as f:
        detail = json.load(f)
    assert detail["errors"] == {"q1_pricing_summary": "RuntimeError: JVM gateway exited"}
    assert detail["counters"]["q3_shipping_priority"]["jobs"] == 4
    assert "jobs_by_module" not in detail["counters"]["q3_shipping_priority"]
