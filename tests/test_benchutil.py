"""Measurement-discipline helpers: shared by bench.py and tools/scale_bench.py.

The contract under test is the r8 advisor finding: a min-of-N repeat (or a
contended-retry rerun) must re-pay model builds the timed query itself
performed, while keeping caches that predate its snapshot (the documented
kmeans_cells -> ann_ivf_kmeans layering).
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


def test_settle_verdict_clears_flags_only_on_calm_windows():
    """The '+contended-retry' flag means KNOWN-INFLATED. A settle re-measure
    may clear it only when every measurement window it ran verifiably BEGAN
    calm (window-start canaries at the floor); a hot post after calm starts
    is the documented self-wear pattern and confirms under a distinct label
    instead of silently re-flagging forever (etl_e2e_*), including when the
    wear trips the in-settle retry — the rerun window's own start canary is
    what must be calm, not the retried bit."""
    from phabricator_etl_spark.benchutil import settle_verdict

    floor = 0.04  # clean threshold = max(1.3*0.04, 0.04+0.05) = 0.09
    # calm start + calm post: flag refuted outright
    assert settle_verdict([0.05], 0.08, floor) == "confirmed"
    # calm start + hot post: self-wear — confirmed, but labelled as such
    assert settle_verdict([0.05], 0.40, floor) == "confirmed-selfwear"
    # hot start: the settle window itself started contended — flag stays
    assert settle_verdict([0.30], 0.05, floor) is None
    # self-wear tripped the in-settle retry, but BOTH windows began calm
    # (first pre + settle-loop exit): still confirmable as self-wear
    assert settle_verdict([0.05, 0.07], 0.40, floor) == "confirmed-selfwear"
    # ...and if the retry's rerun window began calm and ended calm, the
    # rerun was a fully calm-bracketed measurement: plain confirmation
    assert settle_verdict([0.05, 0.07], 0.08, floor) == "confirmed"
    # the settle loop never calmed before the rerun — flag stays
    assert settle_verdict([0.05, 0.30], 0.05, floor) is None
    # no measured window at all — nothing to confirm with
    assert settle_verdict([], 0.05, floor) is None
    # threshold is max(ratio, absolute): at a tiny ratcheted floor the
    # absolute +0.05 margin governs, so ~60 ms canary noise still confirms
    assert settle_verdict([0.055], 0.03, 0.01) == "confirmed"
    # boundary: start exactly at the clean threshold confirms (gate is '>')
    assert settle_verdict([0.09], 0.09, floor) == "confirmed"


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


def test_measure_reps_rerun_repays_model_build():
    """VERDICT r9 #4: the r8-shaped bug on a counting fake. A contended-retry
    rerun shares the snapshot taken BEFORE the first run, so every rep —
    including rep 0 of the rerun — must find the model the timed query
    builds evicted and re-pay the fit. With a snapshot taken inside the
    rerun (the r8 bug) the assert below fires on the rerun's first rep."""
    from phabricator_etl_spark.benchutil import measure_reps

    fit = _fitted.cache
    try:
        fit[PRE] = "warm-dep-model"
        builds = []

        def run_once():
            # a warm hit here IS the r8 bug: the rep would silently time
            # apply-with-warm-model under a tag that promises the fit
            assert BUILT not in fit
            # ...while caches predating the snapshot must stay warm
            assert fit[PRE] == "warm-dep-model"
            builds.append(1)
            fit[BUILT] = "fit"

        ticks = iter(range(1000))

        def clock():
            return next(ticks)

        snap = cache_snapshot()  # ONCE, before the first run
        holder = [None]
        measure_reps(run_once, 2, snap, holder, clock=clock)
        # contended-retry rerun: SAME snap, SAME holder
        measure_reps(run_once, 2, snap, holder, clock=clock)
        assert len(builds) == 4, "every rep of both runs must re-pay the fit"
        assert fit[PRE] == "warm-dep-model"
    finally:
        fit.pop(PRE, None)
        fit.pop(BUILT, None)


def test_measure_reps_capture_only_on_global_best():
    """The r9 advisor hole: a rerun rep slower than the first run's min must
    NOT re-capture the phase/stage decomposition — capture() fires only when
    the shared best-so-far holder improves, across BOTH invocations."""
    from phabricator_etl_spark.benchutil import measure_reps

    # two calls x two reps with durations 5, 3, 9, 4 (clock ticks are
    # consumed in (t0, t1) pairs per rep; no deadline -> no extra tick)
    ticks = iter([0, 5, 10, 13, 100, 109, 200, 204])

    def clock():
        return next(ticks)

    captured = []
    snap = cache_snapshot()
    holder = [None]
    best1 = measure_reps(
        lambda: None, 2, snap, holder, clock=clock, capture=captured.append
    )
    best2 = measure_reps(
        lambda: None, 2, snap, holder, clock=clock, capture=captured.append
    )
    assert best1 == 3 and best2 == 4  # per-call mins (the recorded cell
    # takes min(best1, best2) — unchanged)
    assert holder[0] == 3
    assert captured == [5, 3], (
        "9 and 4 never beat the global min 3: their decompositions must not "
        "overwrite the one paired with the recorded number"
    )
