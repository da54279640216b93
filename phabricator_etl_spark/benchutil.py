"""Shared measurement discipline for the bench harnesses.

Both bench.py (per-round sf0.1) and tools/scale_bench.py (sf1..sf30 curve)
repeat queries min-of-N in controlled sessions. Staged artifacts memoized by
``session.session_cached`` complicate that — the k-means Lloyd fit
(clustering._fitted: kmeans_cells owns it, ann_ivf_kmeans /
dedup_semantic_kmeans reuse it), the shingle postings index, the PQ
codebooks and the Phabricator fixture world. ``model_caches()`` is the
decorator's own record of every such cache, so no cache can be left out.

Min-of-N must NOT let a repeat reuse a model the timed query itself built
(the recorded number would silently become "apply with a warm model"), but
a query DOWNSTREAM of a model it didn't build must keep seeing the
pre-populated cache at every repeat. Snapshot/rollback gives both: evict
only the keys added since the snapshot. The r8 advisor found the contended
-retry rerun skipping this reset entirely (its rep 0 measured with the
first run's warm model under a '+fit-included' tag) — hence rollback now
runs before EVERY rep, including rep 0 of a rerun, where it is a no-op on
the very first attempt and a cold-start reset on any later one.
"""

from __future__ import annotations

from itertools import zip_longest

from .operators.clustering import _fitted
from .session import SESSION_CACHES

# Queries whose registry number deliberately isolates the APPLY stage of a
# model that ANOTHER query builds. A measurement harness running such a
# query in a session where the dep has not run must execute the dep UNTIMED
# first, or the cell silently flips to fit-included and round-over-round /
# cross-SF comparisons mix methodologies (the r6 SCALE_BENCH artifact
# recorded exactly that: dedup_semantic_kmeans 14.5x on a 3.33x step
# because one cell was warm-model and the other cold-fit).
WARM_DEPS: dict[str, str] = {
    "dedup_semantic_kmeans": "kmeans_cells",
    "ann_ivf_kmeans": "kmeans_cells",
}

# Queries that OWN a session model cache: their registry number is
# fit-included BY DEFINITION (kmeans_cells' cell is the Lloyd fit other
# rows layer on). A harness measuring an owner in a JVM where another
# query's WARM_DEPS warm-up already built the model must clear the owned
# cache first — the later snapshot otherwise treats the warm model as
# pre-existing, rollback never evicts it, and min-of-N records
# apply-with-warm-model under a label that promises the fit (r9 advisor
# finding; scale_bench's fit_included clearing, generalized).
CACHE_OWNERS = {"kmeans_cells": _fitted}

# Queries whose plan consumes the staged shingle-postings index
# (dedup._shingle_postings — a documented staged artifact that every consumer
# shares; like WARM_DEPS, except the builder is an internal stage, not a
# registry query). Harnesses warm it UNTIMED before measuring a consumer so
# the cell never flips between pays-the-build and cache-hit depending on
# which consumer happens to run first in a shared/batched JVM.
POSTINGS_CONSUMERS = frozenset(
    {"dedup_ngram_jaccard", "dedup_containment", "corpus_novelty_rate"}
)


def clear_owned_caches(name: str) -> None:
    """Drop every session model cache the named query OWNS (no-op for
    non-owners). Run before snapshotting so the owner's reps re-pay the fit."""
    if name in CACHE_OWNERS:
        CACHE_OWNERS[name].cache.clear()


def warm_staged_inputs(spark, sf_dir: str, name: str) -> None:
    """Build (untimed) the staged artifacts the named query consumes but does
    not own, so its timed reps always start from the documented layering."""
    if name in POSTINGS_CONSUMERS:
        from .operators.dedup import _shingle_postings

        _shingle_postings(spark, sf_dir)


def settle_verdict(
    window_pres: list[float], post: float, floor: float
) -> str | None:
    """Classify an end-of-run settle re-measure of a contention-flagged cell.

    ``window_pres`` carries the canary reading taken at the START of every
    measurement window the settle attempt ran (the pre-canary of the first
    run, plus — if the attempt tripped its own contended retry — the
    settle-loop exit reading the rerun started from). Returns
    ``"confirmed"``, ``"confirmed-selfwear"``, or ``None`` (not
    confirmable — the flag stays).

    The ``+contended-retry`` flag exists to mark KNOWN-INFLATED numbers:
    cells whose every measurement window ran under ambient host contention.
    Host contention can only ADD wall time to a CPU-bound query, so once a
    settle window verifiably BEGAN calm, min(recorded, settle_best) is a
    legitimate >=calm-wall sample — the flag's "inflated" claim is refuted
    by an actual measurement, not by waiting. A hot POST after calm starts
    is the documented self-wear pattern (the cell's own execution leaves
    GC/block-storage debt the canary reads — clean-pre + hot-post = self
    wear, hot-pre = ambient contention); it is confirmed under a distinct
    label so nothing is hidden. Judging window STARTS (not the retried
    bit) matters for exactly those cells: their own wear re-trips the
    retry on every attempt, so a retried-never-confirms rule would leave
    etl_e2e_* flagged forever even when every window began at the floor.
    A window that began hot keeps the flag.
    """
    clean = max(1.3 * floor, floor + 0.05)
    if not window_pres or any(p > clean for p in window_pres):
        return None
    return "confirmed" if post <= clean else "confirmed-selfwear"


def measure_reps(
    run_once,
    repeats: int,
    snap: list[set],
    holder: list | None,
    deadline: float | None = None,
    clock=None,
    prep=None,
    capture=None,
) -> float | None:
    """Min-of-``repeats`` under the model-cache discipline: the session model
    caches roll back to ``snap`` before EVERY rep, so repeats re-pay builds
    the timed query itself performs. ``snap`` must be taken ONCE by the
    caller (after dep warm-up, before the first run) and SHARED with any
    contended-retry rerun — a snapshot taken inside the rerun would see the
    first run's builds as pre-existing and never evict them (the r8 advisor
    found exactly that: the rerun's rep 0 measured apply-with-warm-model
    under a tag that promised the fit).

    ``holder`` is a shared one-element best-so-far spanning the first run AND
    any rerun (and, for the settle pass, seeded with the already-recorded
    cell): ``capture(dt)`` fires only when the GLOBAL min improves, so a
    rerun rep slower than the first run's min can never overwrite a phase /
    stage decomposition with one from a slower run (the r9 advisor hole in
    both bench.py and scale_bench). ``prep()`` runs after the rollback,
    outside the timed region. ``clock`` is injectable for tests.
    """
    import time as _time

    if clock is None:
        clock = _time.perf_counter
    if holder is None:
        holder = [None]
    best = None
    for _ in range(repeats):
        cache_rollback(snap)
        if prep is not None:
            prep()
        t0 = clock()
        run_once()
        dt = clock() - t0
        if holder[0] is None or dt < holder[0]:
            if capture is not None:
                capture(dt)
            holder[0] = dt
        best = dt if best is None else min(best, dt)
        if deadline is not None and clock() > deadline:
            break
    return best


def model_caches() -> list[dict]:
    return SESSION_CACHES


def cache_snapshot() -> list[set]:
    return [set(c) for c in model_caches()]


def cache_rollback(snap: list[set]) -> None:
    """Evict cache keys ADDED since the snapshot, keep pre-existing ones.
    A cache created after the snapshot had no keys then: it is emptied."""
    for cache, before in zip_longest(model_caches(), snap, fillvalue=()):
        for key in [k for k in cache if k not in before]:
            del cache[key]
