"""Rolling localCheckpoint for iterative fixpoints — with block disposal.

Every iterative operator here (connected components, PageRank, pointer
jumping, k-core peeling) follows the same pattern: the new round's state is
`localCheckpoint(eager=True)`-ed to cut lineage (SURVEY.md §4.2), making the
previous round's checkpoint garbage. But Spark gives no sanctioned way to
free it: `DataFrame.unpersist()` routes through the cache manager, which
does not know about checkpoint RDDs (verified on 4.1.2 — the block count
does not drop), so a 15M-vertex fixpoint accumulates one dead 15M-row block
set PER ROUND in block storage. At sf10 that measured as run-to-run
degradation of the CC query from 52 s to 161 s — the executor spends the
tail of the run in GC walking dead blocks.

The fix is targeted: a checkpointed DataFrame's plan is a `LogicalRDD` over
exactly the RDD the checkpoint persisted, so `free(df)` unpersists that RDD
through the DataFrame's own plan, touching nothing else. Freeing invalidates
the DataFrame (a localCheckpoint is non-recomputable by design) — which is
the point: it is garbage. The final round's state is intentionally never
freed — it backs the DataFrame returned to the caller.

CheckpointChain records its owning thread and asserts on step/dispose, so a
chain can't migrate across pool threads (plans/incremental_runner.py builds
tables in a pool) and free blocks another thread still reads.
"""

from __future__ import annotations

import threading

from pyspark.sql import DataFrame

# Storage level note (r8): the default deserialized level thrashes once the
# live checkpoint working set crosses the storage pool — at sf30 the
# bipartite k-core's per-round EDGE-set generations (180M rows, ~10 GB each
# as Java objects) blew the 48g driver's ~29 GB storage fraction and turned
# a 59 s sf10 peel into 875 s (14.8x on a 3x step, rounds constant at 2).
# A blanket switch to serialized memory (StorageLevel.MEMORY_AND_DISK in
# 4.x naming) was tried and rejected: its A/B read 2.5x slower at sf10, and
# although that sample was contention-contaminated (canary 0.69 s vs 0.1 s
# floor), per-round deserialization of vertex-sized states is a real cost
# every chain user would pay. The durable fix was structural — operators
# keep per-round state VERTEX-sized and checkpoint big immutable relations
# once (see kcore_subgraph) — so the default level stays.


def free(df: DataFrame) -> None:
    """Release the blocks of ``df``, a ``localCheckpoint(eager=True)`` result.

    ``df`` is unusable afterwards — call this only once every consumer of
    that state has materialized.
    """
    df._jdf.queryExecution().logical().rdd().unpersist(False)


class CheckpointChain:
    """step(df) -> eagerly-checkpointed df; frees the GRANDPARENT's blocks.

    Two generations stay live: convergence checks routinely compare the new
    state against the previous one (pointer jumping's sum probe), so
    the previous generation is only provably garbage once the round AFTER it
    has materialized. Memory is O(2 states) instead of O(rounds). States
    handed out in the last two steps are never freed (one of them backs
    the operator's return value). One chain per evolving state (labels,
    ranks, edge set, ...), owned by the thread that created it.
    """

    def __init__(self) -> None:
        self._prev: DataFrame | None = None
        self._cur: DataFrame | None = None
        self._owner = threading.get_ident()

    def _assert_owner(self, op: str) -> None:
        tid = threading.get_ident()
        assert tid == self._owner, (
            f"CheckpointChain.{op} from thread {tid}, but the chain is owned "
            f"by thread {self._owner} — a chain must not cross threads "
            "(it would free blocks the owner still reads)"
        )

    def step(self, df: DataFrame, *, eager: bool = True) -> DataFrame:
        """``eager=False`` defers the checkpoint to the first query that
        reads it: for a final narrow step (a filter of the last state),
        which that query fills at no job of its own."""
        self._assert_owner("step")
        ckpt = df.localCheckpoint(eager=eager)
        if self._prev is not None:
            free(self._prev)
        self._prev, self._cur = self._cur, ckpt
        return ckpt

    def dispose_all(self) -> None:
        """Free both live generations — only for chains whose final state is
        NOT returned to the caller (e.g. a loop-internal helper table that
        dies with the loop)."""
        self._assert_owner("dispose_all")
        for df in (self._prev, self._cur):
            if df is not None:
                free(df)
        self._prev = self._cur = None
