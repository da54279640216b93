"""Block hygiene for iterative fixpoints (ckpt.py).

Spark's DataFrame.unpersist() cannot free localCheckpoint blocks (the cache
manager doesn't own them), so iterative operators used to accumulate one
dead block set per round — measured as 52 s -> 161 s run-to-run degradation
of the sf10 connected-components query. These tests pin that freeing works
and that the two-generation chain invariant holds. Blocks are counted per
checkpoint RDD, found through each DataFrame's own plan, so RDDs that other
tests persist or release cannot move the counts.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from phabricator_etl_spark.ckpt import CheckpointChain, free


def _rdd_id(df: DataFrame) -> int:
    return df._jdf.queryExecution().logical().rdd().id()


def _blocks(spark, df: DataFrame) -> int:
    """Cached partitions of the RDD behind checkpoint ``df``."""
    rid = _rdd_id(df)
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(i.numCachedPartitions() for i in infos if i.id() == rid)


def _record_checkpoints(spark, monkeypatch) -> list[DataFrame]:
    """Every localCheckpoint result from now on, in order."""
    taken: list[DataFrame] = []
    cls = type(spark.range(0))  # the session's concrete DataFrame class
    real = cls.localCheckpoint

    def recording(self, *args, **kwargs):
        out = real(self, *args, **kwargs)
        taken.append(out)
        return out

    monkeypatch.setattr(cls, "localCheckpoint", recording)
    return taken


def test_free_releases_exactly_its_checkpoint(spark):
    df = spark.range(10_000).localCheckpoint(eager=True)
    other = spark.range(5_000).localCheckpoint(eager=True)
    assert _rdd_id(df) != _rdd_id(other)
    assert df.count() == 10_000
    assert _blocks(spark, df) > 0 and _blocks(spark, other) > 0
    free(df)
    assert _blocks(spark, df) == 0
    assert _blocks(spark, other) > 0 and other.count() == 5_000
    free(other)
    assert _blocks(spark, other) == 0


def test_chain_keeps_exactly_two_generations(spark):
    chain = CheckpointChain()
    gens = [chain.step(spark.range(1_000).select(F.col("id")))]
    for _ in range(5):
        # each round derives from the previous AND the previous must stay
        # queryable until the round after (convergence checks compare them)
        prev = gens[-1]
        gens.append(chain.step(prev.select((F.col("id") + 1).alias("id"))))
        assert prev.count() == 1_000  # previous generation still live
    assert [_blocks(spark, g) > 0 for g in gens] == [False] * 4 + [True] * 2
    assert gens[-1].agg(F.sum("id")).first()[0] == sum(range(5, 1_005))
    chain.dispose_all()
    assert [_blocks(spark, g) for g in gens] == [0] * 6


def test_connected_components_no_block_accumulation(spark, monkeypatch):
    """The CC fixpoint must not leave per-round blocks behind: after the
    result is collected, at most the final two label generations (one of
    them the result) hold blocks — nothing from sym or the input caches."""
    from phabricator_etl_spark.operators import graph

    # both cutovers at 0: the probe is truncated, so the distributed path
    # caches the graph's rows
    monkeypatch.setattr(graph, "LOCAL_EDGE_THRESHOLD", 0)
    monkeypatch.setattr(graph, "LOCAL_VERTEX_THRESHOLD", 0)
    taken = _record_checkpoints(spark, monkeypatch)
    cached: list[DataFrame] = []
    cls = type(spark.range(0))
    real_persist = cls.persist

    def recording_persist(self, *args, **kwargs):
        cached.append(real_persist(self, *args, **kwargs))
        return cached[-1]

    monkeypatch.setattr(cls, "persist", recording_persist)
    n = 3_000
    v = spark.range(n).select(F.col("id"))
    # a path graph -> many pointer-jumping rounds
    e = spark.range(n - 1).select(F.col("id").alias("src"), (F.col("id") + 1).alias("dst"))
    out = graph.connected_components(v, e)
    assert out.filter(F.col("component") != 0).count() == 0
    assert len(taken) > 4, "expected sym + several label rounds"
    live = [df for df in taken if _blocks(spark, df) > 0]
    assert 1 <= len(live) <= 2 and _rdd_id(out) in {_rdd_id(df) for df in live}
    assert _blocks(spark, taken[0]) == 0 and _blocks(spark, taken[1]) == 0  # first labels, sym
    assert not e.is_cached and not v.is_cached  # the inputs are never cached
    assert cached and not any(df.is_cached for df in cached)  # the rows cache is released


def test_chain_rejects_foreign_thread(spark):
    """A CheckpointChain must refuse step/dispose from a thread other than
    its creator (r5 ADVICE: a pooled build step stepping another thread's
    chain could free blocks that thread still reads)."""
    import threading

    chain = CheckpointChain()
    chain.step(spark.range(10))
    errs: list[BaseException] = []

    def misuse():
        try:
            chain.step(spark.range(5))
        except AssertionError as e:
            errs.append(e)

    t = threading.Thread(target=misuse)
    t.start()
    t.join()
    assert len(errs) == 1 and "owned by thread" in str(errs[0])
