"""Skewed Phabricator world: one revision with ~10k comments + reviewers.

The real-world hot-object shape (a mega-review) that the uniform fixture
generator can never produce (r5 verdict #8). Three things must hold:

1. CORRECTNESS under skew — both build_comments OR-join arms recover every
   hot comment exactly once, and the e2e incremental protocol still equals
   the full recompute on the skewed world.
2. BOUNDED TASK INPUT on the hot key — the OR-join arms join the huge
   comment side against the small revision map, so the plan must BROADCAST
   the revision side (the hot key then never concentrates in one reducer:
   each task's input is its scan split). At 100 TB with a non-broadcastable
   revision table the same queries fall back to sort-merge + AQE skew-split,
   which is asserted separately in tests/test_skew_robustness.py.
3. The pair-key dedup shuffle after the union hashes on (revision_id, id),
   so the hot revision's rows SPREAD across reducers — max post-shuffle
   partition stays near the uniform share, not 100% on one task.
"""

from __future__ import annotations

import tempfile

from pyspark.sql import functions as F

from phabricator_etl_spark.plans import incremental_runner as R
from phabricator_etl_spark.plans import phab_pipelines as P
from phabricator_etl_spark.sources import phab_fixtures

N_HOT = 10_000
NOW = 2_000_000_000


def _skewed(spark):
    base = phab_fixtures.generate(spark, seed=7, n_revisions=120)
    return phab_fixtures.inject_hot_object(base, n_hot=N_HOT)


def test_hot_revision_comments_exact_and_spread(spark):
    src = _skewed(spark)
    hot_id = src.revision.orderBy("id").first()["id"]
    out = P.build_comments(src, P.dim_principals(src)).localCheckpoint(eager=True)

    # 1. exactness: all injected comments land on the hot revision, once each
    hot = out.filter(F.col("revision_id") == hot_id)
    injected = hot.filter(F.col("comment_id") >= 1_000_000)
    assert injected.count() == N_HOT
    assert injected.select("comment_id").distinct().count() == N_HOT
    # both arms contributed (even ordinals arm 1, odd ordinals arm 2)
    evens = injected.filter(F.col("comment_id") % 2 == 0).count()
    assert evens == N_HOT // 2

    # 3. the dedup shuffle hashes on the PAIR key (revision_id, id), so the
    # hot revision's rows spread across reducers. At toy volumes AQE
    # legitimately coalesces the whole (few-MB) shuffle into one partition,
    # which would mask the key distribution — disable coalescing for the
    # measurement so the partitioning reflects the hash spread a full-size
    # shuffle would have.
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    try:
        spread = P.build_comments(src, P.dim_principals(src))
        sizes = [
            r["c"]
            for r in spread.withColumn("p", F.spark_partition_id())
            .groupBy("p").agg(F.count(F.lit(1)).alias("c")).collect()
        ]
    finally:
        spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "true")
    assert len(sizes) > 1, "expected a multi-partition shuffle with coalescing off"
    assert max(sizes) <= 0.4 * (N_HOT + 200), f"hot key concentrated: {sorted(sizes)[-3:]}"


def test_comment_or_join_arms_broadcast_the_dim_side(spark):
    # 2. plan audit: in the AQE FINAL plan (the in-memory fixture relations
    # carry no stats, so the static plan conservatively says SortMergeJoin
    # and AQE converts at runtime), the revision map is broadcast in BOTH
    # arms — the hot join key never hash-partitions the comment side, so
    # each task's input is its scan split.
    import re

    src = _skewed(spark)
    df = P.build_comments(src, P.dim_principals(src))
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "isFinalPlan=true" in plan
    final = {
        m.group(2)
        for m in re.finditer(r"(BroadcastHashJoin) \[(\w+)", plan)
    }
    assert {"revisionPHID", "rev_phid2"} <= final, (
        f"hot-key arms not broadcast in the final plan; broadcast keys={final}"
    )


def test_e2e_incremental_equals_full_on_skewed_world(spark):
    src = _skewed(spark)
    cut = int(src.revision.approxQuantile("dateModified", [0.5], 0.0)[0])
    early = phab_fixtures.PhabSources(
        **{**src.__dict__, "revision": src.revision.filter(F.col("dateModified") <= cut)}
    )

    def _rows(df):
        cols = sorted(c for c in df.columns if c != "ym")
        return sorted((tuple(r) for r in df.select(*cols).collect()), key=repr)

    with tempfile.TemporaryDirectory(prefix="skew_incr_") as d1, tempfile.TemporaryDirectory(prefix="skew_full_") as d2:
        R.run_incremental(spark, early, d1, now=NOW)
        incr = R.run_incremental(spark, src, d1, now=NOW)
        full = R.run_incremental(spark, src, d2, now=NOW, full=True)
        for name in ("comments", "review_requests", "revisions"):
            assert _rows(incr[name]) == _rows(full[name]), f"{name} diverged under skew"
