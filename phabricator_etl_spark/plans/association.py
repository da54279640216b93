"""Market-basket association mining: frequent item pairs with support/lift.

The distributed-frequent-itemset shape (public A-priori / FP-growth line of
work, pairwise level): baskets = distinct (order, part); the candidate space
is pruned A-priori-style — an item must itself clear the support threshold
before any pair containing it is generated — so the self-join runs over
frequent-item posting lists, not the raw basket stream. The same
per-basket self-join + min-support pattern is how co-occurrence statistics
(word co-occurrence, product affinity, co-citation) are mined at 100 TB.
The basket total N is a broadcast 1-row aggregate folded into the plan
(no driver-blocking .count() mid-pipeline) — the whole query is one job.

Scale notes: the pair join is keyed on the basket id (uniform, bounded
basket size ⇒ bounded per-key fan-out, the same guarantee the triangle
counter engineers for); frequent-item pruning bounds the explode; lift's
denominator counts are broadcast back from the (tiny) frequent-item table.
Determinism: support/counts are exact ints; lift = N·c_ab/(c_a·c_b) is one
division of exact int64 products (bit-identical across engines), rounded
only for display.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..query import Q
from ..sources.catalog import load_table as _t

MIN_SUPPORT = 3  # absolute floor: pair must co-occur in >= this many baskets
# Support is RELATIVE above the floor: threshold = max(MIN_SUPPORT,
# ceil(SUPPORT_NUM * n_baskets / SUPPORT_DEN)) — the standard formulation in
# association mining (support as a fraction of transactions), and the thing
# that makes the query scale-stable. A fixed absolute threshold over growing
# data is a scale bomb twice over: statistically (random 3-fold co-occurrence
# eventually clears any constant bar) and physically (the sf10 column
# measured 95.9 s, super-linear, because EVERY item cleared support>=3 so the
# A-priori prune removed nothing and the distinct-pair hash aggregate grew
# past memory into spill). ceil() is computed in exact int64
# ((2*nb + 9999) div 10000) so Spark and DuckDB can't diverge by a float ulp.
# At the sf0.01 gate, ceil(2*14743/10000) = 3 == the floor: gate hashes
# unchanged; at sf10 the threshold is 2945 vs a max item support of ~60, so
# noise baskets prune to nothing and the query stays flat.
SUPPORT_NUM, SUPPORT_DEN = 2, 10_000  # 0.02% of baskets
# Skew defense (measured, not hypothetical): per-basket pair generation is
# quadratic in basket size, so ONE hot basket holding 30% of the rows turns
# the join into ~1.6e8 pairs from a single key — the skew bench clocked
# 3.4s -> 112.6s on scaledata/sf0.1-skew before this cap. Baskets with more
# than MAX_BASKET_ITEMS distinct items are excluded from mining entirely
# (denominator, item counts, and supports all agree), the standard
# transaction-length cap in frequent-itemset miners: a degenerate
# catch-all basket carries no pairwise-affinity signal. TPC-H baskets have
# <= 7 items, so gate results are unchanged.
MAX_BASKET_ITEMS = 256


def basket_frequent_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    # r11: baskets as ONE aggregation. The r10 plan built distinct
    # (basket, item) rows (exchange 1), then a COUNT window partitioned by
    # basket (exchange 2 + sort) for the length cap, then self-joined the
    # stream on basket (two more basket-keyed exchanges). collect_set gives
    # the distinct item set AND its size in a single basket-keyed
    # aggregation — map-side partial collect_set collapses duplicate
    # (basket, item) rows before the exchange, the cap is a size() filter
    # (no window, no sort), and the pair generation below happens in-row,
    # so no basket-keyed exchange remains after this one. Basket arrays are
    # bounded by MAX_BASKET_ITEMS, so per-row width is capped. collect_set
    # drops a NULL item, which the oracle's DISTINCT rows count toward the
    # basket size: the same aggregate's max(isNull) adds it back to the cap.
    item = F.col("l_partkey").cast("long")
    bsets = (
        li.groupBy(F.col("l_orderkey").cast("long").alias("basket"))
        .agg(F.collect_set(item).alias("items"), F.max(item.isNull().cast("int")).alias("null_item"))
        .filter(F.size("items") + F.col("null_item") <= MAX_BASKET_ITEMS)
    )
    # basket count + threshold as a broadcast 1-row scalar: keeps the whole
    # query ONE job instead of an eager mid-pipeline .count() that blocks
    # the driver — same pattern as corpus_heavy_hitters and this query's
    # own oracle (CROSS JOIN n). ceil() in exact int64 via `div` (Column
    # `/` is DOUBLE division, which could round across the boundary for
    # quotients near 2^53 — the oracle's `//` is exact, so must this be).
    scalars = bsets.agg(F.count(F.lit(1)).cast("long").alias("nbl")).select(
        F.col("nbl").cast("double").alias("nb"),
        F.greatest(
            F.lit(MIN_SUPPORT).cast("long"),
            F.expr(f"(nbl * {SUPPORT_NUM} + {SUPPORT_DEN - 1}) div {SUPPORT_DEN}"),
        ).alias("minsup"),
    )
    baskets = bsets.select("basket", F.explode("items").alias("item"))
    item_counts = baskets.groupBy("item").agg(F.count(F.lit(1)).alias("c"))
    # A-priori prune: any pair with support >= s has both items with
    # support >= s — drop infrequent items BEFORE the pair join. The scalar
    # is folded in ONCE here and then carried as data through the pair
    # aggregation (min() of a constant column), so the basket-count subplan
    # appears exactly once in the executed plan instead of being re-embedded
    # by every downstream crossJoin.
    frequent = (
        item_counts.crossJoin(F.broadcast(scalars))
        .filter(F.col("c") >= F.col("minsup"))
        .select("item", "nb", "minsup")
    )
    # r11: pairs generated IN-ROW from each basket's sorted frequent-item
    # array instead of the basket self-join (which shuffled the
    # frequent-item stream twice more by basket and emitted the quadratic
    # pair stream as join output). The regroup collects each basket's
    # surviving items (bounded by MAX_BASKET_ITEMS); array_sort makes
    # position order == value order, so combinations (i < j) are exactly
    # the a < b canonical pairs, and the quadratic pair stream is born
    # inside the row and partially aggregated map-side before its only
    # exchange.
    fb = (
        baskets.join(F.broadcast(frequent), "item")
        .groupBy("basket")
        .agg(
            F.array_sort(F.collect_list("item")).alias("fitems"),
            F.min("nb").alias("nb"),
            F.min("minsup").alias("minsup"),
        )
    )
    pair_arr = F.flatten(
        F.transform(
            F.col("fitems"),
            lambda a, i: F.transform(
                F.slice(F.col("fitems"), i + 2, F.size(F.col("fitems"))),
                lambda b: F.struct(a.alias("a"), b.alias("b")),
            ),
        )
    )
    pairs = (
        fb.select(F.explode(pair_arr).alias("p"), "nb", "minsup")
        .select(F.col("p.a").alias("a"), F.col("p.b").alias("b"), "nb", "minsup")
        .groupBy("a", "b")
        .agg(
            F.count(F.lit(1)).alias("support"),
            F.min("nb").alias("nb"),
            F.min("minsup").alias("minsup"),
        )
        .filter(F.col("support") >= F.col("minsup"))
    )
    # lift denominators from the UNFILTERED count table: pairs' items are
    # frequent by construction, so values are identical — and the broadcast
    # sides don't re-embed the threshold scalar.
    ca = F.broadcast(item_counts.select(F.col("item").alias("a"), F.col("c").alias("ca")))
    cb = F.broadcast(item_counts.select(F.col("item").alias("b"), F.col("c").alias("cb")))
    lift = (F.col("nb") * F.col("support")) / (F.col("ca") * F.col("cb")).cast(
        "double"
    )
    return (
        pairs.join(ca, "a")
        .join(cb, "b")
        .select(
            "a",
            "b",
            F.col("support").cast("long").alias("support"),
            F.round(lift, 4).alias("lift"),
        )
        .orderBy("a", "b")
    )


BASKET_PAIRS_ORACLE = f"""
WITH baskets0 AS (
  SELECT DISTINCT CAST(l_orderkey AS BIGINT) AS basket, CAST(l_partkey AS BIGINT) AS item
  FROM lineitem
), baskets AS (
  SELECT basket, item FROM (
    SELECT basket, item, COUNT(*) OVER (PARTITION BY basket) AS bsz FROM baskets0
  ) WHERE bsz <= {MAX_BASKET_ITEMS}
), n AS (
  SELECT CAST(COUNT(DISTINCT basket) AS DOUBLE) AS nb,
         GREATEST(CAST({MIN_SUPPORT} AS BIGINT),
                  (COUNT(DISTINCT basket) * {SUPPORT_NUM} + {SUPPORT_DEN - 1}) // {SUPPORT_DEN}
         ) AS minsup
  FROM baskets
), ic AS (
  SELECT item, COUNT(*) AS c FROM baskets GROUP BY item
), freq AS (
  SELECT item, c FROM ic, n WHERE c >= n.minsup
), fb AS (
  SELECT b.basket, b.item FROM baskets b JOIN freq USING (item)
), pairs AS (
  SELECT x.item AS a, y.item AS b, COUNT(*) AS support
  FROM fb x JOIN fb y ON x.basket = y.basket AND x.item < y.item
  GROUP BY 1, 2
  HAVING COUNT(*) >= (SELECT minsup FROM n)
)
SELECT a, b, CAST(support AS BIGINT) AS support,
       ROUND((n.nb * support) / CAST(fa.c * fb2.c AS DOUBLE), 4) AS lift
FROM pairs
JOIN freq fa ON fa.item = a
JOIN freq fb2 ON fb2.item = b
CROSS JOIN n
ORDER BY a, b
"""


ASSOCIATION_QUERIES = [
    Q(
        "basket_frequent_pairs",
        basket_frequent_pairs,
        BASKET_PAIRS_ORACLE,
        "A-priori-pruned frequent item pairs with exact-rational lift",
    ),
]
