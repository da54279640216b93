"""JSON + array semantics from SURVEY.md §2.7-2.8 (F2/F3/F4/A7/P11/C5).

The reference's JSON handling is its subtlest surface:
- F2 (convert_json_to_string_list, stats.py:717-754): reviewer map keys in
  DOCUMENT order — Spark's from_json->MapType + map_keys preserves it, and
  DuckDB json_keys does too, so the order-sensitive compare is real.
- F3 (parse_edge_member_phids, transforms.py:207-227): dict-or-list duality —
  try map keys, fall back to array elements, else empty.
- P11 (is_membership_edge_transaction, transforms.py:183-204): int-coercing,
  garbage-swallowing equality — try_cast semantics (Spark 4 runs ANSI mode,
  so the tolerant arm must be explicit try_cast, not a silent cast).
- A7 (stats.py:653-656): array set-difference for membership deltas.

The driver tables carry only single-key JSON (events.props = {"k": N}), so
richer JSON documents are SYNTHESIZED deterministically from row values —
both engines build the identical string, then parse it back with their own
JSON machinery; the comparison exercises the parsers, not the synthesis.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..query import Q
from ..sources.catalog import load_table as _t
from . import phab


def f2_json_map_key_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F2: map keys extracted in document order. JSON synthesized with keys
    deliberately NOT alphabetical (zz first) so ordered extraction differs
    from sorted extraction — the regression the reference's tests pin
    (test_convert_json_to_string_list.py:73-99)."""
    e = _t(spark, sf_dir, "events")
    doc = F.concat(
        F.lit('{"zz":"'), F.col("event_type"),
        F.lit('","aa":"'), F.col("user_id").cast("string"),
        F.lit('","mm":"'), F.col("value").cast("long").cast("string"),
        F.lit('"}'),
    )
    parsed = F.from_json(doc, "map<string,string>")
    return e.select(
        F.col("event_id").cast("long").alias("event_id"),
        F.array_join(F.map_keys(parsed), "|").alias("keys_in_doc_order"),
        F.array_join(F.map_values(parsed), "|").alias("values_in_doc_order"),
    )


F2_ORACLE = """
SELECT CAST(event_id AS BIGINT) AS event_id,
       array_to_string(json_keys(doc), '|') AS keys_in_doc_order,
       array_to_string(list_transform(json_keys(doc), k -> json_extract_string(doc, '$.' || k)), '|')
         AS values_in_doc_order
FROM (
  SELECT event_id,
         '{"zz":"' || event_type || '","aa":"' || CAST(user_id AS VARCHAR)
           || '","mm":"' || CAST(CAST(trunc(value) AS BIGINT) AS VARCHAR) || '"}' AS doc
  FROM events
)
"""


def f3_dict_or_list(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F3: dict-or-list PHID extraction. Even event_ids carry an object doc,
    odd ones an array doc; the ETL's own ``phab.parse_edge_member_phids``
    parses them — the reference's three-way duality in one expression."""
    e = _t(spark, sf_dir, "events")
    doc = F.when(
        F.col("event_id") % 2 == 0,
        F.concat(F.lit('{"u'), F.col("user_id").cast("string"), F.lit('":1,"u'),
                 (F.col("user_id") + 1).cast("string"), F.lit('":2}')),
    ).otherwise(
        F.concat(F.lit('["x'), F.col("user_id").cast("string"), F.lit('","y'),
                 F.col("user_id").cast("string"), F.lit('"]')),
    )
    return e.select(
        F.col("event_id").cast("long").alias("event_id"),
        F.array_join(F.array_sort(phab.parse_edge_member_phids(doc)), "|").alias("member_set"),
    )


F3_ORACLE = """
SELECT CAST(event_id AS BIGINT) AS event_id,
       array_to_string(list_sort(list_distinct(
         CASE WHEN json_type(doc) = 'OBJECT' THEN json_keys(doc)
              WHEN json_type(doc) = 'ARRAY'
                THEN CAST(CAST(doc AS JSON) AS VARCHAR[])
              ELSE [] END)), '|') AS member_set
FROM (
  SELECT event_id,
         CASE WHEN event_id % 2 = 0
              THEN '{"u' || CAST(user_id AS VARCHAR) || '":1,"u' || CAST(user_id + 1 AS VARCHAR) || '":2}'
              ELSE '["x' || CAST(user_id AS VARCHAR) || '","y' || CAST(user_id AS VARCHAR) || '"]'
         END AS doc
  FROM events
)
"""


def p11_tolerant_int_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P11/C5: int-coercing garbage-swallowing predicate. One third of the
    rows get a non-numeric payload; try_cast sends them to NULL, and the
    filter's null-safe equality treats NULL as no-match — exactly the
    reference's swallow-ValueError-return-False (transforms.py:183-204)."""
    e = _t(spark, sf_dir, "events")
    payload = F.when(F.col("event_id") % 3 == 0, F.lit("garbage")).otherwise(
        (F.col("user_id") % 20).cast("string")
    )
    coerced = F.expr("try_cast(payload AS BIGINT)")
    return (
        e.withColumn("payload", payload)
        .withColumn("edge_type", coerced)
        .filter(F.col("edge_type").eqNullSafe(13))
        .select(
            F.col("event_id").cast("long").alias("event_id"),
            F.col("edge_type").cast("long").alias("edge_type"),
        )
    )


P11_ORACLE = """
SELECT CAST(event_id AS BIGINT) AS event_id,
       CAST(edge_type AS BIGINT) AS edge_type
FROM (
  SELECT event_id,
         TRY_CAST(CASE WHEN event_id % 3 = 0 THEN 'garbage'
                       ELSE CAST(user_id % 20 AS VARCHAR) END AS BIGINT) AS edge_type
  FROM events
)
WHERE edge_type IS NOT DISTINCT FROM 13
"""


def a7_membership_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A7: membership delta via array set-difference (old - new / new - old,
    stats.py:653-656). Old/new member sets per nation come from two disjoint
    order-date eras; both directions emitted sorted for hash stability."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    cutoff = F.lit("1995-01-01").cast("timestamp")
    joined = o.join(c, o.o_custkey == c.c_custkey)
    old = (
        joined.filter(F.col("o_orderdate") < cutoff)
        .groupBy("c_nationkey")
        .agg(F.collect_set("o_custkey").alias("old_members"))
    )
    new = (
        joined.filter(F.col("o_orderdate") >= cutoff)
        .groupBy("c_nationkey")
        .agg(F.collect_set("o_custkey").alias("new_members"))
    )
    return (
        old.join(new, "c_nationkey", "outer")
        .select(
            F.col("c_nationkey").cast("long").alias("c_nationkey"),
            F.size(F.array_except(F.coalesce("old_members", F.array()), F.coalesce("new_members", F.array())))
            .cast("long").alias("n_removed"),
            F.size(F.array_except(F.coalesce("new_members", F.array()), F.coalesce("old_members", F.array())))
            .cast("long").alias("n_added"),
            F.size(F.array_intersect(F.coalesce("old_members", F.array()), F.coalesce("new_members", F.array())))
            .cast("long").alias("n_kept"),
        )
        .orderBy("c_nationkey")
    )


A7_ORACLE = """
WITH j AS (
  SELECT c_nationkey, o_custkey, o_orderdate FROM orders JOIN customer ON o_custkey = c_custkey
), old AS (
  SELECT c_nationkey, list(DISTINCT o_custkey) AS old_members
  FROM j WHERE o_orderdate < TIMESTAMP '1995-01-01' GROUP BY c_nationkey
), new AS (
  SELECT c_nationkey, list(DISTINCT o_custkey) AS new_members
  FROM j WHERE o_orderdate >= TIMESTAMP '1995-01-01' GROUP BY c_nationkey
)
SELECT CAST(c_nationkey AS BIGINT) AS c_nationkey,
       CAST(len(list_filter(COALESCE(old_members, []), x -> NOT list_contains(COALESCE(new_members, []), x))) AS BIGINT) AS n_removed,
       CAST(len(list_filter(COALESCE(new_members, []), x -> NOT list_contains(COALESCE(old_members, []), x))) AS BIGINT) AS n_added,
       CAST(len(list_filter(COALESCE(old_members, []), x -> list_contains(COALESCE(new_members, []), x))) AS BIGINT) AS n_kept
FROM old FULL OUTER JOIN new USING (c_nationkey)
ORDER BY c_nationkey
"""


def f4_json_string_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F4: decode_name_transaction_value (transforms.py:230-242) — a JSON
    string scalar decodes to [name]; anything non-string decodes to [].
    Every third row carries a bare JSON number instead of a string. The
    ETL's own ``phab.decode_name_transaction_value`` decodes them."""
    e = _t(spark, sf_dir, "events")
    doc = F.when(F.col("event_id") % 3 == 0, F.col("user_id").cast("string")).otherwise(
        F.concat(F.lit('"name-'), F.col("user_id").cast("string"), F.lit('"'))
    )
    return e.select(
        F.col("event_id").cast("long").alias("event_id"),
        F.array_join(phab.decode_name_transaction_value(doc), "|").alias("names"),
    )


F4_ORACLE = """
SELECT CAST(event_id AS BIGINT) AS event_id,
       CASE WHEN doc LIKE '"%' THEN json_extract_string(doc, '$') ELSE '' END AS names
FROM (
  SELECT event_id,
         CASE WHEN event_id % 3 = 0 THEN CAST(user_id AS VARCHAR)
              ELSE '"name-' || CAST(user_id AS VARCHAR) || '"' END AS doc
  FROM events
)
"""


JSON_QUERIES = [
    Q("f2_json_map_key_order", f2_json_map_key_order, F2_ORACLE, "F2 doc-order map keys"),
    Q("f3_dict_or_list", f3_dict_or_list, F3_ORACLE, "F3 dict-or-list duality"),
    Q("p11_tolerant_int_filter", p11_tolerant_int_filter, P11_ORACLE, "P11 try_cast swallow filter"),
    Q("a7_membership_delta", a7_membership_delta, A7_ORACLE, "A7 array set-difference delta"),
    Q("f4_json_string_decode", f4_json_string_decode, F4_ORACLE, "F4 JSON string-scalar decode"),
]
