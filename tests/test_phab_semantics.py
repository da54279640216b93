"""Reference-parity unit tests: the tricky invariants the reference's own
suite pins (SURVEY.md §5), ported to one-row-DataFrame Spark tests.

Each test names its reference counterpart (file:line in /root/reference).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from phabricator_etl_spark.functions import phab


def _one(spark, value, dtype):
    return spark.createDataFrame([(value,)], T.StructType([T.StructField("v", dtype, True)]))


# --- convert_value_to_string_list (transforms.py:29-39; tests/test_transforms.py:137-174)

@pytest.mark.parametrize(
    ("value", "dtype", "is_bool", "expected"),
    [
        (True, T.BooleanType(), True, ["1"]),
        (False, T.BooleanType(), True, ["0"]),
        (None, T.BooleanType(), True, ["None"]),
        (None, T.StringType(), False, ["None"]),  # str(None) == "None"
        ("", T.StringType(), False, [""]),
        ("true", T.StringType(), False, ["true"]),  # string stays, no bool coercion
        (42, T.LongType(), False, ["42"]),
    ],
)
def test_convert_value_to_string_list(spark, value, dtype, is_bool, expected):
    df = _one(spark, value, dtype)
    [row] = df.select(
        phab.convert_value_to_string_list(F.col("v"), value_is_boolean=is_bool).alias("out")
    ).collect()
    assert row.out == expected, (
        f"convert_value_to_string_list({value!r}) must yield {expected} "
        "(reference transforms.py:29-39 wraps str(value), with bools as 1/0)"
    )


# --- suggestion flag (transforms.py:71-75; tests/test_transforms.py:287-310)

@pytest.mark.parametrize(
    ("attributes", "expected"),
    [
        ('{"inline.state.initial": {"hassuggestion": "true"}}', True),
        ('{"inline.state.initial": {"hassuggestion": true}}', False),  # bool true does NOT count
        ('{"inline.state.initial": {"hassuggestion": "false"}}', False),
        ('{"inline.state.initial": {}}', False),
        ("{}", False),
        (None, False),
    ],
)
def test_is_suggestion_string_true_only(spark, attributes, expected):
    df = _one(spark, attributes, T.StringType())
    [row] = df.select(phab.is_suggestion(F.col("v")).alias("out")).collect()
    assert row.out is expected, (
        f"is_suggestion({attributes!r}) must be {expected}: only the JSON "
        "STRING 'true' counts (reference transforms.py:71-75)"
    )


# --- conditional max + gating (transforms.py:126-134, 161-169; stats.py:698-699)

def test_latest_landed_and_approved_with_gate(spark):
    diffs = spark.createDataFrame(
        [
            (1, "commit", 100), (1, "web", 999), (1, "commit", 250),
            (2, "web", 300),
        ],
        ["rev", "creationMethod", "dateCreated"],
    )
    landed = (
        diffs.groupBy("rev")
        .agg(phab.latest_landed_date(F.col("creationMethod"), F.col("dateCreated")).alias("landed"))
        .orderBy("rev")
        .collect()
    )
    assert landed[0].landed == 250, "max over commit diffs only (transforms.py:126-134)"
    assert landed[1].landed is None, "no commit diffs -> None"

    reviews = spark.createDataFrame(
        [(1, "accepted", 10), (1, "rejected", 99), (2, "rejected", 99), (3, "accepted", 20)],
        ["rev", "reviewerStatus", "dateModified"],
    )
    rows = (
        reviews.groupBy("rev")
        .agg(phab.latest_approved_date(F.col("reviewerStatus"), F.col("dateModified")).alias("approved"))
        .join(spark.createDataFrame([(1, 250), (2, None), (3, 0)], T.StructType([
            T.StructField("rev", T.LongType()), T.StructField("landed", T.LongType())])), "rev")
        .select("rev", phab.gate_date_approved(F.col("landed"), F.col("approved")).alias("gated"))
        .orderBy("rev")
        .collect()
    )
    assert rows[0].gated == 10, "approved passes through when a landing exists"
    assert rows[1].gated is None, "date_approved gated on date_landed (stats.py:698-699)"
    assert rows[2].gated is None, "epoch 0 is no landing: the reference tests truthiness"


# --- should_include_diff (transforms.py:109-123)

@pytest.mark.parametrize(
    ("method", "author", "expected"),
    [
        ("commit", "PHID-USER-x", False),  # landing
        ("web", "PHID-RIDT-abc", False),  # repo identity author
        ("web", "PHID-USER-x", True),
        (None, "PHID-USER-x", True),  # NULL method survives
    ],
)
def test_should_include_diff(spark, method, author, expected):
    df = spark.createDataFrame(
        [(method, author)],
        T.StructType([
            T.StructField("creationMethod", T.StringType(), True),
            T.StructField("authorPHID", T.StringType(), True),
        ]),
    )
    [row] = df.select(
        phab.should_include_diff(F.col("creationMethod"), F.col("authorPHID")).alias("out")
    ).collect()
    assert row.out is expected


# --- membership edge transactions (transforms.py:183-204)

@pytest.mark.parametrize(
    ("txn_type", "metadata", "expected"),
    [
        ("core:edge", '{"edge:type": 13}', True),
        ("core:edge", '{"edge:type": "13"}', True),  # int-coercing
        ("core:edge", '{"edge:type": 41}', False),
        ("core:edge", '{"edge:type": "garbage"}', False),  # swallowed
        ("core:edge", "not json", False),
        ("core:edge", None, False),
        ("project:name", '{"edge:type": 13}', False),
    ],
)
def test_is_membership_edge_transaction(spark, txn_type, metadata, expected):
    df = spark.createDataFrame(
        [(txn_type, metadata)],
        T.StructType([
            T.StructField("t", T.StringType(), True),
            T.StructField("m", T.StringType(), True),
        ]),
    )
    [row] = df.select(
        phab.is_membership_edge_transaction(F.col("t"), F.col("m")).alias("out")
    ).collect()
    assert row.out is expected


# --- parse_edge_member_phids (transforms.py:207-227)

@pytest.mark.parametrize(
    ("value", "expected"),
    [
        ('{"PHID-a": {"x": 1}, "PHID-b": {}}', {"PHID-a", "PHID-b"}),  # dict keys
        ('["PHID-a", "PHID-b"]', {"PHID-a", "PHID-b"}),  # list elems
        ("not json", set()),
        (None, set()),
        ('"scalar"', set()),
    ],
)
def test_parse_edge_member_phids(spark, value, expected):
    df = _one(spark, value, T.StringType())
    [row] = df.select(phab.parse_edge_member_phids(F.col("v")).alias("out")).collect()
    assert set(row.out or []) == expected


# --- decode_name_transaction_value (transforms.py:230-242)

@pytest.mark.parametrize(
    ("value", "expected"),
    [
        ('"My Project"', ["My Project"]),
        ("42", []),  # non-string JSON
        ("not json", []),
        (None, []),
    ],
)
def test_decode_name_transaction_value(spark, value, expected):
    df = _one(spark, value, T.StringType())
    [row] = df.select(phab.decode_name_transaction_value(F.col("v")).alias("out")).collect()
    assert list(row.out or []) == expected


# --- sorted-distinct usernames vs unordered collect (stats.py:603-623; SURVEY §7.12)

def test_sorted_distinct_usernames(spark):
    df = spark.createDataFrame(
        [(1, "zara"), (1, "abe"), (1, "zara"), (1, "mia")], ["grp", "name"]
    )
    [row] = df.groupBy("grp").agg(phab.sorted_distinct_usernames(F.col("name")).alias("out")).collect()
    assert row.out == ["abe", "mia", "zara"], (
        "usernames_for_member_phids returns sorted distinct (stats.py:623)"
    )


# --- UTC month bucketing (stats.py:876-879; tests/test_utils.py:71-109)

@pytest.mark.parametrize(
    ("epoch", "expected"),
    [
        (0, "1970-01"),
        (1706745599, "2024-01"),  # 2024-01-31 23:59:59 UTC
        (1706745600, "2024-02"),  # 2024-02-01 00:00:00 UTC — boundary flips
    ],
)
def test_revision_year_month_utc_boundaries(spark, epoch, expected):
    df = _one(spark, epoch, T.LongType())
    [row] = df.select(phab.revision_year_month(F.col("v")).alias("out")).collect()
    assert row.out == expected, (
        "month bucketing is UTC regardless of machine timezone (stats.py:876-879)"
    )


# --- staging-table truncate guard (stats.py:942-960; tests/test_utils.py:112-137)

def test_guard_staging_table_id(spark):
    df = spark.createDataFrame(
        [("proj.ds.revisions_staging",), ("proj.ds.revisions",)], ["t"]
    )
    rows = df.select("t", phab.guard_staging_table_id(F.col("t")).alias("ok")).orderBy("t").collect()
    assert rows[0].ok is False, "truncating a non-staging table must be refused"
    assert rows[1].ok is True


# --- state-change type constants (stats.py:49-63)

def test_state_change_types_inventory():
    assert len(phab.STATE_CHANGE_TYPES) == 13
    assert all(t.startswith("differential.revision.") for t in phab.STATE_CHANGE_TYPES)
    assert phab.PROJECT_TRANSACTION_TYPES == ["core:create", "core:edge", "project:name"]
