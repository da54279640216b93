"""Phabricator-semantics transform expressions (exact reference parity).

Each function returns a pyspark Column (or applies a DataFrame filter)
reproducing one of the reference's pure-Python transforms — the invariants
its unit suite pins (SURVEY.md §5, §7 "hard parts"). All are built-in
expressions: zero Python UDFs, so every one of them runs inside
whole-stage codegen (§2.10 — the 100 TB design constraint).

Reference citations are per function; the ported test cases live in
tests/test_phab_semantics.py.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Phabricator edge-type constants (reference: transforms.py:20-27).
DEPENDS_ON = 5
DEPENDED_ON = 6
OBJECT_HAS_PROJECT = 41
PROJECT_HAS_MEMBER = 13

# State-change transaction types (reference: stats.py:49-63).
STATE_CHANGE_TYPES = [
    "differential.revision.abandon",
    "differential.revision.accept",
    "differential.revision.close",
    "differential.revision.commandeer",
    "differential.revision.reclaim",
    "differential.revision.reject",
    "differential.revision.reopen",
    "differential.revision.request",
    "differential.revision.resign",
    "differential.revision.reviewers",
    "differential.revision.status",
    "differential.revision.void",
    "differential.revision.wrong",
]

# Project transaction types (reference: stats.py:67-71).
PROJECT_TRANSACTION_TYPES = ["core:create", "core:edge", "project:name"]


def convert_value_to_string_list(value: Column, *, value_is_boolean: bool = False) -> Column:
    """C3 (reference: transforms.py:29-39): scalar -> 1-element string list
    for BigQuery REPEATED fields. Exact coercions the reference tests pin
    (tests/test_transforms.py:137-174):
      True -> ["1"], False -> ["0"], None -> ["None"], "" -> [""],
      anything else -> [str(v)].
    The reference branches on the PYTHON TYPE (a string "true" stays
    ["true"]); column types are static in Spark, so the caller states via
    ``value_is_boolean`` whether this column carries booleans. None->"None"
    is the deliberate oddity ported verbatim."""
    if value_is_boolean:
        converted = (
            F.when(value.isNull(), F.lit("None"))
            .when(value, F.lit("1"))
            .otherwise(F.lit("0"))
        )
    else:
        converted = F.coalesce(value.cast("string"), F.lit("None"))
    return F.array(converted)


def is_suggestion(attributes_json: Column) -> Column:
    """F1 (reference: transforms.py:71-75): a comment is a suggestion iff
    attributes["inline.state.initial"]["hassuggestion"] == "true" — the JSON
    STRING "true"; boolean true does NOT count
    (tests/test_transforms.py:287-310). get_json_object returns the unquoted
    scalar for strings and the literal `true` for booleans, so the strict
    string test needs the raw quoted form via a path check."""
    # get_json_object unquotes scalars, so string "true" and boolean true
    # both extract as `true`; the only reliable discriminator is the raw
    # JSON text of the subtree, where a string value keeps its quotes.
    # NOTE: Spark JSON paths quote bracketed keys with SINGLE quotes only
    sub = F.get_json_object(attributes_json, "$['inline.state.initial']")
    has_quoted_true = sub.rlike('"hassuggestion"\\s*:\\s*"true"')
    return F.coalesce(has_quoted_true, F.lit(False))


def latest_landed_date(creation_method: Column, date_created: Column) -> Column:
    """A2 (reference: transforms.py:126-134): aggregate expression — max
    dateCreated over diffs whose creationMethod == 'commit'; NULL if none.
    Use inside groupBy().agg()."""
    return F.max(F.when(creation_method == "commit", date_created))


def latest_approved_date(reviewer_status: Column, date_modified: Column) -> Column:
    """A3 (reference: transforms.py:161-169): max dateModified over reviews
    with reviewerStatus == 'accepted'; NULL if none."""
    return F.max(F.when(reviewer_status == "accepted", date_modified))


def gate_date_approved(date_landed: Column, date_approved: Column) -> Column:
    """C1 (reference: stats.py:698-699): date_approved is only meaningful
    once a landing exists, with the reference's truthiness: epoch 0 is no
    landing either."""
    return F.when(date_landed.isNotNull() & (date_landed != 0), date_approved)


def should_include_diff(creation_method: Column, author_phid: Column) -> Column:
    """P8 (reference: transforms.py:109-123): drop landing diffs
    (creationMethod == 'commit') and repo-identity authors (PHID-RIDT-*).
    NULL creation_method / author survive (the reference only excludes
    positive matches)."""
    not_landing = ~creation_method.eqNullSafe("commit")
    not_identity = ~F.coalesce(author_phid.startswith("PHID-RIDT-"), F.lit(False))
    return not_landing & not_identity


def is_project_reviewer(reviewer_phid: Column) -> Column:
    """P9 (reference: stats.py:412-418): PHID-PROJ- prefix routes reviewer
    resolution to the project dimension instead of the user dimension."""
    return F.coalesce(reviewer_phid.startswith("PHID-PROJ-"), F.lit(False))


def is_membership_edge_transaction(transaction_type: Column, metadata_json: Column) -> Column:
    """P11 (reference: transforms.py:183-204): keep core:edge transactions
    whose JSON metadata["edge:type"] coerces to int 13; any garbage —
    missing key, malformed JSON, non-numeric value — is swallowed to False."""
    edge_type = F.get_json_object(metadata_json, "$['edge:type']").try_cast("bigint")
    return transaction_type.eqNullSafe("core:edge") & edge_type.eqNullSafe(PROJECT_HAS_MEMBER)


def parse_edge_member_phids(value_json: Column) -> Column:
    """F3 (reference: transforms.py:207-227): edge snapshot value is a dict
    (member phid -> edge data) OR a list of phids; extract the phid set.
    Malformed/NULL/scalar JSON -> empty array."""
    as_map = F.map_keys(F.from_json(value_json, "map<string,string>"))
    as_arr = F.from_json(value_json, "array<string>")
    return F.array_distinct(F.coalesce(as_map, as_arr, F.array()))


def decode_name_transaction_value(value_json: Column) -> Column:
    """F4 (reference: transforms.py:230-242): a project:name transaction
    value is a JSON string scalar -> [name]; anything else -> []."""
    is_string = F.coalesce(F.trim(value_json).startswith('"'), F.lit(False))
    return F.when(is_string, F.array(F.get_json_object(value_json, "$"))).otherwise(F.array())


def empty_to_null(c: Column) -> Column:
    """C2 (reference: stats.py:284): `fieldValue or None` — empty string
    collapses to NULL."""
    return F.when(c != "", c)


def sorted_distinct_usernames(user_name: Column) -> Column:
    """J14 (reference: stats.py:603-623): member-name resolution returns a
    SORTED DISTINCT list (stats.py:623) — aggregate expression. Contrast
    with A5 group-member collect which is unordered and keeps NULLs
    (SURVEY §7.12): that one is plain collect_list."""
    return F.array_sort(F.collect_set(user_name))


def revision_year_month(epoch_seconds: Column) -> Column:
    """F8/W5 (reference: stats.py:876-879): UTC (year, month) bucket of an
    epoch-seconds timestamp, as 'yyyy-MM' (session timezone is pinned UTC
    by session.py, replicating the reference's explicit tz=utc)."""
    return F.date_format(F.timestamp_seconds(epoch_seconds), "yyyy-MM")


def guard_staging_table_id(table_id: Column) -> Column:
    """S6 (reference: stats.py:942-960): TRUNCATE refuses any table id not
    ending in '_staging' — the reference raises ValueError; expression form
    returns a boolean the sink asserts on (tests port the negative case)."""
    return table_id.endswith("_staging")


def filter_state_changes(df: DataFrame, txn_type_col: str = "transactionType") -> DataFrame:
    """P10 (reference: stats.py:523-525): restrict to the 13 state-change
    transaction types."""
    return df.filter(F.col(txn_type_col).isin(STATE_CHANGE_TYPES))
