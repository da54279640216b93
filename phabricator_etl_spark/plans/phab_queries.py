"""Driver-gate registration of the 8 Phabricator output pipelines.

The driver's correctness gate compares each queries() entry against DuckDB
oracle SQL. The Phabricator pipelines read fixture tables, not the driver's
TPC-H-ish tables — so the fixture world (sources/phab_fixtures, fixed seed)
is landed once as parquet under the repo by ``phab_fixtures.land``. The
pipelines scan those files, and each oracle is a THIRD independent
implementation of the reference's semantics, in pure DuckDB SQL over the
same files (the second being the Python oracle in tests/).

Output conventions: arrays joined to '|' strings with an explicit NULL
marker (review_groups keeps unresolved members as NULL — SURVEY §7.12);
everything else per query.py.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..query import Q
from ..session import session_cached
from ..sources import phab_fixtures
from . import phab_pipelines as P

FIXTURE_SEED = 7
FIXTURE_DIR = os.path.join(os.path.dirname(__file__), "..", "..", ".phab_fixtures", f"seed{FIXTURE_SEED}")
FIXTURE_DIR = os.path.abspath(FIXTURE_DIR)

NULL_MARK = "<null>"


@session_cached
def _ensure_world(spark: SparkSession) -> phab_fixtures.PhabSources:
    """Scans of the landed fixture world: the bytes the DuckDB oracles read."""
    return phab_fixtures.land(spark, FIXTURE_DIR, seed=FIXTURE_SEED)


def _pq(name: str) -> str:
    return f"'{FIXTURE_DIR}/{name}/*.parquet'"


def _joined(col: str) -> F.Column:
    return F.array_join(F.col(col), "|", NULL_MARK)


# ---------------------------------------------------------------------------
# Query builders: run the pipeline, stringify array columns for hashing.
# ---------------------------------------------------------------------------

def phab_diffs(spark: SparkSession, sf_dir: str) -> DataFrame:
    src = _ensure_world(spark)
    return P.build_diffs(src, P.dim_principals(src))


def phab_changesets(spark: SparkSession, sf_dir: str) -> DataFrame:
    src = _ensure_world(spark)
    return P.build_changesets(src)


def phab_comments(spark: SparkSession, sf_dir: str) -> DataFrame:
    src = _ensure_world(spark)
    return P.build_comments(src, P.dim_principals(src))


def phab_transactions(spark: SparkSession, sf_dir: str) -> DataFrame:
    src = _ensure_world(spark)
    out = P.build_transactions(src, P.dim_principals(src))
    return out.withColumn("old_value", _joined("old_value")).withColumn("new_value", _joined("new_value"))


def phab_review_requests(spark: SparkSession, sf_dir: str) -> DataFrame:
    src = _ensure_world(spark)
    return P.build_review_requests(src, P.dim_principals(src))


def phab_revisions(spark: SparkSession, sf_dir: str) -> DataFrame:
    src = _ensure_world(spark)
    out = P.build_revisions(src, P.dim_repositories(src), P.stack_components(src))
    return out.withColumn("project_tags", _joined("project_tags"))


def phab_review_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    src = _ensure_world(spark)
    out = P.build_review_groups(src, P.dim_principals(src))
    return (
        out.withColumn("group_usernames", _joined("group_usernames"))
        .withColumn("group_emails", _joined("group_emails"))
    )


def phab_project_transactions(spark: SparkSession, sf_dir: str) -> DataFrame:
    src = _ensure_world(spark)
    out = P.build_project_transactions(src, P.dim_principals(src))
    return out.withColumn("old_value", _joined("old_value")).withColumn("new_value", _joined("new_value"))


# ---------------------------------------------------------------------------
# DuckDB oracles: third independent implementation, reference semantics in
# SQL. Shared scaffolding CTEs below.
# ---------------------------------------------------------------------------

_DIMS = f"""
users AS (
  SELECT u.phid, u.userName AS username, e.address AS email
  FROM {_pq('user')} u
  LEFT JOIN (SELECT userPHID, address FROM {_pq('user_email')} WHERE isPrimary = 1) e
    ON e.userPHID = u.phid
),
included_diffs AS (
  SELECT * FROM {_pq('diff')}
  WHERE creationMethod IS DISTINCT FROM 'commit'
    AND NOT COALESCE(starts_with(authorPHID, 'PHID-RIDT-'), FALSE)
)
"""


PHAB_DIFFS_ORACLE = f"""
WITH {_DIMS}
SELECT d.creationMethod AS creation_method,
       d.id AS diff_id,
       d.revisionID AS revision_id,
       d.dateCreated AS date_created,
       u.email AS author_email,
       u.username AS author_username
FROM included_diffs d
JOIN {_pq('revision')} r ON r.id = d.revisionID
LEFT JOIN users u ON u.phid = d.authorPHID
"""


PHAB_CHANGESETS_ORACLE = f"""
WITH {_DIMS}
SELECT d.revisionID AS revision_id,
       c.diffID AS diff_id,
       c.id AS changeset_id,
       c.addLines AS lines_added,
       c.delLines AS lines_removed,
       c.filename
FROM {_pq('changeset')} c
JOIN included_diffs d ON d.id = c.diffID
"""


PHAB_COMMENTS_ORACLE = f"""
WITH {_DIMS},
arm1 AS (
  SELECT r.id AS revision_id, c.*
  FROM {_pq('transaction_comment')} c
  JOIN {_pq('revision')} r ON c.revisionPHID = r.phid
),
arm2 AS (
  SELECT r.id AS revision_id, c.*
  FROM {_pq('transaction_comment')} c
  JOIN {_pq('differential_transaction')} t
    ON t.transactionType = 'core:comment' AND t.commentPHID = c.phid
  JOIN {_pq('revision')} r ON t.objectPHID = r.phid
),
both_arms AS (
  SELECT DISTINCT ON (revision_id, id) * FROM (SELECT * FROM arm1 UNION ALL SELECT * FROM arm2)
)
SELECT b.revision_id,
       cs.diffID AS diff_id,
       b.changesetID AS changeset_id,
       b.id AS comment_id,
       u.email AS author_email,
       u.username AS author_username,
       b.dateCreated AS date_created,
       length(b.content) AS character_count,
       COALESCE(regexp_matches(json_extract(b.attributes, '$."inline.state.initial"')::VARCHAR,
                               '"hassuggestion"\\s*:\\s*"true"'), FALSE) AS is_suggestion
FROM both_arms b
LEFT JOIN {_pq('changeset')} cs ON cs.id = b.changesetID
LEFT JOIN users u ON u.phid = b.authorPHID
"""


_STATE_TYPES_SQL = ", ".join(f"'{t}'" for t in (
    "differential.revision.abandon", "differential.revision.accept",
    "differential.revision.close", "differential.revision.commandeer",
    "differential.revision.reclaim", "differential.revision.reject",
    "differential.revision.reopen", "differential.revision.request",
    "differential.revision.resign", "differential.revision.reviewers",
    "differential.revision.status", "differential.revision.void",
    "differential.revision.wrong",
))


PHAB_TRANSACTIONS_ORACLE = f"""
WITH {_DIMS},
state_txns AS (
  SELECT t.*, r.id AS revision_id
  FROM {_pq('differential_transaction')} t
  JOIN {_pq('revision')} r ON t.objectPHID = r.phid
  WHERE t.transactionType IN ({_STATE_TYPES_SQL})
),
rv_sides AS (
  SELECT id AS txn_id, side, val FROM (
    SELECT id, 'old' AS side, oldValue AS val FROM state_txns WHERE transactionType = 'differential.revision.reviewers'
    UNION ALL
    SELECT id, 'new' AS side, newValue AS val FROM state_txns WHERE transactionType = 'differential.revision.reviewers'
  )
),
rv_key_lists AS (
  SELECT txn_id, side,
         CASE WHEN val IS NULL THEN []
              WHEN NOT json_valid(val) THEN []
              WHEN json_type(val) = 'OBJECT' THEN json_keys(val)
              ELSE [] END AS keys
  FROM rv_sides
),
rv_keys AS (
  -- parallel unnests zip pairwise in DuckDB: (position, key)
  SELECT txn_id, side,
         unnest(range(1, len(keys) + 1)) AS i,
         unnest(keys) AS phid
  FROM rv_key_lists
),
rv_names AS (
  SELECT k.txn_id, k.side,
         list(CASE WHEN starts_with(k.phid, 'PHID-PROJ-') THEN p.name ELSE u.username END
              ORDER BY k.i)
           FILTER (WHERE (CASE WHEN starts_with(k.phid, 'PHID-PROJ-') THEN p.name ELSE u.username END) IS NOT NULL)
           AS names
  FROM rv_keys k
  LEFT JOIN {_pq('project')} p ON p.phid = k.phid
  LEFT JOIN users u ON u.phid = k.phid
  GROUP BY k.txn_id, k.side
)
SELECT t.revision_id,
       t.id AS transaction_id,
       t.transactionType AS transaction_type,
       au.email AS author_email,
       au.username AS author_username,
       t.dateCreated AS date_created,
       CASE WHEN t.transactionType = 'differential.revision.reviewers'
            THEN COALESCE(array_to_string(n_old.names, '|'), '')
            ELSE COALESCE(t.oldValue, 'None') END AS old_value,
       CASE WHEN t.transactionType = 'differential.revision.reviewers'
            THEN COALESCE(array_to_string(n_new.names, '|'), '')
            ELSE COALESCE(t.newValue, 'None') END AS new_value
FROM state_txns t
LEFT JOIN users au ON au.phid = t.authorPHID
LEFT JOIN rv_names n_old ON n_old.txn_id = t.id AND n_old.side = 'old'
LEFT JOIN rv_names n_new ON n_new.txn_id = t.id AND n_new.side = 'new'
"""


PHAB_REVIEW_REQUESTS_ORACLE = f"""
WITH {_DIMS}
SELECT r.id AS revision_id,
       rv.id AS review_id,
       CASE WHEN starts_with(rv.reviewerPHID, 'PHID-PROJ-') THEN p.name ELSE u.username END AS reviewer_username,
       CASE WHEN starts_with(rv.reviewerPHID, 'PHID-PROJ-') THEN NULL ELSE u.email END AS reviewer_email,
       COALESCE(starts_with(rv.reviewerPHID, 'PHID-PROJ-'), FALSE) AS is_group,
       rv.dateCreated AS date_created,
       rv.dateModified AS date_modified,
       rv.reviewerStatus AS status,
       da.id AS last_action_diff_id,
       dc.id AS last_comment_diff_id
FROM {_pq('reviewer')} rv
JOIN {_pq('revision')} r ON rv.revisionPHID = r.phid
LEFT JOIN {_pq('project')} p ON p.phid = rv.reviewerPHID
LEFT JOIN users u ON u.phid = rv.reviewerPHID
LEFT JOIN {_pq('diff')} da ON da.phid = rv.lastActionDiffPHID
LEFT JOIN {_pq('diff')} dc ON dc.phid = rv.lastCommentDiffPHID
"""


PHAB_REVISIONS_ORACLE = f"""
WITH RECURSIVE {_DIMS},
bug AS (
  SELECT objectPHID AS phid, fieldValue AS bug_id
  FROM {_pq('customfieldstorage')}
  WHERE fieldIndex = '{phab_fixtures.BUG_FIELD_INDEX}' AND fieldValue IS NOT NULL AND fieldValue <> ''
),
rb AS (SELECT r.phid, b.bug_id FROM {_pq('revision')} r JOIN bug b ON b.phid = r.phid),
dep AS (SELECT src, dst FROM {_pq('diff_edge')} WHERE type IN (5, 6)),
sym AS (SELECT src AS a, dst AS b FROM dep UNION SELECT dst, src FROM dep),
same_bug AS (
  SELECT s.a, s.b FROM sym s
  JOIN rb ra ON ra.phid = s.a
  JOIN rb rbx ON rbx.phid = s.b
  WHERE ra.bug_id = rbx.bug_id
),
reach(seed, node) AS (
  SELECT phid, phid FROM rb
  UNION
  SELECT r.seed, s.b FROM reach r JOIN same_bug s ON s.a = r.node
),
stack AS (SELECT seed AS phid, COUNT(DISTINCT node) AS stack_size FROM reach GROUP BY seed),
landed AS (
  SELECT revisionID, MAX(dateCreated) FILTER (WHERE creationMethod = 'commit') AS date_landed
  FROM {_pq('diff')} GROUP BY revisionID
),
approved AS (
  SELECT revisionPHID, MAX(dateModified) FILTER (WHERE reviewerStatus = 'accepted') AS date_approved
  FROM {_pq('reviewer')} GROUP BY revisionPHID
),
last_review AS (
  SELECT revisionPHID, id AS last_review_id FROM {_pq('reviewer')}
  QUALIFY ROW_NUMBER() OVER (PARTITION BY revisionPHID ORDER BY dateModified DESC, id DESC) = 1
),
tags AS (
  SELECT e.src AS phid, list(p.primarySlug ORDER BY p.primarySlug) AS project_tags
  FROM {_pq('diff_edge')} e JOIN {_pq('project')} p ON p.phid = e.dst
  WHERE e.type = 41 GROUP BY e.src
),
repo_uri AS (
  SELECT repositoryPHID, MIN(uri) AS uri FROM {_pq('repository_uri')} GROUP BY repositoryPHID
)
SELECT bug.bug_id,
       r.id AS revision_id,
       CASE WHEN landed.date_landed IS NOT NULL AND landed.date_landed <> 0
            THEN approved.date_approved END AS date_approved,
       r.dateCreated AS date_created,
       r.dateModified AS date_modified,
       landed.date_landed,
       last_review.last_review_id,
       r.status AS current_status,
       repo_uri.uri AS target_repository,
       repo.name AS target_repository_name,
       CASE WHEN repo.details IS NOT NULL AND json_valid(repo.details)
            THEN json_extract_string(repo.details, '$."default-branch"') END
         AS target_repository_default_branch,
       COALESCE(stack.stack_size, 1) AS stack_size,
       COALESCE(array_to_string(tags.project_tags, '|'), '') AS project_tags
FROM {_pq('revision')} r
LEFT JOIN bug ON bug.phid = r.phid
LEFT JOIN stack ON stack.phid = r.phid
LEFT JOIN landed ON landed.revisionID = r.id
LEFT JOIN approved ON approved.revisionPHID = r.phid
LEFT JOIN last_review ON last_review.revisionPHID = r.phid
LEFT JOIN tags ON tags.phid = r.phid
LEFT JOIN {_pq('repository')} repo ON repo.phid = r.repositoryPHID
LEFT JOIN repo_uri ON repo_uri.repositoryPHID = r.repositoryPHID
"""


PHAB_REVIEW_GROUPS_ORACLE = f"""
WITH {_DIMS},
members AS (
  SELECT DISTINCT src AS proj_phid, dst AS member_phid
  FROM {_pq('project_edge')} WHERE type = 13
),
rolled AS (
  SELECT m.proj_phid,
         list(COALESCE(u.username, '{NULL_MARK}') ORDER BY m.member_phid) AS group_usernames,
         list(COALESCE(u.email, '{NULL_MARK}') ORDER BY m.member_phid) AS group_emails
  FROM members m LEFT JOIN users u ON u.phid = m.member_phid
  GROUP BY m.proj_phid
)
SELECT p.id AS group_id,
       p.name AS group_name,
       COALESCE(array_to_string(r.group_usernames, '|'), '') AS group_usernames,
       COALESCE(array_to_string(r.group_emails, '|'), '') AS group_emails
FROM {_pq('project')} p
LEFT JOIN rolled r ON r.proj_phid = p.phid
WHERE NOT starts_with(p.name, 'bmo-')
"""


PHAB_PROJECT_TRANSACTIONS_ORACLE = f"""
WITH {_DIMS},
kept AS (
  SELECT t.* FROM {_pq('project_transaction')} t
  WHERE t.transactionType IN ('core:create', 'core:edge', 'project:name')
    AND (t.transactionType <> 'core:edge' OR (
      CASE WHEN t.metadata IS NULL THEN FALSE
           WHEN NOT json_valid(t.metadata) THEN FALSE
           WHEN json_type(t.metadata) <> 'OBJECT' THEN FALSE
           ELSE COALESCE(TRY_CAST(json_extract_string(t.metadata, '$."edge:type"') AS BIGINT) = 13, FALSE)
      END))
),
phid_sets AS (
  SELECT id AS txn_id,
         CASE WHEN oldValue IS NULL THEN []
              WHEN NOT json_valid(oldValue) THEN []
              WHEN json_type(oldValue) = 'OBJECT' THEN json_keys(oldValue)
              WHEN json_type(oldValue) = 'ARRAY' THEN CAST(CAST(oldValue AS JSON) AS VARCHAR[])
              ELSE [] END AS old_phids,
         CASE WHEN newValue IS NULL THEN []
              WHEN NOT json_valid(newValue) THEN []
              WHEN json_type(newValue) = 'OBJECT' THEN json_keys(newValue)
              WHEN json_type(newValue) = 'ARRAY' THEN CAST(CAST(newValue AS JSON) AS VARCHAR[])
              ELSE [] END AS new_phids
  FROM kept WHERE transactionType = 'core:edge'
),
deltas AS (
  SELECT txn_id, 'old' AS side,
         list_filter(list_distinct(old_phids), x -> NOT list_contains(new_phids, x)) AS phids
  FROM phid_sets
  UNION ALL
  SELECT txn_id, 'new',
         list_filter(list_distinct(new_phids), x -> NOT list_contains(old_phids, x))
  FROM phid_sets
),
exploded AS (
  SELECT txn_id, side, unnest(phids) AS member_phid FROM deltas
),
delta_names AS (
  SELECT e.txn_id, e.side,
         list_sort(list_distinct(list(u.username) FILTER (WHERE u.username IS NOT NULL))) AS names
  FROM exploded e
  LEFT JOIN users u ON u.phid = e.member_phid
  GROUP BY e.txn_id, e.side
)
SELECT p.id AS project_id,
       p.name AS project_name,
       t.id AS transaction_id,
       au.email AS author_email,
       au.username AS author_username,
       t.dateCreated AS date_created,
       t.transactionType AS transaction_type,
       CASE WHEN t.transactionType = 'core:edge' THEN COALESCE(array_to_string(dn_old.names, '|'), '')
            WHEN t.transactionType = 'project:name' THEN
              CASE WHEN t.oldValue IS NULL THEN ''
                   WHEN NOT json_valid(t.oldValue) THEN ''
                   WHEN json_type(t.oldValue) = 'VARCHAR' THEN json_extract_string(t.oldValue, '$')
                   ELSE '' END
            ELSE '' END AS old_value,
       CASE WHEN t.transactionType = 'core:edge' THEN COALESCE(array_to_string(dn_new.names, '|'), '')
            WHEN t.transactionType = 'project:name' THEN
              CASE WHEN t.newValue IS NULL THEN ''
                   WHEN NOT json_valid(t.newValue) THEN ''
                   WHEN json_type(t.newValue) = 'VARCHAR' THEN json_extract_string(t.newValue, '$')
                   ELSE '' END
            ELSE COALESCE(p.name, '') END AS new_value
FROM kept t
LEFT JOIN {_pq('project')} p ON p.phid = t.objectPHID
LEFT JOIN users au ON au.phid = t.authorPHID
LEFT JOIN delta_names dn_old ON dn_old.txn_id = t.id AND dn_old.side = 'old'
LEFT JOIN delta_names dn_new ON dn_new.txn_id = t.id AND dn_new.side = 'new'
"""


def phab_validity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C5 raising-arm parity (SURVEY §7.4): the reference RAISES on malformed
    comment.attributes / repository.details but swallows malformed edge and
    reviewer JSON. A distributed job must not die on one bad row, so the
    raising arms become this audit table: per column, rows checked / rows
    malformed — a fail-fast gate can assert malformed == 0 before loading,
    reproducing the reference's abort semantics batch-wide."""
    src = _ensure_world(spark)

    def audit(df: DataFrame, col: str, label: str) -> DataFrame:
        # Spark has no json_valid; get_json_object(col,'$') is NULL exactly
        # for malformed input (plus the valid literal `null`, special-cased)
        bad = (
            F.col(col).isNotNull()
            & F.get_json_object(F.col(col), "$").isNull()
            & (F.trim(F.col(col)) != "null")
        )
        checked = df.select(
            F.lit(label).alias("column_name"),
            F.when(bad, 1).otherwise(0).alias("bad"),
        )
        return checked.groupBy("column_name").agg(
            F.count(F.lit(1)).alias("rows_checked"),
            F.sum("bad").cast("long").alias("rows_malformed"),
        )

    a = audit(src.transaction_comment, "attributes", "comment.attributes")
    b = audit(src.repository, "details", "repository.details")
    c = audit(src.project_transaction, "metadata", "project_transaction.metadata")
    return a.unionByName(b).unionByName(c).orderBy("column_name")


PHAB_VALIDITY_ORACLE = f"""
SELECT 'comment.attributes' AS column_name, COUNT(*) AS rows_checked,
       CAST(SUM(CASE WHEN attributes IS NOT NULL AND NOT json_valid(attributes) THEN 1 ELSE 0 END) AS BIGINT) AS rows_malformed
FROM {_pq('transaction_comment')}
UNION ALL
SELECT 'repository.details', COUNT(*),
       CAST(SUM(CASE WHEN details IS NOT NULL AND NOT json_valid(details) THEN 1 ELSE 0 END) AS BIGINT)
FROM {_pq('repository')}
UNION ALL
SELECT 'project_transaction.metadata', COUNT(*),
       CAST(SUM(CASE WHEN metadata IS NOT NULL AND NOT json_valid(metadata) THEN 1 ELSE 0 END) AS BIGINT)
FROM {_pq('project_transaction')}
ORDER BY column_name
"""


PHAB_QUERIES = [
    Q("phab_diffs", phab_diffs, PHAB_DIFFS_ORACLE, "diffs table (P8+J10/J11)"),
    Q("phab_changesets", phab_changesets, PHAB_CHANGESETS_ORACLE, "changesets table (J3)"),
    Q("phab_comments", phab_comments, PHAB_COMMENTS_ORACLE, "comments table (J6/J7/J8+F1)"),
    Q("phab_transactions", phab_transactions, PHAB_TRANSACTIONS_ORACLE, "transactions table (P10/C3/F2)"),
    Q("phab_review_requests", phab_review_requests, PHAB_REVIEW_REQUESTS_ORACLE, "review_requests (J4/J5/P9)"),
    Q("phab_revisions", phab_revisions, PHAB_REVISIONS_ORACLE, "revisions table (A2/A3/C1/W1/J1/J9/J12/A8)"),
    Q("phab_review_groups", phab_review_groups, PHAB_REVIEW_GROUPS_ORACLE, "review_groups (P7/J13)"),
    Q("phab_project_transactions", phab_project_transactions, PHAB_PROJECT_TRANSACTIONS_ORACLE,
      "project_transactions (P11/F3/F4/A7/J14/J15)"),
    Q("phab_validity_audit", phab_validity_audit, PHAB_VALIDITY_ORACLE,
      "C5 raising-arm parity as a validity audit (SURVEY §7.4)"),
]
