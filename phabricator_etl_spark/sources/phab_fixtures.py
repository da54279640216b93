"""Deterministic Phabricator-shaped fixtures (FIXTURES.md §1).

Generates the 15 source tables the reference reads (stats.py:161-191) with
the declared schemas in SCHEMAS — the stand-in for the reference's automap
reflection (SURVEY.md §1.1) — either as in-memory DataFrames (generate) or
as parquet files that Spark and the DuckDB oracles both scan (land). Edge
cases per FIXTURES.md: bmo- projects, PHID-RIDT diff authors, commit
(landing) diffs, bool-true suggestion decoys, garbage JSON, dependency stacks
with cross-bug decoys, multi/zero-URI repositories, users without primary
emails.

Seeded and pure: same seed -> identical tables, so pipeline tests and the
Python oracle in tests/ see the same world.
"""

from __future__ import annotations

import json
import os
import random
from dataclasses import dataclass

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema

BUG_FIELD_INDEX = "zdMFYM6423ua"  # bug-id custom field (stats.py:1120-1123)


@dataclass
class PhabSources:
    user: DataFrame
    user_email: DataFrame
    project: DataFrame
    project_edge: DataFrame
    project_transaction: DataFrame
    repository: DataFrame
    repository_uri: DataFrame
    revision: DataFrame
    diff: DataFrame
    changeset: DataFrame
    differential_transaction: DataFrame
    transaction_comment: DataFrame
    reviewer: DataFrame
    diff_edge: DataFrame
    customfieldstorage: DataFrame


def _schema(*fields: tuple[str, T.DataType]) -> T.StructType:
    return T.StructType([T.StructField(n, t, True) for n, t in fields])


S = T.StringType()
L = T.LongType()

# Declared schema of each table, in PhabSources field order; generate() and
# land() both build their frames from it.
SCHEMAS = {
    "user": _schema(("phid", S), ("userName", S)),
    "user_email": _schema(("userPHID", S), ("address", S), ("isPrimary", L)),
    "project": _schema(("id", L), ("phid", S), ("name", S), ("primarySlug", S)),
    "project_edge": _schema(("src", S), ("type", L), ("dst", S)),
    "project_transaction": _schema(("id", L), ("objectPHID", S), ("authorPHID", S), ("transactionType", S),
                                   ("dateCreated", L), ("oldValue", S), ("newValue", S), ("metadata", S)),
    "repository": _schema(("phid", S), ("name", S), ("details", S)),
    "repository_uri": _schema(("repositoryPHID", S), ("uri", S)),
    "revision": _schema(("id", L), ("phid", S), ("status", S), ("dateCreated", L),
                        ("dateModified", L), ("repositoryPHID", S)),
    "diff": _schema(("id", L), ("phid", S), ("revisionID", L), ("creationMethod", S),
                    ("authorPHID", S), ("dateCreated", L)),
    "changeset": _schema(("id", L), ("diffID", L), ("addLines", L), ("delLines", L), ("filename", S)),
    "differential_transaction": _schema(("id", L), ("objectPHID", S), ("transactionType", S), ("commentPHID", S),
                                        ("authorPHID", S), ("dateCreated", L), ("oldValue", S), ("newValue", S)),
    "transaction_comment": _schema(("id", L), ("phid", S), ("revisionPHID", S), ("changesetID", L),
                                   ("authorPHID", S), ("dateCreated", L), ("content", S), ("attributes", S)),
    "reviewer": _schema(("id", L), ("revisionPHID", S), ("reviewerPHID", S), ("reviewerStatus", S),
                        ("dateCreated", L), ("dateModified", L), ("lastActionDiffPHID", S),
                        ("lastCommentDiffPHID", S)),
    "diff_edge": _schema(("src", S), ("type", L), ("dst", S)),
    "customfieldstorage": _schema(("objectPHID", S), ("fieldIndex", S), ("fieldValue", S)),
}

STATE_CHANGE_SAMPLE = [
    "differential.revision.abandon",
    "differential.revision.accept",
    "differential.revision.close",
    "differential.revision.request",
    "differential.revision.reviewers",
    "differential.revision.status",
]

T0 = 1_640_995_200  # 2022-01-01 UTC
MONTH = 2_629_746


def _rows(seed: int, n_users: int = 40, n_projects: int = 12, n_repos: int = 8,
          n_revisions: int = 120) -> dict[str, list[tuple]]:
    """Each table's rows, in SCHEMAS column order."""
    rng = random.Random(seed)

    # --- users + emails -----------------------------------------------------
    users = [(f"PHID-USER-{i:04d}", f"user{i}") for i in range(n_users)]
    emails = []
    for i, (phid, _) in enumerate(users):
        if i % 9 == 8:
            continue  # no email at all (stats.py:396-397 NULL path)
        emails.append((phid, f"user{i}@example.com", 1))
        if i % 5 == 0:
            emails.append((phid, f"alt{i}@example.com", 0))  # non-primary decoy

    # --- projects + membership edges ---------------------------------------
    projects = []
    project_edges = []
    for i in range(n_projects):
        name = f"bmo-autogen-{i}" if i % 5 == 4 else f"review-group-{i}"
        projects.append((100 + i, f"PHID-PROJ-{i:04d}", name, f"slug-{i}"))
        members = rng.sample(range(n_users), k=rng.randint(0, 6))
        for m in members:
            project_edges.append((f"PHID-PROJ-{i:04d}", 13, f"PHID-USER-{m:04d}"))
        if i % 3 == 0:  # decoy edge types that must be ignored
            project_edges.append((f"PHID-PROJ-{i:04d}", 41, f"PHID-USER-{rng.randrange(n_users):04d}"))
    # membership edge pointing at a user that does not exist (unresolved name)
    project_edges.append(("PHID-PROJ-0000", 13, "PHID-USER-9999"))

    # --- project transactions ----------------------------------------------
    ptxns = []
    pt_id = 9000
    for i in range(n_projects):
        phid = f"PHID-PROJ-{i:04d}"
        author = f"PHID-USER-{rng.randrange(n_users):04d}"
        t = T0 + i * 1000
        pt_id += 1
        ptxns.append((pt_id, phid, author, "core:create", t, None, None, None))
        if i % 2 == 0:  # rename
            pt_id += 1
            ptxns.append((pt_id, phid, author, "project:name", t + 50,
                          json.dumps(f"old-name-{i}"), json.dumps(f"review-group-{i}"), None))
        if i % 3 == 0:  # membership change, valid metadata
            old = {f"PHID-USER-{m:04d}": {} for m in rng.sample(range(n_users), k=2)}
            new_keys = list(old)[:1] + [f"PHID-USER-{rng.randrange(n_users):04d}"]
            new = {k: {} for k in new_keys}
            pt_id += 1
            ptxns.append((pt_id, phid, author, "core:edge", t + 80,
                          json.dumps(old), json.dumps(new), json.dumps({"edge:type": 13})))
        if i % 4 == 0:  # core:edge with non-membership edge type -> skipped
            pt_id += 1
            ptxns.append((pt_id, phid, author, "core:edge", t + 90,
                          json.dumps(["PHID-USER-0001"]), json.dumps(["PHID-USER-0002"]),
                          json.dumps({"edge:type": 41})))
        if i == 1:  # garbage metadata -> swallowed, skipped
            pt_id += 1
            ptxns.append((pt_id, phid, author, "core:edge", t + 95, "not json", "[]", "garbage"))
        if i == 2:  # decoy type not in PROJECT_TRANSACTION_TYPES
            pt_id += 1
            ptxns.append((pt_id, phid, author, "project:status", t + 97, None, None, None))
    # transaction whose project was deleted (stats.py:669-672 null path)
    pt_id += 1
    ptxns.append((pt_id, "PHID-PROJ-GONE", "PHID-USER-0000", "core:create", T0 + 77, None, None, None))

    # --- repositories -------------------------------------------------------
    repos, repo_uris = [], []
    for i in range(n_repos):
        phid = f"PHID-REPO-{i:04d}"
        details = (
            None if i % 4 == 3
            else json.dumps({"default-branch": f"branch-{i}"} if i % 2 == 0 else {"other": 1})
        )
        repos.append((phid, f"repo-{i}", details))
        if i % 3 != 2:  # some repos have no URI (stats.py:246-247 null path)
            repo_uris.append((phid, f"https://hg.example.com/repo-{i}"))
        if i % 4 == 0:  # multiple URIs (.first() arbitrary-row path)
            repo_uris.append((phid, f"https://git.example.com/repo-{i}"))

    # --- revisions + bug ids + dependency stacks ----------------------------
    revisions, cfs, diff_edges = [], [], []
    statuses = ["needs-review", "accepted", "published", "abandoned", "draft"]
    bug_of: dict[int, str | None] = {}
    for i in range(n_revisions):
        phid = f"PHID-DREV-{i:04d}"
        created = T0 + i * (MONTH // 17)
        modified = created + rng.randrange(1, MONTH)
        repo_phid = None if i % 7 == 6 else f"PHID-REPO-{i % n_repos:04d}"
        revisions.append((i + 1, phid, statuses[i % len(statuses)], created, modified, repo_phid))
        # bug ids: clusters of 3 consecutive revisions share a bug; some have
        # none; one has the empty-string fieldValue (-> None, stats.py:284)
        if i % 4 == 3:
            bug_of[i] = None  # no custom-field row at all
        elif i % 11 == 10:
            cfs.append((phid, BUG_FIELD_INDEX, ""))
            bug_of[i] = None  # empty -> None
        else:
            bug = f"{1000 + i // 3}"
            cfs.append((phid, BUG_FIELD_INDEX, bug))
            bug_of[i] = bug
        if i % 6 == 0:  # decoy custom field rows
            cfs.append((phid, "otherfield000", "999"))
    # dependency edges: chain within each bug cluster + cross-bug decoys
    for i in range(n_revisions - 1):
        same_cluster = (i // 3) == ((i + 1) // 3)
        if same_cluster and rng.random() < 0.8:
            a, b = f"PHID-DREV-{i:04d}", f"PHID-DREV-{i + 1:04d}"
            diff_edges.append((a, rng.choice([5, 6]), b))
    # cross-bug decoy edges (must not merge stacks: bug ids differ)
    for _ in range(10):
        x, y = rng.sample(range(n_revisions), k=2)
        diff_edges.append((f"PHID-DREV-{x:04d}", rng.choice([5, 6]), f"PHID-DREV-{y:04d}"))
    # decoy edge types + project-tag edges (type 41)
    for i in range(0, n_revisions, 5):
        tags = rng.sample(range(n_projects), k=rng.randint(0, 3))
        for t_ in tags:
            diff_edges.append((f"PHID-DREV-{i:04d}", 41, f"PHID-PROJ-{t_:04d}"))
    diff_edges.append(("PHID-DREV-0000", 99, "PHID-DREV-0001"))  # decoy type

    # --- diffs + changesets -------------------------------------------------
    diffs, changesets = [], []
    d_id, c_id = 0, 0
    diff_phid_by_id = {}
    for i in range(n_revisions):
        n_diffs = rng.randint(1, 4)
        base = T0 + i * (MONTH // 17)
        for j in range(n_diffs):
            d_id += 1
            dphid = f"PHID-DIFF-{d_id:05d}"
            diff_phid_by_id[d_id] = dphid
            method = "commit" if (j == n_diffs - 1 and i % 3 == 0) else rng.choice(["web", "arc"])
            author = (
                f"PHID-RIDT-{i:04d}" if (i % 10 == 5 and j == 0)
                else f"PHID-USER-{rng.randrange(n_users):04d}"
            )
            diffs.append((d_id, dphid, i + 1, method, author, base + j * 777))
            if method != "commit":
                for _ in range(rng.randint(0, 3)):
                    c_id += 1
                    fname = "src/mödule.py" if c_id % 7 == 0 else f"src/file{c_id}.py"
                    changesets.append((c_id, d_id, rng.randrange(200), rng.randrange(80), fname))

    # --- differential transactions + comments -------------------------------
    dtxns, comments = [], []
    t_id, cm_id = 0, 0
    for i in range(n_revisions):
        rphid = f"PHID-DREV-{i:04d}"
        base = T0 + i * (MONTH // 17)
        for j in range(rng.randint(0, 5)):
            t_id += 1
            typ = rng.choice(STATE_CHANGE_SAMPLE + ["core:comment", "core:customfield"])
            author = f"PHID-USER-{rng.randrange(n_users):04d}"
            comment_phid = None
            old_v: str | None = rng.choice([None, "draft", "needs-review", "true", "false", "3"])
            new_v: str | None = rng.choice([None, "accepted", "published", "true", "7"])
            if typ == "differential.revision.reviewers":
                variants = [
                    json.dumps({f"PHID-USER-{rng.randrange(n_users):04d}": "added",
                                f"PHID-PROJ-{rng.randrange(n_projects):04d}": "added"}),
                    json.dumps({"PHID-USER-9999": "added"}),  # unresolved -> dropped
                    json.dumps([]),
                    "",
                    "garbage{",
                    json.dumps(["PHID-USER-0001"]),  # non-dict -> []
                ]
                old_v, new_v = rng.choice(variants), rng.choice(variants)
            elif typ == "core:comment":
                cm_id += 1
                comment_phid = f"PHID-XCMT-{cm_id:05d}"
                # top-level comment row reachable only via the txn arm (J6 arm 2)
                comments.append((10_000 + cm_id, comment_phid, None, None, author,
                                 base + j * 11, f"top-level comment {cm_id}",
                                 json.dumps({})))
            dtxns.append((t_id, rphid, typ, comment_phid, author, base + j * 10, old_v, new_v))
        # inline comments tied to the revision directly (J6 arm 1)
        for k in range(rng.randint(0, 3)):
            cm_id += 1
            cs = rng.choice([None] + [c[0] for c in changesets[-6:]] if changesets else [None])
            attrs_variants = [
                json.dumps({"inline.state.initial": {"hassuggestion": "true"}}),
                json.dumps({"inline.state.initial": {"hassuggestion": True}}),  # bool decoy
                json.dumps({"inline.state.initial": {}}),
                json.dumps({}),
            ]
            comments.append((10_000 + cm_id, f"PHID-XCMT-{cm_id:05d}", rphid, cs,
                             f"PHID-USER-{rng.randrange(n_users):04d}", base + 7 + k,
                             f"inline comment {cm_id} éé", rng.choice(attrs_variants)))

    # --- reviewers ----------------------------------------------------------
    reviewers = []
    rv_id = 0
    for i in range(n_revisions):
        rphid = f"PHID-DREV-{i:04d}"
        base = T0 + i * (MONTH // 17)
        for j in range(rng.randint(0, 4)):
            rv_id += 1
            is_group = rng.random() < 0.3
            rev_phid = (
                f"PHID-PROJ-{rng.randrange(n_projects):04d}" if is_group
                else f"PHID-USER-{rng.randrange(n_users):04d}"
            )
            status = rng.choice(["added", "accepted", "rejected", "commented"])
            action_diff = diff_phid_by_id.get(rng.randrange(1, d_id + 1)) if rng.random() < 0.5 else None
            comment_diff = diff_phid_by_id.get(rng.randrange(1, d_id + 1)) if rng.random() < 0.3 else None
            reviewers.append((rv_id, rphid, rev_phid, status, base + j, base + j * 13 + 1,
                              action_diff, comment_diff))

    return {
        "user": users, "user_email": emails, "project": projects, "project_edge": project_edges,
        "project_transaction": ptxns, "repository": repos, "repository_uri": repo_uris,
        "revision": revisions, "diff": diffs, "changeset": changesets,
        "differential_transaction": dtxns, "transaction_comment": comments,
        "reviewer": reviewers, "diff_edge": diff_edges, "customfieldstorage": cfs,
    }


def generate(spark: SparkSession, *, seed: int = 7, **sizes: int) -> PhabSources:
    """The world as in-memory DataFrames: one positional ``createDataFrame(rows,
    schema)`` per table, so any object with that method can stand in for ``spark``."""
    rows = _rows(seed, **sizes)
    return PhabSources(**{name: spark.createDataFrame(rows[name], schema) for name, schema in SCHEMAS.items()})


def land(spark: SparkSession, root: str, *, seed: int = 7, **sizes: int) -> PhabSources:
    """Write the world to ``<root>/<table>/part-0.parquet`` with pyarrow (no
    Spark job) and return scans of those files with the declared schemas.

    Once ``<root>/_DONE`` exists nothing is rewritten: other processes, the
    DuckDB oracles among them, may be reading the files. Each file is renamed
    into place, so two processes landing at once never expose a partial one."""
    if not os.path.exists(os.path.join(root, "_DONE")):
        rows = _rows(seed, **sizes)
        for name, schema in SCHEMAS.items():
            arrow = to_arrow_schema(schema)
            os.makedirs(os.path.join(root, name), exist_ok=True)
            tmp = os.path.join(root, name, f".part-0.parquet.{os.getpid()}")
            pq.write_table(pa.Table.from_pylist([dict(zip(arrow.names, r)) for r in rows[name]], arrow), tmp)
            os.replace(tmp, os.path.join(root, name, "part-0.parquet"))
        with open(os.path.join(root, "_DONE"), "w") as f:
            f.write("ok\n")
    return PhabSources(**{name: spark.read.schema(schema).parquet(os.path.join(root, name))
                          for name, schema in SCHEMAS.items()})


def inject_hot_object(src: PhabSources, *, n_hot: int = 10_000,
                      id_base: int = 1_000_000) -> PhabSources:
    """Skew a generated world around ONE hot revision — the real-world shape
    (a mega-review with ~10k comments and a huge reviewer fan-out) that a
    uniform fixture can never produce (r5 verdict #8).

    The lowest-id revision receives:
      - n_hot comments: EVEN ordinals bound directly via revisionPHID
        (build_comments arm 1), ODD ordinals reachable only through a
        core:comment transaction (arm 2 / J7) — so BOTH OR-join arms carry
        the hot key;
      - n_hot reviewer rows cycling over the world's real users (J4).

    Rows are built with spark.range (no driver-side 10k-tuple upload), ids
    offset by ``id_base`` to stay disjoint from generator ids. The returned
    world is schema-identical, so every pipeline and the e2e runner accept
    it unchanged.
    """
    from pyspark.sql import functions as F

    spark = src.revision.sparkSession
    hot = src.revision.orderBy("id").select("id", "phid").first()
    hot_phid = hot["phid"]

    r = spark.range(n_hot)
    comments = r.select(
        (F.lit(id_base) + F.col("id")).alias("id"),
        F.concat(F.lit("PHID-XACT-HOT-"), F.col("id")).alias("phid"),
        F.when(F.col("id") % 2 == 0, F.lit(hot_phid)).alias("revisionPHID"),
        F.lit(None).cast("long").alias("changesetID"),
        F.concat(F.lit("PHID-USER-"), F.format_string("%04d", (F.col("id") % 40))).alias("authorPHID"),
        (F.lit(T0) + F.col("id")).alias("dateCreated"),
        F.concat(F.lit("hot comment "), F.col("id")).alias("content"),
        F.lit("{}").alias("attributes"),
    )
    cc_txns = (
        r.filter(F.col("id") % 2 == 1)
        .select(
            (F.lit(id_base) + F.col("id")).alias("id"),
            F.lit(hot_phid).alias("objectPHID"),
            F.lit("core:comment").alias("transactionType"),
            F.concat(F.lit("PHID-XACT-HOT-"), F.col("id")).alias("commentPHID"),
            F.concat(F.lit("PHID-USER-"), F.format_string("%04d", (F.col("id") % 40))).alias("authorPHID"),
            (F.lit(T0) + F.col("id")).alias("dateCreated"),
            F.lit(None).cast("string").alias("oldValue"),
            F.lit(None).cast("string").alias("newValue"),
        )
    )
    reviewers = r.select(
        (F.lit(id_base) + F.col("id")).alias("id"),
        F.lit(hot_phid).alias("revisionPHID"),
        F.concat(F.lit("PHID-USER-"), F.format_string("%04d", (F.col("id") % 40))).alias("reviewerPHID"),
        F.lit("added").alias("reviewerStatus"),
        (F.lit(T0) + F.col("id")).alias("dateCreated"),
        (F.lit(T0) + F.col("id")).alias("dateModified"),
        F.lit(None).cast("string").alias("lastActionDiffPHID"),
        F.lit(None).cast("string").alias("lastCommentDiffPHID"),
    )
    return PhabSources(**{
        **src.__dict__,
        "transaction_comment": src.transaction_comment.unionByName(comments),
        "differential_transaction": src.differential_transaction.unionByName(cc_txns),
        "reviewer": src.reviewer.unionByName(reviewers),
    })
