"""The 8 denormalized output tables (FIXTURES.md §2), set-oriented.

This is the reference's entire ETL (stats.py:1027-1164) collapsed from a
per-revision N+1 loop into 8 declarative Catalyst plans. Every `get_*`
helper that issued a correlated MySQL query per row becomes one join; the
two memo caches become broadcast hash joins (SURVEY.md §4: the caches ARE
hand-rolled broadcast build sides); the per-revision BFS becomes one global
connected-components pass.

Determinism notes (SURVEY.md §7.8/7.9): everywhere the reference does
`.first()` without ORDER BY or iterates a set, this engine picks an explicit
deterministic winner (documented per site). Divergence is semantic-free for
well-formed data and reproducible for malformed data — the better trade at
100 TB.

Scale notes: the dimensions are broadcast (they are orders of magnitude
smaller than the fact tables), each after one union aggregate: the
principal dimension (users, their primary emails and projects) and the
repository dimension. Each is looked up once per key a branch resolves.
Every fact-side join is a broadcast or a single shuffle on its key:
comments, transactions and project_transactions hash-partition their rows
by id once, and the pair dedup or the name regroup, and the runner's
dedup_latest, reuse that exchange. The revisions table, as executed over
the landed gate world (plans/r12/phab_revisions_executed.txt): the bug,
review, tag and stack-size rollups are one union, partial-aggregated before
its one rev_phid exchange and joined to the revision scan once; date_landed
is one aggregate on its revision-id exchange; the stack sizes add one
exchange on the component label below the union; the repository dimension
is one union aggregate on its phid exchange. At that size AQE broadcasts
the rollup and date_landed aggregates, so the revision scan is never
shuffled. No Python UDFs anywhere (SURVEY.md §2.10).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions import phab
from ..operators.graph import connected_components
from ..sources.phab_fixtures import BUG_FIELD_INDEX, PhabSources


# ---------------------------------------------------------------------------
# Dimension layer (Phase 2): resolved users / projects / repositories.
# ---------------------------------------------------------------------------

def dim_principals(src: PhabSources) -> DataFrame:
    """Every phid a user or project row names, with the user name and
    primary email (J10/J11) and the project id, name and slug. The
    reference's user_name_cache and project lookups (stats.py:360-371,
    412-418) and its uncached get_user_email (stats.py:388-397) collapse
    into this one broadcast dimension, so a reviewer phid that may be a
    user or a project resolves in one lookup and ``is_project_reviewer``
    picks the column. User, primary-email and project rows meet in one
    union aggregate, one exchange. Determinism (SURVEY §7.9): the
    reference's `.one()` fails on a user with two primary emails, this
    engine takes MIN(address); a project phid listed twice resolves to one
    row, the one with the max name. The email is NULL for a phid without a
    user row, and a phid with only email rows is dropped."""
    users = src.user.select("phid", "userName", F.lit(1).alias("u"))
    primary = src.user_email.filter(F.col("isPrimary") == 1).select(F.col("userPHID").alias("phid"), "address")
    projects = src.project.select("phid", F.struct("name", "id", "primarySlug").alias("p"))
    return (
        users.unionByName(primary, allowMissingColumns=True)
        .unionByName(projects, allowMissingColumns=True)
        .groupBy("phid")
        .agg(
            F.max("u").alias("u"),
            F.max("userName").alias("username"),
            F.min("address").alias("email"),
            F.max("p").alias("p"),
        )
        .filter(F.col("u").isNotNull() | F.col("p").isNotNull())
        .select(
            "phid",
            "username",
            F.when(F.col("u").isNotNull(), F.col("email")).alias("email"),
            F.col("p.id").alias("project_id"),
            F.col("p.name").alias("project_name"),
            F.col("p.primarySlug").alias("slug"),
        )
    )


def dim_repositories(src: PhabSources) -> DataFrame:
    """repository name/default-branch/URI per phid (J12, F5). The reference
    takes `.first()` of multiple URIs (stats.py:238-247) with no order — we
    take MIN(uri) for determinism (SURVEY §7.9), and a repository phid
    listed twice resolves to the row with the max name. Repository and URI
    rows meet in one union aggregate, one exchange in place of the URI
    aggregate and its join; ``r`` keeps only phids with a repository row."""
    repos = src.repository.select(
        "phid",
        F.struct(
            F.col("name").alias("repo_name"),
            F.get_json_object("details", "$['default-branch']").alias("default_branch"),
        ).alias("r"),
    )
    uris = src.repository_uri.select(F.col("repositoryPHID").alias("phid"), "uri")
    return (
        repos.unionByName(uris, allowMissingColumns=True)
        .groupBy("phid")
        .agg(F.max("r").alias("r"), F.min("uri").alias("uri"))
        .filter(F.col("r").isNotNull())
        .select("phid", "r.repo_name", "r.default_branch", "uri")
    )


def _author_cols(df: DataFrame, principals: DataFrame, author_col: str = "authorPHID") -> DataFrame:
    """Broadcast-join author username/email (J10/J11) of a diff or comment;
    the transaction tables resolve their author in their one principal
    lookup."""
    u = principals.select(
        F.col("phid").alias("__author_phid"),
        F.col("username").alias("author_username"),
        F.col("email").alias("author_email"),
    )
    return df.join(F.broadcast(u), df[author_col] == u.__author_phid, "left").drop("__author_phid")


# ---------------------------------------------------------------------------
# diffs + changesets (Phase 1/3).
# ---------------------------------------------------------------------------

def build_diffs(src: PhabSources, principals: DataFrame) -> DataFrame:
    """One row per non-landing diff (stats.py:455-464; P8 filter)."""
    kept = src.diff.filter(phab.should_include_diff(F.col("creationMethod"), F.col("authorPHID")))
    return _author_cols(kept, principals).select(
        F.col("creationMethod").alias("creation_method"),
        F.col("id").alias("diff_id"),
        F.col("revisionID").alias("revision_id"),
        F.col("dateCreated").alias("date_created"),
        "author_email",
        "author_username",
    )


def build_changesets(src: PhabSources) -> DataFrame:
    """One row per changeset of an included diff (J3; transforms.py:42-55).
    filename arrives decoded at scan (SURVEY §1.2 — F6 sites vanish)."""
    kept = src.diff.filter(phab.should_include_diff(F.col("creationMethod"), F.col("authorPHID"))).select(
        F.col("id").alias("__diff_id"), F.col("revisionID").alias("revision_id")
    )
    return src.changeset.join(kept, src.changeset.diffID == F.col("__diff_id")).select(
        "revision_id",
        F.col("diffID").alias("diff_id"),
        F.col("id").alias("changeset_id"),
        F.col("addLines").alias("lines_added"),
        F.col("delLines").alias("lines_removed"),
        "filename",
    )


# ---------------------------------------------------------------------------
# comments (Phase 3): the OR-join decomposition (J6/J7/J8).
# ---------------------------------------------------------------------------

def build_comments(src: PhabSources, principals: DataFrame) -> DataFrame:
    rev = src.revision.select(F.col("id").alias("revision_id"), F.col("phid").alias("rev_phid"))
    # The text's length and the suggestion flag are taken before the arms
    # meet: a projection is not pushed below a repartition, so computed
    # after it the exchange would carry content and attributes, the widest
    # columns of the comment table, for two small values.
    c = src.transaction_comment.select(
        "phid",
        "revisionPHID",
        "id",
        "changesetID",
        "authorPHID",
        "dateCreated",
        F.length("content").alias("character_count"),
        phab.is_suggestion(F.col("attributes")).alias("is_suggestion"),
    )
    cols = [col for col in c.columns if col not in ("phid", "revisionPHID")]

    # arm 1: comments bound to the revision directly
    arm1 = c.join(rev, c.revisionPHID == rev.rev_phid).select("revision_id", *cols)

    # arm 2 (J7): comments referenced by the revision's core:comment txns
    cc_txn = (
        src.differential_transaction.filter(F.col("transactionType") == "core:comment")
        .select(F.col("objectPHID").alias("rev_phid2"), F.col("commentPHID").alias("cphid"))
        .filter(F.col("cphid").isNotNull())
    )
    arm2 = (
        c.join(cc_txn, c.phid == cc_txn.cphid)
        .join(rev, F.col("rev_phid2") == rev.rev_phid)
        .select("revision_id", *cols)
    )

    # A row can satisfy both arms for the same revision -> dedup on the pair
    # key. The union is hash-partitioned by the comment id, which the pair
    # dedup accepts as its own layout: as executed over the landed gate
    # world (plans/r14/phab_comments_executed.txt) the dedup's partial and
    # final aggregates share that one exchange, and the changeset and
    # author broadcast joins after it keep the layout, so the runner's
    # dedup_latest on comment_id needs no exchange of its own.
    both = arm1.unionByName(arm2).repartition("id").dropDuplicates(["revision_id", "id"])

    # J8: comment -> changeset -> diff id (null-propagating)
    cs = src.changeset.select(F.col("id").alias("__cs_id"), F.col("diffID").alias("diff_id"))
    both = both.join(cs, both.changesetID == F.col("__cs_id"), "left").drop("__cs_id")

    return _author_cols(both, principals).select(
        "revision_id",
        "diff_id",
        F.col("changesetID").alias("changeset_id"),
        F.col("id").alias("comment_id"),
        "author_email",
        "author_username",
        F.col("dateCreated").alias("date_created"),
        "character_count",
        "is_suggestion",
    )


# ---------------------------------------------------------------------------
# transactions (Phase 3): P10 + C3 + F2 reviewers resolution.
# ---------------------------------------------------------------------------

def _keyed(side: str, phids: F.Column) -> F.Column:
    """(side, pos, phid) of each phid of an array in order; none when the
    array is NULL."""
    return F.transform(
        F.coalesce(phids, F.array().cast("array<string>")),
        lambda phid, pos: F.struct(F.lit(side).alias("side"), pos.alias("pos"), phid.alias("phid")),
    )


def _picked(side: str, value: str) -> F.Column:
    """Aggregate: ``value`` of the row's one ``side`` entry (NULL when it
    did not resolve)."""
    return F.max(F.when(F.col("k.side") == side, F.col(value)))


def build_transactions(src: PhabSources, principals: DataFrame) -> DataFrame:
    """P10 + C3 + F2: one row per state-change transaction of a revision.
    F2 resolves a reviewers row's map keys to names in the pass that moves
    the rows, and the author's phid rides along as one more key: as
    executed over the landed gate world
    (plans/r14/phab_transactions_executed.txt) the transactions are
    hash-partitioned by id once, each row explodes its author and reviewer
    keys in place, one principal broadcast resolves them all, and the
    regroup by the transaction's own columns keeps that layout. So each
    row is resolved on its own (two rows equal in every column come out as
    one), and the runner's dedup_latest on transaction_id plans no
    exchange of its own."""
    rev = src.revision.select(F.col("id").alias("revision_id"), F.col("phid").alias("rev_phid"))
    txn = phab.filter_state_changes(src.differential_transaction)
    txn = (
        txn.join(rev, txn.objectPHID == rev.rev_phid)
        .select("revision_id", "id", "transactionType", "authorPHID", "dateCreated", "oldValue", "newValue")
        .repartition("id")
    )

    # F2: reviewers-map values resolve PHID keys to names, document order,
    # unresolved dropped (stats.py:717-754). The (side, pos, phid) entries
    # keep the key order from_json preserves; one lookup covers both sides
    # and the author (J10/J11), so every row has at least one entry.
    is_rv = F.col("transactionType") == "differential.revision.reviewers"

    def reviewer_keys(value: str) -> F.Column:
        return F.when(is_rv, F.map_keys(F.from_json(value, "map<string,string>")))

    entries = F.concat(
        _keyed("author", F.array("authorPHID")),
        _keyed("old", reviewer_keys("oldValue")),
        _keyed("new", reviewer_keys("newValue")),
    )
    keys = txn.select("*", F.explode(entries).alias("k"))
    p = principals.select(F.col("phid").alias("k_phid"), "username", "email", "project_name")
    name = F.when(phab.is_project_reviewer(F.col("k.phid")), F.col("project_name")).otherwise(F.col("username"))

    # collect_list skips nulls, so the side split and the unresolved drop
    # ride the WHEN inside the aggregate; sorting the (pos, name) structs
    # restores the document order
    def _side_names(side: str) -> F.Column:
        picked = F.when((F.col("k.side") == side) & name.isNotNull(), F.struct(F.col("k.pos"), name.alias("name")))
        return F.transform(F.array_sort(F.collect_list(picked)), lambda x: x["name"])

    txn = (
        keys.join(F.broadcast(p), F.col("k.phid") == p.k_phid, "left")
        .groupBy(*txn.columns)
        .agg(
            _side_names("old").alias("rv_old"),
            _side_names("new").alias("rv_new"),
            _picked("author", "email").alias("author_email"),
            _picked("author", "username").alias("author_username"),
        )
    )
    return txn.select(
        "revision_id",
        F.col("id").alias("transaction_id"),
        F.col("transactionType").alias("transaction_type"),
        "author_email",
        "author_username",
        F.col("dateCreated").alias("date_created"),
        F.when(is_rv, F.col("rv_old")).otherwise(phab.convert_value_to_string_list(F.col("oldValue")))
        .alias("old_value"),
        F.when(is_rv, F.col("rv_new")).otherwise(phab.convert_value_to_string_list(F.col("newValue")))
        .alias("new_value"),
    )


# ---------------------------------------------------------------------------
# review_requests (Phase 3): P9 dispatch + J5 diff-phid resolution.
# ---------------------------------------------------------------------------

def build_review_requests(src: PhabSources, principals: DataFrame) -> DataFrame:
    rev = src.revision.select(F.col("id").alias("revision_id"), F.col("phid").alias("rev_phid"))
    r = src.reviewer.join(rev, src.reviewer.revisionPHID == rev.rev_phid)

    # P9: one principal lookup; is_group picks the project or user columns
    p = principals.select(
        F.col("phid").alias("p_phid"),
        F.col("username").alias("u_name"),
        F.col("email").alias("u_email"),
        F.col("project_name").alias("p_name"),
    )
    is_group = phab.is_project_reviewer(F.col("reviewerPHID"))
    r = r.join(F.broadcast(p), r.reviewerPHID == p.p_phid, "left")

    # J5: lastActionDiffPHID / lastCommentDiffPHID -> diff ids (two aliased
    # broadcast joins against the diff key map; null-propagating)
    dmap = src.diff.select(F.col("phid").alias("d_phid"), F.col("id").alias("d_id"))
    r = (
        r.join(F.broadcast(dmap.withColumnsRenamed({"d_phid": "a_phid", "d_id": "last_action_diff_id"})),
               r.lastActionDiffPHID == F.col("a_phid"), "left")
        .join(F.broadcast(dmap.withColumnsRenamed({"d_phid": "c_phid", "d_id": "last_comment_diff_id"})),
              r.lastCommentDiffPHID == F.col("c_phid"), "left")
    )

    return r.select(
        "revision_id",
        F.col("id").alias("review_id"),
        F.when(is_group, F.col("p_name")).otherwise(F.col("u_name")).alias("reviewer_username"),
        F.when(is_group, F.lit(None).cast("string")).otherwise(F.col("u_email")).alias("reviewer_email"),
        is_group.alias("is_group"),
        F.col("dateCreated").alias("date_created"),
        F.col("dateModified").alias("date_modified"),
        F.col("reviewerStatus").alias("status"),
        "last_action_diff_id",
        "last_comment_diff_id",
    )


# ---------------------------------------------------------------------------
# revisions (Phase 4/5): rollups + stack_size.
# ---------------------------------------------------------------------------

def _bug_ids(src: PhabSources) -> DataFrame:
    """J1: revision phid -> bug id ('' -> NULL, C2; stats.py:276-284)."""
    cfs = src.customfieldstorage.filter(F.col("fieldIndex") == BUG_FIELD_INDEX)
    return cfs.select(
        F.col("objectPHID").alias("rev_phid"),
        phab.empty_to_null(F.col("fieldValue")).alias("bug_id"),
    )


def stack_components(src: PhabSources) -> DataFrame:
    """(rev_phid, component) over dependency edges restricted to same-bug
    endpoints — the global CC pass behind stack_size (A8/§4.3), replacing
    the reference's per-revision BFS (stats.py:310-357). The runner runs it
    once for both the graph-aware invalidation and ``build_revisions``."""
    bug = _bug_ids(src).filter(F.col("bug_id").isNotNull())
    # rb (revision -> bug) is the vertex set and feeds BOTH edge endpoints.
    # It is not persisted: on the small-graph path connected_components
    # reads it in one probe query, where exchange reuse shares the revision
    # phid broadcast among the vertex side and both endpoints, and on the
    # distributed path it caches the graph's rows, vertex and edge rows
    # together, in one more query of that shape.
    revs = src.revision.select(F.col("phid").alias("id"))
    rb = bug.join(F.broadcast(revs), bug.rev_phid == revs.id).select("id", "bug_id")
    e = src.diff_edge.filter(F.col("type").isin(phab.DEPENDS_ON, phab.DEPENDED_ON))
    sb = rb.withColumnsRenamed({"id": "src", "bug_id": "src_bug"})
    db = rb.withColumnsRenamed({"id": "dst", "bug_id": "dst_bug"})
    same_bug_edges = (
        e.join(sb, "src").join(db, "dst").filter(F.col("src_bug") == F.col("dst_bug")).select("src", "dst")
    )
    comp = connected_components(rb, same_bug_edges)
    return comp.select(F.col("id").alias("rev_phid"), "component")


def build_revisions(src: PhabSources, repos: DataFrame, comp: DataFrame) -> DataFrame:
    """``comp`` holds the (rev_phid, component) labels of ``stack_components``
    (A8/§4.3): a revision's stack_size is the count of its label, one
    exchange on the label, and a revision without a label (no bug) gets 1.
    In incremental runs compute it over the FULL revision graph: the
    revision table here is watermark-filtered, but stack membership must
    consult every revision (the reference's BFS queries unfiltered
    all_revisions, stats.py:1117-1119)."""
    rev = src.revision

    # A2: date_landed = max dateCreated over commit diffs (over ALL diffs,
    # inclusion filter does not apply here — stats.py:455-467). Keyed by
    # revision id, so it stays its own aggregate.
    landed = src.diff.groupBy("revisionID").agg(
        phab.latest_landed_date(F.col("creationMethod"), F.col("dateCreated")).alias("date_landed")
    )

    # The four rollups keyed by revision phid share ONE aggregate: their
    # rows are unioned (each source fills its own columns, NULL elsewhere)
    # and reduced by one groupBy(rev_phid), one exchange and one join. Every
    # aggregate below skips the NULLs the other sources' rows carry.
    # J1 bug id: at most one per revision (SURVEY J1 one_or_none), so max()
    # is that one.
    bug = _bug_ids(src)
    # A3 + W1: date_approved = max dateModified over accepted reviews, and
    # last_review_id = the id of the (dateModified, id)-max review. max_by
    # with the unique id in the ordering struct picks the W1 window's
    # desc/desc top-1 deterministically; the ordering is NULL on rows that
    # are not reviews, which max_by skips.
    reviews = src.reviewer.select(
        F.col("revisionPHID").alias("rev_phid"), "reviewerStatus", "dateModified", F.col("id").alias("review_id")
    )
    # J9: project tag slugs (type-41 edges); deterministic sorted order
    # (the reference emits DB-arbitrary order, SURVEY §7.9). The lookup
    # reads the project scan, not the pinned principal dim: through the
    # dim the planner shuffles the revision scan before AQE broadcasts the
    # rollup (one more job, measured).
    tags = (
        src.diff_edge.filter(F.col("type") == phab.OBJECT_HAS_PROJECT)
        .select(F.col("src").alias("rev_phid"), F.col("dst").alias("proj_phid"))
        .join(F.broadcast(src.project.select(F.col("phid").alias("proj_phid"), F.col("primarySlug").alias("slug"))),
              "proj_phid")
        .select("rev_phid", "slug")
    )
    # A8: stack sizes straight from the component labels
    stacks = comp.select("rev_phid", F.count(F.lit(1)).over(Window.partitionBy("component")).alias("stack_size"))
    is_review = F.col("review_id").isNotNull()
    rolled = (
        bug.unionByName(reviews, allowMissingColumns=True)
        .unionByName(tags, allowMissingColumns=True)
        .unionByName(stacks, allowMissingColumns=True)
        .groupBy("rev_phid")
        .agg(
            F.max("bug_id").alias("bug_id"),
            phab.latest_approved_date(F.col("reviewerStatus"), F.col("dateModified")).alias("date_approved"),
            F.max_by("review_id", F.when(is_review, F.struct("dateModified", "review_id"))).alias("last_review_id"),
            F.array_sort(F.collect_set("slug")).alias("project_tags"),
            F.max("stack_size").alias("stack_size"),
        )
    )

    out = (
        rev.join(rolled, rev.phid == rolled.rev_phid, "left").drop("rev_phid")
        .join(landed, rev.id == landed.revisionID, "left").drop("revisionID")
        .join(F.broadcast(repos.withColumnRenamed("phid", "repo_phid")),
              rev.repositoryPHID == F.col("repo_phid"), "left")
    )
    return out.select(
        "bug_id",
        F.col("id").alias("revision_id"),
        phab.gate_date_approved(F.col("date_landed"), F.col("date_approved")).alias("date_approved"),
        F.col("dateCreated").alias("date_created"),
        F.col("dateModified").alias("date_modified"),
        "date_landed",
        "last_review_id",
        F.col("status").alias("current_status"),
        F.col("uri").alias("target_repository"),
        F.col("repo_name").alias("target_repository_name"),
        F.col("default_branch").alias("target_repository_default_branch"),
        F.coalesce("stack_size", F.lit(1)).alias("stack_size"),
        F.coalesce("project_tags", F.array()).alias("project_tags"),
    )


# ---------------------------------------------------------------------------
# review_groups + project_transactions (Phase 6, snapshot tables).
# ---------------------------------------------------------------------------

def build_review_groups(src: PhabSources, principals: DataFrame) -> DataFrame:
    """One row per non-bmo- project (P7) with member names/emails (J13).
    The reference iterates a SET of member phids — unordered, KEEPING
    unresolved Nones (stats.py:574-580, SURVEY §7.12); we order by member
    phid for determinism and keep the Nones via struct-collect."""
    proj = src.project.filter(~F.col("name").startswith("bmo-"))
    # Hash partitioning on proj_phid clusters both the (proj, member) dedup
    # and the per-project collect, so the two share this one exchange.
    members = (
        src.project_edge.filter(F.col("type") == phab.PROJECT_HAS_MEMBER)
        .select(F.col("src").alias("proj_phid"), F.col("dst").alias("member_phid"))
        .repartition("proj_phid")
        .dropDuplicates(["proj_phid", "member_phid"])
    )
    u = principals.select(F.col("phid").alias("member_phid"), "username", "email")
    rolled = (
        members.join(F.broadcast(u), "member_phid", "left")
        .groupBy("proj_phid")
        .agg(F.array_sort(F.collect_list(F.struct("member_phid", "username", "email"))).alias("ms"))
        .select(
            "proj_phid",
            F.transform("ms", lambda m: m["username"]).alias("group_usernames"),
            F.transform("ms", lambda m: m["email"]).alias("group_emails"),
        )
    )
    # one rollup row per project: broadcast it rather than let AQE shuffle
    # the project side before it turns the join into a broadcast
    return (
        proj.join(F.broadcast(rolled), proj.phid == rolled.proj_phid, "left")
        .select(
            F.col("id").alias("group_id"),
            F.col("name").alias("group_name"),
            F.coalesce("group_usernames", F.array()).alias("group_usernames"),
            F.coalesce("group_emails", F.array()).alias("group_emails"),
        )
    )


def build_project_transactions(src: PhabSources, principals: DataFrame) -> DataFrame:
    """P10/P11/F3/F4/A7/J14/J15 in one pipeline (stats.py:626-680). J14
    resolves a core:edge row's member delta in the pass that moves the
    rows, as build_transactions does its reviewers, and the owning project
    (J15) and the author ride along as two more keys: as executed over the
    landed gate world (plans/r14/phab_project_transactions_executed.txt)
    the transactions are hash-partitioned by id once, each row explodes
    its owner, author and delta phids in place, one principal broadcast
    resolves them all, and the regroup by the transaction's own columns
    keeps that layout. So each row is resolved on its own (two rows equal
    in every column come out as one), and the runner's dedup_latest on
    transaction_id plans no exchange of its own."""
    txn = src.project_transaction.filter(F.col("transactionType").isin(phab.PROJECT_TRANSACTION_TYPES))
    # P11: core:edge rows must be membership transactions, others pass
    txn = txn.filter(
        (F.col("transactionType") != "core:edge")
        | phab.is_membership_edge_transaction(F.col("transactionType"), F.col("metadata"))
    )
    txn = txn.select("id", "objectPHID", "authorPHID", "dateCreated", "transactionType", "oldValue", "newValue")
    txn = txn.repartition("id")

    # A7 + F3: membership delta phid sets, both directions
    t = F.col("transactionType")
    is_edge = t == "core:edge"
    old_set = phab.parse_edge_member_phids(F.col("oldValue"))
    new_set = phab.parse_edge_member_phids(F.col("newValue"))
    entries = F.concat(
        _keyed("owner", F.array("objectPHID")),
        _keyed("author", F.array("authorPHID")),
        _keyed("old", F.when(is_edge, F.array_except(old_set, new_set))),
        _keyed("new", F.when(is_edge, F.array_except(new_set, old_set))),
    )
    keys = txn.select("*", F.explode(entries).alias("k"))
    p = principals.select(F.col("phid").alias("k_phid"), "username", "email", "project_id", "project_name")

    # J14: phid set -> SORTED DISTINCT usernames, dropping unresolved
    # (stats.py:603-623); the set skips the other entries' and the
    # unresolved (null) names
    def _side_names(side: str) -> F.Column:
        return phab.sorted_distinct_usernames(F.when(F.col("k.side") == side, F.col("username")))

    txn = (
        keys.join(F.broadcast(p), F.col("k.phid") == p.k_phid, "left")
        .groupBy(*txn.columns)
        .agg(
            _side_names("old").alias("edge_old"),
            _side_names("new").alias("edge_new"),
            # J15: the owning project (NULL for a deleted one)
            _picked("owner", "project_id").alias("project_id"),
            _picked("owner", "project_name").alias("project_name"),
            _picked("author", "email").alias("author_email"),
            _picked("author", "username").alias("author_username"),
        )
    )

    old_value = (
        F.when(is_edge, F.col("edge_old"))
        .when(t == "project:name", phab.decode_name_transaction_value(F.col("oldValue")))
        .otherwise(F.array())  # core:create has no prior value
    )
    new_value = (
        F.when(is_edge, F.col("edge_new"))
        .when(t == "project:name", phab.decode_name_transaction_value(F.col("newValue")))
        .otherwise(F.when(F.col("project_name").isNotNull(), F.array(F.col("project_name"))).otherwise(F.array()))
    )
    return txn.select(
        "project_id",
        "project_name",
        F.col("id").alias("transaction_id"),
        "author_email",
        "author_username",
        F.col("dateCreated").alias("date_created"),
        t.alias("transaction_type"),
        old_value.alias("old_value"),
        new_value.alias("new_value"),
    )


def build_all(src: PhabSources, principals: DataFrame, comp: DataFrame) -> dict[str, DataFrame]:
    """All 8 output tables from one source set (process(), stats.py:1094-1164,
    minus the BigQuery plumbing the Spark sinks replace): the one place the
    builders are wired to their inputs, for the runner and the tests alike.
    ``principals`` is ``dim_principals``, ``comp`` the ``stack_components``
    labels (over the full revision graph, see ``build_revisions``)."""
    return {
        "revisions": build_revisions(src, dim_repositories(src), comp),
        "diffs": build_diffs(src, principals),
        "changesets": build_changesets(src),
        "comments": build_comments(src, principals),
        "review_requests": build_review_requests(src, principals),
        "transactions": build_transactions(src, principals),
        "review_groups": build_review_groups(src, principals),
        "project_transactions": build_project_transactions(src, principals),
    }
