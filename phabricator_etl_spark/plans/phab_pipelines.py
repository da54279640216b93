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

Scale notes: project/repository dimensions are broadcast (they are
orders of magnitude smaller than the fact tables), and so is the user
dimension, after one aggregate; every fact-side join is a single shuffle on
its key. The revisions table, as executed over the landed gate world
(plans/r12/phab_revisions_executed.txt): the bug, review, tag and stack-size
rollups are one union, partial-aggregated before its one rev_phid exchange
and joined to the revision scan once; date_landed is one aggregate on its
revision-id exchange; the stack sizes add one exchange on the component
label below the union. At that size AQE broadcasts both aggregates, so the
revision scan is never shuffled. No Python UDFs anywhere (SURVEY.md §2.10).
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

def dim_users(src: PhabSources) -> DataFrame:
    """user name + primary email per user phid (J10/J11). The reference's
    user_name_cache (stats.py:360-371) and uncached get_user_email
    (stats.py:388-397) both collapse into this one broadcast dimension.
    The reference's `.one()` fails on a user with two primary emails; this
    engine takes MIN(address) (SURVEY §7.9), so no user row fans out. User
    and primary-email rows meet in one union aggregate, one exchange in
    place of the join's broadcast; ``u`` keeps only phids with a user row."""
    users = src.user.select("phid", "userName", F.lit(1).alias("u"))
    primary = src.user_email.filter(F.col("isPrimary") == 1).select(F.col("userPHID").alias("phid"), "address")
    return (
        users.unionByName(primary, allowMissingColumns=True)
        .groupBy("phid")
        .agg(F.max("u").alias("u"), F.max("userName").alias("username"), F.min("address").alias("email"))
        .filter(F.col("u").isNotNull())
        .drop("u")
    )


def dim_projects(src: PhabSources) -> DataFrame:
    return src.project.select(
        F.col("id").alias("project_id"),
        F.col("phid"),
        F.col("name").alias("project_name"),
        F.col("primarySlug").alias("slug"),
    )


def dim_repositories(src: PhabSources) -> DataFrame:
    """repository name/default-branch/URI per phid (J12, F5). The reference
    takes `.first()` of multiple URIs (stats.py:238-247) with no order — we
    take MIN(uri) for determinism (SURVEY §7.9)."""
    uri = src.repository_uri.groupBy("repositoryPHID").agg(F.min("uri").alias("uri"))
    return (
        src.repository.select(
            "phid",
            F.col("name").alias("repo_name"),
            F.get_json_object("details", "$['default-branch']").alias("default_branch"),
        )
        .join(uri.withColumnRenamed("repositoryPHID", "phid"), "phid", "left")
    )


def _author_cols(df: DataFrame, users: DataFrame, author_col: str = "authorPHID") -> DataFrame:
    """Broadcast-join author username/email (J10/J11 at every author site)."""
    u = users.select(
        F.col("phid").alias("__author_phid"),
        F.col("username").alias("author_username"),
        F.col("email").alias("author_email"),
    )
    return df.join(F.broadcast(u), df[author_col] == u.__author_phid, "left").drop("__author_phid")


# ---------------------------------------------------------------------------
# diffs + changesets (Phase 1/3).
# ---------------------------------------------------------------------------

def build_diffs(src: PhabSources, users: DataFrame) -> DataFrame:
    """One row per non-landing diff (stats.py:455-464; P8 filter)."""
    kept = src.diff.filter(phab.should_include_diff(F.col("creationMethod"), F.col("authorPHID")))
    return _author_cols(kept, users).select(
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

def build_comments(src: PhabSources, users: DataFrame) -> DataFrame:
    rev = src.revision.select(F.col("id").alias("revision_id"), F.col("phid").alias("rev_phid"))
    c = src.transaction_comment

    # arm 1: comments bound to the revision directly
    arm1 = c.join(rev, c.revisionPHID == rev.rev_phid).select("revision_id", *c.columns)

    # arm 2 (J7): comments referenced by the revision's core:comment txns
    cc_txn = (
        src.differential_transaction.filter(F.col("transactionType") == "core:comment")
        .select(F.col("objectPHID").alias("rev_phid2"), F.col("commentPHID").alias("cphid"))
        .filter(F.col("cphid").isNotNull())
    )
    arm2 = (
        c.join(cc_txn, c.phid == cc_txn.cphid)
        .join(rev, F.col("rev_phid2") == rev.rev_phid)
        .select("revision_id", *c.columns)
    )

    # A row can satisfy both arms for the same revision -> dedup on the pair
    # key. The union is hash-partitioned by the comment id, which the pair
    # dedup accepts as its own layout: as executed over the landed gate
    # world (plans/r12/phab_comments_executed.txt) the dedup's partial and
    # final aggregates share that one exchange, and the changeset and
    # author broadcast joins after it keep the layout, so the runner's
    # dedup_latest on comment_id needs no exchange of its own.
    both = arm1.unionByName(arm2).repartition("id").dropDuplicates(["revision_id", "id"])

    # J8: comment -> changeset -> diff id (null-propagating)
    cs = src.changeset.select(F.col("id").alias("__cs_id"), F.col("diffID").alias("diff_id"))
    both = both.join(cs, both.changesetID == F.col("__cs_id"), "left").drop("__cs_id")

    return _author_cols(both, users).select(
        "revision_id",
        "diff_id",
        F.col("changesetID").alias("changeset_id"),
        F.col("id").alias("comment_id"),
        "author_email",
        "author_username",
        F.col("dateCreated").alias("date_created"),
        F.length("content").alias("character_count"),
        phab.is_suggestion(F.col("attributes")).alias("is_suggestion"),
    )


# ---------------------------------------------------------------------------
# transactions (Phase 3): P10 + C3 + F2 reviewers resolution.
# ---------------------------------------------------------------------------

def build_transactions(src: PhabSources, users: DataFrame, projects: DataFrame) -> DataFrame:
    rev = src.revision.select(F.col("id").alias("revision_id"), F.col("phid").alias("rev_phid"))
    txn = phab.filter_state_changes(src.differential_transaction)
    txn = txn.join(rev, txn.objectPHID == rev.rev_phid)

    # F2: reviewers-map values resolve PHID keys to names, document order,
    # unresolved dropped (stats.py:717-754). posexplode keeps the key order
    # from_json preserves; one resolution pass covers both old and new.
    rv = txn.filter(F.col("transactionType") == "differential.revision.reviewers")
    sides = rv.select(
        F.col("id").alias("txn_id"),
        F.explode(
            F.array(
                F.struct(F.lit("old").alias("side"), F.col("oldValue").alias("val")),
                F.struct(F.lit("new").alias("side"), F.col("newValue").alias("val")),
            )
        ).alias("sv"),
    ).select("txn_id", F.col("sv.side").alias("side"), F.col("sv.val").alias("val"))
    keys = sides.select(
        "txn_id",
        "side",
        F.posexplode_outer(F.map_keys(F.from_json("val", "map<string,string>"))).alias("pos", "phid"),
    )
    u = users.select(F.col("phid").alias("u_phid"), F.col("username").alias("u_name"))
    p = projects.select(F.col("phid").alias("p_phid"), F.col("project_name").alias("p_name"))
    resolved = (
        keys.join(F.broadcast(u), keys.phid == u.u_phid, "left")
        .join(F.broadcast(p), keys.phid == p.p_phid, "left")
        .withColumn(
            "name",
            F.when(phab.is_project_reviewer(F.col("phid")), F.col("p_name")).otherwise(F.col("u_name")),
        )
    )
    # r10 (guide §2.4): ONE conditional aggregation replaces the former
    # groupBy(txn_id, side) + pivot(side) pair — two exchanges collapsed
    # into one. collect_list skips nulls, so the side split rides the WHEN
    # inside the aggregate; output lists are identical (sorted by pos).
    def _side_names(side: str) -> F.Column:
        return F.transform(
            F.array_sort(
                F.collect_list(
                    F.when(F.col("side") == side, F.struct("pos", "name"))
                )
            ),
            lambda x: x["name"],
        )

    wide = (
        resolved.filter(F.col("name").isNotNull())
        .groupBy("txn_id")
        .agg(_side_names("old").alias("rv_old"), _side_names("new").alias("rv_new"))
    )

    txn = txn.join(wide, txn.id == wide.txn_id, "left").drop("txn_id")
    is_rv = F.col("transactionType") == "differential.revision.reviewers"
    return _author_cols(txn, users).select(
        "revision_id",
        F.col("id").alias("transaction_id"),
        F.col("transactionType").alias("transaction_type"),
        "author_email",
        "author_username",
        F.col("dateCreated").alias("date_created"),
        F.when(is_rv, F.coalesce("rv_old", F.array()))
        .otherwise(phab.convert_value_to_string_list(F.col("oldValue")))
        .alias("old_value"),
        F.when(is_rv, F.coalesce("rv_new", F.array()))
        .otherwise(phab.convert_value_to_string_list(F.col("newValue")))
        .alias("new_value"),
    )


# ---------------------------------------------------------------------------
# review_requests (Phase 3): P9 dispatch + J5 diff-phid resolution.
# ---------------------------------------------------------------------------

def build_review_requests(src: PhabSources, users: DataFrame, projects: DataFrame) -> DataFrame:
    rev = src.revision.select(F.col("id").alias("revision_id"), F.col("phid").alias("rev_phid"))
    r = src.reviewer.join(rev, src.reviewer.revisionPHID == rev.rev_phid)

    u = users.select(F.col("phid").alias("u_phid"), F.col("username").alias("u_name"), F.col("email").alias("u_email"))
    p = projects.select(F.col("phid").alias("p_phid"), F.col("project_name").alias("p_name"))
    is_group = phab.is_project_reviewer(F.col("reviewerPHID"))
    r = (
        r.join(F.broadcast(u), r.reviewerPHID == u.u_phid, "left")
        .join(F.broadcast(p), r.reviewerPHID == p.p_phid, "left")
    )

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
    endpoints — the global CC pass behind stack_size, exposed separately so
    the incremental runner can do graph-aware invalidation."""
    bug = _bug_ids(src).filter(F.col("bug_id").isNotNull())
    # rb (revision -> bug) is the vertex set and feeds BOTH edge endpoints.
    # It is not persisted: on the small-graph path connected_components
    # reads it in one probe query, where exchange reuse shares the bug
    # broadcast, and on the distributed path it caches the graph's rows,
    # vertex and edge rows together, in one more query of that shape.
    rb = src.revision.select(F.col("phid").alias("id")).join(bug, F.col("id") == bug.rev_phid).select("id", "bug_id")
    e = src.diff_edge.filter(F.col("type").isin(phab.DEPENDS_ON, phab.DEPENDED_ON))
    sb = rb.withColumnsRenamed({"id": "src", "bug_id": "src_bug"})
    db = rb.withColumnsRenamed({"id": "dst", "bug_id": "dst_bug"})
    same_bug_edges = (
        e.join(sb, "src").join(db, "dst").filter(F.col("src_bug") == F.col("dst_bug")).select("src", "dst")
    )
    comp = connected_components(rb, same_bug_edges)
    return comp.select(F.col("id").alias("rev_phid"), "component")


def component_sizes(comp: DataFrame) -> DataFrame:
    """(rev_phid, stack_size) of every revision that has a component: the
    size is a count over its ``component`` label, one exchange on the label.
    Revisions without a component (no bug) are absent; their size is 1."""
    size = F.count(F.lit(1)).over(Window.partitionBy("component"))
    return comp.select("rev_phid", size.alias("stack_size"))


def stack_sizes(src: PhabSources) -> DataFrame:
    """A8/§4.3: one global connected-components pass over dependency edges
    restricted to same-bug endpoints, replacing the reference's per-revision
    BFS (stats.py:310-357). Returns (rev_phid, stack_size) for every
    revision; no-bug or isolated revisions get 1."""
    return (
        src.revision.select(F.col("phid").alias("rev_phid"))
        .join(component_sizes(stack_components(src)), "rev_phid", "left")
        .select("rev_phid", F.coalesce("stack_size", F.lit(1)).alias("stack_size"))
    )


def build_revisions(
    src: PhabSources,
    repos: DataFrame,
    projects: DataFrame,
    *,
    stacks: DataFrame | None = None,
) -> DataFrame:
    """``stacks`` holds the (rev_phid, stack_size) rows of revisions that
    have a component (``component_sizes``); a revision without one gets 1.
    Pass it computed over the FULL revision graph in incremental runs,
    where the revision table here is watermark-filtered but stack
    membership must consult every revision (the reference's BFS queries
    unfiltered all_revisions, stats.py:1117-1119)."""
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
    # (the reference emits DB-arbitrary order, SURVEY §7.9)
    tags = (
        src.diff_edge.filter(F.col("type") == phab.OBJECT_HAS_PROJECT)
        .select(F.col("src").alias("rev_phid"), F.col("dst").alias("proj_phid"))
        .join(F.broadcast(projects.select(F.col("phid").alias("proj_phid"), "slug")), "proj_phid")
        .select("rev_phid", "slug")
    )
    # A8: stack sizes straight from the component labels
    if stacks is None:
        stacks = component_sizes(stack_components(src))
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

def build_review_groups(src: PhabSources, users: DataFrame) -> DataFrame:
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
    u = users.select(F.col("phid").alias("member_phid"), "username", "email")
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


def build_project_transactions(src: PhabSources, users: DataFrame, projects: DataFrame) -> DataFrame:
    """P10/P11/F3/F4/A7/J14/J15 in one pipeline (stats.py:626-680)."""
    txn = src.project_transaction.filter(F.col("transactionType").isin(phab.PROJECT_TRANSACTION_TYPES))
    # P11: core:edge rows must be membership transactions, others pass
    txn = txn.filter(
        (F.col("transactionType") != "core:edge")
        | phab.is_membership_edge_transaction(F.col("transactionType"), F.col("metadata"))
    )
    p = projects.select(F.col("phid").alias("proj_phid"), "project_id", "project_name")
    txn = txn.join(F.broadcast(p), txn.objectPHID == p.proj_phid, "left")

    # A7 + F3: membership delta phid sets, both directions
    old_set = phab.parse_edge_member_phids(F.col("oldValue"))
    new_set = phab.parse_edge_member_phids(F.col("newValue"))
    removed = F.array_except(old_set, new_set)
    added = F.array_except(new_set, old_set)

    # J14: phid set -> SORTED DISTINCT usernames, dropping unresolved
    # (stats.py:603-623). Resolve via explode + broadcast join.
    edge_txn = txn.filter(F.col("transactionType") == "core:edge").select(
        F.col("id").alias("txn_id"), removed.alias("removed"), added.alias("added")
    )
    sides = edge_txn.select(
        "txn_id",
        F.explode(
            F.array(
                F.struct(F.lit("old").alias("side"), F.col("removed").alias("phids")),
                F.struct(F.lit("new").alias("side"), F.col("added").alias("phids")),
            )
        ).alias("sv"),
    ).select("txn_id", F.col("sv.side").alias("side"), F.explode_outer("sv.phids").alias("member_phid"))
    u = users.select(F.col("phid").alias("member_phid"), "username")

    # r10 (guide §2.4): one conditional aggregation replaces the former
    # groupBy(txn_id, side) + pivot(side) pair — two exchanges collapsed
    # into one; collect_list skips the non-matching (null) side rows.
    def _side_names(side: str) -> F.Column:
        return F.array_sort(
            F.array_distinct(
                F.collect_list(F.when(F.col("side") == side, F.col("username")))
            )
        )

    wide = (
        sides.join(F.broadcast(u), "member_phid", "left")
        .groupBy("txn_id")
        .agg(_side_names("old").alias("edge_old"), _side_names("new").alias("edge_new"))
    )
    txn = txn.join(wide, txn.id == wide.txn_id, "left").drop("txn_id")

    t = F.col("transactionType")
    old_value = (
        F.when(t == "core:edge", F.coalesce("edge_old", F.array()))
        .when(t == "project:name", phab.decode_name_transaction_value(F.col("oldValue")))
        .otherwise(F.array())  # core:create has no prior value
    )
    new_value = (
        F.when(t == "core:edge", F.coalesce("edge_new", F.array()))
        .when(t == "project:name", phab.decode_name_transaction_value(F.col("newValue")))
        .otherwise(F.when(F.col("project_name").isNotNull(), F.array(F.col("project_name"))).otherwise(F.array()))
    )
    return _author_cols(txn, users).select(
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


def build_all(src: PhabSources) -> dict[str, DataFrame]:
    """All 8 output tables from one source set (process(), stats.py:1094-1164,
    minus the BigQuery plumbing the Spark sinks replace)."""
    users = dim_users(src)
    projects = dim_projects(src)
    repos = dim_repositories(src)
    return {
        "revisions": build_revisions(src, repos, projects),
        "diffs": build_diffs(src, users),
        "changesets": build_changesets(src),
        "comments": build_comments(src, users),
        "review_requests": build_review_requests(src, users, projects),
        "transactions": build_transactions(src, users, projects),
        "review_groups": build_review_groups(src, users),
        "project_transactions": build_project_transactions(src, users, projects),
    }
