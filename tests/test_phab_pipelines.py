"""End-to-end parity: the 8 Spark output pipelines vs the independent
Python oracle, over the deterministic Phabricator-shaped fixtures.

This is the test the reference never had (SURVEY.md §5: its suite is pure
unit) — full-pipeline comparison including the N+1->join rewrite, the
OR-join decomposition, the reviewers-map resolution, and the BFS->connected
components replacement (property-checked per §4.3).
"""

from __future__ import annotations

import json
import os
from dataclasses import fields

import pytest

from phabricator_etl_spark.plans import phab_pipelines as P
from phabricator_etl_spark.sources import phab_fixtures
from phabricator_etl_spark.sources.phab_fixtures import BUG_FIELD_INDEX, SCHEMAS, PhabSources

from phab_oracle import Oracle


@pytest.fixture(scope="module")
def world(spark, tmp_path_factory):
    """The gate world read from parquet, as production reads stored tables:
    in-memory sources never plan broadcasts, so they would skip the join
    and exchange shapes the pipelines are planned for."""
    src = phab_fixtures.land(spark, str(tmp_path_factory.mktemp("phab_world")), seed=7)
    return src, Oracle(_rows(src)), _build_all(src)


def _build_all(src):
    """The eight tables as the runner wires them on a first load."""
    return P.build_all(src, P.dim_principals(src), P.stack_components(src))


def _rows(src):
    """Each PhabSources table as a list of row dicts, for the oracle."""
    return {f.name: [r.asDict() for r in getattr(src, f.name).collect()] for f in fields(src)}


def _norm(rows):
    def fix(v):
        if isinstance(v, list):
            return tuple(v)
        return v
    # rows contain NULLs: sort by repr (total order), compare by value
    return sorted((tuple(fix(v) for v in r) for r in rows), key=repr)


def _compare(df, oracle_rows, name):
    got = _norm([tuple(r) for r in df.collect()])
    want = _norm(oracle_rows)
    assert len(got) == len(want), f"{name}: row count {len(got)} != oracle {len(want)}"
    for g, w in zip(got, want):
        assert g == w, f"{name}: first mismatch\n  spark : {g}\n  oracle: {w}"


def test_diffs(world):
    src, oracle, out = world
    _compare(out["diffs"], oracle.diffs(), "diffs")


def test_changesets(world):
    src, oracle, out = world
    _compare(out["changesets"], oracle.changesets(), "changesets")


def test_comments(world):
    src, oracle, out = world
    _compare(out["comments"], oracle.comments(), "comments")


def test_transactions(world):
    src, oracle, out = world
    _compare(out["transactions"], oracle.transactions(), "transactions")


def test_review_requests(world):
    src, oracle, out = world
    _compare(out["review_requests"], oracle.review_requests(), "review_requests")


def test_revisions(world):
    src, oracle, out = world
    _compare(out["revisions"], oracle.revisions(), "revisions")


def test_review_groups(world):
    src, oracle, out = world
    _compare(out["review_groups"], oracle.review_groups(), "review_groups")


def test_project_transactions(world):
    src, oracle, out = world
    _compare(out["project_transactions"], oracle.project_transactions(), "project_transactions")


def test_stack_size_property_alt_seed(spark):
    """§4.3 property check on a second world: global connected components
    must equal the reference's per-seed BFS-with-bug-filter for EVERY
    revision (the equivalence argument SURVEY.md asks to confirm)."""
    src = phab_fixtures.generate(spark, seed=23, n_revisions=60)
    rows = _rows(src)
    oracle = Oracle(rows)
    out = P.build_revisions(src, P.dim_repositories(src), P.stack_components(src))
    got = {r["revision_id"]: r["stack_size"] for r in out.collect()}
    for rev in rows["revision"]:
        want = oracle.stack_size(rev)
        assert got[rev["id"]] == want, (
            f"stack_size({rev['phid']}): spark={got[rev['id']]} bfs-oracle={want}"
        )


def _edge_world(spark, root):
    """A hand-built world of the rollup edge cases, written as parquet:
    duplicate membership edges, a user with two primary emails, unresolved
    members and tags, a revision with no reviewer/tag/bug/stack rows, NULL
    and tied reviewer dateModified, an empty bug id and a cross-bug edge."""
    u1, u2, u3 = "PHID-USER-1", "PHID-USER-2", "PHID-USER-3"
    p1, p2, p3, p4 = "PHID-PROJ-1", "PHID-PROJ-2", "PHID-PROJ-3", "PHID-PROJ-4"
    r = {i: f"PHID-DREV-{i}" for i in range(1, 6)}
    repo = "PHID-REPO-1"
    rows = {
        "user": [(u1, "alice"), (u2, "bob"), (u3, "carol")],
        "user_email": [(u1, "a@x", 1), (u2, "b0@x", 0), (u2, "b1@x", 1), (u2, "b2@x", 1)],
        "project": [(1, p1, "devs", "devs"), (2, p2, "bmo-hidden", "bmo"), (3, p3, "empty", "empty"),
                    (4, p4, "infra", "infra")],
        "project_edge": [(p1, 13, u1), (p1, 13, u1), (p1, 13, u2), (p1, 13, "PHID-USER-ghost"),
                         (p4, 13, u3), (p4, 13, u3), (p2, 13, u3), (p1, 99, u3)],
        "repository": [(repo, "repo", '{"default-branch": "main"}')],
        "repository_uri": [(repo, "https://hg.example.com/b"), (repo, "https://hg.example.com/a")],
        "revision": [(i, r[i], "accepted", 10 * i, 10 * i + 5, repo if i != 3 else None) for i in r],
        "diff": [(1, "PHID-DIFF-1", 1, "commit", u1, 50), (2, "PHID-DIFF-2", 2, "commit", u1, 60),
                 (3, "PHID-DIFF-3", 4, "commit", u2, 70), (4, "PHID-DIFF-4", 1, "web", u1, 40)],
        # r1: NULL-dated accepted review beside a dated one (NULL orders
        # lowest); r2: two reviews tied on dateModified (higher id wins);
        # r4: its only review is NULL-dated; r3, r5: none
        "reviewer": [(10, r[1], u1, "accepted", 1, None, None, None),
                     (11, r[1], u2, "accepted", 1, 100, "PHID-DIFF-4", None),
                     (20, r[2], u1, "accepted", 1, 200, None, None),
                     (21, r[2], p1, "rejected", 1, 200, None, None),
                     (12, r[4], u2, "accepted", 1, None, None, None)],
        "diff_edge": [(r[1], 41, p1), (r[1], 41, p4), (r[1], 41, p1), (r[2], 41, "PHID-PROJ-gone"),
                      (r[1], 5, r[2]), (r[2], 6, r[1]), (r[4], 5, r[5]), (r[4], 5, r[1])],
        "customfieldstorage": [(r[1], BUG_FIELD_INDEX, "B1"), (r[2], BUG_FIELD_INDEX, "B1"),
                               (r[4], BUG_FIELD_INDEX, "B2"), (r[5], BUG_FIELD_INDEX, ""),
                               (r[3], "otherField", "B1")],
    }
    frames = {}
    for name, schema in SCHEMAS.items():
        path = os.path.join(root, name)
        spark.createDataFrame(rows.get(name, []), schema).write.parquet(path)
        frames[name] = spark.read.schema(schema).parquet(path)
    return PhabSources(**frames)


def test_rollup_edge_cases(spark, tmp_path):
    src = _edge_world(spark, str(tmp_path))
    oracle = Oracle(_rows(src))
    _compare(P.build_revisions(src, P.dim_repositories(src), P.stack_components(src)), oracle.revisions(), "revisions")
    _compare(P.build_review_groups(src, P.dim_principals(src)), oracle.review_groups(), "review_groups")


# Two transaction rows sharing an id, each with its own reviewer or member
# map, and the names each must resolve to on its own.
_SHARED_ID_ROWS = {
    "transactions": (
        "differential_transaction", "differential.revision.reviewers",
        {'{"PHID-USER-0003": "added"}': ("user3",), '{"PHID-USER-0004": "added"}': ("user4",)},
    ),
    "project_transactions": (
        "project_transaction", "core:edge",
        {'{"PHID-USER-0002": {}}': ("user2",), '{"PHID-USER-0005": {}}': ("user5",)},
    ),
}


@pytest.mark.parametrize("table", sorted(_SHARED_ID_ROWS))
def test_rows_sharing_an_id_resolve_their_own_names(spark, table):
    """Names are resolved per row, as the row oracle does: two rows with
    one id must not get each other's reviewer or member names."""
    source, txn_type, names = _SHARED_ID_ROWS[table]
    src = phab_fixtures.generate(spark, seed=7, n_revisions=12)
    rows = [r.asDict() for r in getattr(src, source).collect()]
    membership = json.dumps({"edge:type": 13})
    first = next(r for r in rows if r["transactionType"] == txn_type and r.get("metadata", membership) == membership)
    rows.remove(first)
    rows += [{**first, "oldValue": "{}", "newValue": m} for m in names]
    src = PhabSources(**{**src.__dict__, source: spark.createDataFrame(rows, SCHEMAS[source])})
    out = _build_all(src)[table]
    got = out.filter(out.transaction_id == first["id"]).select("new_value").collect()
    assert sorted(tuple(r.new_value) for r in got) == sorted(names.values())
    _compare(out, getattr(Oracle(_rows(src)), table)(), table)
