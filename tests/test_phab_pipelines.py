"""End-to-end parity: the 8 Spark output pipelines vs the independent
Python oracle, over the deterministic Phabricator-shaped fixtures.

This is the test the reference never had (SURVEY.md §5: its suite is pure
unit) — full-pipeline comparison including the N+1->join rewrite, the
OR-join decomposition, the reviewers-map resolution, and the BFS->connected
components replacement (property-checked per §4.3).
"""

from __future__ import annotations

from dataclasses import fields

import pytest

from phabricator_etl_spark.plans import phab_pipelines as P
from phabricator_etl_spark.sources import phab_fixtures

from phab_oracle import Oracle


@pytest.fixture(scope="module")
def world(spark):
    src = phab_fixtures.generate(spark, seed=7)
    return src, Oracle(_rows(src)), P.build_all(src)


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
    got = {r["rev_phid"]: r["stack_size"] for r in P.stack_sizes(src).collect()}
    for rev in rows["revision"]:
        want = oracle.stack_size(rev)
        assert got[rev["phid"]] == want, (
            f"stack_size({rev['phid']}): spark={got[rev['phid']]} bfs-oracle={want}"
        )
