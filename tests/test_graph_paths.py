"""The two connected-components execution paths must agree exactly.

``connected_components`` cuts over to a driver union-find below
LOCAL_EDGE_THRESHOLD edges (the graph analog of a broadcast join's size
cutover); above it, the distributed pointer-doubling fixpoint runs. Both
must produce the identical (id, component=min-id) labeling.
"""

from __future__ import annotations

import os
import random

import pytest

from phabricator_etl_spark.operators import graph as graph_mod
from phabricator_etl_spark.operators.graph import connected_components

SF_SMOKE_DIR = "/root/testdata/sf0.001"


def _random_graph(seed: int, n: int, m: int):
    rng = random.Random(seed)
    vertices = list(range(n))
    edges = [(rng.randrange(n), rng.randrange(n)) for _ in range(m)]
    return vertices, edges


def _labels(df):
    return {r["id"]: r["component"] for r in df.collect()}


def test_local_and_distributed_paths_agree(spark, monkeypatch):
    vertices, edges = _random_graph(seed=11, n=300, m=180)
    vdf = spark.createDataFrame([(v,) for v in vertices], "id long")
    edf = spark.createDataFrame(edges, "src long, dst long")
    local = _labels(connected_components(vdf, edf))
    monkeypatch.setattr(graph_mod, "LOCAL_EDGE_THRESHOLD", 0)
    dist = _labels(connected_components(vdf, edf))
    assert local == dist


def test_local_path_matches_python_oracle(spark):
    vertices, edges = _random_graph(seed=23, n=120, m=90)
    vdf = spark.createDataFrame([(v,) for v in vertices], "id long")
    edf = spark.createDataFrame(edges, "src long, dst long")
    got = _labels(connected_components(vdf, edf))

    # independent oracle: repeated relaxation to fixpoint
    label = {v: v for v in vertices}
    changed = True
    while changed:
        changed = False
        for a, b in edges:
            lo = min(label[a], label[b])
            if label[a] != lo or label[b] != lo:
                label[a] = label[b] = lo
                changed = True
    assert got == label


def test_isolated_vertices_and_self_loops(spark):
    vdf = spark.createDataFrame([(1,), (2,), (3,), (9,)], "id long")
    edf = spark.createDataFrame([(2, 2), (3, 9)], "src long, dst long")
    got = _labels(connected_components(vdf, edf))
    assert got == {1: 1, 2: 2, 3: 3, 9: 3}


def _oracle_labels(vertices, edges):
    """Min-id labels by repeated relaxation to a fixpoint (None endpoints
    are no edge)."""
    label = {v: v for v in vertices}
    changed = True
    while changed:
        changed = False
        for a, b in edges:
            if a is None or b is None:
                continue
            lo = min(label[a], label[b])
            if label[a] != lo or label[b] != lo:
                label[a] = label[b] = lo
                changed = True
    return label


def _spy_paths(monkeypatch):
    """Record which path each connected_components call takes and whether
    its probe came back truncated."""
    taken = []
    local, probe = graph_mod._local_components, graph_mod.collect_if_small

    def spy_local(*a, **k):
        taken.append("local")
        return local(*a, **k)

    def spy_probe(*a, **k):
        pdf = probe(*a, **k)
        taken.append("truncated" if pdf is None else "whole")
        return pdf

    monkeypatch.setattr(graph_mod, "_local_components", spy_local)
    monkeypatch.setattr(graph_mod, "collect_if_small", spy_probe)
    return taken


@pytest.mark.parametrize(
    "edge_limit, vertex_limit, path",
    [
        (0, 0, ["whole", "local"]),  # E edges, V vertices: both at their cutover
        (-1, 0, ["truncated"]),  # E = edge cutover + 1, V at its cutover
        (0, -1, ["truncated"]),  # V = vertex cutover + 1, E at its cutover
        (-1, 10, ["whole"]),  # E over by 1 within the combined limit
        (10, -1, ["whole"]),  # V over by 1 within the combined limit
        (-40, -40, ["truncated"]),  # both far over
    ],
)
def test_probe_cutover_is_exact_per_side(spark, monkeypatch, edge_limit, vertex_limit, path):
    """One probe collects both sides; each side is held to its own cutover
    exactly, a probe that is not local (whole or truncated) falls through
    to the one distributed path, and every path gives the oracle's labels.
    NULL endpoints are no edge and do not count."""
    vertices, edges = _random_graph(seed=41, n=80, m=50)
    edges += [(None, 3), (5, None)]
    vdf = spark.createDataFrame([(v,) for v in vertices], "id long")
    edf = spark.createDataFrame(edges, "src long, dst long")
    monkeypatch.setattr(graph_mod, "LOCAL_EDGE_THRESHOLD", 50 + edge_limit)
    monkeypatch.setattr(graph_mod, "LOCAL_VERTEX_THRESHOLD", 80 + vertex_limit)
    taken = _spy_paths(monkeypatch)
    got = _labels(connected_components(vdf, edf))
    assert taken == path
    assert got == _oracle_labels(vertices, edges)


@pytest.mark.parametrize("vertex_type, edge_type", [("int", "long"), ("long", "int")])
@pytest.mark.parametrize("edge_limit", [None, 0])  # local path, distributed path
def test_mixed_width_id_types(spark, monkeypatch, vertex_type, edge_type, edge_limit):
    """Edge endpoints of another integer width than the vertex ids are cast
    to the vertex id type for the probe; both paths give the oracle's
    labels."""
    vertices, edges = _random_graph(seed=53, n=60, m=40)
    vdf = spark.createDataFrame([(v,) for v in vertices], f"id {vertex_type}")
    edf = spark.createDataFrame(edges, f"src {edge_type}, dst {edge_type}")
    if edge_limit is not None:
        monkeypatch.setattr(graph_mod, "LOCAL_EDGE_THRESHOLD", edge_limit)
    taken = _spy_paths(monkeypatch)
    assert _labels(connected_components(vdf, edf)) == _oracle_labels(vertices, edges)
    assert ("local" in taken) == (edge_limit is None)


def test_pointer_jump_paths_agree(spark, monkeypatch):
    """Local memoized root-walk == distributed Wyllie ranking, on a forest
    of chains of mixed length (including an unreachable chain whose root is
    not a seed)."""
    from phabricator_etl_spark.operators.iterative import pointer_jump_distances

    rng = random.Random(7)
    edges, seeds, nid = [], [], 0
    for _ in range(40):
        length = rng.randrange(1, 30)
        chain = list(range(nid, nid + length))
        nid += length
        seeds.append(chain[0])
        edges += [(chain[i], chain[i + 1]) for i in range(length - 1)]
    # orphan chain: root 10_000 is NOT a seed -> none of it is emitted
    edges += [(10_000 + i, 10_001 + i) for i in range(5)]

    sdf = spark.createDataFrame([(s,) for s in seeds], "id long")
    edf = spark.createDataFrame(edges, "src long, dst long")

    def dists(df):
        return {r["id"]: r["distance"] for r in df.collect()}

    local = dists(pointer_jump_distances(sdf, edf))
    monkeypatch.setattr(graph_mod, "LOCAL_EDGE_THRESHOLD", 0)
    dist = dists(pointer_jump_distances(sdf, edf))
    assert local == dist
    assert all(v < 10_000 for v in local)  # orphan chain excluded


def test_supercritical_vertices_skip_local_path(spark, monkeypatch):
    """r6 verdict #2: a subcritical EDGE set over a supercritical VERTEX set
    (the 100 TB shape after a selective edge filter: few edges, oceans of
    isolated vertices) must take the distributed path — never a full
    vertices.toPandas() — and still produce the local path's labeling."""
    vertices, edges = _random_graph(seed=31, n=500, m=60)
    vdf = spark.createDataFrame([(v,) for v in vertices], "id long")
    edf = spark.createDataFrame(edges, "src long, dst long")
    expected = _labels(connected_components(vdf, edf))  # local path (n=500 < 1Mi)

    monkeypatch.setattr(graph_mod, "LOCAL_VERTEX_THRESHOLD", 100)

    def _boom(*a, **k):  # the guard must prevent this from ever running
        raise AssertionError("local path taken despite supercritical vertex set")

    monkeypatch.setattr(graph_mod, "_local_components", _boom)
    got = _labels(graph_mod.connected_components(vdf, edf))
    assert got == expected


def test_supercritical_seeds_and_vertices_skip_local_paths(spark, monkeypatch):
    """Same guard for pointer jumping (seed side) and PageRank (vertex side)."""
    from phabricator_etl_spark.operators import iterative as it_mod

    # forest: 50 chains of length 4 -> 200 vertices, 150 edges, 50 seeds
    edges = [(100 * c + i, 100 * c + i + 1) for c in range(50) for i in range(3)]
    seeds = [100 * c for c in range(50)]
    sdf = spark.createDataFrame([(s,) for s in seeds], "id long")
    edf = spark.createDataFrame(edges, "src long, dst long")
    want = {r["id"]: r["distance"] for r in it_mod.pointer_jump_distances(sdf, edf).collect()}
    vdf = spark.createDataFrame([(v,) for v in range(60)], "id long")
    pr_edges = spark.createDataFrame([(i, i + 1) for i in range(59)], "src long, dst long")
    # both "want"s come from the (un-monkeypatched) local paths
    want_pr = {r["id"]: r["rank_micro"] for r in it_mod.pagerank(vdf, pr_edges, iterations=3).collect()}

    monkeypatch.setattr(graph_mod, "LOCAL_VERTEX_THRESHOLD", 10)

    def _boom(*a, **k):
        raise AssertionError("local path taken despite supercritical seed/vertex set")

    monkeypatch.setattr(it_mod, "_local_pointer_distances", _boom)
    got = {r["id"]: r["distance"] for r in it_mod.pointer_jump_distances(sdf, edf).collect()}
    assert got == want

    monkeypatch.setattr(it_mod, "_local_pagerank", _boom)
    got_pr = {r["id"]: r["rank_micro"] for r in it_mod.pagerank(vdf, pr_edges, iterations=3).collect()}
    assert got_pr == want_pr


def _py_kcore(edges: list[tuple[int, int]], k: int) -> dict[int, int]:
    """Reference peeling: repeatedly drop nodes with degree < k."""
    from collections import defaultdict

    es = set(edges)
    while True:
        deg = defaultdict(int)
        for a, b in es:
            deg[a] += 1
            deg[b] += 1
        bad = {n for n, d in deg.items() if d < k}
        if not bad:
            return dict(deg)
        es = {(a, b) for a, b in es if a not in bad and b not in bad}


# Reads the sf0.001 parquet fixtures, which CI does not have.
@pytest.mark.skipif(not os.path.isdir(SF_SMOKE_DIR), reason=f"{SF_SMOKE_DIR} missing")
def test_kcore_matches_python_oracle_on_fixture_graph(spark, sf_smoke):
    from phabricator_etl_spark.operators.iterative import KCORE_K, graph_kcore
    from phabricator_etl_spark.operators.triangles import _canonical_edges

    edges = [(r["a"], r["b"]) for r in _canonical_edges(spark, sf_smoke).collect()]
    expect = _py_kcore(edges, KCORE_K)
    got = {r["node"]: r["core_degree"] for r in graph_kcore(spark, sf_smoke).collect()}
    assert got == expect
    assert got, "2-core should be non-empty on the residue graph"


def test_kcore_adversarial_shapes(spark):
    from phabricator_etl_spark.operators.iterative import kcore_subgraph

    # K4 (a 3-core) + a pendant chain hanging off it + a disjoint triangle
    # (2-core only): the 3-core must be exactly the K4.
    k4 = [(0, 1), (0, 2), (0, 3), (1, 2), (1, 3), (2, 3)]
    chain = [(3, 10), (10, 11)]
    tri = [(20, 21), (20, 22), (21, 22)]
    edf = spark.createDataFrame(k4 + chain + tri, "a long, b long")
    got = {r["node"]: r["core_degree"] for r in kcore_subgraph(edf, 3).collect()}
    assert got == {0: 3, 1: 3, 2: 3, 3: 3}


def test_kcore_shuffle_hash_arm_matches_python_oracle(spark, monkeypatch):
    """The broadcast and shuffle_hash arms of kcore_subgraph are structurally
    different plans (one-pass outer-join + explode vs two semi-joins + union).
    Every oracle test runs under the 16M-row broadcast cap, so the
    shuffle_hash arm would otherwise go oracle-unchecked (r9 advisor): force
    it by zeroing the cap and re-run the adversarial-shape and deep-peel
    fixtures against the Python peeling oracle."""
    from phabricator_etl_spark.operators import iterative
    from phabricator_etl_spark.operators.iterative import kcore_subgraph

    monkeypatch.setattr(iterative, "_KCORE_BROADCAST_BAD_ROWS", 0)

    # K4 + pendant chain + disjoint triangle: 3-core must be exactly the K4
    k4 = [(0, 1), (0, 2), (0, 3), (1, 2), (1, 3), (2, 3)]
    edges = k4 + [(3, 10), (10, 11)] + [(20, 21), (20, 22), (21, 22)]
    edf = spark.createDataFrame(edges, "a long, b long")
    got = {r["node"]: r["core_degree"] for r in kcore_subgraph(edf, 3).collect()}
    assert iterative.STAGE_TIMES["round1_bcast"] == 0  # the shuffle_hash arm ran
    assert got == _py_kcore(edges, 3) == {0: 3, 1: 3, 2: 3, 3: 3}

    # deep peel (one vertex per round): endpoints of every chain edge die in
    # different rounds — the decrement-correctness shape, now on this arm
    chain = [(i, i + 1) for i in range(10, 30)]
    deep = [(0, 1), (1, 2), (0, 2), (2, 10)] + chain
    ddf = spark.createDataFrame(deep, "a long, b long")
    got_deep = {r["node"]: r["core_degree"] for r in kcore_subgraph(ddf, 2).collect()}
    assert got_deep == _py_kcore(deep, 2) == {0: 2, 1: 2, 2: 2}


def test_kcore_deep_peel_decrements_exactly(spark):
    """A long pendant chain peels ONE vertex per round — ~20 rounds of the
    decremental-degree formulation (r8: degrees aggregated once, then
    per-round broadcast-semi-join decrements), checked against the Python
    peeling oracle for both an empty and a non-empty fixpoint. Every edge
    of the chain has its endpoints die in DIFFERENT rounds, and the
    triangle attachment point loses its pendant edge late — exactly the
    shapes that would expose a double- or missed-decrement."""
    from phabricator_etl_spark.operators.iterative import (
        ROUNDS,
        kcore_subgraph,
    )

    # triangle + 20-vertex pendant chain: 2-core = the triangle, reached by
    # peeling the chain one endpoint per round (~20 rounds, >2 compactions)
    chain = [(i, i + 1) for i in range(10, 30)]
    tri = [(0, 1), (1, 2), (0, 2)] + [(2, 10)]
    edges = tri + chain
    edf = spark.createDataFrame(edges, "a long, b long")
    got = {r["node"]: r["core_degree"] for r in kcore_subgraph(edf, 2).collect()}
    assert got == _py_kcore(edges, 2) == {0: 2, 1: 2, 2: 2}
    assert ROUNDS["kcore"] > 16, "deep peel expected"

    # bare path: 2-core EMPTY, again via a deep one-vertex-per-round cascade
    path = [(i, i + 1) for i in range(25)]
    pdf = spark.createDataFrame(path, "a long, b long")
    assert kcore_subgraph(pdf, 2).count() == 0 and not _py_kcore(path, 2)


def test_kcore_oracle_sql_matches_engine_on_empty_and_nonempty_cores(spark):
    """The recursive-CTE oracle must agree with the Spark peel even when the
    k-core is EMPTY: DuckDB halts the recursion at the first empty round, so
    without the final extra peel step MAX(round) would slice the round
    BEFORE the collapse (a path graph's 2-core: [(1,1),(2,2),(3,1)] instead
    of the correct empty set)."""
    import duckdb

    from phabricator_etl_spark.operators.iterative import _kcore_recursive_sql, kcore_subgraph

    cases = [
        # path 1-2-3: 2-core is EMPTY (one peel round removes everything)
        ([(1, 2), (2, 3)], 2),
        # triangle + pendant: 2-core is the triangle (non-empty fixpoint)
        ([(1, 2), (2, 3), (1, 3), (3, 4)], 2),
        # triangle + 2-hop pendant chain: node 5 peels (deg 1), then node 4
        # — a real multi-round cascade down to the NON-empty triangle
        # fixpoint, exercising the MAX(round)-slice + identity-final-peel
        # branch of the oracle
        ([(1, 2), (2, 3), (1, 3), (3, 4), (4, 5)], 2),
        # every node already >= 2: zero peel rounds, final peel is identity
        ([(1, 2), (2, 3), (1, 3), (3, 4), (4, 5), (3, 5)], 2),
    ]
    for edges, k in cases:
        values = ", ".join(f"({a}, {b})" for a, b in edges)
        base = f"SELECT CAST(a AS BIGINT) AS a, CAST(b AS BIGINT) AS b FROM (VALUES {values}) t(a, b)"
        oracle = duckdb.sql(_kcore_recursive_sql(base, k)).fetchall()
        edf = spark.createDataFrame(edges, "a long, b long")
        got = sorted((r["node"], r["core_degree"]) for r in kcore_subgraph(edf, k).collect())
        assert got == sorted(oracle), (edges, k)
