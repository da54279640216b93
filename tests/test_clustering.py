"""Semantic invariants for the float-valued iterative operators (k-means,
PageRank) that cross-engine hashing can't check."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from phabricator_etl_spark.operators.clustering import (
    K_CELLS,
    _vectors,
    assign_cells,
    kmeans_fit,
)
from phabricator_etl_spark.operators.iterative import graph_pagerank, pagerank


@pytest.fixture(scope="module")
def vectors(spark, sf_smoke):
    return _vectors(spark, sf_smoke).localCheckpoint(eager=True)


def test_kmeans_sse_monotone(spark, vectors):
    """Lloyd's must never increase total SSE iteration over iteration."""
    sses = []
    for iters in (1, 2, 4):
        cents = kmeans_fit(vectors, iterations=iters)
        sse = assign_cells(vectors, cents).agg(F.sum("d")).collect()[0][0]
        sses.append(sse)
    assert sses[0] >= sses[1] >= sses[2], f"SSE must be non-increasing: {sses}"


def test_kmeans_assignment_is_argmin(spark, vectors):
    cents = kmeans_fit(vectors, iterations=2)
    assigned = assign_cells(vectors, cents)
    # recompute distance to EVERY centroid; the assigned one must be minimal
    all_d = (
        vectors.crossJoin(F.broadcast(cents))
        .withColumn(
            "d2",
            F.aggregate(
                F.zip_with(F.col("vec"), F.col("centroid"), lambda x, y: (x - y) * (x - y)),
                F.lit(0.0),
                lambda s, v: s + v,
            ),
        )
        .groupBy("vec_id")
        .agg(F.min("d2").alias("best"))
    )
    joined = assigned.join(all_d, "vec_id")
    bad = joined.filter(F.col("d") > F.col("best") + 1e-9).count()
    assert bad == 0, f"{bad} vectors assigned to a non-nearest cell"


def test_kmeans_all_cells_populated(spark, vectors):
    cents = kmeans_fit(vectors)
    n = assign_cells(vectors, cents).select("cell").distinct().count()
    assert n == K_CELLS


def test_pagerank_mass_conservation(spark, sf_smoke):
    """Integer micro-unit ranks: mass == |V| * PR_MICRO up to the floor
    losses (< 1 micro-unit per edge/vertex per iteration — see PR_MICRO
    note in operators/iterative.py)."""
    from phabricator_etl_spark.operators.iterative import PR_MICRO, PR_QUERY_ITERATIONS

    pr = graph_pagerank(spark, sf_smoke)
    n = pr.count()
    total = pr.agg(F.sum("rank_micro")).collect()[0][0]
    drift = n * PR_MICRO - total
    assert 0 <= drift < 40 * n * PR_QUERY_ITERATIONS, f"mass drift {drift} out of bounds"
    assert pr.filter(F.col("rank_micro") <= 0).count() == 0


def test_pagerank_star_graph(spark):
    """Closed-form sanity: in a star (all -> hub), the hub's rank dominates."""
    v = spark.range(10).select(F.col("id"))
    e = spark.range(1, 10).select(F.col("id").alias("src"), F.lit(0).alias("dst"))
    pr = pagerank(v, e, iterations=20).collect()
    ranks = {r.id: r.rank_micro for r in pr}
    assert ranks[0] == max(ranks.values())
    spokes = [ranks[i] for i in range(1, 10)]
    assert max(spokes) == min(spokes), "spokes must have identical integer rank"


def test_kmeans_local_and_distributed_paths_agree(spark, vectors, monkeypatch):
    """Same assignments from the numpy driver path and the DataFrame loop
    (float ulp differences can only flip exactly-equidistant points, absent
    in continuous synthetic data)."""
    from phabricator_etl_spark.operators import clustering

    local = kmeans_fit(vectors, iterations=2)
    monkeypatch.setattr(clustering, "KMEANS_LOCAL_ROWS", 0)
    dist = kmeans_fit(vectors, iterations=2)

    def cells(cents):
        return {r["vec_id"]: r["cell"] for r in assign_cells(vectors, cents).collect()}

    assert cells(local) == cells(dist)


def test_pagerank_local_and_distributed_paths_agree(spark, monkeypatch):
    """Numpy driver path vs DataFrame loop: with integer micro-unit ranks
    the two paths must agree EXACTLY (no float tolerance — summation order
    cannot matter for int64 adds)."""
    import random

    from phabricator_etl_spark.operators import graph

    rng = random.Random(13)
    v = spark.createDataFrame([(i,) for i in range(200)], "id long")
    e = spark.createDataFrame(
        [(rng.randrange(200), rng.randrange(200)) for _ in range(600)], "src long, dst long"
    )
    local = {r.id: r.rank_micro for r in pagerank(v, e, iterations=8).collect()}
    monkeypatch.setattr(graph, "LOCAL_EDGE_THRESHOLD", 0)
    dist = {r.id: r.rank_micro for r in pagerank(v, e, iterations=8).collect()}
    assert local == dist


def test_ann_lsh_recall_vs_bruteforce(spark, sf_smoke):
    """The multi-table sign-sketch LSH must recover a substantial share of
    the true top-k neighbors (recall >= 0.5 on the smoke corpus; measured
    0.64 at the 5-bit x 12-table operating point, vs 0.04 for the naive
    single 8-bit table) while scoring only a fraction of the pairs brute
    force does. Uses the exact results of both gated queries, so this
    doubles as a semantic sanity check between the two implementations."""
    from phabricator_etl_spark.operators.similarity import (
        ann_lsh_bucket,
        ann_topk_bruteforce,
    )

    truth = {
        (r["query_id"], r["cand_id"])
        for r in ann_topk_bruteforce(spark, sf_smoke).collect()
    }
    approx = {
        (r["query_id"], r["cand_id"]) for r in ann_lsh_bucket(spark, sf_smoke).collect()
    }
    assert truth, "brute-force top-k returned nothing"
    recall = len(truth & approx) / len(truth)
    assert recall >= 0.5, f"LSH recall {recall:.2f} too low vs brute force"


def test_ann_lsh_multiprobe_recall(spark, sf_smoke):
    """Multiprobe (Hamming-1 neighbor buckets) must lift recall well above
    the exact-bucket operating point at only ~2x candidate cost: measured
    1.0 vs 0.64 (sf0.001) and 1.0 vs 0.70 (sf0.01). Floor set at 0.85 —
    the design target from VERDICT r4 #5 — and multiprobe recall must never
    drop below the exact-bucket baseline (its probes are a superset)."""
    from phabricator_etl_spark.operators.similarity import (
        ann_lsh_bucket,
        ann_lsh_multiprobe,
        ann_topk_bruteforce,
    )

    truth = {
        (r["query_id"], r["cand_id"])
        for r in ann_topk_bruteforce(spark, sf_smoke).collect()
    }
    bucket = {
        (r["query_id"], r["cand_id"]) for r in ann_lsh_bucket(spark, sf_smoke).collect()
    }
    multi = {
        (r["query_id"], r["cand_id"])
        for r in ann_lsh_multiprobe(spark, sf_smoke).collect()
    }
    assert truth
    r_bucket = len(truth & bucket) / len(truth)
    r_multi = len(truth & multi) / len(truth)
    assert r_multi >= 0.85, f"multiprobe recall {r_multi:.2f} below design floor"
    assert r_multi >= r_bucket, f"multiprobe {r_multi:.2f} < exact-bucket {r_bucket:.2f}"


def test_cosine_dedup_no_false_positives_on_dupfree_corpus(spark, sf_smoke):
    """The driver's embeddings contain NO true cos>=0.95 pairs (max observed
    pairwise cosine ~0.6), so the production cosine dedup must return EXACTLY
    zero pairs on them — the zero-false-positive half of the contract (the
    exact integer verify step guarantees found <= truth; here truth is empty).
    Recall on data WITH duplication is proven by
    test_neardup_strict_recall_on_injected_dups below."""
    import numpy as np

    from phabricator_etl_spark.operators.dedup import (
        COSINE_SCALE,
        COSINE_STRICT_X1E8,
        dedup_embedding_cosine,
    )
    from phabricator_etl_spark.sources.catalog import load_table

    pdf = load_table(spark, sf_smoke, "embeddings").select("vec_id", "embedding").toPandas()
    Q = np.round(np.vstack(pdf["embedding"].to_numpy()).astype(np.float64) * COSINE_SCALE)
    D = Q @ Q.T
    iu = np.triu_indices(len(pdf), k=1)
    assert not (D[iu] >= COSINE_STRICT_X1E8).any(), (
        "driver corpus unexpectedly contains true near-dups — this test's "
        "premise (and the gate row's empty result) no longer holds"
    )
    found = dedup_embedding_cosine(spark, sf_smoke).collect()
    assert found == [], f"false positives on a dup-free corpus: {found[:5]}"


def test_neardup_strict_recall_on_injected_dups(spark, tmp_path):
    """dedup_embedding_cosine (16-bit bands + occupancy cap + cos>=0.95;
    imported here via its round-5 alias dedup_embedding_neardup)
    must recover most INJECTED true near-duplicates on a generated corpus
    (the driver's embeddings contain no cos>=0.95 pairs at all — max
    observed pairwise cosine is ~0.6 — so this operator needs data with
    real duplication to prove recall). Truth is the exhaustive quantized
    all-pairs check; the detected set must also be exact (subset of truth:
    candidates are verified by exact integer dot product)."""
    import importlib.util
    import os

    import numpy as np

    from phabricator_etl_spark.operators.dedup import (
        COSINE_SCALE,
        COSINE_STRICT_X1E8,
        dedup_embedding_neardup,
    )

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    spec = importlib.util.spec_from_file_location(
        "gen_scale_data", os.path.join(repo, "tools", "gen_scale_data.py")
    )
    gen = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(gen)
    out = str(tmp_path / "neardup")
    gen.generate(0.04, out, skew=False)  # 2000 vectors, ~40 injected dups

    pdf = spark.read.parquet(f"{out}/embeddings.parquet").select("vec_id", "embedding").toPandas()
    Q = np.round(np.vstack(pdf["embedding"].to_numpy()).astype(np.float64) * COSINE_SCALE)
    ids = pdf["vec_id"].to_numpy()
    D = Q @ Q.T
    iu = np.triu_indices(len(ids), k=1)
    mask = D[iu] >= COSINE_STRICT_X1E8
    truth = {
        (min(int(ids[i]), int(ids[j])), max(int(ids[i]), int(ids[j])))
        for i, j in zip(iu[0][mask], iu[1][mask])
    }
    found = {(r["a"], r["b"]) for r in dedup_embedding_neardup(spark, out).collect()}
    assert found <= truth, "detected pairs must be a subset of true pairs"
    assert len(truth) >= 10, f"fixture produced too few true near-dups ({len(truth)})"
    recall = len(found) / len(truth)
    assert recall >= 0.5, f"strict near-dup recall {recall:.2f} below floor"


def test_injected_cosine_gate_sibling_full_recall(spark, sf_smoke):
    """dedup_embedding_cosine_injected (the non-empty gate-hash sibling,
    r6 verdict #6) must surface EXACTLY one survivor pair per injected
    clone: the perturbation is sign-preserving, so each (source, clone)
    pair shares all four sign buckets and must pass the exact integer
    verify; the base corpus contributes nothing (dup-free premise pinned
    by test_cosine_dedup_no_false_positives_on_dupfree_corpus)."""
    from phabricator_etl_spark.operators.dedup import (
        COS_INJECT_MOD,
        COS_INJECT_OFFSET,
        COSINE_STRICT_X1E8,
        dedup_embedding_cosine_injected,
    )
    from phabricator_etl_spark.sources.catalog import load_table

    src_ids = {
        r["vec_id"]
        for r in load_table(spark, sf_smoke, "embeddings")
        .filter(F.col("vec_id") % COS_INJECT_MOD == 0)
        .select("vec_id")
        .collect()
    }
    rows = dedup_embedding_cosine_injected(spark, sf_smoke).collect()
    got = {(r["a"], r["b"]) for r in rows}
    want = {(v, v + COS_INJECT_OFFSET) for v in src_ids}
    assert got == want, f"expected exactly the injected pairs; diff={got ^ want}"
    assert all(r["dot_q"] >= COSINE_STRICT_X1E8 for r in rows)


def test_minhash_lsh_recall_vs_exact_jaccard(spark, sf_smoke):
    """MinHash banding (4 bands x 2 rows) must recover nearly all true
    jaccard >= 0.5 pairs (band collision prob 1-(1-j^2)^4 = 0.68 per the
    standard S-curve at j=0.5, higher for the near-identical pairs synthetic
    dup corpora actually contain; measured 1.0 at sf0.01)."""
    from phabricator_etl_spark.operators.dedup import (
        dedup_minhash_lsh,
        dedup_ngram_jaccard,
    )

    exact = {
        (r["a"], r["b"])
        for r in dedup_ngram_jaccard(spark, sf_smoke).collect()
        if r["jaccard_x1000"] >= 500
    }
    mh = {(r["a"], r["b"]) for r in dedup_minhash_lsh(spark, sf_smoke).collect()}
    if not exact:
        return  # smoke corpus may hold no high-jaccard pairs; sf0.01 does
    recall = len(exact & mh) / len(exact)
    assert recall >= 0.8, f"MinHash recall {recall:.2f} vs exact jaccard>=0.5"


def test_incremental_minhash_protocol_invariants(spark):
    """Incremental near-dup probe: status logic is a pure function of the
    match counts; only batch docs appear; every batch doc appears exactly
    once; and a store near-dup implies an actual >=50% signature agreement
    with some store doc (spot-checked through the signature table)."""
    from phabricator_etl_spark.operators.dedup import (
        INCR_STORE_CUT,
        INCR_STORE_MOD,
        NUM_MINHASHES,
        _minhash_sig,
        dedup_incremental_minhash,
    )

    sf = "/root/testdata/sf0.01"
    rows = dedup_incremental_minhash(spark, sf).collect()
    ids = [r["doc_id"] for r in rows]
    assert len(ids) == len(set(ids)), "one row per batch doc"
    assert all(i % INCR_STORE_MOD >= INCR_STORE_CUT for i in ids), "batch docs only"
    for r in rows:
        if r["n_store_matches"] > 0:
            assert r["status"] == "neardup_of_store"
        elif r["n_batch_prior"] > 0:
            assert r["status"] == "neardup_in_batch"
        else:
            assert r["status"] == "new"
    flagged = [r["doc_id"] for r in rows if r["status"] == "neardup_of_store"]
    assert flagged, "sf0.01 corpus must contain store near-dups (seeded dups)"
    # verify one flagged doc genuinely agrees with a store doc on >= half
    # the minhashes (the claim behind the status)
    sig = {r["doc_id"]: [r[f"mh{i}"] for i in range(NUM_MINHASHES)]
           for r in _minhash_sig(spark, sf).collect()}
    probe = flagged[0]
    best = max(
        sum(a == b for a, b in zip(sig[probe], s))
        for d, s in sig.items()
        if d % INCR_STORE_MOD < INCR_STORE_CUT
    )
    assert best * 2 >= NUM_MINHASHES


def test_semantic_dedup_cross_engine_on_injected_dups(spark, tmp_path):
    """dedup_semantic_kmeans on a corpus with PLANTED near-duplicates:
    (a) Spark output must match the DuckDB oracle EXACTLY on this second,
    duplication-bearing corpus (the sf gate corpus is spread — only ~2
    drops fire there), and (b) the selection rule must actually fire:
    planted dups are near-identical vectors, so they land in the same cell
    and the same sign buckets, and the less-central member must drop."""
    import importlib.util
    import os

    import duckdb

    from phabricator_etl_spark.operators.clustering import (
        _semantic_oracle,
        dedup_semantic_kmeans,
    )

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    spec = importlib.util.spec_from_file_location(
        "gen_scale_data", os.path.join(repo, "tools", "gen_scale_data.py")
    )
    gen = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(gen)
    out = str(tmp_path / "semdedup")
    gen.generate(0.04, out, skew=False)  # 2000 vectors, ~40 injected dups

    spdf = dedup_semantic_kmeans(spark, out).toPandas()
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW embeddings AS SELECT * FROM '{out}/embeddings.parquet'"
    )
    orc = con.sql(_semantic_oracle()).df()

    def key(pdf):
        cols = sorted(pdf.columns)
        return sorted(tuple(int(v) for v in t) for t in pdf[cols].itertuples(index=False, name=None))

    assert key(spdf) == key(orc), "Spark and DuckDB disagree on the injected-dup corpus"
    n_dropped = int((spdf["kept"] == 0).sum())
    assert n_dropped >= 10, f"planted near-dups must trigger drops (got {n_dropped})"
    # exactly-one-survivor sanity: more survivors than drops (dups are pairs)
    assert int((spdf["kept"] == 1).sum()) > n_dropped
