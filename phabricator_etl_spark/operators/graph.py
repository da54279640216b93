"""Connected components over DataFrames — the engine behind ``stack_size``.

Reference semantics (stats.py:310-357): per-revision BFS over `edge` rows of
type DEPENDS_ON(5)/DEPENDED_ON(6), traversed in BOTH directions, where a
reached node joins the component only if it is a revision whose bug id equals
the seed's (stats.py:342-351); no-bug revisions get stack_size=1
(stats.py:317-319). Because membership is constrained to same-bug revisions on
both endpoints, the per-seed closures coincide with global connected
components within each bug id (SURVEY.md §4.3) — so one global pass replaces
the reference's O(revisions x edges) re-scans.

Algorithm: large-star/small-star-ish label propagation — each vertex holds the
min vertex id reachable so far; iterate `label <- min(label, neighbor labels)`
until fixpoint. Wall-clock is O(diameter) joins; Phabricator dependency stacks
are shallow (single-digit), so a handful of iterations suffice. Each iteration
localCheckpoint()s to cut lineage (SURVEY.md §4.2) — without it the plan tree
doubles per iteration and the driver OOMs on plan size long before data size
is a problem.

At 100 TB: the edge list shuffles on src/dst each iteration; pre-partitioning
edges by src (and caching) keeps one side shuffle-free. Skewed hub vertices
are handled by AQE skew-join splitting.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..ckpt import CheckpointChain, free


# Cutover between the driver union-find and the distributed fixpoint, in
# edges. Cost model: the local path pays one collect (~16 bytes/edge over
# the wire) + O(E α(E)) driver work (~0.5 µs/edge) — ~0.3 s at this
# threshold, bounded ~8 MB of driver memory. The distributed path pays
# O(log diameter) rounds of 2 shuffles + a barrier each — seconds of
# scheduling REGARDLESS of size. Crossover is far above this value; 256 Ki
# edges keeps the driver-memory bound conservative (same reasoning as the
# session's 64 MB autoBroadcastJoinThreshold). Graphs over the threshold —
# the 100 TB case — take the distributed fixpoint; both paths are asserted
# equal in tests/test_graph_paths.py.
LOCAL_EDGE_THRESHOLD = 262_144

# The vertex side gets its OWN cutover (r6 verdict #2): a selective edge
# filter at 100 TB routinely leaves a subcritical edge set over a corpus of
# 10^9 mostly-isolated vertices, and an unguarded vertices.toPandas() would
# OOM the driver on exactly the graphs the edge probe declares "small".
# A vertex row is one id (~8 B wire / ~100 B as a dict entry), so the
# threshold sits higher than the edge one: 1 Mi ids ≈ 8 MB transfer,
# ~100 MB of driver union-find dict — same conservative envelope. Either
# side supercritical -> the distributed fixpoint.
LOCAL_VERTEX_THRESHOLD = 1_048_576


def _local_components(vertices: DataFrame, epd, vpd) -> DataFrame:
    """Driver-side union-find for subcritical graphs.

    The distributed fixpoint costs O(rounds) scheduled jobs regardless of
    data size; for a graph of a few thousand edges that is pure scheduling
    overhead. This is the graph analog of a broadcast join's size cutover:
    below the threshold, solve on the driver in microseconds and ship the
    result back as a (tiny) local relation. Exact same contract as the
    distributed path (min-id labeling), asserted equal in tests.

    ``epd``/``vpd``: the pandas edge and vertex frames from the caller's
    ``collect_if_small`` probes, which double as the transfer: the local
    path is two collects and never collects an unprobed side. In the
    gate-size first load those two collects run 7 + 1 Spark jobs, because
    the edge probe also runs the edge pipeline's query stages (see
    GRAPH_JOB_BUDGET in tests/test_etl_job_budget.py). Arrow both ways.
    """
    import pandas as pd

    ids = vpd["id"].tolist()
    parent: dict = {v: v for v in ids}

    def find(x):
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:  # path compression
            parent[x], x = root, parent[x]
        return root

    for a, b in zip(epd["src"].tolist(), epd["dst"].tolist()):
        if a is None or b is None:
            continue
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[rb] = ra
    # min id per root = the component label the distributed path produces
    min_of_root: dict = {}
    for v in parent:
        r = find(v)
        if r not in min_of_root or v < min_of_root[r]:
            min_of_root[r] = v
    schema = vertices.select(
        F.col("id"), F.col("id").alias("component")
    ).schema
    out = pd.DataFrame({"id": ids, "component": [min_of_root[find(v)] for v in ids]})
    return vertices.sparkSession.createDataFrame(out, schema)


def collect_if_small(df: DataFrame, limit: int):
    """``df`` as a pandas frame if it has at most ``limit`` rows, else None.

    The size cutover of every iterative operator's driver-side path: a
    LIMIT limit+1 probe through Arrow, so below the cutover the probe IS the
    transfer (one collect, no separate count), and above it the scan stops
    after ~limit rows. The pickle row path costs ~10x more at 10^5 rows and
    would erase the cutover's win.
    """
    pdf = df.limit(limit + 1).toPandas()
    return pdf if len(pdf) <= limit else None


def connected_components(
    vertices: DataFrame,
    edges: DataFrame,
    *,
    max_iterations: int = 50,
) -> DataFrame:
    """Compute undirected connected components.

    Parameters
    ----------
    vertices: DataFrame with one column ``id`` (any orderable/comparable type).
    edges: DataFrame with columns ``src``, ``dst`` (same type as ``id``).
        Treated as undirected; self-loops and duplicates are fine.
        Graphs within LOCAL_EDGE_THRESHOLD edges and LOCAL_VERTEX_THRESHOLD
        vertices are solved with a driver union-find (``_local_components``).

    Returns DataFrame(id, component) where ``component`` is the min vertex id
    of the component.
    """
    # Size the iteration's partitioning to the graph: a fixed 32-partition
    # layout on a small graph means every round pays 32x task overhead.
    # Pre-hash-partition edges by join side and labels by id so each round's
    # equi-join reuses the layout instead of exchanging both sides again.
    # Persist the edge list before the first action: the size probe, the
    # local-path collect, and the symmetrize union (which reads edges TWICE)
    # would otherwise each re-execute the upstream plan — often a multi-join
    # pipeline far more expensive than the edge list itself. MEMORY_AND_DISK
    # (the default) spills rather than OOMs at scale — the GraphX pattern.
    edges = edges.persist()
    # Null endpoints are dropped Spark-side — a nullable long would arrive
    # as float64 + NaN in pandas and poison the id comparisons.
    epd = collect_if_small(
        edges.select("src", "dst").filter(F.col("src").isNotNull() & F.col("dst").isNotNull()),
        LOCAL_EDGE_THRESHOLD,
    )
    if epd is not None:
        # Edge side subcritical — now probe the VERTEX side the same way
        # before shipping it to the driver (r6 verdict #2): a sparse edge
        # set says nothing about vertex count, and the union-find dict is
        # O(|V|) driver memory. Supercritical vertices fall through to the
        # distributed fixpoint below.
        vpd = collect_if_small(vertices.select("id"), LOCAL_VERTEX_THRESHOLD)
        if vpd is not None:
            try:
                return _local_components(vertices, epd, vpd)
            finally:
                edges.unpersist()
    n_edges = edges.count()
    spark = edges.sparkSession
    default_parts = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    parts = max(2, min(default_parts, (2 * n_edges) // 100_000 + 2))

    # Symmetrize once: each undirected edge appears in both directions, so one
    # equi-join per iteration covers both traversal directions (the
    # reference's `or_(src IN frontier, dst IN frontier)`, stats.py:327-331).
    # Duplicates and self-loops are NOT removed — min-propagation is
    # idempotent over them, and the dropDuplicates shuffle costs more than the
    # marginal groupBy work they add. One shuffle (the repartition) + one
    # materialization covers symmetrize + layout.
    sym = (
        edges.select(F.col("src").alias("a"), F.col("dst").alias("b"))
        .unionByName(edges.select(F.col("dst").alias("a"), F.col("src").alias("b")))
        .filter(F.col("a").isNotNull() & F.col("b").isNotNull())
        .repartition(parts, "b")
        .localCheckpoint(eager=True)
    )
    edges.unpersist()

    # Rolling checkpoint: each round's labels checkpoint makes the previous
    # round's blocks garbage; the chain frees them (15M-row blocks per round
    # at sf10 — leaving them measured as 52 s -> 161 s GC degradation).
    chain = CheckpointChain()
    labels = chain.step(
        vertices.select(F.col("id"), F.col("id").alias("component")).repartition(parts, "id")
    )

    # Convergence detection: labels are elementwise NON-INCREASING (every
    # update takes a min), so for numeric ids the global sum(component)
    # strictly decreases iff any label changed — one cheap single-row agg per
    # round instead of a full old-vs-new anti-join. Non-numeric ids fall back
    # to the join-based check.
    numeric_ids = labels.schema["component"].dataType.typeName() in {
        "long", "integer", "short", "byte", "double", "float", "decimal",
    }
    prev_sum = labels.agg(F.sum("component")).collect()[0][0] if numeric_ids else None

    from .iterative import ROUNDS  # round-count instrumentation (see there)

    for rnd in range(max_iterations):
        ROUNDS["connected_components"] = rnd + 1
        # Candidate labels flowing across edges (neighbor's current label),
        # folded into one groupBy with the vertex's own label — the union
        # replaces a separate left-join-back, saving a shuffle per round.
        hop = (
            sym.join(labels, sym.b == labels.id)
            .select(F.col("a").alias("id"), F.col("component").alias("cand"))
            .unionByName(labels.select("id", F.col("component").alias("cand")))
            .groupBy("id")
            .agg(F.min("cand").alias("component"))
        )
        # Pointer doubling (path compression): component <- label(component).
        # The neighbor-min hop alone needs O(diameter) rounds; composing it
        # with one pointer jump per round collapses chains geometrically,
        # so rounds ~ O(log diameter) — the large-star/small-star insight.
        ptr = hop.select(F.col("id").alias("p_id"), F.col("component").alias("p_comp"))
        new_labels = chain.step(
            hop.join(ptr, hop.component == ptr.p_id, "left")
            .select(
                "id",
                F.least(F.col("component"), F.coalesce(F.col("p_comp"), F.col("component"))).alias("component"),
            )
        )
        if numeric_ids:
            cur_sum = new_labels.agg(F.sum("component")).collect()[0][0]
            labels = new_labels
            if cur_sum == prev_sum:
                break
            prev_sum = cur_sum
        else:
            changed = (
                new_labels.alias("n")
                .join(labels.alias("o"), "id")
                .filter(F.col("n.component") != F.col("o.component"))
                .limit(1)
                .count()
            )
            labels = new_labels
            if changed == 0:
                break

    # the edge layout dies with the loop; the final labels checkpoint (the
    # return value) stays live — the chain never frees its last two states
    free(sym)
    return labels
