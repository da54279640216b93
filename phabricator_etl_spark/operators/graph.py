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

At 100 TB: the edge list shuffles on its join key each iteration (a
localCheckpoint keeps no hash partitioning on Spark 4.1, so pre-partitioning
the checkpointed edges saves nothing). Skewed hub vertices are handled by AQE
skew-join splitting.
"""

from __future__ import annotations

from typing import NamedTuple

from pyspark.sql import DataFrame, Observation
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

    ``epd``/``vpd``: the pandas edge and vertex frames of the caller's
    ``probe_graph``, which doubles as the transfer: the local path is one
    collect. In the gate-size first load that collect runs 4 Spark jobs:
    the edge and vertex pipelines' query stages run inside it, and no cache
    is filled (see GRAPH_JOB_BUDGET in tests/test_etl_job_budget.py).
    Arrow both ways.
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


class GraphProbe(NamedTuple):
    """What ``probe_graph`` learned. ``edges`` (src, dst) and ``vertices``
    (id) hold every row of their side, or are None when the probe was
    truncated; ``local`` says both sides are within their cutovers."""

    edges: object
    vertices: object
    local: bool


def graph_rows(vertices: DataFrame, edges: DataFrame) -> DataFrame:
    """A graph as ONE frame of (tag, a, b) rows: a vertex row (tag 0) per
    ``id``, with a = b = id, and an edge row (tag 1) per non-null edge, with
    a = ``src`` and b = ``dst`` cast to the vertex id type.

    It is what ``probe_graph`` collects and what the distributed paths lay
    out after a probe that is not local: both sides' pipelines run in one
    query and share its exchanges. A vertex row carries its id twice, so no
    column holds a NULL: a nullable long would arrive as float64 + NaN in
    pandas and poison the id comparisons, which is also why null edge
    endpoints are dropped Spark-side.
    """
    id_type = vertices.schema["id"].dataType
    v = vertices.select(F.lit(0).alias("tag"), F.col("id").alias("a"), F.col("id").alias("b"))
    e = edges.select(
        F.lit(1).alias("tag"), F.col("src").cast(id_type).alias("a"), F.col("dst").cast(id_type).alias("b")
    ).filter(F.col("a").isNotNull() & F.col("b").isNotNull())
    return v.unionByName(e)


def probe_graph(vertices: DataFrame, edges: DataFrame) -> GraphProbe:
    """One size probe for both sides of a graph: the cutover of every
    driver-side graph path (connected components, pointer jumping,
    PageRank).

    The graph's rows (``graph_rows``) go through ONE ``collect_if_small``
    with limit LOCAL_EDGE_THRESHOLD + LOCAL_VERTEX_THRESHOLD. An untruncated
    result holds every row, so each side is checked against its own cutover
    exactly; a truncated one means at least one side is over its cutover,
    which is the same decision as probing the sides one by one. Either way
    a probe that is not local falls through to the caller's distributed
    path.
    """
    pdf = collect_if_small(graph_rows(vertices, edges), LOCAL_EDGE_THRESHOLD + LOCAL_VERTEX_THRESHOLD)
    if pdf is None:
        return GraphProbe(None, None, False)
    is_edge = pdf["tag"] == 1
    epd = pdf.loc[is_edge, ["a", "b"]].rename(columns={"a": "src", "b": "dst"})
    vpd = pdf.loc[~is_edge, ["a"]].rename(columns={"a": "id"})
    return GraphProbe(epd, vpd, len(epd) <= LOCAL_EDGE_THRESHOLD and len(vpd) <= LOCAL_VERTEX_THRESHOLD)


def connected_components(
    vertices: DataFrame,
    edges: DataFrame,
    *,
    max_iterations: int = 50,
) -> DataFrame:
    """Compute undirected connected components.

    Parameters
    ----------
    vertices: DataFrame with a column ``id`` (any orderable/comparable
        type); other columns are ignored.
    edges: DataFrame with columns ``src``, ``dst`` (same type as ``id``).
        Treated as undirected; self-loops and duplicates are fine.
        Graphs within LOCAL_EDGE_THRESHOLD edges and LOCAL_VERTEX_THRESHOLD
        vertices are solved with a driver union-find (``_local_components``).

    Returns DataFrame(id, component) where ``component`` is the min vertex id
    of the component.
    """
    probe = probe_graph(vertices, edges)
    if probe.local:
        return _local_components(vertices, probe.edges, probe.vertices)
    # Symmetrize once: each undirected edge appears in both directions, so
    # one equi-join per iteration covers both traversal directions (the
    # reference's `or_(src IN frontier, dst IN frontier)`, stats.py:327-331).
    # Duplicates and self-loops are NOT removed — min-propagation is
    # idempotent over them, and the dropDuplicates shuffle costs more than
    # the marginal groupBy work they add.
    #
    # Both states are read from ONE cache of the graph's rows, which the
    # first labels checkpoint fills: after the probe, the input pipelines
    # run once more, in one query that shares their exchanges, and the
    # label and edge checkpoints carry the cache's measured size, so the
    # rounds plan broadcasts where they fit. Neither state is pre-
    # partitioned: a localCheckpoint does not keep its plan's hash
    # partitioning (Spark 4.1), so each round's join exchanges both sides
    # whatever layout they were written in. MEMORY_AND_DISK (the default)
    # spills rather than OOMs at scale — the GraphX pattern.
    rows = graph_rows(vertices, edges).persist()
    # Rolling checkpoint: each round's labels checkpoint makes the previous
    # round's blocks garbage; the chain frees them (15M-row blocks per round
    # at sf10 — leaving them measured as 52 s -> 161 s GC degradation).
    chain = CheckpointChain()
    labels = chain.step(
        rows.filter(F.col("tag") == 0).select(
            F.col("a").alias("id"), F.col("a").alias("component"), F.lit(1).alias("vertex")
        )
    )
    e = rows.filter(F.col("tag") == 1)
    # The rows hold no NULL endpoint; the not-null filter is restated so
    # the checkpoint's constraints carry it. Without it each round infers
    # it once per reference to the hop (the ptr self-join infers more), and
    # the two scans of sym no longer share one exchange.
    sym = (
        e.select("a", "b")
        .unionByName(e.select(F.col("b").alias("a"), F.col("a").alias("b")))
        .filter(F.col("a").isNotNull() & F.col("b").isNotNull())
        .localCheckpoint(eager=True)
    )
    rows.unpersist()

    # Convergence: labels are elementwise NON-INCREASING (every update takes
    # a min), so the fixpoint is the first round in which no label moved.
    # The hop aggregate carries each vertex's previous label (``old``) beside
    # its new one, and the labels checkpoint observes whether any label
    # dropped, an id without a previous label counting as moved. The flag
    # arrives with the checkpoint's own job: the test costs no job, whatever
    # the id type.
    #
    # An edge endpoint that is not a vertex gets a label too, so it bridges
    # components as the local union-find merges through it; its ``vertex``
    # flag (max of 1 on the vertex's own label rows, 0 on candidates) stays
    # 0, and the returned labels keep only the vertices, as the local path.
    from .iterative import ROUNDS  # round-count instrumentation (see there)

    for rnd in range(max_iterations):
        ROUNDS["connected_components"] = rnd + 1
        # Candidate labels flowing across edges (neighbor's current label),
        # folded into one groupBy with the vertex's own label — the union
        # replaces a separate left-join-back, saving a shuffle per round.
        hop = (
            sym.join(labels, sym.b == labels.id)
            .select(
                F.col("a").alias("id"),
                F.col("component").alias("cand"),
                F.lit(None).alias("old"),
                F.lit(0).alias("vertex"),
            )
            .unionByName(
                labels.select("id", F.col("component").alias("cand"), F.col("component").alias("old"), "vertex")
            )
            .groupBy("id")
            .agg(F.min("cand").alias("component"), F.max("old").alias("old"), F.max("vertex").alias("vertex"))
        )
        # Pointer doubling (path compression): component <- label(component).
        # The neighbor-min hop alone needs O(diameter) rounds; composing it
        # with one pointer jump per round collapses chains geometrically,
        # so rounds ~ O(log diameter) — the large-star/small-star insight.
        ptr = hop.select(F.col("id").alias("p_id"), F.col("component").alias("p_comp"))
        moved = Observation()
        labels = chain.step(
            hop.join(ptr, hop.component == ptr.p_id, "left")
            .select(
                "id",
                F.least(F.col("component"), F.coalesce(F.col("p_comp"), F.col("component"))).alias("component"),
                "old",
                "vertex",
            )
            .observe(moved, F.max(F.coalesce(F.col("component") < F.col("old"), F.lit(True))).alias("moved"))
            .select("id", "component", "vertex")
        )
        if not moved.get["moved"]:
            break

    # the symmetrized edges die with the loop. The vertices' labels are the
    # chain's last state, a lazy checkpoint the first query reading them
    # fills from the final labels checkpoint, so the filter adds no job;
    # both stay live — the chain never frees its last two states
    free(sym)
    return chain.step(labels.filter(F.col("vertex") == 1).select("id", "component"), eager=False)
