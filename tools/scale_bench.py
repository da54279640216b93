#!/usr/bin/env python
"""Scale-curve bench: measure the headline operator families across scale
factors and prove (or disprove) the near-linear-growth design claims.

The per-round driver bench runs at sf0.1 (17 MB), where ~60% of each query
is fixed Spark overhead; scale behavior there is design-argued, not
measured (VERDICT r4 "next round" #1). This harness runs a representative
per-family query list at sf0.1 (driver testdata) and sf1/sf3 (generated by
tools/gen_scale_data.py — run it first), then reports per-query times and
the sf1->sf3 growth ratio.

Reading the output: rows scale 10x from sf0.1 to sf1 and 3x from sf1 to
sf3. Fixed overhead dominates small SFs, so the honest linearity signal is
the sf1->sf3 ratio: ~<=3x means the query scales at-or-better-than
linearly in data volume; >>3x flags super-linear work (e.g. candidate-pair
explosion) that needs a documented reason or a fix.

Usage:
  python tools/gen_scale_data.py --sf 1 && python tools/gen_scale_data.py --sf 3
  python tools/scale_bench.py [--sfs 0.1,1,3] [--queries a,b,c]

Writes SCALE_BENCH.json at the repo root and prints a compact table.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

# One representative per headline family (VERDICT r4: dedup_*, ann_*,
# graph, corpus, text, relational). Streaming and the phab fixture world
# are sf-independent, so they are out of scope here.
DEFAULT_QUERIES = [
    # relational baseline
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q18_large_volume_having",
    # dedup family
    "dedup_exact",
    "dedup_ngram_jaccard",
    "dedup_minhash_lsh",
    "dedup_incremental_minhash",
    "dedup_simhash",
    # Round 6 folded the former 0.3-threshold demo into the production
    # pipeline (16-bit bands + occupancy cap + cos>=0.95), so the gate name
    # itself is now measurable at scale; dedup_embedding_neardup became an
    # alias of it and left the registry.
    "dedup_embedding_cosine",
    "dedup_containment",
    # ANN family
    "ann_topk_bruteforce",
    "ann_topk_vectorized",
    "ann_lsh_bucket",
    "ann_lsh_multiprobe",
    "ann_ivf_probe1",
    # graph — representatives with LINEAR edge sets (order chains). NOT
    # graph_triangle_count itself: its fixture edge rule keeps P(edge)=1/23
    # per same-nation pair, so degree grows ~n/23 and triangle work ~n^3 BY
    # CONSTRUCTION (measured: sf1 spilled >79 GB and failed). That is a
    # property of the synthetic graph, not the operator — since r6 the SAME
    # triangle_corner_counts core is measured at scale through
    # graph_triangles_chain (constant-degree fixture) below.
    "a8_connected_components",
    "graph_bfs_distance",
    "graph_triangles_chain",
    # r7: the blocked wedge join (link prediction) on the same constant-
    # degree chain fixture — NOT graph_link_prediction itself, for the same
    # fixture-growth reason as graph_triangle_count above.
    "graph_link_pred_chain",
    # corpus / text
    "corpus_ngram_topk",
    "corpus_tfidf_top_terms",
    "text_token_stats",
    "text_quality_score",
    "basket_frequent_pairs",
    # round-5 widening: one representative per remaining at-scale family
    # (streaming and the phab fixture world stay out of scope: their inputs
    # are fixed-size micro-batch/fixture data, independent of sf).
    "approx_distinct_sketch",
    "approx_quantiles_price",
    "profile_table_orders",
    "search_bm25_topk",
    "search_hybrid_rerank",
    "corpus_heavy_hitters",
    "corpus_pack_sequences",
    "corpus_decontaminate",
    "corpus_pmi_collocations",
    "text_lang_id",
    "text_bigram_lm_score",
    "text_nb_classifier",
    "text_bpe_pretokenize",
    "ts_gapfill_interpolate",
    "ts_rolling_anomaly",
    # NOT graph_pagerank / graph_kcore: their residue-rule customer graph
    # grows |E| ~ n²/37 by fixture construction (like graph_triangle_count's
    # — see the note above); at sf1 they measure the synthetic edge set
    # (86/93 s), not the operators. The two linear-|E| probes below run the
    # SAME pagerank()/kcore_subgraph() code on constant-degree graphs.
    "graph_pagerank_chain",
    "graph_kcore_bipartite",
    "kmeans_cells",
    "ann_ivf_kmeans",
    # runs after kmeans_cells on purpose: like ann_ivf_kmeans it reuses the
    # session fit cache, so its number isolates the SemDeDup stage (the fit
    # cost is kmeans_cells' number — same convention as IVF)
    "dedup_semantic_kmeans",
    # explicit fit-INCLUDED sibling (r6 verdict #1): the cost the warm row
    # above excludes, on the record at every SF instead of only in prose
    "dedup_semantic_kmeans_fit_included",
    "ann_pq_adc",
    "mm_dedup_binary",
    "mm_decode_features",
    "dedup_fuzzy_levenshtein",
    "dedup_cluster_canonical",
    # Arrow-native Python surface (mapInArrow / applyInArrow): single-pass
    # over sf-dependent tables — the scale column certifies the Arrow batch
    # path itself stays linear (no per-row Python, no pandas conversion).
    "arrow_map_batches",
    "arrow_grouped_stats",
]


# Queries whose registry number isolates the APPLY stage of a model that
# ANOTHER query builds (documented layering: kmeans_cells owns the Lloyd
# fit; IVF/SemDeDup reuse it through the session cache). Under
# --fresh-per-query the cache dies with each JVM, so the dep is re-run
# UNTIMED in the fresh session before the timed repeats — otherwise the
# cell silently flips to fit-included and growth ratios compare mixed
# methodologies (the r6 SCALE_BENCH artifact recorded exactly that:
# dedup_semantic_kmeans 14.5x on the 3.33x sf3->sf10 step because sf3 was
# shared-session warm-model and sf10 was fresh-JVM cold-fit).
from phabricator_etl_spark.benchutil import (  # noqa: E402 - shared with bench.py
    WARM_DEPS,
    cache_rollback,
    cache_snapshot,
    model_caches,
)

# Bench-only variant rows: same registry query, measured WITHOUT the dep
# warm-up (and with the fit evicted between repeats), so the fit-included
# cost is itself a first-class, methodology-tagged cell.
FIT_INCLUDED_VARIANTS = {"dedup_semantic_kmeans_fit_included": "dedup_semantic_kmeans"}

# Variant rows measured with spark.local.dir on tmpfs (requires
# SPARK_GRAFT_LOCAL_DIR pointing into /dev/shm BEFORE process start — the
# setting binds at the first SparkContext of a JVM, so these run as a
# separate invocation). They exist because host_shuffle_calibration proved
# this host's DISK-backed shuffle path super-linear in exactly the top-SF
# volume range, and nondeterministically so (r9: the same pure synthetic
# 3x-volume shuffle cost 3.3-6.7x across runs on disk — dirty-page-state
# dependent — vs a stable ~1.9x on tmpfs): the default-disk cells stay
# comparable with the rest of the
# table, and these rows show the same operator's curve with the
# environment's disk cliff removed — the algorithm's own scaling.
LOCALDIR_VARIANTS = {
    "graph_kcore_bipartite_tmpfs_localdir": "graph_kcore_bipartite",
    "graph_bfs_distance_tmpfs_localdir": "graph_bfs_distance",
}
VARIANT_BASE = {**FIT_INCLUDED_VARIANTS, **LOCALDIR_VARIANTS}

# Tag applied to cells inherited from a pre-r7 SCALE_BENCH.json, which
# recorded no per-cell methodology. Ratios are only computed between
# same-tag cells, so legacy cells pair with each other but never with a
# freshly measured one.
LEGACY_TAG = "legacy-r6-untagged"

# In-artifact root-cause notes for ratios a reader would otherwise flag.
# Written into the payload on every run so the artifact is self-contained.
RATIO_NOTES = {
    "corpus_ngram_topk": (
        "~3.1-3.2x on 3x steps is tracking-linear for output that is itself "
        "super-linear: distinct n-gram cardinality grows with corpus size "
        "(Heaps' law). See BASELINE.md round-4/6 notes."
    ),
    "ann_topk_bruteforce": (
        "deliberately the JVM-expression-tree exactness baseline (the "
        "vectorized scale path is ann_topk_vectorized, map-side partial "
        "top-k). Steady state needs min-of-4: the first fresh-JVM repeat "
        "pays JIT/C2 compilation of the HOF-dot codegen WHILE streaming the "
        "corpus, which costs proportionally more at larger SFs (observed "
        "11.9 s first-rep vs 7.1 s steady at sf30); within-session the "
        "stage is linear (2.7x on the 3x sf10->sf30 step)."
    ),
    "kmeans_cells": (
        "fit-included by definition (it OWNS the Lloyd fit other rows "
        "warm-start from); 5 fixed Arrow passes give it a scheduling floor "
        "that dominates small SFs, and sf1->sf3 also crosses the "
        "local->distributed cutover (KMEANS_LOCAL_ROWS)."
    ),
    "dedup_semantic_kmeans": (
        "warm-model row isolating the SemDeDup apply stage (documented "
        "layering); dedup_semantic_kmeans_fit_included records the "
        "cold-fit-inclusive cost at every SF."
    ),
    "graph_kcore_bipartite": (
        "What the cells in THIS file show. Disk pair: sf10->sf30 = 6.44x "
        "(21.61 -> 139.24 s) at constant rounds (rounds[sf]=2) with clean "
        "CPU canaries; tmpfs variant pair (graph_kcore_bipartite_tmpfs_"
        "localdir): 3.93x (17.50 -> 68.80 s). The disk-vs-tmpfs "
        "ratio-of-ratios, 6.44/3.93 = 1.64, matches the zero-operator-code "
        "host_shuffle_calibration arms, 3.26/1.87 = 1.74: the dominant "
        "super-linear share is the HOST's disk-backed spark.local.dir "
        "write-back, invisible to the CPU canary and unstable run-to-run "
        "(the r8 artifact recorded this same disk cell at 98.28 s — git "
        "history; r9 probes saw the synthetic disk calibration itself swing "
        "3.3-6.7x). The residual tmpfs over-linearity localizes in "
        "stage_times: edges_checkpoint is linear (5.40 -> 16.44 = 3.04x); "
        "the two node-shuffle stages carry it (initial_degree 5.56 -> "
        "26.47, round1_degree_update 3.34 -> 15.89, both 4.76x) while "
        "their shuffled volumes are linear by construction (stage_times "
        "n_edges and round1_n_bad both grow 3.0x). Heap pressure is RULED "
        "OUT: an 80g-heap rerun of the sf30 tmpfs cell measured 71.7 s vs "
        "68.8 s at 48g (r9 probe, recorded in BASELINE.md). The remaining "
        "~1.3x at the top step is unattributed single-host behavior "
        "(consistent with memory-bandwidth saturation pushing 3x shuffle "
        "volume through the same 32 cores); the 100TB-relevant properties "
        "— constant rounds, linear shuffle volumes, one edge scan and one "
        "broadcast build per round — are all verifiable above. Broadcast-"
        "arm A/B (r8 brief #2a, r9 probe, recorded in BASELINE.md): "
        "sf30 round-1 update 39 s broadcast vs 92 s shuffle_hash — the "
        "9.9M-row broadcast is the measured-right arm and a routine "
        "~150 MB relation on a real executor. r9 also halved the update's "
        "edge work: one pass + one broadcast build (two left-joins "
        "against the same exchange) replacing two independent semi-joins, "
        "after the decomposition showed the b-side semi-join paying ~19 s "
        "to produce 0 rows."
    ),
    "graph_bfs_distance": (
        "pointer-jump list ranking: rounds[sf] records the fixpoint at a "
        "constant 6 rounds at every SF (chain length = orders per "
        "customer, sf-independent, so log-diameter does not grow). Every "
        "step is at-or-below linear in BOTH arms of this file (disk "
        "sf10->sf30 = 2.13x, tmpfs variant 2.78x) with clean canaries."
    ),
    "graph_kcore_bipartite_tmpfs_localdir": (
        "same operator/fixture as graph_kcore_bipartite, measured with "
        "spark.local.dir on tmpfs (separate invocation; methodology tag "
        "'+tmpfs-localdir', never ratio-paired with disk cells): shows the "
        "operator's own scaling with the host's disk write-back cliff "
        "removed — see host_shuffle_calibration for the cliff measured "
        "with zero operator code."
    ),
    "graph_bfs_distance_tmpfs_localdir": (
        "tmpfs-localdir variant of graph_bfs_distance; see the kcore "
        "variant note and host_shuffle_calibration."
    ),
    "legacy_sf1_cells": (
        "sf1->sf3 ratios above 3x that survive only in legacy-r6-untagged "
        "cells (q1_pricing_summary 4.12x at 0.2->0.9 s absolute, "
        "corpus_heavy_hitters 4.11x, text_bigram_lm_score 3.04x) are "
        "overhead-amortization noise at sub-second/small absolutes, not "
        "plan behavior; the sf3->sf10 and sf10->sf30 steps for the same "
        "queries are at-or-below linear."
    ),
}


# Round counters for the driver-orchestrated fixpoint operators, recorded
# per cell in the artifact (payload["rounds"]): a super-linear time ratio
# whose round count also grew has its root cause on the record (k-core
# peel depth, pointer-jump log-diameter), while a ratio spike at CONSTANT
# rounds points at the host, not the algorithm (r7 verdict #1 could not
# make that distinction from the artifact).
ROUND_COUNTED = {
    "graph_kcore_bipartite": "kcore",
    "graph_bfs_distance": "pointer_jump",
    "a8_connected_components": "connected_components",
}

# Queries whose per-stage wall decomposition (iterative.STAGE_TIMES) is
# serialized into the artifact (payload["stage_times"][sf][query], taken
# from the BEST rep). VERDICT r8 #2 asked for exactly this: an over-linear
# cell at constant rounds must name WHICH materialization barrier grew —
# edge checkpoint, initial degree agg, round-1 peel count, or the
# decremental degree update — in the artifact itself, not in a code comment.
STAGE_TIMED = {"graph_kcore_bipartite", "graph_kcore"}


def sf_dir_for(sf: str) -> str:
    if sf in ("0.001", "0.01", "0.1"):
        return f"/root/testdata/sf{sf}"
    return os.path.join(REPO, "scaledata", f"sf{sf}")


def _shuffle_calib_pair(spark) -> dict:
    """Fixture-independent host-shuffle linearity probe: the SAME synthetic
    repartition+agg at 1x and 3x volume (per-task volume held constant by
    scaling the partition count). If the host itself shuffles super-linearly
    in this range, every large-shuffle query cell inherits that — the pair
    puts the environment's own envelope in the artifact next to the cells
    (r9: the kcore sf10->sf30 over-linearity reproduced with ZERO operator
    code: 6.7x on disk-backed spark.local.dir, 1.94x on tmpfs)."""
    from pyspark.sql import functions as F

    out: dict[str, float] = {}
    for label, n, parts in (("vol_1x", 120_000_000, 40), ("vol_3x", 360_000_000, 120)):
        best = None
        for _ in range(2):
            t0 = time.perf_counter()
            (
                spark.range(n)
                .select((F.hash("id") % 1_000_000_007).alias("k"))
                .repartition(parts, "k")
                .groupBy("k")
                .agg(F.count(F.lit(1)).alias("c"))
                .selectExpr("sum(c)")
                .collect()
            )
            dt = time.perf_counter() - t0
            best = dt if best is None else min(best, dt)
        out[label] = round(best, 2)
    out["ratio_3x"] = round(out["vol_3x"] / out["vol_1x"], 2)
    return out


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sfs", default="0.1,1,3")
    ap.add_argument("--queries", default=None)
    ap.add_argument("--repeat", type=int, default=1)
    ap.add_argument(
        "--calib-only",
        action="store_true",
        help="run ONLY the host-shuffle calibration pair in this process's "
        "spark.local.dir arm (set SPARK_GRAFT_LOCAL_DIR before invoking for "
        "the tmpfs arm) and print the JSON to stdout — used as a subprocess "
        "by the main run, since spark.local.dir is fixed per JVM.",
    )
    ap.add_argument(
        "--skip-calib",
        action="store_true",
        help="skip the host-shuffle calibration (saves ~4 min on partial "
        "re-measures; the artifact keeps the previous calibration block).",
    )
    ap.add_argument(
        "--fresh-per-query",
        action="store_true",
        help="restart the SparkSession before EVERY measurement (not just "
        "per SF). At sf10 volumes a shared JVM accumulates shuffle/broadcast "
        "blocks and GC debt query-over-query, inflating late measurements "
        "by 30-100%%; this trades ~15s spinup per query for isolation.",
    )
    a = ap.parse_args()
    sfs = a.sfs.split(",")
    wanted = a.queries.split(",") if a.queries else DEFAULT_QUERIES

    # sf10 shuffles 60M-row tables through one local[32] JVM: the 8g default
    # heap OOMs (measured: Java heap space in the sf10 column). The box has
    # 128 GiB; give the bench JVM a real heap unless the caller overrides.
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "48g")

    if a.calib_only:
        from phabricator_etl_spark.session import get_spark as _gs

        s = _gs("scale-calib")
        s.sparkContext.setLogLevel("ERROR")
        s.range(50_000_000).selectExpr("sum(id * 3 + (id & 7))").collect()
        print(json.dumps(_shuffle_calib_pair(s)))
        return

    from pyspark.sql import SparkSession

    from phabricator_etl_spark.registry import all_queries
    from phabricator_etl_spark.session import get_spark

    by_name = {q.name: q for q in all_queries()}
    missing = [
        w for w in wanted if VARIANT_BASE.get(w, w) not in by_name
    ]
    assert not missing, f"unknown queries: {missing}"

    meth_tag = (
        f"fresh-jvm-per-{'query' if a.fresh_per_query else 'sf'}-min-of-{a.repeat}"
    )
    if os.environ.get("SPARK_GRAFT_LOCAL_DIR", "").startswith("/dev/shm"):
        # distinct methodology: never ratio-pair a tmpfs cell with a disk one
        meth_tag += "+tmpfs-localdir"
    results: dict[str, dict[str, float]] = {}
    methodology: dict[str, dict[str, str]] = {}
    repeats_rec: dict[str, dict[str, int]] = {}
    canaries: dict[str, dict[str, float]] = {}
    rounds_rec: dict[str, dict[str, int]] = {}
    stage_rec: dict[str, dict[str, dict]] = {}
    # cheapest CPU-probe reading ever seen in this process = the host's
    # uncontended floor; a single-element list so closures can update it
    canary_floor = [float("inf")]
    rows: dict[str, int] = {}
    for sf in sfs:
        d = sf_dir_for(sf)
        if not os.path.exists(d):
            print(f"# skipping sf{sf}: {d} missing (run tools/gen_scale_data.py)", file=sys.stderr)
            continue
        # FRESH session per SF: a shared session accumulates localCheckpoint
        # blocks and GC debt from the previous SF's queries, which measurably
        # inflates later columns (observed: an sf3 column ran ~2x slower
        # when measured after another SF in the same JVM). One JVM per SF
        # makes the columns, and therefore the growth ratios, comparable.
        def fresh_session():
            active = SparkSession.getActiveSession()
            if active is not None:
                active.stop()
            s = get_spark("scale-bench")
            s.sparkContext.setLogLevel("ERROR")
            s.range(1_000_000).selectExpr("sum(id)").collect()
            # pre-fork the Python worker pool so Arrow queries don't pay
            # 32 process spawns inside their timed region
            s.range(3200).repartition(32).mapInPandas(lambda it: it, "id long").count()
            # warm-and-discard ONE canary-shaped probe: the contention
            # canary below is otherwise the first execution of its codegen
            # shape in this JVM, and compile/JIT can push a cold probe past
            # the 1.6x gate on an idle host — a spurious settle loop plus a
            # '+contended-retry' mislabel (r8 advisor)
            s.range(50_000_000).selectExpr("sum(id * 3 + (id & 7))").collect()
            # Warm inputs outside the timed region. count() only reads
            # footers/metadata; hash(*) forces every column page through
            # the OS cache — the cold fat-column read otherwise lands in
            # the first timed repeat (documented in BASELINE.md: first-pass
            # sf30 readings 2-8x hot steady state for text/embedding-heavy
            # queries).
            for t in ["lineitem", "orders", "documents", "embeddings"]:
                s.read.parquet(os.path.join(d, f"{t}.parquet")).selectExpr(
                    "count(hash(*))"
                ).collect()
            return s

        spark = fresh_session()

        # Contention canary (same design bench.py's refine pass uses): the
        # host shows intermittent multi-minute windows where everything
        # runs 2-8x slow (observed repeatedly in r7: the same kcore sf10
        # measurement read 54 s and 112 s on consecutive sweeps, an 18M-row
        # join 1.3 s and 129 s). A ~0.1 s pure-CPU probe after each cell
        # detects a hot window against the cheapest probe ever seen in this
        # process; a hot cell waits the burst out (bounded) and re-measures
        # once. The per-cell canary value is recorded in the artifact.
        def _quick_canary() -> float:
            t0 = time.perf_counter()
            spark.range(50_000_000).selectExpr("sum(id * 3 + (id & 7))").collect()
            return time.perf_counter() - t0

        nonlocal_floor = min(_quick_canary() for _ in range(3))
        canary_floor[0] = min(canary_floor[0], nonlocal_floor)

        res: dict[str, float] = {}
        meth: dict[str, str] = {}
        reps: dict[str, int] = {}
        cnry: dict[str, float] = {}
        for name in wanted:
            if a.fresh_per_query:
                spark = fresh_session()
            base = VARIANT_BASE.get(name, name)
            fit_included = name in FIT_INCLUDED_VARIANTS
            if name in LOCALDIR_VARIANTS and not os.environ.get(
                "SPARK_GRAFT_LOCAL_DIR", ""
            ).startswith("/dev/shm"):
                print(
                    f"# {name}: requires SPARK_GRAFT_LOCAL_DIR on /dev/shm "
                    "set BEFORE process start (per-JVM binding) — skipping",
                    file=sys.stderr,
                )
                continue
            dep = None if fit_included else WARM_DEPS.get(name)
            if dep is not None:
                # untimed: restores the documented model layering in a
                # fresh JVM; ~free in a shared session (cache hit)
                try:
                    by_name[dep].build(spark, d).count()
                except Exception as e:  # noqa: BLE001
                    print(f"# sf{sf} {name}: dep {dep} ERROR {e}", file=sys.stderr)
            if fit_included:
                # a fit-included cell must start COLD: drop every session
                # model (rollback can't evict keys that predate its
                # snapshot); repeats then re-pay the fit via the rollback
                for c in model_caches():
                    c.clear()
            else:
                # a cache OWNER (kmeans_cells) measured in a session where a
                # downstream query's WARM_DEPS warm-up already built the fit
                # must also start cold — its registry number is fit-included
                # by definition (benchutil.CACHE_OWNERS, r9 advisor finding);
                # and postings CONSUMERS get the staged index warmed untimed
                # so the cell never depends on in-session ordering
                from phabricator_etl_spark.benchutil import (
                    clear_owned_caches,
                    warm_staged_inputs,
                )

                clear_owned_caches(base)
                try:
                    warm_staged_inputs(spark, d, base)
                except Exception:  # noqa: BLE001 - staged warm is best-effort
                    pass
            snap = cache_snapshot()
            # best-so-far across BOTH _run_reps invocations (first run and
            # the contended-retry rerun): a rerun rep slower than the first
            # run's min must NOT overwrite the stage decomposition, or the
            # artifact pairs a cell's min total with stage_times from a
            # different, slower run (r9 advisor)
            global_best = [None]

            def _run_reps() -> tuple[float | None, int]:
                best = None
                n = -1
                for rep in range(a.repeat):
                    # EVERY rep re-pays model builds this query did — incl.
                    # rep 0, which is a no-op on the first attempt but the
                    # cold-start reset on a contended-retry rerun (the r8
                    # advisor caught rerun rep 0 measuring with the first
                    # run's warm model under a '+fit-included' tag)
                    cache_rollback(snap)
                    t0 = time.perf_counter()
                    try:
                        df = by_name[base].build(spark, d)
                        n = df.count()
                        del df
                    except Exception as e:  # noqa: BLE001 - record and continue
                        print(f"# sf{sf} {name}: ERROR {type(e).__name__}: {str(e)[:160]}", file=sys.stderr)
                        return None, -1
                    dt = time.perf_counter() - t0
                    if base in STAGE_TIMED and (
                        global_best[0] is None or dt < global_best[0]
                    ):
                        # decomposition of the rep whose total becomes the cell
                        try:
                            from phabricator_etl_spark.operators.iterative import (
                                STAGE_TIMES,
                            )

                            stage_rec.setdefault(sf, {})[name] = dict(STAGE_TIMES)
                        except Exception:  # noqa: BLE001 - instrumentation only
                            pass
                    if global_best[0] is None or dt < global_best[0]:
                        global_best[0] = dt
                    best = dt if best is None else min(best, dt)
                    # free dead DataFrame/RDD refs BETWEEN reps so the
                    # ContextCleaner can drop the previous rep's
                    # localCheckpoint blocks — three reps of a 40M-edge
                    # iterative query otherwise stack ~3x the block
                    # footprint and OOM a heap that fits one rep fine
                    # (measured: sf30 kcore min-of-1 ran in 48g, min-of-3
                    # blew it)
                    gc.collect()
                return best, n

            best, n = _run_reps()
            canary = _quick_canary()
            canary_floor[0] = min(canary_floor[0], canary)
            retried = False
            # ratio AND absolute margin (see bench.py: a ratcheting floor
            # makes a pure-ratio gate fire on canary noise)
            if best is not None and canary > max(
                1.6 * canary_floor[0], canary_floor[0] + 0.1
            ):
                settle_t0 = time.perf_counter()
                while time.perf_counter() - settle_t0 < 60:
                    time.sleep(5)
                    canary = _quick_canary()
                    canary_floor[0] = min(canary_floor[0], canary)
                    if canary <= max(1.3 * canary_floor[0], canary_floor[0] + 0.05):
                        break
                rerun, n2 = _run_reps()
                if rerun is not None:
                    best = min(best, rerun)
                    n = n2
                canary = _quick_canary()
                canary_floor[0] = min(canary_floor[0], canary)
                retried = True
            if best is not None and base in ROUND_COUNTED:
                try:
                    from phabricator_etl_spark.operators.iterative import ROUNDS

                    r_val = ROUNDS.get(ROUND_COUNTED[base])
                    if r_val is not None:
                        rounds_rec.setdefault(sf, {})[name] = r_val
                except Exception:  # noqa: BLE001 - instrumentation only
                    pass
            if best is not None:
                res[name] = round(best, 3)
                meth[name] = (
                    meth_tag
                    + ("+fit-included" if fit_included else "")
                    + ("+contended-retry" if retried else "")
                )
                reps[name] = a.repeat
                rows[f"{name}@{sf}"] = n
                cnry[name] = round(canary, 3)
                print(
                    f"# sf{sf} {name}: {best:.2f}s ({n} rows)"
                    + (f" [contended, canary {canary:.2f}s]" if retried else ""),
                    file=sys.stderr,
                )
            gc.collect()
        results[sf] = res
        methodology[sf] = meth
        repeats_rec[sf] = reps
        canaries[sf] = cnry

    # host-shuffle calibration: current arm in-process, tmpfs arm in a
    # subprocess (spark.local.dir binds at the FIRST SparkContext of a JVM)
    calib: dict[str, dict] = {}
    if not a.skip_calib:
        try:
            cur_arm = "tmpfs" if os.environ.get("SPARK_GRAFT_LOCAL_DIR", "").startswith("/dev/shm") else "default-disk"
            spark_c = SparkSession.getActiveSession()
            if spark_c is None:
                spark_c = get_spark("scale-bench")
                spark_c.sparkContext.setLogLevel("ERROR")
                spark_c.range(50_000_000).selectExpr("sum(id * 3 + (id & 7))").collect()
            calib[cur_arm] = _shuffle_calib_pair(spark_c)
            print(f"# host shuffle calib [{cur_arm}]: {calib[cur_arm]}", file=sys.stderr)
        except Exception as e:  # noqa: BLE001 - calibration is evidence, not a gate
            print(f"# host shuffle calib failed: {e}", file=sys.stderr)
        if "tmpfs" not in calib and os.path.isdir("/dev/shm"):
            try:
                import subprocess
                import tempfile

                with tempfile.TemporaryDirectory(dir="/dev/shm") as shm:
                    env = dict(os.environ, SPARK_GRAFT_LOCAL_DIR=shm)
                    out = subprocess.run(
                        [sys.executable, os.path.abspath(__file__), "--calib-only"],
                        env=env,
                        capture_output=True,
                        text=True,
                        timeout=600,
                    )
                    calib["tmpfs"] = json.loads(out.stdout.strip().splitlines()[-1])
                print(f"# host shuffle calib [tmpfs]: {calib['tmpfs']}", file=sys.stderr)
            except Exception as e:  # noqa: BLE001
                print(f"# tmpfs calib arm failed: {e}", file=sys.stderr)

    # growth table — one ratio column per measured adjacent step
    # (sf1->sf3 is a 3.0x-linear step; sf3->sf10 is 3.33x; sf10->sf30 3.0x)
    GROWTH_PAIRS = [
        ("1", "3", "growth_sf1_to_sf3"),
        ("3", "10", "growth_sf3_to_sf10"),
        ("10", "30", "growth_sf10_to_sf30"),
    ]
    out_lines = [
        f"{'query':32s} "
        + " ".join(f"sf{sf:>5s}" for sf in results)
        + "".join(f"   sf{a}->sf{b}" for a, b, _ in GROWTH_PAIRS if a in results and b in results)
    ]
    growths: dict[str, dict[str, float]] = {key: {} for _, _, key in GROWTH_PAIRS}
    for name in wanted:
        cells = []
        for sf in results:
            v = results[sf].get(name)
            cells.append(f"{v:7.2f}" if v is not None else "      -")
        g = ""
        for a, b, key in GROWTH_PAIRS:
            if results.get(a, {}).get(name) and results.get(b, {}).get(name):
                r = results[b][name] / max(results[a][name], 1e-9)
                growths[key][name] = round(r, 2)
                g += f"{r:9.2f}x"
        out_lines.append(f"{name:32s} " + " ".join(cells) + g)
    growth = growths["growth_sf1_to_sf3"]
    table = "\n".join(out_lines)
    print(table)

    # Merge into any existing SCALE_BENCH.json so partial reruns
    # (--queries/--sfs subsets, e.g. the skew column) don't clobber the
    # full table; same-key entries are overwritten by the fresh run.
    path = os.path.join(REPO, "SCALE_BENCH.json")
    payload = {
        "metric": "scale_curve_seconds",
        "unit": "sec",
        "sfs": [],
        "queries": {},
        "rows": {},
        "methodology": {},
        "repeats": {},
        "canary": {},
        "growth_sf1_to_sf3": {},
    }
    payload["note"] = (
        "3.0x = linear for the 1->3 step, 3.33x for 3->10, 3.0x for 10->30; "
        "lower = overhead amortizing; higher = super-linear, needs a reason. "
        "Every cell carries methodology[sf][query] + repeats[sf][query]; "
        "growth ratios are computed ONLY between same-methodology cells "
        "(mixed pairs land in growth_excluded with the two tags) — the r6 "
        "artifact mixed shared-session warm-model and fresh-JVM cold-fit "
        "cells and its ratios were not reproducible from the file. "
        "'+fit-included' rows measure the same query with the session model "
        "caches cleared; warm rows isolate the apply stage (the fit cost is "
        "kmeans_cells' own row, re-warmed untimed per WARM_DEPS). "
        "'+contended-retry' marks a cell whose first attempt tripped the "
        "contention canary and was re-measured after a settle; it is an "
        "annotation, not a methodology — ratio pairing ignores it (the "
        "repeat protocol is identical and the final per-cell canary is "
        "recorded under canary[sf][query]). rounds[sf][query] records the "
        "fixpoint round count for the iterative graph cells: a super-linear "
        "ratio at constant rounds indicates the host, not the algorithm."
    )
    if os.path.exists(path):
        with open(path) as f:
            prev = json.load(f)
        for k in ("queries", "rows", "methodology", "repeats", "canary", "rounds", "stage_times"):
            payload[k] = {**prev.get(k, {}), **payload.get(k, {})}
        payload["sfs"] = prev.get("sfs", [])
        payload["host_shuffle_calibration"] = prev.get("host_shuffle_calibration", {})
    cal = payload.setdefault("host_shuffle_calibration", {})
    cal.update(calib)
    if cal:
        cal["note"] = (
            "Fixture-independent host probe: identical synthetic "
            "repartition+agg at 1x (120M rows / 40 parts) and 3x (360M / "
            "120) volume, min-of-2, fresh-warmed JVM. ratio_3x ~3.0 = the "
            "host shuffles linearly in the top-SF volume range; >>3.0 means "
            "every large-shuffle query cell inherits an ENVIRONMENT "
            "super-linearity (this single host's disk-backed spark.local.dir "
            "write-back, absent at a cluster's per-node volumes) — compare "
            "the default-disk and tmpfs arms to see the cliff without any "
            "operator code involved."
        )
    for sf, res in results.items():
        payload["queries"].setdefault(sf, {}).update(res)
        payload["methodology"].setdefault(sf, {}).update(methodology[sf])
        payload["repeats"].setdefault(sf, {}).update(repeats_rec[sf])
        payload["canary"].setdefault(sf, {}).update(canaries.get(sf, {}))
        payload.setdefault("rounds", {}).setdefault(sf, {}).update(rounds_rec.get(sf, {}))
        payload.setdefault("stage_times", {}).setdefault(sf, {}).update(stage_rec.get(sf, {}))
    payload["rows"].update(rows)
    # Any timing cell still lacking a methodology tag predates r7: tag it
    # legacy so it can pair with its own kind but never with a fresh cell.
    for sf, cells in payload["queries"].items():
        for name in cells:
            payload["methodology"].setdefault(sf, {}).setdefault(name, LEGACY_TAG)
    # Growth ratios are DERIVED from the merged timing table (not carried
    # over from prior runs): a partial re-measure of one SF must refresh
    # every ratio it participates in, or stale ratios outlive the fix they
    # measured (bit us in r6: sf3->sf10 still showed the pre-fix 5.79x
    # after both columns had been re-measured in separate runs).
    payload["growth_excluded"] = {}

    # '+contended-retry' is an ANNOTATION, not a methodology: the retried
    # cell ran the identical repeat protocol, then (after a canary-gated
    # settle) ran it again and kept the min — its number is comparable with
    # a non-retried same-tag cell, and the per-cell canary value is on the
    # record either way. Without stripping it, a single retried cell
    # excluded every ratio it touched (bit the r8 kcore re-measure).
    def _pair_tag(tag: str | None) -> str | None:
        return tag.replace("+contended-retry", "") if tag else tag

    for a_sf, b_sf, key in GROWTH_PAIRS:
        qa_t, qb_t = payload["queries"].get(a_sf, {}), payload["queries"].get(b_sf, {})
        ma, mb = payload["methodology"].get(a_sf, {}), payload["methodology"].get(b_sf, {})
        payload[key] = {}
        for name in qb_t:
            if not (qa_t.get(name) and qb_t.get(name) is not None):
                continue
            if _pair_tag(ma.get(name)) != _pair_tag(mb.get(name)):
                payload["growth_excluded"].setdefault(key, {})[name] = (
                    f"methodology mismatch: sf{a_sf}={ma.get(name)} vs "
                    f"sf{b_sf}={mb.get(name)}"
                )
                continue
            payload[key][name] = round(qb_t[name] / max(qa_t[name], 1e-9), 2)
    payload["sfs"] = sorted(set(payload["sfs"]) | set(results))
    payload["ratio_notes"] = RATIO_NOTES
    with open(path, "w") as f:
        json.dump(payload, f, indent=1, sort_keys=True)
        f.write("\n")
    print("# wrote SCALE_BENCH.json", file=sys.stderr)


if __name__ == "__main__":
    main()
