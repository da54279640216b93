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

Every cell is measured the way bench.py measures one: a warmed session
from benchutil.fresh_session (one per SF, or one per query under
--fresh-per-query) and benchutil.measure_cell, min-of-N (N = --repeat)
under the model-cache discipline. Each cell records the Spark work counters
of its best rep next to its seconds (counters[sf][query], the
BENCH_DETAIL.json fields): wall time follows host load, the counters do
not, so a growth ratio whose jobs/tasks/shuffle stayed linear points at
the host.

Usage:
  python tools/gen_scale_data.py --sf 1 && python tools/gen_scale_data.py --sf 3
  python tools/scale_bench.py [--sfs 0.1,1,3] [--queries a,b,c]

Merges into SCALE_BENCH.json at the repo root (every key the run does not
compute is carried over unchanged) and prints a compact table.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

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


# Bench-only variant rows: aliases of a registry query under another name.
# The fit-included sibling has no warm-up dependency of its own, so
# measure_cell builds no model before it, and every session cache is
# cleared before it: its reps re-pay the k-means fit the warm row excludes.
FIT_INCLUDED_VARIANTS = {"dedup_semantic_kmeans_fit_included": "dedup_semantic_kmeans"}

# Variant rows measured with spark.local.dir on tmpfs (requires
# SPARK_GRAFT_LOCAL_DIR pointing into /dev/shm BEFORE process start — the
# setting binds at the first SparkContext of a JVM, so these run as a
# separate invocation). They exist because host_shuffle_calibration proved
# this host's DISK-backed shuffle path super-linear in exactly the top-SF
# volume range, and nondeterministically so (r9: the same pure synthetic
# 3x-volume shuffle cost 3.3-6.7x across runs on disk — dirty-page-state
# dependent — vs a stable ~1.9x on tmpfs): the default-disk cells stay
# comparable with the rest of the table, and these rows show the same
# operator's curve with the environment's disk cliff removed — the
# algorithm's own scaling.
LOCALDIR_VARIANTS = {
    "graph_kcore_bipartite_tmpfs_localdir": "graph_kcore_bipartite",
    "graph_bfs_distance_tmpfs_localdir": "graph_bfs_distance",
}
VARIANT_BASE = {**FIT_INCLUDED_VARIANTS, **LOCALDIR_VARIANTS}

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
        "~1.3x at the top step is now MEASURED (r10, core_scaling_ab key, "
        "recorded in BASELINE.md): halving the cores (local[16] vs "
        "local[32], same tmpfs local dir) costs round1_degree_update only "
        "+24-28% wall and sf10 initial_degree +26% -- the memory-bandwidth-"
        "saturation signature (a CPU-bound stage would pay ~2x), so the "
        "over-linear share of the node-shuffle stages is contention for "
        "shared memory bandwidth, not missing CPU parallelism; the sf30 "
        "initial_degree cell additionally swings 34-50 s rep-to-rep at "
        "local[16] (20-26 s at local[32] across r9/r10), putting its "
        "residual in host variance. The 100TB-relevant properties — "
        "constant rounds, linear shuffle volumes, one edge scan and one "
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
# make that distinction from the artifact). Rounds depend only on the
# input, so reading them after the cell is exact.
ROUND_COUNTED = {
    "graph_kcore_bipartite": "kcore",
    "graph_bfs_distance": "pointer_jump",
    "a8_connected_components": "connected_components",
}

# One ratio column per adjacent step (sf1->sf3 is a 3.0x-linear step;
# sf3->sf10 is 3.33x; sf10->sf30 3.0x).
GROWTH_PAIRS = [
    ("1", "3", "growth_sf1_to_sf3"),
    ("3", "10", "growth_sf3_to_sf10"),
    ("10", "30", "growth_sf10_to_sf30"),
]

# Per-cell records, each payload[key][sf][query].
CELL_KEYS = ("queries", "methodology", "repeats", "counters", "rounds", "stage_times")

NOTE = (
    "3.0x = linear for the 1->3 step, 3.33x for 3->10, 3.0x for 10->30; "
    "lower = overhead amortizing; higher = super-linear, needs a reason. "
    "Every cell carries methodology[sf][query] + repeats[sf][query]; "
    "growth ratios are computed ONLY between same-methodology cells "
    "(mixed pairs land in growth_excluded with the two tags) — the r6 "
    "artifact mixed shared-session warm-model and fresh-JVM cold-fit "
    "cells and its ratios were not reproducible from the file. Cells tagged "
    "'measure-cell-*' were measured as bench.py measures a cell: a warmed "
    "benchutil.fresh_session per SF (or per query), then "
    "benchutil.measure_cell, min-of-N with the session model caches rolled "
    "back before every rep; counters[sf][query] holds the Spark work of the "
    "best rep (jobs, stages, tasks, executor time, shuffle MB, the "
    "BENCH_DETAIL.json fields), which does not move with host load. Older "
    "cells were measured by a canary-gated loop: canary[sf][query] is its "
    "per-cell CPU probe, and '+contended-retry' marks a cell re-measured "
    "after a settle (an annotation ratio pairing ignores). "
    "'+fit-included' rows measure the same query with the session model "
    "caches cleared; warm rows isolate the apply stage (the fit cost is "
    "kmeans_cells' own row, built untimed by measure_cell first). "
    "rounds[sf][query] records the fixpoint round count for the iterative "
    "graph cells: a super-linear ratio at constant rounds indicates the "
    "host, not the algorithm."
)

CALIB_NOTE = (
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


def sf_dir_for(sf: str) -> str:
    if sf in ("0.001", "0.01", "0.1"):
        return f"/root/testdata/sf{sf}"
    return os.path.join(REPO, "scaledata", f"sf{sf}")


def _tmpfs_local_dir() -> bool:
    return os.environ.get("SPARK_GRAFT_LOCAL_DIR", "").startswith("/dev/shm")


class _ShuffleProbe:
    """A synthetic cell for measure_cell: ``n`` hashed keys through one
    ``parts``-way shuffle and a group-by, no input files."""

    def __init__(self, n: int, parts: int):
        self.n, self.parts = n, parts

    def build(self, spark, sf_dir):
        from pyspark.sql import functions as F

        keys = spark.range(self.n).select((F.hash("id") % 1_000_000_007).alias("k"))
        return keys.repartition(self.parts, "k").groupBy("k").agg(F.count(F.lit(1)).alias("c"))


def _shuffle_calib_pair(spark) -> dict:
    """Fixture-independent host-shuffle linearity probe: the SAME synthetic
    repartition+agg at 1x and 3x volume (per-task volume held constant by
    scaling the partition count). If the host itself shuffles super-linearly
    in this range, every large-shuffle query cell inherits that — the pair
    puts the environment's own envelope in the artifact next to the cells
    (r9: the kcore sf10->sf30 over-linearity reproduced with ZERO operator
    code: 6.7x on disk-backed spark.local.dir, 1.94x on tmpfs)."""
    from perfbench.counters import StatusReader
    from phabricator_etl_spark.benchutil import measure_cell

    probes = {"vol_1x": _ShuffleProbe(120_000_000, 40), "vol_3x": _ShuffleProbe(360_000_000, 120)}
    out = {v: round(measure_cell(spark, "", probes, v, 2, StatusReader).seconds, 2) for v in probes}
    out["ratio_3x"] = round(out["vol_3x"] / out["vol_1x"], 2)
    return out


def _calibrate() -> dict:
    """Both host-shuffle calibration arms: the current spark.local.dir arm
    in-process, the tmpfs arm in a subprocess (spark.local.dir binds at
    the FIRST SparkContext of a JVM)."""
    import subprocess
    import tempfile

    from phabricator_etl_spark.session import get_spark

    calib: dict[str, dict] = {}
    arm = "tmpfs" if _tmpfs_local_dir() else "default-disk"
    try:
        calib[arm] = _shuffle_calib_pair(get_spark("scale-bench"))
        print(f"# host shuffle calib [{arm}]: {calib[arm]}", file=sys.stderr)
    except Exception as e:  # noqa: BLE001 - calibration is evidence, not a gate
        print(f"# host shuffle calib failed: {e}", file=sys.stderr)
    if "tmpfs" not in calib and os.path.isdir("/dev/shm"):
        try:
            with tempfile.TemporaryDirectory(dir="/dev/shm") as shm:
                out = subprocess.run(
                    [sys.executable, os.path.abspath(__file__), "--calib-only"],
                    env=dict(os.environ, SPARK_GRAFT_LOCAL_DIR=shm),
                    capture_output=True,
                    text=True,
                    timeout=600,
                )
                calib["tmpfs"] = json.loads(out.stdout.strip().splitlines()[-1])
            print(f"# host shuffle calib [tmpfs]: {calib['tmpfs']}", file=sys.stderr)
        except Exception as e:  # noqa: BLE001
            print(f"# tmpfs calib arm failed: {e}", file=sys.stderr)
    return calib


def measure(sfs: list[str], wanted: list[str], repeat: int, fresh_per_query: bool):
    """Measure every (sf, query) cell. Returns ``(cells, rows)``:
    ``cells[key][sf][query]`` for each of CELL_KEYS, and
    ``rows["query@sf"]`` the best rep's row count."""
    from perfbench.counters import StatusReader
    from phabricator_etl_spark.benchutil import fresh_session, measure_cell, model_caches
    from phabricator_etl_spark.operators.iterative import ROUNDS
    from phabricator_etl_spark.registry import all_queries

    by_name = {q.name: q for q in all_queries()}
    by_name.update({v: by_name[base] for v, base in VARIANT_BASE.items()})
    missing = [w for w in wanted if w not in by_name]
    if missing:
        raise SystemExit(f"unknown queries: {missing}")

    tag = f"measure-cell-fresh-session-per-{'query' if fresh_per_query else 'sf'}-min-of-{repeat}"
    if _tmpfs_local_dir():
        # distinct methodology: never ratio-pair a tmpfs cell with a disk one
        tag += "+tmpfs-localdir"
    cells: dict[str, dict] = {key: {} for key in CELL_KEYS}
    rows: dict[str, int] = {}
    for sf in sfs:
        d = sf_dir_for(sf)
        if not os.path.exists(d):
            print(f"# skipping sf{sf}: {d} missing (run tools/gen_scale_data.py)", file=sys.stderr)
            continue
        # A FRESH session per SF: a shared session accumulates checkpoint
        # blocks and GC debt from the previous SF's queries (observed: an
        # sf3 column ran ~2x slower when measured after another SF in the
        # same JVM), so one session per SF keeps growth ratios comparable.
        spark = None
        for name in wanted:
            if name in LOCALDIR_VARIANTS and not _tmpfs_local_dir():
                print(
                    f"# {name}: requires SPARK_GRAFT_LOCAL_DIR on /dev/shm "
                    "set BEFORE process start (per-JVM binding) — skipping",
                    file=sys.stderr,
                )
                continue
            try:
                if spark is None or fresh_per_query:
                    spark = None  # a failed restart is retried at the next cell
                    spark = fresh_session(d)
                if name in FIT_INCLUDED_VARIANTS:
                    # start COLD: rollback only evicts keys added after its
                    # snapshot, so the warm fit must go before it is taken
                    for cache in model_caches():
                        cache.clear()
                cell = measure_cell(spark, d, by_name, name, repeat, StatusReader)
            except Exception as e:  # noqa: BLE001 - record and continue
                print(f"# sf{sf} {name}: ERROR {type(e).__name__}: {str(e)[:160]}", file=sys.stderr)
                continue
            record = {
                "queries": round(cell.seconds, 3),
                "methodology": tag + ("+fit-included" if name in FIT_INCLUDED_VARIANTS else ""),
                "repeats": repeat,
                "counters": cell.counters,
                "rounds": ROUNDS.get(ROUND_COUNTED.get(VARIANT_BASE.get(name, name))),
                "stage_times": cell.stage_times or None,
            }
            for key, value in record.items():
                if value is not None:
                    cells[key].setdefault(sf, {})[name] = value
            rows[f"{name}@{sf}"] = cell.rows
            print(f"# sf{sf} {name}: {cell.seconds:.2f}s {cell.work.jobs} jobs ({cell.rows} rows)", file=sys.stderr)
    return cells, rows


def merge(prev: dict, cells: dict, rows: dict, calib: dict) -> dict:
    """The new artifact: ``prev`` with the fresh cells merged in. Every key
    this run does not compute is carried over as it was."""
    payload = {**prev, "metric": "scale_curve_seconds", "unit": "sec", "note": NOTE}
    for key in CELL_KEYS:
        merged = payload.setdefault(key, {})
        for sf, new in cells[key].items():
            merged.setdefault(sf, {}).update(new)
    # a re-measured cell no longer has a canary reading
    for sf, new in cells["queries"].items():
        for name in new:
            payload.get("canary", {}).get(sf, {}).pop(name, None)
    payload["rows"] = {**payload.get("rows", {}), **rows}
    cal = payload.setdefault("host_shuffle_calibration", {})
    cal.update(calib)
    if cal:
        cal["note"] = CALIB_NOTE
    # Growth ratios are DERIVED from the merged timing table (not carried
    # over from prior runs): a partial re-measure of one SF must refresh
    # every ratio it participates in, or stale ratios outlive the fix they
    # measured (bit us in r6: sf3->sf10 still showed the pre-fix 5.79x
    # after both columns had been re-measured in separate runs).
    payload["growth_excluded"] = {}

    # '+contended-retry' (older cells only) is an annotation, not a
    # methodology: that cell ran the identical repeat protocol twice and
    # kept the min, so it pairs with a non-retried same-tag cell.
    def _pair_tag(tag: str | None) -> str | None:
        return tag.replace("+contended-retry", "") if tag else tag

    for a_sf, b_sf, key in GROWTH_PAIRS:
        qa_t, qb_t = payload["queries"].get(a_sf, {}), payload["queries"].get(b_sf, {})
        ma, mb = payload["methodology"].get(a_sf, {}), payload["methodology"].get(b_sf, {})
        payload[key] = {}
        for name in qb_t:
            if not qa_t.get(name):
                continue
            if _pair_tag(ma.get(name)) != _pair_tag(mb.get(name)):
                payload["growth_excluded"].setdefault(key, {})[name] = (
                    f"methodology mismatch: sf{a_sf}={ma.get(name)} vs "
                    f"sf{b_sf}={mb.get(name)}"
                )
                continue
            payload[key][name] = round(qb_t[name] / max(qa_t[name], 1e-9), 2)
    payload["sfs"] = sorted(set(payload.get("sfs", [])) | set(cells["queries"]))
    payload["ratio_notes"] = RATIO_NOTES
    return payload


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
        from phabricator_etl_spark.session import get_spark

        print(json.dumps(_shuffle_calib_pair(get_spark("scale-calib"))))
        return

    cells, rows = measure(sfs, wanted, a.repeat, a.fresh_per_query)
    calib = {} if a.skip_calib else _calibrate()

    path = os.path.join(REPO, "SCALE_BENCH.json")
    prev = {}
    if os.path.exists(path):
        with open(path) as f:
            prev = json.load(f)
    payload = merge(prev, cells, rows, calib)

    measured = [sf for sf in sfs if sf in cells["queries"]]
    if measured:
        print(f"{'query':32s} " + " ".join(f"sf{sf:>6s}" for sf in measured))
    for name in wanted:
        times = [cells["queries"].get(sf, {}).get(name) for sf in measured]
        if times.count(None) == len(times):
            continue
        line = " ".join(f"{t:8.2f}" if t is not None else "       -" for t in times)
        growth = "".join(f"  {k[7:]} {payload[k][name]:.2f}x" for _, _, k in GROWTH_PAIRS if name in payload[k])
        print(f"{name:32s} {line}{growth}")

    with open(path, "w") as f:
        json.dump(payload, f, indent=1, sort_keys=True)
        f.write("\n")
    print("# wrote SCALE_BENCH.json", file=sys.stderr)


if __name__ == "__main__":
    main()
