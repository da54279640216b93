#!/usr/bin/env python
"""Plan and timing probe: formatted plans and bench-methodology timings for
named queries, and the two committed plan documents.

Usage:
    python tools/opt_probe.py plans  <tag> <query> [query ...]   # plans/$SPARK_GRAFT_PLANS_ROUND/<query>_<tag>.txt (default r11)
    python tools/opt_probe.py time   <query> [query ...]          # bench-methodology min-of-3
    python tools/opt_probe.py report                              # PLANS.md
    python tools/opt_probe.py sweep                               # PLAN_AUDIT.md

Every mode reads $SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1, and
/root/testdata/sf0.001 for `sweep`) in a session from
benchutil.fresh_session.

`time` measures each query in its own fresh session with bench.py's cell
(benchutil.measure_cell) and prints the best rep's Spark jobs next to its
seconds, so both compare with BENCH_DETAIL.json cells.
`plans` writes the full formatted plan for before/after evidence. It runs
the query first, so the dump carries AQE's final plan (runtime stage reuse,
coalesced reads) next to the initial one; the rows are drained one
partition at a time and dropped, so the driver never holds a full result.
`report` writes PLANS.md: the AQE initial plan (not executed) of each
SHOWCASE query, with the first parquet scan's detail block as pushdown
evidence. `sweep` writes PLAN_AUDIT.md: every registered query's plan,
tallied for the shapes that kill 100 TB jobs (quadratic joins outside
NL_ALLOWED, row-at-a-time Python outside ROW_PYTHON_ALLOWED) and for its
shuffle Exchanges.
"""

from __future__ import annotations

import io
import os
import re
import sys
from contextlib import redirect_stdout

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

PLANS_ROUND = os.environ.get("SPARK_GRAFT_PLANS_ROUND", "r11")
PLANS_DIR = os.path.join(ROOT, "plans", PLANS_ROUND)

# (query name, one-line takeaway shown above the tree in PLANS.md)
SHOWCASE = [
    ("q1_pricing_summary", "filter pushed to scan, 2-column ReadSchema, partial agg before the one shuffle"),
    ("q3_shipping_priority", "both dims broadcast; lineitem only shuffles for the final agg; top-k via TakeOrderedAndProject"),
    ("q4_order_priority_exists", "EXISTS decorrelated to a left-semi join; lineitem pruned to 2 columns"),
    ("bucketed_colocated_join", "bucketed scans (no Exchange below the sort-merge join)"),
    ("shuffle_hash_hint_join", "SHUFFLE_HASH hint overrides broadcast and sort-merge"),
    ("sorted_file_skipping", "tight date filter pushed into the sorted parquet stage (row-group skipping)"),
    ("ann_lsh_bucket", "candidate generation is an equi-join on (table, sketch), never a crossJoin"),
    ("incr_merge_upsert", "join-rewrite MERGE: window dedup + anti-join union"),
    ("join_bloom_prefilter", "bloom bitmap pinned as a literal-array Filter on the probe scan (a joined bitmap let Catalyst reorder the confirm join below it); exact confirm above"),
    ("funnel_view_click_purchase", "three chained windows over ONE user_id Exchange; no event self-join"),
    ("ts_gapfill_interpolate", "grid explode + sparse join + both IGNORE NULLS windows reuse the user_id partitioning"),
    ("sketch_hll_distinct", "register build = two hash aggregations with partial (map-side) combine; no raw-key shuffle on the sketch path"),
    ("search_bm25_topk", "term stats broadcast; posting-list-only shuffle; top-k via TakeOrderedAndProject, never a full sort"),
    ("zorder_file_skipping", "rectangle predicates on BOTH z-ordered columns pushed to the staged scan (2-D row-group skipping)"),
    ("sample_temperature_lang", "per-language rates broadcast to the sample predicate; membership evaluated map-side"),
    ("src_python_datasource", "custom Python DataSource: BatchScan over planned partitions feeding a partial-then-final aggregate"),
    ("search_hybrid_rerank", "BM25 shortlist feeds a 50-row dense re-rank; the corpus never reaches the dense stage"),
    ("join_interval_overlap", "interval-overlap as an equi-join on (user, bucket) + residual filter - no theta join"),
]

# (query, reason) pairs where a nested-loop/cartesian shape is by design:
# one side is a literal-sized relation (a 1-row aggregate or a fixed tiny
# batch), so the "product" is a broadcast map-side operation.
NL_ALLOWED = {
    "ann_topk_bruteforce": "query batch (50 rows) broadcast against corpus — the exactness baseline",
    "ann_topk_vectorized": "same broadcast query batch, Arrow matmul form",
    "ann_pq_adc": "query batch broadcast for the ADC LUT probe (tiny build side)",
    "corpus_mix_sample": "1-row totals broadcast for mix normalization",
    "corpus_heavy_hitters": "1-row corpus-total scalar broadcast into the support threshold",
    "sample_temperature_lang": "1-row min-count scalar broadcast into rates",
    "q11_important_stock": "1-row global threshold scalar broadcast",
    "q22_idle_customers": "1-row global average scalar broadcast",
    "incr_watermark_filter": "1-row destination-watermark scalar broadcast (S2 semantics)",
    "approx_quantiles_price": "1-row sample-quantile aggregate x 1-row min/max aggregate",
    "basket_frequent_pairs": "1-row basket-total scalar broadcast into lift (one-job form)",
    "text_bigram_lm_score": "1-row |V| (vocabulary-size) scalar broadcast into add-one smoothing",
    "text_nb_classifier": "1-row class-totals and 1-row prior scalars broadcast into the NB weights",
    "agg_rollup": "1-row empty-relation ()-grouping patch anti-joined against input.limit(1) (r6)",
    "fn_cube_rollup_matrix": "1-row empty-relation ()-grouping patch anti-joined against input.limit(1) (r6)",
}

# Queries whose BatchEvalPython node is the POINT of the query (the Python
# UDTF API executes through it); everything else must stay Arrow-or-JVM.
ROW_PYTHON_ALLOWED = {
    "udtf_lateral_tokens": "Python UDTF via LATERAL — BatchEvalPythonUDTF is that API's execution node",
    "udtf_polymorphic_columns": "polymorphic (analyze-schema) UDTF — same execution node, by design",
}


def _session(sf_dir: str):
    """A fresh warmed session and the registry by name."""
    from phabricator_etl_spark.benchutil import fresh_session
    from phabricator_etl_spark.registry import all_queries

    return fresh_session(sf_dir), {q.name: q for q in all_queries()}


def _formatted_plan(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def cmd_plans(sf_dir: str, tag: str, names: list[str]) -> None:
    spark, by_name = _session(sf_dir)
    os.makedirs(PLANS_DIR, exist_ok=True)
    for name in names:
        df = by_name[name].build(spark, sf_dir)
        for _ in df.toLocalIterator():
            pass
        text = _formatted_plan(df)
        path = os.path.join(PLANS_DIR, f"{name}_{tag}.txt")
        with open(path, "w") as f:
            f.write(text)
        print(f"wrote {path} ({len(text)} bytes)")


def cmd_time(sf_dir: str, names: list[str]) -> None:
    from perfbench.counters import StatusReader
    from phabricator_etl_spark.benchutil import measure_cell

    for name in names:
        spark, by_name = _session(sf_dir)
        cell = measure_cell(spark, sf_dir, by_name, name, 3, StatusReader)
        print(f"TIME {name}: min={cell.seconds:.3f}s jobs={cell.work.jobs}")


def _tree_and_first_scan(df) -> str:
    """The physical-plan tree plus the first scan's detail block (pushdown
    evidence); the other per-operator details are dropped for brevity."""
    tree, _, details = _formatted_plan(df).partition("\n\n(1) ")
    first_scan = ""
    if details:
        block = "(1) " + details.split("\n\n(")[0]
        if "Scan" in block.splitlines()[0]:
            first_scan = "\n" + block.strip()
    return tree.strip() + ("\n" + first_scan if first_scan else "")


def cmd_report(sf_dir: str) -> None:
    spark, by_name = _session(sf_dir)
    out = [
        "# PLANS — physical-plan evidence for headline queries",
        "",
        f"Generated by `tools/opt_probe.py report` at `{sf_dir}`. Each tree is the",
        "Catalyst physical plan (AQE initial plan); the first parquet scan's",
        "detail block is kept to show PushedFilters / ReadSchema pruning.",
        "Machine-checked versions of these properties live in",
        "`tests/test_plan_audits.py`.",
        "",
    ]
    for name, takeaway in SHOWCASE:
        tree = _tree_and_first_scan(by_name[name].build(spark, sf_dir))
        out += [f"## {name}", "", f"*{takeaway}*", "", "```", tree, "```", ""]
    with open(os.path.join(ROOT, "PLANS.md"), "w") as f:
        f.write("\n".join(out))
    print(f"wrote PLANS.md ({len(SHOWCASE)} plans)")


def _plan_tally(name: str, plan: str) -> dict:
    return {
        "name": name,
        "cartesian": plan.count("CartesianProduct"),
        "nested_loop": plan.count("BroadcastNestedLoopJoin"),
        "row_python": plan.count("BatchEvalPython"),
        "arrow_python": len(re.findall(r"MapInPandas|ArrowEvalPython|FlatMapGroupsInPandas|MapInArrow", plan)),
        # shuffles only: hash/range repartition Exchanges. Broadcast
        # exchanges are deliberately excluded — they move dim-sized data
        # and are the GOOD join shape at scale.
        "exchanges": len(re.findall(r"Exchange (?:hashpartitioning|rangepartitioning|SinglePartition)", plan)),
        "broadcasts": plan.count("BroadcastExchange") + plan.count("Exchange HashedRelationBroadcastMode"),
    }


def cmd_sweep(sf_dir: str) -> None:
    spark, by_name = _session(sf_dir)
    rows, errors = [], []
    for name, q in by_name.items():
        try:
            plan = q.build(spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
        except Exception as e:  # noqa: BLE001
            errors.append((name, f"{type(e).__name__}: {str(e)[:120]}"))
            continue
        rows.append(_plan_tally(name, plan))

    viol_udf = [r for r in rows if r["row_python"] and r["name"] not in ROW_PYTHON_ALLOWED]
    viol_nl = [r for r in rows if (r["cartesian"] or r["nested_loop"]) and r["name"] not in NL_ALLOWED]
    n_exchanges = sum(r["exchanges"] for r in rows)
    lines = [
        "# PLAN_AUDIT — whole-registry physical-plan sweep",
        "",
        f"Generated by `tools/opt_probe.py sweep` at `{sf_dir}`. Every registered query's",
        "EXECUTED plan, tallied for the shapes that don't survive 100 TB.",
        "",
        f"- queries audited: **{len(rows)}** (plan-build errors: {len(errors)})",
        f"- row-at-a-time Python (`BatchEvalPython`) outside the UDTF-API allowlist: "
        f"**{len(viol_udf)}** queries ({', '.join(r['name'] for r in viol_udf) or 'none'})",
        f"- unexplained cartesian/nested-loop joins: **{len(viol_nl)}** "
        f"({', '.join(r['name'] for r in viol_nl) or 'none'})",
        f"- Arrow-vectorized Python nodes (sanctioned): "
        f"{sum(r['arrow_python'] for r in rows)} across "
        f"{sum(1 for r in rows if r['arrow_python'])} queries",
        f"- total SHUFFLE Exchanges (hash/range/single): {n_exchanges} "
        f"(mean {n_exchanges / max(len(rows), 1):.1f}/query); "
        f"broadcast exchanges (the good kind): {sum(r['broadcasts'] for r in rows)}",
        "",
        "## Allowlisted nested-loop shapes (broadcast-tiny side, by design)",
        "",
    ]
    lines += [
        f"- `{r['name']}`: {NL_ALLOWED[r['name']]}"
        for r in rows
        if (r["cartesian"] or r["nested_loop"]) and r["name"] in NL_ALLOWED
    ]
    lines += [
        f"- `{r['name']}`: {ROW_PYTHON_ALLOWED[r['name']]}"
        for r in rows
        if r["row_python"] and r["name"] in ROW_PYTHON_ALLOWED
    ]
    lines += ["", "## Shuffle-heaviest queries (hash/range Exchange count)", ""]
    for r in sorted(rows, key=lambda r: -r["exchanges"])[:15]:
        lines.append(f"- {r['exchanges']:3d}  `{r['name']}`  (+{r['broadcasts']} broadcast)")
    if errors:
        lines += ["", "## Plan-build errors", ""]
        lines += [f"- `{n}`: {e}" for n, e in errors]
    lines.append("")
    with open(os.path.join(ROOT, "PLAN_AUDIT.md"), "w") as f:
        f.write("\n".join(lines))
    print(f"wrote PLAN_AUDIT.md: {len(rows)} audited, {len(viol_udf)} row-UDF, {len(viol_nl)} unexplained NL joins")


def main() -> None:
    mode, args = sys.argv[1], sys.argv[2:]
    default_sf = "/root/testdata/sf0.001" if mode == "sweep" else "/root/testdata/sf0.1"
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", default_sf)
    if mode == "plans":
        cmd_plans(sf_dir, args[0], args[1:])
    elif mode == "time":
        cmd_time(sf_dir, args)
    elif mode == "report":
        cmd_report(sf_dir)
    elif mode == "sweep":
        cmd_sweep(sf_dir)
    else:
        raise SystemExit(f"unknown mode {mode!r}")


if __name__ == "__main__":
    main()
