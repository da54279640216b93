#!/usr/bin/env python
"""Benchmark harness: runs every registered query at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
JSON line: {"metric", "value", "unit", "sf", "n_queries", "n_errors",
"spark_jobs", "queries"}.

The stdout line is kept deliberately TINY (<~500 bytes): a consumer that
keeps only a bounded tail of merged stdout/stderr would cut a full
per-query map (~4 KB) mid-line and fail to parse it. "queries" therefore
carries a small headline subset; the complete per-query record goes to
BENCH_DETAIL.json next to this script.

One loop over the registry in order. Every SESSION_CELLS cells the session
is restarted and warmed (benchutil.fresh_session), which bounds the wear a
shared JVM accumulates (block storage, GC debt). Each cell is min-of-REPEATS
of ``build(...).count()`` under the model-cache discipline
(benchutil.measure_cell), and records the Spark work counters of its best
rep. Wall time follows host load; the counters do not, so compare cells by
``counters[name].jobs`` first and by seconds second. A cell that fails,
its session restart included, is recorded in ``errors`` and the loop goes on.

SPARK_GRAFT_BENCH_ONLY=a,b,c measures only the named queries and writes
the detail to /tmp/BENCH_DETAIL.smoke.json instead; an unknown name raises
before any session starts.
"""

from __future__ import annotations

import json
import os
import sys

SESSION_CELLS = 40
REPEATS = 3
# one representative per family: per-query visibility on the stdout line
HEADLINE = (
    "q1_pricing_summary",
    "q3_shipping_priority",
    "phab_revisions",
    "dedup_minhash_lsh",
    "dedup_embedding_cosine",
    "ann_topk_vectorized",
    "text_quality_score",
    "stream_tumbling_daily",
)


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    only = os.environ.get("SPARK_GRAFT_BENCH_ONLY")
    from perfbench.counters import StatusReader
    from phabricator_etl_spark.benchutil import fresh_session, measure_cell
    from phabricator_etl_spark.registry import all_queries

    by_name = {q.name: q for q in all_queries()}
    names = [by_name[n].name for n in only.split(",")] if only else list(by_name)

    timings: dict[str, float] = {}
    counters: dict[str, dict] = {}
    phase_timings: dict[str, list] = {}
    errors: dict[str, str] = {}
    spark = None
    for i, name in enumerate(names):
        try:
            if spark is None or i % SESSION_CELLS == 0:
                spark = None  # a failed restart is retried at the next cell
                spark = fresh_session(sf_dir)
            cell = measure_cell(spark, sf_dir, by_name, name, REPEATS, StatusReader)
        except Exception as e:  # noqa: BLE001 - one broken query must not
            # take down the whole bench line
            errors[name] = f"{type(e).__name__}: {str(e)[:200]}"
            print(f"# {name}: ERROR {errors[name]}", file=sys.stderr)
            continue
        timings[name] = round(cell.seconds, 3)
        counters[name] = cell.counters
        if cell.phases:
            phase_timings[name] = cell.phases
        print(f"# {name}: {cell.seconds:.3f}s {cell.work.jobs} jobs", file=sys.stderr)

    total = round(sum(timings.values()), 3)
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    sf_val = float(sf) if sf.replace(".", "").isdigit() else sf_dir
    head = {
        "metric": "total_query_seconds",
        "value": total,
        "unit": "sec",
        "sf": sf_val,
        "n_queries": len(timings),
        "n_errors": len(errors),
    }
    detail = {
        **head,
        "queries": timings,
        "methodology": (
            f"registry order; fresh warmed session every {SESSION_CELLS} cells; "
            f"min-of-{REPEATS} per cell with session model caches rolled back "
            "before every rep; counters are the best rep's Spark work"
        ),
        "counters": counters,
        "phase_timings": phase_timings,
        "errors": errors,
    }
    detail_path = (
        "/tmp/BENCH_DETAIL.smoke.json"
        if only
        else os.path.join(os.path.dirname(os.path.abspath(__file__)), "BENCH_DETAIL.json")
    )
    try:
        with open(detail_path, "w") as f:
            json.dump(detail, f, indent=1, sort_keys=True)
            f.write("\n")
    except OSError as e:  # detail file is best-effort; the stdout line is not
        print(f"# BENCH_DETAIL.json write failed: {e}", file=sys.stderr)

    out = {
        **head,
        "spark_jobs": sum(c["jobs"] for c in counters.values()),
        "queries": {k: timings[k] for k in HEADLINE if k in timings},
    }
    # Start from a fresh line: Spark/py4j may have left an unterminated
    # \r-progress fragment on the merged stream, which would otherwise glue
    # itself to the JSON and break the parse.
    sys.stderr.flush()
    sys.stdout.write("\n" + json.dumps(out) + "\n")
    sys.stdout.flush()


if __name__ == "__main__":
    main()
