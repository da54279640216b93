#!/usr/bin/env python
"""Optimization-round probe (r10+): capture `.explain("formatted")` and a
min-of-N fresh-session timing for named queries.

Usage:
    python tools/opt_probe.py plans  <tag> <query> [query ...]   # plans/$SPARK_GRAFT_PLANS_ROUND/<query>_<tag>.txt (default r11)
    python tools/opt_probe.py time   <query> [query ...]          # bench-methodology min-of-3

`time` mirrors bench.py's refine discipline (fresh session, warm-up, model
cache rollback, min-of-3 with .count() as the action) so numbers are
comparable with BENCH_DETAIL.json cells. `plans` writes the full formatted
plan for the before/after evidence the round deliverables require. It runs
the query first, so the dump carries AQE's final plan (runtime stage reuse,
coalesced reads) next to the initial one; the rows are drained one
partition at a time and dropped, so the driver never holds a full result.
"""

from __future__ import annotations

import io
import os
import sys
import time
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
PLANS_ROUND = os.environ.get("SPARK_GRAFT_PLANS_ROUND", "r11")
PLANS_DIR = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "plans", PLANS_ROUND
)


def _session(for_query: str):
    from phabricator_etl_spark.session import get_spark
    from phabricator_etl_spark.sources.catalog import DRIVER_TABLES, load_table

    spark = get_spark("opt-probe")
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1_000_000).selectExpr("sum(id)").collect()
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))

    def _warm(batches):
        for pdf in batches:
            yield pdf

    spark.range(cpus * 4).repartition(cpus).mapInPandas(_warm, "id long").count()
    for t in DRIVER_TABLES:
        load_table(spark, SF_DIR, t).count()
    if for_query.startswith(("phab_", "etl_e2e_")):
        from phabricator_etl_spark.plans.phab_queries import _ensure_world

        _ensure_world(spark)
    return spark


def cmd_plans(tag: str, names: list[str]) -> None:
    from phabricator_etl_spark.registry import all_queries

    by_name = {q.name: q for q in all_queries()}
    spark = _session(names[0])
    os.makedirs(PLANS_DIR, exist_ok=True)
    for name in names:
        df = by_name[name].build(spark, SF_DIR)
        for _ in df.toLocalIterator():
            pass
        buf = io.StringIO()
        with redirect_stdout(buf):
            df.explain("formatted")
        path = os.path.join(PLANS_DIR, f"{name}_{tag}.txt")
        with open(path, "w") as f:
            f.write(buf.getvalue())
        print(f"wrote {path} ({len(buf.getvalue())} bytes)")


def cmd_time(names: list[str]) -> None:
    from phabricator_etl_spark.benchutil import (
        WARM_DEPS,
        cache_rollback,
        cache_snapshot,
        clear_owned_caches,
        warm_staged_inputs,
    )
    from phabricator_etl_spark.registry import all_queries

    by_name = {q.name: q for q in all_queries()}
    for name in names:
        spark = _session(name)
        dep = WARM_DEPS.get(name)
        if dep is not None and dep in by_name:
            by_name[dep].build(spark, SF_DIR).count()
        clear_owned_caches(name)
        try:
            warm_staged_inputs(spark, SF_DIR, name)
        except Exception:
            pass
        snap = cache_snapshot()
        best, runs = None, []
        for _ in range(3):
            cache_rollback(snap)
            t0 = time.perf_counter()
            by_name[name].build(spark, SF_DIR).count()
            dt = time.perf_counter() - t0
            runs.append(round(dt, 3))
            best = dt if best is None else min(best, dt)
        print(f"TIME {name}: min={best:.3f}s runs={runs}")
        spark.stop()


def main() -> None:
    mode = sys.argv[1]
    if mode == "plans":
        cmd_plans(sys.argv[2], sys.argv[3:])
    elif mode == "time":
        cmd_time(sys.argv[2:])
    else:
        raise SystemExit(f"unknown mode {mode!r}")


if __name__ == "__main__":
    main()
