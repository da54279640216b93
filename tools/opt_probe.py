#!/usr/bin/env python
"""Optimization-round probe (r10+): capture `.explain("formatted")` and a
min-of-N fresh-session timing for named queries.

Usage:
    python tools/opt_probe.py plans  <tag> <query> [query ...]   # plans/$SPARK_GRAFT_PLANS_ROUND/<query>_<tag>.txt (default r11)
    python tools/opt_probe.py time   <query> [query ...]          # bench-methodology min-of-3

`time` measures each query in its own fresh session with bench.py's cell
(benchutil.fresh_session + measure_cell) and prints the best rep's Spark
jobs next to its seconds, so both compare with BENCH_DETAIL.json cells.
`plans` writes the full formatted plan for the before/after evidence the
round deliverables require. It runs the query first, so the dump carries
AQE's final plan (runtime stage reuse, coalesced reads) next to the initial
one; the rows are drained one partition at a time and dropped, so the
driver never holds a full result.
"""

from __future__ import annotations

import io
import os
import sys
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
PLANS_ROUND = os.environ.get("SPARK_GRAFT_PLANS_ROUND", "r11")
PLANS_DIR = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "plans", PLANS_ROUND
)


def cmd_plans(tag: str, names: list[str]) -> None:
    from phabricator_etl_spark.benchutil import fresh_session
    from phabricator_etl_spark.registry import all_queries

    by_name = {q.name: q for q in all_queries()}
    spark = fresh_session(SF_DIR)
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
    from perfbench.counters import StatusReader
    from phabricator_etl_spark.benchutil import fresh_session, measure_cell
    from phabricator_etl_spark.registry import all_queries

    by_name = {q.name: q for q in all_queries()}
    for name in names:
        spark = fresh_session(SF_DIR)
        best, work, _ = measure_cell(spark, SF_DIR, by_name, name, 3, StatusReader)
        print(f"TIME {name}: min={best:.3f}s jobs={work.jobs}")


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
