"""bench.py end to end on three queries: the one-line stdout contract and
the per-cell work counters in the detail file."""

from __future__ import annotations

import hashlib
import json
import os
import subprocess
import sys

import pytest

SF_DIR = "/root/testdata/sf0.001"
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SMOKE_DETAIL = "/tmp/BENCH_DETAIL.smoke.json"
QUERIES = ["q1_pricing_summary", "kmeans_cells", "ann_ivf_kmeans"]
CONTRACT_KEYS = {"metric", "value", "unit", "sf", "n_queries", "n_errors", "queries"}


def _sha(path: str) -> str:
    with open(path, "rb") as f:
        return hashlib.sha256(f.read()).hexdigest()


@pytest.mark.skipif(not os.path.isdir(SF_DIR), reason=f"{SF_DIR} missing")
def test_bench_line_and_counters_on_three_queries():
    committed = os.path.join(ROOT, "BENCH_DETAIL.json")
    before = _sha(committed)
    if os.path.exists(SMOKE_DETAIL):
        os.remove(SMOKE_DETAIL)
    env = {
        **os.environ,
        "SPARK_GRAFT_SF_DIR": SF_DIR,
        "SPARK_GRAFT_BENCH_ONLY": ",".join(QUERIES),
    }
    proc = subprocess.run(
        [sys.executable, os.path.join(ROOT, "bench.py")],
        env=env,
        capture_output=True,
        text=True,
        timeout=900,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    line = json.loads(proc.stdout.strip().splitlines()[-1])
    assert CONTRACT_KEYS <= set(line)
    assert line["n_queries"] == 3 and line["n_errors"] == 0
    with open(SMOKE_DETAIL) as f:
        detail = json.load(f)
    assert sorted(detail["counters"]) == sorted(QUERIES)
    assert all(c["jobs"] >= 1 for c in detail["counters"].values())
    assert line["spark_jobs"] == sum(c["jobs"] for c in detail["counters"].values())
    assert _sha(committed) == before, "a BENCH_ONLY run must not rewrite BENCH_DETAIL.json"
