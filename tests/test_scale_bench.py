"""tools/scale_bench.py: the merge into SCALE_BENCH.json keeps what a run
does not measure, and a measured cell goes through benchutil.measure_cell."""

from __future__ import annotations

import importlib.util
import json
import os
import shutil
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
TOOL = os.path.join(ROOT, "tools", "scale_bench.py")
COMMITTED = os.path.join(ROOT, "SCALE_BENCH.json")
SF_SMOKE_DIR = "/root/testdata/sf0.001"


def _committed_tags() -> set[str]:
    with open(COMMITTED) as f:
        return {tag for cells in json.load(f)["methodology"].values() for tag in cells.values()}


def test_zero_cell_run_leaves_committed_file_byte_identical(tmp_path, monkeypatch):
    """A run that measures nothing must rewrite the artifact unchanged: no
    top-level block (the core-scaling A/B, the canaries) is dropped, and
    every derived growth ratio and exclusion of the committed cells comes
    out as committed."""
    shutil.copy(COMMITTED, tmp_path / "SCALE_BENCH.json")
    spec = importlib.util.spec_from_file_location("scale_bench", TOOL)
    tool = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(tool)
    monkeypatch.setattr(tool, "REPO", str(tmp_path))
    monkeypatch.setattr(sys, "argv", ["scale_bench.py", "--sfs", "99", "--skip-calib"])
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", "1g")  # the tool defaults it otherwise
    tool.main()
    with open(COMMITTED, "rb") as f:
        assert (tmp_path / "SCALE_BENCH.json").read_bytes() == f.read()


@pytest.mark.skipif(not os.path.isdir(SF_SMOKE_DIR), reason=f"{SF_SMOKE_DIR} missing")
def test_one_cell_is_measured_by_measure_cell(tmp_path):
    """One sf0.001 k-core cell, in its own process against a copy of the
    artifact: it records the best rep's work counters, stage times and
    rounds under a methodology tag no committed cell carries."""
    shutil.copy(COMMITTED, tmp_path / "SCALE_BENCH.json")
    code = (
        f"import importlib.util; spec = importlib.util.spec_from_file_location('scale_bench', {TOOL!r}); "
        "tool = importlib.util.module_from_spec(spec); spec.loader.exec_module(tool); "
        f"tool.REPO = {str(tmp_path)!r}; tool.main()"
    )
    args = ["--sfs", "0.001", "--queries", "graph_kcore_bipartite", "--skip-calib"]
    env = {**os.environ, "SPARK_GRAFT_DRIVER_MEM": "1g", "SPARK_GRAFT_CPUS": "2"}
    proc = subprocess.run(
        [sys.executable, "-c", code, *args], env=env, capture_output=True, text=True, timeout=600
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    with open(tmp_path / "SCALE_BENCH.json") as f:
        got = json.load(f)
    with open(COMMITTED) as f:
        committed = json.load(f)

    name = "graph_kcore_bipartite"
    assert got["counters"]["0.001"][name]["jobs"] >= 1
    assert "jobs_by_module" not in got["counters"]["0.001"][name]
    tag = got["methodology"]["0.001"][name]
    assert tag == "measure-cell-fresh-session-per-sf-min-of-1"
    assert tag not in _committed_tags()
    assert {"edges_checkpoint", "initial_degree", "n_edges"} <= set(got["stage_times"]["0.001"][name])
    assert got["rounds"]["0.001"][name] >= 1
    assert got["repeats"]["0.001"][name] == 1
    assert isinstance(got["rows"][f"{name}@0.001"], int)
    assert got["core_scaling_ab"] == committed["core_scaling_ab"]
