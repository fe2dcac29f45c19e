"""tools/query_profile.py end to end on one short query that runs Python: the
record holds the cold run and the warm best, each split into Catalyst's
phases, engine metrics from the event log, Python-worker time and
per-stage rows; ``--plans`` writes the executed plan."""

from __future__ import annotations

import json
import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
QUERY = "tokenize_format_preserved"


def test_profile_splits_cold_and_warm_runs(sf_dir, tmp_path):
    out, plans = tmp_path / "layers.jsonl", tmp_path / "plans"
    subprocess.run(
        [sys.executable, os.path.join(ROOT, "tools", "query_profile.py"), "--sf", sf_dir,
         "--out", str(out), "--plans", str(plans), QUERY],
        cwd=ROOT, check=True, stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL, timeout=300,
    )
    (rec,) = [json.loads(line) for line in out.read_text().splitlines()]
    assert rec["query"] == QUERY and rec["warm_runs"] in (2, 3)
    for side in ("cold", "warm"):
        run = rec[side]
        assert all(run[f"{p}_s"] > 0 for p in ("analysis", "optimization", "planning"))
        assert run["rows"] > 0 and run["execution_s"] > 0
        assert run["spark"]["jobs"] >= 1
        assert "pythonInitTime" in run["python_ms"]
        assert run["stages"] and all(s["tasks"] >= 1 for s in run["stages"])
        assert all(isinstance(s["job"], int) for s in run["stages"])
    assert rec["cold"]["total_s"] >= rec["warm"]["total_s"]
    assert "AdaptiveSparkPlan" in (plans / f"{QUERY}.txt").read_text()
