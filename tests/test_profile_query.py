"""tools/profile_query.py: per-query layer accounts from the benchmark's
tracer."""

from __future__ import annotations

import json
import subprocess
import sys
from pathlib import Path

TOOL = Path(__file__).resolve().parent.parent / "tools" / "profile_query.py"


def test_profile_query_prints_one_layer_account_per_query(sf_dir):
    names = ["tpch_q6_forecast_revenue", "latest_event"]
    proc = subprocess.run(
        [sys.executable, str(TOOL), sf_dir, *names],
        capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stdout[-2000:] + proc.stderr[-2000:]
    lines = [json.loads(x) for x in proc.stdout.strip().splitlines()]
    assert [r["query"] for r in lines] == names
    for r in lines:
        assert r["plans.build_s"] > 0
        assert r["exec.jobs"] >= 1
        assert r["covered"] is True, r


def test_profile_query_rejects_an_unknown_name(sf_dir):
    proc = subprocess.run(
        [sys.executable, str(TOOL), sf_dir, "latest_event", "no_such_query"],
        capture_output=True, text=True, timeout=120,
    )
    assert proc.returncode != 0
    assert "no_such_query" in proc.stderr
    assert proc.stdout == ""
