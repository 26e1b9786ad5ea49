"""bench.py's stdout contract: the last line is one JSON object of at most
2,000 chars with the result keys and a per-query CPU·s map; bench_out.json
also holds the classes compiled per query."""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = "guidance_for_sap_data_integration_and_management_on_aws_spark"


def test_named_queries_print_contract_line(tmp_path, sf_dir):
    # Run from a copy so the bench's start-of-run scratch sweep and its
    # bench_out.json stay out of the checkout this test session is using.
    shutil.copy(os.path.join(ROOT, "bench.py"), tmp_path)
    for name in ("__spark_entry__.py", PKG, "perfbench"):
        os.symlink(os.path.join(ROOT, name), tmp_path / name)
    env = dict(os.environ, SPARK_GRAFT_SF_DIR=sf_dir)
    proc = subprocess.run(
        [sys.executable, "bench.py", "q1_pricing_summary", "join_inner"],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    last = proc.stdout.rstrip("\n").split("\n")[-1]
    assert len(last) <= 2000
    out = json.loads(last)
    assert {"metric", "value", "unit", "queries", "sf"} <= out.keys()
    assert set(out["queries"]) == {"q1_pricing_summary", "join_inner"}
    assert all(out["queries_cpu"][n] > 0 for n in out["queries"])
    full = json.loads((tmp_path / "bench_out.json").read_text())
    assert full["queries_cpu"] == out["queries_cpu"]
    # classes compiled per timed query: in bench_out.json, not on stdout
    assert "queries_codegen" not in out
    codegen = full["queries_codegen"]
    assert set(codegen) == {"q1_pricing_summary", "join_inner"}
    assert all(type(codegen[n]) is int and codegen[n] >= 0 for n in codegen)
