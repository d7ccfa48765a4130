"""scripts/bench_compare.py on inputs with nothing to compare (no Spark)."""

from __future__ import annotations

import json
import os
import subprocess
import sys

SCRIPT = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "scripts",
    "bench_compare.py",
)


def test_disjoint_query_maps_report_no_common_queries(tmp_path):
    old, new = tmp_path / "old.json", tmp_path / "new.json"
    old.write_text(json.dumps({"value": 1.0, "queries": {"a": 0.5, "b": 0.5}}))
    new.write_text(json.dumps({"value": 2.0, "queries": {"c": 1.0, "d": 1.0}}))
    run = subprocess.run(
        [sys.executable, SCRIPT, str(old), str(new)],
        capture_output=True,
        text=True,
        timeout=60,
    )
    assert run.returncode == 0, run.stderr
    assert "no common queries" in run.stdout
    assert "only in old: ['a', 'b']" in run.stdout
    assert "only in new: ['c', 'd']" in run.stdout
