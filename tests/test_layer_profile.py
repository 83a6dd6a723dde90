"""Smoke test of ``tools/layer_profile.py``: two entries, two reps, in a
subprocess with its own session (``ud_geomean`` crosses into Python)."""

from __future__ import annotations

import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
NAMES = ["p7_key_whitelist", "ud_geomean"]
LAYERS = ["python_s", "compile_s", "coordinate_s", "schedule_s", "execute_s", "residual_s"]


def test_layers_add_up_to_each_reps_wall_time(sf_dir):
    r = subprocess.run(
        [sys.executable, os.path.join(REPO, "tools", "layer_profile.py"), *NAMES,
         "--sf", sf_dir, "--reps", "2"],
        capture_output=True, text=True, timeout=600, cwd=REPO,
    )
    assert r.returncode == 0, r.stderr[-3000:]
    lines = r.stdout.strip().splitlines()
    assert len(lines) == 1, r.stdout[-2000:]
    out = json.loads(lines[0])
    assert out["errors"] == {}
    assert list(out["entries"]) == NAMES
    for name, entry in out["entries"].items():
        assert len(entry["reps"]) == 2, name
        assert entry["bound"] in ("compile", "schedule", "execute")
        for rep in entry["reps"]:
            assert all(rep[k] >= 0 for k in LAYERS), (name, rep)
            assert abs(sum(rep[k] for k in LAYERS) - rep["wall_s"]) <= 0.001, (name, rep)
            assert rep["jobs"] >= 1, (name, rep)
            # the event log's attribution by time agrees with the job group
            st = rep["status_tracker"]
            assert (rep["jobs"], rep["stages"], rep["tasks"]) == (
                st["jobs"], st["stages"], st["tasks"]
            ), (name, rep)
