"""bench.py floors: merging saved bench runs into BASELINE_FLOORS.json.
Starts no Spark session and writes only under tmp_path."""

from __future__ import annotations

import json
import os

import bench

ROOT = os.path.join(os.path.dirname(__file__), "..")
RUNS = [os.path.join(ROOT, f) for f in ("BENCH_LOCAL_r15.json", "BENCH_LOCAL_r15_opt.json")]


def test_floors_merge_takes_each_querys_min(tmp_path):
    dest = tmp_path / "floors.json"
    assert bench.cmd_floors(RUNS, dest=str(dest)) == 0
    doc = json.loads(dest.read_text())
    assert doc["sf"] == 0.1
    assert doc["n_queries"] == len(doc["floors"]) == 50
    assert doc["total"] == 81.411
    assert [s["file"] for s in doc["sources"]] == [os.path.basename(p) for p in RUNS]
    a, b = (bench.read_wide_line(p)["queries"] for p in RUNS)
    assert doc["floors"] == {name: min(a[name], b[name]) for name in sorted(a)}


def test_floors_rejects_mixed_sf_and_missing_wide_line(tmp_path):
    wide = bench.read_wide_line(RUNS[0])
    other_sf = tmp_path / "sf001.json"
    other_sf.write_text(json.dumps(dict(wide, sf=0.01)) + "\n")
    summary_only = tmp_path / "summary.json"
    summary_only.write_text(json.dumps({"metric": "bench_summary", "sf": 0.1}) + "\n")
    dest = tmp_path / "floors.json"
    assert bench.cmd_floors([RUNS[0], str(other_sf)], dest=str(dest)) == 2
    assert bench.cmd_floors([str(summary_only)], dest=str(dest)) == 2
    assert not dest.exists()
