"""bench.py's output contract: the full per-query JSON line, BENCH_FULL.json
and the compact last stdout line describe one run (same run_id), and the
compact line stays short enough for a capture that keeps only the tail of
stdout."""

from __future__ import annotations

import json

import bench

COMPACT_KEYS = {
    "run_id", "metric", "value", "unit", "queries", "sf", "runs", "stat",
    "n_queries", "queries_shown", "floor_sec", "queries_file",
}


def test_run_prints_full_then_compact_line_of_one_run(
    spark, sf_dir, tmp_path, monkeypatch, capsys
):
    full_path = tmp_path / "BENCH_FULL.json"
    monkeypatch.setattr(bench, "BENCH_FULL", str(full_path))
    names = ["q01_pricing_summary", "q05_global_stats"]

    full = bench.run(spark, sf_dir, names)

    *_, full_line, last = capsys.readouterr().out.strip().splitlines()
    compact = json.loads(last)
    assert len(last.encode()) < 600
    assert set(compact) == COMPACT_KEYS
    assert compact["n_queries"] == 2
    assert compact["sf"] == 0.001
    assert json.loads(full_line) == full == json.loads(full_path.read_text())
    assert compact["run_id"] == full["run_id"]
    assert list(full["queries"]) == names
    assert compact["value"] == full["value"]
