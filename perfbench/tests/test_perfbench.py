"""Tests of the benchmark itself: seeded inputs, span arithmetic, event-log
parsing, a tiny-size run of every workload in both modes, and a corrupted
output that must fail the run.

    python3 -m pytest perfbench/tests -q

The run tests start Spark in a subprocess each (about 40 s apiece).
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import gen  # noqa: E402
import run as bench_run  # noqa: E402
import spans  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)
WORKLOADS = [w["name"] for w in SPEC["workloads"]]


def _run(*args: str) -> tuple[int, dict, dict]:
    """Run the benchmark; fail if any process it started outlives it (this
    process adopts the run's orphans, so they show up as its children)."""
    bench_run.become_subreaper()
    proc = subprocess.run(
        [sys.executable, os.path.join("perfbench", "run.py"), *args],
        cwd=ROOT,
        capture_output=True,
        text=True,
        timeout=300,
    )
    left = bench_run._children()
    bench_run.stop_engine(grace_s=0.0)
    assert not left, f"processes outlived the run: {left}"
    lines = proc.stdout.strip().splitlines()
    assert len(lines) >= 2, proc.stderr[-2000:]
    return proc.returncode, json.loads(lines[-2])["report"], json.loads(lines[-1])


# -- inputs -----------------------------------------------------------------


def test_spotify_plan_is_a_function_of_the_seed():
    a, b, c = gen.spotify_days(5, 4), gen.spotify_days(5, 4), gen.spotify_days(6, 4)
    assert a.fingerprint() == b.fingerprint() != c.fingerprint()


def test_spotify_days_replay_the_previous_day():
    plan = gen.spotify_days(1, 3)
    n_replay = int(gen.PLAYS_PER_DAY * gen.REPLAY_SHARE)
    for prev, day in zip(plan.days, plan.days[1:]):
        keys = {it["played_at"] for it in day.items}
        assert len(day.items) == gen.PLAYS_PER_DAY == len(keys)
        assert len(keys & set(prev.new_keys)) == n_replay
        assert day.expected["recently_played_etl"]["rows_appended"] == len(day.new_keys)
    history_keys = {r["played_at"] for r in plan.history}
    assert len(history_keys) == len(plan.history)
    assert len({it["played_at"] for it in plan.days[0].items} & history_keys) == n_replay


def test_canned_transport_honours_limit():
    day = gen.spotify_days(2, 1).days[0]
    t = gen.CannedTransport(day)
    page = t("https://api.spotify.com/v1/me/player/recently-played?limit=10", {})
    assert page["items"] == day.items[:10]


def test_corpus_is_a_function_of_the_seed():
    a, b, c = gen.corpus_plan(3, 200), gen.corpus_plan(3, 200), gen.corpus_plan(4, 200)
    assert a.fingerprint == b.fingerprint != c.fingerprint
    assert a.n_docs == 200 + 20 + 10 * gen.NEAR_DUP_COPIES
    assert a.n_unique_texts == 200 + 10 * gen.NEAR_DUP_COPIES
    assert a.n_planted_extra == 10 * gen.NEAR_DUP_COPIES
    assert all(len(c) == gen.NEAR_DUP_COPIES + 1 for c in a.near_clusters)


def test_tiled_copies_share_no_words():
    sample = gen.load_sample()
    assert len(sample) == gen.SAMPLE_DOCS == len({t for _, t in sample})
    docs = gen.tile(sample, 2 * len(sample))
    first = {w for _, t in docs[: len(sample)] for w in t.split(" ")}
    second = {w for _, t in docs[len(sample) :] for w in t.split(" ")}
    assert docs[: len(sample)] == sample and not first & second


def test_child_process_writes_the_planned_inputs(tmp_path):
    # The child runs under another hash seed, so this also pins the
    # generators' independence from set and dict iteration order.
    assert gen.materialize("corpus", 3, 200, str(tmp_path / "c")) == gen.corpus_plan(3, 200).fingerprint
    assert gen.materialize("history", 3, 2, str(tmp_path / "h")) == gen.spotify_days(3, 2).fingerprint()


def test_round_half_up_matches_spark_rounding():
    assert gen.round_half_up(2.675) == 2.68  # binary double 2.67499..., Spark HALF_UP on "2.675"
    assert gen.round_half_up(0.125) == 0.13


# -- span arithmetic and event log -----------------------------------------


def test_self_time_subtracts_overlapping_children():
    parent = spans.Span(1, "p", None, 1, 0.0, 10.0)
    kids = [spans.Span(2, "a", 1, 1, 1.0, 4.0), spans.Span(3, "b", 1, 1, 3.0, 6.0)]
    assert spans.union_length([(1.0, 4.0), (3.0, 6.0), (8.0, 9.0)]) == 6.0
    rep = spans.layer_report([parent, *kids], [], [1], cores=4)
    assert rep["layers"]["p"]["self_s"] == pytest.approx(5.0)
    assert rep["layers"]["a"]["self_s"] == pytest.approx(3.0)


def test_event_log_jobs_attach_to_spans(tmp_path):
    group = f"{spans._GROUP_PREFIX}2"
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 1000,
         "Stage IDs": [0], "Properties": {"spark.jobGroup.id": group, "callSite.short": "collect at x.py:1"}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 0, "Task Metrics": {
            "Executor Run Time": 40, "Executor CPU Time": 30_000_000, "JVM GC Time": 5,
            "Memory Bytes Spilled": 0, "Disk Bytes Spilled": 0,
            "Shuffle Read Metrics": {"Remote Bytes Read": 0, "Local Bytes Read": 7},
            "Shuffle Write Metrics": {"Shuffle Bytes Written": 11},
            "Input Metrics": {"Bytes Read": 100}}},
        {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 1500},
    ]
    (tmp_path / "app-1").write_text("".join(json.dumps(e, separators=(",", ":")) + "\n" for e in events))
    jobs = spans.read_event_log(str(tmp_path))
    assert [(j.tasks, j.bytes_read, j.shuffle_write, j.call_site) for j in jobs] == [
        (1, 100, 11, "collect at x.py:1")
    ]
    root = spans.Span(1, "op", None, 1, 0.9, 2.0)
    child = spans.Span(2, "sinks.append", 1, 1, 0.95, 1.9)
    rep = spans.layer_report([root, child], jobs, [1], cores=4)
    assert rep["layers"]["sinks.append"]["jobs"] == 1
    assert rep["spark"]["driver_s"] == pytest.approx(1.1 - 0.5)
    assert rep["spark"]["executor_run_s"] == pytest.approx(0.04)


# -- end-to-end runs --------------------------------------------------------


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", WORKLOADS)
def test_tiny_run_reports_every_metric(workload, trace):
    code, report, result = _run(
        "--workload", workload, "--seed", "11", "--seconds", "30",
        "--trace", str(trace), "--scale", "0.05",
    )
    assert code == 0, report["problems"]
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True and result["failed"] == 0
    assert result["attempted"] >= 1
    kind = "per_layer" if trace else "end_to_end"
    expected = {m["name"]: m["unit"] for m in SPEC[kind]}
    assert {k: v["unit"] for k, v in result["metrics"].items()} == expected
    if not trace:
        assert all(v["value"] > 0 for v in result["metrics"].values())


@pytest.mark.parametrize("workload", WORKLOADS)
def test_corrupted_output_fails_the_run(workload):
    code, report, result = _run(
        "--workload", workload, "--seed", "12", "--seconds", "30",
        "--scale", "0.05", "--corrupt",
    )
    assert code != 0
    assert result["correct"] is False and result["failed"] >= 1
    assert report["problems"]
