"""Spans around the engine's layer boundaries, and Spark job accounting.

``Tracer`` records spans (name, start, end, parent) in memory. Each span
sets the Spark job group of the calling thread, so every Spark job it
starts, including adaptive-execution stage jobs run on other threads, is
tagged with the innermost open span. ``instrument`` wraps the public
layer functions where their callers look them up (``pipelines/etl.py``
imports ``append_table`` by name, so the wrapper replaces that name in
``pipelines.etl``, not in ``sinks.writers``).

``read_event_log`` parses the Spark event log the traced run turns on,
and ``layer_report`` joins jobs and task metrics to spans to give each
layer's self time, job and task counts, and executor-side totals.
"""

from __future__ import annotations

import functools
import glob
import itertools
import json
import os
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass

__all__ = [
    "Span", "Tracer", "instrument", "restore", "read_event_log", "layer_report", "union_length",
]

_GROUP_PREFIX = "perfbench-span-"


@dataclass
class Span:
    sid: int
    name: str
    parent: int | None
    op: int | None  # index of the benchmark operation the span belongs to
    start: float
    end: float = 0.0


class Tracer:
    """In-memory span recorder; ``enabled=False`` makes every span free."""

    def __init__(self, spark, enabled: bool):
        self.sc = spark.sparkContext
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._ids = itertools.count(1)
        self.op: int | None = None
        self.bookkeeping_s = 0.0
        self.captured: dict[str, object] = {}  # last result per span name

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        t0 = time.perf_counter()
        parent = self._stack[-1] if self._stack else None
        s = Span(next(self._ids), name, parent.sid if parent else None, self.op, time.time())
        self.spans.append(s)
        self._stack.append(s)
        self.sc.setLocalProperty("spark.jobGroup.id", f"{_GROUP_PREFIX}{s.sid}")
        self.bookkeeping_s += time.perf_counter() - t0
        try:
            yield
        finally:
            t1 = time.perf_counter()
            s.end = time.time()
            self._stack.pop()
            group = f"{_GROUP_PREFIX}{self._stack[-1].sid}" if self._stack else None
            self.sc.setLocalProperty("spark.jobGroup.id", group)
            self.bookkeeping_s += time.perf_counter() - t1

    def wrap(self, name: str, fn):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                result = fn(*args, **kwargs)
            if self.enabled:
                self.captured[name] = result
            return result

        return traced


# (module, attribute, span name): each public layer function, patched in the
# namespace its caller resolves it from. Functions that only build a lazy plan
# (``flatten_with_defaults``, lang-ID, ``exact_dedup``) are not wrapped: their
# spans would time plan construction, not the jobs that later run them.
_FUNCTIONS = [
    ("airflow_spotify_etl_spark.pipelines.etl", "assert_quality", "operators.quality.assert"),
    ("airflow_spotify_etl_spark.pipelines.etl", "append_table", "sinks.append"),
    ("airflow_spotify_etl_spark.pipelines.etl", "write_csv", "sinks.csv"),
    ("airflow_spotify_etl_spark.pipelines.etl", "summary_record", "sinks.summary"),
    ("airflow_spotify_etl_spark.pipelines.etl", "console_display", "sinks.display"),
    ("airflow_spotify_etl_spark.pipelines.corpus", "minhash_lsh_pairs", "operators.dedup.minhash"),
    ("airflow_spotify_etl_spark.pipelines.corpus", "connected_components", "operators.dedup.components"),
    ("airflow_spotify_etl_spark.pipelines.corpus", "summary_record", "sinks.summary"),
    ("airflow_spotify_etl_spark.pipelines.corpus", "summary_record_observed", "sinks.observed_write"),
]

_REST_METHODS = ["search_artist", "top_tracks", "recently_played"]


def instrument(tracer: Tracer, job_module=None) -> list[tuple[object, str, object]]:
    """Wrap every layer entry point with a span; returns what to restore."""
    import importlib

    from airflow_spotify_etl_spark.sources.rest import SpotifyRestSource

    patched = []

    def patch(owner, attr, name):
        orig = getattr(owner, attr)
        patched.append((owner, attr, orig))
        setattr(owner, attr, tracer.wrap(name, orig))

    for mod_name, attr, name in _FUNCTIONS:
        patch(importlib.import_module(mod_name), attr, name)
    for attr in _REST_METHODS:
        patch(SpotifyRestSource, attr, "sources.rest.scan")
    for attr in ["run_top_tracks_etl", "run_recently_played_etl", "run_recently_played_analysis"]:
        if job_module is not None:
            patch(job_module, attr, "pipelines.etl")
    return patched


def restore(patched) -> None:
    for owner, attr, orig in reversed(patched):
        setattr(owner, attr, orig)


# --------------------------------------------------------------------------
# Event log


@dataclass
class Job:
    jid: int
    submit: float
    end: float = 0.0
    group: str | None = None
    call_site: str = ""
    tasks: int = 0
    run_ms: float = 0.0
    gc_ms: float = 0.0
    shuffle_write: int = 0
    shuffle_read: int = 0
    spill: int = 0
    bytes_read: int = 0
    scan_tasks: int = 0


def read_event_log(log_dir: str) -> list[Job]:
    """Jobs with their task metrics summed, from every event file under
    ``log_dir`` (plain or rolling layout, uncompressed)."""
    files = sorted(
        f for f in glob.glob(os.path.join(log_dir, "**", "*"), recursive=True)
        if os.path.isfile(f) and not os.path.basename(f).startswith((".", "appstatus"))
    )
    jobs: dict[int, Job] = {}
    stage_job: dict[int, int] = {}
    exec_desc: dict[str, str] = {}
    for path in files:
        with open(path) as f:
            for line in f:
                kind = line[:120]
                if "SparkListenerTaskEnd" in kind:
                    e = json.loads(line)
                    jid = stage_job.get(e["Stage ID"])
                    m = e.get("Task Metrics")
                    if jid is None or not m:
                        continue
                    j = jobs[jid]
                    j.tasks += 1
                    j.run_ms += m["Executor Run Time"]
                    j.gc_ms += m["JVM GC Time"]
                    j.spill += m["Memory Bytes Spilled"] + m["Disk Bytes Spilled"]
                    sr = m["Shuffle Read Metrics"]
                    j.shuffle_read += sr["Remote Bytes Read"] + sr["Local Bytes Read"]
                    j.shuffle_write += m["Shuffle Write Metrics"]["Shuffle Bytes Written"]
                    read = m["Input Metrics"]["Bytes Read"]
                    if read:
                        j.bytes_read += read
                        j.scan_tasks += 1
                elif "SparkListenerJobStart" in kind:
                    e = json.loads(line)
                    props = e.get("Properties") or {}
                    j = Job(e["Job ID"], e["Submission Time"] / 1000.0)
                    j.group = props.get("spark.jobGroup.id")
                    j.call_site = props.get("callSite.short") or exec_desc.get(
                        props.get("spark.sql.execution.id"), ""
                    )
                    for sid in e["Stage IDs"]:
                        stage_job[sid] = j.jid
                    jobs[j.jid] = j
                elif "SparkListenerJobEnd" in kind:
                    e = json.loads(line)
                    if e["Job ID"] in jobs:
                        jobs[e["Job ID"]].end = e["Completion Time"] / 1000.0
                elif "SQLExecutionStart" in kind:
                    e = json.loads(line)
                    exec_desc[str(e["executionId"])] = e.get("description", "")
    return sorted(jobs.values(), key=lambda j: j.jid)


# --------------------------------------------------------------------------
# Report


def union_length(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by the (start, end) intervals, overlaps once."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def _self_times(spans: list[Span]) -> dict[int, float]:
    """Span duration minus the part of it its child spans cover."""
    children: dict[int, list[Span]] = defaultdict(list)
    for s in spans:
        if s.parent is not None:
            children[s.parent].append(s)
    return {
        s.sid: (s.end - s.start) - union_length([(c.start, c.end) for c in children[s.sid]])
        for s in spans
    }


def layer_report(spans: list[Span], jobs: list[Job], ops: list[int], cores: int) -> dict:
    """Per-operation layer totals over the traced operations ``ops``.

    Returns ``{span name: {"self_s", "calls", "jobs", "tasks"}}`` under
    ``"layers"`` and executor-side totals under ``"spark"``, each averaged
    per operation, plus the raw per-job attribution for call-site rules.
    """
    n_ops = max(len(ops), 1)
    op_set = set(ops)
    spans = [s for s in spans if s.op in op_set]
    by_sid = {s.sid: s for s in spans}
    selft = _self_times(spans)
    layers: dict[str, dict[str, float]] = defaultdict(
        lambda: {"self_s": 0.0, "calls": 0, "jobs": 0, "tasks": 0}
    )
    for s in spans:
        layers[s.name]["self_s"] += selft[s.sid]
        layers[s.name]["calls"] += 1
    op_jobs: list[tuple[Job, Span]] = []
    for j in jobs:
        if not j.end or not j.group or not j.group.startswith(_GROUP_PREFIX):
            continue
        s = by_sid.get(int(j.group[len(_GROUP_PREFIX):]))
        if s is None:
            continue
        op_jobs.append((j, s))
        layers[s.name]["jobs"] += 1
        layers[s.name]["tasks"] += j.tasks
    for v in layers.values():
        for k in v:
            v[k] /= n_ops
    roots = [s for s in spans if s.parent is None]
    wall = sum(s.end - s.start for s in roots)
    job_cover = 0.0
    for r in roots:
        ivs = [
            (max(j.submit, r.start), min(j.end, r.end))
            for j, _ in op_jobs
            if j.end > r.start and j.submit < r.end
        ]
        job_cover += union_length(ivs)
    run_s = sum(j.run_ms for j, _ in op_jobs) / 1000.0
    spark = {
        "jobs_per_op": len(op_jobs) / n_ops,
        "tasks_per_op": sum(j.tasks for j, _ in op_jobs) / n_ops,
        "driver_s": (wall - job_cover) / n_ops,
        "executor_run_s": run_s / n_ops,
        "cpu_util": run_s / (wall * cores) if wall else 0.0,
        "shuffle_write_bytes": sum(j.shuffle_write for j, _ in op_jobs) / n_ops,
        "shuffle_read_bytes": sum(j.shuffle_read for j, _ in op_jobs) / n_ops,
        "spill_bytes": sum(j.spill for j, _ in op_jobs) / n_ops,
        "gc_s": sum(j.gc_ms for j, _ in op_jobs) / 1000.0 / n_ops,
        "bytes_read": sum(j.bytes_read for j, _ in op_jobs) / n_ops,
        "scan_tasks": sum(j.scan_tasks for j, _ in op_jobs) / n_ops,
    }
    return {"layers": dict(layers), "spark": spark, "jobs": op_jobs, "n_ops": n_ops}
