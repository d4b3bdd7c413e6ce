"""The benchmark's workloads: what one operation is and how it is checked.

A workload prepares its inputs from the seed (untimed), runs ``n_ops``
operations one after another (``run.py`` times each), and checks the
outputs.

- ``DagDay``      one operation = one Airflow DAG run: the three
  ``JOB_SPECS`` tasks, in order, through ``jobs/run_pipeline.main`` with a
  canned REST source for the day, appending to a sink that starts with a
  year of date partitions. Consecutive operations are consecutive days.
- ``CorpusBuild`` one operation = ``run_corpus_pipeline`` with its defaults
  over the generated ``documents`` table, read through ``load_table``.
"""

from __future__ import annotations

import contextlib
import importlib.util
import io
import os
import shutil
import statistics
import time

import gen

__all__ = ["DagDay", "CorpusBuild", "WORKLOADS"]

TASKS = ["top_tracks_etl", "recently_played_etl", "recently_played_analysis"]
PROBE_REPS = 3


def _load_job_module(root: str):
    path = os.path.join(root, "jobs", "run_pipeline.py")
    spec = importlib.util.spec_from_file_location("run_pipeline", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def _diff(got: dict, expected: dict) -> list[str]:
    return [
        f"{k}: got {got.get(k)!r}, expected {v!r}"
        for k, v in expected.items()
        if got.get(k) != v
    ]


def _fingerprint_check(child: str, plan: str) -> None:
    if child != plan:
        raise RuntimeError(f"generated inputs {child} differ from the plan {plan}")


class DagDay:
    name = "dag_day"

    def __init__(self, spark, root: str, work: str, seed: int, scale: float, tracer, n_ops: int):
        self.spark, self.work, self.seed, self.tracer = spark, work, seed, tracer
        self.job = _load_job_module(root)
        self.n_days = n_ops
        self.sink = os.path.join(work, "sink")
        self.ops_run = 0
        self.appended = 0
        self.fetched = 0

    def prepare(self) -> dict:
        self.plan = gen.spotify_days(self.seed, self.n_days)
        history = os.path.join(self.work, "history")
        _fingerprint_check(
            gen.materialize("history", self.seed, self.n_days, history), self.plan.fingerprint()
        )
        shutil.copytree(history, self.sink)
        conf = self.spark.conf
        conf.set("spark.spotify.db_path", self.sink)
        conf.set("spark.spotify.display_results", "false")
        conf.set("spark.spotify.market", "US")
        return {
            "input_fingerprint": self.plan.fingerprint(),
            "history_rows": len(self.plan.history),
            "history_days": gen.HISTORY_DAYS,
            "first_day": self.plan.start,
            "days": self.n_days,
        }

    def run_op(self, i: int) -> list[str]:
        day = self.plan.days[i]
        from airflow_spotify_etl_spark.sources.rest import SpotifyRestSource

        self.ops_run = i + 1
        problems = []
        for task in TASKS:
            self.spark.conf.set("spark.spotify.output_path", os.path.join(self.work, "out", task))
            self.spark.conf.set("spark.spotify.artist_name", day.artist["name"])
            source = SpotifyRestSource(self.spark, transport=gen.CannedTransport(day), token="bench")
            with self.tracer.span(f"jobs.{task}"), contextlib.redirect_stdout(io.StringIO()):
                summary = self.job.main([task], source=source)
            problems += [f"{day.date} {task} {p}" for p in _diff(summary, day.expected[task])]
            if task == "recently_played_etl":
                self.appended += summary.get("rows_appended", 0)
                self.fetched += summary.get("tracks_processed", 0)
        return problems

    def check(self) -> list[str]:
        """Every play lands once: sink keys equal the history plus each
        run day's fresh plays, with no key twice."""
        from pyspark.sql import functions as F

        expected = {r["played_at"] for r in self.plan.history}
        for day in self.plan.days[: self.ops_run]:
            expected.update(day.new_keys)
        rows = self.spark.read.parquet(self.sink).select(F.col("played_at")).collect()
        keys = [r[0] for r in rows]
        problems = []
        if len(keys) != len(set(keys)):
            problems.append(f"sink holds {len(keys) - len(set(keys))} repeated plays")
        if set(keys) != expected:
            problems.append(
                f"sink keys differ: {len(set(keys) - expected)} unexpected, "
                f"{len(expected - set(keys))} missing"
            )
        return problems

    def corrupt(self) -> None:
        """Re-append one play that is already in the sink."""
        dup = self.spark.read.parquet(self.sink).limit(1)
        dup.write.mode("append").partitionBy("timestamp").parquet(self.sink)

    def probes(self) -> dict[str, float]:
        return {}

    def counts(self) -> dict[str, float]:
        files = sum(f.endswith(".parquet") for _, _, fs in os.walk(self.sink) for f in fs)
        return {
            "sinks.append_useful_ratio": self.appended / self.fetched if self.fetched else 0.0,
            "sinks.table_files": files,
        }


class CorpusBuild:
    name = "corpus_build"

    def __init__(self, spark, root: str, work: str, seed: int, scale: float, tracer, n_ops: int):
        self.spark, self.work, self.seed, self.tracer = spark, work, seed, tracer
        self.n_base = max(100, int(gen.CORPUS_DOCS * scale))
        self.in_dir = os.path.join(work, "corpus")
        self.out_dir = os.path.join(work, "out")
        self.last: dict = {}

    def prepare(self) -> dict:
        self.plan = gen.corpus_plan(self.seed, self.n_base)
        _fingerprint_check(
            gen.materialize("corpus", self.seed, self.n_base, self.in_dir), self.plan.fingerprint
        )
        return {
            "input_fingerprint": self.plan.fingerprint,
            "docs": self.plan.n_docs,
            "unique_texts": self.plan.n_unique_texts,
            "near_dup_clusters": len(self.plan.near_clusters),
        }

    def _docs(self):
        from airflow_spotify_etl_spark.sources.files import load_table

        return load_table(self.spark, self.in_dir, "documents")

    def run_op(self, i: int) -> list[str]:
        from airflow_spotify_etl_spark.pipelines.corpus import run_corpus_pipeline

        with self.tracer.span("sources.files.load"):
            docs = self._docs()
        with self.tracer.span("pipelines.corpus"):
            summary = run_corpus_pipeline(self.spark, docs, self.out_dir)
        self.last = summary
        problems = _diff(
            summary,
            {"docs_in": self.plan.n_docs, "docs_after_exact_dedup": self.plan.n_unique_texts},
        )
        most = self.plan.n_unique_texts - self.plan.n_planted_extra
        if summary.get("docs_out", most + 1) > most:
            problems.append(
                f"docs_out {summary.get('docs_out')} > {most}: planted near duplicates survived"
            )
        return problems

    def check(self) -> list[str]:
        """Each planted near-duplicate cluster keeps at most one document,
        and the written corpus holds exactly ``docs_out`` documents."""
        ids = [r[0] for r in self.spark.read.parquet(self.out_dir).select("doc_id").collect()]
        problems = []
        if len(ids) != self.last.get("docs_out"):
            problems.append(f"output holds {len(ids)} docs, summary says {self.last.get('docs_out')}")
        kept = set(ids)
        bad = [c for c in self.plan.near_clusters if len(kept & set(c)) > 1]
        if bad:
            problems.append(f"{len(bad)} near-duplicate clusters keep more than one doc")
        if len(ids) != len(kept):
            problems.append("output repeats a doc_id")
        return problems

    def corrupt(self) -> None:
        """Write a second copy of one kept member of a planted cluster."""
        from pyspark.sql import functions as F

        out = self.spark.read.parquet(self.out_dir)
        members = [d for c in self.plan.near_clusters for d in c]
        dup = out.filter(F.col("doc_id").isin(members)).limit(1)
        dup.write.mode("append").partitionBy("pred_lang").parquet(self.out_dir)

    def probes(self) -> dict[str, float]:
        """Lang-ID and exact dedup on their own. Inside the pipeline both
        only build plans; their jobs run fused with the gates in the
        frontier checkpoint. Here each runs over the checkpointed, gated
        documents and is materialized with a noop write; median of
        ``PROBE_REPS``."""
        from airflow_spotify_etl_spark.operators.dedup import exact_dedup
        from airflow_spotify_etl_spark.operators.text import fit_lang_profiles, predict_lang
        from airflow_spotify_etl_spark.pipelines.corpus import quality_filter, repetition_filter

        clean = repetition_filter(quality_filter(self._docs())).localCheckpoint(eager=True)

        def timed(build) -> float:
            times = []
            for _ in range(PROBE_REPS):
                t = time.perf_counter()
                build().write.format("noop").mode("overwrite").save()
                times.append(time.perf_counter() - t)
            return statistics.median(times)

        return {
            "operators.text.lang_probe_s": timed(
                lambda: predict_lang(clean, fit_lang_profiles(clean))
            ),
            "operators.dedup.exact_probe_s": timed(lambda: exact_dedup(clean)),
        }

    def counts(self) -> dict[str, float]:
        from pyspark.sql import functions as F

        s = self.last
        n_in, n_exact, n_out = s.get("docs_in", 0), s.get("docs_after_exact_dedup", 0), s.get("docs_out", 0)
        out = {
            "operators.dedup.exact_drop_ratio": (n_in - n_exact) / n_in if n_in else 0.0,
            "operators.dedup.near_drop_ratio": (n_exact - n_out) / n_exact if n_exact else 0.0,
        }
        pairs = self.tracer.captured.get("operators.dedup.minhash")
        comp = self.tracer.captured.get("operators.dedup.components")
        if pairs is not None:
            out["operators.dedup.near_pairs"] = pairs.count()
        if comp is not None:
            out["operators.dedup.components"] = (
                comp.filter(F.col("doc_id") != F.col("component"))
                .select("component").distinct().count()
            )
        return out


WORKLOADS = {w.name: w for w in (DagDay, CorpusBuild)}
