"""Benchmark runner: every registered query at $SPARK_GRAFT_SF_DIR (default sf0.1).

Queries run in q-number order. Prints the full record as one JSON line:
  {"run_id": "...", "metric": "...", "value": <total_sec>, "unit": "sec",
   "queries": {"q01_...": sec, ...}, "sf": 0.1, "runs": 3, "stat": "median",
   "floor_sec": <sec>}
and writes the same record to BENCH_FULL.json. The LAST stdout line is a
compact summary: the same fields with only the 8 slowest queries, plus
"n_queries", "queries_shown" and "queries_file". It stays under 600 bytes
at any query count, so a capture that keeps only the tail of stdout still
parses (a single ~5 KB line once lost a run's headline number to tail
truncation). Both stdout lines and BENCH_FULL.json carry the same
"run_id"; a captured tail whose lines disagree on it mixes runs and must
not be compared line-to-line.

Each query is fully MATERIALIZED via a noop-format write: every projection
expression, sort, and window actually executes (a count() action would let
Catalyst prune projection expressions and final sorts, under-measuring
expression-heavy queries). Results stay on executors; nothing is collected.

Per-query time is the MEDIAN of RUNS back-to-back runs, which damps the
single-digit-percent run-to-run noise of single warm timings.

This total is not the project's performance claim surface; that is
perfbench/ and BENCHMARK.json.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

RUNS = 3
BENCH_FULL = os.path.join(os.path.dirname(os.path.abspath(__file__)), "BENCH_FULL.json")


def query_names() -> list[str]:
    """Every registered query, in q-number order (q2 before q10)."""
    from airflow_spotify_etl_spark.plans import all_queries

    return sorted(all_queries(), key=lambda n: int(n[1:n.index("_")]))


def _median_noop(make_df) -> tuple[float, list[float]]:
    """Median wall time of RUNS noop writes of ``make_df()``, and the samples."""
    samples = []
    for _ in range(RUNS):
        t0 = time.perf_counter()
        make_df().write.format("noop").mode("overwrite").save()
        samples.append(time.perf_counter() - t0)
    return round(statistics.median(samples), 3), samples


def run(spark, sf_dir: str, names: list[str] | None = None) -> dict:
    """Time ``names`` (default: every query) at ``sf_dir``; print the full
    and the compact JSON lines, write BENCH_FULL.json, return the full record."""
    from airflow_spotify_etl_spark.plans import all_queries

    try:
        sf = float(os.path.basename(sf_dir.rstrip("/")).removeprefix("sf"))
    except ValueError:
        sf = -1.0
    names = names or query_names()
    qs = all_queries()
    run_id = f"{int(time.time())}-{os.getpid()}"

    # Warm the JVM, file-listing, and codegen caches so the first timed query
    # doesn't pay session startup: trivial action + one untimed query run.
    spark.range(1).count()
    qs[names[0]](spark, sf_dir).write.format("noop").mode("overwrite").save()

    # Empty-plan floor: the fixed per-query cost (job scheduling, noop
    # commit, Py4J round-trips) that every sub-second reading carries.
    floor_sec, _ = _median_noop(lambda: spark.range(1))
    print(f"# empty-plan floor: {floor_sec:.3f}s", file=sys.stderr)

    timings: dict[str, float] = {}
    for name in names:
        timings[name], samples = _median_noop(lambda: qs[name](spark, sf_dir))
        print(
            f"# {name}: median {timings[name]:.3f}s of "
            f"{[round(s, 3) for s in samples]}",
            file=sys.stderr,
        )

    full = {
        "run_id": run_id,
        "metric": "headline_queries_total_sec",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "queries": timings,
        "sf": sf,
        "runs": RUNS,
        "stat": "median",
        "floor_sec": floor_sec,
    }
    with open(BENCH_FULL, "w") as f:
        json.dump(full, f, separators=(",", ":"))
        f.write("\n")
    print(json.dumps(full, separators=(",", ":")))
    slowest = dict(sorted(timings.items(), key=lambda kv: kv[1], reverse=True)[:8])
    compact = {
        **full,
        "queries": slowest,
        "n_queries": len(timings),
        "queries_shown": "8 slowest",
        "queries_file": os.path.basename(BENCH_FULL),
    }
    print(json.dumps(compact, separators=(",", ":")))
    return full


def main() -> None:
    from airflow_spotify_etl_spark.session import get_spark

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    run(get_spark("bench"), sf_dir)


if __name__ == "__main__":
    main()
