"""Focused gate for the r11 opt-in scan fan-out
(sources/files._maybe_parallelize): single-row-group parquet inputs are
hash-repartitioned on the table key to the session's core count right
after the read (optimization guide §2.5 — unsplittable input ⇒
repartition after the read) when a query opts in with
``load_table(..., parallelize=True)``, WITHOUT changing any query
result, losing predicate pushdown, or touching tiny dimension tables.
Default is OFF: the exchange has a measured ~0.25 s fixed cost per
query at bench scale, a pure tax for cheap-aggregate scans."""

from __future__ import annotations

import io
from contextlib import redirect_stdout

from pyspark.sql import functions as F

from airflow_spotify_etl_spark.sources.files import load_table

SF = "/root/testdata/sf0.001"


def test_default_is_pristine_single_partition(spark):
    assert load_table(spark, SF, "orders").rdd.getNumPartitions() == 1


def test_opt_in_fans_out_to_cores(spark):
    cores = spark.sparkContext.defaultParallelism
    for name in ("orders", "documents", "embeddings", "events"):
        got = load_table(spark, SF, name, parallelize=True).rdd.getNumPartitions()
        assert got == cores, (name, got)


def test_tiny_dims_stay_single_partition_even_opted_in(spark):
    # region (5 rows), nation (25), supplier (10): below 4 rows/core —
    # an exchange would cost more than single-task evaluation.
    for name in ("region", "nation", "supplier"):
        got = load_table(spark, SF, name, parallelize=True).rdd.getNumPartitions()
        assert got == 1, (name, got)


def test_kill_switch(spark, monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_SCAN_PARALLELIZE", "0")
    assert (
        load_table(spark, SF, "orders", parallelize=True).rdd.getNumPartitions()
        == 1
    )


def test_filter_still_pushes_into_scan(spark):
    df = load_table(spark, SF, "orders", parallelize=True).filter(
        F.col("o_orderkey") == 7
    )
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    plan = buf.getvalue()
    assert "PushedFilters" in plan and "EqualTo(o_orderkey,7)" in plan, plan


def test_no_sort_before_repartition(spark):
    """Hash repartition on the table key must NOT pay the round-robin
    determinism sort (SPARK-23207) inside the single scan task."""
    df = load_table(spark, SF, "lineitem", parallelize=True)
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    plan = buf.getvalue()
    assert "REPARTITION_BY_NUM" in plan or "hashpartitioning" in plan, plan
    assert "Sort" not in plan, plan


def test_results_identical_with_and_without(spark):
    def rows(df):
        return sorted(map(tuple, df.collect()))

    from airflow_spotify_etl_spark.operators.dedup import ngram_jaccard_pairs

    docs_on = load_table(spark, SF, "documents", parallelize=True)
    docs_off = load_table(spark, SF, "documents")
    on = rows(ngram_jaccard_pairs(docs_on, threshold=0.5, max_bucket=1000))
    off = rows(ngram_jaccard_pairs(docs_off, threshold=0.5, max_bucket=1000))
    assert on == off and len(on) > 0


def test_footer_read_failure_is_not_cached(tmp_path, monkeypatch):
    """A failed footer read answers None but is retried on the next call;
    only a successful read is cached for the file version."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from airflow_spotify_etl_spark.sources import files

    path = str(tmp_path / "t.parquet")
    pq.write_table(pa.table({"x": [1, 2, 3]}), path)
    real = pq.ParquetFile
    calls = []

    def flaky(p, *a, **kw):
        calls.append(p)
        if len(calls) == 1:
            raise OSError("transient read failure")
        return real(p, *a, **kw)

    monkeypatch.setattr(pq, "ParquetFile", flaky)
    assert files._footer_facts(path) is None
    assert files._footer_facts(path) == (1, 3)
    assert files._footer_facts(path) == (1, 3)
    assert len(calls) == 2
