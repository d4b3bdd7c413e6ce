"""Streaming distribution-drift maintenance: keep per-group value
histograms current over a stream and answer EXACT pairwise total
variation distances against them — the streaming twin of the
oracle-checked q319 batch matrix (operators/incremental.tvd_matrix).

Histogram cells are additive (merge two histograms by summing matching
(group, value) counts), so the store uses the batch-partial layout of
``streaming/drain.write_partial``: each micro-batch writes its OWN
bounded partial under ``batch=<id>``; a reader sums cells across
batches into the merged histogram and computes the TVD matrix on it.
foreachBatch retries overwrite their own partition with identical data
— never double-count.

At 100 TB: per-batch state is ≤ |groups|·|values| cells regardless of
batch volume (the groupBy combines map-side), the store grows by one
bounded partial per batch, and drift queries read only the cell
relation — monitoring cost is independent of stream volume beyond the
one per-batch aggregate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .drain import drain, write_partial

__all__ = ["run_histogram_monitor", "read_tvd_matrix"]


def _apply_histogram_batch(
    bdf: DataFrame,
    store_path: str,
    batch_id: int,
    group_col: str,
    value_expr: str,
) -> None:
    cells = bdf.groupBy(
        F.col(group_col).alias("grp"), F.expr(value_expr).alias("v")
    ).agg(F.count("*").alias("c"))
    write_partial(cells, store_path, batch_id)


def run_histogram_monitor(
    spark: SparkSession,
    stream: DataFrame,
    store_path: str,
    checkpoint: str,
    group_col: str = "source",
    value_expr: str = "length(text)",
) -> None:
    """Drain ``stream`` (availableNow), accumulating per-batch histogram
    partials into the store."""
    drain(
        stream,
        checkpoint,
        lambda bdf, batch_id: _apply_histogram_batch(
            bdf, store_path, batch_id, group_col, value_expr
        ),
    )


def read_tvd_matrix(spark: SparkSession, store_path: str) -> DataFrame:
    """Merge the stored partials (one sum across batches per cell) and
    compute the exact pairwise TVD matrix — the result is IDENTICAL to
    running the q319 batch matrix over the union of every drained row
    (pytest-pinned: histogram merge is exact cell addition, and the TVD
    path is the shared operators/incremental.tvd_matrix)."""
    from ..operators.incremental import tvd_matrix

    partials = spark.read.parquet(store_path)
    merged = partials.groupBy("grp", "v").agg(F.sum("c").alias("c"))
    return tvd_matrix(merged, group_col="grp", value_col="v", count_col="c")
