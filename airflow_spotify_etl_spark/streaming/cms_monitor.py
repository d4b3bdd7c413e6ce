"""Streaming Count-Min sketch maintenance: keep a frequency sketch of a
token/key stream current without ever rescanning the corpus — the
streaming twin of the oracle-checked q259 batch operator
(operators/sketches.count_min_sketch).

CMS cells are additive (merge two sketches by summing matching
(row, bucket) counters), so the store uses the batch-partial layout of
``streaming/drain.write_partial``: each micro-batch writes its OWN
depth×width partial cells under ``batch=<id>``; a reader sums cells
across batches into the merged sketch and answers point estimates
against it. foreachBatch retries overwrite their own partition with
identical data — never double-count.

At 100 TB: per-batch state is <= depth·width cells regardless of batch
volume (the groupBy combines map-side), the store grows by one bounded
partial per batch, and estimate queries read only the cell relation —
frequency monitoring cost is independent of stream volume beyond the
one per-batch aggregate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .drain import drain, write_partial

__all__ = ["run_cms_monitor", "read_cms_estimates"]


def _apply_cms_batch(
    bdf: DataFrame,
    store_path: str,
    batch_id: int,
    key_col: str,
    depth: int,
    width: int,
) -> None:
    from ..operators.sketches import count_min_sketch
    cells = count_min_sketch(bdf, key_col, depth=depth, width=width)
    write_partial(cells, store_path, batch_id)


def run_cms_monitor(
    spark: SparkSession,
    stream: DataFrame,
    store_path: str,
    checkpoint: str,
    key_col: str = "event_type",
    depth: int = 4,
    width: int = 1024,
) -> None:
    """Drain ``stream`` (availableNow), accumulating per-batch CMS
    partial cells into the store."""
    drain(
        stream,
        checkpoint,
        lambda bdf, batch_id: _apply_cms_batch(
            bdf, store_path, batch_id, key_col, depth, width
        ),
    )


def read_cms_estimates(
    spark: SparkSession,
    store_path: str,
    probes: DataFrame,
    key_col: str = "event_type",
    width: int = 1024,
) -> DataFrame:
    """Merge the stored partials (one sum across batches per cell) and
    point-estimate the probe keys — the result is IDENTICAL to building
    one sketch over the union of every drained row (pytest-pinned: CMS
    merge is exact cell addition, and the estimate path is the shared
    operators/sketches.count_min_estimate)."""
    from ..operators.sketches import count_min_estimate

    partials = spark.read.parquet(store_path)
    # width rides the group keys so merging partials from incompatible
    # sketch configs surfaces as mixed widths in count_min_estimate
    # instead of silently summing unrelated buckets.
    merged = partials.groupBy("row", "bucket", "width").agg(
        F.sum("counter").alias("counter")
    )
    return count_min_estimate(merged, probes, key_col, width=width)
