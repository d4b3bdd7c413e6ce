"""Streaming HyperLogLog maintenance: keep per-key distinct-cardinality
registers current over a stream without rescanning history — the
streaming twin of the oracle-checked q302 batch operator
(operators/sketches.hll_registers / hll_estimate), in the batch-partial
store layout of ``streaming/drain.write_partial``.

HLL registers merge by register-wise MAX — associative, commutative and
IDEMPOTENT, which is strictly stronger than the CMS additive contract:
an at-least-once foreachBatch RETRY that re-writes the same partial (or
even double-writes it under two batch ids) cannot move any register, so
the merged estimate is replay-proof by algebra, not just by partition
overwrite discipline.

At 100 TB: per-batch state is ≤ |keys|·256 cells regardless of batch
volume (map-side combine), the store grows by one bounded partial per
batch, and estimates read only the register relation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .drain import drain, write_partial

__all__ = ["run_hll_monitor", "read_hll_estimates"]


def _apply_hll_batch(
    bdf: DataFrame,
    store_path: str,
    batch_id: int,
    key_col: str,
    value_col: str,
) -> None:
    from ..operators.sketches import hll_registers
    cells = hll_registers(bdf, value_col, key_cols=[key_col])
    write_partial(cells, store_path, batch_id)


def run_hll_monitor(
    spark: SparkSession,
    stream: DataFrame,
    store_path: str,
    checkpoint: str,
    key_col: str = "event_type",
    value_col: str = "user_id",
) -> None:
    """Drain ``stream`` (availableNow), accumulating per-batch HLL
    register partials into the store."""
    drain(
        stream,
        checkpoint,
        lambda bdf, batch_id: _apply_hll_batch(
            bdf, store_path, batch_id, key_col, value_col
        ),
    )


def read_hll_estimates(
    spark: SparkSession,
    store_path: str,
    key_col: str = "event_type",
) -> DataFrame:
    """Merge the stored partials (register-wise MAX across batches) and
    estimate per-key cardinality — IDENTICAL to building one sketch
    over the union of every drained row (pytest-pinned: max-merge is
    exact, and the estimate path is the shared
    operators/sketches.hll_estimate)."""
    from ..operators.sketches import hll_estimate

    partials = spark.read.parquet(store_path)
    merged = partials.groupBy(key_col, "j").agg(F.max("m").alias("m"))
    return hll_estimate(merged, key_cols=[key_col])
