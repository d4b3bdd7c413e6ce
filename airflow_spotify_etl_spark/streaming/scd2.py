"""Streaming SCD-2 maintenance: keep a stored dimension-history table
current from an event stream, one incremental apply per micro-batch.

Composes the pieces this engine already verifies separately — the
availableNow drain (ST1), and `scd2_apply_delta`, whose
equal-to-full-rebuild property is hash-checked by q80 — into the shape a
warehouse actually runs: the run table lives as a parquet table; each
batch folds in WITHOUT re-reading event history.

Ordering contract: within a key, batches must arrive in event-time order
(each batch's events later than the stored history — what a checkpointed
max-ts cursor source guarantees, like pipeline 2's in pipelines/etl.py).
Late events would need a reconciliation pass (re-run `scd2_runs` over the
affected keys' history); detection of such keys is the `withWatermark`
late-data path (ST4).

The store is replaced whole per batch through
``streaming/drain.replace_store`` (materialize, then a crash-safe
rename-first swap; an existing store that cannot be read fails the
batch rather than restarting history). At scale, partition the run
table by key range and rewrite only partitions with batch activity
(dynamic partition overwrite), the same touch-only-the-delta argument
as operators/incremental.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from .drain import drain, replace_store

__all__ = ["run_scd2_maintenance"]


def run_scd2_maintenance(
    spark: SparkSession,
    stream: DataFrame,
    store_path: str,
    checkpoint: str,
) -> None:
    """Drain ``stream`` (availableNow) into the SCD-2 run table at
    ``store_path``, applying each micro-batch incrementally."""
    from ..operators.incremental import scd2_apply_delta, scd2_runs

    def apply_batch(bdf: DataFrame, batch_id: int) -> None:
        replace_store(
            spark,
            store_path,
            lambda current: scd2_runs(bdf)
            if current is None
            else scd2_apply_delta(current, bdf),
        )

    drain(stream, checkpoint, apply_batch)
