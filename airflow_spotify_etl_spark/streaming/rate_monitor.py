"""Streaming event-rate monitoring: maintain per-type hourly counts as
a mergeable store and recompute anomaly flags from their sum — the
streaming twin of the oracle-checked q118 batch operator.

Counts are the simplest mergeable state there is (addition), so the
store uses the batch-partial layout of ``streaming/drain.write_partial``:
each micro-batch writes its OWN hourly partial counts under
``batch=<id>`` and a reader sums partials per (type, hour). foreachBatch
retries overwrite their own partition with identical data — never
double-count. An hour split across micro-batches (late data, restarts)
merges correctly by construction; no watermark is needed because the
state is per-hour counts, not per-event.

At 100 TB: the store grows by (types × hours touched) per batch — tiny
next to the stream — and the flag recompute (`rate_anomalies_hourly`)
runs on hour-cardinality data, so monitoring cost is independent of
event volume beyond the one per-batch count aggregate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .drain import drain, write_partial

__all__ = ["run_rate_monitor", "read_rate_flags"]


def _apply_rate_batch(
    bdf: DataFrame,
    store_path: str,
    batch_id: int,
    ts_col: str,
    type_col: str,
) -> None:
    hourly = bdf.groupBy(
        type_col, F.date_trunc("hour", ts_col).alias("hour_ts")
    ).agg(F.count("*").alias("cnt"))
    write_partial(hourly, store_path, batch_id)


def run_rate_monitor(
    spark: SparkSession,
    stream: DataFrame,
    store_path: str,
    checkpoint: str,
    ts_col: str = "ts",
    type_col: str = "event_type",
) -> None:
    """Drain ``stream`` (availableNow), accumulating per-batch hourly
    partial counts into the store."""
    drain(
        stream,
        checkpoint,
        lambda bdf, batch_id: _apply_rate_batch(
            bdf, store_path, batch_id, ts_col, type_col
        ),
    )


def read_rate_flags(
    spark: SparkSession,
    store_path: str,
    type_col: str = "event_type",
    factor: int = 3,
    n_lags: int = 8,
) -> DataFrame:
    """Merge the stored partials (one sum across batches) and flag — the
    result is IDENTICAL to running the batch operator on the union of
    every drained event (pytest-pinned: the partial-count merge is
    exact addition, and the flag core is shared code)."""
    from ..operators.quality import rate_anomalies_hourly

    partials = spark.read.parquet(store_path)
    hourly = partials.groupBy(type_col, "hour_ts").agg(
        F.sum("cnt").alias("cnt")
    )
    return rate_anomalies_hourly(hourly, type_col, factor, n_lags)
