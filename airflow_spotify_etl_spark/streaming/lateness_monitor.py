"""Streaming lateness maintenance: keep the out-of-orderness profile
of an event stream current across micro-batches — the streaming twin
of the oracle-checked q362 batch watermark-delay planner, sharing its
exact core (operators/incremental.lateness_tier_counts) and the
batch-partial store layout of ``streaming/drain.write_partial``.

Cross-batch exactness: lateness depends on everything that arrived
BEFORE an event, so each batch seeds the shared core with the max
event time of every EARLIER batch (read from the store, ``batch <
current id`` only — a foreachBatch RETRY recomputes from the same
priors and overwrites its own partition with identical rows). With micro-batches split along the arrival
order (batch order, event_id within a batch — the same arrival proxy
q362 uses), the merged profile is IDENTICAL to running q362 over the
union of every drained row (pytest-pinned).

At 100 TB: per-batch state is ≤5 tier rows plus one max regardless of
batch volume; the in-batch work is the audited two-phase prefix-MAX
plan; the store grows by one bounded partial per batch.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.utils import AnalysisException

from .drain import drain, write_partial

__all__ = [
    "run_lateness_monitor",
    "read_lateness_profile",
    "run_delay_curve_monitor",
    "read_delay_curve",
]


def _prior_max_us(
    spark: SparkSession, store_path: str, batch_id: int
) -> int | None:
    """Max event time across partials with batch < batch_id (None when
    no earlier batch exists) — the retry-stable seed."""
    try:
        prior = spark.read.parquet(store_path).filter(
            F.col("batch") < batch_id
        )
    except AnalysisException:
        return None
    row = prior.agg(F.max("batch_max_us").alias("m")).collect()[0]
    return None if row.m is None else int(row.m)


def _batch_max_col(bdf: DataFrame):
    """The batch's max event time as a literal ``batch_max_us`` column —
    what later batches' ``_prior_max_us`` reads back."""
    bmax = bdf.agg(
        F.expr("max(unix_micros(ts))").alias("m")
    ).collect()[0].m
    # A non-empty batch whose ts values are all NULL has no batch max:
    # store a NULL batch_max_us (prior-max readers already skip NULLs)
    # rather than raising inside foreachBatch and failing the stream.
    return F.lit(None if bmax is None else int(bmax)).cast("long")


def _apply_lateness_batch(
    spark: SparkSession, bdf: DataFrame, store_path: str, batch_id: int
) -> None:
    from ..operators.incremental import lateness_tier_counts

    prev = _prior_max_us(spark, store_path, batch_id)
    tiers = lateness_tier_counts(bdf, prev_max_us=prev).withColumn(
        "batch_max_us", _batch_max_col(bdf)
    )
    write_partial(tiers, store_path, batch_id)


def run_lateness_monitor(
    spark: SparkSession,
    stream: DataFrame,
    store_path: str,
    checkpoint: str,
) -> None:
    """Drain ``stream`` (availableNow), accumulating per-batch lateness
    partials into the store."""
    drain(
        stream,
        checkpoint,
        lambda bdf, batch_id: _apply_lateness_batch(
            spark, bdf, store_path, batch_id
        ),
    )


def read_lateness_profile(spark: SparkSession, store_path: str) -> DataFrame:
    """Merge the stored partials into the stream's lateness profile —
    identical to the q362 batch relation over the union of every
    drained row (tier counts are additive; shares recompute on the
    merged totals)."""
    partials = spark.read.parquet(store_path)
    return (
        partials.groupBy("lateness_tier")
        .agg(F.sum("n_events").cast("long").alias("n_events"))
        .select(
            "lateness_tier",
            "n_events",
            F.expr(
                "(n_events * 1000000) div (sum(n_events) OVER ())"
            ).alias("share_ppm"),
        )
        .orderBy("lateness_tier")
    )


_DELAYS_US = [0, 1000000, 10000000, 60000000, 600000000, 3600000000]


def _apply_delay_curve_batch(
    spark: SparkSession, bdf: DataFrame, store_path: str, batch_id: int
) -> None:
    from ..operators.incremental import lateness_us

    prev = _prior_max_us(spark, store_path, batch_id)
    late = lateness_us(bdf, prev_max_us=prev)
    curve = (
        late.select(
            "late_us",
            F.explode(
                F.array(*[F.lit(d).cast("long") for d in _DELAYS_US])
            ).alias("delay_us"),
        )
        .groupBy("delay_us")
        .agg(
            F.count("*").cast("long").alias("n_events"),
            F.sum(
                F.when(F.col("late_us") > F.col("delay_us"), 1).otherwise(0)
            ).cast("long").alias("n_dropped"),
        )
        .withColumn("batch_max_us", _batch_max_col(bdf))
    )
    write_partial(curve, store_path, batch_id)


def run_delay_curve_monitor(
    spark: SparkSession,
    stream: DataFrame,
    store_path: str,
    checkpoint: str,
) -> None:
    """Streaming twin of the q378 watermark-delay COST curve: drain
    ``stream`` (availableNow), accumulating per-batch per-candidate
    drop-count partials (6 bounded rows per batch — counts are
    additive across batches because each batch's lateness seeds from
    the prior batches' max event time, exactly like the tier
    monitor). A foreachBatch RETRY recomputes from the same priors and
    overwrites its own partition with identical rows."""
    drain(
        stream,
        checkpoint,
        lambda bdf, batch_id: _apply_delay_curve_batch(
            spark, bdf, store_path, batch_id
        ),
    )


def read_delay_curve(spark: SparkSession, store_path: str) -> DataFrame:
    """Merge the stored partials into the stream-wide delay-cost curve
    — identical to the batch q378 relation over the union of every
    drained row (drop counts are additive; drop_ppm recomputes on the
    merged totals)."""
    partials = spark.read.parquet(store_path)
    return (
        partials.groupBy("delay_us")
        .agg(
            F.sum("n_events").cast("long").alias("n_events"),
            F.sum("n_dropped").cast("long").alias("n_dropped"),
        )
        .select(
            "delay_us",
            "n_events",
            "n_dropped",
            F.expr("(n_dropped * 1000000) div n_events").alias("drop_ppm"),
        )
        .orderBy("delay_us")
    )
