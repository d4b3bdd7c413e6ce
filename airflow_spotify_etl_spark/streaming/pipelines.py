"""Structured Streaming pipelines (SURVEY.md §2.9 ST1-ST6).

The reference's pipeline 2 is a hand-rolled daily micro-batch stream
(spotify_etl2.py: `after = now-24h` cursor, PK check, SQLite append). Here
the same semantics are native Structured Streaming:

- ST1 micro-batch trigger  → ``availableNow`` per scheduled run (Airflow
  fires the job daily; each run drains whatever arrived — no overlap because
  the checkpoint serializes progress, replacing ``max_active_runs=1``
  semantics at the engine level).
- ST3 event time           → ``withWatermark`` on the event-time column.
- ST4 late-data policy     → watermark DROPS late rows; the reference WARNS
  and KEEPS (spotify_etl2.py:71-84). ``run_keep_late`` preserves keep-parity:
  ``foreachBatch`` runs the fused ``quality_report`` on every micro-batch
  (late rows counted → the WARN) and appends ALL rows to the sink (the KEEP)
  — no watermark ever filters the data path.
- ST5 exactly-once dedup   → ``dropDuplicates`` over the key with watermark
  state (cross-batch, unlike the reference's within-batch-only PK check).
- ST6 windows              → tumbling/sliding via ``F.window``, sessions via
  ``F.session_window``.

Scale: streaming state (dedup keys, open windows) lives in the state store
partitioned by key — set ``spark.sql.shuffle.partitions`` before the first
run (state partitioning is fixed at checkpoint creation). Watermarks bound
state size; without them state grows with |keys|.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.quality import quality_report
from .drain import drain

__all__ = [
    "windowed_stream",
    "dedup_stream",
    "sessionized_stream",
    "run_to_memory",
    "run_keep_late",
]


def windowed_stream(
    stream: DataFrame,
    ts_col: str = "ts",
    window: str = "1 hour",
    slide: str | None = None,
    watermark: str = "1 hour",
    group_cols: list[str] | None = None,
) -> DataFrame:
    """Tumbling (or sliding, when ``slide`` is set) event-time windowed
    aggregation — the streaming twin of plans.streaming_plans.q31 (identical
    grouping expression, so the batch oracle validates the semantics)."""
    win = (
        F.window(ts_col, window, slide) if slide else F.window(ts_col, window)
    ).alias("w")
    return (
        stream.withWatermark(ts_col, watermark)
        .groupBy(win, *(group_cols or []))
        .agg(F.count("*").alias("n_events"), F.round(F.sum("value"), 2).alias("total_value"))
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            *(group_cols or []),
            "n_events",
            "total_value",
        )
    )


def dedup_stream(
    stream: DataFrame,
    key_cols: list[str],
    ts_col: str = "ts",
    watermark: str = "7 days",
) -> DataFrame:
    """Cross-batch exactly-once dedup (ST5). The reference's PK check
    (spotify_etl2.py:61-62) only catches dups WITHIN one batch; this catches
    replays across runs. Uses ``dropDuplicatesWithinWatermark`` so state for
    a key is evicted once the watermark passes its event time — plain
    ``dropDuplicates(keys)`` ignores the watermark unless the event-time
    column is itself a dedup key, and its state grows with |keys| forever."""
    return stream.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(
        key_cols
    )


def sessionized_stream(
    stream: DataFrame,
    ts_col: str = "ts",
    gap: str = "30 minutes",
    watermark: str = "1 hour",
    key_col: str = "user_id",
) -> DataFrame:
    """Session windows with a gap timeout (ST6) — streaming twin of the
    batch lag+cumsum sessionization in plans.streaming_plans.q30."""
    return (
        stream.withWatermark(ts_col, watermark)
        .groupBy(F.session_window(ts_col, gap).alias("w"), key_col)
        .agg(F.count("*").alias("n_events"))
        .select(
            key_col,
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
        )
    )


def run_keep_late(
    stream: DataFrame,
    sink_path: str,
    checkpoint_path: str,
    key_col: str = "event_id",
    ts_col: str = "ts",
    freshness_days: int = 7,
) -> list[dict]:
    """ST4 warn-and-keep (reference semantics, spotify_etl2.py:71-84): late
    rows are COUNTED and WARNED but never dropped. A watermark can't express
    this (it drops), so the data path has none — ``foreachBatch`` appends
    every row to the sink and runs the fused ``quality_report`` per
    micro-batch for the late count. Drains available input synchronously
    (``streaming/drain.drain``) and returns one report dict per non-empty
    micro-batch (n_late_rows is the warn signal).

    Scale: the per-batch report is the same two metadata-cheap scans as the
    batch path (operators/quality.py); the append is a narrow write."""
    reports: list[dict] = []

    def _process(batch_df: DataFrame, batch_id: int) -> None:
        rep = (
            quality_report(batch_df, key_col=key_col, ts_col=ts_col,
                           freshness_days=freshness_days)
            .collect()[0]
            .asDict()
        )
        rep["batch_id"] = batch_id
        reports.append(rep)
        batch_df.write.mode("append").parquet(sink_path)

    drain(stream, checkpoint_path, _process)
    return reports


def run_to_memory(
    spark: SparkSession,
    stream: DataFrame,
    name: str,
    output_mode: str = "append",
) -> DataFrame:
    """Drain all available input synchronously into an in-memory table and
    return it (test/driver harness; production sinks are parquet/kafka via
    the same writeStream)."""
    q = (
        stream.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(name)
