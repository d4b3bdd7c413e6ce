"""Pipeline 2 as a NATIVE Structured Streaming job.

``run_recently_played_etl`` (etl.py) mirrors the reference's batch shape;
this is the same dataflow on the engine's own streaming primitives —
what the reference's hand-rolled daily loop (spotify_etl2.py:89-132,
`after = now()-24h`) becomes when the platform provides real streams:

    readStream(spotify_recently_played)     exact checkpointed offsets (ST2)
      → from_json + flatten_with_defaults   P2 projection, codegen
      → withWatermark + dropDuplicatesWithinWatermark   cross-batch ST5
      → writeStream parquet, availableNow   ST1: one drain per scheduled run

Offsets AND dedup state both live in the checkpoint: a replayed payload
(the reference's double-insert scenario) is suppressed twice over — the
source doesn't re-emit rows at-or-before the committed cursor, and the
dedup state drops replays inside the watermark horizon.
"""

from __future__ import annotations

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from ..operators.flatten import (
    RECENTLY_PLAYED_FIELDS,
    flatten_with_defaults,
    track_payload_schema,
)
from ..sources.datasource import SpotifyRecentlyPlayedSource
from ..streaming.pipelines import dedup_stream

__all__ = ["run_recently_played_stream"]


def run_recently_played_stream(
    spark: SparkSession,
    sink_path: str,
    checkpoint_path: str,
    source_options: dict | None = None,
    watermark: str = "7 days",
) -> dict:
    """One availableNow drain of the native stream; returns a K4 summary.
    ``source_options``: ``payload_json`` (canned/test) or ``token`` (live),
    plus ``limit``/``after_ms`` pushdown options."""
    spark.dataSource.register(SpotifyRecentlyPlayedSource)

    stream = spark.readStream.format("spotify_recently_played")
    for k, v in (source_options or {}).items():
        stream = stream.option(k, v)

    track_schema = track_payload_schema()["track"].dataType
    nested = stream.load().select(
        "played_at", F.from_json("track_json", track_schema).alias("track")
    )
    flat = flatten_with_defaults(nested, RECENTLY_PLAYED_FIELDS).withColumn(
        "played_ts", F.to_timestamp("played_at")
    )
    deduped = dedup_stream(
        flat, ["played_at"], ts_col="played_ts", watermark=watermark
    ).drop("played_ts")

    q = (
        deduped.writeStream.format("parquet")
        .option("path", sink_path)
        .option("checkpointLocation", checkpoint_path)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    # The drain commits a batch (and a part file) even when the source is
    # empty, so the sink always exists here; an unreadable sink raises.
    row = spark.read.parquet(sink_path).agg(
        F.count("*").alias("n_rows"),
        F.countDistinct("artist_name").alias("unique_artists"),
        F.min("timestamp").alias("min_date"),
        F.max("timestamp").alias("max_date"),
    ).collect()[0]
    if row["n_rows"] == 0:
        return {"rows_in_sink": 0, "sink_path": sink_path, "status": "no_data"}
    return {
        "rows_in_sink": row["n_rows"],
        "unique_artists": row["unique_artists"],
        "date_range": f"{row['min_date']} to {row['max_date']}",
        "sink_path": sink_path,
        "status": "success",
    }
