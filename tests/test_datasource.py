"""Python Data Source tests: batch pushdown options, native streaming
offsets (resume without re-emitting), flatten integration."""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

from airflow_spotify_etl_spark.sources.datasource import SpotifyRecentlyPlayedSource


def _payload(n, start_min=0):
    return json.dumps(
        {
            "items": [
                {
                    "played_at": f"2024-01-01T10:{start_min + i:02d}:00.000Z",
                    "track": {"id": f"trk-{start_min + i}", "name": f"Song {start_min + i}",
                              "popularity": 50 + i},
                }
                for i in range(n)
            ]
        }
    )


@pytest.fixture(scope="module", autouse=True)
def _register(spark):
    spark.dataSource.register(SpotifyRecentlyPlayedSource)


def test_batch_read_returns_payload_rows(spark):
    df = (
        spark.read.format("spotify_recently_played")
        .option("payload_json", _payload(5))
        .load()
    )
    assert df.columns == ["played_at", "track_json"]
    assert df.count() == 5


def test_batch_read_flattens_through_the_same_path(spark):
    from airflow_spotify_etl_spark.operators.flatten import track_payload_schema

    df = (
        spark.read.format("spotify_recently_played")
        .option("payload_json", _payload(3))
        .load()
    )
    track_schema = track_payload_schema()["track"].dataType
    flat = df.select(
        "played_at",
        F.from_json("track_json", track_schema).alias("track"),
    ).select("played_at", "track.name", "track.popularity")
    rows = flat.orderBy("played_at").collect()
    assert rows[0]["name"] == "Song 0" and rows[0]["popularity"] == 50


def test_native_streaming_pipeline_end_to_end(spark, tmp_path):
    """Composed native pipeline 2: datasource stream → flatten → watermarked
    dedup → parquet. A re-drain with a replayed+grown payload appends only
    the genuinely new rows (offsets + dedup state both from the checkpoint),
    and the flattened 8-col schema incl. the timestamp slice lands in the
    sink."""
    from airflow_spotify_etl_spark.pipelines import run_recently_played_stream

    sink = str(tmp_path / "sink")
    ckpt = str(tmp_path / "ckpt")
    s1 = run_recently_played_stream(
        spark, sink, ckpt, source_options={"payload_json": _payload(3)}
    )
    assert s1["rows_in_sink"] == 3 and s1["status"] == "success"

    s2 = run_recently_played_stream(
        spark, sink, ckpt, source_options={"payload_json": _payload(5)}
    )
    assert s2["rows_in_sink"] == 5  # 3 replayed suppressed, 2 new appended
    sunk = spark.read.parquet(sink)
    assert sunk.select("played_at").distinct().count() == 5
    assert set(sunk.columns) >= {
        "song_name", "artist_name", "played_at", "timestamp", "track_id",
        "album_name", "duration_ms", "popularity",
    }
    assert s2["date_range"] == "2024-01-01 to 2024-01-01"


def test_native_stream_reports_no_data_and_raises_on_corrupt_sink(spark, tmp_path):
    """An empty drain commits an empty part file, so the sink exists but
    holds 0 rows: the summary says ``no_data``, not ``success``. A sink
    whose part files are unreadable raises instead of reporting empty."""
    from pathlib import Path

    from airflow_spotify_etl_spark.pipelines import run_recently_played_stream

    sink, ckpt = str(tmp_path / "sink"), str(tmp_path / "ckpt")
    empty = json.dumps({"items": []})
    s0 = run_recently_played_stream(
        spark, sink, ckpt, source_options={"payload_json": empty}
    )
    assert s0["status"] == "no_data" and s0["rows_in_sink"] == 0

    parts = list(Path(sink).glob("part-*"))
    assert parts
    for part in parts:
        part.write_bytes(b"not a parquet file")
    with pytest.raises(Exception, match="(?i)parquet"):
        run_recently_played_stream(
            spark, sink, ckpt, source_options={"payload_json": empty}
        )


def test_stream_offsets_resume_without_reemit(spark, tmp_path):
    """The native streaming cursor: batch 1 emits 3 rows; a restart with 2
    NEW rows in the payload emits only those 2 (checkpointed offset, ST2)."""
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "out")

    def drain(payload):
        q = (
            spark.readStream.format("spotify_recently_played")
            .option("payload_json", payload)
            .load()
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    drain(_payload(3))
    assert spark.read.parquet(out).count() == 3

    # Restart: same 3 rows plus 2 newer ones → only the 2 new rows land.
    drain(_payload(5))
    got = spark.read.parquet(out)
    assert got.count() == 5
    assert got.select("played_at").distinct().count() == 5


def test_wal_replay_is_exact_when_source_window_moves(spark, tmp_path):
    """With wal_dir set, readBetweenOffsets replays the ORIGINAL batch from
    storage even after the live payload has scrolled (exactly-once recovery
    against the moving 50-item API window)."""
    from airflow_spotify_etl_spark.sources.datasource import _StreamReader

    wal = str(tmp_path / "wal")
    opts = {"payload_json": _payload(3), "wal_dir": wal}
    reader = _StreamReader(opts)
    start = reader.initialOffset()
    rows, end = reader.read(start)
    original = list(rows)
    assert len(original) == 3

    # The API window moves on: the same offsets now cover different rows.
    reader.options["payload_json"] = _payload(2, start_min=30)
    replayed = list(reader.readBetweenOffsets(start, end))
    assert replayed == original  # WAL replay, not the drifted live fetch

    # Without a WAL the replay degrades to the (drifted) live fetch.
    bare = _StreamReader({"payload_json": _payload(2, start_min=30)})
    drifted = list(bare.readBetweenOffsets(start, end))
    assert drifted != original
