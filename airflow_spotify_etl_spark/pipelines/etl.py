"""The three composed pipelines (see package docstring).

Stage-to-operator mapping (SURVEY.md §3 lifecycle → engine modules):

    scan        sources/rest.py      S1-S6 (auth, search, top-tracks, after/limit)
    cursor      pipelines/etl.py     S5 durable ``after`` cursor beside the sink
    flatten     operators/flatten.py P1-P4/P9 (schema-with-defaults select)
    validate    operators/quality.py F1-F4 (one fused aggregation pass)
    sink        sinks/writers.py     K1 CSV / K2 idempotent append / K3 show
    summary     sinks/writers.py     K4 (one multi-aggregate collect)

All three run fully offline under tests via an injected transport — the
same injection seam the production path uses for credentials-free dry runs.
"""

from __future__ import annotations

import datetime as dt
import json

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from ..functions.strings import duration_mmss
from ..operators.flatten import (
    RECENTLY_PLAYED_FIELDS,
    TRACK_FIELDS,
    WIDE_TRACK_FIELDS,
    flatten_with_defaults,
)
from ..operators.quality import assert_quality
from ..sinks.writers import (
    append_table,
    console_display,
    hadoop_path,
    summary_record,
    write_csv,
)
from ..sources.rest import SpotifyRestSource

__all__ = [
    "run_top_tracks_etl",
    "run_recently_played_etl",
    "run_recently_played_analysis",
]


def _exec_date(execution_date: str | None) -> str:
    # The reference takes Airflow's `ds` from context and falls back to
    # today (spotify_etl.py:281).
    return execution_date or str(dt.date.today())


def run_top_tracks_etl(
    spark: SparkSession,
    source: SpotifyRestSource,
    artist_name: str,
    output_path: str,
    market: str = "US",
    execution_date: str | None = None,
) -> dict:
    """Pipeline 1 — ``run_spotify_etl`` (spotify_etl.py:197-285).

    search (S3, LIMIT-1) → top-tracks scan (S4, market param) → 10-col
    flatten with defaults (P1/P9) → one-pass stats (A1/A2) → CSV (K1) →
    summary (K4). Existence guards (F7) raise exactly where the reference
    raises (:221-234)."""
    artist_rows = source.search_artist(artist_name).take(1)
    if not artist_rows:
        raise ValueError(f"Artist {artist_name!r} not found")

    tracks = source.top_tracks(artist_rows[0]["artist_id"], market=market)
    flat = flatten_with_defaults(tracks, TRACK_FIELDS)

    stats = summary_record(
        flat,
        tracks_processed=F.count("*"),
        avg_popularity=F.round(F.avg("popularity"), 2),
    )
    if stats["tracks_processed"] == 0:
        raise ValueError(f"No tracks found for artist {artist_name!r}")

    out_path = write_csv(flat, output_path, single_file=True)
    return {
        "artist_name": artist_name,
        "tracks_processed": stats["tracks_processed"],
        "output_path": out_path,
        "avg_popularity": float(stats["avg_popularity"]),
        "execution_date": _exec_date(execution_date),
        "status": "success",
    }


def _cursor_path(spark: SparkSession, db_path: str):
    return hadoop_path(f"{db_path.rstrip('/')}/_cursor.json", spark)


def _read_cursor(spark: SparkSession, db_path: str) -> int | None:
    """The committed ``after`` cursor of the sink at ``db_path``, in the
    API's unit (epoch milliseconds), or ``None`` before the first commit."""
    fs, path = _cursor_path(spark, db_path)
    if not fs.exists(path):
        return None
    stream = fs.open(path)
    try:
        raw = spark._jvm.org.apache.commons.io.IOUtils.toString(stream, "UTF-8")
    finally:
        stream.close()
    return json.loads(raw)["after_ms"]


def _write_cursor(spark: SparkSession, db_path: str, after_ms: int) -> None:
    fs, path = _cursor_path(spark, db_path)
    out = fs.create(path, True)
    try:
        out.write(json.dumps({"after_ms": after_ms}).encode("utf-8"))
    finally:
        out.close()


def run_recently_played_etl(
    spark: SparkSession,
    source: SpotifyRestSource,
    db_path: str,
    limit: int = 50,
    freshness_days: int = 7,
    execution_date: str | None = None,
) -> dict:
    """Pipeline 2 — ``run_spotify_recently_played_etl``
    (spotify_etl2.py:231-282).

    incremental cursor scan (S5: after/limit pushed down) → 8-col flatten
    incl. the ``timestamp`` date slice (P2/P5) → validation suite (F1-F4,
    one fused pass; duplicate played_at raises like spotify_etl2.py:61-62)
    → idempotent append (K2 — fixes the reference's double-insert on
    re-run) → summary (K4: count / unique artists / date range) → cursor.

    The reference recomputes ``after`` from the wall clock
    (``now - 24h``, spotify_etl2.py:102-104), so a late run fetches plays
    twice and a skipped day loses plays. Here ``after`` is the newest
    committed ``played_at`` in epoch milliseconds, kept in
    ``{db_path}/_cursor.json`` (Spark's readers skip ``_`` files). It is
    written only after the append commits; a crash in between re-fetches
    the page and the append guard drops it. An empty page or a failed
    quality check leaves it as it was."""
    after_ms = _read_cursor(spark, db_path)
    raw = source.recently_played(after_ms=after_ms, limit=limit)
    flat = flatten_with_defaults(raw, RECENTLY_PLAYED_FIELDS).withColumn(
        "played_ts", F.to_timestamp("played_at")
    )
    report = assert_quality(
        flat, key_col="played_at", ts_col="played_ts", freshness_days=freshness_days
    )
    if report["status"] == "empty":
        return {"tracks_processed": 0, "status": "no_data"}

    # Partition the sink by the date slice: downstream reads of "recent
    # days" prune to those directories, and the append guard reads only
    # the batch's own dates (the date is played_at[:10], a function of the
    # key), so its key scan follows the batch, not the sink's age.
    appended = append_table(
        flat.drop("played_ts"), db_path, key="played_at",
        partition_date_col="timestamp",
    )

    stats = summary_record(
        flat,
        tracks_processed=F.count("*"),
        unique_artists=F.countDistinct("artist_name"),
        min_date=F.min("timestamp"),
        max_date=F.max("timestamp"),
        max_played_ms=F.unix_millis(F.max("played_ts")),
    )
    newest = [v for v in (after_ms, stats["max_played_ms"]) if v is not None]
    if newest:
        _write_cursor(spark, db_path, max(newest))
    return {
        "tracks_processed": stats["tracks_processed"],
        "rows_appended": appended,
        "unique_artists": stats["unique_artists"],
        "date_range": f"{stats['min_date']} to {stats['max_date']}",
        "n_late_rows": report["n_late_rows"],
        "database_location": db_path,
        "execution_date": _exec_date(execution_date),
        "status": "success",
    }


def run_recently_played_analysis(
    spark: SparkSession,
    source: SpotifyRestSource,
    output_path: str,
    limit: int = 10,
    display_results: bool = True,
    execution_date: str | None = None,
) -> dict:
    """Pipeline 3 — ``run_spotify_recently_played_analysis``
    (new.py:211-267).

    scan (S6 user-context via the source's auth provider; F6 clamp) →
    wide 12-col flatten (P3) + recency rank (W1, new.py:108,114) →
    optional console display with m:ss durations (K3/P8, new.py:143-175)
    → CSV (K1) → summary (K4: count / unique artists / rounded avg
    popularity / explicit count — the four stats of new.py:250-252 as ONE
    aggregate pass). The rank window is single-partition by design: the
    API caps the scan at 50 rows (F6), so no scale concern."""
    raw = source.recently_played(limit=limit)
    flat = flatten_with_defaults(raw, WIDE_TRACK_FIELDS)
    # One rank group for the whole page, keyed explicitly so WindowExec's
    # "No Partition Defined" warning stays for windows unbounded by
    # accident. A literal key would not do: the optimizer drops foldable
    # window keys and the warning returns. substring(played_at, 1, 0) is ""
    # on every row (played_at defaults to "") but not foldable, and the
    # source's one-partition frame satisfies it with no exchange.
    page = F.substring("played_at", 1, 0)
    recency = W.partitionBy(page).orderBy(F.col("played_at").desc(), F.col("track_id"))
    ranked = flat.withColumn("rank", F.row_number().over(recency)).select(
        "rank", *[f.name for f in WIDE_TRACK_FIELDS]
    )

    stats = summary_record(
        ranked,
        tracks_processed=F.count("*"),
        unique_artists=F.countDistinct("artist_name"),
        average_popularity=F.round(F.avg("popularity"), 2),
        explicit_tracks=F.count_if(F.col("explicit")),
    )
    if stats["tracks_processed"] == 0:
        return {"tracks_processed": 0, "status": "no_data"}

    console_display(
        ranked.withColumn("duration", duration_mmss(F.col("duration_ms"))),
        enabled=display_results,
    )
    out_path = write_csv(ranked, output_path, single_file=True)
    return {
        "tracks_processed": stats["tracks_processed"],
        "unique_artists": stats["unique_artists"],
        "average_popularity": float(stats["average_popularity"]),
        "explicit_tracks": stats["explicit_tracks"],
        "output_path": out_path,
        "execution_date": _exec_date(execution_date),
        "status": "success",
    }
