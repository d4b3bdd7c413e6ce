"""Checkpointed cursor-based incremental ingest (ST2 done right).

The reference recomputes its incremental cursor from wall-clock time —
``after = now() - 24h`` (spotify_etl2.py:102-104,114) — which DUPLICATES rows
when a run is late and MISSES rows when a run is skipped. This operator
replaces the time-window guess with an exact, durable cursor:

    cursor = max(event_time) successfully committed

persisted next to the sink, plus an anti-join guard (J4) so even overlapping
fetches append idempotently (the reference's SQLite append double-inserts on
re-run, spotify_etl2.py:220).

The source is any callable ``fetch(after_us) -> DataFrame`` where
``after_us`` is the cursor in MICROSECONDS since epoch (the unit of
``unix_micros``). Sources whose native cursor unit differs must adapt at
their boundary — e.g. ``SpotifyRestSource.recently_played_since_us`` divides
by 1000 for the API's millisecond ``after`` param — so the two layers can
never be wired 1000x apart.

Cursor and sink probing go through the Hadoop FileSystem API (resolved from
the sink path's scheme), so the same code runs on local disk, HDFS, or
s3a:// — no driver-local ``os.path`` assumptions.

Scale: each run is one narrow append job; the anti-join joins the new batch
(small) against only the sink's key projection (column-pruned scan; at scale
partition the sink by ingest date and prune to partitions newer than the
cursor).
"""

from __future__ import annotations

import json
from collections.abc import Callable

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

__all__ = ["CursorIncrementalIngest"]


class CursorIncrementalIngest:
    def __init__(
        self,
        spark: SparkSession,
        fetch: Callable[[int | None], DataFrame],
        sink_path: str,
        key_col: str,
        ts_col: str,
    ) -> None:
        self.spark = spark
        self.fetch = fetch
        self.sink_path = sink_path.rstrip("/")
        self.key_col = key_col
        self.ts_col = ts_col
        self.cursor_path = f"{self.sink_path}/_cursor.json"

    # -- cursor persistence (tiny JSON next to the sink via the Hadoop FS
    # API — works on any scheme the cluster can reach; written after the
    # append commits so a crash between append and cursor-write only
    # re-fetches — the anti-join guard makes the re-append a no-op).
    def _fs_and_path(self, path: str):
        jvm = self.spark._jvm
        jpath = jvm.org.apache.hadoop.fs.Path(path)
        fs = jpath.getFileSystem(self.spark._jsc.hadoopConfiguration())
        return fs, jpath, jvm

    def read_cursor(self) -> int | None:
        fs, jpath, jvm = self._fs_and_path(self.cursor_path)
        if not fs.exists(jpath):
            return None
        stream = fs.open(jpath)
        try:
            raw = jvm.org.apache.commons.io.IOUtils.toString(
                stream, "UTF-8"
            )
        finally:
            stream.close()
        return json.loads(raw)["max_ts_us"]

    def _write_cursor(self, max_ts_us: int) -> None:
        fs, jpath, _ = self._fs_and_path(self.cursor_path)
        out = fs.create(jpath, True)
        try:
            out.write(json.dumps({"max_ts_us": max_ts_us}).encode("utf-8"))
        finally:
            out.close()

    def _existing_keys(self) -> DataFrame | None:
        try:
            return self.spark.read.parquet(self.sink_path).select(self.key_col)
        except AnalysisException:
            # Missing path or no parquet files yet — first run.
            return None

    def run_once(self) -> dict:
        """One micro-batch: fetch(after_us=cursor) → anti-join guard →
        append → advance cursor. Returns a summary record (K4 analog)."""
        cursor = self.read_cursor()
        batch = self.fetch(cursor)
        if batch.isEmpty():
            return {"appended": 0, "cursor_us": cursor, "status": "empty"}

        existing = self._existing_keys()
        fresh = (
            batch.join(existing, self.key_col, "left_anti")
            if existing is not None
            else batch
        )
        # Materialize the batch ONCE, durably: count, new-cursor, and the
        # append must all see identical rows. cache() is not enough — evicted
        # partitions would re-invoke fetch() (non-deterministic REST source)
        # and the persisted cursor could advance past rows never appended.
        fresh = fresh.localCheckpoint(eager=True)
        n, new_max = fresh.agg(
            F.count("*"), F.unix_micros(F.max(self.ts_col))
        ).collect()[0]
        if n:
            fresh.write.mode("append").parquet(self.sink_path)
        advanced = [v for v in (cursor, new_max) if v is not None]
        max_us = max(advanced) if advanced else None
        if max_us is not None:
            self._write_cursor(max_us)
        return {"appended": n, "cursor_us": max_us, "status": "ok"}
