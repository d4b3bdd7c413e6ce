"""Sinks (SURVEY.md §2.8 K1-K4).

- ``write_csv``       — K1: CSV write, local path or object store. The
  reference special-cases ``s3://`` with boto3 (spotify_etl.py:182-184);
  Spark handles both through the Hadoop FS layer — an ``s3://`` URI is
  rewritten to ``s3a://`` and the same writer runs (executors write in
  parallel, no driver bottleneck, unlike the reference's single
  ``to_csv`` buffer upload).
- ``append_table``    — K2: idempotent relational append. The reference's
  SQLite ``if_exists="append"`` double-inserts on re-run
  (spotify_etl2.py:220); here the anti-join guard (J4) makes the append
  exactly-once per key. The sink is partitioned by date and the guard
  reads only the partitions the batch touches, so its cost follows the
  batch, not the sink's age. That rests on the key→partition contract:
  rows with the same key have the same partition value (the date is
  ``played_at[:10]``), so a replayed key can only sit in a partition the
  batch touches.
- ``hadoop_path``     — the Hadoop ``FileSystem`` and ``Path`` of a path
  string. Every probe, rename and small-file read or write of a sink or
  store goes through it, so the same code works on local disk, HDFS,
  s3a:// or a ``file://`` URI — no driver-local filesystem assumptions.
- ``append_jdbc``     — K2 RDBMS parity: the reference's ``to_sql(...
  SQLite...)`` (spotify_etl2.py:220) as ``df.write.jdbc(mode="append")``
  with the same anti-join idempotency guard reading the remote keys back.
- ``append_sqlite``   — K2 EXACT-storage parity: the reference's sink is a
  SQLite FILE, an inherently single-writer driver-side store no matter the
  engine. This sink lands a SMALL summary relation (the reference writes
  ≤50 rows) into a real ``.db`` via stdlib ``sqlite3`` with the same
  idempotent-by-key contract, hard-capped so it can never silently
  collect a corpus; ``append_jdbc`` remains the distributed-scale path.
- ``console_display`` — K3: formatted console output behind a flag
  (new.py:143-175, flag :224).
- ``summary_record``  — K4: the XCom summary dict (spotify_etl.py:275-281)
  as a collect of one multi-aggregate row.
- ``summary_record_observed`` — K4 zero-extra-pass form: the summary
  aggregates ride the write itself as observed metrics (Observation /
  CollectMetrics) instead of re-scanning afterwards; exact-distinct
  stats are the documented exception (Spark forbids DISTINCT in
  observed metrics) and stay on a pruned second pass.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..operators.joins import incremental_anti_append

__all__ = [
    "hadoop_path",
    "normalize_object_store_path",
    "write_csv",
    "append_table",
    "append_jdbc",
    "append_sqlite",
    "overwrite_partitions",
    "compact_table",
    "console_display",
    "display_tracks",
    "summary_record",
    "summary_record_observed",
]


def hadoop_path(path: str, spark: SparkSession | None = None):
    """``(FileSystem, Path)`` for ``path``, resolved from its scheme with
    the session's Hadoop conf (the active session when ``spark`` is not
    given). ``pathlib`` would read ``file:///d`` as the relative name
    ``file:/d``."""
    spark = spark or SparkSession.active()
    jpath = spark._jvm.org.apache.hadoop.fs.Path(path)
    conf = spark._jsparkSession.sessionState().newHadoopConf()
    return jpath.getFileSystem(conf), jpath


def normalize_object_store_path(path: str) -> str:
    """``s3://`` → ``s3a://`` (the reference special-cases s3 with boto3,
    spotify_etl.py:182-184; Spark reaches S3 through the s3a Hadoop
    connector instead — same writer code for local and object-store)."""
    if path.startswith("s3://"):
        return "s3a://" + path[len("s3://"):]
    return path


def write_csv(df: DataFrame, path: str, single_file: bool = False) -> str:
    """CSV with header; ``s3://`` → ``s3a://``. ``single_file`` coalesces to
    one part (only for small exports — the reference's outputs are ≤50 rows;
    large tables keep one file per partition)."""
    path = normalize_object_store_path(path)
    out = df.coalesce(1) if single_file else df
    out.write.mode("overwrite").option("header", True).csv(path)
    return path


def write_jsonl(df: DataFrame, path: str) -> str:
    """Newline-delimited JSON (one object per line, one file per
    partition) — the corpus interchange format; ``s3://`` normalized like
    write_csv."""
    path = normalize_object_store_path(path)
    df.write.mode("overwrite").json(path)
    return path


def write_orc(df: DataFrame, path: str) -> str:
    """ORC with the same overwrite contract as the parquet writers."""
    path = normalize_object_store_path(path)
    df.write.mode("overwrite").orc(path)
    return path


def append_table(new: DataFrame, path: str, key: str, partition_date_col: str) -> int:
    """Idempotent append to a Parquet table partitioned by
    ``partition_date_col``; returns rows actually added.

    1. Collect the batch's distinct partition values (one small job).
    2. Keep the ``partition_date_col=value`` directories that exist, named
       by Spark's own partition-path rule (string cast, escaping, null or
       empty → ``__HIVE_DEFAULT_PARTITION__``) and probed through the
       Hadoop ``FileSystem`` of ``path``.
    3. Read only those directories with the one-column schema of ``key``
       and anti-join the batch against them: fewer than 32 paths (Spark's
       parallel-discovery threshold) list on the driver and a given schema
       needs no inference, so neither costs a job however deep the sink
       is. Data files that also carry ``partition_date_col`` (writers
       other than Spark's ``partitionBy``) read the same way.
    4. Count the appended rows with an ``Observation`` on the write, so
       the count and the write are one action over the same rows.

    The append costs O(batch), not O(table). Contract: rows with the same
    key have the same partition value — a sink that breaks it (one key
    under two dates) can take a replayed key a second time."""
    spark = new.sparkSession
    as_str = F.col(partition_date_col).cast("string")
    values = [r[0] for r in new.select(as_str).distinct().collect()]
    if not values:
        return 0
    jvm = spark._jvm
    fs, base = hadoop_path(path, spark)
    catalog_utils = jvm.org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
    dirs = [
        jvm.org.apache.hadoop.fs.Path(
            base, catalog_utils.getPartitionPathString(partition_date_col, v)
        )
        for v in values
    ]
    dirs = [d.toString() for d in dirs if fs.exists(d)]
    fresh = new
    if dirs:
        existing = spark.read.schema(T.StructType([new.schema[key]])).parquet(*dirs)
        fresh = incremental_anti_append(new, existing, key)
    # Only the partitions collected above were guarded: a batch that
    # recomputes into another one (a non-deterministic source) fails the
    # write instead of landing unguarded.
    touched = as_str.isin([v for v in values if v is not None])
    if None in values:
        touched = touched | as_str.isNull()
    moved = F.raise_error(
        F.lit(
            f"append_table: batch changed partitions of {partition_date_col} mid-append"
        )
    )
    fresh = fresh.withColumn(
        partition_date_col, F.when(touched, F.col(partition_date_col)).otherwise(moved)
    )
    obs = Observation()
    fresh = fresh.observe(obs, F.count(F.lit(1)).alias("n"))
    fresh.write.mode("append").partitionBy(partition_date_col).parquet(path)
    return obs.get["n"]


def overwrite_partitions(df: DataFrame, path: str, partition_col: str) -> None:
    """Replace ONLY the partitions present in ``df`` (dynamic partition
    overwrite), leaving every other partition untouched — the backfill /
    late-data-restatement primitive: re-deriving one day of a 100 TB
    partitioned table must rewrite that day's directory, not the table.
    Static overwrite (Spark's default) would truncate the whole table
    first; the session-conf flip to ``dynamic`` is scoped and restored."""
    spark = df.sparkSession
    key = "spark.sql.sources.partitionOverwriteMode"
    prev = spark.conf.get(key, None)
    spark.conf.set(key, "dynamic")
    try:
        df.write.mode("overwrite").partitionBy(partition_col).parquet(path)
    finally:
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)


def _rename(fs, src, dst) -> None:
    # Hadoop reports a failed rename by returning False, not by raising.
    if not fs.rename(src, dst):
        raise OSError(f"could not rename {src.toString()} to {dst.toString()}")


def _recover_swap(path: str) -> None:
    """Finish or clear a ``_swap_replace`` that a crash interrupted: a
    leftover ``._swap_bak`` beside ``path`` is the committed copy when
    ``path`` is missing (the swap died between its renames) and stale
    when ``path`` exists (it died before deleting the backup)."""
    fs, p = hadoop_path(path)
    bak = p.suffix("._swap_bak")
    if fs.exists(bak):
        if fs.exists(p):
            fs.delete(bak, True)
        else:
            _rename(fs, bak, p)


def _swap_replace(path: str, stage):
    """Replace the directory at ``path`` with what ``stage(tmp)`` writes
    to a sibling temp dir, and return what ``stage`` returns. The swap is
    rename-first: original → ``._swap_bak``, staged → path, then delete
    the backup. At every crash point a complete copy exists on disk
    (before the first rename: the original in place; between renames:
    the backup; after: the new table), unlike a delete-then-rename swap
    whose kill window strands the only copy at the temp name, or an
    in-place overwrite that leaves partial part files. A leftover backup
    from an earlier crash is recovered first; if ``stage`` raises, the
    original is untouched."""
    _recover_swap(path)
    fs, p = hadoop_path(path)
    tmp, bak = p.suffix("._swap_tmp"), p.suffix("._swap_bak")
    out = stage(tmp.toString())
    if fs.exists(p):
        _rename(fs, p, bak)
    _rename(fs, tmp, p)
    fs.delete(bak, True)
    return out


def compact_table(
    spark,
    path: str,
    partition_col: str | None = None,
    target_rows_per_file: int = 1_000_000,
) -> int:
    """Small-file compaction: rewrite a parquet table into
    ceil(rows / target) files (per partition when ``partition_col`` is
    given, via one repartition on the partition key; AQE coalesces the
    shuffle into few outputs). Streaming appends and per-batch writes
    accrete small files whose open/footer overhead eventually dominates
    scans; periodic compaction is standard table maintenance. Returns the
    row count (sanity: unchanged by compaction). The rewrite goes through
    ``_swap_replace``, and a staged copy whose row count differs from
    the original's aborts the swap."""

    def stage(tmp: str) -> int:
        df = spark.read.parquet(path)
        n = df.count()
        n_files = max(1, -(-n // target_rows_per_file))
        if partition_col:
            (
                df.repartition(n_files, partition_col)
                .write.mode("overwrite")
                .partitionBy(partition_col)
                .parquet(tmp)
            )
        else:
            df.repartition(n_files).write.mode("overwrite").parquet(tmp)
        after = spark.read.parquet(tmp).count()
        if after != n:
            raise RuntimeError(
                f"compact_table: row count changed {n} -> {after}; "
                f"aborting swap, original table untouched at {path}"
            )
        return n

    return _swap_replace(path, stage)


# "Table/relation does not exist" message fragments for the common JDBC
# dialects (Derby, Postgres, MySQL, SQLite, SQL Server, Oracle). ONLY these
# mean "first run"; anything else (auth, timeout, network, permission) must
# propagate — swallowing it and appending unguarded would silently defeat
# the idempotency guarantee (the reference's double-insert bug,
# spotify_etl2.py:220, reintroduced through the error path).
_TABLE_ABSENT_FRAGMENTS = (
    "does not exist",       # Derby "Table/View 'T' does not exist", Postgres, Oracle text
    "doesn't exist",        # MySQL
    "no such table",        # SQLite
    "invalid object name",  # SQL Server
    "ora-00942",            # Oracle code
)


def _jdbc_table_absent(exc: Exception) -> bool:
    msg = str(exc).lower()
    return any(f in msg for f in _TABLE_ABSENT_FRAGMENTS)


def _jdbc_key_scan(table: str, key_predicate: str | None) -> str:
    """The dbtable expression for the key read-back: the bare table, or —
    when the caller knows a key lower bound — a pushed-down subquery so the
    remote scan is bounded instead of the entire key column (at a large
    target table the unbounded read-back dominates the append). Spark still
    prunes the projection to the key column through the derived table with
    dialect-correct identifier quoting."""
    if key_predicate is None:
        return table
    return f"(SELECT * FROM {table} WHERE {key_predicate}) spark_graft_keys"


def append_jdbc(
    new: DataFrame,
    url: str,
    table: str,
    key: str,
    properties: dict | None = None,
    key_predicate: str | None = None,
) -> int:
    """K2 RDBMS parity — the reference's SQLite ``to_sql(if_exists="append")``
    (spotify_etl2.py:220) as a JDBC append, made idempotent by anti-joining
    against the remote table's key projection first (the reference
    double-inserts on re-run). Returns rows actually added.

    ``key_predicate`` (e.g. ``"played_at > '2026-01-01'"``) pushes a bound
    into the remote key scan (see _jdbc_key_scan); with a monotone key the
    caller passes its cursor and the read-back touches only the recent tail.
    Rows in ``new`` whose keys fall OUTSIDE the predicate are assumed
    already-deduped by the caller's cursor logic.

    First-run detection is by the driver's table-absent error ONLY
    (_jdbc_table_absent); transient failures re-raise rather than
    masquerading as an empty table and double-inserting."""
    props = properties or {}
    spark = new.sparkSession
    try:
        existing = spark.read.jdbc(
            url, _jdbc_key_scan(table, key_predicate), properties=props
        ).select(key)
    except Exception as exc:
        if not _jdbc_table_absent(exc):
            raise
        existing = None
    fresh = incremental_anti_append(new, existing, key) if existing is not None else new
    fresh = fresh.localCheckpoint(eager=True)
    n = fresh.count()
    if n:
        fresh.write.jdbc(url, table, mode="append", properties=props)
    return n


def append_sqlite(
    new: DataFrame,
    db_path: str,
    table: str,
    key: str,
    max_rows: int = 10_000,
) -> int:
    """K2 exact-storage parity — the reference's
    ``df.to_sql(table, sqlite3.connect(db), if_exists="append")``
    (spotify_etl2.py:218-220) lands its FINAL summary relation (≤50 rows)
    in a SQLite file. A SQLite file is a single-writer, driver-local store
    no matter what engine produced the rows, so this sink collects the
    (already small) relation to the driver and inserts via stdlib
    ``sqlite3`` — no JDBC jar dependency — made idempotent by skipping
    keys already present (the reference double-inserts on re-run).
    Returns rows actually inserted.

    Scale guardrail: ``max_rows`` is a HARD cap — a relation that exceeds
    it raises instead of silently collecting a corpus through the driver.
    Big relations belong in ``append_jdbc`` (a real RDBMS endpoint) or
    ``append_table`` (distributed parquet); this sink exists for the
    reference's actual K2 use: a bounded end-of-pipeline summary.

    Column types map through Arrow → sqlite3 adapters: ints/floats/str
    natively; other types land as their str() form (the reference's
    to_sql does the same through pandas object columns)."""
    import sqlite3

    pdf = new.limit(max_rows + 1).toPandas()
    if len(pdf) > max_rows:
        raise ValueError(
            f"append_sqlite: relation exceeds max_rows={max_rows} — this "
            "driver-side sink is for bounded summaries; use append_jdbc "
            "or append_table for large relations"
        )
    if key not in pdf.columns:
        raise ValueError(f"append_sqlite: key column {key!r} not in relation")
    cols = list(pdf.columns)
    qtable = '"' + table.replace('"', '""') + '"'
    qcols = ", ".join('"' + c.replace('"', '""') + '"' for c in cols)

    def _cell(v):
        if v is None:
            return None
        # pandas NaN/NaT → NULL, numpy scalars → python natives
        try:
            import pandas as pd

            if pd.isna(v):
                return None
        except (TypeError, ValueError):
            pass
        if hasattr(v, "item"):
            return v.item()
        if isinstance(v, (int, float, str, bytes)):
            return v
        return str(v)

    rows = [tuple(_cell(v) for v in rec) for rec in pdf.itertuples(index=False)]
    # contextlib.closing: sqlite3's own context manager only commits or
    # rolls back on exit — it never closes the handle, which leaks an open
    # fd on the .db per call.
    import contextlib

    with contextlib.closing(sqlite3.connect(db_path)) as con:
        exists = con.execute(
            "SELECT 1 FROM sqlite_master WHERE type='table' AND name=?",
            (table,),
        ).fetchone()
        if not exists:
            # Affinity from the first batch's python types; TEXT otherwise.
            def _aff(c):
                s = pdf[c].dropna()
                v = _cell(s.iloc[0]) if len(s) else ""
                if isinstance(v, bool):
                    return "INTEGER"
                if isinstance(v, int):
                    return "INTEGER"
                if isinstance(v, float):
                    return "REAL"
                if isinstance(v, bytes):
                    return "BLOB"
                return "TEXT"

            ddl = ", ".join(
                '"' + c.replace('"', '""') + '" ' + _aff(c) for c in cols
            )
            con.execute(f"CREATE TABLE {qtable} ({ddl})")
            present: set = set()
        else:
            qkey = '"' + key.replace('"', '""') + '"'
            present = {
                r[0] for r in con.execute(f"SELECT {qkey} FROM {qtable}")
            }
        ki = cols.index(key)
        fresh = [r for r in rows if r[ki] not in present]
        if fresh:
            ph = ", ".join("?" for _ in cols)
            con.executemany(
                f"INSERT INTO {qtable} ({qcols}) VALUES ({ph})", fresh
            )
        con.commit()
    return len(fresh)


def console_display(df: DataFrame, n: int = 20, enabled: bool = True) -> None:
    """K3 — display behind a boolean flag (the reference's
    ``display_tracks`` gated by a lowercased config flag, new.py:224)."""
    if enabled:
        df.show(n, truncate=False)


def display_tracks(df: DataFrame, n: int = 50, enabled: bool = True) -> None:
    """K3 format parity — the reference's numbered per-track console layout
    (new.py:143-175): header with the track count, 80-dash separators, and
    per track the rank / name / artist / album lines, optional URL /
    played-at / explicit lines, popularity out of 100 and m:ss duration.
    Bounded collect (≤ n rows — the reference's payloads are ≤ 50)."""
    if not enabled:
        return
    rows = df.limit(n).collect()
    if not rows:
        print("No tracks to display")
        return
    print(f"\n\U0001f3b5 Your {len(rows)} Most Recently Played Tracks:\n")
    print("-" * 80)
    for t in rows:
        print(f"#{t['rank']}")
        print(f"\U0001f3b5 Track: {t['track_name']}")
        print(f"\U0001f464 Artist: {t['artist_name']}")
        print(f"\U0001f4bf Album: {t['album_name']}")
        if t["spotify_url"]:
            print(f"\U0001f517 URL: {t['spotify_url']}")
        if t["played_at"]:
            print(f"⏰ Played at: {t['played_at']}")
        print(f"⭐ Popularity: {t['popularity']}/100")
        dur = t["duration_ms"]
        print(f"⏱️  Duration: {dur // 60000}:{(dur % 60000) // 1000:02d}")
        if t["explicit"]:
            print("\U0001f6ab Explicit content")
        print("-" * 80)


def summary_record(df: DataFrame, **aggs: F.Column) -> dict:
    """One multi-aggregate pass → dict (K4). Replaces the reference's
    stat-at-a-time passes (spotify_etl2.py:271-278) with a single scan."""
    row = df.agg(*[c.alias(name) for name, c in aggs.items()]).collect()[0]
    return row.asDict()


def summary_record_observed(df: DataFrame, run_action, **aggs: F.Column):
    """ZERO-extra-pass variant of ``summary_record`` (K4): attach the
    summary aggregates to the plan as an ``Observation`` so Spark
    collects them as a SIDE EFFECT of the same action that materializes
    ``df`` (``run_action``, typically a write), instead of re-scanning
    the input afterwards. At 100 TB this removes a full second read
    from every "write + QC metrics" sink — the write pass was touching
    every row anyway.

    Returns ``(run_action_result, metrics_dict)``. ``run_action`` must
    trigger exactly one full-consumption action on the DataFrame it is
    given (a parquet/CSV write qualifies; a ``limit`` or partial scan
    does not — unconsumed partitions would leave the metrics short).

    Limitation (enforced by Spark's analyzer, INVALID_OBSERVED_METRICS):
    observed metrics cannot contain DISTINCT aggregates — CollectMetrics
    merges per-partition partials, and exact distinct needs a shuffle.
    Keep exact-distinct stats on a separate column-pruned pass (or, for
    a partition column, a metadata-only read-back as pipelines/corpus.py
    does); everything else (count/sum/avg/min/max and expressions over
    them, e.g. coalesced sums for the empty-input case) observes fine.

    Reference parity note: spotify_etl2.py:271-278 computes its summary
    stats in separate full passes after writing; ``summary_record``
    fuses them into one pass, and this fuses that pass into the write."""
    obs = Observation()
    observed = df.observe(obs, *[c.alias(name) for name, c in aggs.items()])
    result = run_action(observed)
    return result, obs.get
