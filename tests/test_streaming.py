"""Structured Streaming tests (SURVEY.md §5.4): watermark windows,
cross-batch dedup, per-micro-batch store maintenance. Pipeline 2's cursor
resume is tested with the pipeline (tests/test_pipelines.py)."""

from __future__ import annotations

import datetime as dt
import uuid

import pytest
from pyspark.sql import functions as F

from airflow_spotify_etl_spark.streaming.pipelines import (
    dedup_stream,
    run_keep_late,
    run_to_memory,
    sessionized_stream,
    windowed_stream,
)

SCHEMA = "event_id long, ts timestamp, user_id long, event_type string, value double"


def _ts(minute: int) -> dt.datetime:
    return dt.datetime(2024, 1, 1) + dt.timedelta(minutes=minute)


def _rows(*specs):
    return [(i, _ts(m), u, t, v) for (i, m, u, t, v) in specs]


def _write_batch(spark, path, rows):
    spark.createDataFrame(rows, SCHEMA).coalesce(1).write.mode("append").parquet(path)


def _memname() -> str:
    return "m" + uuid.uuid4().hex[:10]


def test_windowed_stream_matches_batch_semantics(spark, tmp_path):
    src = str(tmp_path / "src")
    rows = _rows(
        (1, 0, 1, "click", 1.0),
        (2, 10, 1, "click", 2.0),
        (3, 65, 2, "view", 3.0),
        (4, 200, 2, "view", 4.0),  # advances watermark past earlier windows
    )
    _write_batch(spark, src, rows)
    stream = spark.readStream.schema(SCHEMA).parquet(src)
    out = run_to_memory(
        spark, windowed_stream(stream, window="1 hour", watermark="1 hour"), _memname()
    )
    got = {
        (r.window_start, r.n_events, r.total_value) for r in out.collect()
    }
    # Append mode emits only windows fully below watermark (max_ts - 1h =
    # 02:20 → hours 00 and 01 close; 03:00 window stays open).
    assert got == {
        (_ts(0), 2, 3.0),
        (_ts(60), 1, 3.0),
    }


def test_sliding_windows_overlap(spark, tmp_path):
    """ST6 sliding windows: a 2h window sliding hourly assigns each event to
    two windows."""
    src = str(tmp_path / "src")
    rows = _rows(
        (1, 30, 1, "click", 1.0),
        (2, 400, 9, "view", 9.9),  # advances watermark, closes early windows
    )
    _write_batch(spark, src, rows)
    stream = spark.readStream.schema(SCHEMA).parquet(src)
    out = run_to_memory(
        spark,
        windowed_stream(stream, window="2 hours", slide="1 hour", watermark="1 hour"),
        _memname(),
    )
    starts = sorted(
        r.window_start for r in out.filter(F.col("n_events") == 1).collect()
        if r.total_value == 1.0
    )
    # Event at 00:30 belongs to the [23:00, 01:00) and [00:00, 02:00) windows.
    assert starts == [_ts(-60), _ts(0)]


def test_dedup_across_micro_batches(spark, tmp_path):
    src = str(tmp_path / "src")
    _write_batch(spark, src, _rows((1, 0, 1, "a", 1.0), (2, 1, 1, "a", 1.0)))
    stream = spark.readStream.schema(SCHEMA).parquet(src)
    deduped = dedup_stream(stream, ["event_id"], watermark="1 day")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    def drain():
        q = (
            deduped.writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    drain()
    assert spark.read.parquet(out).count() == 2

    # Second micro-batch replays event_id=2 (the reference's re-run scenario)
    # plus one genuinely new row.
    _write_batch(spark, src, _rows((2, 1, 1, "a", 1.0), (3, 2, 2, "b", 2.0)))
    drain()
    ids = sorted(r.event_id for r in spark.read.parquet(out).collect())
    assert ids == [1, 2, 3]  # replayed id=2 suppressed by cross-batch state


def test_keep_late_counts_and_keeps_late_rows(spark, tmp_path):
    """ST4 warn-and-keep (spotify_etl2.py:71-84): a >7-day-late row must land
    in the sink AND in the late count — never be dropped."""
    src = str(tmp_path / "src")
    late_day = dt.datetime(2023, 12, 1)  # 31 days before the fresh rows
    rows = _rows((1, 0, 1, "click", 1.0), (2, 30, 1, "view", 2.0))
    rows.append((3, late_day, 2, "click", 3.0))
    _write_batch(spark, src, rows)
    stream = spark.readStream.schema(SCHEMA).parquet(src)
    reports = run_keep_late(
        stream,
        sink_path=str(tmp_path / "sink"),
        checkpoint_path=str(tmp_path / "ckpt"),
        key_col="event_id",
        ts_col="ts",
        freshness_days=7,
    )
    assert sum(r["n_late_rows"] for r in reports) == 1  # the WARN
    sunk = spark.read.parquet(str(tmp_path / "sink"))
    assert sunk.count() == 3  # the KEEP — late row in the sink
    assert {r.event_id for r in sunk.collect()} == {1, 2, 3}


def test_sessionized_stream_gap_semantics(spark, tmp_path):
    """ST6 session windows: events within the gap merge into one session;
    a gap larger than the timeout starts a new one."""
    src = str(tmp_path / "src")
    rows = _rows(
        (1, 0, 1, "click", 1.0),
        (2, 10, 1, "click", 1.0),   # within 30min gap → same session
        (3, 120, 1, "click", 1.0),  # 110min gap → new session
        (4, 2000, 9, "click", 1.0),  # far future: advances watermark, closes all
    )
    _write_batch(spark, src, rows)
    stream = spark.readStream.schema(SCHEMA).parquet(src)
    out = run_to_memory(
        spark,
        sessionized_stream(stream, gap="30 minutes", watermark="1 hour"),
        _memname(),
    )
    sessions = {
        (r.user_id, r.session_start, r.n_events)
        for r in out.filter(F.col("user_id") == 1).collect()
    }
    assert sessions == {(1, _ts(0), 2), (1, _ts(120), 1)}


def test_stream_stream_interval_join(spark, tmp_path):
    """Purchases join clicks by the same user within the gap window; a
    purchase outside the window matches nothing."""
    from airflow_spotify_etl_spark.streaming.joins import interval_join_stream

    src = str(tmp_path / "src")
    rows = _rows(
        (1, 0, 1, "click", 1.0),
        (2, 20, 1, "purchase", 9.0),   # 20min after the click → joins
        (3, 300, 2, "click", 1.0),
        (4, 450, 2, "purchase", 5.0),  # 150min after → outside 1h gap
    )
    _write_batch(spark, src, rows)

    def stream():
        return spark.readStream.schema(SCHEMA).parquet(src)

    clicks = stream().filter(F.col("event_type") == "click").select(
        "user_id",
        F.col("event_id").alias("click_id"),
        F.col("ts").alias("click_ts"),
    )
    purchases = stream().filter(F.col("event_type") == "purchase").select(
        "user_id",
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("purchase_ts"),
    )
    joined = interval_join_stream(
        clicks, purchases, on="user_id",
        left_ts="click_ts", right_ts="purchase_ts", max_gap="1 hour",
    )
    out = run_to_memory(spark, joined, _memname())
    got = {(r.user_id, r.click_id, r.purchase_id) for r in out.collect()}
    assert got == {(1, 1, 2)}


def test_stateful_running_totals_accumulate_across_batches(spark, tmp_path):
    """applyInPandasWithState: per-user lifetime totals must carry state
    across separate availableNow drains (checkpointed state store)."""
    from airflow_spotify_etl_spark.streaming.stateful import running_user_totals

    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "totals")
    _write_batch(spark, src, _rows((1, 0, 1, "a", 10.0), (2, 1, 1, "a", 5.0)))

    def drain():
        stream = spark.readStream.schema(SCHEMA).parquet(src)
        q = (
            running_user_totals(stream)
            .writeStream.foreachBatch(
                lambda bdf, bid: bdf.write.mode("append").parquet(out)
            )
            .outputMode("update")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return spark.read.parquet(out)

    out1 = drain()
    r1 = out1.filter(F.col("user_id") == 1).orderBy("n_events").collect()[-1]
    assert (r1.n_events, r1.total_value) == (2, 15.0)

    # Batch 2: one more event for user 1 — totals must include batch 1's
    # state, recovered from the checkpointed state store.
    _write_batch(spark, src, _rows((3, 2, 1, "a", 2.5)))
    out2 = drain()
    r2 = out2.filter(F.col("user_id") == 1).orderBy("n_events").collect()[-1]
    assert (r2.n_events, r2.total_value) == (3, 17.5)
    assert r2.last_seen_us == int(_ts(2).timestamp() * 1_000_000)


def test_scd2_maintenance_stream_matches_full_rebuild(spark, tmp_path):
    """Two availableNow drains, each folding its micro-batch into the
    stored SCD-2 run table incrementally; the final store must equal a
    from-scratch scd2_runs over ALL events — including a state run that
    continues across the batch boundary."""
    from airflow_spotify_etl_spark.operators.incremental import scd2_runs
    from airflow_spotify_etl_spark.streaming.scd2 import run_scd2_maintenance

    src = str(tmp_path / "src")
    store = str(tmp_path / "scd2_store")
    ckpt = str(tmp_path / "ckpt")

    # user 1: a->a across the boundary (must merge into one run);
    # user 2: a then b (new run); user 3 appears only in batch 2.
    batch1 = _rows((1, 0, 1, "a", 1.0), (2, 1, 1, "a", 1.0), (3, 2, 2, "a", 1.0))
    batch2 = _rows((4, 3, 1, "a", 1.0), (5, 4, 2, "b", 1.0), (6, 5, 3, "c", 1.0))

    def drain():
        stream = spark.readStream.schema(SCHEMA).parquet(src)
        run_scd2_maintenance(spark, stream, store, ckpt)

    _write_batch(spark, src, batch1)
    drain()
    _write_batch(spark, src, batch2)
    drain()

    got = spark.read.parquet(store)
    all_events = spark.read.schema(SCHEMA).parquet(src)
    want = scd2_runs(all_events)
    assert got.exceptAll(want).isEmpty() and want.exceptAll(got).isEmpty()
    # the boundary-straddling run merged: user 1 has ONE run of 3 events
    u1 = got.filter("user_id = 1").collect()
    assert len(u1) == 1 and u1[0]["n_events"] == 3


def test_scd2_maintenance_corrupt_store_fails_instead_of_overwriting(
    spark, tmp_path
):
    """A store that EXISTS but cannot be read (corrupt footer, permission
    blip) must fail the batch loudly — never be mistaken for 'first
    batch', which would overwrite the store with only the current batch
    and destroy all accumulated history (r3 audit finding). The corrupt
    file must still be there afterwards."""
    from airflow_spotify_etl_spark.streaming.scd2 import run_scd2_maintenance

    src = str(tmp_path / "src")
    store_dir = tmp_path / "scd2_store"
    ckpt = str(tmp_path / "ckpt")
    store_dir.mkdir()
    corrupt = store_dir / "part-00000-deadbeef.snappy.parquet"
    corrupt.write_bytes(b"this is not a parquet file")

    _write_batch(spark, src, _rows((1, 0, 1, "a", 1.0)))
    stream = spark.readStream.schema(SCHEMA).parquet(src)
    with pytest.raises(Exception):
        run_scd2_maintenance(spark, stream, str(store_dir), ckpt)
    # History (however corrupt) was not clobbered by a batch-only rebuild.
    assert corrupt.read_bytes() == b"this is not a parquet file"


def test_scd2_store_existence_probe(spark):
    """Empty or part-less directories are 'absent' (a died overwrite);
    directories with parquet parts or a _SUCCESS marker are 'present'."""
    import tempfile
    from pathlib import Path

    from airflow_spotify_etl_spark.streaming.drain import _store_exists

    with tempfile.TemporaryDirectory() as d:
        root = Path(d)
        assert not _store_exists(str(root / "missing"))
        empty = root / "empty"
        empty.mkdir()
        assert not _store_exists(str(empty))
        with_part = root / "withpart"
        with_part.mkdir()
        (with_part / "part-0.parquet").write_bytes(b"x")
        assert _store_exists(str(with_part))
        with_marker = root / "withmarker"
        with_marker.mkdir()
        (with_marker / "_SUCCESS").touch()
        assert _store_exists(str(with_marker))


def test_novelty_ingest_admits_each_content_once(spark, tmp_path):
    """Three drains: within-batch dups collapse, cross-batch dups are
    rejected by the stored hash table, a drain with no new input changes
    nothing, and the store holds exactly one hash per admitted doc."""
    from airflow_spotify_etl_spark.streaming.novelty import run_novelty_ingest

    doc_schema = "doc_id long, text string"
    src = str(tmp_path / "docs_src")
    store = str(tmp_path / "hash_store")
    novel = str(tmp_path / "novel_out")
    ckpt = str(tmp_path / "novel_ckpt")

    def drain():
        stream = spark.readStream.schema(doc_schema).parquet(src)
        run_novelty_ingest(spark, stream, store, novel, ckpt)

    def write(rows):
        spark.createDataFrame(rows, doc_schema).coalesce(1).write.mode(
            "append"
        ).parquet(src)

    write([(1, "alpha"), (2, "beta"), (3, "alpha")])  # 3 dups 1 in-batch
    drain()
    got = {r.doc_id for r in spark.read.parquet(novel).collect()}
    assert got == {1, 2}

    write([(10, "beta"), (11, "gamma"), (12, "gamma")])
    drain()
    got = {r.doc_id for r in spark.read.parquet(novel).collect()}
    assert got == {1, 2, 11}  # 10 dup-vs-store, 12 dup-in-batch

    drain()  # nothing new arrived
    assert {r.doc_id for r in spark.read.parquet(novel).collect()} == {1, 2, 11}
    hashes = [r.ch for r in spark.read.parquet(store).collect()]
    assert len(hashes) == 3 and len(set(hashes)) == 3


def test_novelty_ingest_retry_and_null_text(spark, tmp_path):
    """foreachBatch is at-least-once: re-applying the SAME batch id must
    rewrite identical partitions, never duplicate admitted docs — even
    when the store already holds the batch's own hashes (the
    crash-after-store-write window). NULL-text rows are each novel."""
    from airflow_spotify_etl_spark.streaming.novelty import _apply_novelty_batch

    doc_schema = "doc_id long, text string"
    store = str(tmp_path / "hash_store")
    novel = str(tmp_path / "novel_out")

    b0 = spark.createDataFrame([(1, "alpha"), (2, "beta")], doc_schema)
    _apply_novelty_batch(spark, b0, store, novel, batch_id=0)

    b1 = spark.createDataFrame(
        [(10, "alpha"), (11, "gamma"), (12, None), (13, None)], doc_schema
    )
    _apply_novelty_batch(spark, b1, store, novel, batch_id=1)
    want = {11, 12, 13}  # 10 dup-vs-store; both NULL-text rows novel
    assert {r.doc_id for r in spark.read.parquet(novel).collect()} == {1, 2} | want

    # Retry of batch 1 AFTER its store partition was already written.
    _apply_novelty_batch(spark, b1, store, novel, batch_id=1)
    assert {r.doc_id for r in spark.read.parquet(novel).collect()} == {1, 2} | want
    rows = spark.read.parquet(novel).collect()
    assert len(rows) == 5  # no duplicated admissions


DOCW_SCHEMA = "doc_id long, text string, w double"


def _write_docw(spark, path, rows):
    spark.createDataFrame(rows, DOCW_SCHEMA).coalesce(1).write.mode(
        "append"
    ).parquet(path)


def test_weighted_sample_maintenance_matches_batch_draw(spark, tmp_path):
    """Two drains folding micro-batches into the stored A-ES top-k; the
    final store must equal the batch q99 draw over ALL rows — the
    mergeability proof for the content-addressed sample keys. A doc
    re-sent in batch 2 occupies one slot, not two."""
    from airflow_spotify_etl_spark.operators.sampling import (
        weighted_exact_k_sample,
    )
    from airflow_spotify_etl_spark.streaming.sketch_maintenance import (
        run_weighted_sample_maintenance,
    )

    src = str(tmp_path / "src")
    store = str(tmp_path / "sample_store")
    ckpt = str(tmp_path / "ckpt")
    batch1 = [(i, f"doc {i}", 1.0 + (i % 5)) for i in range(40)]
    batch2 = [(i, f"doc {i}", 1.0 + (i % 5)) for i in range(35, 80)]  # 35-39 resent

    def drain():
        stream = spark.readStream.schema(DOCW_SCHEMA).parquet(src)
        run_weighted_sample_maintenance(
            spark, stream, store, ckpt, k=10, weight_col="w"
        )

    _write_docw(spark, src, batch1)
    drain()
    _write_docw(spark, src, batch2)
    drain()

    got = spark.read.parquet(store)
    allrows = spark.read.schema(DOCW_SCHEMA).parquet(src).dropDuplicates(["doc_id"])
    want = weighted_exact_k_sample(allrows, 10, "w")
    assert sorted(r.doc_id for r in got.collect()) == sorted(
        r.doc_id for r in want.collect()
    )
    assert got.count() == 10


def test_kmv_maintenance_matches_batch_sketch(spark, tmp_path):
    """Streaming KMV: after two drains the stored sketch equals the batch
    sketch over the union (union-then-recut IS the union sketch), stays
    ≤ k rows per group with the bottom-k re-cut genuinely exercised
    (hundreds of distinct values per group vs k=64), and re-streamed
    values don't distort it."""
    from pyspark.sql import functions as F

    from airflow_spotify_etl_spark.operators.sketches import kmv_group_sketch
    from airflow_spotify_etl_spark.streaming.sketch_maintenance import (
        run_kmv_maintenance,
    )

    src = str(tmp_path / "src")
    store = str(tmp_path / "kmv_store")
    ckpt = str(tmp_path / "ckpt")
    # group g0/g1 from doc_id parity; ~300 then ~450 distinct values with
    # overlap between batches (re-streamed values must dedupe)
    batch1 = [(i, f"v{i % 300}", 0.0) for i in range(600)]
    batch2 = [(i + 1000, f"v{(i + 150) % 450}", 0.0) for i in range(600)]

    def with_group(df):
        return df.withColumn("g", (F.col("doc_id") % 2).cast("string"))

    def drain():
        stream = with_group(spark.readStream.schema(DOCW_SCHEMA).parquet(src))
        run_kmv_maintenance(
            spark, stream, store, ckpt, group_col="g", value_col="text", k=64
        )

    _write_docw(spark, src, batch1)
    drain()
    _write_docw(spark, src, batch2)
    drain()

    got = spark.read.parquet(store)
    union = with_group(spark.read.schema(DOCW_SCHEMA).parquet(src))
    want = kmv_group_sketch(union, "g", "text", 64).select("g", "h")
    assert got.count() == 128  # exactly k per group: the re-cut ran
    assert got.select("g", "h").exceptAll(want).isEmpty()
    assert want.exceptAll(got.select("g", "h")).isEmpty()


def test_heavy_hitters_maintenance_guarantees(spark, tmp_path):
    """Misra-Gries over two drains: the planted heavy item (freq ≫
    N/(m+1)) is present with count within N/(m+1) of truth; state never
    exceeds m counters; n_total tracks the full stream."""
    from airflow_spotify_etl_spark.streaming.sketch_maintenance import (
        run_heavy_hitters_maintenance,
    )

    src = str(tmp_path / "src")
    store = str(tmp_path / "hh_store")
    ckpt = str(tmp_path / "ckpt")
    # heavy item "H": 200 of 500 in batch 1, 150 of 450 in batch 2;
    # tail: items t0..t299 once or twice each
    batch1 = [(i, "H", 0.0) for i in range(200)] + [
        (1000 + i, f"t{i % 300}", 0.0) for i in range(300)
    ]
    batch2 = [(2000 + i, "H", 0.0) for i in range(150)] + [
        (3000 + i, f"t{(i * 7) % 300}", 0.0) for i in range(300)
    ]

    def drain():
        stream = spark.readStream.schema(DOCW_SCHEMA).parquet(src)
        run_heavy_hitters_maintenance(
            spark, stream, store, ckpt, item_col="text", m=50
        )

    _write_docw(spark, src, batch1)
    drain()
    _write_docw(spark, src, batch2)
    drain()

    rows = spark.read.parquet(store).collect()
    assert 0 < len(rows) <= 50
    n_total = rows[0].n_total
    assert n_total == 950
    by_item = {r.item: r.cnt for r in rows}
    true_h = 350
    assert "H" in by_item
    bound = n_total / (50 + 1)
    assert true_h - bound <= by_item["H"] <= true_h
    # every stored count is an undercount of truth by construction
    assert all(c <= true_h if i == "H" else c <= 2 * 2 for i, c in by_item.items())


def test_store_swap_crash_recovery(spark, tmp_path):
    """Crash-window recovery: if the swap died between its two renames
    (only the .bak exists), the next drain must treat the BACKUP as the
    committed store and keep accumulating — not restart from scratch."""
    import pathlib

    from airflow_spotify_etl_spark.streaming.sketch_maintenance import (
        run_weighted_sample_maintenance,
    )

    src = str(tmp_path / "src")
    store = str(tmp_path / "store")
    ckpt = str(tmp_path / "ckpt")

    _write_docw(spark, src, [(i, f"d{i}", 1.0 + i % 3) for i in range(30)])
    stream = spark.readStream.schema(DOCW_SCHEMA).parquet(src)
    run_weighted_sample_maintenance(spark, stream, store, ckpt, k=5, weight_col="w")
    committed = sorted(r.doc_id for r in spark.read.parquet(store).collect())

    # simulate the crash window: store renamed to .bak, new store never landed
    pathlib.Path(store).rename(pathlib.Path(store + "._swap_bak"))

    _write_docw(spark, src, [(100 + i, f"e{i}", 1.0) for i in range(10)])
    stream = spark.readStream.schema(DOCW_SCHEMA).parquet(src)
    run_weighted_sample_maintenance(spark, stream, store, ckpt, k=5, weight_col="w")

    got = sorted(r.doc_id for r in spark.read.parquet(store).collect())
    # the recovered store still reflects batch 1's winners merged with
    # batch 2 — NOT a from-scratch sample of batch 2 alone
    assert len(got) == 5
    assert any(d < 100 for d in got), (committed, got)
    assert not pathlib.Path(store + "._swap_bak").exists()


def test_ann_index_maintenance_matches_batch_build(spark, tmp_path):
    """Two-batch streaming maintenance of the stored IVF-PQ index — with
    an id UPDATED in the second batch — must equal the one-shot batch
    build of the final corpus state, both as the latest-per-id view and
    after compaction; search over the compacted store must equal the
    in-memory IVF-PQ composition on the final corpus."""
    from airflow_spotify_etl_spark.operators.similarity import (
        hash_seed_centroids,
        ivf_pq_topk,
        pq_codebooks,
        search_ann_index,
        write_ann_index,
    )
    from airflow_spotify_etl_spark.sources.files import load_table
    from airflow_spotify_etl_spark.streaming.ann_maintenance import (
        compact_ann_index,
        latest_index_view,
        run_ann_index_maintenance,
    )

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    corpus = emb.filter(F.col("vec_id") >= 5).select("vec_id", "embedding")
    cents = hash_seed_centroids(corpus, nlist=8)
    books = pq_codebooks(corpus, n_sub=4, n_codes=16)

    # batch 1: ids 5..N with vec_id 7 carrying a STALE vector (vec 8's);
    # batch 2: the correction for id 7 (its true vector) → an update.
    v8 = corpus.filter(F.col("vec_id") == 8).select("embedding").head()[0]
    b1 = corpus.withColumn(
        "embedding",
        F.when(
            F.col("vec_id") == 7,
            F.lit([float(x) for x in v8]).cast("array<float>"),
        ).otherwise(F.col("embedding")),
    )
    b2 = corpus.filter(F.col("vec_id") == 7)

    src = str(tmp_path / "vec_src")
    idx = str(tmp_path / "ann_store")
    ckpt = str(tmp_path / "ann_ckpt")

    def drain():
        stream = spark.readStream.schema(
            "vec_id long, embedding array<float>"
        ).parquet(src)
        run_ann_index_maintenance(spark, stream, idx, cents, books, ckpt)

    b1.coalesce(1).write.mode("append").parquet(src)
    drain()
    b2.coalesce(1).write.mode("append").parquet(src)
    drain()

    want = {
        tuple(r)
        for r in write_and_read_reference(spark, corpus, cents, books, tmp_path)
    }
    got_view = {
        tuple(r)
        for r in latest_index_view(spark, idx).select(*_IDX_COLS).collect()
    }
    assert got_view == want  # read-time upsert equals the batch build

    n = compact_ann_index(spark, idx)
    assert n == len(want)
    got_compact = {
        tuple(r)
        for r in spark.read.parquet(idx).select(*_IDX_COLS).collect()
    }
    assert got_compact == want  # one row per id again, update applied

    q = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    got = sorted(
        tuple(r)
        for r in search_ann_index(spark, idx, q, cents, books, k=5, nprobe=3).collect()
    )
    ref = sorted(
        tuple(r)
        for r in ivf_pq_topk(corpus, q, cents, books, k=5, nprobe=3).collect()
    )
    assert got == ref


_IDX_COLS = ["vec_id", "cell", "code_0", "code_1", "code_2", "code_3"]


def write_and_read_reference(spark, corpus, cents, books, tmp_path):
    from airflow_spotify_etl_spark.operators.similarity import write_ann_index

    ref_path = str(tmp_path / "ann_ref")
    write_ann_index(corpus, cents, books, ref_path)
    return spark.read.parquet(ref_path).select(*_IDX_COLS).collect()


def test_ann_index_maintenance_retry_is_idempotent(spark, tmp_path):
    """Re-applying the SAME batch (foreachBatch at-least-once) rewrites
    identical partitions — the store never accretes duplicates; and
    within-batch duplicate ids collapse deterministically."""
    from airflow_spotify_etl_spark.operators.similarity import (
        hash_seed_centroids,
        pq_codebooks,
    )
    from airflow_spotify_etl_spark.sources.files import load_table
    from airflow_spotify_etl_spark.streaming.ann_maintenance import (
        _apply_index_batch,
    )

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    corpus = emb.filter(F.col("vec_id") >= 5).select("vec_id", "embedding")
    cents = hash_seed_centroids(corpus, nlist=8)
    books = pq_codebooks(corpus, n_sub=4, n_codes=16)
    idx = str(tmp_path / "ann_store")

    dup = corpus.limit(10).unionByName(corpus.limit(3))  # in-batch dup ids
    _apply_index_batch(dup, idx, cents, books, 0, "embedding", "vec_id")
    first = sorted(tuple(r) for r in spark.read.parquet(idx).collect())
    assert len(first) == 10  # dups collapsed
    _apply_index_batch(dup, idx, cents, books, 0, "embedding", "vec_id")
    again = sorted(tuple(r) for r in spark.read.parquet(idx).collect())
    assert again == first


def test_rate_monitor_equals_batch_operator(spark, tmp_path):
    """Two drains (an hour SPLIT across batches, plus a spike hour) must
    produce exactly the batch q118 flags on the union — partial hourly
    counts merge by addition; retrying a batch never double-counts."""
    import datetime as dt

    from airflow_spotify_etl_spark.operators.quality import rate_anomalies
    from airflow_spotify_etl_spark.streaming.rate_monitor import (
        _apply_rate_batch,
        read_rate_flags,
        run_rate_monitor,
    )

    base = dt.datetime(2024, 3, 1)
    rows1, rows2, eid = [], [], 0
    for h in range(9):
        for i in range(10):
            # hour h split: 6 events in batch 1, 4 in batch 2
            (rows1 if i < 6 else rows2).append(
                (eid, base + dt.timedelta(hours=h), "click")
            )
            eid += 1
    for _ in range(120):  # spike hour arrives entirely in batch 2
        rows2.append((eid, base + dt.timedelta(hours=9), "click"))
        eid += 1
    schema = "event_id long, ts timestamp, event_type string"
    src = str(tmp_path / "ev_src")
    store = str(tmp_path / "rate_store")
    ckpt = str(tmp_path / "rate_ckpt")

    def drain():
        stream = spark.readStream.schema(schema).parquet(src)
        run_rate_monitor(spark, stream, store, ckpt)

    spark.createDataFrame(rows1, schema).coalesce(1).write.mode("append").parquet(src)
    drain()
    spark.createDataFrame(rows2, schema).coalesce(1).write.mode("append").parquet(src)
    drain()

    got = sorted(
        tuple(r) for r in read_rate_flags(spark, store).collect()
    )
    want_df = rate_anomalies(
        spark.createDataFrame(rows1 + rows2, schema)
    )
    want = sorted(tuple(r) for r in want_df.collect())
    assert got == want
    assert any(r.is_anomaly for r in read_rate_flags(spark, store).collect())

    # at-least-once retry: re-apply batch 1's content under its id
    b1 = spark.createDataFrame(rows1, schema)
    _apply_rate_batch(b1, store, 0, "ts", "event_type")
    again = sorted(tuple(r) for r in read_rate_flags(spark, store).collect())
    assert again == want


def test_datasheet_maintenance_equals_batch_q119(spark, tmp_path):
    """Two drains (cross-batch duplicate texts, a new lang arriving
    late) must reproduce the batch q119 datasheet on the union exactly
    — the (source, lang, hash) partials merge by addition and the
    distinct counts stay exact; a batch retry changes nothing."""
    import airflow_spotify_etl_spark.plans.llm as llm
    from airflow_spotify_etl_spark.streaming.datasheet import (
        _apply_datasheet_batch,
        read_datasheet,
        run_datasheet_maintenance,
    )

    schema = "doc_id long, text string, lang string, source string, n_chars long"
    rows1 = [
        (1, "a b c", "en", "s1", 5),
        (2, "x y", "fr", "s1", 3),
        (3, "p q r", "en", "s2", 5),
    ]
    rows2 = [
        (10, "a b c", "en", "s1", 5),   # cross-batch duplicate text
        (11, "neu text", "de", "s2", 8),  # new lang arrives late
    ]
    src = str(tmp_path / "doc_src")
    store = str(tmp_path / "ds_store")
    ckpt = str(tmp_path / "ds_ckpt")

    def drain():
        stream = spark.readStream.schema(schema).parquet(src)
        run_datasheet_maintenance(spark, stream, store, ckpt)

    spark.createDataFrame(rows1, schema).coalesce(1).write.mode("append").parquet(src)
    drain()
    spark.createDataFrame(rows2, schema).coalesce(1).write.mode("append").parquet(src)
    drain()

    got = sorted(tuple(r) for r in read_datasheet(spark, store).collect())

    import os, tempfile

    with tempfile.TemporaryDirectory() as td:
        spark.createDataFrame(rows1 + rows2, schema).write.parquet(
            os.path.join(td, "documents.parquet")
        )
        want = sorted(
            tuple(r) for r in llm.q119_corpus_datasheet(spark, td).collect()
        )
    assert got == want

    # retry batch 0 with identical content: datasheet unchanged
    _apply_datasheet_batch(spark.createDataFrame(rows1, schema), store, 0)
    again = sorted(tuple(r) for r in read_datasheet(spark, store).collect())
    assert again == want


def test_centroid_maintenance_equals_batch_drift(spark, tmp_path):
    """Two drains (a label SPLIT across batches) fold into exactly the
    batch centroid_sums of the union, and read_drift against a pinned
    reference equals the batch q122 operator on the same data; a batch
    retry changes nothing (additive integer partials)."""
    from airflow_spotify_etl_spark.operators.similarity import (
        centroid_sums,
        embedding_drift,
    )
    from airflow_spotify_etl_spark.sources.files import load_table
    from airflow_spotify_etl_spark.streaming.embedding_monitor import (
        _apply_centroid_batch,
        read_centroids,
        read_drift,
        run_centroid_maintenance,
    )

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings").select(
        "vec_id", "embedding", "label"
    )
    ref_df = emb.filter(F.col("vec_id") < 250)
    newer = emb.filter(F.col("vec_id") >= 250)
    b1 = newer.filter(F.col("vec_id") % 2 == 0)
    b2 = newer.filter(F.col("vec_id") % 2 == 1)

    src = str(tmp_path / "vec_src")
    store = str(tmp_path / "cent_store")
    ckpt = str(tmp_path / "cent_ckpt")

    def drain():
        stream = spark.readStream.schema(
            "vec_id long, embedding array<float>, label int"
        ).parquet(src)
        run_centroid_maintenance(spark, stream, store, ckpt)

    b1.coalesce(1).write.mode("append").parquet(src)
    drain()
    b2.coalesce(1).write.mode("append").parquet(src)
    drain()

    got = {
        r.label: (list(r.svec), r.n)
        for r in read_centroids(spark, store).collect()
    }
    want = {
        r.label: (list(r.svec), r.n) for r in centroid_sums(newer).collect()
    }
    assert got == want  # exact additive merge, any batch split

    ref = centroid_sums(ref_df)
    got_drift = sorted(
        tuple(r) for r in read_drift(spark, store, ref).collect()
    )
    want_drift = sorted(
        tuple(r) for r in embedding_drift(ref_df, newer).collect()
    )
    assert got_drift == want_drift

    _apply_centroid_batch(b1, store, 0, "embedding", "label", 10_000)
    again = {
        r.label: (list(r.svec), r.n)
        for r in read_centroids(spark, store).collect()
    }
    assert again == want


def test_cms_monitor_equals_batch_sketch(spark, tmp_path):
    """Two drains with overlapping keys: merged streaming CMS estimates
    must equal a single batch sketch over the union (cell merge is
    exact addition); a batch retry never double-counts; CMS >= exact
    on every probe."""
    import datetime as dt

    from airflow_spotify_etl_spark.operators.sketches import (
        count_min_estimate,
        count_min_sketch,
    )
    from airflow_spotify_etl_spark.streaming.cms_monitor import (
        _apply_cms_batch,
        read_cms_estimates,
        run_cms_monitor,
    )

    base = dt.datetime(2024, 3, 1)
    keys1 = ["alpha"] * 30 + ["beta"] * 5 + ["gamma"] * 1
    keys2 = ["alpha"] * 10 + ["beta"] * 15 + ["delta"] * 2
    rows1 = [(i, base, k) for i, k in enumerate(keys1)]
    rows2 = [(1000 + i, base, k) for i, k in enumerate(keys2)]
    schema = "event_id long, ts timestamp, event_type string"
    src = str(tmp_path / "cms_src")
    store = str(tmp_path / "cms_store")
    ckpt = str(tmp_path / "cms_ckpt")

    def drain():
        stream = spark.readStream.schema(schema).parquet(src)
        run_cms_monitor(spark, stream, store, ckpt)

    spark.createDataFrame(rows1, schema).coalesce(1).write.mode("append").parquet(src)
    drain()
    spark.createDataFrame(rows2, schema).coalesce(1).write.mode("append").parquet(src)
    drain()

    probes = spark.createDataFrame(
        [("alpha",), ("beta",), ("gamma",), ("delta",)], "event_type string"
    )
    got = {
        r.event_type: r.est
        for r in read_cms_estimates(spark, store, probes).collect()
    }
    union = spark.createDataFrame(rows1 + rows2, schema)
    batch_sketch = count_min_sketch(union, "event_type")
    want = {
        r.event_type: r.est
        for r in count_min_estimate(batch_sketch, probes, "event_type").collect()
    }
    assert got == want
    exact = {"alpha": 40, "beta": 20, "gamma": 1, "delta": 2}
    for k, e in exact.items():
        assert got[k] >= e  # CMS never underestimates

    # at-least-once retry: re-apply batch 0's content under its id
    b1 = spark.createDataFrame(rows1, schema)
    _apply_cms_batch(b1, store, 0, "event_type", 4, 1024)
    again = {
        r.event_type: r.est
        for r in read_cms_estimates(spark, store, probes).collect()
    }
    assert again == want


def test_hll_monitor_equals_batch_sketch(spark, tmp_path):
    """Two drains with overlapping users: merged streaming HLL registers
    must equal one batch sketch over the union (max-merge is exact and
    idempotent), and a replayed batch cannot move any register."""
    import datetime as dt

    from airflow_spotify_etl_spark.operators.sketches import (
        hll_estimate,
        hll_registers,
    )
    from airflow_spotify_etl_spark.streaming.hll_monitor import (
        _apply_hll_batch,
        read_hll_estimates,
        run_hll_monitor,
    )

    base = dt.datetime(2024, 3, 1)
    rows1 = [(i, base, "alpha", i % 40) for i in range(60)] + [
        (100 + i, base, "beta", i) for i in range(10)
    ]
    rows2 = [(200 + i, base, "alpha", 30 + i) for i in range(30)] + [
        (300 + i, base, "beta", 5 + i) for i in range(10)
    ]
    schema = "event_id long, ts timestamp, event_type string, user_id long"
    src = str(tmp_path / "hll_src")
    store = str(tmp_path / "hll_store")
    ckpt = str(tmp_path / "hll_ckpt")

    def drain():
        stream = spark.readStream.schema(schema).parquet(src)
        run_hll_monitor(spark, stream, store, ckpt)

    spark.createDataFrame(rows1, schema).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    drain()
    spark.createDataFrame(rows2, schema).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    drain()

    got = {
        r.event_type: (r.reg_sum_s, r.v_zero, r.hll_estimate)
        for r in read_hll_estimates(spark, store).collect()
    }
    union = spark.createDataFrame(rows1 + rows2, schema)
    want = {
        r.event_type: (r.reg_sum_s, r.v_zero, r.hll_estimate)
        for r in hll_estimate(
            hll_registers(union, "user_id", key_cols=["event_type"]),
            key_cols=["event_type"],
        ).collect()
    }
    assert got == want  # register-exact, not just approximately equal
    # alpha saw users 0..59 (60 distinct), beta 0..14 (15): small-range
    # linear counting keeps low-cardinality estimates tight
    assert abs(got["alpha"][2] - 60) / 60 < 0.25
    assert abs(got["beta"][2] - 15) / 15 < 0.25

    # at-least-once retry: re-apply batch 0's rows under a NEW batch id;
    # max-merge is idempotent so no register (hence no estimate) moves
    _apply_hll_batch(
        spark.createDataFrame(rows1, schema), store, 99, "event_type",
        "user_id",
    )
    again = {
        r.event_type: (r.reg_sum_s, r.v_zero, r.hll_estimate)
        for r in read_hll_estimates(spark, store).collect()
    }
    assert again == got


def test_drift_monitor_equals_batch_tvd(spark, tmp_path):
    """Two drains with overlapping sources: the merged streaming
    histogram's TVD matrix must equal the batch tvd_matrix over the
    union of every drained row (histogram merge is exact cell
    addition), and a foreachBatch RETRY (same batch id re-applied)
    must not move any cell."""
    from airflow_spotify_etl_spark.operators.incremental import tvd_matrix
    from airflow_spotify_etl_spark.streaming.drift_monitor import (
        _apply_histogram_batch,
        read_tvd_matrix,
        run_histogram_monitor,
    )

    schema = "doc_id long, text string, source string"
    rows1 = [(i, "x" * (5 + i % 3), "srcA") for i in range(30)] + [
        (100 + i, "y" * (6 + i % 4), "srcB") for i in range(20)
    ]
    rows2 = [(200 + i, "z" * (5 + i % 5), "srcA") for i in range(15)] + [
        (300 + i, "w" * 7, "srcC") for i in range(10)
    ]
    src = str(tmp_path / "drift_src")
    store = str(tmp_path / "drift_store")
    ckpt = str(tmp_path / "drift_ckpt")

    def drain():
        stream = spark.readStream.schema(schema).parquet(src)
        run_histogram_monitor(spark, stream, store, ckpt)

    spark.createDataFrame(rows1, schema).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    drain()
    spark.createDataFrame(rows2, schema).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    drain()

    got = {
        (r.grp_a, r.grp_b): (r.n_a, r.n_b, r.n_common_values, r.tvd_ppm)
        for r in read_tvd_matrix(spark, store).collect()
    }
    union = spark.createDataFrame(rows1 + rows2, schema)
    cnt = union.groupBy(
        F.col("source").alias("grp"), F.expr("length(text)").alias("v")
    ).agg(F.count("*").alias("c"))
    want = {
        (r.grp_a, r.grp_b): (r.n_a, r.n_b, r.n_common_values, r.tvd_ppm)
        for r in tvd_matrix(cnt, group_col="grp").collect()
    }
    assert got == want
    assert ("srcA", "srcB") in got and ("srcA", "srcC") in got

    # retry discipline: re-writing an existing batch id overwrites its
    # own partition with identical cells -- the matrix cannot move
    _apply_histogram_batch(
        spark.createDataFrame(rows1, schema), store, 0, "source",
        "length(text)",
    )
    again = {
        (r.grp_a, r.grp_b): (r.n_a, r.n_b, r.n_common_values, r.tvd_ppm)
        for r in read_tvd_matrix(spark, store).collect()
    }
    assert again == got


def test_composed_monitor_fleet_over_shared_stream(spark, tmp_path):
    """Composed multi-store deployment (round-7 verdict task 6, round-9
    task 8, round-10 task: sixth store): ONE shared event stream drained
    into SIX monitor stores — drift histogram (TVD), CMS heavy-hitters,
    HLL distinct-users, the lateness profile, the watermark delay-cost
    curve, and the hourly RATE monitor — across two
    drains with a foreachBatch RETRY in between. Each store's reader
    must equal its one-shot batch twin over the union of every drained
    row: the drift matrix equals the shared q319 tvd_matrix operator,
    CMS equals one sketch built over the union, HLL likewise, the
    merged lateness profile equals the batch q362 relation, and the
    merged delay curve equals the batch q378 relation (cross-batch
    lateness seeds from the earlier drain's max event time). The solo
    two-drain twins are covered per-monitor; this is the composed
    drain the realistic deployment runs."""
    from airflow_spotify_etl_spark.operators.incremental import (
        lateness_tier_counts,
        tvd_matrix,
    )
    from airflow_spotify_etl_spark.operators.sketches import (
        count_min_estimate,
        count_min_sketch,
        hll_estimate,
        hll_registers,
    )
    from airflow_spotify_etl_spark.streaming.cms_monitor import (
        _apply_cms_batch,
        read_cms_estimates,
        run_cms_monitor,
    )
    from airflow_spotify_etl_spark.streaming.drift_monitor import (
        _apply_histogram_batch,
        read_tvd_matrix,
        run_histogram_monitor,
    )
    from airflow_spotify_etl_spark.streaming.hll_monitor import (
        _apply_hll_batch,
        read_hll_estimates,
        run_hll_monitor,
    )
    from airflow_spotify_etl_spark.streaming.lateness_monitor import (
        _apply_delay_curve_batch,
        _apply_lateness_batch,
        read_delay_curve,
        read_lateness_profile,
        run_delay_curve_monitor,
        run_lateness_monitor,
    )
    from airflow_spotify_etl_spark.streaming.rate_monitor import (
        _apply_rate_batch,
        read_rate_flags,
        run_rate_monitor,
    )

    schema = SCHEMA
    rows1 = _rows(*[(i, i % 7, i % 5, ["view", "click"][i % 2], float(i % 4))
                    for i in range(40)])
    rows2 = _rows(*[(100 + i, i % 7, 10 + i % 6,
                     ["click", "purchase"][i % 2], float(i % 3))
                    for i in range(30)])
    src = str(tmp_path / "src")
    kinds = ("drift", "cms", "hll", "late", "curve", "rate")
    stores = {k: str(tmp_path / f"store_{k}") for k in kinds}
    ckpts = {k: str(tmp_path / f"ckpt_{k}") for k in kinds}

    def drain_all():
        # one shared source; each monitor drains it availableNow with its
        # own offsets — the composed fleet a production pipeline runs
        def stream():
            return spark.readStream.schema(schema).parquet(src)

        run_histogram_monitor(
            spark, stream(), stores["drift"], ckpts["drift"],
            group_col="event_type", value_expr="CAST(value AS BIGINT)",
        )
        run_cms_monitor(spark, stream(), stores["cms"], ckpts["cms"],
                        key_col="event_type")
        run_hll_monitor(spark, stream(), stores["hll"], ckpts["hll"],
                        key_col="event_type", value_col="user_id")
        run_lateness_monitor(spark, stream(), stores["late"],
                             ckpts["late"])
        run_delay_curve_monitor(spark, stream(), stores["curve"],
                                ckpts["curve"])
        run_rate_monitor(spark, stream(), stores["rate"], ckpts["rate"])

    spark.createDataFrame(rows1, schema).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    drain_all()

    # RETRY in between: re-apply batch 0 to every store — identical
    # partial overwritten in place, nothing may double-count
    b0 = spark.createDataFrame(rows1, schema)
    _apply_histogram_batch(b0, stores["drift"], 0, "event_type",
                           "CAST(value AS BIGINT)")
    _apply_cms_batch(b0, stores["cms"], 0, "event_type", 4, 1024)
    _apply_hll_batch(b0, stores["hll"], 0, "event_type", "user_id")
    _apply_lateness_batch(spark, b0, stores["late"], 0)
    _apply_delay_curve_batch(spark, b0, stores["curve"], 0)
    _apply_rate_batch(b0, stores["rate"], 0, "ts", "event_type")

    spark.createDataFrame(rows2, schema).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    drain_all()

    union = spark.createDataFrame(rows1 + rows2, schema)

    # drift store == batch q319 operator over the union
    got_tvd = {
        (r.grp_a, r.grp_b): (r.n_a, r.n_b, r.n_common_values, r.tvd_ppm)
        for r in read_tvd_matrix(spark, stores["drift"]).collect()
    }
    cnt = union.groupBy(
        F.col("event_type").alias("grp"),
        F.expr("CAST(value AS BIGINT)").alias("v"),
    ).agg(F.count("*").alias("c"))
    want_tvd = {
        (r.grp_a, r.grp_b): (r.n_a, r.n_b, r.n_common_values, r.tvd_ppm)
        for r in tvd_matrix(cnt, group_col="grp").collect()
    }
    assert got_tvd == want_tvd
    assert ("click", "view") in got_tvd or ("view", "click") in got_tvd

    # cms store == one sketch over the union
    probes = union.select("event_type").distinct()
    got_cms = {
        r.event_type: r.est
        for r in read_cms_estimates(spark, stores["cms"], probes).collect()
    }
    want_cms = {
        r.event_type: r.est
        for r in count_min_estimate(
            count_min_sketch(union, "event_type"), probes, "event_type"
        ).collect()
    }
    assert got_cms == want_cms
    exact = {r.event_type: r.c for r in
             union.groupBy("event_type").agg(F.count("*").alias("c")).collect()}
    for k, est in got_cms.items():
        assert est >= exact[k]  # CMS never underestimates

    # hll store == one sketch over the union
    got_hll = {
        r.event_type: r.hll_estimate
        for r in read_hll_estimates(spark, stores["hll"]).collect()
    }
    want_hll = {
        r.event_type: r.hll_estimate
        for r in hll_estimate(
            hll_registers(union, "user_id", key_cols=["event_type"]),
            key_cols=["event_type"],
        ).collect()
    }
    assert got_hll == want_hll
    assert set(got_hll) == {"view", "click", "purchase"}

    # lateness store == batch q362 relation over the union (arrival
    # order = event_id spans the two drains; cross-batch lateness
    # seeded from drain 1's max event time inside the monitor)
    got_late = {
        r.lateness_tier: (r.n_events, r.share_ppm)
        for r in read_lateness_profile(spark, stores["late"]).collect()
    }
    tiers = lateness_tier_counts(union)
    want_late = {
        r.lateness_tier: (r.n_events, r.share_ppm)
        for r in tiers.select(
            "lateness_tier",
            "n_events",
            F.expr(
                "(n_events * 1000000) div (sum(n_events) OVER ())"
            ).alias("share_ppm"),
        ).collect()
    }
    assert got_late == want_late
    assert sum(n for n, _ in got_late.values()) == len(rows1) + len(rows2)

    # delay-curve store == batch q378 curve over the union (same
    # shared lateness core, additive per-candidate drop partials)
    from airflow_spotify_etl_spark.operators.incremental import lateness_us
    from pyspark.sql import functions as _F

    got_curve = {
        r.delay_us: (r.n_events, r.n_dropped)
        for r in read_delay_curve(spark, stores["curve"]).collect()
    }
    late_union = lateness_us(union)
    want_curve = {
        r.delay_us: (r.n_events, r.n_dropped)
        for r in late_union.select(
            "late_us",
            _F.explode(
                _F.array(*[_F.lit(d).cast("long") for d in
                           (0, 1000000, 10000000, 60000000,
                            600000000, 3600000000)])
            ).alias("delay_us"),
        )
        .groupBy("delay_us")
        .agg(
            _F.count("*").cast("long").alias("n_events"),
            _F.sum(
                _F.when(_F.col("late_us") > _F.col("delay_us"), 1)
                .otherwise(0)
            ).cast("long").alias("n_dropped"),
        )
        .collect()
    }
    assert got_curve == want_curve
    assert got_curve[0][0] == len(rows1) + len(rows2)

    # rate store == batch q118 flags over the union (partial hourly
    # counts merge by exact addition; the flag core is shared code)
    from airflow_spotify_etl_spark.operators.quality import rate_anomalies

    got_rate = {
        (r.event_type, r.hour_ts): (r.cnt, r.is_anomaly)
        for r in read_rate_flags(spark, stores["rate"]).collect()
    }
    want_rate = {
        (r.event_type, r.hour_ts): (r.cnt, r.is_anomaly)
        for r in rate_anomalies(union, factor=3, n_lags=8).collect()
    }
    assert got_rate == want_rate
    assert sum(c for c, _ in got_rate.values()) == len(rows1) + len(rows2)
