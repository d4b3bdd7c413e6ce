"""Empty-input sweep: every core operator must return an empty (or
identity) result on zero rows — not raise. Empty partitions and empty
delta batches are routine at scale (a filter that matches nothing, an
ingest tick with no new data); an operator that crashes on them takes the
pipeline down on the quietest day."""

from __future__ import annotations

from pyspark.sql import types as T

DOC_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
        T.StructField("lang", T.StringType()),
        T.StructField("source", T.StringType()),
        T.StructField("n_chars", T.LongType()),
    ]
)


def _empty_docs(spark):
    return spark.createDataFrame([], DOC_SCHEMA)


def test_dedup_tiers_on_empty_corpus(spark):
    from airflow_spotify_etl_spark.operators.dedup import (
        chunk_dedup,
        exact_dedup,
        minhash_lsh_pairs,
        ngram_jaccard_pairs,
        simhash_pairs,
    )

    docs = _empty_docs(spark)
    assert exact_dedup(docs).count() == 0
    assert chunk_dedup(docs).count() == 0
    assert ngram_jaccard_pairs(docs).count() == 0
    assert minhash_lsh_pairs(docs).count() == 0
    assert simhash_pairs(docs).count() == 0


def test_delta_dedup_with_empty_delta_and_empty_corpus(spark, sf_dir):
    from airflow_spotify_etl_spark.operators.dedup import minhash_lsh_pairs_delta
    from airflow_spotify_etl_spark.sources.files import load_table

    docs = load_table(spark, sf_dir, "documents").limit(20)
    empty = _empty_docs(spark)
    # no new docs → no new pairs; empty corpus → delta can only self-pair
    assert minhash_lsh_pairs_delta(docs, empty).count() == 0
    assert minhash_lsh_pairs_delta(empty, empty).count() == 0


def test_sampling_on_empty(spark):
    from pyspark.sql import functions as F

    from airflow_spotify_etl_spark.operators.sampling import (
        quota_sample,
        stratified_sample,
        weighted_sample,
    )

    docs = _empty_docs(spark)
    assert stratified_sample(docs, {"en": 0.5}).count() == 0
    assert weighted_sample(docs.withColumn("w", F.lit(0.5)), "w").count() == 0
    assert quota_sample(docs, 5).count() == 0


def test_connected_components_on_empty_edges(spark):
    from airflow_spotify_etl_spark.operators.dedup import connected_components

    pairs = spark.createDataFrame([], "doc_a long, doc_b long")
    assert connected_components(pairs).count() == 0


def test_incremental_ops_with_empty_delta(spark, sf_dir):
    from pyspark.sql import functions as F

    from airflow_spotify_etl_spark.operators.incremental import (
        merge_rollup,
        rollup_snapshot,
        scd2_apply_delta,
        scd2_runs,
    )
    from airflow_spotify_etl_spark.sources.files import load_table

    ev = load_table(spark, sf_dir, "events").limit(50)
    empty_ev = spark.createDataFrame([], ev.schema)
    keys = ["event_type"]
    val = F.col("value").cast("decimal(18,2)")
    snap = rollup_snapshot(ev, keys, val)
    merged = merge_rollup(snap, rollup_snapshot(empty_ev, keys, val))
    assert merged.exceptAll(snap).isEmpty() and snap.exceptAll(merged).isEmpty()

    runs = scd2_runs(ev)
    applied = scd2_apply_delta(runs, empty_ev)
    assert applied.exceptAll(runs).isEmpty() and runs.exceptAll(applied).isEmpty()
    # and a delta applied to an EMPTY history is just the delta's own runs
    fresh = scd2_apply_delta(scd2_runs(empty_ev), ev)
    assert fresh.exceptAll(runs).isEmpty() and runs.exceptAll(fresh).isEmpty()


def test_quality_and_text_on_empty(spark):
    from airflow_spotify_etl_spark.operators.text import (
        repetition_metrics,
        token_entropy,
    )
    from airflow_spotify_etl_spark.pipelines.corpus import quality_filter

    docs = _empty_docs(spark)
    assert quality_filter(docs).count() == 0
    assert repetition_metrics(docs).count() == 0
    assert token_entropy(docs).count() == 0


def test_round4_ops_on_empty(spark, sf_dir):
    """canonical_dedup / exact_k_sample / bloom_novelty_filter /
    diversity_cap / pq_encode on zero input rows: empty result, no
    crash. Empty CORPUS sides that seed driver literals (centroids,
    codebooks, bloom) raise a clear error or degrade per contract."""
    import pytest as _pytest
    from pyspark.sql import types as T

    from airflow_spotify_etl_spark.operators.dedup import (
        bloom_novelty_filter,
        canonical_dedup,
    )
    from airflow_spotify_etl_spark.operators.sampling import exact_k_sample
    from airflow_spotify_etl_spark.operators.similarity import (
        diversity_cap,
        hash_seed_centroids,
        pq_codebooks,
        pq_encode,
    )
    from airflow_spotify_etl_spark.sources.files import load_table

    docs = _empty_docs(spark)
    assert canonical_dedup(docs).count() == 0
    assert exact_k_sample(docs, 10).count() == 0

    some = load_table(spark, sf_dir, "documents").limit(20)
    # empty delta → nothing novel; empty corpus → everything novel
    assert bloom_novelty_filter(some, docs).count() == 0
    assert bloom_novelty_filter(docs.limit(0), docs).count() == 0
    # empty corpus still builds a valid (all-zero) bloom: all delta novel
    assert bloom_novelty_filter(docs, some).count() == 20

    emb_schema = T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("embedding", T.ArrayType(T.FloatType())),
        ]
    )
    empty_emb = spark.createDataFrame([], emb_schema)
    emb = load_table(spark, sf_dir, "embeddings").limit(20)
    cents = hash_seed_centroids(emb, nlist=4)
    assert diversity_cap(empty_emb, cents, m=3).count() == 0
    books = pq_codebooks(emb, n_sub=4, n_codes=8)
    assert pq_encode(empty_emb, books).count() == 0
    with _pytest.raises(ValueError):
        hash_seed_centroids(empty_emb, nlist=4)
    with _pytest.raises(ValueError):
        pq_codebooks(empty_emb)


def test_gap_fill_on_empty_stream(spark):
    from pyspark.sql import types as T

    from airflow_spotify_etl_spark.operators.incremental import gap_fill_hourly

    schema = T.StructType(
        [T.StructField("ts", T.TimestampType()), T.StructField("value", T.DoubleType())]
    )
    assert gap_fill_hourly(spark.createDataFrame([], schema)).count() == 0


def test_round5_text_ops_on_empty_corpus(spark):
    from airflow_spotify_etl_spark.operators.dedup import (
        span_dup_profile,
        winnowed_dup_profile,
        winnowed_fingerprints,
    )
    from airflow_spotify_etl_spark.operators.text import hashed_linear_score

    docs = _empty_docs(spark)
    assert span_dup_profile(docs).count() == 0
    assert winnowed_fingerprints(docs).count() == 0
    assert winnowed_dup_profile(docs).count() == 0
    assert hashed_linear_score(docs).count() == 0


def test_dsir_empty_pools(spark, sf_dir):
    """Empty TARGET pool: every raw doc scores with the uniform-floor
    target model (finite, not NaN/error). Empty RAW pool: empty output."""
    from airflow_spotify_etl_spark.operators.sampling import dsir_log_weights
    from airflow_spotify_etl_spark.sources.files import load_table

    docs = load_table(spark, sf_dir, "documents").limit(10)
    empty = _empty_docs(spark)
    out = dsir_log_weights(docs, empty).collect()
    assert len(out) == 10
    assert all(r.log_weight == r.log_weight for r in out)  # no NaN
    assert dsir_log_weights(empty, docs).count() == 0


def test_merge_upsert_empty_sides(spark):
    from airflow_spotify_etl_spark.operators.incremental import merge_upsert

    base = spark.createDataFrame([(1, "a")], "k int, v string")
    empty = spark.createDataFrame([], "k int, v string")
    assert [r.v for r in merge_upsert(base, empty, ["k"]).collect()] == ["a"]
    assert [r.v for r in merge_upsert(empty, base, ["k"]).collect()] == ["a"]
    assert merge_upsert(empty, empty, ["k"]).count() == 0


def test_kmv_empty_and_single_group(spark):
    from airflow_spotify_etl_spark.operators.sketches import (
        kmv_group_sketch,
        kmv_pair_overlap,
    )

    empty = spark.createDataFrame([], "g string, v string")
    mins = kmv_group_sketch(empty, "g", "v")
    assert mins.count() == 0
    assert kmv_pair_overlap(mins, "g").count() == 0
    one = spark.createDataFrame([("a", "x"), ("a", "y")], "g string, v string")
    # a single group has no pairs — empty result, no error
    assert kmv_pair_overlap(kmv_group_sketch(one, "g", "v"), "g").count() == 0


def test_zorder_empty_and_constant_dims(spark, tmp_path):
    """Empty input writes an empty-but-readable table; a constant
    dimension (min == max) degrades to rank 0 instead of dividing by a
    zero-width bucket."""
    from airflow_spotify_etl_spark.operators.layout import write_zordered

    empty = spark.createDataFrame([], "x long, y long")
    p1 = str(tmp_path / "ze")
    write_zordered(empty, p1, ["x", "y"], n_files=4)
    assert spark.read.parquet(p1).count() == 0

    const = spark.createDataFrame([(1, i) for i in range(100)], "x long, y long")
    p2 = str(tmp_path / "zc")
    write_zordered(const, p2, ["x", "y"], n_files=4)
    assert spark.read.parquet(p2).count() == 100


def test_round4b_ops_on_empty(spark):
    """Every operator added in the second half of round 4 survives a
    zero-row input: empty result (or identity), never a raise."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from airflow_spotify_etl_spark.operators.bpe import (
        bpe_merge_candidates,
        bpe_train,
    )
    from airflow_spotify_etl_spark.operators.dedup import sparse_cosine_pairs
    from airflow_spotify_etl_spark.operators.incremental import stats_drift
    from airflow_spotify_etl_spark.operators.layout import (
        epoch_shuffle,
        range_boundaries,
    )
    from airflow_spotify_etl_spark.operators.quality import rate_anomalies
    from airflow_spotify_etl_spark.operators.sampling import (
        contrastive_negatives,
    )
    from airflow_spotify_etl_spark.operators.similarity import embedding_drift

    docs = _empty_docs(spark)
    assert sparse_cosine_pairs(docs).count() == 0
    assert bpe_merge_candidates(docs).count() == 0
    merges, vocab = bpe_train(docs, n_merges=3)
    assert merges == [] and vocab.count() == 0
    assert epoch_shuffle(docs, id_col="doc_id").count() == 0
    assert contrastive_negatives(docs, id_col="doc_id").count() == 0

    ev = spark.createDataFrame(
        [], "event_id long, ts timestamp, event_type string"
    )
    assert rate_anomalies(ev).count() == 0

    assert stats_drift(docs, docs, ["lang", "n_chars"]).count() == 2  # all-zero rows join fine
    sd = {r.column: r for r in stats_drift(docs, docs, ["lang"]).collect()}
    assert sd["lang"].n_old == 0 and not sd["lang"].distinct_drift

    emb = spark.createDataFrame(
        [], "vec_id long, embedding array<float>, label int"
    )
    assert embedding_drift(emb, emb).count() == 0

    vals = spark.createDataFrame([], "v double")
    assert range_boundaries(vals, "v", 4).count() == 0


def test_round4b_text_ops_with_null_text(spark):
    """NULL, empty and all-blank text must degrade gracefully (no rows /
    no pairs / zero counts), never raise — the PERMISSIVE-read contract
    extends to the new text ops. The exact outputs are pinned: a token-less
    doc reports zeros, except ``pack_documents``, whose NULL-text doc keeps
    a NULL token count (and so NULL seq/offset)."""
    from airflow_spotify_etl_spark.operators.bpe import bpe_merge_candidates
    from airflow_spotify_etl_spark.operators.dedup import (
        boilerplate_excision,
        chunk_dedup,
        sparse_cosine_pairs,
        span_dup_profile,
        span_excise,
        winnowed_dup_profile,
    )
    from airflow_spotify_etl_spark.operators.packing import pack_documents
    from airflow_spotify_etl_spark.operators.sampling import dsir_log_weights

    rows = [(1, None, "en", "s1", 0), (2, "a b c d", "en", "s1", 7),
            (3, "a b c d", "en", "s1", 7), (4, "", "en", "s1", 0),
            (5, "   ", "en", "s1", 3)]
    docs = spark.createDataFrame(rows, DOC_SCHEMA)
    pairs = sparse_cosine_pairs(docs, threshold=0.0).collect()
    assert {(r.doc_a, r.doc_b) for r in pairs} == {(2, 3)}
    top = bpe_merge_candidates(docs, top_k=50).collect()
    assert all(r.n_occurrences >= 1 for r in top)

    def rows_of(df):
        return sorted(tuple(r) for r in df.collect())

    blank = [1, 4, 5]
    assert rows_of(chunk_dedup(docs, chunk_words=2)) == sorted(
        [(2, 2, 2, "a b c d"), (3, 2, 0, "")] + [(i, 0, 0, "") for i in blank]
    )
    assert rows_of(boilerplate_excision(docs, chunk_words=2)) == sorted(
        [(2, 2, 2, ""), (3, 2, 2, "")] + [(i, 0, 0, "") for i in blank]
    )
    assert rows_of(span_dup_profile(docs, window_words=2)) == sorted(
        [(2, 3, 3, 1.0, 3), (3, 3, 3, 1.0, 3)]
        + [(i, 0, 0, 0.0, 0) for i in blank]
    )
    assert rows_of(span_excise(docs, window_words=2)) == sorted(
        [(2, 4, 0, "a b c d"), (3, 4, 4, "")] + [(i, 0, 0, "") for i in blank]
    )
    assert rows_of(winnowed_dup_profile(docs, window_words=2, winnow_k=2)) == sorted(
        [(2, 2, 2, 1.0), (3, 2, 2, 1.0)] + [(i, 0, 0, 0.0) for i in blank]
    )
    dsir = dsir_log_weights(docs, docs.filter("doc_id = 2"), n_buckets=16)
    assert rows_of(dsir) == sorted(
        [(2, 4, -0.8926), (3, 4, -0.8926)] + [(i, 0, 0.0) for i in blank]
    )
    packed = {r.doc_id: r for r in pack_documents(docs, capacity=4, n_shards=1).collect()}
    assert {i: r.n_tokens for i, r in packed.items()} == {1: None, 2: 4, 3: 4, 4: 0, 5: 0}
    assert (packed[1].seq, packed[1].offset) == (None, None)
    assert sorted((r.seq, r.offset) for i, r in packed.items() if i != 1) == [
        (0, 0), (1, 0), (2, 0), (2, 0)
    ]


def test_pack_documents_null_text_with_ansi_off(spark):
    """With ANSI off, ``size(NULL)`` is -1, not NULL. A NULL-text doc must
    still get a NULL token count, so the docs after it in its shard keep
    their offsets: doc 2 starts the first sequence at offset 0."""
    from airflow_spotify_etl_spark.operators.packing import pack_documents

    rows = [(1, None, "en", "s1", 0), (2, "a b c d", "en", "s1", 7),
            (3, "a b", "en", "s1", 3)]
    docs = spark.createDataFrame(rows, DOC_SCHEMA)
    key = "spark.sql.ansi.enabled"
    before = spark.conf.get(key)
    spark.conf.set(key, "false")
    try:
        packed = {
            r.doc_id: (r.n_tokens, r.seq, r.offset)
            for r in pack_documents(docs, capacity=4, n_shards=1).collect()
        }
    finally:
        spark.conf.set(key, before)
    assert packed == {1: (None, None, None), 2: (4, 0, 0), 3: (2, 1, 0)}
