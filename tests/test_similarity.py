"""Similarity-search tests: brute force is the ground truth; IVF and LSH
tiers are measured against it for recall on the real embeddings table."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from airflow_spotify_etl_spark.operators.similarity import (
    cosine_pairs_lsh,
    cosine_topk,
    hash_seed_centroids,
    ivf_search,
    ivf_topk,
)
from airflow_spotify_etl_spark.sources.files import load_table


@pytest.fixture(scope="module")
def emb(spark, sf_dir):
    return load_table(spark, sf_dir, "embeddings").cache()


def _queries(emb):
    return emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )


def _jobs_during(spark, group, fn):
    """``fn()``'s result and the number of Spark jobs it ran."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_bruteforce_self_similarity(spark, emb):
    # Querying the corpus WITH the query vectors included: rank-1 neighbor of
    # each query must be itself with cosine 1.0.
    out = cosine_topk(emb, _queries(emb), k=1).collect()
    assert len(out) == 5
    for r in out:
        assert r.vec_id == r.query_id and r.cosine_sim == pytest.approx(1.0)


def test_bruteforce_scores_sorted_and_bounded(spark, emb):
    corpus = emb.filter(F.col("vec_id") >= 5)
    rows = cosine_topk(corpus, _queries(emb), k=5).collect()
    by_q: dict = {}
    for r in rows:
        by_q.setdefault(r.query_id, []).append((r.rank, r.cosine_sim))
    for q, lst in by_q.items():
        lst.sort()
        sims = [s for _, s in lst]
        assert sims == sorted(sims, reverse=True)
        assert all(-1.0001 <= s <= 1.0001 for s in sims)


def test_ivf_recall_vs_bruteforce(spark, emb):
    corpus = emb.filter(F.col("vec_id") >= 5)
    q = _queries(emb)
    exact = {(r.query_id, r.vec_id) for r in cosine_topk(corpus, q, k=5).collect()}
    approx = {
        (r.query_id, r.vec_id)
        for r in ivf_topk(corpus, q, k=5, nlist=8, nprobe=4).collect()
    }
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.6, recall  # probing half the cells


def test_hash_seeded_ivf_search(spark, emb):
    # Lloyd-free seeded search (the q56 oracle path): seeds are dense
    # 0..nlist-1, and the search still recalls a usable fraction of the
    # exact top-k — untrained cells are worse than Lloyd's but not broken.
    corpus = emb.filter(F.col("vec_id") >= 5)
    q = _queries(emb)
    cents = hash_seed_centroids(corpus, nlist=8)
    assert [c for c, _ in cents] == list(range(8))
    out = ivf_search(corpus, q, cents, k=5, nprobe=4).collect()
    assert {r.query_id for r in out} == set(range(5))
    assert all(1 <= r.rank <= 5 for r in out)
    exact = {(r.query_id, r.vec_id) for r in cosine_topk(corpus, q, k=5).collect()}
    approx = {(r.query_id, r.vec_id) for r in out}
    assert len(exact & approx) / len(exact) >= 0.4


def test_lsh_pairs_verified_above_threshold(spark, emb):
    pairs = cosine_pairs_lsh(emb, threshold=0.45).collect()
    for r in pairs:
        assert r.cosine_sim >= 0.45
        assert r.vec_a < r.vec_b


def test_lsh_pairs_finds_planted_duplicates(spark):
    import numpy as np

    rng = np.random.RandomState(7)
    base = rng.randn(10, 64)
    rows = [(i, base[i].astype(float).tolist()) for i in range(10)]
    # vec 100 = near-copy of vec 0 (tiny perturbation → cosine ≈ 1).
    rows.append((100, (base[0] + 0.01 * rng.randn(64)).astype(float).tolist()))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = {(r.vec_a, r.vec_b) for r in cosine_pairs_lsh(df, threshold=0.95).collect()}
    assert (0, 100) in got


def test_lsh_pairs_reject_vectors_of_another_dim(spark):
    """A vector whose length is not ``dim`` would dot to NULL against
    every plane, sketch to all zeros and share one bucket per band with
    every other such vector. The query fails instead, from inside the
    plan: building the frame runs no Spark job."""
    import numpy as np

    rng = np.random.RandomState(7)
    base = rng.randn(10, 8)
    rows = [(i, base[i].tolist()) for i in range(10)]
    rows.append((100, (base[0] + 0.01 * rng.randn(8)).tolist()))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    pairs, jobs = _jobs_during(
        spark, "lsh-dim-build", lambda: cosine_pairs_lsh(df, threshold=0.95)
    )
    assert jobs == 0
    # The raise reaches Python as a SparkRuntimeException, or wrapped in a
    # Py4JJavaError when several query stages fail at once.
    with pytest.raises(Exception, match="vector length 8 != dim 64"):
        pairs.collect()
    got = {(r.vec_a, r.vec_b) for r in cosine_pairs_lsh(df, threshold=0.95, dim=8).collect()}
    assert (0, 100) in got


def test_ivf_clamps_nlist_to_corpus_size(spark):
    """nlist > corpus size degrades gracefully (ADVICE r2): fewer cells,
    correct top-k — and an empty corpus raises a clear error."""
    from airflow_spotify_etl_spark.operators.similarity import _centroids, ivf_topk

    corpus = spark.createDataFrame(
        [(i, [float(i + 1), 0.0]) for i in range(3)],
        "vec_id long, embedding array<float>",
    )
    queries = spark.createDataFrame(
        [(0, [1.0, 0.0])], "query_id long, embedding array<float>"
    )
    got = ivf_topk(corpus, queries, k=3, nlist=16, nprobe=16)
    assert got.count() == 3  # all vectors still reachable
    with pytest.raises(ValueError, match="empty"):
        _centroids(corpus.filter("vec_id < 0"), "embedding", "vec_id", 4)


def test_semantic_dedup_drops_planted_duplicate(spark):
    from airflow_spotify_etl_spark.operators.dedup import connected_components

    base = [float(i % 7) - 3.0 for i in range(64)]
    other = [float((i * 3) % 11) - 5.0 for i in range(64)]
    df = spark.createDataFrame(
        [(0, base), (1, list(base)), (2, other)],
        "vec_id long, embedding array<double>",
    )
    pairs = cosine_pairs_lsh(df, threshold=0.9)
    comp = connected_components(pairs, a_col="vec_a", b_col="vec_b")
    dropped = {
        r.doc_id: r.component
        for r in comp.filter("doc_id != component").collect()
    }
    assert dropped == {1: 0}


def test_diversity_cap_caps_and_orders_each_cell(spark, emb):
    from airflow_spotify_etl_spark.operators.similarity import diversity_cap

    cents = hash_seed_centroids(emb, nlist=4)
    out = diversity_cap(emb, cents, m=3).collect()
    by_cell: dict[int, list] = {}
    for r in out:
        by_cell.setdefault(r.cell, []).append(r)
    n_vecs = emb.count()
    assert sum(len(v) for v in by_cell.values()) <= 4 * 3 < n_vecs
    for rows in by_cell.values():
        rows.sort(key=lambda r: r.rank)
        assert [r.rank for r in rows] == list(range(1, len(rows) + 1))
        sims = [r.centroid_sim for r in rows]
        assert sims == sorted(sims)  # diverse: least prototypical first

    proto = diversity_cap(emb, cents, m=3, keep="prototypes").collect()
    for cell in {r.cell for r in proto}:
        sims = [r.centroid_sim for r in sorted(proto, key=lambda r: r.rank) if r.cell == cell]
        assert sims == sorted(sims, reverse=True)


def test_diversity_cap_rejects_unknown_keep(spark, emb):
    from airflow_spotify_etl_spark.operators.similarity import diversity_cap

    cents = hash_seed_centroids(emb, nlist=4)
    with pytest.raises(ValueError, match="keep"):
        diversity_cap(emb, cents, m=3, keep="diversity")


def test_pq_encode_matches_numpy_argmin(spark, emb):
    """Each subspace code must be the true L2 argmin over that subspace's
    codewords (ties to the lowest code) — checked against numpy."""
    import numpy as np

    from airflow_spotify_etl_spark.operators.similarity import (
        pq_codebooks,
        pq_encode,
    )

    corpus = emb.filter(F.col("vec_id") >= 5)
    books = pq_codebooks(corpus, n_sub=4, n_codes=16)
    rows = pq_encode(corpus, books).select(
        "vec_id", "embedding", "code_0", "code_1", "code_2", "code_3"
    ).orderBy("vec_id").limit(50).collect()
    d = len(books[0][0])
    for r in rows:
        v = np.asarray(r.embedding, dtype="float64")
        for j in range(4):
            B = np.asarray(books[j], dtype="float64")
            dist = ((B - v[j * d : (j + 1) * d]) ** 2).sum(axis=1)
            assert getattr(r, f"code_{j}") == int(np.argmin(dist)), (r.vec_id, j)


def test_pq_adc_is_reconstruction_dot_and_beats_chance(spark, emb):
    """ADC score must equal dot(query, reconstructed vector) (numpy,
    within output rounding), and the compressed search must keep useful
    recall against the exact inner-product top-k."""
    import numpy as np

    from airflow_spotify_etl_spark.operators.similarity import (
        pq_adc_topk,
        pq_codebooks,
        pq_encode,
    )

    corpus = emb.filter(F.col("vec_id") >= 5)
    queries = _queries(emb)
    books = pq_codebooks(corpus, n_sub=4, n_codes=16)
    out = pq_adc_topk(corpus, queries, books, k=5).collect()
    assert len(out) == 25

    codes = {
        r.vec_id: [r.code_0, r.code_1, r.code_2, r.code_3]
        for r in pq_encode(corpus, books).select(
            "vec_id", "code_0", "code_1", "code_2", "code_3"
        ).collect()
    }
    qv = {r.query_id: np.asarray(r.embedding, dtype="float64") for r in queries.collect()}
    for r in out:
        recon = np.concatenate([np.asarray(books[j][codes[r.vec_id][j]]) for j in range(4)])
        assert abs(r.adc_sim - float(qv[r.query_id] @ recon)) < 1e-3, r

    # Quality: set-recall@5 is flaky on near-unstructured synthetic
    # embeddings, so assert the robust VALUE form instead — the ADC-chosen
    # neighbors must have above-corpus-average TRUE inner product for
    # every query (a random pick would sit at the average).
    ev = {r.vec_id: np.asarray(r.embedding, dtype="float64") for r in corpus.collect()}
    for qid, q in qv.items():
        sims = {vid: float(q @ v) for vid, v in ev.items()}
        got = [r.vec_id for r in out if r.query_id == qid]
        mean_all = sum(sims.values()) / len(sims)
        mean_got = sum(sims[vid] for vid in got) / len(got)
        assert mean_got > mean_all, (qid, mean_got, mean_all)


def test_pq_trained_codebooks_quantize_tighter_than_seeded(spark, emb):
    """The trained (per-subspace Lloyd) codebooks must reconstruct with
    lower total squared error than the hash-seeded slices — the reason
    the quality path exists (q27/q56 duality applied to compression)."""
    import numpy as np

    from airflow_spotify_etl_spark.operators.similarity import (
        pq_codebooks,
        pq_codebooks_trained,
    )

    corpus = emb.filter(F.col("vec_id") >= 5)
    X = np.stack([
        np.asarray(r.embedding, dtype="float64") for r in corpus.collect()
    ])
    d = X.shape[1] // 4

    def sq_err(books):
        err = 0.0
        for j in range(4):
            B = np.asarray(books[j], dtype="float64")
            S = X[:, j * d : (j + 1) * d]
            err += ((S[:, None, :] - B[None, :, :]) ** 2).sum(-1).min(1).sum()
        return err

    seeded = sq_err(pq_codebooks(corpus, n_sub=4, n_codes=16))
    trained = sq_err(pq_codebooks_trained(corpus, n_sub=4, n_codes=16))
    assert trained < seeded, (trained, seeded)


def test_ivf_pq_probe_all_equals_plain_adc(spark, emb):
    """At nprobe = nlist the IVF tier prunes nothing, so IVF-PQ must
    return EXACTLY pq_adc_topk's answer — the probe-all identity that
    justifies the pruned configuration (same argument as trained-IVF
    q27). At nprobe < nlist every hit must come from a probed cell."""
    from airflow_spotify_etl_spark.operators.similarity import (
        _assign_cells,
        ivf_pq_topk,
        pq_adc_topk,
        pq_codebooks,
    )

    corpus = emb.filter(F.col("vec_id") >= 5)
    q = _queries(emb)
    cents = hash_seed_centroids(corpus, nlist=8)
    books = pq_codebooks(corpus, n_sub=4, n_codes=16)

    full = [tuple(r) for r in pq_adc_topk(corpus, q, books, k=5).orderBy("query_id", "rank").collect()]
    probe_all = [tuple(r) for r in ivf_pq_topk(corpus, q, cents, books, k=5, nprobe=8).orderBy("query_id", "rank").collect()]
    assert probe_all == full

    pruned = ivf_pq_topk(corpus, q, cents, books, k=5, nprobe=2).collect()
    cells = {r.vec_id: r.cell for r in _assign_cells(corpus, cents, "embedding", "vec_id").collect()}
    assert len(pruned) == 25
    for r in pruned:
        assert r.vec_id in cells  # every hit is a real corpus row


def test_stored_ann_index_prunes_partitions_and_matches_inmemory(spark, emb, tmp_path):
    """The stored index must be cell-partitioned, the search must read
    ONLY the probed cells (PartitionFilters on the parquet scan — the
    physical 100 TB claim), and results must equal the in-memory IVF-PQ
    composition exactly."""
    from airflow_spotify_etl_spark.operators.similarity import (
        ivf_pq_topk,
        pq_codebooks,
        search_ann_index,
        write_ann_index,
    )

    corpus = emb.filter(F.col("vec_id") >= 5)
    q = _queries(emb)
    cents = hash_seed_centroids(corpus, nlist=8)
    books = pq_codebooks(corpus, n_sub=4, n_codes=16)
    path = str(tmp_path / "ann_index")
    write_ann_index(corpus, cents, books, path)

    got = search_ann_index(spark, path, q, cents, books, k=5, nprobe=3)
    want = ivf_pq_topk(corpus, q, cents, books, k=5, nprobe=3)
    g = sorted(tuple(r) for r in got.collect())
    w = sorted(tuple(r) for r in want.collect())
    assert g == w and len(g) == 25

    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [cell" in plan, plan[:1500]
    # The pruned scan lists only probed cell directories, never all 8.
    import re as _re

    m = _re.search(r"PartitionFilters: \[cell#\d+ IN \(([^)]*)\)", plan)
    assert m and len(m.group(1).split(",")) < 8, plan[:1500]


def test_ann_index_build_and_search_respect_string_ids(spark, tmp_path):
    """String ids flow through the stored index build and its search
    unchanged: the id field keeps the input's type (no hardcoded long)."""
    from airflow_spotify_etl_spark.operators.similarity import (
        pq_codebooks,
        search_ann_index,
        write_ann_index,
    )

    corpus = spark.createDataFrame(
        [(f"doc-{i}", [float((i * 7 + j) % 5) - 2.0 for j in range(8)]) for i in range(12)],
        "vec_id string, embedding array<double>",
    )
    cents = hash_seed_centroids(corpus, nlist=4)
    books = pq_codebooks(corpus, n_sub=2, n_codes=4)
    path = str(tmp_path / "ann_index")
    write_ann_index(corpus, cents, books, path)
    idx = spark.read.parquet(path)
    assert dict(idx.dtypes)["vec_id"] == "string"
    assert {r.vec_id for r in idx.collect()} == {f"doc-{i}" for i in range(12)}

    q = corpus.filter(F.col("vec_id") == "doc-3").select(
        F.lit(0).alias("query_id"), "embedding"
    )
    got = search_ann_index(spark, path, q, cents, books, k=3, nprobe=4)
    assert dict(got.dtypes)["vec_id"] == "string"
    hits = got.collect()
    assert len(hits) == 3 and {r.vec_id for r in hits} <= {f"doc-{i}" for i in range(12)}


def test_ivf_search_rejects_sparse_centroid_ids(spark):
    """Centroid cell ids must be dense 0..nlist-1 (the cell id is the
    position in the literal centroid matrix); a gap raises ValueError,
    which survives ``python -O``."""
    corpus = spark.createDataFrame(
        [(i, [float(i + 1), 0.0]) for i in range(3)],
        "vec_id long, embedding array<double>",
    )
    q = corpus.select(F.col("vec_id").alias("query_id"), "embedding")
    cents = [(0, [1.0, 0.0]), (2, [0.0, 1.0])]
    with pytest.raises(ValueError, match="dense"):
        ivf_search(corpus, q, cents, k=1, nprobe=1)


def test_probe_ties_go_to_the_higher_cell(spark, tmp_path):
    """A query exactly equidistant from two unit centroids probes the
    HIGHER cell in every probe selection: ivf_search, ivf_pq_topk and the
    stored-index search all return cell 1's rows, the last two equal.
    Besides reading the index's schema, search_ann_index runs exactly one
    Spark job before its search: the collect of the small probe
    relation."""
    from airflow_spotify_etl_spark.operators.similarity import (
        _assign_cells,
        ivf_pq_topk,
        pq_codebooks,
        search_ann_index,
        write_ann_index,
    )

    corpus = spark.createDataFrame(
        [(0, [2.0, 0.1]), (1, [3.0, 0.2]), (2, [1.0, 0.3]),
         (3, [0.1, 2.0]), (4, [0.2, 3.0]), (5, [0.3, 1.0])],
        "vec_id long, embedding array<double>",
    )
    q = spark.createDataFrame([(0, [1.0, 1.0])], "query_id long, embedding array<double>")
    cents = [(0, [1.0, 0.0]), (1, [0.0, 1.0])]
    assigned = _assign_cells(corpus, cents, "embedding", "vec_id")
    cell1 = {r.vec_id for r in assigned.filter("cell = 1").collect()}
    assert cell1 == {3, 4, 5}

    hits = ivf_search(corpus, q, cents, k=3, nprobe=1).collect()
    assert {r.vec_id for r in hits} == cell1

    books = pq_codebooks(corpus, n_sub=2, n_codes=4)
    path = str(tmp_path / "ann_index")
    write_ann_index(corpus, cents, books, path)
    want = sorted(
        tuple(r) for r in ivf_pq_topk(corpus, q, cents, books, k=3, nprobe=1).collect()
    )
    _, schema_jobs = _jobs_during(spark, "ann-index-schema", lambda: spark.read.parquet(path))
    got, jobs = _jobs_during(
        spark,
        "ann-search-probes",
        lambda: search_ann_index(spark, path, q, cents, books, k=3, nprobe=1),
    )
    assert jobs == schema_jobs + 1  # the index's schema read, one probe collect
    assert sorted(tuple(r) for r in got.collect()) == want
    assert {r[2] for r in want} == cell1


def test_quantize_int8_error_bounds(spark, sf_dir):
    """Quantization contract on the real embeddings: max |x − recon| ≤
    scale/254 (half a quantization step, + float slack), cos_recon ≥
    0.999, and the max-|x| element reconstructs exactly (code ±127)."""
    from airflow_spotify_etl_spark.operators.similarity import quantize_int8
    from airflow_spotify_etl_spark.sources.files import load_table

    emb = load_table(spark, sf_dir, "embeddings").limit(50)
    rows = quantize_int8(emb).collect()
    assert len(rows) == 50
    for r in rows:
        assert r.max_abs_err <= r.scale / 254 + 1e-6
        assert r.cos_recon >= 0.999
        assert max(abs(c) for c in r.qvec) == 127


def test_quantize_int8_zero_vector(spark):
    from airflow_spotify_etl_spark.operators.similarity import quantize_int8

    emb = spark.createDataFrame(
        [(1, [0.0, 0.0, 0.0]), (2, [1.0, -2.0, 0.5])],
        "vec_id long, embedding array<float>",
    )
    got = {r.vec_id: r for r in quantize_int8(emb).collect()}
    z = got[1]
    assert z.scale == 0.0 and z.cos_recon == 1.0 and z.max_abs_err == 0.0
    assert list(z.qvec) == [0, 0, 0]
    assert got[2].qvec[1] == -127  # max-|x| element hits the rail


def test_sq8_search_recall_high(spark, sf_dir):
    """The int8 tier must be usable for search: recall@5 vs the exact
    float scan stays ≥ 4/5 on every query (int8 noise ~0.4% of scale
    rarely reorders well-separated neighbors)."""
    from airflow_spotify_etl_spark.plans.llm import q113_sq8_search_recall

    rows = q113_sq8_search_recall(spark, sf_dir).collect()
    assert len(rows) == 5
    assert all(r.n_overlap_at_5 >= 4 for r in rows)
    assert all(len(r.sq8_top5.split(",")) == 5 for r in rows)


def test_embedding_drift_identical_and_shifted_snapshots(spark):
    """Identical snapshots: cosine 1, shift 0, no drift. A label whose
    vectors flip direction in the new snapshot: cosine -1, flagged."""
    from airflow_spotify_etl_spark.operators.similarity import embedding_drift

    base = [
        (i, [1.0, 0.0, 0.0, 2.0], 0) for i in range(10)
    ] + [
        (100 + i, [0.0, 3.0, 1.0, 0.0], 1) for i in range(8)
    ]
    schema = "vec_id long, embedding array<float>, label int"
    old = spark.createDataFrame(base, schema)
    same = {r.label: r for r in embedding_drift(old, old).collect()}
    assert all(r.centroid_cosine == 1.0 for r in same.values())
    assert all(r.mean_shift_l2 == 0.0 for r in same.values())
    assert not any(r.drift for r in same.values())

    flipped = [
        (i, [-1.0, 0.0, 0.0, -2.0], 0) for i in range(10)
    ] + [
        (100 + i, [0.0, 3.0, 1.0, 0.0], 1) for i in range(8)
    ]
    new = spark.createDataFrame(flipped, schema)
    out = {r.label: r for r in embedding_drift(old, new).collect()}
    assert out[0].centroid_cosine == -1.0 and out[0].drift
    assert out[1].centroid_cosine == 1.0 and not out[1].drift
    # label 0 flipped: mean shift = 2*|mean| = 2*sqrt(1+4)
    import math

    assert abs(out[0].mean_shift_l2 - 2 * math.sqrt(5)) < 1e-4


def test_embedding_drift_is_aggregation_order_independent(spark):
    """The quantized integer sums make the centroid exact under any
    partitioning: 1-partition and 16-partition runs agree bit-for-bit."""
    from airflow_spotify_etl_spark.operators.similarity import embedding_drift
    from airflow_spotify_etl_spark.sources.files import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    old = emb.filter(F.col("vec_id") < 250)
    new = emb.filter(F.col("vec_id") >= 250)
    a = sorted(tuple(r) for r in embedding_drift(old, new).collect())
    b = sorted(
        tuple(r)
        for r in embedding_drift(
            old.repartition(16), new.repartition(16)
        ).collect()
    )
    assert a == b


def test_q167_embedding_health_zero_vec_and_partition_invariance(spark, tmp_path):
    """A planted all-zero vector is counted; quantized integer norms make
    the result identical under different partitionings (the float-sum
    order trap the quantization exists to kill)."""
    from pyspark.sql import functions as F

    from airflow_spotify_etl_spark.plans.llm import q167_embedding_health
    from airflow_spotify_etl_spark.sources.files import SCHEMAS, load_table

    base = load_table(spark, "/root/testdata/sf0.001", "embeddings").limit(50)
    zero = spark.createDataFrame(
        [(999999, [0.0] * 64, 0)], SCHEMAS["embeddings"]
    )
    base.unionByName(zero).write.parquet(str(tmp_path / "embeddings.parquet"))
    out1 = {
        r.label: (r.n_vecs, r.n_zero_vecs, r.mean_sq_norm, r.dims_constant)
        for r in q167_embedding_health(spark, str(tmp_path)).collect()
    }
    assert out1[0][1] == 1 and all(v[3] for v in out1.values())
    # repartitioned read → identical result (order-independent sums)
    import shutil

    shutil.rmtree(str(tmp_path / "embeddings.parquet"))
    base.unionByName(zero).repartition(13).write.parquet(
        str(tmp_path / "embeddings.parquet")
    )
    out2 = {
        r.label: (r.n_vecs, r.n_zero_vecs, r.mean_sq_norm, r.dims_constant)
        for r in q167_embedding_health(spark, str(tmp_path)).collect()
    }
    assert out1 == out2


def test_q179_centroid_affinity_partition_invariant_and_bounded(spark, sf_dir):
    """Quantized integer centroid sums → the matrix is identical under
    repartitioning, every cosine is in [-1, 1], and all 45 unordered
    label pairs appear exactly once."""
    from airflow_spotify_etl_spark.plans.llm import q179_label_centroid_affinity

    rows = q179_label_centroid_affinity(spark, sf_dir).collect()
    assert len(rows) == 45
    assert all(-1.0 <= r.centroid_cosine <= 1.0 for r in rows)
    pairs = {(r.label_a, r.label_b) for r in rows}
    assert len(pairs) == 45 and all(a < b for a, b in pairs)
