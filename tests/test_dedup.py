"""Dedup-suite tests: exact tiers verified on literal data; approximate
tiers (MinHash-LSH, SimHash) verified for recall against the exact tier on
the real documents table."""

from __future__ import annotations

import pytest

from airflow_spotify_etl_spark.operators.dedup import (
    exact_dedup,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    shingle,
    simhash_pairs,
)
from airflow_spotify_etl_spark.sources.files import load_table


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_exact_dedup_keeps_min_id(spark):
    df = _docs(spark, [(1, "a b c"), (2, "a b c"), (3, "x y z")])
    out = {r.keeper: r.n_copies for r in exact_dedup(df).collect()}
    assert out == {1: 2, 3: 1}


def test_shingle_semantics(spark):
    df = _docs(spark, [(1, "a b c d"), (2, "a b")])  # doc 2: too short → none
    got = sorted((r.doc_id, r.shingle) for r in shingle(df, n=3).collect())
    assert got == [(1, "a b c"), (1, "b c d")]


def test_jaccard_exact_values(spark):
    # doc1: shingles {a b c, b c d}; doc2: {a b c}; jaccard = 1/2
    df = _docs(spark, [(1, "a b c d"), (2, "a b c")])
    row = ngram_jaccard_pairs(df, threshold=0.0).collect()[0]
    assert (row.doc_a, row.doc_b, row.jaccard) == (1, 2, 0.5)


def test_identical_docs_jaccard_one(spark):
    df = _docs(spark, [(1, "a b c d e"), (2, "a b c d e")])
    row = ngram_jaccard_pairs(df, threshold=0.9).collect()[0]
    assert row.jaccard == 1.0


@pytest.fixture(scope="module")
def real_docs(spark, sf_dir):
    return load_table(spark, sf_dir, "documents").cache()


def test_minhash_lsh_recall_vs_exact(spark, real_docs):
    exact = {
        (r.doc_a, r.doc_b)
        for r in ngram_jaccard_pairs(real_docs, threshold=0.6, max_bucket=None).collect()
    }
    approx = {
        (r.doc_a, r.doc_b)
        for r in minhash_lsh_pairs(real_docs, threshold=0.5).collect()
    }
    assert exact, "fixture should contain near-dup pairs"
    recall = len(exact & approx) / len(exact)
    # 16 bands × r=4 → P[candidate] ≈ 1-(1-s^4)^16 ≥ 0.94 at s=0.6.
    assert recall >= 0.8, (recall, exact - approx)
    # verified pairs carry true jaccard ≥ threshold (no false positives).
    for r in minhash_lsh_pairs(real_docs, threshold=0.5).collect():
        assert r.jaccard >= 0.5


def test_simhash_finds_exact_duplicates(spark):
    df = _docs(
        spark,
        [
            (1, "the quick brown fox jumps over the lazy dog again and again"),
            (2, "the quick brown fox jumps over the lazy dog again and again"),
            (3, "completely different words entirely unrelated content here now"),
        ],
    )
    pairs = {(r.doc_a, r.doc_b): r.hamming for r in simhash_pairs(df).collect()}
    assert pairs.get((1, 2)) == 0
    assert (1, 3) not in pairs and (2, 3) not in pairs


def test_connected_components_known_graph(spark):
    """Chain 1-2-3 and pair 10-11: labels converge to each cluster's min id
    (the transitive case pairwise dedup alone gets wrong). In the second
    graph the min (5) hangs off the far end of 10-11-12, so its label must
    travel back along the chain."""
    from airflow_spotify_etl_spark.operators.dedup import connected_components

    def labels(edges):
        pairs = spark.createDataFrame(edges, "doc_a long, doc_b long")
        return {(r.doc_id, r.component) for r in connected_components(pairs).collect()}

    assert labels([(2, 3), (1, 2), (10, 11)]) == {
        (1, 1), (2, 1), (3, 1), (10, 10), (11, 10)
    }
    assert labels([(2, 3), (1, 2), (10, 11), (11, 12), (5, 12)]) == {
        (1, 1), (2, 1), (3, 1), (5, 5), (10, 5), (11, 5), (12, 5)
    }


def test_connected_components_one_action_per_round(spark):
    """Chain 1-2-3 and pair 10-11 take 3 rounds (two that change a label,
    one that confirms none changed). A round is one eager checkpoint whose
    job also counts the changed labels, so under AQE (one job per query
    stage) the whole call stays within 6 jobs per round plus 3 for the edge
    double. A checkpoint plus a separate count per round runs 30."""
    from airflow_spotify_etl_spark.operators.dedup import connected_components

    pairs = spark.createDataFrame([(2, 3), (1, 2), (10, 11)], "doc_a long, doc_b long")
    sc = spark.sparkContext
    group = "cc-jobs-per-round"
    sc.setJobGroup(group, "connected_components")
    try:
        connected_components(pairs)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    n_jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    assert n_jobs <= 6 * 3 + 3, n_jobs


def test_band_bucket_cap_drops_boilerplate_buckets(spark):
    """30 identical docs collide in EVERY band: with the cap below the
    bucket population the quadratic expansion is dropped entirely; with the
    cap off, all 435 pairs come back. (Production composes exact-dedup
    first, so surviving hot buckets really are templated noise.)"""
    df = _docs(spark, [(i, "alpha beta gamma delta epsilon zeta") for i in range(30)])
    capped = minhash_lsh_pairs(df, verify=False, max_band_bucket=10)
    assert capped.count() == 0
    uncapped = minhash_lsh_pairs(df, verify=False, max_band_bucket=None)
    assert uncapped.count() == 30 * 29 // 2
    sim_capped = simhash_pairs(df, max_block_bucket=10)
    assert sim_capped.count() == 0


def test_connected_components_refuses_unconverged(spark):
    """A cluster whose diameter exceeds max_iter must raise, not silently
    return wrong labels (ADVICE r2)."""
    from airflow_spotify_etl_spark.operators.dedup import connected_components

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(10)], "doc_a long, doc_b long"
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(chain, max_iter=2)


def test_ngram_contamination_planted_overlap(spark):
    """A corpus doc containing an eval doc's exact 4-gram is flagged with
    the right shared count; clean docs are not."""
    from airflow_spotify_etl_spark.operators.dedup import ngram_contamination

    eval_docs = _docs(spark, [(1, "the secret eval answer is forty two")])
    corpus = _docs(
        spark,
        [
            (10, "prefix words then the secret eval answer is forty two suffix"),
            (11, "completely unrelated clean text with no overlap at all"),
        ],
    )
    got = {r.doc_id: r.n_shared_ngrams for r in
           ngram_contamination(corpus, eval_docs, n=4).collect()}
    # eval doc has 4 distinct 4-grams; the contaminated doc contains them all
    assert got == {10: 4}


def test_chunk_dedup_removes_cross_doc_boilerplate(spark):
    from airflow_spotify_etl_spark.operators.dedup import chunk_dedup

    boiler = "one two three four five six seven eight"
    df = _docs(
        spark,
        [
            (1, boiler + " alpha beta gamma delta epsilon zeta eta theta"),
            (2, boiler + " iota kappa lambda mu nu xi omicron pi"),
            (3, ""),
        ],
    )
    out = {r.doc_id: r for r in chunk_dedup(df, chunk_words=8).collect()}
    # doc 1 keeps both chunks; doc 2 loses the boilerplate chunk only.
    assert (out[1].n_chunks, out[1].n_kept) == (2, 2)
    assert (out[2].n_chunks, out[2].n_kept) == (2, 1)
    assert out[2].text_clean == "iota kappa lambda mu nu xi omicron pi"
    assert out[1].text_clean == out[1].text_clean.strip() and boiler in out[1].text_clean
    # empty doc survives with zero chunks, not a dropped row
    assert (out[3].n_chunks, out[3].n_kept, out[3].text_clean) == (0, 0, "")


def test_chunk_dedup_first_occurrence_is_positional(spark):
    from airflow_spotify_etl_spark.operators.dedup import chunk_dedup

    # The SAME chunk twice within one doc: second occurrence dropped too.
    chunk = "a b c d e f g h"
    df = _docs(spark, [(7, chunk + " " + chunk)])
    row = chunk_dedup(df, chunk_words=8).collect()[0]
    assert (row.n_chunks, row.n_kept, row.text_clean) == (2, 1, chunk)


def test_delta_probe_respects_band_bucket_cap(spark):
    """30 identical docs arrive as a delta against an identical-text
    corpus: every band bucket is hot, the cap drops them all, and the
    probe join expands nothing — the same boilerplate guarantee as the
    full path's collect_list expansion."""
    from airflow_spotify_etl_spark.operators.dedup import minhash_lsh_pairs_delta

    corpus = _docs(spark, [(i, "alpha beta gamma delta epsilon zeta") for i in range(20)])
    delta = _docs(spark, [(100 + i, "alpha beta gamma delta epsilon zeta") for i in range(10)])
    capped = minhash_lsh_pairs_delta(corpus, delta, max_band_bucket=10)
    assert capped.count() == 0
    uncapped = minhash_lsh_pairs_delta(corpus, delta, max_band_bucket=None)
    # all pairs touching the delta: C(10,2) within + 10x20 across
    assert uncapped.count() == 10 * 9 // 2 + 10 * 20


def test_canonical_dedup_counts_variants_once(spark):
    """Case/punctuation/whitespace variants share one canonical hash; the
    global keeper is the minimum doc_id, and per-source accounting sees
    cross-source duplicates (a source whose doc loses to another source's
    keeper reports it as dropped)."""
    from airflow_spotify_etl_spark.operators.dedup import canonical_dedup

    df = spark.createDataFrame(
        [
            (1, "Hello, World!", "a"),
            (2, "hello   world", "a"),
            (3, "HELLO WORLD?", "b"),
            (4, "different", "b"),
        ],
        "doc_id long, text string, source string",
    )
    got = {r.source: r for r in canonical_dedup(df).collect()}
    assert got["a"].n_docs == 2 and got["a"].n_canonical == 1
    assert got["a"].n_kept == 1  # doc 1 is the global keeper
    assert got["b"].n_docs == 2 and got["b"].n_canonical == 2
    assert got["b"].n_kept == 1  # doc 3 loses to source a's keeper


def test_bloom_novelty_exact_even_when_bloom_saturated(spark):
    """The bloom gate must be correctness-neutral: with a deliberately
    tiny, saturated filter (high false-positive rate) the output still
    equals the plain anti-join — dups always land in the exact-join
    branch (no false negatives), and false positives are weeded there."""
    from pyspark.sql import functions as F

    from airflow_spotify_etl_spark.operators.dedup import bloom_novelty_filter

    corpus = spark.createDataFrame(
        [(i, f"corpus doc {i} body {i * 7}") for i in range(120)],
        "doc_id long, text string",
    )
    delta = spark.createDataFrame(
        # 40 exact dups of corpus docs + 40 novel docs
        [(1000 + i, f"corpus doc {i} body {i * 7}") for i in range(40)]
        + [(2000 + i, f"novel doc {i} payload {i * 13}") for i in range(40)],
        "doc_id long, text string",
    )
    expected = {
        r.doc_id
        for r in delta.join(
            corpus.select(F.md5("text").alias("_ch")).distinct(),
            F.md5(delta.text) == F.col("_ch"),
            "left_anti",
        ).collect()
    }
    assert expected == {2000 + i for i in range(40)}

    for m_bits, j in ((1 << 16, 4), (256, 2)):  # healthy and saturated
        got = {
            r.doc_id
            for r in bloom_novelty_filter(
                corpus, delta, m_bits=m_bits, j_hashes=j
            ).collect()
        }
        assert got == expected, (m_bits, j)


def test_bloom_novelty_gates_join_to_candidates(spark):
    """With a healthy bloom, corpus-absent docs must take the join-free
    branch: the candidate (exact-join) side holds only dups + the rare
    false positive, not the whole batch."""
    from airflow_spotify_etl_spark.operators.dedup import bloom_novelty_filter

    corpus = spark.createDataFrame(
        [(i, f"stored {i} text {i * 3}") for i in range(100)],
        "doc_id long, text string",
    )
    delta = spark.createDataFrame(
        [(500 + i, f"fresh {i} text {i * 11}") for i in range(100)]
        + [(900, "stored 7 text 21")],
        "doc_id long, text string",
    )
    out = bloom_novelty_filter(corpus, delta)
    assert {r.doc_id for r in out.collect()} == {500 + i for i in range(100)}
    # Re-derive the gate's branch split to measure selectivity: the
    # might-contain candidates must be a small fraction of the batch.
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "LeftAnti" in plan or "left_anti" in plan


def test_canonical_dedup_survives_hot_canonical_key(spark):
    """Planted skew: 5k docs collapsing to ONE canonical hash (the
    all-boilerplate corpus). The keeper window exchange carries only the
    narrow (id, source, hash) projection, so a hot key is rows of ~50
    bytes, not documents — the operator must stay correct: one canonical
    form, one global keeper, everything else dropped."""
    from airflow_spotify_etl_spark.operators.dedup import canonical_dedup

    df = spark.createDataFrame(
        [(i, f"  SAME   boilerplate!! {'' if True else i}", f"s{i % 4}") for i in range(5000)],
        "doc_id long, text string, source string",
    )
    got = {r.source: r for r in canonical_dedup(df).collect()}
    assert sum(r.n_docs for r in got.values()) == 5000
    assert all(r.n_canonical == 1 for r in got.values())
    assert sum(r.n_kept for r in got.values()) == 1  # one global keeper
    assert got["s0"].n_kept == 1  # doc_id 0 lives in source s0


def test_bloom_novelty_null_text_rows_survive_as_novel(spark):
    """NULL-text rows: NULL equals nothing in the anti-join's semantics,
    so they are novel by definition — they must neither crash the bloom
    build (md5(NULL) position) nor silently vanish from the probe."""
    from pyspark.sql import functions as F  # noqa: F401

    from airflow_spotify_etl_spark.operators.dedup import bloom_novelty_filter

    corpus = spark.createDataFrame(
        [(1, "kept"), (2, None)], "doc_id long, text string"
    )
    delta = spark.createDataFrame(
        [(10, "kept"), (11, None), (12, "fresh")], "doc_id long, text string"
    )
    got = {r.doc_id for r in bloom_novelty_filter(corpus, delta).collect()}
    assert got == {11, 12}


def test_span_dup_profile_alignment_free(spark):
    """A 10-token span shared at DIFFERENT word offsets in two docs (0 vs
    3) is still caught: a shared span of >= window_words tokens contains a
    full window at every internal offset on both sides, so the stride-1
    hashes collide regardless of alignment. chunk_dedup's fixed grid
    misses exactly this case; the dense windows are the point."""
    from airflow_spotify_etl_spark.operators.dedup import span_dup_profile

    span = " ".join(f"s{i}" for i in range(10))
    docs = spark.createDataFrame(
        [
            (1, span + " tail1 tail2 tail3 tail4"),
            (2, "pre1 pre2 pre3 " + span + " other1 other2"),
            (3, "u1 u2 u3 u4 u5 u6 u7 u8 u9 u10 u11 u12"),
        ],
        "doc_id long, text string",
    )
    got = {r.doc_id: r for r in span_dup_profile(docs, 8).collect()}
    # 10-token span, 8-token windows: internal offsets 0,1,2 exist fully
    # in both docs -> exactly 3 shared windows each, one consecutive run.
    assert got[1].n_dup_windows == 3 and got[2].n_dup_windows == 3
    assert got[1].max_dup_run == 3 and got[2].max_dup_run == 3
    assert got[3].n_dup_windows == 0 and got[3].max_dup_run == 0
    assert got[3].dup_frac == 0.0


def test_span_dup_profile_stride_phase_caveat(spark):
    """Documented stride>1 limitation: with stride 2, span alignments that
    disagree mod 2 (offsets 0 vs 3) sample disjoint internal offsets and
    the shared span goes UNDETECTED — the reason stride defaults to 1."""
    from airflow_spotify_etl_spark.operators.dedup import span_dup_profile

    span = " ".join(f"s{i}" for i in range(10))
    docs = spark.createDataFrame(
        [
            (1, span + " tail1 tail2 tail3 tail4"),
            (2, "pre1 pre2 pre3 " + span + " other1 other2"),
        ],
        "doc_id long, text string",
    )
    got = {r.doc_id: r for r in span_dup_profile(docs, 8, stride=2).collect()}
    assert got[1].n_dup_windows == 0 and got[2].n_dup_windows == 0


def test_span_dup_profile_short_and_empty_docs(spark):
    """Docs shorter than the window (and empty text) report zeros rather
    than vanishing."""
    from airflow_spotify_etl_spark.operators.dedup import span_dup_profile

    docs = spark.createDataFrame(
        [(1, "only three words"), (2, ""), (3, None)],
        "doc_id long, text string",
    )
    got = {r.doc_id: r for r in span_dup_profile(docs, 8).collect()}
    assert sorted(got) == [1, 2, 3]
    for r in got.values():
        assert r.n_windows == 0 and r.n_dup_windows == 0 and r.max_dup_run == 0


def test_span_dup_profile_run_length_measures_span(spark):
    """Self-repetition: a doc that is one phrase looped has every window
    duplicated (dup_frac 1.0) and one unbroken run spanning all windows."""
    from airflow_spotify_etl_spark.operators.dedup import span_dup_profile

    text = " ".join(["loop word phrase"] * 12)  # 36 tokens, 3-periodic
    docs = spark.createDataFrame([(1, text)], "doc_id long, text string")
    r = span_dup_profile(docs, 8).collect()[0]
    assert r.n_windows == 36 - 8 + 1
    assert r.n_dup_windows == r.n_windows and r.dup_frac == 1.0
    assert r.max_dup_run == r.n_windows


def test_winnowing_guarantee_any_alignment(spark):
    """Winnowing bound: a shared span of exactly window_words + winnow_k − 1
    = 11 tokens, placed at offsets 0 / 5 / 13 in three docs, yields at
    least one COMMON fingerprint in every doc — content-defined selection
    means sparsification can't miss it, at any alignment."""
    from airflow_spotify_etl_spark.operators.dedup import winnowed_dup_profile

    span = " ".join(f"s{i}" for i in range(11))
    pad = lambda n, p: " ".join(f"{p}{j}" for j in range(n))
    docs = spark.createDataFrame(
        [
            (1, span + " " + pad(6, "x")),
            (2, pad(5, "y") + " " + span),
            (3, pad(13, "z") + " " + span + " " + pad(3, "q")),
            (4, pad(20, "u")),
        ],
        "doc_id long, text string",
    )
    got = {r.doc_id: r for r in winnowed_dup_profile(docs, 8, 4).collect()}
    assert got[1].n_shared_fp >= 1
    assert got[2].n_shared_fp >= 1
    assert got[3].n_shared_fp >= 1
    assert got[4].n_shared_fp == 0 and got[4].shared_frac == 0.0


def test_winnowing_sparser_than_dense(spark):
    """Density: winnowed fingerprints number well under the dense window
    count (~2/(k+1) of it), and every selected position is a valid window
    start carrying the matching md5."""
    from airflow_spotify_etl_spark.operators.dedup import winnowed_fingerprints

    text = " ".join(f"t{i}" for i in range(100))
    docs = spark.createDataFrame([(1, text)], "doc_id long, text string")
    fps = winnowed_fingerprints(docs, 8, 4).collect()
    n_dense = 100 - 8 + 1
    assert 0 < len(fps) < n_dense / 2  # k=4 → expect ~2/5 density
    assert all(0 <= r.wi < n_dense for r in fps)


def test_winnowing_ties_periodic_text(spark):
    """Periodic text (equal hashes inside one k-run) exercises the
    hash‖position tie-break: two docs that are the same phrase looped,
    shifted by one period, must still share fingerprints — the winning
    positions may differ, the winning HASH cannot."""
    from airflow_spotify_etl_spark.operators.dedup import winnowed_dup_profile

    loop = ("alpha beta gamma " * 10).strip()          # 30 tokens, period 3
    shifted = "beta gamma " + "alpha beta gamma " * 9 + "alpha"
    docs = spark.createDataFrame(
        [(1, loop), (2, shifted)], "doc_id long, text string"
    )
    got = {r.doc_id: r for r in winnowed_dup_profile(docs, 8, 4).collect()}
    assert got[1].n_shared_fp >= 1 and got[2].n_shared_fp >= 1


def test_winnowing_short_docs_zero(spark):
    from airflow_spotify_etl_spark.operators.dedup import winnowed_dup_profile

    docs = spark.createDataFrame(
        [(1, "too short"), (2, None)], "doc_id long, text string"
    )
    got = {r.doc_id: r for r in winnowed_dup_profile(docs, 8, 4).collect()}
    assert all(
        r.n_fingerprints == 0 and r.n_shared_fp == 0 for r in got.values()
    )


def test_span_excise_removes_second_occurrence_any_alignment(spark):
    """Doc 2 repeats doc 1's 10-token span at a different alignment: the
    span is excised from doc 2 (the later occurrence) and doc 1 keeps its
    text verbatim; surrounding tokens in doc 2 survive."""
    from airflow_spotify_etl_spark.operators.dedup import span_excise

    span_toks = [f"s{i}" for i in range(10)]
    span = " ".join(span_toks)
    d1 = span + " tail1 tail2 tail3 tail4"
    d2 = "pre1 pre2 pre3 " + span + " post1 post2"
    docs = spark.createDataFrame(
        [(1, d1), (2, d2)], "doc_id long, text string"
    )
    got = {r.doc_id: r for r in span_excise(docs, 8).collect()}
    assert got[1].n_removed == 0 and got[1].text_clean == d1
    out2 = got[2].text_clean.split()
    assert got[2].n_removed == 10
    assert not set(span_toks) & set(out2)       # span gone
    assert {"pre1", "pre2", "pre3", "post1", "post2"} <= set(out2)


def test_span_excise_self_repetition_keeps_one_copy(spark):
    """A doc that repeats its own 12-token block keeps exactly the first
    copy's tokens; later copies are excised."""
    from airflow_spotify_etl_spark.operators.dedup import span_excise

    block = " ".join(f"b{i}" for i in range(12))
    text = block + " mid1 mid2 " + block
    docs = spark.createDataFrame([(1, text)], "doc_id long, text string")
    r = span_excise(docs, 8).collect()[0]
    assert r.n_tokens == 26
    toks = r.text_clean.split()
    # first block + both middles survive; the 12 repeated tokens go
    assert r.n_removed == 12
    assert toks[:12] == block.split() and "mid1" in toks and "mid2" in toks


def test_span_excise_short_docs_pass_through(spark):
    from airflow_spotify_etl_spark.operators.dedup import span_excise

    docs = spark.createDataFrame(
        [(1, "short doc stays"), (2, ""), (3, None)],
        "doc_id long, text string",
    )
    got = {r.doc_id: r for r in span_excise(docs, 8).collect()}
    assert got[1].n_removed == 0 and got[1].text_clean == "short doc stays"
    assert got[2].n_removed == 0 and got[2].text_clean == ""
    assert got[3].n_removed == 0 and got[3].text_clean == ""


def test_span_excise_fixpoint_resolves_seam_duplicates(spark):
    """Constructed seam case: excising doc 2's copy of doc 1's span glues
    'c1 c2' next to 'c3 c4', minting a window that duplicates doc 3 —
    one pass leaves that second-order duplicate, the fixpoint does not.
    Final corpus must profile ZERO duplicated windows."""
    from pyspark.sql import functions as F

    from airflow_spotify_etl_spark.operators.dedup import (
        span_dup_profile,
        span_excise,
        span_excise_fixpoint,
    )

    span = " ".join(f"s{i}" for i in range(8))
    seam = "c1 c2 c3 c4"
    docs = spark.createDataFrame(
        [
            (1, span + " x1 x2"),
            (2, "c1 c2 " + span + " c3 c4"),
            (3, "q1 " + seam + " q2 q3"),  # will match doc 2's seam (4-token window)
        ],
        "doc_id long, text string",
    )

    one_pass = span_excise(docs, 4)
    cleaned_once = one_pass.select(
        "doc_id", F.col("text_clean").alias("text")
    )
    assert (
        span_dup_profile(cleaned_once, 4)
        .agg(F.sum("n_dup_windows"))
        .collect()[0][0]
        > 0
    )  # the seam duplicate survives one pass

    fixed = span_excise_fixpoint(docs, 4)
    cleaned = fixed.select("doc_id", F.col("text_clean").alias("text"))
    assert (
        span_dup_profile(cleaned, 4).agg(F.sum("n_dup_windows")).collect()[0][0]
        == 0
    )
    # accounting: totals = original minus surviving
    for r in fixed.collect():
        assert r.n_tokens - r.n_removed == len(r.text_clean.split())


def test_span_excise_fixpoint_noop_on_clean_corpus(spark):
    from airflow_spotify_etl_spark.operators.dedup import span_excise_fixpoint

    docs = spark.createDataFrame(
        [(1, "a b c d e"), (2, "f g h i j")], "doc_id long, text string"
    )
    out = span_excise_fixpoint(docs, 4).collect()
    assert all(r.n_removed == 0 for r in out)


def test_sparse_cosine_identical_docs_score_one(spark):
    from airflow_spotify_etl_spark.operators.dedup import sparse_cosine_pairs

    df = _docs(
        spark,
        [
            (1, "a b c d e f"),
            (2, "a b c d e f"),          # identical → cosine 1.0
            (3, "a b c d e f g h i"),    # shares a prefix → partial
            (4, "z z z z z z z z"),      # disjoint vocabulary
        ],
    )
    out = {
        (r.doc_a, r.doc_b): r
        for r in sparse_cosine_pairs(df, threshold=0.0).collect()
    }
    assert out[(1, 2)].cosine == 1.0
    # exact integers ride the output: identical 6-word docs share 4
    # trigrams, each count 1 → dot = norm2 = 4
    assert out[(1, 2)].dot == 4 and out[(1, 2)].norm2_a == 4
    assert 0.0 < out[(1, 3)].cosine < 1.0
    assert (1, 4) not in out and (2, 4) not in out


def test_sparse_cosine_weighs_repetition_above_jaccard(spark):
    """The count weighting is the point: a doc that repeats the shared
    boilerplate scores higher against its source than the unweighted
    set overlap would suggest."""
    from airflow_spotify_etl_spark.operators.dedup import sparse_cosine_pairs

    boiler = "the quick brown fox jumps"
    df = _docs(
        spark,
        [
            (1, boiler),
            (2, boiler + " " + boiler + " " + boiler),  # 3x repetition
            (3, boiler + " unrelated tail words here now ok"),
        ],
    )
    out = {
        (r.doc_a, r.doc_b): r.cosine
        for r in sparse_cosine_pairs(df, threshold=0.0).collect()
    }
    # doc 2 is doc 1 repeated: cosine stays high despite extra trigrams
    assert out[(1, 2)] > 0.8


def test_sparse_cosine_hot_term_cap_prunes_boilerplate(spark):
    from airflow_spotify_etl_spark.operators.dedup import sparse_cosine_pairs

    # 12 docs all share one boilerplate trigram; two also share real content
    rows = [(i, f"common boiler plate u{i} v{i} w{i}") for i in range(10)]
    rows += [(100, "real shared content alpha beta"), (101, "real shared content alpha beta")]
    df = _docs(spark, rows)
    # cap at 5: the df=12 'common boiler plate' term is dropped, so the
    # boilerplate-only docs form no pair; the real dup pair survives on
    # its own terms
    out = sparse_cosine_pairs(df, max_df=5, threshold=0.3).collect()
    pairs = {(r.doc_a, r.doc_b) for r in out}
    assert (100, 101) in pairs
    assert all(a >= 100 for a, _ in pairs)


def test_sparse_cosine_short_docs_form_no_pairs(spark):
    from airflow_spotify_etl_spark.operators.dedup import sparse_cosine_pairs

    df = _docs(spark, [(1, "a b"), (2, "a b"), (3, "")])
    assert sparse_cosine_pairs(df, threshold=0.0).count() == 0


def test_boilerplate_excision_removes_all_copies(spark):
    """Contrast with chunk_dedup's keep-first rule: a chunk in >= min_docs
    docs must vanish from EVERY doc, the first included; unique text and
    chunks shared only within a single doc survive untouched."""
    from airflow_spotify_etl_spark.operators.dedup import (
        boilerplate_excision,
        chunk_dedup,
    )

    bp = "cookie banner accept all terms privacy policy notice"  # 8 words
    u1 = "alpha beta gamma delta epsilon zeta eta theta"
    u2 = "one two three four five six seven eight"
    docs = spark.createDataFrame(
        [
            (1, f"{bp} {u1}"),
            (2, f"{bp} {u2}"),
            (3, u2.upper()),  # lowercased chunking → same chunk as doc 2's
        ],
        "doc_id long, text string",
    )
    out = {
        r.doc_id: r
        for r in boilerplate_excision(docs, chunk_words=8, min_docs=2).collect()
    }
    # bp is in docs 1+2 → gone from BOTH; u2 is in docs 2+3 → gone from both.
    assert (out[1].n_chunks, out[1].n_removed, out[1].text_clean) == (2, 1, u1)
    assert (out[2].n_chunks, out[2].n_removed, out[2].text_clean) == (2, 2, "")
    assert (out[3].n_chunks, out[3].n_removed, out[3].text_clean) == (1, 1, "")
    # chunk_dedup on the same corpus KEEPS the first copy of each chunk.
    kept = {r.doc_id: r.text_clean for r in chunk_dedup(docs, chunk_words=8).collect()}
    assert kept[1] == f"{bp} {u1}"
    # min_docs=3: nothing reaches 3 docs → identity (modulo case-folding).
    ident = {
        r.doc_id: r.n_removed
        for r in boilerplate_excision(docs, chunk_words=8, min_docs=3).collect()
    }
    assert ident == {1: 0, 2: 0, 3: 0}


def test_q170_band_sweep_recall_monotone(spark, sf_dir):
    """More bands (shorter rows-per-band) can only LOWER the S-curve
    midpoint, so recall at a fixed threshold must be non-decreasing in
    the band count, and every verified tier stays precision-1 vs the
    exact pair set (n_hit == n_pairs: verification uses the same exact
    Jaccard)."""
    from airflow_spotify_etl_spark.plans.llm import q170_lsh_band_sweep

    rows = q170_lsh_band_sweep(spark, sf_dir).collect()
    assert [r.bands for r in rows] == [8, 16, 32]
    recalls = [r.recall for r in rows]
    assert recalls == sorted(recalls), recalls
    for r in rows:
        assert r.n_hit == r.n_pairs, (r.bands, r.n_pairs, r.n_hit)
        assert r.n_hit <= r.n_exact
