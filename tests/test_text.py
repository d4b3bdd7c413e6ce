"""Text-operator tests: char n-grams on literal data; lang-id accuracy on
the labeled documents corpus (self-fit should beat chance decisively)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from airflow_spotify_etl_spark.operators.text import (
    char_ngrams,
    fit_lang_profiles,
    predict_lang,
)
from airflow_spotify_etl_spark.sources.files import load_table


def test_char_ngrams_literal(spark):
    df = spark.createDataFrame([(1, "abcd"), (2, "ab")], "doc_id long, text string")
    got = sorted((r.doc_id, r.gram) for r in char_ngrams(df, n=3).collect())
    assert got == [(1, "abc"), (1, "bcd")]  # doc 2 shorter than n → none


def test_lang_id_beats_chance(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents").cache()
    n_langs = docs.select("lang").distinct().count()
    profiles = fit_lang_profiles(docs)
    preds = predict_lang(docs, profiles)
    joined = preds.join(docs.select("doc_id", "lang"), "doc_id")
    acc_row = joined.agg(
        F.avg((F.col("pred_lang") == F.col("lang")).cast("double")).alias("acc")
    ).collect()[0]
    # Synthetic corpus shares one vocabulary across langs, so perfect ID is
    # impossible — but profiles fit on the corpus itself must beat chance.
    assert acc_row.acc > 1.0 / n_langs, acc_row.acc
    assert preds.count() == docs.count()  # every doc classified


def test_predict_lang_closed_form(spark):
    """NB scores on a literal model: score = Σ matched weights − 18 per
    unmatched token; a score tie goes to the lower lang; a doc matching no
    profile, or with no tokens (NULL or empty text), gets pred_lang null,
    n_matched 0 and the floor-only score n_tokens · −18; every doc
    appears exactly once."""
    profiles = spark.createDataFrame(
        [("de", "x", -2.0), ("en", "y", -2.0), ("en", "a", -0.5), ("de", "b", -0.25)],
        "lang string, gram string, weight double",
    )
    docs = spark.createDataFrame(
        [
            (1, "X y"),          # de and en both score -2 - 18 = -20 → de
            (2, "zzz qqq  www"),  # no profile token
            (3, None),
            (4, ""),
            (5, "a A b"),        # en -19.0 (2 matched) beats de -36.25
        ],
        "doc_id long, text string",
    )
    rows = predict_lang(docs, profiles).collect()
    assert sorted(r.doc_id for r in rows) == [1, 2, 3, 4, 5]
    got = {r.doc_id: (r.pred_lang, r.score, r.n_matched) for r in rows}
    assert got[1] == ("de", -20.0, 1)
    assert got[2] == (None, 3 * -18.0, 0)
    assert got[3] == (None, 0.0, 0) and got[4] == (None, 0.0, 0)
    assert got[5] == ("en", -19.0, 2)


def test_repetition_metrics_closed_form(spark):
    from airflow_spotify_etl_spark.operators.text import repetition_metrics

    df = spark.createDataFrame(
        [(1, "a a a b"), (2, "x y"), (3, "solo")], "doc_id long, text string"
    )
    got = {r.doc_id: r for r in repetition_metrics(df).collect()}
    r1 = got[1]  # tokens: a,a,a,b; bigrams: "a a","a a","a b"
    assert r1.n_tokens == 4
    assert r1.type_token_ratio == 0.5
    assert r1.top_token_frac == 0.75
    assert r1.top_bigram_frac == 0.6667
    assert got[2].top_bigram_frac == 1.0
    assert got[3].n_tokens == 1 and got[3].top_bigram_frac is None


def test_repetition_metrics_null_text_counts_zero_tokens(spark):
    """NULL text must yield n_tokens=0 (the pre-r7 explode+left-join
    semantics; the r7 ADVICE low flagged that size(split(NULL)) would
    otherwise propagate NULL) — the doc row must survive with zeroed
    counts, not vanish or go NULL."""
    from airflow_spotify_etl_spark.operators.text import repetition_metrics

    df = spark.createDataFrame(
        [(1, None), (2, "x y")], "doc_id long, text string"
    )
    got = {r.doc_id: r for r in repetition_metrics(df).collect()}
    assert got[1].n_tokens == 0
    assert got[1].top_bigram_frac is None
    assert got[2].n_tokens == 2


def test_token_entropy_closed_form(spark):
    import math

    from airflow_spotify_etl_spark.operators.text import token_entropy

    df = spark.createDataFrame(
        [(1, "a b c d"), (2, "a a a")], "doc_id long, text string"
    )
    got = {r.doc_id: r for r in token_entropy(df).collect()}
    assert got[1].entropy == round(math.log(4), 4) and got[1].entropy_norm == 1.0
    assert got[2].entropy == 0.0 and got[2].entropy_norm == 0.0


def test_stratified_sample_deterministic_and_rate_bounded(spark, sf_dir):
    from airflow_spotify_etl_spark.operators.sampling import stratified_sample

    docs = load_table(spark, sf_dir, "documents")
    rates = {"en": 0.5, "de": 0.0}
    a = stratified_sample(docs, rates).select("doc_id").collect()
    b = stratified_sample(docs, rates).select("doc_id").collect()
    assert {r.doc_id for r in a} == {r.doc_id for r in b}  # reproducible
    by_lang = dict(
        stratified_sample(docs, rates)
        .groupBy("lang").count().collect()
    )
    totals = dict(docs.groupBy("lang").count().collect())
    assert "de" not in by_lang                      # rate 0 drops stratum
    assert by_lang["fr"] == totals["fr"]            # unlisted keeps default 1.0
    assert 0.3 < by_lang["en"] / totals["en"] < 0.7  # ~rate, hash-binomial
    # independent salts draw different samples
    c = {r.doc_id for r in stratified_sample(docs, rates, salt="other").select("doc_id").collect()}
    assert c != {r.doc_id for r in a}


def test_pack_documents_invariants(spark, sf_dir):
    """Packing plan: offsets stay inside capacity, every doc lands exactly
    once, and within a shard consecutive docs tile contiguously (next start
    = previous start + previous n_tokens)."""
    from airflow_spotify_etl_spark.operators.packing import pack_documents

    docs = load_table(spark, sf_dir, "documents")
    cap = 512
    plan = pack_documents(docs, capacity=cap, n_shards=4).collect()
    assert len(plan) == docs.count()
    assert {r.shard for r in plan} <= set(range(4))
    by_shard: dict[int, list] = {}
    for r in plan:
        assert 0 <= r.offset < cap
        by_shard.setdefault(r.shard, []).append(r)
    for rows in by_shard.values():
        rows.sort(key=lambda r: r.doc_id)
        start = 0
        for r in rows:
            assert r.seq == start // cap and r.offset == start % cap
            start += r.n_tokens


def test_bm25_ranks_term_dense_docs_first(spark, sf_dir):
    """BM25 sanity on real data: every returned doc contains >=1 query
    term; scores are positive and non-increasing; ties break by doc_id."""
    from airflow_spotify_etl_spark.plans.llm import (
        _BM25_TERMS,
        q51_bm25_keyword_search,
    )

    rows = q51_bm25_keyword_search(spark, sf_dir).collect()
    assert 0 < len(rows) <= 20
    scores = [r.bm25 for r in rows]
    assert all(s > 0 for s in scores)
    assert scores == sorted(scores, reverse=True)
    docs = {r.doc_id: r.text for r in load_table(spark, sf_dir, "documents").collect()}
    for r in rows:
        assert any(t in docs[r.doc_id].lower().split() for t in _BM25_TERMS)


def test_redact_pii_literal(spark):
    from airflow_spotify_etl_spark.operators.text import redact_pii

    df = spark.createDataFrame(
        [
            (1, "mail a.user+tag@sub.example.org now"),
            (2, "call 555-123-4567 or visit 192.168.0.1 twice 10.0.0.2"),
            (3, "clean text only"),
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in redact_pii(df).collect()}
    assert out[1].text_clean == "mail <EMAIL> now"
    assert (out[1].n_email, out[1].n_phone, out[1].n_ipv4) == (1, 0, 0)
    assert out[2].text_clean == "call <PHONE> or visit <IP> twice <IP>"
    assert (out[2].n_email, out[2].n_phone, out[2].n_ipv4) == (0, 1, 2)
    assert out[3].text_clean == "clean text only"
    assert (out[3].n_email, out[3].n_phone, out[3].n_ipv4) == (0, 0, 0)


def test_top_ngrams_literal(spark):
    from airflow_spotify_etl_spark.operators.text import top_ngrams

    df = spark.createDataFrame(
        [(1, "a b a b"), (2, "a b x")], "doc_id long, text string"
    )
    rows = top_ngrams(df, n=2, k=10).collect()
    got = [(r.gram, r.n_occurrences, r.n_docs) for r in rows]
    assert got[0] == ("a b", 3, 2)
    assert ("b a", 1, 1) in got and ("b x", 1, 1) in got


def test_gopher_flags_discriminate(spark, sf_dir):
    from airflow_spotify_etl_spark.plans.llm import q58_gopher_quality_flags

    rows = q58_gopher_quality_flags(spark, sf_dir).collect()
    kept = sum(r.keep for r in rows)
    # Thresholds must actually split the corpus — a gate that keeps or drops
    # everything carries no signal.
    assert 0 < kept < len(rows)
    for r in rows:
        assert r.keep == (
            r.flag_word_count and r.flag_word_len and r.flag_top_word
            and r.flag_dup_words and r.flag_stopwords
        )


def test_pmi_sign_matches_independence(spark, sf_dir):
    from airflow_spotify_etl_spark.plans.llm import q59_cooccurrence_pmi

    rows = q59_cooccurrence_pmi(spark, sf_dir).collect()
    assert len(rows) == 50
    # PMI is ln(P(ab)/(P(a)P(b))): bounded by the corpus and finite.
    assert all(abs(r.pmi) < 20 for r in rows)
    # Ordered by co-occurrence count descending.
    counts = [r.n_ab for r in rows]
    assert counts == sorted(counts, reverse=True)


def test_normalize_text_literal(spark):
    from airflow_spotify_etl_spark.operators.text import normalize_text

    df = spark.createDataFrame(
        [("  Foo!!  BAR__baz 42 ",), ("already clean",), ("",)], "text string"
    )
    got = [r.n for r in df.select(normalize_text(F.col("text")).alias("n")).collect()]
    assert got == ["foo bar baz 42", "already clean", ""]


def test_exact_k_sample_size_prefix_determinism(spark, sf_dir):
    """Exactly k rows; the k-sample is a prefix of the 2k-sample at the
    same salt (growing a sample never resamples); reruns are identical;
    a different salt draws a different set."""
    from airflow_spotify_etl_spark.operators.sampling import exact_k_sample

    docs = load_table(spark, sf_dir, "documents")
    s10 = [r.doc_id for r in exact_k_sample(docs, 10).select("doc_id").collect()]
    s20 = [r.doc_id for r in exact_k_sample(docs, 20).select("doc_id").collect()]
    assert len(s10) == 10 and len(s20) == 20
    assert s20[:10] == s10
    again = [r.doc_id for r in exact_k_sample(docs, 10).select("doc_id").collect()]
    assert again == s10
    other = {r.doc_id for r in exact_k_sample(docs, 10, salt="x").select("doc_id").collect()}
    assert other != set(s10)


def test_weighted_exact_k_sample_properties(spark):
    """Exactly k rows; non-positive weights never compete; heavy weights
    dominate the draw (A-ES inclusion ∝ weight: u^(1/huge) ≈ 1 beats
    u^(1/tiny) ≈ 0 for any hash draw); reruns identical."""
    from airflow_spotify_etl_spark.operators.sampling import weighted_exact_k_sample

    rows = [(i, 1e6) for i in range(50)] + [(100 + i, 1e-3) for i in range(450)]
    rows += [(9000, 0.0), (9001, -5.0), (9002, None)]
    df = spark.createDataFrame(rows, "doc_id long, w double")
    out = weighted_exact_k_sample(df, 40, "w").collect()
    assert len(out) == 40
    assert all(r.doc_id < 50 for r in out)  # heavy class sweeps the draw
    again = weighted_exact_k_sample(df, 40, "w").collect()
    assert [r.doc_id for r in again] == [r.doc_id for r in out]


def test_hashed_linear_score_contract(spark):
    """Scores land strictly in (0,1); token-less docs score exactly 0.5
    (sigmoid(0)); identical texts score identically (content-addressed
    weights); every input doc appears once."""
    from airflow_spotify_etl_spark.operators.text import hashed_linear_score

    docs = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta"),
            (2, "alpha beta gamma delta"),
            (3, ""),
            (4, None),
            (5, "zeta eta theta iota kappa"),
        ],
        "doc_id long, text string",
    )
    got = {r.doc_id: r for r in hashed_linear_score(docs).collect()}
    assert sorted(got) == [1, 2, 3, 4, 5]
    assert all(0.0 < r.score < 1.0 for r in got.values())
    assert got[3].score == 0.5 and got[4].score == 0.5
    assert got[3].n_tokens == 0 and got[4].n_tokens == 0
    assert got[1].score == got[2].score and got[1].n_tokens == 4


def test_dsir_weights_prefer_target_like_docs(spark):
    """DSIR sanity: raw pool mixes two disjoint vocabularies; the target
    pool draws from vocabulary A only. Every A-vocabulary raw doc must
    out-score every B-vocabulary raw doc, and empty docs report 0."""
    from airflow_spotify_etl_spark.operators.sampling import dsir_log_weights

    a_docs = [(i, " ".join(f"a{j}" for j in range(10))) for i in range(5)]
    b_docs = [(i + 10, " ".join(f"b{j}" for j in range(10))) for i in range(5)]
    raw = spark.createDataFrame(
        a_docs + b_docs + [(99, "")], "doc_id long, text string"
    )
    target = spark.createDataFrame(a_docs, "doc_id long, text string")
    got = {r.doc_id: r for r in dsir_log_weights(raw, target).collect()}
    a_scores = [got[i].log_weight for i in range(5)]
    b_scores = [got[i + 10].log_weight for i in range(5)]
    assert min(a_scores) > max(b_scores)
    assert got[99].log_weight == 0.0 and got[99].n_tokens == 0


def test_bpe_first_merges_match_sennrich_example(spark):
    """The BPE paper's toy corpus: ('e','s') is the first merge (count 9
    from newest x6 + widest x3), ('es','t') the second, and after enough
    merges 'low' is a single token while 'newest' tokenizes n|ew|est."""
    from airflow_spotify_etl_spark.operators.bpe import (
        bpe_merge_candidates,
        bpe_train,
    )

    corpus = " ".join(
        ["low"] * 5 + ["lower"] * 2 + ["newest"] * 6 + ["widest"] * 3
    )
    df = spark.createDataFrame([(1, corpus)], "doc_id long, text string")

    top = bpe_merge_candidates(df, top_k=3).collect()
    assert (top[0].left_sym, top[0].right_sym, top[0].n_occurrences) == ("e", "s", 9)

    merges, vocab = bpe_train(df, n_merges=5)
    assert [(a, b) for a, b, _ in merges[:2]] == [("e", "s"), ("es", "t")]
    toks = {r.w: list(r.syms) for r in vocab.collect()}
    assert toks["low"] == ["low"]
    assert toks["newest"] == ["n", "ew", "est"]
    assert toks["widest"] == ["w", "i", "d", "est"]


def test_bpe_merge_is_left_to_right_non_overlapping(spark):
    """'aaaa' with merge (a,a) must become [aa, aa] and 'aaa' [aa, a] —
    position-based counting but non-overlapping application."""
    from airflow_spotify_etl_spark.operators.bpe import _apply_merge, _chars

    df = spark.createDataFrame(
        [("aaaa",), ("aaa",), ("aba",)], "w string"
    ).withColumn("syms", _chars("w"))
    out = {
        r.w: list(r.m)
        for r in df.withColumn("m", _apply_merge(F.col("syms"), "a", "a")).collect()
    }
    assert out["aaaa"] == ["aa", "aa"]
    assert out["aaa"] == ["aa", "a"]
    assert out["aba"] == ["a", "b", "a"]


def test_bpe_train_stops_below_min_count(spark):
    from airflow_spotify_etl_spark.operators.bpe import bpe_train

    df = spark.createDataFrame([(1, "ab cd ef")], "doc_id long, text string")
    merges, _ = bpe_train(df, n_merges=10, min_count=2)
    assert merges == []  # every pair occurs once — nothing worth merging


def test_corpus_datasheet_planted_counts(spark):
    """Planted corpus: dup rate, language mix, and dominant-language
    share come out exact; ties on the top language break to the
    lexicographically first."""
    from airflow_spotify_etl_spark.plans.llm import q119_corpus_datasheet  # noqa: F401  (plan fn needs sf_dir)
    from airflow_spotify_etl_spark.plans.llm import load_table  # noqa: F401
    import airflow_spotify_etl_spark.plans.llm as llm

    rows = [
        (1, "a b c", "en", "s1", 5),
        (2, "a b c", "en", "s1", 5),   # exact dup
        (3, "x y", "fr", "s1", 3),
        (4, "p q r s", "en", "s2", 7),
        (5, "t u", "fr", "s2", 3),     # s2: en/fr tie → 'en' wins
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    import tempfile, os
    with tempfile.TemporaryDirectory() as td:
        df.write.parquet(os.path.join(td, "documents.parquet"))
        out = {r.source: r for r in llm.q119_corpus_datasheet(spark, td).collect()}
    s1 = out["s1"]
    assert (s1.n_docs, s1.n_distinct_texts, s1.dup_rate) == (3, 2, 0.3333)
    assert (s1.top_lang, s1.top_lang_docs, s1.n_langs) == ("en", 2, 2)
    assert s1.total_tokens == 3 + 3 + 2
    s2 = out["s2"]
    assert s2.top_lang == "en" and s2.top_lang_share == 0.5


def test_q157_vocab_growth_prefixes_nest(spark, sf_dir):
    """Prefixes are NESTED by construction (hash-range membership), so
    docs/tokens/vocab must be non-decreasing in p within every source and
    prefix 4 must equal the full per-source corpus exactly."""
    from pyspark.sql import functions as F

    from airflow_spotify_etl_spark.plans.llm import q157_vocab_growth
    from airflow_spotify_etl_spark.sources.files import load_table

    out = q157_vocab_growth(spark, sf_dir).collect()
    by_src = {}
    for r in out:
        by_src.setdefault(r.source, []).append(r)
    assert by_src, "no sources"
    for src, rows in by_src.items():
        rows.sort(key=lambda r: r.prefix_quarter)
        assert [r.prefix_quarter for r in rows] == [1, 2, 3, 4], src
        for a, b in zip(rows, rows[1:]):
            assert a.n_docs <= b.n_docs and a.n_tokens <= b.n_tokens
            assert a.n_vocab <= b.n_vocab, src

    docs = load_table(spark, sf_dir, "documents")
    full = {
        (r.source, r.n_docs, r.n_vocab)
        for r in docs.select(
            "source",
            F.explode(
                F.array_distinct(
                    F.filter(
                        F.split(F.lower("text"), "\\s+"),
                        lambda x: x != F.lit(""),
                    )
                )
            ).alias("word"),
            "doc_id",
        )
        .groupBy("source")
        .agg(
            F.countDistinct("doc_id").alias("n_docs"),
            F.countDistinct("word").alias("n_vocab"),
        )
        .collect()
    }
    got = {
        (r.source, r.n_docs, r.n_vocab)
        for r in out
        if r.prefix_quarter == 4
    }
    assert got == full


def test_q158_ngram_novelty_cross_source_marking(spark, tmp_path):
    """A gram is 'shared' only when it occurs in >= 2 DISTINCT sources:
    repeats inside one source stay novel; every occurrence of a
    cross-source gram counts as shared on both sides."""
    from airflow_spotify_etl_spark.plans.llm import q158_ngram_novelty
    from airflow_spotify_etl_spark.sources.files import SCHEMAS

    g = "w1 w2 w3 w4 w5 w6 w7 w8"          # the shared 8-gram
    u = "a1 a2 a3 a4 a5 a6 a7 a8"          # source-A-only 8-gram
    rows = [
        (1, g, "en", "A", len(g)),
        (2, g, "en", "A", len(g)),          # in-source repeat of g
        (3, u, "en", "A", len(u)),
        (4, g, "en", "B", len(g)),
        (5, "short text only", "en", "C", 15),  # < 8 words → no grams
    ]
    spark.createDataFrame(rows, SCHEMAS["documents"]).write.parquet(
        str(tmp_path / "documents.parquet")
    )
    out = {
        r.source: (r.n_grams, r.n_shared, r.novel_share)
        for r in q158_ngram_novelty(spark, str(tmp_path)).collect()
    }
    # A: 3 gram occurrences (g, g, u); g is cross-source → 2 shared.
    assert out["A"] == (3, 2, round(1 / 3, 6))
    assert out["B"] == (1, 1, 0.0)
    assert "C" not in out  # no grams → no row


def test_q159_context_fit_exact_truncation_accounting(spark, tmp_path):
    """fits and kept-token mass must be exact: a 600-token doc fits 1024+
    but contributes only 512 of its tokens at L=512."""
    from airflow_spotify_etl_spark.plans.llm import q159_context_fit
    from airflow_spotify_etl_spark.sources.files import SCHEMAS

    rows = [
        (1, " ".join(["w"] * 600), "en", "S", 1200),
        (2, "three little words", "en", "S", 18),
    ]
    spark.createDataFrame(rows, SCHEMAS["documents"]).write.parquet(
        str(tmp_path / "documents.parquet")
    )
    out = {
        r.context_len: (r.n_docs, r.n_docs_fit, r.n_tokens, r.n_tokens_kept)
        for r in q159_context_fit(spark, str(tmp_path)).collect()
    }
    assert out[512] == (2, 1, 603, 515)    # 600→512 kept, 3→3
    assert out[1024] == (2, 2, 603, 603)
    assert out[4096] == (2, 2, 603, 603)


def test_q172_reliability_bins_partition_exact(spark, sf_dir):
    """Bins must exactly partition the joined doc set (Σn = |docs with
    scores ∩ labels|) and keep_rate must be n_keep/n re-rounded."""
    from airflow_spotify_etl_spark.plans.llm import q172_reliability_bins

    rows = q172_reliability_bins(spark, sf_dir).collect()
    assert rows, "no bins"
    assert all(0 <= r.bin <= 9 for r in rows)
    for r in rows:
        assert 0 <= r.n_keep <= r.n
        assert r.keep_rate == round(r.n_keep / r.n, 4)
        assert 0.0 <= r.mean_score <= 1.0001
    # bins sorted and unique
    bins = [r.bin for r in rows]
    assert bins == sorted(set(bins))
