"""Text-analysis operators (north star: language ID, quality scoring,
token counting, fingerprinting).

The SQL-portable metrics (length/word/punct/stopword ratios, whitespace +
regex tokenization, canonical-text fingerprints) are oracle-checked in
plans/llm/text.py q18/q19/q23. This module holds the operators whose internals
aren't expressible as one SQL query:

- ``fit_lang_profiles`` / ``predict_lang`` — multinomial naive-Bayes
  language identifier over token n-grams: learn per-language token
  log-probabilities from a labeled corpus (one groupBy), then score each doc
  as Σ log P(token|lang) with a floor penalty for out-of-profile tokens and
  take the argmax. Both phases are pure DataFrame ops; the model is a small
  DataFrame (langs × top_m tokens) broadcast at predict time — at 100 TB the
  predict scan is explode → broadcast-join → a per-(doc, lang) sum and a
  per-doc argmax, no join back onto the documents.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import Window as W
from pyspark.sql import functions as F

__all__ = [
    "char_ngrams",
    "word_tokens",
    "fit_lang_profiles",
    "predict_lang",
    "normalize_text",
    "redact_pii",
    "top_ngrams",
    "hashed_linear_score",
]

# PII patterns chosen to behave identically under Java regex (Spark) and
# RE2 (DuckDB): character classes, bounded repetition, and \b only — no
# capture groups, backreferences, or lookaround (RE2 has none of the
# latter two).
PII_PATTERNS = {
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "phone": r"\b\d{3}-\d{3}-\d{4}\b",
    "ipv4": r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b",
}
_PII_TOKENS = {"email": "<EMAIL>", "phone": "<PHONE>", "ipv4": "<IP>"}

# log-probability assigned to tokens absent from a language's profile
# (Laplace-ish floor; must be below any real profile weight).
_FLOOR = -18.0

# Tiny deterministic stopword list (the corpus quality gate and plans/llm).
_STOPWORDS = ["the", "a", "of", "and", "to", "in", "is", "on", "for", "with"]


def _tokens(col):
    """The module's one token rule: lowercased whitespace-split words, no
    empty strings; NULL text has none (an empty array, ``size`` 0)."""
    return F.coalesce(
        F.filter(F.split(F.lower(col), "\\s+"), lambda x: x != F.lit("")),
        F.array().cast("array<string>"),
    )


def normalize_text(col):
    """Canonical text form: lowercase, every non-[a-z0-9 ] byte → space,
    collapse space runs, trim. Pure codegen projection (lower + two
    regexp_replace + trim) — no shuffle, rides the scan at any scale. The
    patterns use only literal character classes (no \\s, \\b, or
    lookaround), the subset on which Java regex (Spark) and RE2 (DuckDB)
    agree byte-for-byte, so md5(normalize_text(...)) is an
    oracle-checkable canonical fingerprint (plans/llm/dedup.py q93)."""
    c = F.regexp_replace(F.lower(col), "[^a-z0-9 ]", " ")
    return F.trim(F.regexp_replace(c, " +", " "))


def char_ngrams(df: DataFrame, text_col: str = "text", id_col: str = "doc_id", n: int = 3) -> DataFrame:
    """(id, gram) pairs: all character n-grams of the lowercased text."""
    # Positional substring inside a higher-order function needs SQL expr form.
    grams = F.expr(
        f"CASE WHEN length(lower({text_col})) >= {n} THEN "
        f"transform(sequence(1, length(lower({text_col})) - {n} + 1), "
        f"i -> substring(lower({text_col}), i, {n})) ELSE array() END"
    )
    return df.select(F.col(id_col).alias("doc_id"), F.explode(grams).alias("gram"))


def word_tokens(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """(id, token) pairs: lowercased whitespace tokens, every occurrence."""
    return df.select(
        F.col(id_col).alias("doc_id"), F.explode(_tokens(F.col(text_col))).alias("gram")
    )


def redact_pii(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Scrub emails / NANP phone numbers / IPv4 addresses from text before
    LLM training (the C4/Dolma-style PII pass). Returns per doc the
    redacted text plus a match count per pattern.

    Counts are measured on the RAW text independently per pattern;
    redaction then applies email → phone → ipv4 (email first so its
    digit-bearing local parts can't be half-eaten by the narrower
    patterns). Pure regexp projection — whole-stage codegen, no shuffle,
    no UDF; at 100 TB this runs at scan speed."""
    raw = F.col(text_col)
    counts = [
        F.size(F.regexp_extract_all(raw, F.lit(pat), 0)).alias(f"n_{name}")
        for name, pat in PII_PATTERNS.items()
    ]
    clean = raw
    for name, pat in PII_PATTERNS.items():
        clean = F.regexp_replace(clean, pat, _PII_TOKENS[name])
    return df.select(
        F.col(id_col).alias("doc_id"), clean.alias("text_clean"), *counts
    )


def top_ngrams(
    df: DataFrame,
    n: int = 2,
    k: int = 30,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Corpus-level top-k word n-grams with occurrence + document
    frequencies — the corpus-inspection stat a curation run prints before
    and after filtering (boilerplate shows up as an over-represented
    head). Shuffle-free n-gram expansion (the sequence-explode idiom,
    see operators/dedup.shingle) into one grouped aggregate whose
    count/count-distinct partials combine map-side; the output is top-k
    bounded."""
    base = df.select(F.col(id_col).alias("doc_id"), _tokens(F.col(text_col)).alias("_w"))
    last = F.size("_w") - n + 1
    idx = F.when(last >= 1, F.sequence(F.lit(1), last)).otherwise(
        F.array().cast("array<int>")
    )
    grams = base.select("doc_id", "_w", F.explode(idx).alias("_i")).select(
        "doc_id",
        F.expr(f"array_join(slice(_w, _i, {int(n)}), ' ')").alias("gram"),
    )
    return (
        grams.groupBy("gram")
        .agg(
            F.count("*").alias("n_occurrences"),
            F.countDistinct("doc_id").alias("n_docs"),
        )
        .orderBy(F.col("n_occurrences").desc(), F.col("gram"))
        .limit(k)
    )


def fit_lang_profiles(
    labeled: DataFrame,
    text_col: str = "text",
    lang_col: str = "lang",
    top_m: int = 500,
) -> DataFrame:
    """Per-language profile: top_m most frequent tokens with
    log P(token|lang) weights. Returns a small DF (lang, gram, weight).
    A language's total is a window sum over the partition that ranks its
    tokens (no join); docs with a NULL label fit no profile."""
    labeled = labeled.filter(F.col(lang_col).isNotNull())
    counts = word_tokens(labeled, text_col, lang_col).groupBy(
        F.col("doc_id").alias("lang"), "gram"
    ).count()
    by_lang = W.partitionBy("lang")
    rank = F.row_number().over(by_lang.orderBy(F.col("count").desc(), F.col("gram")))
    return (
        counts.withColumns({"total": F.sum("count").over(by_lang), "rn": rank})
        .filter(F.col("rn") <= top_m)
        .select(
            "lang", "gram", F.log(F.col("count") / F.col("total")).alias("weight")
        )
    )


def predict_lang(
    docs: DataFrame,
    profiles: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Multinomial NB scoring: score(doc, lang) = Σ_matched log P(tok|lang)
    + floor · n_unmatched; argmax lang per doc, a tie going to the lower
    lang. The floor term is what makes coverage count — without it, a
    language matching FEWER tokens would sum fewer negative terms and
    spuriously win.

    ``doc_id`` is the key: one output row per input doc. A doc whose
    tokens match NO profile (or that has no tokens) gets ``pred_lang =
    null``, ``n_matched = 0`` and the floor-only score n_tokens · floor:
    tokens left-join the broadcast profiles, and the argmax is one per-doc
    min over (−score, lang, n_matched), with no join back."""
    toks = docs.select(
        F.col(id_col).alias("doc_id"), _tokens(F.col(text_col)).alias("_t")
    ).select("doc_id", F.size("_t").alias("n_tokens"), F.explode_outer("_t").alias("gram"))
    scored = (
        toks.join(F.broadcast(profiles), "gram", "left")
        .groupBy("doc_id", "n_tokens", "lang")
        .agg(F.sum("weight").alias("matched"), F.count("weight").alias("n_matched"))
    )
    score = F.col("matched") + (F.col("n_tokens") - F.col("n_matched")) * F.lit(_FLOOR)
    best = F.when(F.col("lang").isNotNull(), F.struct((-score).alias("neg"), "lang", "n_matched"))
    return scored.groupBy("doc_id", "n_tokens").agg(F.min(best).alias("_b")).select(
        "doc_id",
        F.col("_b.lang").alias("pred_lang"),
        F.coalesce(-F.col("_b.neg"), F.col("n_tokens") * F.lit(_FLOOR)).alias("score"),
        F.coalesce("_b.n_matched", F.lit(0)).alias("n_matched"),
    )


def _with_repetition(df: DataFrame, text_col: str) -> DataFrame:
    """``df`` plus its text's repetition signals as ``_n_tokens``,
    ``_type_token_ratio``, ``_top_token_frac`` and ``_top_bigram_frac``:
    the one definition ``repetition_metrics`` reports and the corpus gate
    filters on. Narrow projections only."""

    def _max_run(arr):
        # max run length of a sorted array: fold (prev, run, best).
        # sort_array is whole-stage codegen'd; array_sort's default
        # comparator is an interpreted lambda. The arrays hold no nulls,
        # so the two orders agree.
        return F.aggregate(
            F.sort_array(arr),
            F.struct(
                F.lit(None).cast("string").alias("prev"),
                F.lit(0).cast("long").alias("run"),
                F.lit(0).cast("long").alias("best"),
            ),
            lambda acc, x: F.struct(
                x.alias("prev"),
                F.when(acc.prev.isNotNull() & (x == acc.prev), acc.run + 1)
                .otherwise(F.lit(1))
                .alias("run"),
                F.greatest(
                    acc.best,
                    F.when(acc.prev.isNotNull() & (x == acc.prev), acc.run + 1)
                    .otherwise(F.lit(1)),
                ).alias("best"),
            ),
            lambda acc: acc.best,
        )

    n_idx = F.size("_w") - 1
    idx = F.when(n_idx >= 1, F.sequence(F.lit(1), n_idx)).otherwise(
        F.array().cast("array<int>")
    )
    bigrams = F.transform(
        idx,
        lambda i: F.concat_ws(
            " ", F.element_at("_w", i), F.element_at("_w", i + F.lit(1))
        ),
    )
    n = F.col("_n_tokens")
    return (
        df.withColumn("_w", _tokens(F.col(text_col)))
        .withColumns({
            "_n_tokens": F.size("_w"),
            "_n_distinct": F.size(F.array_distinct("_w")),
            "_top_cnt": _max_run(F.col("_w")),
            "_b": bigrams,
        })
        .withColumns({
            "_type_token_ratio": F.when(n > 0, F.round(F.col("_n_distinct") / n, 4)),
            "_top_token_frac": F.when(n > 0, F.round(F.col("_top_cnt") / n, 4)),
            "_top_bigram_frac": F.when(
                F.size("_b") > 0, F.round(_max_run(F.col("_b")) / F.size("_b"), 4)
            ),
        })
        .drop("_w", "_n_distinct", "_top_cnt", "_b")
    )


def repetition_metrics(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Gopher-style repetition signals per doc (Rae et al. 2021 §A1.1 use
    these to drop template/spam pages before LLM training): type-token
    ratio, most-frequent-token fraction, most-frequent-bigram fraction.

    Shape at 100 TB: these are PER-DOCUMENT statistics, so the whole
    operator is ONE narrow projection — zero shuffles, zero joins. The
    top-frequency counts come from the
    max run length of the SORTED token/bigram array, computed with a
    higher-order aggregate over a (prev, run, best) struct — all
    JVM-side array expressions, no Python. Docs with no tokens (NULL
    text included) survive with n_tokens=0 and null ratios; single-token
    docs have no bigrams → null top_bigram_frac (value-identical to the
    DuckDB oracle).

    ORDER-PRESERVATION DEPENDENCY: callers (q45) sort the slim input
    BELOW this projection and rely on the projection staying narrow
    (no shuffle/join/agg between rows) so the output keeps the input
    order. If a future change adds a wide step here, the presentation
    order breaks silently — tests/test_order_preservation.py gates
    this."""
    slim = df.select(F.col(id_col).alias("doc_id"), F.col(text_col).alias("_text"))
    cols = ("n_tokens", "type_token_ratio", "top_token_frac", "top_bigram_frac")
    return _with_repetition(slim, "_text").select(
        "doc_id", *[F.col(f"_{c}").alias(c) for c in cols]
    )


def token_entropy(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Shannon entropy of the per-doc token distribution (nats) — low
    entropy = repetitive/templated text, a standard corpus-quality signal.

    Algebraic form H = ln(n) - Σ c·ln(c) / n needs ONE grouped aggregate
    over (doc, token) counts — no second pass joining totals back, no
    window. ``entropy_norm`` divides by ln(n_distinct) (the max possible H
    for that vocabulary), giving a 0-1 uniformity score."""
    counts = word_tokens(df, text_col, id_col).groupBy("doc_id", "gram").agg(
        F.count("*").alias("c")
    )
    agg = counts.groupBy("doc_id").agg(
        F.sum("c").alias("n"),
        F.count("*").alias("n_distinct"),
        F.sum(F.col("c") * F.log("c")).alias("clnc"),
    )
    entropy = F.log("n") - F.col("clnc") / F.col("n")
    return agg.select(
        "doc_id",
        F.round(entropy, 4).alias("entropy"),
        F.round(
            F.when(F.col("n_distinct") > 1, entropy / F.log("n_distinct")).otherwise(
                F.lit(0.0)
            ),
            4,
        ).alias("entropy_norm"),
    )


def hashed_linear_score(
    df: DataFrame,
    n_buckets: int = 4096,
    weight_salt: str = "qw",
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """fastText-style linear quality-classifier INFERENCE over hashed
    bag-of-words features (Joulin et al. 2017; the DCLM/CCNet quality-
    filter shape): score = sigmoid(mean_tokens weight[bucket(tok)]).

    The weight table is derived per bucket from the engine-portable md5
    slice — ``w(b) = h32(salt‖b)/2³¹ − 1 ∈ [−1, 1)`` — standing in for
    trained parameters. That choice is what makes the whole inference pass
    value-checkable by the DuckDB oracle (plans/llm/text.py q104): a real model
    would load the SAME shape from a weights table and broadcast it; here
    the "lookup" folds into the projection, so scoring is a pure narrow
    codegen pass (split → hash → arithmetic) with the per-doc mean as the
    only exchange. No Python seam, no model file, no join: at 100 TB the
    classifier costs exactly one aggregate over the token stream —
    the reason hashed linear models (not transformers) are the standard
    first-tier quality gate in web-scale curation.

    Returns (doc_id, n_tokens, score ∈ (0,1)); token-less docs score
    sigmoid(0) = 0.5 by convention."""
    nb = int(n_buckets)
    toks = df.select(
        F.col(id_col).alias("doc_id"),
        F.explode(_tokens(F.col(text_col))).alias("tok"),
    )
    from .dedup import _h32

    b = F.pmod(_h32(F.col("tok")), F.lit(nb))
    w = _h32(F.concat(F.lit(weight_salt), b.cast("string"))) / F.lit(
        float(2**31)
    ) - F.lit(1.0)
    per_doc = toks.select("doc_id", w.alias("w")).groupBy("doc_id").agg(
        F.count("*").alias("n_tokens"), F.avg("w").alias("m")
    )
    sig = F.lit(1.0) / (F.lit(1.0) + F.exp(-F.lit(4.0) * F.coalesce("m", F.lit(0.0))))
    return (
        df.select(F.col(id_col).alias("doc_id"))
        .join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_tokens", F.lit(0)).alias("n_tokens"),
            F.round(sig, 4).alias("score"),
        )
        .orderBy("doc_id")
    )
