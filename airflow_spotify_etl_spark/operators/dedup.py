"""Document deduplication operators (north star: dedup at 100 TB).

Four tiers, cheapest-first — a production pipeline composes them left to
right so each stage prunes the candidate space for the next:

1. ``exact_dedup``        — md5-groupBy; uniform hash key, skew-free shuffle.
2. ``ngram_jaccard_pairs``— EXACT word-n-gram Jaccard: pairs are expanded
   inside capped shingle buckets with no join. Quadratic only within a
   bucket; correct but the most expensive tier (oracle-checkable —
   plans/llm/dedup.py q24).
3. ``minhash_lsh_pairs``  — MinHash signatures + LSH banding: candidate
   pairs are expanded inside capped band buckets (no join), then
   exact-Jaccard verification of candidates only. THE scale path: shuffle
   volume is O(docs × bands), never O(docs²).
4. ``simhash_pairs``      — 64-bit SimHash + block blocking + Hamming
   radius; cheapest signature, coarsest recall.

All hashing uses Spark built-ins (crc32 / xxhash64 / pmod) inside
whole-stage codegen — no Python UDFs anywhere.

Skew note: a shingle shared by thousands of docs (boilerplate) creates a hot
bucket in tiers 2-4. ``max_bucket`` drops buckets above the cap — standard
practice (boilerplate shingles carry no dedup signal) and what keeps the
quadratic in-bucket pair expansion bounded at 100 TB.

Each plan fragment the tiers share is written once: the token rule
(``text._tokens``), the word-span stream (``_word_spans``), the capped
bucket count (``_capped``), the sized-set overlap (``_sized_sets``,
``_set_overlap``, ``_jaccard_tail``), the banding (``_banded``) and the
bucket-to-pairs expansion (``_bucket_pairs``).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from .graph import _directed_double
from .text import _tokens, normalize_text

__all__ = [
    "exact_dedup",
    "canonical_dedup",
    "chunk_dedup",
    "boilerplate_excision",
    "span_dup_profile",
    "span_excise",
    "span_excise_fixpoint",
    "winnowed_fingerprints",
    "winnowed_dup_profile",
    "shingle",
    "ngram_jaccard_pairs",
    "sparse_cosine_pairs",
    "ngram_contamination",
    "minhash_signatures",
    "minhash_lsh_pairs",
    "minhash_lsh_pairs_delta",
    "simhash_signatures",
    "simhash_pairs",
    "connected_components",
    "bloom_novelty_filter",
    "containment_pairs",
]

# Modulus for the universal-hash family: smallest prime > 2^32. With
# a < 2^31 and the 32-bit shingle hash < 2^32, a*x + b stays under 2^63
# (no int64 overflow).
_MERSENNE = 4294967311
_SEED = 42


def _h32(col):
    """Portable 32-bit shingle hash: the first 8 hex chars of md5. Chosen
    over crc32/xxhash64 because BOTH engines compute it identically
    (Spark: conv(substr(md5,1,8),16,10); DuckDB: ('0x'||substr(md5,1,8))
    ::BIGINT), which is what lets the ENTIRE MinHash-LSH pipeline be
    value-checked by the DuckDB oracle (plans/llm/dedup.py q25) instead of
    rows-only. md5 costs ~2x crc32 per call — noise next to the 64-way
    min-aggregate it feeds."""
    return F.conv(F.substring(F.md5(col), 1, 8), 16, 10).cast("long")


def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Keep the lowest id per identical text; md5 groups so the shuffle key
    is uniform even when texts are huge (we never shuffle the text itself)."""
    return (
        df.groupBy(F.md5(text_col).alias("text_hash"))
        .agg(F.min(id_col).alias("keeper"), F.count("*").alias("n_copies"))
    )


def canonical_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    group_col: str = "source",
) -> DataFrame:
    """Normalization-aware exact dedup report: case / punctuation /
    whitespace variants of the same content count as ONE document (the
    CCNet/C4 canonical-form pass that plain md5 dedup misses). Canonical
    key = md5(normalize_text(text)); the global keeper per key is the
    minimum id, computed as a window over the hash — a uniform key, so the
    single data exchange is skew-free by construction, and only the narrow
    (hash, id, group) projection passes through it (the text itself never
    shuffles). Returns per-``group_col`` keep/drop accounting.

    NULL text: md5(normalize(NULL)) is NULL in Spark AND the SQL oracle —
    all NULL-text docs share one NULL-keyed window group (one keeper) but
    are excluded from ``n_canonical`` (COUNT DISTINCT skips NULL), the
    identical convention in both engines."""
    n = df.select(
        F.col(id_col),
        F.col(group_col),
        F.md5(normalize_text(F.col(text_col))).alias("ch"),
    )
    keeper = F.min(id_col).over(W.partitionBy("ch"))
    return (
        n.withColumn("keeper", keeper)
        .groupBy(group_col)
        .agg(
            F.count("*").alias("n_docs"),
            F.countDistinct("ch").alias("n_canonical"),
            F.count(F.when(F.col(id_col) == F.col("keeper"), 1)).alias("n_kept"),
        )
        .orderBy(group_col)
    )


def _word_spans(
    base: DataFrame, n_spans: Column, width: int, stride: int
) -> DataFrame:
    """(doc_id, wi, wh): for each ``wi`` in [0, ``n_spans``), the md5 of
    the doc's words ``wi·stride + 1`` to ``wi·stride + width`` (1-based,
    space-joined) of ``base``'s ``_w`` column. ``n_spans`` is the caller's
    span count over ``_w`` (≤ 0 gives no span). The one word-span stream
    of the chunk, window and winnowing operators: a shuffle-free
    sequence-explode whose only output besides the ids is the 128-bit
    hash, so the span text never rides a shuffle."""
    n = n_spans.cast("int")
    idx = F.when(n >= 1, F.sequence(F.lit(0), n - 1)).otherwise(
        F.array().cast("array<int>")
    )
    span = F.slice(F.col("_w"), F.col("wi") * stride + 1, width)
    return base.select("doc_id", "_w", F.explode(idx).alias("wi")).select(
        "doc_id", "wi", F.md5(F.array_join(span, " ")).alias("wh")
    )


def _words(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """(doc_id, _w): each doc's words under the one token rule."""
    return df.select(F.col(id_col).alias("doc_id"), _tokens(F.col(text_col)).alias("_w"))


def _chunk_rebuild(
    df: DataFrame,
    id_col: str,
    base: DataFrame,
    marked: DataFrame,
    cw: int,
    counter: str,
    counted: Column,
) -> DataFrame:
    """(doc_id, n_chunks, ``counter``, text_clean) for EVERY doc of
    ``df``: ``marked``'s (doc_id, wi, keep) chunks rolled up per doc, with
    ``counter`` the number of chunks where ``counted`` holds, and the
    surviving text rebuilt by re-slicing ``base``'s word array at the kept
    chunk indices — one doc_id-keyed join (uniform key) that shares the
    per-doc aggregate's partitioning. A doc with no chunk reports zeros
    and an empty text."""
    per_doc = marked.groupBy("doc_id").agg(
        F.count("*").alias("n_chunks"),
        F.sum(counted.cast("long")).alias(counter),
        F.array_sort(
            F.collect_list(F.when(F.col("keep"), F.col("wi")))
        ).alias("_kept_ci"),
    )
    rebuilt = base.join(per_doc, "doc_id").select(
        "doc_id",
        "n_chunks",
        counter,
        F.array_join(
            F.transform(
                F.col("_kept_ci"),
                lambda ci: F.array_join(
                    F.slice(F.col("_w"), ci * cw + 1, cw), " "
                ),
            ),
            " ",
        ).alias("text_clean"),
    )
    return (
        df.select(F.col(id_col).alias("doc_id"))
        .join(rebuilt, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_chunks", F.lit(0)).alias("n_chunks"),
            F.coalesce(counter, F.lit(0)).alias(counter),
            F.coalesce("text_clean", F.lit("")).alias("text_clean"),
        )
    )


def chunk_dedup(
    df: DataFrame,
    chunk_words: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Sub-document exact dedup (the Dolma/RefinedWeb "paragraph-level"
    pass): split each doc into consecutive ``chunk_words``-word chunks,
    keep only each chunk's FIRST corpus-wide occurrence (ordered by
    doc_id, then position), and reconstruct the surviving text per doc.
    Catches boilerplate repeated across documents (headers, footers,
    navigation) that whole-document dedup can't touch.

    Returns (doc_id, n_chunks, n_kept, text_clean) for EVERY input doc —
    a doc whose text is entirely boilerplate survives with n_kept=0 and
    an empty text_clean rather than vanishing.

    Scale shape: the chunk stream is the shuffle-free sequence-explode
    (see ``shingle``); first-occurrence marking is ONE count-window
    exchange keyed on ``md5(chunk)`` carrying only (hash, doc_id, ci) —
    the chunk TEXT never rides through that shuffle, so boilerplate hot
    buckets cost 3 narrow columns per row, not the payload. Surviving
    text is rebuilt afterwards by re-slicing each doc's word array: one
    doc_id-keyed join (uniform key) against the kept chunk indices, which
    shares the per-doc aggregate's partitioning."""
    cw = int(chunk_words)
    base = _words(df, text_col, id_col)
    # Narrow chunk stream: (doc_id, wi, md5(chunk)). 128-bit hash ≡ chunk
    # identity for dedup purposes; the text is recomputed at rebuild.
    chunks = _word_spans(base, F.ceil(F.size("_w") / cw), cw, cw)
    w = W.partitionBy("wh").orderBy("doc_id", "wi")
    marked = chunks.withColumn("keep", F.row_number().over(w) == 1)
    return _chunk_rebuild(df, id_col, base, marked, cw, "n_kept", F.col("keep"))


def boilerplate_excision(
    df: DataFrame,
    chunk_words: int = 8,
    min_docs: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """C4-style boilerplate removal: a chunk whose DOCUMENT frequency
    reaches ``min_docs`` is excised from EVERY document — including the
    first (unlike ``chunk_dedup``, which keeps the first corpus-wide
    occurrence; headers/footers/cookie banners carry no signal anywhere,
    so no copy should survive). The reference for the rule is C4's
    three-sentence line filter (Raffel et al. 2020 §2.2), applied here at
    the same fixed-word-chunk granularity as ``chunk_dedup`` so the two
    passes compose on one chunking.

    Returns (doc_id, n_chunks, n_removed, text_clean) for EVERY input
    doc; an all-boilerplate doc survives with empty ``text_clean``.

    Scale shape: the chunk stream is the shuffle-free sequence-explode
    carrying only (md5(chunk), doc_id, ci) — never the text; the doc
    frequency is one countDistinct aggregate keyed on the hash whose
    partials combine map-side, and the keep/drop mark is a same-key hash
    join of the narrow chunk stream against that |distinct chunks|-row
    frequency relation (a boilerplate hot key joins against its ONE
    frequency row — no multiplication). Rebuild is the shared
    re-slicing join keyed on doc_id, a uniform key."""
    cw = int(chunk_words)
    base = _words(df, text_col, id_col)
    chunks = _word_spans(base, F.ceil(F.size("_w") / cw), cw, cw)
    freq = chunks.groupBy("wh").agg(F.countDistinct("doc_id").alias("_df"))
    marked = chunks.join(freq, "wh").withColumn(
        "keep", F.col("_df") < int(min_docs)
    )
    return _chunk_rebuild(
        df, id_col, base, marked, cw, "n_removed", ~F.col("keep")
    )


def span_dup_profile(
    df: DataFrame,
    window_words: int = 8,
    stride: int = 1,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Alignment-free repeated-SPAN profile (the substring-dedup signal of
    Lee et al., "Deduplicating Training Data Makes Language Models
    Better"): slide a ``window_words``-token window over each doc and mark
    windows whose text recurs anywhere in the corpus — including within
    the same doc, which is how self-repeating boilerplate shows up. Unlike
    ``chunk_dedup``'s fixed non-overlapping chunks, the dense (stride-1)
    windows catch shared spans at ANY alignment: a shared span of ≥
    ``window_words`` tokens contains a full window at every internal
    offset on BOTH sides, so at least one hash collides. ``stride > 1``
    is a cost knob that forfeits that guarantee — each doc then samples
    only offsets of one phase (mod stride), and two docs sharing a span
    collide only when their span alignments agree mod stride (a 1/stride
    chance for arbitrary alignment; self-repetition is still caught).
    Keep stride 1 for detection; the principled sparser variant is
    content-defined selection (winnowing), where BOTH sides pick the same
    offsets by construction.

    Returns one row per input doc:
    (doc_id, n_windows, n_dup_windows, dup_frac, max_dup_run) where
    ``max_dup_run`` is the longest run of CONSECUTIVE duplicated windows —
    ``window_words + (max_dup_run−1)·stride`` approximates the longest
    repeated span in tokens, which is the actual cut signal (spans over a
    threshold get excised, not whole docs). Docs shorter than
    ``window_words`` tokens have no window and report zeros.

    Scale shape: the window stream is the shuffle-free sequence-explode;
    occurrence counting is ONE count-window exchange keyed on
    ``md5(window)`` carrying (hash, doc_id, wi) — never the text (the
    chunk_dedup lesson). The run-length pass (wi − row_number per doc) and
    the per-doc rollup share the doc_id partitioning, so the whole profile
    is 2 narrow exchanges regardless of corpus size; no join touches two
    large relations."""
    wv = int(window_words)
    sv = int(stride)
    wins = _word_spans(
        _words(df, text_col, id_col),
        F.floor((F.size("_w") - wv) / sv) + 1,
        wv,
        sv,
    )
    cnt = F.count("*").over(W.partitionBy("wh"))
    marked = wins.withColumn("dup", cnt > 1)
    per_doc = marked.groupBy("doc_id").agg(
        F.count("*").alias("n_windows"),
        F.sum(F.col("dup").cast("long")).alias("n_dup_windows"),
    )
    # Longest consecutive duplicated run: group key wi − row_number is
    # constant exactly over consecutive wi among a doc's dup windows.
    dup_w = marked.filter("dup").withColumn(
        "_grp",
        F.col("wi")
        - F.row_number().over(W.partitionBy("doc_id").orderBy("wi")),
    )
    runs = (
        dup_w.groupBy("doc_id", "_grp")
        .agg(F.count("*").alias("_run"))
        .groupBy("doc_id")
        .agg(F.max("_run").alias("max_dup_run"))
    )
    return (
        df.select(F.col(id_col).alias("doc_id"))
        .join(per_doc, "doc_id", "left")
        .join(runs, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_windows", F.lit(0)).alias("n_windows"),
            F.coalesce("n_dup_windows", F.lit(0)).alias("n_dup_windows"),
            F.round(
                F.when(
                    F.coalesce("n_windows", F.lit(0)) > 0,
                    F.col("n_dup_windows") / F.col("n_windows"),
                ).otherwise(F.lit(0.0)),
                4,
            ).alias("dup_frac"),
            F.coalesce("max_dup_run", F.lit(0)).cast("long").alias("max_dup_run"),
        )
    )


def span_excise(
    df: DataFrame,
    window_words: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Substring-dedup EXCISION (the surgery of Lee et al. 2022, which
    cuts repeated spans out of documents rather than dropping documents):
    every token covered by a non-first occurrence of a duplicated
    ``window_words``-token window is removed, and the surviving text is
    rebuilt in order. First occurrence = corpus order (doc_id, position),
    so exactly one copy of each repeated span survives — including
    in-document self-repeats. Unlike ``chunk_dedup``'s aligned chunks,
    the dense windows excise shared spans at ANY alignment.

    Returns (doc_id, n_tokens, n_removed, text_clean) for every input
    doc; docs shorter than the window pass through untouched.

    NOT idempotent by design: removing a span joins its neighbors, and
    the seam can form a NEW window that duplicates text elsewhere —
    one pass guarantees every window duplicated in the INPUT keeps
    exactly one copy; run to a fixpoint (n_removed sums to 0) when the
    output must be fully self-dedup'd. Deterministic across runs (total
    (doc_id, wi) first-occurrence order), property-tested either way.

    Scale shape: first-occurrence marking is the chunk_dedup count-window
    — one exchange keyed on md5(window) carrying (hash, doc_id, wi), no
    text. Losing windows explode to covered (doc_id, pos) pairs (output
    bounded by duplicated volume, not corpus size); the rebuild is a
    co-partitioned anti-join of the token stream against that removal
    set, both keyed (doc_id, pos) — uniform keys, linear everywhere."""
    wv = int(window_words)
    base = _words(df, text_col, id_col)
    toks = base.select(
        "doc_id", F.posexplode("_w").alias("pos", "tok")
    )  # pos 0-based
    wins = _word_spans(base, F.size("_w") - wv + 1, wv, 1)
    first = F.row_number().over(W.partitionBy("wh").orderBy("doc_id", "wi"))
    losers = wins.withColumn("rn", first).filter(F.col("rn") > 1)
    removed = losers.select(
        "doc_id",
        F.explode(F.sequence(F.col("wi"), F.col("wi") + wv - 1)).alias("pos"),
    ).distinct()
    kept = toks.join(removed, ["doc_id", "pos"], "left_anti")
    rebuilt = kept.groupBy("doc_id").agg(
        F.count("*").alias("n_kept"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "tok"))),
                lambda s: s["tok"],
            ),
            " ",
        ).alias("text_clean"),
    )
    totals = toks.groupBy("doc_id").agg(F.count("*").alias("n_tokens"))
    return (
        df.select(F.col(id_col).alias("doc_id"))
        .join(totals, "doc_id", "left")
        .join(rebuilt, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_tokens", F.lit(0)).alias("n_tokens"),
            (
                F.coalesce("n_tokens", F.lit(0)) - F.coalesce("n_kept", F.lit(0))
            ).alias("n_removed"),
            F.coalesce("text_clean", F.lit("")).alias("text_clean"),
        )
    )


def span_excise_fixpoint(
    df: DataFrame,
    window_words: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_rounds: int = 8,
) -> DataFrame:
    """Iterate ``span_excise`` until no window in the corpus is duplicated
    (or ``max_rounds``): each pass can mint new duplicated windows at
    excision seams, so full self-dedup needs the fixpoint. Convergence is
    guaranteed — every productive round removes ≥ 1 token from a finite
    corpus — and in practice 2-3 rounds suffice (seam windows are rare).

    Driver loop discipline (the connected_components pattern): one
    bounded-size scalar per round (the `n_removed` sum, observed on the
    round's eager localCheckpoint, so it costs no job of its own), the
    checkpoint keeping plan depth O(1) instead of O(rounds), and a hard
    round cap. Raises if the cap is hit while removals continue — a silent
    partial dedup would poison downstream exact-match assumptions.

    Returns (doc_id, n_tokens, n_removed, text_clean) where n_tokens is
    the ORIGINAL token count and n_removed the total across rounds."""
    total, removed = _checkpoint_observing(
        span_excise(df, window_words, text_col, id_col), F.sum("n_removed")
    )
    for _ in range(int(max_rounds) - 1):
        nxt = span_excise(
            total.select("doc_id", F.col("text_clean").alias("text")),
            window_words,
            "text",
            "doc_id",
        )
        merged = (
            total.select("doc_id", "n_tokens", F.col("n_removed").alias("_r0"))
            .join(nxt.select("doc_id", F.col("n_removed").alias("_r1"), "text_clean"), "doc_id")
            .select(
                "doc_id",
                "n_tokens",
                (F.col("_r0") + F.col("_r1")).alias("n_removed"),
                "text_clean",
            )
        )
        total, new_removed = _checkpoint_observing(merged, F.sum("n_removed"))
        if new_removed == removed:
            return total
        removed = new_removed
    final_check = span_excise(
        total.select("doc_id", F.col("text_clean").alias("text")),
        window_words,
        "text",
        "doc_id",
    )
    if (final_check.agg(F.sum("n_removed")).collect()[0][0] or 0) > 0:
        raise RuntimeError(
            f"span_excise_fixpoint: no convergence in {max_rounds} rounds"
        )
    return total


def _checkpoint_observing(df: DataFrame, metric: Column) -> tuple[DataFrame, int]:
    """Eagerly localCheckpoint ``df`` and return it with ``metric``, an
    aggregate over its rows (null → 0). The metric rides the checkpoint's
    own job as an Observation: a driver loop's per-round convergence
    scalar costs no second action."""
    obs = Observation()
    out = df.observe(obs, metric.alias("m")).localCheckpoint(eager=True)
    return out, obs.get["m"] or 0


def winnowed_fingerprints(
    df: DataFrame,
    window_words: int = 8,
    winnow_k: int = 4,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Winnowing fingerprint selection (Schleimer, Wilkerson & Aiken,
    "Winnowing: Local Algorithms for Document Fingerprinting", SIGMOD'03 —
    the MOSS algorithm): from the dense stride-1 window hashes, keep in
    each run of ``winnow_k`` consecutive positions only the minimum-hash
    one. Selection is CONTENT-defined — both copies of a shared span pick
    the same minimum — so the guarantee survives sparsification: every
    shared span of ≥ ``window_words + winnow_k − 1`` tokens still yields
    at least one common fingerprint, at ~2/(winnow_k+1) the density of
    ``span_dup_profile``'s dense stream. This is the scale path: the
    downstream exchange shrinks ~(k+1)/2× with a worst-case detection
    bound, where naive striding (stride>1) loses the bound entirely.

    Ties (equal window hashes inside one k-run — periodic text) break by
    position via a composite ``hash‖zero-padded-wi`` min-key; the winning
    POSITION then differs between copies, but its hash — the thing
    matched on — is identical, so content-definedness is preserved.

    Returns (doc_id, wi, wh): selected window start offsets (0-based,
    token units) and their md5 fingerprints, one row per distinct
    selected position.

    Plan: codegen explode of the dense positions, a doc_id-keyed
    min-over-frame window, then distinct. It pays one narrow corpus-sized
    exchange, but every expression stays in whole-stage codegen: selecting
    inside array HOFs per row instead avoids the exchange and measured
    5.3× slower at sf0.1 (7.79 s vs 1.47 s median-of-3), the interpreted
    tax on higher-order functions, as in the shingle operator's
    explode-vs-transform bench.
    """
    wv = int(window_words)
    kv = int(winnow_k)
    wins = _word_spans(
        _words(df, text_col, id_col), F.size("_w") - wv + 1, wv, 1
    )
    key = F.concat(
        F.col("wh"), F.lit(":"), F.lpad(F.col("wi").cast("string"), 12, "0")
    )
    sel = F.min(key).over(
        W.partitionBy("doc_id").orderBy("wi").rowsBetween(0, kv - 1)
    )
    picked = wins.select("doc_id", sel.alias("_sel")).distinct()
    return picked.select(
        "doc_id",
        F.substring("_sel", 34, 12).cast("int").alias("wi"),
        F.substring("_sel", 1, 32).alias("wh"),
    )


def winnowed_dup_profile(
    df: DataFrame,
    window_words: int = 8,
    winnow_k: int = 4,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Cross-doc duplication profile over winnowed fingerprints: per doc,
    how many of its distinct fingerprints are shared with at least one
    OTHER doc. The sparse counterpart of ``span_dup_profile`` — detection
    bound spans ≥ window_words + winnow_k − 1 tokens, exchange ~2/(k+1)
    the dense size. Within-doc repetition is deliberately collapsed
    (fingerprints are distinct-per-doc before counting) so `shared` means
    cross-document; use span_dup_profile for self-repetition and run
    lengths. Returns (doc_id, n_fingerprints, n_shared_fp, shared_frac)
    for every input doc."""
    fp = winnowed_fingerprints(
        df, window_words, winnow_k, text_col, id_col
    ).select("doc_id", "wh").distinct()
    n_docs = F.count("*").over(W.partitionBy("wh"))
    per_doc = (
        fp.withColumn("shared", n_docs > 1)
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_fingerprints"),
            F.sum(F.col("shared").cast("long")).alias("n_shared_fp"),
        )
    )
    return (
        df.select(F.col(id_col).alias("doc_id"))
        .join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_fingerprints", F.lit(0)).alias("n_fingerprints"),
            F.coalesce("n_shared_fp", F.lit(0)).alias("n_shared_fp"),
            F.round(
                F.when(
                    F.coalesce("n_fingerprints", F.lit(0)) > 0,
                    F.col("n_shared_fp") / F.col("n_fingerprints"),
                ).otherwise(F.lit(0.0)),
                4,
            ).alias("shared_frac"),
        )
    )


def shingle(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    distinct: bool = True,
) -> DataFrame:
    """(id, shingle) pairs: word n-grams per document (distinct by default).

    NARROW formulation — explode an index sequence and slice the word array
    by element_at: split → explode(sequence(1, len-n+1)) → concat_ws of
    w[i..i+n-1]. Every expression is whole-stage codegen (element_at and
    sequence are ordinary codegen expressions — unlike transform/aggregate
    HOFs, which fall back to interpreted eval and bench ~5x slower), and
    the phase needs ZERO shuffle: no window, no sort. The previous
    lead-window formulation shuffled and sorted the entire word table
    before any aggregate could combine map-side; this one hands downstream
    per-doc aggregates raw narrow rows, so their partial aggregation (min
    for MinHash, collect_set for sizing) collapses in-doc duplicates
    BEFORE the exchange. Docs with < n words produce no rows.

    ``distinct=False`` skips the dedup shuffle; use it when downstream is
    a per-doc aggregate that is insensitive to duplicates (MinHash minima,
    collect_set)."""
    n_idx = F.size("_w") - (n - 1)
    idx = F.when(n_idx >= 1, F.sequence(F.lit(1), n_idx)).otherwise(
        F.array().cast("array<int>")
    )
    out = (
        df.select(F.col(id_col).alias("doc_id"), F.split(F.col(text_col), " ").alias("_w"))
        .select("doc_id", "_w", F.explode(idx).alias("_i"))
        .select(
            "doc_id",
            F.concat_ws(
                " ", *[F.element_at("_w", F.col("_i") + j) for j in range(n)]
            ).alias("shingle"),
        )
    )
    return out.distinct() if distinct else out


def _capped(rel: DataFrame, keys: list[str], cap: int | None) -> DataFrame:
    """``rel`` with ``_bucket_n``, the number of rows in each row's
    ``keys`` bucket, counted by a window (so a following groupBy on the
    same keys reuses its partitioning), and buckets above ``cap`` dropped
    (no cap when ``cap`` is None or 0). The one hot-bucket cap of the
    shingle, band and block tiers: a bucket above the cap is boilerplate
    or near-constant signatures, carries no dedup signal, and would cost
    C(bucket, 2) pairs."""
    out = rel.withColumn("_bucket_n", F.count("*").over(W.partitionBy(*keys)))
    return out.filter(F.col("_bucket_n") <= cap) if cap else out


def _bucket_pairs(
    buckets: DataFrame, keys: list[str], member: Column, a: str, b: str
) -> DataFrame:
    """(``a``, ``b``): every pair of ``member`` values that share a
    ``keys`` bucket of ``buckets``, once, with a < b — the join-free
    expansion (collect_list per bucket, then a double explode). A struct
    member orders by its first field, the id, which is unique within a
    bucket. Callers pass capped buckets (see ``_capped``) so every
    collected array is bounded; the pair list may repeat across buckets."""
    ids = buckets.groupBy(*keys).agg(F.collect_list(member).alias("ids"))
    return (
        ids.select(F.explode("ids").alias(a), "ids")
        .select(a, F.explode("ids").alias(b))
        .filter(F.col(a) < F.col(b))
    )


def _sized_sets(items: DataFrame, max_bucket: int | None) -> DataFrame:
    """(doc_id, shingle, n_shingles, _bucket_n) from any (doc_id, shingle)
    item relation (word n-grams here, payload block hashes in
    operators/multimodal), with BOTH pruning counters attached in-row —
    no side tables, so downstream never joins doc sizes back in (a size
    join invites the planner to broadcast a misestimated pair aggregate;
    at 50k-doc stress that OOMed the driver).

    TWO shuffles for the whole phase:
    1. ``groupBy(doc_id).collect_set`` over the narrow shingle stream —
       partial collect_set dedups in-doc shingles map-side, and one pass
       yields both the distinct shingles AND ``n_shingles`` = size(set)
       (replacing a distinct shuffle plus a separate size aggregation);
    2. the ``_bucket_n`` count-window partitions by shingle; the caller's
       ``groupBy("shingle")`` reuses THAT partitioning (no exchange).

    - ``_bucket_n`` (docs per shingle): hot-bucket cap (> max_bucket drops
      boilerplate shingles — no dedup signal, quadratic cost) and the
      singleton prune downstream (< 2 docs can't form a pair).
    - ``n_shingles`` (per doc, counted BEFORE the cap): the cap bounds
      candidate generation; Jaccard denominators stay the doc's true
      distinct-shingle count. The oracle mirrors this (plans/llm/dedup.py).
    """
    sized = (
        items.groupBy("doc_id")
        .agg(F.collect_set("shingle").alias("_shs"))
        .select(
            "doc_id",
            F.size("_shs").alias("n_shingles"),
            F.explode("_shs").alias("shingle"),
        )
    )
    return _capped(sized, ["shingle"], max_bucket)


def _sized_shingles(
    df: DataFrame, text_col: str, id_col: str, n: int, max_bucket: int | None
) -> DataFrame:
    """``_sized_sets`` over the docs' word ``n``-gram shingles."""
    return _sized_sets(shingle(df, text_col, id_col, n, distinct=False), max_bucket)


def _set_overlap(sh: DataFrame) -> DataFrame:
    """(doc_a, doc_b, inter, na, nb) for every doc pair sharing ≥ 1
    item of a ``_sized_sets`` relation: ``inter`` items in common, and
    both set sizes. Singleton buckets exit before the expansion (they
    cannot form a pair); the sizes ride inside the bucket structs, so
    the same grouped count that yields the intersection yields the
    denominators, with no size join-back."""
    pairs = _bucket_pairs(
        sh.filter(F.col("_bucket_n") >= 2),
        ["shingle"],
        F.struct("doc_id", "n_shingles"),
        "a",
        "b",
    )
    return pairs.groupBy(
        F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
    ).agg(
        F.count("*").alias("inter"),
        F.min("a.n_shingles").alias("na"),
        F.min("b.n_shingles").alias("nb"),
    )


def _jaccard_tail(inter: DataFrame, threshold: float) -> DataFrame:
    """(doc_a, doc_b, inter, na, nb, jaccard): the set-overlap pairs
    whose Jaccard, inter / (na + nb − inter) rounded to 4 places, reaches
    ``threshold`` — the one pair rule of every Jaccard tier."""
    return (
        inter.withColumn(
            "jaccard",
            F.round(F.col("inter") / (F.col("na") + F.col("nb") - F.col("inter")), 4),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "inter", "na", "nb", "jaccard")
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.5,
    max_bucket: int | None = 1000,
    sh: DataFrame | None = None,
) -> DataFrame:
    """Exact n-gram Jaccard similarity for every pair sharing ≥1 shingle.

    intersection counted from per-shingle doc buckets: groupBy(shingle) →
    collect_list(struct(doc_id, n_shingles)) → pair expansion via a double
    explode — the JOIN-FREE formulation of the textbook shingle self-join.
    Doc sizes travel inside the bucket structs, so the union denominators
    come out of the same aggregation that counts intersections: the plan
    has zero joins, hence zero runtime broadcast decisions a misestimated
    aggregate could derail (the join-back-sizes variant OOMed the driver
    at a 50k-doc stress when AQE broadcast the pair table). The hot-bucket
    cap bounds every collected array; singleton buckets exit before
    expansion — they cannot produce a pair. ``sh`` lets a composite
    audit (q149) pass ONE cached _sized_shingles relation instead of
    rebuilding it per tier."""
    if sh is None:
        sh = _sized_shingles(df, text_col, id_col, n, max_bucket)
    return _jaccard_tail(_set_overlap(sh), threshold)


def containment_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    containment_pct: int = 90,
    max_bucket: int | None = 1000,
) -> DataFrame:
    """Broder CONTAINMENT near-dups: pairs where the smaller doc's
    shingle set is ≥ ``containment_pct``% inside the larger's — the
    aggregator/quote-page class that resemblance (Jaccard) MISSES: a
    500-word article pasted into a 5000-word digest has Jaccard ≈ 0.1
    but containment ≈ 1.0, and a dedup pipeline that only runs the
    Jaccard tier ships both copies. Emitted pairs are restricted to
    exactly that blind spot (containment ≥ cut AND Jaccard < 0.5, both
    as INTEGER cross-multiplied compares — 100·inter ≥ pct·min(na,nb);
    3·inter < na+nb — no float decides membership).

    Scale shape: identical to ngram_jaccard_pairs — the join-free
    capped bucket expansion (hot boilerplate shingles dropped at
    ``max_bucket``), one grouped pair count, no self-join anywhere."""
    inter = _set_overlap(_sized_shingles(df, text_col, id_col, n, max_bucket))
    return (
        inter.filter(
            (100 * F.col("inter") >= int(containment_pct) * F.least("na", "nb"))
            & (3 * F.col("inter") < F.col("na") + F.col("nb"))
        )
        .select(
            "doc_a", "doc_b", "inter", "na", "nb",
            F.expr(
                "cast(inter as bigint) * 1000000 div least(na, nb)"
            ).alias("containment_micro"),
            F.when(F.col("na") <= F.col("nb"), F.lit("a_in_b"))
            .otherwise(F.lit("b_in_a"))
            .alias("direction"),
        )
    )


def ngram_contamination(
    corpus: DataFrame,
    eval_docs: DataFrame,
    n: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Benchmark-decontamination screen: corpus docs sharing ≥1 word n-gram
    with the eval set, with the shared-gram count (GPT-3 appendix C / PaLM
    style — production n is 8-13).

    Scale shape: eval benchmarks are MBs against a 100 TB corpus, so the
    eval shingle set is distinct'd and BROADCAST into the corpus shingle
    stream (the shuffle-free sequence-explode, see ``shingle``); the only
    exchange is the final per-doc count. No corpus self-join exists."""
    needles = (
        shingle(eval_docs, text_col, id_col, n, distinct=False)
        .select(F.col("shingle").alias("needle"))
        .distinct()
    )
    hits = shingle(corpus, text_col, id_col, n, distinct=True).join(
        F.broadcast(needles), F.col("shingle") == F.col("needle")
    )
    return hits.groupBy("doc_id").agg(F.count("*").alias("n_shared_ngrams"))


def connected_components(
    pairs: DataFrame,
    a_col: str = "doc_a",
    b_col: str = "doc_b",
    max_iter: int = 20,
) -> DataFrame:
    """(doc_id, component) for every doc in the pair list, where component
    is the minimum doc id reachable through near-dup edges.

    Pairwise dedup output is not yet a dedup DECISION: near-dup relations
    chain (A~B, B~C), so keeping "one of each pair" can still keep two docs
    of one cluster. This resolves pairs into clusters by min-label
    propagation: every doc starts labeled with its own id, and each round
    it adopts the smallest label among itself and its neighbors. A
    component's minimum travels one hop per round, so convergence takes
    O(cluster diameter) rounds; near-dup clusters are shallow (a few hops),
    so a handful of rounds suffices, and a diameter beyond ``max_iter``
    raises rather than return wrong labels.

    There is no shortcut step. Pointer jumping (l(v) ← l(l(v))) gives
    O(log diameter) rounds only when ids increase along a chain: a 40-node
    chain with shuffled ids still took 18 rounds, and the corpus tier's
    shallow clusters converged in the same 2 rounds at an extra join per
    round, so it was slower where it runs.

    Shape: the directed edge double is built and materialized once
    (graph._directed_double, partitioned by ``dst`` for execution width).
    Each round joins the labels onto the double, unions each doc's own
    label, and takes one per-doc min, materialized by ONE eager
    localCheckpoint that keeps the lineage O(1); the count of changed
    labels rides that checkpoint's job as an Observation, so a round is
    one Spark action. The initial labels are checkpointed lazily and
    materialize inside the first round's job."""
    edges = _directed_double(
        pairs.select(F.col(a_col).alias("a"), F.col(b_col).alias("b")), "dst"
    )
    labels = (
        edges.select(F.col("src").alias("doc_id"))
        .distinct()
        .withColumn("component", F.col("doc_id"))
        .localCheckpoint(eager=False)
    )
    n_changed = 0
    for _ in range(max_iter):
        # Each doc's candidates: its neighbors' labels plus its own label
        # (flagged in ``own``); the min of them is the next label.
        candidates = (
            edges.join(labels, edges.dst == labels.doc_id)
            .select(F.col("src").alias("doc_id"), "component", F.lit(None).alias("own"))
            .unionByName(labels.withColumn("own", F.col("component")))
        )
        labels, n_changed = _checkpoint_observing(
            candidates.groupBy("doc_id").agg(
                F.min("component").alias("component"), F.min("own").alias("own")
            ),
            F.count_if(F.col("component") < F.col("own")),
        )
        labels = labels.drop("own")
        if n_changed == 0:
            break
    if n_changed:
        # Unconverged labels are simply WRONG (they'd silently diverge from
        # the transitive-closure oracle) — refuse rather than return them.
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} rounds "
            f"({n_changed} labels still changing): cluster diameter exceeds "
            "max_iter — raise max_iter"
        )
    return labels


def _hash_params(k: int) -> list[tuple[int, int]]:
    rng = np.random.RandomState(_SEED)
    a = rng.randint(1, 2**31 - 1, size=k)
    b = rng.randint(0, 2**31 - 1, size=k)
    return list(zip(a.tolist(), b.tolist()))


def minhash_signatures(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", k: int = 64, n: int = 3
) -> DataFrame:
    """k-permutation MinHash signature per doc: sig_i = min over shingles of
    (a_i * h32(shingle) + b_i) mod p, where h32 is the engine-portable md5
    slice (see _h32). One explode + one grouped multi-min-aggregate — a
    single shuffle on doc_id.

    Deliberately NOT a higher-order-function projection (array_min over
    transform): higher-order functions are CodegenFallback in Spark —
    interpreted per element — and benchmark ~20x slower here than this
    fully whole-stage-codegen'd explode + hash-aggregate, whose map-side
    partial min means the shuffle carries only one 64-long row per doc per
    partition.

    Duplicate in-doc shingles can't change a minimum, so the distinct pass
    is skipped: the grouped min reuses the lead-window's doc_id
    partitioning and the whole signature phase costs ONE exchange."""
    sh = shingle(df, text_col, id_col, n, distinct=False).withColumn(
        "c", _h32("shingle")
    )
    aggs = [
        F.min(F.pmod(F.lit(a) * F.col("c") + F.lit(b), F.lit(_MERSENNE))).alias(f"h{i}")
        for i, (a, b) in enumerate(_hash_params(k))
    ]
    sig = sh.groupBy("doc_id").agg(*aggs)
    return sig.select("doc_id", F.array(*[f"h{i}" for i in range(k)]).alias("sig"))


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 64,
    bands: int = 16,
    n: int = 3,
    threshold: float = 0.5,
    verify: bool = True,
    max_bucket: int | None = 1000,
    max_band_bucket: int | None = 1000,
    sh: DataFrame | None = None,
) -> DataFrame:
    """MinHash-LSH near-dup pairs: band the signature (bands × k/bands), meet
    candidates in band buckets, then verify candidates with exact Jaccard.
    With k=64, bands=16 (r=4) the S-curve crosses ~0.5 at
    s ≈ (1/16)^(1/4) ≈ 0.5.

    Candidate generation is the same JOIN-FREE capped bucket expansion as
    ``ngram_jaccard_pairs``: count docs per (band, band_hash) bucket with a
    window (reusing the groupBy's partitioning), DROP buckets above
    ``max_band_bucket`` — on a real web corpus one band value shared by 10⁵
    templated/boilerplate docs would otherwise expand quadratically before
    any distinct, and such buckets carry no dedup signal (every member
    collides with every other; exact-dedup-first already removed identical
    docs) — prune singleton buckets (can't form a pair), then
    collect_list + double-explode. Zero joins in the candidate phase, so
    zero runtime broadcast decisions, and every collected bucket array is
    bounded by the cap."""
    r = k // bands
    sig = minhash_signatures(df, text_col, id_col, k, n)
    candidates = _band_candidates(sig, bands, r, max_band_bucket)
    if not verify:
        return candidates
    return _jaccard_verify(
        df, candidates, text_col, id_col, n, max_bucket, threshold, sh=sh
    )


def _banded(
    rel: DataFrame, cols: list[str], band_arr: Column, max_band_bucket: int | None
) -> DataFrame:
    """(*cols, band, bh, _bucket_n): one row per element of each row's
    ``band_arr`` (its position is the band, its value the band hash),
    with each (band, bh) bucket's population from a window. Buckets above
    ``max_band_bucket`` and singletons (no pair to form) are dropped. The
    one banding of the MinHash, SimHash and hyperplane LSH tiers and of
    the MinHash delta probe."""
    banded = _capped(
        rel.select(*cols, F.posexplode(band_arr).alias("band", "bh")),
        ["band", "bh"],
        max_band_bucket,
    )
    return banded.filter(F.col("_bucket_n") >= 2)


def _minhash_bands(
    sig: DataFrame, bands: int, r: int, max_band_bucket: int | None
) -> DataFrame:
    """``_banded`` over a (doc_id, sig) MinHash relation: band b hashes
    (xxhash64) the r signature values from b·r on."""
    band_arr = F.array(
        *[
            F.xxhash64(F.concat_ws(",", *[F.col("sig")[b * r + j].cast("string") for j in range(r)]))
            for b in range(bands)
        ]
    )
    return _banded(sig, ["doc_id"], band_arr, max_band_bucket)


def _band_candidates(
    sig: DataFrame, bands: int, r: int, max_band_bucket: int | None
) -> DataFrame:
    """Band a (doc_id, sig) signature relation and expand band buckets
    into candidate pairs — the join-free capped expansion documented in
    ``minhash_lsh_pairs``, factored out so sweep queries (q170) can
    band ONE cached signature pass several ways instead of recomputing
    the k minhashes per arm."""
    return _bucket_pairs(
        _minhash_bands(sig, bands, r, max_band_bucket),
        ["band", "bh"],
        F.col("doc_id"),
        "doc_a",
        "doc_b",
    ).distinct()


def _jaccard_verify(
    df: DataFrame,
    candidates: DataFrame,
    text_col: str,
    id_col: str,
    n: int,
    max_bucket: int | None,
    threshold: float,
    sh: DataFrame | None = None,
) -> DataFrame:
    """Exact-Jaccard verification over CANDIDATE pairs only — the entire
    point of LSH. Route each candidate pair through doc_a's shingles, then
    meet doc_b's shingles on (doc_b, shingle): shuffle volume is
    O(candidates × shingles/doc), never the full shingle self-join.
    Doc sizes ride on the shingle rows as window columns (see
    _sized_shingles) so no size join-back exists for the planner to
    misbroadcast; singleton shingles can't intersect two docs and are
    pruned from the routing. Shared by the full self-pairs path and the
    delta-vs-corpus path (identical arithmetic → identical oracle)."""
    if sh is None:
        sh = _sized_shingles(df, text_col, id_col, n, max_bucket).filter(
            F.col("_bucket_n") >= 2
        )
    sh_a = sh.select(
        F.col("doc_id").alias("doc_a"), "shingle", F.col("n_shingles").alias("na")
    )
    sh_b = sh.select(
        F.col("doc_id").alias("doc_b"), "shingle", F.col("n_shingles").alias("nb")
    )
    inter = (
        candidates.join(sh_a, "doc_a")
        .join(sh_b, ["doc_b", "shingle"])
        .groupBy("doc_a", "doc_b")
        .agg(
            F.count("*").alias("inter"),
            F.min("na").alias("na"),
            F.min("nb").alias("nb"),
        )
    )
    return _jaccard_tail(inter, threshold)


def minhash_lsh_pairs_delta(
    corpus: DataFrame,
    delta: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 64,
    bands: int = 16,
    n: int = 3,
    threshold: float = 0.5,
    max_bucket: int | None = 1000,
    max_band_bucket: int | None = 1000,
) -> DataFrame:
    """Incremental near-dup detection: MinHash-LSH pairs of a NEW delta
    batch against (corpus ∪ delta) — the production shape where the corpus
    bands are computed once and stored, and each ingest batch only bands
    itself and probes. Returns exactly the full self-pairs result
    restricted to pairs touching the delta (verified by q81 against the
    q25 oracle filtered the same way).

    Candidate generation here IS a join — delta bands ⋈ all bands on
    (band, band-hash) — unlike the full path's collect_list expansion:
    with one side |delta|-bounded and both sides bucket-capped
    (``max_band_bucket`` drops boilerplate buckets before the join), its
    fan-out is ≤ |delta bands| × cap, never corpus². At scale the
    all-bands side reads a stored table bucketed by (band, bh), making the
    probe a co-located join with zero corpus-side shuffle per batch."""
    full = corpus.unionByName(delta)
    r = k // bands
    sig = minhash_signatures(full, text_col, id_col, k, n)
    banded = _minhash_bands(sig, bands, r, max_band_bucket)
    delta_ids = delta.select(F.col(id_col).alias("doc_id")).distinct()
    banded_delta = banded.join(delta_ids, "doc_id", "left_semi")
    probe = banded_delta.select(
        F.col("doc_id").alias("_d"), "band", "bh"
    ).join(banded.select(F.col("doc_id").alias("_x"), "band", "bh"), ["band", "bh"])
    candidates = (
        probe.filter(F.col("_d") != F.col("_x"))
        .select(
            F.least("_d", "_x").alias("doc_a"),
            F.greatest("_d", "_x").alias("doc_b"),
        )
        .distinct()
    )
    return _jaccard_verify(full, candidates, text_col, id_col, n, max_bucket, threshold)


def simhash_signatures(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", bits: int = 64
) -> DataFrame:
    """64-bit SimHash over word tokens: per bit j, sum ±1 across token
    hashes; sign(sum) → bit j. Explode + one grouped multi-aggregate.

    The 64 token-hash bits come from TWO 32-bit md5 slices (hex chars 1-8
    and 9-16) instead of one xxhash64: the same engine-portability argument
    as _h32 — DuckDB can recompute both halves but not Spark's seeded
    xxhash64 — which is what upgrades q26 from rows-only to value-checked
    (plans/llm/dedup.py _q26_sql). Kept as two 32-bit columns (never assembled
    into one 64-bit value): bit j < 32 reads the low slice, j >= 32 the
    high one, so no sign-bit/overflow semantics differ between engines."""
    tokens = df.select(
        F.col(id_col).alias("doc_id"),
        F.explode(F.split(F.col(text_col), " ")).alias("tok"),
    ).withColumn("lo", _h32("tok")).withColumn(
        "hi", F.conv(F.substring(F.md5("tok"), 9, 8), 16, 10).cast("long")
    )
    bit_sums = [
        F.sum(
            F.when(
                F.shiftright(F.col("lo" if j < 32 else "hi"), j % 32)
                .bitwiseAND(F.lit(1))
                == 1,
                1,
            ).otherwise(-1)
        ).alias(f"s{j}")
        for j in range(bits)
    ]
    sums = tokens.groupBy("doc_id").agg(*bit_sums)
    # Assemble bits with shiftleft — a 1<<63 Python literal overflows long.
    bit_terms = [
        F.when(
            F.col(f"s{j}") > 0, F.shiftleft(F.lit(1).cast("long"), j)
        ).otherwise(F.lit(0).cast("long"))
        for j in range(bits)
    ]
    acc = bit_terms[0]
    for t in bit_terms[1:]:
        acc = acc.bitwiseOR(t)
    return sums.select("doc_id", acc.alias("simhash"))


def simhash_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
    blocks: int = 4,
    max_block_bucket: int | None = 1000,
) -> DataFrame:
    """Near-dup pairs by SimHash: block the 64-bit signature into ``blocks``
    16-bit pieces — any pair within Hamming ≤ blocks-1 shares at least one
    block (pigeonhole) — meet per block bucket, verify Hamming via bit_count.

    Same capped join-free bucket expansion as ``minhash_lsh_pairs``: a block
    value shared by more docs than ``max_block_bucket`` (near-constant
    signatures from templated text) is dropped before the quadratic pair
    expansion — those buckets are all-pairs-collide noise, not signal. The
    signature rides inside the bucket structs so the Hamming verify needs no
    join-back."""
    sig = simhash_signatures(df, text_col, id_col)
    width = 64 // blocks
    mask = (1 << width) - 1
    block_arr = F.array(
        *[
            F.shiftrightunsigned(F.col("simhash"), i * width).bitwiseAND(F.lit(mask))
            for i in range(blocks)
        ]
    )
    blocked = _banded(sig, ["doc_id", "simhash"], block_arr, max_block_bucket)
    return (
        _bucket_pairs(
            blocked, ["band", "bh"], F.struct("doc_id", "simhash"), "a", "b"
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.bit_count(
                F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))
            ).alias("hamming"),
        )
        .distinct()
        .filter(F.col("hamming") <= max_hamming)
    )


def bloom_novelty_filter(
    corpus: DataFrame,
    delta: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    m_bits: int = 1 << 16,
    j_hashes: int = 4,
    salt: str = "bloom",
    corpus_hash_col: str | None = None,
) -> DataFrame:
    """Bloom-gated incremental exact dedup: which delta docs are NOVEL
    (content hash absent from the stored corpus)?

    The naive shape anti-joins every batch against the full corpus hash
    table — at 100 TB that reshuffles corpus-scale data per ingest. A
    Bloom filter over the corpus hashes splits the batch map-side:

    - bloom says ABSENT → definitely novel (a Bloom filter has no false
      negatives): emitted with zero join work — the common case for a
      healthy ingest, decided in the scan projection;
    - bloom says PRESENT → duplicate OR false positive: only these
      (dup_rate + fp_rate of the batch) reach the exact anti-join, whose
      stored side at scale is a bucketed hash table probed co-located
      (the q81 delta-bands argument).

    The filter is built from Catalyst primitives so it needs no native
    bloom UDAF: j salted md5-slice positions per doc → one bit_or
    aggregate keyed on the WORD index (pos >> 6). Partial aggregation
    bounds every map task's output at m_bits/64 longs — the build shuffle
    is bloom-sized, not corpus-sized — and the finished filter is a
    driver-side array<long> literal (m_bits = 2^16 → 1024 longs, the same
    bounded-collect contract as IVF seeding) broadcast inside the probe
    projection. The j probe positions recompute the SAME expressions, so
    no-false-negatives holds by construction (pytest-pinned, along with
    bloom-vs-plain-anti-join result equivalence).

    Correctness is bloom-INDEPENDENT: false positives are caught by the
    exact join, so the output equals a plain anti-join bit-for-bit — which
    is exactly what lets a fixed SQL oracle (plans/llm/dedup.py q96) check the
    whole operator."""
    if m_bits < 64 or m_bits % 64:
        raise ValueError(f"m_bits must be a positive multiple of 64, got {m_bits}")
    ch = F.md5(F.col(text_col))
    # With corpus_hash_col, the stored side is already a hash TABLE (the
    # streaming ingest shape, streaming/novelty.py) — no text re-hash.
    corpus_ch = F.col(corpus_hash_col) if corpus_hash_col else ch

    def pos(i: int, of=None):
        return F.pmod(
            _h32(F.concat(F.lit(f"{salt}{i}:"), ch if of is None else of)),
            F.lit(m_bits),
        )

    def bit_of(p):
        # shiftleft with a COLUMN shift count needs call_function (the
        # Python wrapper only takes int) — one derivation of the probe
        # position feeds both the word index and the bit mask, so the
        # no-false-negative invariant can't be broken by editing one of
        # two redundant encodings.
        return F.call_function(
            "shiftleft", F.lit(1).cast("long"), F.pmod(p, F.lit(64)).cast("int")
        )

    # NULL content hashes never enter the filter: md5(NULL) is NULL, a
    # NULL position would reach the driver as arr[None]. SQL semantics
    # (NOT EXISTS with NULL equality) treat a NULL-text doc as matching
    # nothing, which the probe below mirrors.
    words = (
        corpus.select(
            F.explode(
                F.array(*[pos(i, corpus_ch) for i in range(j_hashes)])
            ).alias("pos")
        )
        .filter(F.col("pos").isNotNull())
        .select(
            F.shiftright("pos", 6).cast("int").alias("word"),
            bit_of(F.col("pos")).alias("bit"),
        )
        .groupBy("word")
        .agg(F.bit_or("bit").alias("bits"))
        .collect()
    )
    arr = [0] * (m_bits >> 6)
    for r in words:
        arr[r.word] = r.bits

    def might_contain_all():
        # Reference the filter through ONE bound column (`_bf`) instead
        # of inlining the m_bits/64-long array literal once per hash:
        # j copies of a 1024-element literal quadruple the analyzed-plan
        # size and cost ~0.3 s of per-invocation planning overhead at
        # j=4 (measured round 6); the bound column keeps one copy.
        conds = []
        for i in range(j_hashes):
            p = pos(i)
            word = F.element_at(
                F.col("_bf"), F.shiftright(p, 6).cast("int") + F.lit(1)
            )
            conds.append(word.bitwiseAND(bit_of(p)) != 0)
        out = conds[0]
        for c in conds[1:]:
            out = out & c
        return out

    # A NULL-text delta row makes _mc NULL, which both branch filters
    # would drop — losing the row. NULL equals nothing in the exact
    # anti-join's semantics, so it is NOVEL by definition: coalesce the
    # probe to false and let it take the join-free branch.
    probe = (
        delta.withColumn("_bf", F.lit(arr))
        .withColumn("_mc", F.coalesce(might_contain_all(), F.lit(False)))
        .drop("_bf")
    )
    definitely_new = probe.filter(~F.col("_mc")).drop("_mc")
    candidates = probe.filter(F.col("_mc")).drop("_mc")
    corpus_hashes = corpus.select(corpus_ch.alias("_ch")).distinct()
    confirmed_new = candidates.withColumn("_ch", ch).join(
        corpus_hashes, "_ch", "left_anti"
    ).drop("_ch")
    return definitely_new.unionByName(confirmed_new)


def sparse_cosine_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    min_df: int = 2,
    max_df: int = 1000,
    threshold: float = 0.3,
) -> DataFrame:
    """COUNT-weighted n-gram cosine near-dup pairs over an inverted index —
    the sparse-vector cousin of ``ngram_jaccard_pairs`` (set overlap) that
    weighs REPEATED shingles, so a doc that repeats another doc's
    boilerplate ten times scores differently than one sharing it once.
    This is the classic all-pairs similarity-search shape (Bayardo et al.,
    WWW'07): build term postings, prune hot terms, expand candidate pairs
    only within a posting list, and accumulate dot products with one
    grouped sum.

    Exactness contract: the dot product and both squared norms are EXACT
    integer sums of shingle-count products (no floats anywhere in the
    aggregation), so cross-engine float-summation order can never reorder
    results. The only float math is the final
    ``dot / (sqrt(norm2_a) * sqrt(norm2_b))`` — every step of which is a
    correctly-rounded IEEE op on exactly-represented integers (all sums
    < 2^53 for any doc under ~10^6 shingle mass), hence bit-identical in
    Spark and the DuckDB oracle. The q78 lesson (engines round a >2^53
    int→double cast differently) is designed out, not tolerated.

    Scale shape (100 TB):
    - shingling is the shuffle-free sequence-explode (``shingle``,
      distinct=False) and the (doc, shingle) counts combine map-side;
    - ``max_df`` caps the quadratic surface: a term shared by k docs
      expands C(k, 2) candidate rows, so boilerplate terms (df beyond the
      cap) are dropped — they carry no discriminative signal, the same
      hot-bucket discipline as q24/q25/q59, and double as the idf-style
      stop-term filter a count cosine needs;
    - pair expansion is JOIN-FREE (sorted postings + nested transform
      flatten) — nothing for AQE to misbroadcast, and per-term work is
      bounded by C(max_df, 2);
    - the accumulation is ONE grouped integer sum on (doc_a, doc_b) with
      map-side combine; the norm attach joins a doc-cardinality relation
      on the pair ids (AQE broadcasts it at small SF, co-partitions at
      scale). Only ids, counts, and 8-byte sums ever shuffle — never text.
    """
    g = (
        shingle(df, text_col, id_col, n, distinct=False)
        .groupBy("doc_id", "shingle")
        .agg(F.count("*").alias("c"))
    )
    norms = g.groupBy("doc_id").agg(
        F.sum(F.col("c") * F.col("c")).alias("norm2")
    )
    postings = (
        g.groupBy("shingle")
        .agg(
            F.array_sort(
                F.collect_list(F.struct("doc_id", "c"))
            ).alias("ps"),
            F.count("*").alias("df"),
        )
        .filter((F.col("df") >= int(min_df)) & (F.col("df") <= int(max_df)))
    )
    # All within-posting pairs (a < b by the sorted array order), each
    # carrying its exact count product — flatten of a nested transform,
    # no join anywhere in the candidate phase.
    pair = F.expr(
        "flatten(transform(ps, (x, ix) -> "
        "transform(slice(ps, ix + 2, size(ps)), "
        "y -> struct(x.doc_id as a, y.doc_id as b, x.c * y.c as p))))"
    )
    dots = (
        postings.select(F.explode(pair).alias("pr"))
        .select(
            F.col("pr.a").alias("doc_a"),
            F.col("pr.b").alias("doc_b"),
            F.col("pr.p").alias("p"),
        )
        .groupBy("doc_a", "doc_b")
        .agg(F.sum("p").alias("dot"))
    )
    cos = F.round(
        F.col("dot").cast("double")
        / (
            F.sqrt(F.col("norm2_a").cast("double"))
            * F.sqrt(F.col("norm2_b").cast("double"))
        ),
        6,
    )
    return (
        dots.join(
            norms.select(
                F.col("doc_id").alias("doc_a"), F.col("norm2").alias("norm2_a")
            ),
            "doc_a",
        )
        .join(
            norms.select(
                F.col("doc_id").alias("doc_b"), F.col("norm2").alias("norm2_b")
            ),
            "doc_b",
        )
        .withColumn("cosine", cos)
        .filter(F.col("cosine") >= float(threshold))
        .select("doc_a", "doc_b", "dot", "norm2_a", "norm2_b", "cosine")
    )
