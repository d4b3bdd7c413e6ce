"""Mechanically split from plans/llm.py (round 9) — segment contents are verbatim; see package __init__."""


from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from ...sources.files import load_table
from ._shared import (
    _STOPWORDS,
)
from .dedup import (
    _Q42_CTES,
)


# Corpus-mixing rates for q47: down-weight the dominant language, keep the
# rest — the C4/Pile-style re-balancing a 100 TB build runs as its last
# filter stage.
_Q47_RATES = {"en": 0.5, "de": 1.0, "es": 0.25, "fr": 1.0, "zh": 0.1}


def q47_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic hash-bucket corpus mixing (operators/sampling.py):
    per-language keep rates, reproducible on any cluster, zero shuffle."""
    from ...operators.sampling import stratified_sample

    docs = load_table(spark, sf_dir, "documents")
    return (
        stratified_sample(docs, _Q47_RATES)
        .select("doc_id", "lang", "bucket")
        .orderBy("doc_id")
    )


def _q47_sql() -> str:
    cases = " ".join(
        f"WHEN '{s}' THEN {int(r * 10000)}" for s, r in sorted(_Q47_RATES.items())
    )
    return f"""
WITH b AS (
  SELECT doc_id, lang,
         ('0x' || substr(md5('smp' || doc_id::VARCHAR), 1, 8))::BIGINT % 10000
           AS bucket
  FROM documents
)
SELECT doc_id, lang, bucket FROM b
WHERE bucket < CASE lang {cases} ELSE 10000 END
ORDER BY doc_id
"""


def q48_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-sequence packing plan (operators/packing.py): shard by
    portable hash, running token total per shard, seq/offset assignment."""
    from ...operators.packing import pack_documents

    docs = load_table(spark, sf_dir, "documents")
    return pack_documents(docs, capacity=2048, n_shards=8).orderBy("doc_id")


_Q48_SQL = r"""
WITH base AS (
  SELECT doc_id,
         len(list_filter(string_split_regex(lower(text), '\s+'), x -> x <> ''))
           AS n_tokens,
         ('0x' || substr(md5('shard' || doc_id::VARCHAR), 1, 8))::BIGINT % 8
           AS shard
  FROM documents
), cum AS (
  SELECT doc_id, n_tokens, shard,
         CAST(sum(n_tokens) OVER (
           PARTITION BY shard ORDER BY doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
         ) - n_tokens AS BIGINT) AS start
  FROM base
)
SELECT doc_id, n_tokens, shard,
       start // 2048 AS seq,
       start % 2048 AS offset
FROM cum
ORDER BY doc_id
"""


def q69_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-weighted corpus downsampling (operators/sampling.py
    `weighted_sample`): keep each doc with probability proportional to a
    per-doc quality weight (here n_chars/max_chars — in production the
    LM/classifier score from q49/q58). The keep decision is
    hash-deterministic and quantized to integer thresholds, so the EXACT
    kept set replays in SQL. Plan: 1-row max broadcast + narrow codegen
    filter — zero data shuffles."""
    from ...operators.sampling import weighted_sample

    docs = load_table(spark, sf_dir, "documents")
    mx = docs.agg(F.max("n_chars").alias("mx"))
    d = docs.crossJoin(F.broadcast(mx)).withColumn(
        "w", F.col("n_chars") / F.col("mx")
    )
    return (
        weighted_sample(d, "w", salt="wsmp")
        .select("doc_id", "lang", "bucket", "keep_threshold")
        .orderBy("doc_id")
    )


_Q69_SQL = """
WITH mx AS (SELECT max(n_chars) AS mx FROM documents),
b AS (
  SELECT doc_id, lang,
         ('0x' || substr(md5('wsmp' || doc_id::VARCHAR), 1, 8))::BIGINT % 10000
           AS bucket,
         CAST(floor(n_chars / mx * 10000) AS BIGINT) AS keep_threshold
  FROM documents, mx
)
SELECT doc_id, lang, bucket, keep_threshold FROM b
WHERE bucket < keep_threshold
ORDER BY doc_id
"""


def q71_per_source_quota(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Balanced per-stratum quota sampling: exactly min(10, |stratum|) docs
    per source, chosen by deterministic hash order — the fixed-budget
    counterpart of rate-based mixing (q47), via operators/sampling.py
    `quota_sample`. row_number over the portable md5 order makes the
    chosen set content-addressed: any engine, any partitioning, same
    sample. The window's Partial WindowGroupLimit (each task keeps its 10
    smallest hashes per stratum — exact, since the global top-k is a
    subset of the union of local top-ks) shrinks the window shuffle from
    |corpus| rows to ≤ k·strata·partitions."""
    from ...operators.sampling import quota_sample

    docs = load_table(spark, sf_dir, "documents")
    return quota_sample(docs, 10).orderBy("source", "rn")


_Q71_SQL = """
WITH h AS (
  SELECT doc_id, source,
         ('0x' || substr(md5('quota' || doc_id::VARCHAR), 1, 8))::BIGINT AS h
  FROM documents
)
SELECT doc_id, source, rn FROM (
  SELECT doc_id, source,
         row_number() OVER (PARTITION BY source ORDER BY h, doc_id) AS rn
  FROM h
)
WHERE rn <= 10
ORDER BY source, rn
"""


def q83_leakage_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe train/val split (operators/splits.domain_split): the
    split decision hashes the DOMAIN (source), not the row, so every doc
    of a domain lands on one side and intra-domain near-dups can never
    straddle the fence. The decision is a zero-shuffle codegen projection
    (portable md5-slice hash vs a percent threshold) — at 100 TB it rides
    the scan; the only exchange here is the per-(source, split) rollup
    that reports the resulting corpus composition."""
    from ...operators.splits import domain_split

    docs = load_table(spark, sf_dir, "documents")
    return (
        domain_split(docs, val_pct=30)
        .groupBy("source", "split")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
        )
        .orderBy("source")
    )


_Q83_SQL = """
SELECT source,
       CASE WHEN ('0x' || substr(md5('split' || source), 1, 8))::BIGINT % 100 < 30
            THEN 'val' ELSE 'train' END AS split,
       count(*) AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS total_chars
FROM documents
GROUP BY source
ORDER BY source
"""


def q84_split_leakage_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-split contamination audit (operators/splits.
    split_leakage_audit): near-dup clusters (the q42 machinery — capped
    Jaccard edges resolved by label-propagation connected components)
    joined against the domain split; a cluster with members on both sides
    is LEAKY — duplicate text the domain fence failed to contain (same
    boilerplate republished across domains), i.e. exactly the rows that
    inflate eval. Costs one |clustered-docs| join + one component-keyed
    aggregate on top of the cluster map; the corpus itself is never
    reshuffled. Oracle: the q42 recursive-closure CTEs + the same split
    CASE, composed."""
    from ...operators.dedup import connected_components, ngram_jaccard_pairs
    from ...operators.splits import domain_split, split_leakage_audit

    docs = load_table(spark, sf_dir, "documents", parallelize=True)
    pairs = ngram_jaccard_pairs(docs, threshold=0.5, max_bucket=1000)
    comp = connected_components(pairs)
    assign = domain_split(docs, val_pct=30).select("doc_id", "split")
    return split_leakage_audit(comp, assign).orderBy("component")


_Q84_SQL = f"""
WITH RECURSIVE {_Q42_CTES}, assign AS (
  SELECT doc_id,
         CASE WHEN ('0x' || substr(md5('split' || source), 1, 8))::BIGINT % 100 < 30
              THEN 'val' ELSE 'train' END AS split
  FROM documents
)
SELECT component,
       count(*) AS cluster_size,
       count(*) FILTER (WHERE split = 'train') AS n_train,
       count(*) FILTER (WHERE split = 'val') AS n_val,
       count(*) FILTER (WHERE split = 'train') > 0
         AND count(*) FILTER (WHERE split = 'val') > 0 AS leaky
FROM comp JOIN assign USING (doc_id)
GROUP BY component ORDER BY component
"""


def q85_epoch_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fractional-epoch source mixing (operators/sampling.epoch_mixture):
    src0 upweighted 2.5x (every doc twice, a hash-chosen half a third
    time), src1 downsampled to 0.25, src2 at 1.75, src3 halved, the rest
    at 1.0 — the Pile-style mixture schedule as a zero-shuffle explode.
    Reported per source: input docs, emitted rows, max epoch."""
    from ...operators.sampling import epoch_mixture

    docs = load_table(spark, sf_dir, "documents")
    mixed = epoch_mixture(
        docs, {"src0": 2.5, "src1": 0.25, "src2": 1.75, "src3": 0.5}
    )
    return (
        mixed.groupBy("source")
        .agg(
            F.countDistinct("doc_id").alias("n_docs"),
            F.count("*").alias("n_emitted"),
            F.max("epoch").alias("max_epoch"),
        )
        .orderBy("source")
    )


_Q85_SQL = """
WITH w AS (
  SELECT doc_id, source,
         CASE source WHEN 'src0' THEN 2.5 WHEN 'src1' THEN 0.25
                     WHEN 'src2' THEN 1.75 WHEN 'src3' THEN 0.5
                     ELSE 1.0 END AS wt,
         ('0x' || substr(md5('epoch' || doc_id::VARCHAR), 1, 8))::BIGINT % 10000
           AS h
  FROM documents
), reps AS (
  SELECT doc_id, source,
         CAST(floor(wt) AS INT)
           + CASE WHEN h < floor((wt - floor(wt)) * 10000) THEN 1 ELSE 0 END
           AS n_rep
  FROM w
), emitted AS (
  SELECT doc_id, source, unnest(range(1, n_rep + 1)) AS epoch
  FROM reps WHERE n_rep >= 1
)
SELECT source, count(DISTINCT doc_id) AS n_docs, count(*) AS n_emitted,
       CAST(max(epoch) AS INT) AS max_epoch
FROM emitted GROUP BY source ORDER BY source
"""


def q86_token_budget_selection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-ranked data selection under a token budget (operators/
    sampling.token_budget_select): docs ordered by the q18 quality score
    (rounded to 4 decimals on BOTH engines so the order ties identically;
    doc_id breaks the remaining ties) are taken greedily until 10,000
    tokens. The running total is the distributed prefix-sum — range
    repartition + per-partition cumsum + bounded offset join — never a
    single-partition global window over the corpus."""
    from ...operators.sampling import token_budget_select

    docs = load_table(spark, sf_dir, "documents")
    words = F.split(F.col("text"), " ")
    n_words = F.size(words)
    stop_arr = F.array(*[F.lit(s) for s in _STOPWORDS])
    n_stop = F.size(F.filter(words, lambda x: F.array_contains(stop_arr, x)))
    scored = docs.select(
        "doc_id",
        n_words.cast("long").alias("n_tokens"),
        F.round(
            F.least(n_words / F.lit(100.0), F.lit(1.0)) * (1 - n_stop / n_words), 4
        ).alias("quality_score"),
    )
    return (
        token_budget_select(scored, budget=10_000)
        .select("doc_id", "quality_score", "n_tokens", "cum_tokens")
        .orderBy("cum_tokens")
    )


_Q86_SQL = f"""
WITH base AS (
  SELECT doc_id,
         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
         round(least(len(string_split(text, ' ')) / 100.0, 1.0)
               * (1 - len(list_filter(string_split(text, ' '),
                     x -> list_contains({_STOPWORDS!r}, x)))
                     / len(string_split(text, ' '))), 4) AS quality_score
  FROM documents
), c AS (
  SELECT doc_id, quality_score, n_tokens,
         CAST(sum(n_tokens) OVER (ORDER BY quality_score DESC, doc_id)
              AS BIGINT) AS cum_tokens
  FROM base
)
SELECT doc_id, quality_score, n_tokens, cum_tokens
FROM c WHERE cum_tokens <= 10000 ORDER BY cum_tokens
"""


def q94_exact_k_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-size-k deterministic uniform sample (north star: "exactly
    100k eval docs", not a rate that hits 100k in expectation): global
    top-k by the portable md5-slice hash — plans as TakeOrderedAndProject
    (per-partition heaps + bounded merge, no global sort or full exchange;
    plan-gated), and the k-sample is a PREFIX of any larger sample at the
    same salt. Routed through operators/sampling.exact_k_sample."""
    from ...operators.sampling import exact_k_sample

    docs = load_table(spark, sf_dir, "documents")
    return exact_k_sample(docs.select("doc_id", "source", "lang"), k=100)


_Q94_SQL = """
SELECT doc_id, source, lang,
       ('0x' || substr(md5('ek' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT AS h
FROM documents
ORDER BY h, doc_id
LIMIT 100
"""


def q95_diversity_cap_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style diversity sampling (north star: semantic-cluster
    pruning of a training corpus): nearest-centroid assignment (argmax
    projection, zero shuffle) → keep the m=10 LEAST prototypical vectors
    per cell (lowest cosine to centroid — the kept set spreads over the
    cluster instead of stacking near-duplicates at its mode). Hash-seeded
    centroids (the q56 argument) make the ENTIRE pipeline — seeding,
    normalization, assignment argmax, per-cell diversity ranking —
    replayable by the SQL oracle."""
    from ...operators.similarity import diversity_cap, hash_seed_centroids

    emb = load_table(spark, sf_dir, "embeddings")
    cents = hash_seed_centroids(emb, nlist=16)
    return diversity_cap(emb, cents, m=10).orderBy("cell", "rank")


# Replays seeding (md5-slice order, ties to lowest id, cell = hash rank),
# unit centroids, assignment argmax (ties to LOWEST cell), per-cell cosine,
# and the diversity window (ASC — least prototypical first). Same portable
# pieces as _Q56_SQL.
_Q95_SQL = """
WITH c AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
), seeds AS (
  SELECT row_number() OVER (
           ORDER BY ('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 8))::BIGINT,
                    vec_id
         ) - 1 AS cell,
         v AS cv
  FROM c
  ORDER BY ('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 8))::BIGINT, vec_id
  LIMIT 16
), cents AS (
  SELECT cell,
         list_transform(cv, x -> x / sqrt(list_dot_product(cv, cv))) AS u
  FROM seeds
), assigned AS (
  SELECT vec_id, cell, dot / sqrt(list_dot_product(v, v)) AS cs FROM (
    SELECT c.vec_id, c.v, cents.cell,
           list_dot_product(c.v, cents.u) AS dot,
           row_number() OVER (
             PARTITION BY c.vec_id
             ORDER BY list_dot_product(c.v, cents.u) DESC, cents.cell ASC
           ) AS rn
    FROM c CROSS JOIN cents
  ) WHERE rn = 1
)
SELECT cell, rank, vec_id, centroid_sim FROM (
  SELECT cell, vec_id,
         row_number() OVER (PARTITION BY cell ORDER BY cs ASC, vec_id) AS rank,
         round(cs, 4) AS centroid_sim
  FROM assigned
)
WHERE rank <= 10
ORDER BY cell, rank
"""


def q102_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance weights (operators/sampling.dsir_log_weights):
    score every doc by target-likeness under hashed unigram models, with
    the English subset standing in for the target distribution (in
    production: Wikipedia/books). The full pipeline — bucketing, both
    add-1-smoothed models, absent-bucket floors, per-doc log-ratio sum —
    replays in the oracle SQL, so the green hash certifies the model fit
    AND the scoring pass, not just row counts."""
    from ...operators.sampling import dsir_log_weights

    docs = load_table(spark, sf_dir, "documents", parallelize=True)
    return dsir_log_weights(docs, docs.filter(F.col("lang") == "en"))


_Q102_SQL = r"""
WITH toks AS (
  SELECT doc_id, ('0x' || substr(md5(tok), 1, 8))::BIGINT % 1024 AS b
  FROM (
    SELECT doc_id, unnest(string_split_regex(lower(text), '\s+')) AS tok
    FROM documents
  ) WHERE tok <> ''
), tgt_toks AS (
  SELECT t.b FROM toks t JOIN documents d USING (doc_id) WHERE d.lang = 'en'
), rt AS (SELECT CAST(count(*) + 1024 AS DOUBLE) AS d FROM toks),
   tt AS (SELECT CAST(count(*) + 1024 AS DOUBLE) AS d FROM tgt_toks),
   rm AS (
  SELECT b, ln((count(*) + 1) / (SELECT d FROM rt)) AS logp_raw
  FROM toks GROUP BY b
), tm AS (
  SELECT b, ln((count(*) + 1) / (SELECT d FROM tt)) AS logp_tgt
  FROM tgt_toks GROUP BY b
), scored AS (
  SELECT t.doc_id, count(*) AS n_tokens,
         round(sum(coalesce(tm.logp_tgt, -ln((SELECT d FROM tt)))
                   - rm.logp_raw), 4) AS log_weight
  FROM toks t
  JOIN rm USING (b)
  LEFT JOIN tm USING (b)
  GROUP BY t.doc_id
)
SELECT d.doc_id,
       coalesce(s.n_tokens, 0) AS n_tokens,
       coalesce(s.log_weight, 0.0) AS log_weight
FROM documents d LEFT JOIN scored s USING (doc_id)
ORDER BY doc_id
"""


def q120_contrastive_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic negative-pair mining for contrastive training
    (operators/sampling.contrastive_negatives): 4 reproducible partners
    per document via the md5 ring offset over the epoch-shuffle dense
    index — self-pairs impossible by arithmetic, no corpus cross-join,
    one co-partitionable integer-key attach. The oracle replays the
    whole chain (rank, hash, modular offset, join) exactly."""
    from ...operators.sampling import contrastive_negatives

    docs = load_table(spark, sf_dir, "documents")
    return contrastive_negatives(docs, k=4, seed="neg0").orderBy(
        "doc_id", "neg_rank"
    )


_Q120_SQL = """
WITH idx AS (
  SELECT doc_id,
         row_number() OVER (
           ORDER BY md5('neg0:idx:' || doc_id::VARCHAR), doc_id
         ) - 1 AS pos
  FROM documents
), n AS (
  SELECT count(*) AS n_total FROM documents
), cand AS (
  SELECT i.doc_id, i.pos, n.n_total, j.j AS neg_rank,
         ('0x' || substr(
            md5('neg0:' || i.doc_id::VARCHAR || ':' || j.j::VARCHAR), 1, 8
          ))::BIGINT AS h
  FROM idx i
  CROSS JOIN n
  CROSS JOIN (SELECT unnest(range(1, 5)) AS j) j
  WHERE n.n_total >= 2
)
SELECT c.doc_id, c.neg_rank, p.doc_id AS neg_doc_id
FROM (
  SELECT doc_id, neg_rank,
         (pos + 1 + (h % (n_total - 1))) % n_total AS neg_pos
  FROM cand
) c
JOIN idx p ON p.pos = c.neg_pos
ORDER BY c.doc_id, c.neg_rank
"""


def q134_scaling_subsets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nested deterministic subsets for scaling-law runs: every doc gets
    the SMALLEST power-of-two percentage tier it belongs to (1, 2, 4,
    …, 64, else 100), assigned by the portable md5-slice hash against
    fixed thresholds — so the 1% set is a strict subset of the 2% set,
    which is a subset of the 4% set, and so on (the nestedness property
    a scaling-law sweep needs: each larger run REUSES the smaller run's
    data exactly). Zero shuffles beyond the rollup: the tier is a pure
    projection; the output is per-tier doc counts plus the cumulative
    (nested) size each training run would read. Nestedness itself is
    pytest-pinned."""
    docs = load_table(spark, sf_dir, "documents")
    u = F.pmod(
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("scale0:"), F.col("doc_id").cast("string"))),
                1,
                8,
            ),
            16,
            10,
        ).cast("long"),
        F.lit(10_000),
    )
    tier = (
        F.when(u < 100, 1)
        .when(u < 200, 2)
        .when(u < 400, 4)
        .when(u < 800, 8)
        .when(u < 1600, 16)
        .when(u < 3200, 32)
        .when(u < 6400, 64)
        .otherwise(100)
    )
    per_tier = (
        docs.select(tier.alias("tier_pct"))
        .groupBy("tier_pct")
        .agg(F.count("*").alias("n_docs"))
    )
    w = W.orderBy("tier_pct").rowsBetween(W.unboundedPreceding, 0)
    return (
        per_tier.withColumn("n_cumulative", F.sum("n_docs").over(w))
        .orderBy("tier_pct")
    )


_Q134_SQL = """
WITH t AS (
  SELECT CASE
           WHEN u < 100 THEN 1
           WHEN u < 200 THEN 2
           WHEN u < 400 THEN 4
           WHEN u < 800 THEN 8
           WHEN u < 1600 THEN 16
           WHEN u < 3200 THEN 32
           WHEN u < 6400 THEN 64
           ELSE 100 END AS tier_pct
  FROM (
    SELECT ('0x' || substr(md5('scale0:' || doc_id::VARCHAR), 1, 8))
             ::BIGINT % 10000 AS u
    FROM documents
  )
), per_tier AS (
  SELECT tier_pct, count(*) AS n_docs FROM t GROUP BY tier_pct
)
SELECT tier_pct, n_docs,
       CAST(sum(n_docs) OVER (ORDER BY tier_pct
                              ROWS BETWEEN UNBOUNDED PRECEDING
                              AND CURRENT ROW) AS BIGINT) AS n_cumulative
FROM per_tier
ORDER BY tier_pct
"""


def q136_stratified_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified train/val/test assignment with EXACT integer quotas:
    within each language stratum, docs are ranked by the portable
    md5 hash (deterministic, reproducible) and the first ⌊n/10⌋ go to
    val, the next ⌊n/10⌋ to test, the rest to train — so every stratum
    hits its 10 % quotas exactly (floor semantics documented; no
    binomial wobble, unlike rand()-thresholding, which at small strata
    can starve a split entirely). Complements q83 (near-dup-group
    leakage safety): this is the proportional-allocation layer. One
    per-stratum window on the uniform hash key; output is the
    (lang, split) count matrix the training config records."""
    docs = load_table(spark, sf_dir, "documents")
    h = F.md5(F.concat(F.lit("split0:"), F.col("doc_id").cast("string")))
    w = W.partitionBy("lang").orderBy(h, "doc_id")
    n = F.count("*").over(W.partitionBy("lang"))
    r = F.row_number().over(w)
    split = (
        F.when(r <= F.floor(n / 10), "val")
        .when(r <= 2 * F.floor(n / 10), "test")
        .otherwise("train")
    )
    return (
        docs.select("lang", split.alias("split"))
        .groupBy("lang", "split")
        .agg(F.count("*").alias("n_docs"))
        .orderBy("lang", "split")
    )


_Q136_SQL = """
WITH ranked AS (
  SELECT lang,
         row_number() OVER (
           PARTITION BY lang
           ORDER BY md5('split0:' || doc_id::VARCHAR), doc_id
         ) AS r,
         count(*) OVER (PARTITION BY lang) AS n
  FROM documents
)
SELECT lang,
       CASE WHEN r <= n // 10 THEN 'val'
            WHEN r <= 2 * (n // 10) THEN 'test'
            ELSE 'train' END AS split,
       count(*) AS n_docs
FROM ranked
GROUP BY 1, 2
ORDER BY lang, split
"""


def q145_interleaved_batches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Source-interleaved training order — the fix for homogeneous
    batches: docs are shuffled WITHIN each source (md5 rank) and then
    round-robin interleaved across sources, so every contiguous batch
    carries the corpus's source mix. The global position needs NO rank
    machinery at all: with the per-source size table broadcast as one
    array, pos(r, s) = Σ_s' min(r, n_s') + |{s' < s : n_s' > r}| — a
    pure codegen fold over ~source-count array entries per row, exactly
    the row_number the naive ORDER BY (r, source) would assign
    (the oracle proves the closed form). Even cheaper than the q116
    bucket-offset rank: one within-source window + a broadcast fold,
    zero extra exchanges."""
    docs = load_table(spark, sf_dir, "documents")
    key = F.md5(F.concat(F.lit("il0:"), F.col("doc_id").cast("string")))
    w = W.partitionBy("source").orderBy(key, "doc_id")
    ranked = docs.select("doc_id", "source").withColumn(
        "r", F.row_number().over(w) - 1
    )
    sizes = (
        docs.groupBy("source")
        .agg(F.count("*").alias("n"))
        .agg(
            F.array_sort(
                F.collect_list(F.struct("source", "n"))
            ).alias("sz")
        )
    )
    pos = F.expr(
        "aggregate(sz, 0L, (acc, x) -> acc + least(CAST(r AS BIGINT), x.n)"
        " + CASE WHEN x.source < source AND x.n > r THEN 1L ELSE 0L END)"
    )
    return (
        ranked.crossJoin(F.broadcast(sizes))
        .withColumn("global_pos", pos)
        .withColumn("batch_id", F.floor(F.col("global_pos") / 64))
        .select("doc_id", "source", "r", "global_pos", "batch_id")
        .orderBy("global_pos")
    )


_Q145_SQL = """
WITH ranked AS (
  SELECT doc_id, source,
         row_number() OVER (
           PARTITION BY source
           ORDER BY md5('il0:' || doc_id::VARCHAR), doc_id
         ) - 1 AS r
  FROM documents
)
SELECT doc_id, source, r,
       row_number() OVER (ORDER BY r, source) - 1 AS global_pos,
       (row_number() OVER (ORDER BY r, source) - 1) // 64 AS batch_id
FROM ranked
ORDER BY global_pos
"""


def q262_length_bucket_padding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence-length bucketing audit for training-batch assembly:
    each document is assigned to the smallest power-of-two length
    bucket >= its whitespace token count (64..2048; longer docs land in
    the 2048 bucket TRUNCATED to the cap) and every bucket reports its
    padding waste and packing efficiency — the measurement that decides
    bucket boundaries before a padded-batch training run (the padded
    counterpart of q48's sequence packing).

    All-integer: tokens_kept = min(len, cap), padded = n_docs·cap,
    eff_ppm = kept·1e6 div padded — exact BIGINTs end to end.

    Shape at 100 TB: one narrow scan computing the token count per doc
    (size(split()) — no explode), one groupBy into <=6 buckets."""
    docs = load_table(spark, sf_dir, "documents")
    n = F.size(F.split(F.trim(F.col("text")), "\\s+"))
    lens = docs.select(
        F.when(F.length(F.trim("text")) == 0, F.lit(0)).otherwise(n).alias("len")
    )
    cap = (
        F.when(F.col("len") <= 64, 64)
        .when(F.col("len") <= 128, 128)
        .when(F.col("len") <= 256, 256)
        .when(F.col("len") <= 512, 512)
        .when(F.col("len") <= 1024, 1024)
        .otherwise(2048)
    )
    return (
        lens.select(cap.alias("bucket_cap"), "len")
        .groupBy("bucket_cap")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("len").alias("token_sum"),
            F.sum(F.least(F.col("len"), F.col("bucket_cap")).cast("long")).alias(
                "tokens_kept"
            ),
            F.sum(
                F.greatest(F.col("len") - F.col("bucket_cap"), F.lit(0)).cast(
                    "long"
                )
            ).alias("trunc_loss"),
        )
        .select(
            "bucket_cap",
            "n_docs",
            "token_sum",
            "tokens_kept",
            "trunc_loss",
            (F.col("n_docs") * F.col("bucket_cap")).cast("long").alias("padded"),
            F.expr(
                "(tokens_kept * 1000000L) div (n_docs * bucket_cap)"
            ).alias("eff_ppm"),
        )
        .orderBy("bucket_cap")
    )


_Q262_SQL = r"""
WITH lens AS (
  SELECT CASE WHEN length(trim(text)) = 0 THEN 0
              ELSE len(string_split_regex(trim(text), '\s+')) END AS len
  FROM documents
), b AS (
  SELECT CASE WHEN len <= 64 THEN 64
              WHEN len <= 128 THEN 128
              WHEN len <= 256 THEN 256
              WHEN len <= 512 THEN 512
              WHEN len <= 1024 THEN 1024
              ELSE 2048 END AS bucket_cap,
         len
  FROM lens
)
SELECT bucket_cap,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(len) AS BIGINT) AS token_sum,
       CAST(sum(least(len, bucket_cap)) AS BIGINT) AS tokens_kept,
       CAST(sum(greatest(len - bucket_cap, 0)) AS BIGINT) AS trunc_loss,
       CAST(count(*) * bucket_cap AS BIGINT) AS padded,
       CAST((sum(least(len, bucket_cap)) * 1000000)
            // (count(*) * bucket_cap) AS BIGINT) AS eff_ppm
FROM b
GROUP BY bucket_cap
ORDER BY bucket_cap
"""


def q277_temperature_mixing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled language sampling weights (α = 0.5, the
    mT5/XLM-R-style smoothing w_l ∝ p_l^α) over per-language token
    mass — the mixing-table op that decides how hard low-resource
    languages get upsampled in a multilingual training run (the
    α-smoothed upgrade of q85's fixed epoch mixture).

    α is fixed at 0.5 because sqrt is IEEE correctly-rounded in BOTH
    engines (pow(x, 0.3) is not, and its last-bit drift would break
    the floor) — sw_nano = floor(sqrt(tokens)·1e9) is deterministic,
    and every ratio after that is nonnegative BIGINT division
    (quantize-pre-sum across the <=5 language rows).

    Shape at 100 TB: one narrow size(split) scan, one groupBy into
    language rows, a 1-row total broadcast."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "lang",
        F.when(F.length(F.trim("text")) == 0, F.lit(0))
        .otherwise(F.size(F.split(F.trim("text"), "\\s+")))
        .cast("long")
        .alias("tk"),
    )
    per = toks.groupBy("lang").agg(F.sum("tk").alias("tokens")).select(
        "lang",
        "tokens",
        F.expr(
            "CAST(floor(sqrt(CAST(tokens AS DOUBLE)) * 1.0e9) AS BIGINT)"
        ).alias("sw_nano"),
    )
    tot = per.agg(
        F.sum("tokens").alias("total"), F.sum("sw_nano").alias("sw_total")
    )
    return (
        per.crossJoin(F.broadcast(tot))
        .select(
            "lang",
            "tokens",
            F.expr("(tokens * 1000000L) div total").alias("p_ppm"),
            F.expr("(sw_nano * 1000000L) div sw_total").alias("w_ppm"),
            F.expr(
                "(((sw_nano * 1000000L) div sw_total) * total * 1000L)"
                " div (1000000L * tokens)"
            ).alias("boost_milli"),
        )
        .orderBy("lang")
    )


_Q277_SQL = r"""
WITH toks AS (
  SELECT lang,
         CAST(CASE WHEN length(trim(text)) = 0 THEN 0
              ELSE len(string_split_regex(trim(text), '\s+')) END AS BIGINT)
           AS tk
  FROM documents
), per AS (
  SELECT lang, CAST(sum(tk) AS BIGINT) AS tokens,
         CAST(floor(sqrt(CAST(sum(tk) AS DOUBLE)) * 1.0e9) AS BIGINT)
           AS sw_nano
  FROM toks GROUP BY lang
), tot AS (
  SELECT CAST(sum(tokens) AS BIGINT) AS total,
         CAST(sum(sw_nano) AS BIGINT) AS sw_total
  FROM per
)
SELECT lang, tokens,
       CAST((tokens * 1000000) // total AS BIGINT) AS p_ppm,
       CAST((sw_nano * 1000000) // sw_total AS BIGINT) AS w_ppm,
       CAST((((sw_nano * 1000000) // sw_total) * total * 1000)
            // (1000000 * tokens) AS BIGINT) AS boost_milli
FROM per CROSS JOIN tot
ORDER BY lang
"""


def q278_fim_transform(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fill-in-the-middle (FIM) training-example construction: split
    every document's token stream at two hash-deterministic cut points
    and emit the PSM (prefix-suffix-middle) reordering — the code/infill
    pretraining transform, exactly reproducible because the cuts come
    from the engine-portable md5 slice (operators/dedup._h32), not an
    RNG. Docs under 3 tokens pass through unmasked (fim_applied=false).

    Cut rule (identical in both engines and the pytest mirror):
    c1 = 1 + h(doc:a) % (n−2) prefix tokens, middle length
    m = 1 + h(doc:b) % (n−1−c1), suffix the non-empty remainder.

    Shape at 100 TB: a pure per-row projection — no shuffle, no joins;
    the sort is only for the bounded 50-row sample this query returns
    (the operator itself is the projection)."""
    docs = load_table(spark, sf_dir, "documents")
    h = (
        "conv(substr(md5(concat(CAST(doc_id AS STRING), ':{salt}')), 1, 8),"
        " 16, 10)"
    )
    out = docs.select(
        "doc_id",
        F.expr("split(text, ' ')").alias("arr"),
    ).select(
        "doc_id",
        F.expr("size(arr)").alias("n_tokens"),
        F.expr(
            "CASE WHEN size(arr) >= 3 THEN"
            f" CAST(1 + {h.format(salt='a')} % (size(arr) - 2) AS INT)"
            " ELSE 0 END"
        ).alias("c1"),
        "arr",
    ).select(
        "doc_id",
        "n_tokens",
        "c1",
        F.expr(
            "CASE WHEN n_tokens >= 3 THEN"
            f" CAST(1 + {h.format(salt='b')} % (n_tokens - 1 - c1) AS INT)"
            " ELSE 0 END"
        ).alias("m"),
        "arr",
    ).select(
        "doc_id",
        "n_tokens",
        "c1",
        "m",
        (F.col("n_tokens") >= 3).alias("fim_applied"),
        F.expr(
            "CASE WHEN n_tokens >= 3 THEN"
            " concat('<PRE> ', array_join(slice(arr, 1, c1), ' '),"
            "        ' <SUF> ', array_join(slice(arr, c1 + m + 1,"
            "                              n_tokens - c1 - m), ' '),"
            "        ' <MID> ', array_join(slice(arr, c1 + 1, m), ' '))"
            " ELSE array_join(arr, ' ') END"
        ).alias("fim_text"),
    )
    return out.orderBy("doc_id").limit(50)


_Q278_SQL = """
WITH base AS (
  SELECT doc_id, string_split(text, ' ') AS arr FROM documents
), c1s AS (
  SELECT doc_id, arr, CAST(len(arr) AS BIGINT) AS n_tokens,
         CASE WHEN len(arr) >= 3 THEN
           CAST(1 + ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':a'),
                     1, 8))::BIGINT % (len(arr) - 2) AS INTEGER)
         ELSE 0 END AS c1
  FROM base
), cuts AS (
  SELECT doc_id, arr, n_tokens, c1,
         CASE WHEN n_tokens >= 3 THEN
           CAST(1 + ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':b'),
                     1, 8))::BIGINT % (n_tokens - 1 - c1) AS INTEGER)
         ELSE 0 END AS m
  FROM c1s
)
SELECT doc_id, n_tokens, c1, m,
       n_tokens >= 3 AS fim_applied,
       CASE WHEN n_tokens >= 3 THEN
         '<PRE> '
         || array_to_string(list_transform(range(1, c1 + 1),
                                           i -> arr[i]), ' ')
         || ' <SUF> '
         || array_to_string(list_transform(range(c1 + m + 1, n_tokens + 1),
                                           i -> arr[i]), ' ')
         || ' <MID> '
         || array_to_string(list_transform(range(c1 + 1, c1 + m + 1),
                                           i -> arr[i]), ' ')
       ELSE array_to_string(arr, ' ') END AS fim_text
FROM cuts
ORDER BY doc_id
LIMIT 50
"""


def q279_span_corruption(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T5-style span corruption: mask up to 3 hash-deterministic
    3-token spans per document with <extra_id_K> sentinels and emit the
    (input, target) pair — the denoising-pretraining transform, exactly
    reproducible (md5-slice cuts, no RNG) and therefore oracle-checked
    value-for-value.

    Span rule (identical in both engines and the pytest mirror): 3
    candidate starts s_k = 1 + h(doc:sk) % (n−2), sorted ascending,
    greedily accepted when they don't overlap a previously accepted
    span (s > prev + 2). Docs under 12 tokens pass through
    (applied=false). Targets append the final <extra_id_N> terminator.

    Shape at 100 TB: a pure per-row projection over array HOFs — zero
    shuffle; only the bounded 50-row sample here sorts."""
    docs = load_table(spark, sf_dir, "documents")
    h = (
        "conv(substr(md5(concat(CAST(doc_id AS STRING), ':s{k}')), 1, 8),"
        " 16, 10)"
    )
    cand = docs.select(
        "doc_id",
        F.expr("split(text, ' ')").alias("arr"),
        F.col("text"),
    ).select(
        "doc_id",
        "arr",
        "text",
        F.expr("size(arr)").alias("n"),
        F.expr(
            "CASE WHEN size(arr) >= 12 THEN array_sort(array("
            + ", ".join(
                f"CAST(1 + {h.format(k=k)} % (size(arr) - 2) AS INT)"
                for k in range(3)
            )
            + ")) ELSE CAST(array() AS array<int>) END"
        ).alias("cand"),
    )
    acc = cand.select(
        "doc_id",
        "arr",
        "text",
        "n",
        F.expr(
            "CASE WHEN n >= 12 THEN filter(array("
            " element_at(cand, 1),"
            " IF(element_at(cand, 2) > element_at(cand, 1) + 2,"
            "    element_at(cand, 2), NULL),"
            " IF(element_at(cand, 3) > greatest(element_at(cand, 1),"
            "      IF(element_at(cand, 2) > element_at(cand, 1) + 2,"
            "         element_at(cand, 2), element_at(cand, 1))) + 2,"
            "    element_at(cand, 3), NULL)"
            "), x -> x IS NOT NULL) ELSE CAST(array() AS array<int>) END"
        ).alias("spans"),
    )
    return (
        acc.select(
            "doc_id",
            F.col("n").alias("n_tokens"),
            F.expr("size(spans)").alias("n_spans"),
            (F.col("n") >= 12).alias("applied"),
            F.expr(
                "CASE WHEN n >= 12 THEN"
                " array_join(filter(transform(sequence(1, n), i ->"
                "  CASE WHEN array_contains(spans, i) THEN"
                "    concat('<extra_id_',"
                "           CAST(array_position(spans, i) - 1 AS STRING), '>')"
                "  WHEN exists(spans, s -> i > s AND i <= s + 2) THEN NULL"
                "  ELSE element_at(arr, i) END), x -> x IS NOT NULL), ' ')"
                " ELSE text END"
            ).alias("input_text"),
            F.expr(
                "CASE WHEN n >= 12 THEN"
                " concat(array_join(transform(sequence(1, size(spans)), k ->"
                "   concat('<extra_id_', CAST(k - 1 AS STRING), '> ',"
                "          array_join(slice(arr, element_at(spans, k), 3),"
                "                     ' '))), ' '),"
                "  ' <extra_id_', CAST(size(spans) AS STRING), '>')"
                " ELSE '' END"
            ).alias("target_text"),
        )
        .orderBy("doc_id")
        .limit(50)
    )


_Q279_SQL = """
WITH base AS (
  SELECT doc_id, text, string_split(text, ' ') AS arr,
         CAST(len(string_split(text, ' ')) AS BIGINT) AS n
  FROM documents
), cand AS (
  SELECT doc_id, text, arr, n,
         CASE WHEN n >= 12 THEN list_sort([
           CAST(1 + ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':s0'),
                     1, 8))::BIGINT % (n - 2) AS INTEGER),
           CAST(1 + ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':s1'),
                     1, 8))::BIGINT % (n - 2) AS INTEGER),
           CAST(1 + ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':s2'),
                     1, 8))::BIGINT % (n - 2) AS INTEGER)])
         ELSE CAST([] AS INTEGER[]) END AS cand
  FROM base
), acc AS (
  SELECT doc_id, text, arr, n,
         CASE WHEN n >= 12 THEN list_filter([
           cand[1],
           CASE WHEN cand[2] > cand[1] + 2 THEN cand[2] END,
           CASE WHEN cand[3] > greatest(cand[1],
                  CASE WHEN cand[2] > cand[1] + 2 THEN cand[2]
                       ELSE cand[1] END) + 2
                THEN cand[3] END
         ], x -> x IS NOT NULL) ELSE CAST([] AS INTEGER[]) END AS spans
  FROM cand
)
SELECT doc_id, n AS n_tokens,
       CAST(len(spans) AS BIGINT) AS n_spans,
       n >= 12 AS applied,
       CASE WHEN n >= 12 THEN
         array_to_string(list_filter(list_transform(range(1, n + 1), i ->
           CASE WHEN list_contains(spans, i) THEN
             '<extra_id_' || CAST(list_position(spans, i) - 1 AS VARCHAR)
             || '>'
           WHEN len(list_filter(spans, s -> i > s AND i <= s + 2)) > 0
             THEN NULL
           ELSE arr[i] END), x -> x IS NOT NULL), ' ')
       ELSE text END AS input_text,
       CASE WHEN n >= 12 THEN
         array_to_string(list_transform(range(1, len(spans) + 1), k ->
           '<extra_id_' || CAST(k - 1 AS VARCHAR) || '> '
           || array_to_string(list_transform(
                range(spans[k], spans[k] + 3), i -> arr[i]), ' ')), ' ')
         || ' <extra_id_' || CAST(len(spans) AS VARCHAR) || '>'
       ELSE '' END AS target_text
FROM acc
ORDER BY doc_id
LIMIT 50
"""


def q309_ks_two_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kolmogorov-Smirnov two-sample test on document length (src0 vs
    src1) — the distribution-level drift test completing the pairwise
    suite: Mann-Whitney (q187) ranks locations, Cliff's delta (q269)
    sizes dominance, KS detects ANY CDF difference (shape, spread,
    tails).

    Exactness: on the merged length count table, the statistic's
    numerator D_num = max_v |F₁(v)·n₁n₂ − F₂(v)·n₁n₂| =
    max |cum₁·n₂ − cum₂·n₁| is an exact integer off two cumulative
    windows (no float CDFs); D_ppm divides in the wide type and the
    asymptotic λ = D·√(n₁n₂/(n₁+n₂)) is one double chain.

    Magnitude audit: cum·n products ~ N² wrap BIGINT at N ≈ 3e9 docs —
    they run in DECIMAL(38,0)/HUGEINT and D_num is emitted as a STRING
    (q78/q233 rule).

    Shape at 100 TB: two pushed source filters → grouped counts over
    the bounded length domain, two windows there, a 1-row max."""
    docs = load_table(spark, sf_dir, "documents")
    base = docs.filter(F.col("source").isin("src0", "src1")).select(
        "source", F.col("n_chars").cast("long").alias("v")
    )
    c1 = base.filter(F.col("source") == "src0").groupBy("v").agg(
        F.count("*").alias("c1")
    )
    c2 = base.filter(F.col("source") == "src1").groupBy("v").agg(
        F.count("*").alias("c2")
    )
    dom = (
        c1.select("v")
        .unionByName(c2.select("v"))
        .distinct()
        .join(c1, "v", "left")
        .join(c2, "v", "left")
        .select(
            "v",
            F.coalesce("c1", F.lit(0)).alias("c1"),
            F.coalesce("c2", F.lit(0)).alias("c2"),
        )
    )
    w = W.orderBy("v").rowsBetween(W.unboundedPreceding, 0)
    cum = dom.select(
        F.sum("c1").over(w).alias("f1"),
        F.sum("c2").over(w).alias("f2"),
    )
    tot = base.groupBy().pivot("source", ["src0", "src1"]).count().select(
        F.col("src0").alias("n1"), F.col("src1").alias("n2")
    )
    dmax = cum.crossJoin(F.broadcast(tot)).agg(
        F.max(
            F.expr(
                "abs(CAST(f1 AS DECIMAL(38,0)) * n2"
                " - CAST(f2 AS DECIMAL(38,0)) * n1)"
            )
        ).alias("d_num"),
        F.first("n1").alias("n1"),
        F.first("n2").alias("n2"),
    )
    lam = (
        "(CAST(d_num AS DOUBLE) / (CAST(n1 AS DOUBLE) * n2))"
        " * sqrt(CAST(n1 AS DOUBLE) * n2 / (CAST(n1 AS DOUBLE) + n2))"
    )
    return dmax.select(
        "n1",
        "n2",
        F.expr("CAST(d_num AS STRING)").alias("d_num"),
        F.expr(
            "CAST((d_num * 1000000) div (CAST(n1 AS DECIMAL(38,0)) * n2)"
            " AS BIGINT)"
        ).alias("d_ppm"),
        F.round(F.expr(lam), 4).alias("ks_lambda"),
    )


_Q309_SQL = """
WITH base AS (
  SELECT source, CAST(n_chars AS BIGINT) AS v FROM documents
  WHERE source IN ('src0', 'src1')
), c1 AS (
  SELECT v, CAST(count(*) AS BIGINT) AS c1 FROM base
  WHERE source = 'src0' GROUP BY v
), c2 AS (
  SELECT v, CAST(count(*) AS BIGINT) AS c2 FROM base
  WHERE source = 'src1' GROUP BY v
), dom AS (
  SELECT d.v, coalesce(c1.c1, 0) AS c1, coalesce(c2.c2, 0) AS c2
  FROM (SELECT DISTINCT v FROM (SELECT v FROM c1 UNION ALL SELECT v FROM c2)) d
  LEFT JOIN c1 ON c1.v = d.v
  LEFT JOIN c2 ON c2.v = d.v
), cum AS (
  SELECT sum(c1) OVER (ORDER BY v
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS f1,
         sum(c2) OVER (ORDER BY v
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS f2
  FROM dom
), tot AS (
  SELECT CAST(sum(CASE WHEN source = 'src0' THEN 1 ELSE 0 END) AS BIGINT)
           AS n1,
         CAST(sum(CASE WHEN source = 'src1' THEN 1 ELSE 0 END) AS BIGINT)
           AS n2
  FROM base
), dmax AS (
  SELECT CAST(max(abs(CAST(f1 AS HUGEINT) * n2
                      - CAST(f2 AS HUGEINT) * n1)) AS HUGEINT) AS d_num,
         CAST(max(n1) AS BIGINT) AS n1,
         CAST(max(n2) AS BIGINT) AS n2
  FROM cum CROSS JOIN tot
)
SELECT n1, n2,
       CAST(d_num AS VARCHAR) AS d_num,
       CAST((d_num * 1000000) // (CAST(n1 AS HUGEINT) * n2) AS BIGINT)
         AS d_ppm,
       round((CAST(d_num AS DOUBLE) / (CAST(n1 AS DOUBLE) * n2))
             * sqrt(CAST(n1 AS DOUBLE) * n2 / (CAST(n1 AS DOUBLE) + n2)), 4)
         AS ks_lambda
FROM dmax
"""


def q384_token_water_filling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Water-filling token-budget allocation across sources: given a
    global budget B = half the corpus's total tokens, give every
    source min(its tokens, λ) where the common level λ is the
    largest integer with Σ min(tokens, λ) ≤ B — the max-min-fair
    corpus mix a multi-source training run uses when one source
    dwarfs the rest (per-source quotas q71 cap COUNTS at a fixed k;
    the q85 epoch mixture applies GIVEN weights; this DERIVES the
    fair allocation from the budget).

    Exactness: FULLY integer. Sources sort ascending by exact
    (whitespace-token count, source); with prefix sums P_i and
    remaining counts, rank j is 'fully fitting' iff
    P_j + t_j·(n−j) ≤ B (everyone later could also take t_j); λ =
    (B − P_j*) div (n − j*) for the LARGEST fitting j* (0 if none),
    so Σ allocated ≤ B with the div remainder reported as leftover.
    B ≥ total tokens degenerates to every source uncapped.

    Shape at 100 TB: one corpus token-count collapse to ≤|sources|
    rows; every window runs on that bounded relation; the budget is
    a broadcast 1-row aggregate."""
    docs = load_table(spark, sf_dir, "documents")
    src = (
        docs.select(
            "source",
            F.expr(
                r"size(filter(split(text, '\\s+'), x -> x != ''))"
            ).alias("toks"),
        )
        .groupBy("source")
        .agg(F.sum("toks").cast("long").alias("t"))
    )
    tot = src.agg(
        F.count("*").cast("long").alias("n"),
        F.sum("t").cast("long").alias("total_tokens"),
        F.expr("CAST(sum(t) div 2 AS BIGINT)").alias("b"),
    )
    ranked = src.crossJoin(F.broadcast(tot)).select(
        "source", "t", "n", "total_tokens", "b",
        F.row_number().over(W.orderBy("t", "source")).alias("rk"),
    )
    w_cum = W.orderBy("t", "source").rowsBetween(W.unboundedPreceding, 0)
    pre = ranked.withColumn("p", F.sum("t").over(w_cum)).withColumn(
        "fits", F.expr("p + t * (n - rk) <= b")
    )
    jstar = pre.agg(
        F.max(F.when(F.col("fits"), F.col("rk")).otherwise(0))
        .cast("long").alias("js"),
        F.max(F.when(F.col("fits"), F.col("p")).otherwise(0))
        .cast("long").alias("pjs"),
    )
    lam = jstar.crossJoin(
        F.broadcast(tot.select("n", "b"))
    ).select(
        "js",
        F.expr(
            "CASE WHEN js >= n THEN NULL"
            " ELSE (b - pjs) div (n - js) END"
        ).alias("lam"),
    )
    return (
        pre.crossJoin(F.broadcast(lam))
        .select(
            "source",
            F.col("t").alias("n_tokens"),
            F.expr(
                "CASE WHEN lam IS NULL OR t <= lam THEN t ELSE lam END"
            ).cast("long").alias("allocated"),
            F.expr("lam IS NOT NULL AND t > lam").alias("capped"),
        )
        .orderBy("source")
    )


_Q384_SQL = r"""
WITH src AS (
  SELECT source,
         CAST(sum(len(list_filter(string_split_regex(text, '\s+'),
                                  x -> x <> ''))) AS BIGINT) AS t
  FROM documents
  GROUP BY source
), tot AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(sum(t) AS BIGINT) AS total_tokens,
         CAST(sum(t) // 2 AS BIGINT) AS b
  FROM src
), ranked AS (
  SELECT source, t, n, b,
         row_number() OVER (ORDER BY t, source) AS rk,
         sum(t) OVER (ORDER BY t, source
                      ROWS BETWEEN UNBOUNDED PRECEDING
                      AND CURRENT ROW) AS p
  FROM src CROSS JOIN tot
), pre AS (
  SELECT *, p + t * (n - rk) <= b AS fits FROM ranked
), jstar AS (
  SELECT CAST(max(CASE WHEN fits THEN rk ELSE 0 END) AS BIGINT) AS js,
         CAST(max(CASE WHEN fits THEN p ELSE 0 END) AS BIGINT) AS pjs
  FROM pre
), lam AS (
  SELECT js,
         CASE WHEN js >= (SELECT n FROM tot) THEN NULL
              ELSE ((SELECT b FROM tot) - pjs)
                   // ((SELECT n FROM tot) - js) END AS lam
  FROM jstar
)
SELECT source, t AS n_tokens,
       CAST(CASE WHEN lam IS NULL OR t <= lam THEN t ELSE lam END
            AS BIGINT) AS allocated,
       lam IS NOT NULL AND t > lam AS capped
FROM pre CROSS JOIN lam
ORDER BY source
"""


def q387_largest_remainder_apportionment(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Largest-remainder (Hamilton) apportionment of a fixed sample
    budget across sources: exactly N = 1000 sample slots split
    proportionally to source document counts — floor shares first,
    then the R leftover slots go to the largest fractional remainders
    (ties on remainder break to the lexicographically-first source).
    This is the EXACT-total counterpart of rate-based stratified
    sampling (q47 keeps ~rate·n per stratum, q384 levels a token
    budget): when the downstream contract is "exactly N rows, source
    mix as close to proportional as arithmetic allows", Hamilton is
    the standard answer (and Σ allocated = N by construction — no
    rounding drift).

    Exactness: FULLY integer. Quota numerators q_s = n_s·N; floor
    share = q_s div T; remainder = q_s mod T (the cleared-denominator
    fractional part); R = N − Σ floors; the top-R remainder ranks
    (rank by (remainder DESC, source), exact ordering) get +1. No
    float anywhere.

    Shape at 100 TB: the corpus collapses to ≤|sources| counts; all
    windows run on that bounded relation with a broadcast 1-row
    total."""
    n_slots = 1000
    docs = load_table(spark, sf_dir, "documents")
    src = docs.groupBy("source").agg(
        F.count("*").cast("long").alias("n_docs")
    )
    tot = src.agg(F.sum("n_docs").cast("long").alias("t"))
    based = src.crossJoin(F.broadcast(tot)).select(
        "source",
        "n_docs",
        "t",
        F.expr(f"(n_docs * {n_slots}) div t").alias("fl"),
        F.expr(f"(n_docs * {n_slots}) % t").alias("rem"),
    )
    r_rel = based.agg(
        (F.lit(n_slots) - F.sum("fl")).cast("long").alias("r")
    )
    ranked = based.crossJoin(F.broadcast(r_rel)).withColumn(
        "rk",
        F.row_number().over(W.orderBy(F.col("rem").desc(), "source")),
    )
    return ranked.select(
        "source",
        "n_docs",
        (
            F.col("fl") + F.when(F.col("rk") <= F.col("r"), 1).otherwise(0)
        ).cast("long").alias("allocated"),
        (F.col("rk") <= F.col("r")).alias("got_remainder_slot"),
    ).orderBy("source")


_Q387_SQL = """
WITH src AS (
  SELECT source, CAST(count(*) AS BIGINT) AS n_docs
  FROM documents GROUP BY source
), tot AS (
  SELECT CAST(sum(n_docs) AS BIGINT) AS t FROM src
), based AS (
  SELECT source, n_docs, t,
         (n_docs * 1000) // t AS fl,
         (n_docs * 1000) % t AS rem
  FROM src CROSS JOIN tot
), rrel AS (
  SELECT CAST(1000 - sum(fl) AS BIGINT) AS r FROM based
), ranked AS (
  SELECT b.*, r.r,
         row_number() OVER (ORDER BY b.rem DESC, b.source) AS rk
  FROM based b CROSS JOIN rrel r
)
SELECT source, n_docs,
       CAST(fl + CASE WHEN rk <= r THEN 1 ELSE 0 END AS BIGINT)
         AS allocated,
       rk <= r AS got_remainder_slot
FROM ranked
ORDER BY source
"""
