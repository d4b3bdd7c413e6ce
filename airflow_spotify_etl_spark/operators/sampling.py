"""Deterministic corpus sampling (north star: corpus mixing at 100 TB).

Training-data pipelines weight sources/languages by DOWN-SAMPLING strata to
target rates (e.g. C4's language mixing, The Pile's per-source epochs).
Doing it with ``df.sample`` would be non-reproducible across runs and
cluster layouts; hashing the row key instead gives:

- determinism: the same doc is kept or dropped on every run, any cluster —
  corpus builds become content-addressed and diffable;
- no shuffle: the filter is a narrow projection (hash + compare), fully
  whole-stage-codegen, pushed right against the scan;
- composability: different ``salt`` values draw independent samples
  (train/heldout splits that provably never overlap at the same salt).

The hash is the engine-portable md5 slice (operators/dedup._h32), so the
sampling decision is value-checkable by the DuckDB oracle (plans/llm/sampling.py
q47) — same argument as the MinHash family.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from .dedup import _h32
from .text import _tokens

__all__ = [
    "stratified_sample",
    "weighted_sample",
    "quota_sample",
    "epoch_mixture",
    "token_budget_select",
    "exact_k_sample",
    "weighted_exact_k_sample",
    "dsir_log_weights",
    "contrastive_negatives",
]

_BUCKETS = 10_000


def stratified_sample(
    df: DataFrame,
    rates: dict[str, float],
    strata_col: str = "lang",
    id_col: str = "doc_id",
    salt: str = "smp",
    default_rate: float = 1.0,
) -> DataFrame:
    """Keep each row iff hash(salt‖id) mod 10000 < rate[stratum]·10000.

    ``rates`` maps stratum value → keep fraction in [0, 1]; strata not
    listed keep ``default_rate``. Adds a ``bucket`` column (the hash slot)
    so downstream can re-derive sub-samples without rehashing."""
    bucket = F.pmod(
        _h32(F.concat(F.lit(salt), F.col(id_col).cast("string"))), F.lit(_BUCKETS)
    )
    rate = None
    for stratum, r in sorted(rates.items()):
        cond = F.col(strata_col) == stratum
        thr = F.lit(int(r * _BUCKETS))
        rate = F.when(cond, thr) if rate is None else rate.when(cond, thr)
    threshold = (
        rate.otherwise(F.lit(int(default_rate * _BUCKETS)))
        if rate is not None
        else F.lit(int(default_rate * _BUCKETS))
    )
    return df.withColumn("bucket", bucket).filter(F.col("bucket") < threshold)


def weighted_sample(
    df: DataFrame,
    weight_col,
    id_col: str = "doc_id",
    salt: str = "wsmp",
) -> DataFrame:
    """Per-row weighted Bernoulli sampling: keep iff hash-bucket < w·10000.

    ``weight_col`` is a Column (or name) of keep-probabilities; values are
    clamped to [0, 1] and quantized to integer thresholds (floor(w·10000))
    so the comparison is integer-vs-integer — no float-comparison boundary
    hazard between engines. The decision is a narrow codegen projection
    (md5 + compare) with no shuffle, and deterministic per (salt, id):
    re-running the corpus build keeps exactly the same rows. This is the
    quality-weighted downsampling step LLM curation pipelines run after
    scoring (keep high-quality docs with probability ∝ score) — same shape
    as DCLM/CCNet reweighting, expressed engine-portably."""
    w = weight_col if not isinstance(weight_col, str) else F.col(weight_col)
    bucket = F.pmod(
        _h32(F.concat(F.lit(salt), F.col(id_col).cast("string"))), F.lit(_BUCKETS)
    )
    thr = F.floor(
        F.least(F.lit(1.0), F.greatest(F.lit(0.0), w.cast("double"))) * _BUCKETS
    ).cast("long")
    return (
        df.withColumn("bucket", bucket)
        .withColumn("keep_threshold", thr)
        .filter(F.col("bucket") < F.col("keep_threshold"))
    )


def quota_sample(
    df: DataFrame,
    k: int,
    strata_col: str = "source",
    id_col: str = "doc_id",
    salt: str = "quota",
) -> DataFrame:
    """Exactly min(k, |stratum|) rows per stratum, chosen by deterministic
    hash order (rank column ``rn`` ∈ 1..k). The fixed-budget counterpart
    of rate-based `stratified_sample`.

    The rank itself needs a per-stratum window — a shuffle keyed on
    ``strata_col``. Catalyst plans the ``row_number() <= k`` filter as a
    Partial WindowGroupLimit below that exchange (for k up to
    ``spark.sql.optimizer.windowGroupLimitThreshold``, 1000 by default):
    each task keeps only its k smallest hashes per stratum (the global
    top-k is a subset of the union of per-partition top-ks, so this is
    EXACT), shrinking the shuffle from |df| rows to ≤ k · strata ·
    partitions — inside the JVM, with no Python worker."""
    h = _h32(F.concat(F.lit(salt), F.col(id_col).cast("string")))
    rn = F.row_number().over(W.partitionBy(strata_col).orderBy("h", id_col))
    return (
        df.select(id_col, strata_col)
        .withColumn("h", h)
        .withColumn("rn", rn)
        .filter(F.col("rn") <= k)
        .select(id_col, strata_col, "rn")
    )


def epoch_mixture(
    df: DataFrame,
    weights: dict[str, float],
    strata_col: str = "source",
    id_col: str = "doc_id",
    salt: str = "epoch",
    default_weight: float = 1.0,
) -> DataFrame:
    """Source-weighted corpus mixing with FRACTIONAL epochs (the
    Pile/DoReMi shape): each stratum's docs are emitted ``w`` times, where
    non-integer ``w`` means every doc appears floor(w) times and a
    deterministic hash(salt‖id)-chosen fraction of docs appears once more
    (w < 1 is plain down-sampling). Adds an ``epoch`` column (1..n) per
    emitted copy.

    The repeat count is a narrow projection (CASE over strata + integer
    hash compare — quantized thresholds, no float boundary hazard) and the
    emission is an explode of ``sequence(1, n)``: zero shuffle, linear in
    OUTPUT rows. Content-addressed like the other sampling ops: the same
    doc gets the same epoch count on every run, any cluster."""
    wexpr = None
    for stratum, wt in sorted(weights.items()):
        cond = F.col(strata_col) == stratum
        wexpr = F.when(cond, float(wt)) if wexpr is None else wexpr.when(cond, float(wt))
    w = (
        wexpr.otherwise(float(default_weight))
        if wexpr is not None
        else F.lit(float(default_weight))
    )
    base = F.floor(w).cast("int")
    frac_thr = F.floor((w - F.floor(w)) * _BUCKETS).cast("long")
    h = F.pmod(
        _h32(F.concat(F.lit(salt), F.col(id_col).cast("string"))), F.lit(_BUCKETS)
    )
    n_rep = base + (h < frac_thr).cast("int")
    seq = F.when(n_rep >= 1, F.sequence(F.lit(1), n_rep)).otherwise(
        F.array().cast("array<int>")
    )
    return df.withColumn("epoch", F.explode(seq))


def token_budget_select(
    df: DataFrame,
    budget: int,
    tokens_col: str = "n_tokens",
    score_col: str = "quality_score",
    id_col: str = "doc_id",
) -> DataFrame:
    """Greedy selection under a token budget: take docs in (score DESC,
    id) order while the running token total stays ≤ ``budget`` — the
    data-selection step of quality-ranked corpus curation (highest-value
    tokens first until the training budget is full).

    The running total is a DISTRIBUTED prefix sum, not a global-window
    cumsum: ``Window.orderBy`` with no partition key would drag the whole
    corpus through ONE partition — the canonical 100 TB anti-pattern.
    Instead: range-repartition by the sort key (so partition i's keys all
    precede partition i+1's), cumsum WITHIN each partition, then add each
    partition's offset = sum of all earlier partitions' totals (a
    #partitions-sized relation — the only single-partition window runs
    over THAT, which is bounded by cluster width, not data). Ties cannot
    straddle a partition boundary because ``id_col`` makes the sort key
    total. Gated by tests/test_plan_quality.py: no SinglePartition
    exchange feeds a Window over the data relation."""
    sort_cols = [F.col(score_col).desc(), F.col(id_col)]
    ranged = (
        df.repartitionByRange(*sort_cols)
        .withColumn("_pid", F.spark_partition_id())
        # Pin the pid assignment: both the cumsum branch and the offsets
        # branch read it, and a re-evaluated range exchange must not be
        # able to disagree between them.
        .localCheckpoint(eager=False)
    )
    w_local = (
        W.partitionBy("_pid")
        .orderBy(*sort_cols)
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    local = ranged.withColumn(
        "_cum_local", F.sum(F.col(tokens_col).cast("long")).over(w_local)
    )
    w_off = W.orderBy("_pid").rowsBetween(W.unboundedPreceding, -1)
    offsets = (
        ranged.groupBy("_pid")
        .agg(F.sum(F.col(tokens_col).cast("long")).alias("_ptotal"))
        .withColumn("_off", F.coalesce(F.sum("_ptotal").over(w_off), F.lit(0)))
        .select("_pid", "_off")
    )
    cum = (F.col("_cum_local") + F.col("_off")).alias("cum_tokens")
    return (
        local.join(F.broadcast(offsets), "_pid")
        .withColumn("cum_tokens", cum)
        .filter(F.col("cum_tokens") <= budget)
        .drop("_pid", "_cum_local", "_off")
    )


def exact_k_sample(
    df: DataFrame, k: int, id_col: str = "doc_id", salt: str = "ek"
) -> DataFrame:
    """Exact-size-k deterministic uniform sample: the k rows with the
    smallest engine-portable md5-slice hash of (salt ‖ id). Rate-based
    sampling (stratified_sample) can only hit a TARGET size in
    expectation; this hits it exactly — the "give me exactly 100k eval
    docs" ask.

    ORDER BY hash LIMIT k plans as TakeOrderedAndProject: per-partition
    top-k heaps + one final merge of ≤ #partitions·k rows — no global
    sort, no full-data exchange (plan-gated, tests/test_plan_quality.py),
    so it scales to 100 TB as a single narrow pass. Prefix-stable: the
    k-sample is a prefix of the k'-sample for k < k' at the same salt, so
    growing a sample never resamples what was already drawn. Different
    salts draw independent samples. Adds the hash as column ``h``."""
    h = _h32(F.concat(F.lit(salt), F.col(id_col).cast("string")))
    return df.withColumn("h", h).orderBy("h", F.col(id_col)).limit(k)


def weighted_exact_k_sample(
    df: DataFrame,
    k: int,
    weight_col,
    id_col: str = "doc_id",
    salt: str = "wek",
) -> DataFrame:
    """Exact-size-k WEIGHTED sampling without replacement — the
    Efraimidis–Spirakis A-ES scheme (Inf. Process. Lett. 97(5), 2006):
    each row draws u ∈ (0, 1] and competes with key u^(1/w); the k
    largest keys are a weighted-without-replacement sample. Rate-based
    `weighted_sample` hits its size only in expectation and samples WITH
    independent Bernoulli draws; this nails the budget exactly with
    inclusion probability ∝ weight.

    Determinized like every sampler here: u = (h32(salt‖id) + 1) / 2^32 —
    content-addressed, reproducible on any cluster, and replayable by the
    DuckDB oracle (plans/llm/misc.py q99). Rows with weight ≤ 0 or NULL never
    compete. ORDER BY key LIMIT k plans as TakeOrderedAndProject
    (per-partition heaps, no global sort, no exchange — the q94 shape),
    so the 100 TB weighted draw is one narrow pass. pow() is IEEE-double
    on both engines; a rank flip would need two keys within 1 ulp —
    continuous-weight measure zero (the q56 float-discipline argument)."""
    w = weight_col if not isinstance(weight_col, str) else F.col(weight_col)
    wd = w.cast("double")
    u = (_h32(F.concat(F.lit(salt), F.col(id_col).cast("string"))) + F.lit(1)) / F.lit(
        float(2**32)
    )
    key = F.pow(u, F.lit(1.0) / wd)
    return (
        df.filter(wd > 0)
        .withColumn("es_key", key)
        .orderBy(F.col("es_key").desc(), F.col(id_col))
        .limit(k)
    )


def dsir_log_weights(
    raw: DataFrame,
    target: DataFrame,
    n_buckets: int = 1024,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """DSIR importance weights (Xie et al., "Data Selection for Language
    Models via Importance Resampling", NeurIPS 2023): score every raw-pool
    doc by how target-like it is under hashed unigram bag-of-words models,

        log w(doc) = Σ_tokens [ log p_target(b(tok)) − log p_raw(b(tok)) ]

    with b = a hash into ``n_buckets`` features and both models add-1
    smoothed over the bucket space. Downstream, Gumbel-top-k over these
    log-weights IS importance resampling — `weighted_exact_k_sample`
    composes directly (its A-ES key on exp(log w) is that draw).

    Scale shape (the reason DSIR beats classifier-scoring at 100 TB): the
    two feature models are ONE grouped count each over a bounded key space
    (≤ n_buckets rows — the target pool is typically small anyway), then
    broadcast back into the raw token stream for a per-doc sum. Bucketing
    is the engine-portable md5 slice mod n_buckets, fully
    whole-stage-codegen, so the model fit AND the scoring pass are both
    value-checkable by the DuckDB oracle (plans/llm/sampling.py q102). No Python
    seam: the original uses numpy feature vectors per doc; the hashed
    model makes it three grouped aggregates.

    Returns (doc_id, n_tokens, log_weight) for every raw doc; a doc with
    no tokens scores 0."""
    import math

    nb = int(n_buckets)

    def toks(df: DataFrame) -> DataFrame:
        t = df.select(
            F.col(id_col).alias("doc_id"),
            F.explode(_tokens(F.col(text_col))).alias("tok"),
        )
        return t.withColumn("b", _h32(F.col("tok")) % nb)

    raw_t, tgt_t = toks(raw), toks(target)

    def model(t: DataFrame) -> DataFrame:
        counts = t.groupBy("b").agg(F.count("*").alias("c"))
        total = t.count()
        # add-1 smoothing over the FULL bucket space: absent buckets get
        # c=0 at score time via the coalesce below; the denominator is
        # total + n_buckets on both sides either way.
        return counts.select(
            "b", F.log((F.col("c") + 1) / F.lit(float(total + nb))).alias("logp")
        ), float(total + nb)

    raw_m, raw_denom = model(raw_t)
    tgt_m, tgt_denom = model(tgt_t)
    mdl = (
        raw_m.withColumnRenamed("logp", "logp_raw")
        .join(tgt_m, "b", "full_outer")
        .select(
            "b",
            F.coalesce("logp_raw", F.lit(-math.log(raw_denom))).alias("logp_raw"),
            F.coalesce("logp", F.lit(-math.log(tgt_denom))).alias("logp_tgt"),
        )
    )
    scored = raw_t.join(F.broadcast(mdl), "b").groupBy("doc_id").agg(
        F.count("*").alias("n_tokens"),
        F.round(F.sum(F.col("logp_tgt") - F.col("logp_raw")), 4).alias("log_weight"),
    )
    return (
        raw.select(F.col(id_col).alias("doc_id"))
        .join(scored, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_tokens", F.lit(0)).alias("n_tokens"),
            F.coalesce("log_weight", F.lit(0.0)).alias("log_weight"),
        )
        .orderBy("doc_id")
    )


def contrastive_negatives(
    df: DataFrame,
    id_col: str = "doc_id",
    k: int = 4,
    seed: str = "neg0",
) -> DataFrame:
    """Deterministic negative-pair mining for contrastive training: each
    document gets ``k`` pseudo-random partner documents, reproducibly
    (same seed → same pairs), with no self-pairs and no corpus
    cross-join anywhere.

    Shape: the corpus is first given a dense position index 0..N-1 (the
    ``epoch_shuffle`` distributed md5 rank — one bucket-partitioned
    window, no global sort). Negative j of the doc at position p is the
    doc at position ``(p + 1 + h(seed, id, j) mod (N-1)) mod N`` — the
    +1 ring offset makes self-selection IMPOSSIBLE by arithmetic (not
    by rejection-resampling, which would need a data-dependent retry
    loop), and h is the engine-portable md5-slice hash, so every pair
    replays exactly in the SQL oracle (q120). The partner attach is ONE
    equi-join on the dense integer position — k·N narrow rows against
    the N-row index, co-partitioned at scale, nothing quadratic.

    N rides in as a broadcast 1-row aggregate (the scalar-crossJoin
    house pattern); degenerate N=1 corpora return no pairs (there is
    nobody else to pair with)."""
    from .dedup import _h32
    from .layout import epoch_shuffle

    idx = epoch_shuffle(df, id_col=id_col, seed=seed + ":idx").select(
        F.col(id_col), F.col("global_pos").alias("pos")
    )
    # N comes from the INPUT, not from idx: epoch_shuffle is
    # row-preserving, so the counts are identical, but counting idx
    # would drag a third full rank-pipeline computation (window +
    # broadcast-offsets join) into the plan just to produce one scalar.
    n_rel = df.agg(F.count("*").alias("n_total"))
    cand = (
        idx.crossJoin(F.broadcast(n_rel))
        .filter(F.col("n_total") >= 2)
        .select(
            id_col,
            "pos",
            "n_total",
            F.explode(F.sequence(F.lit(1), F.lit(int(k)))).alias("neg_rank"),
        )
        .withColumn(
            "_h",
            _h32(
                F.concat(
                    F.lit(str(seed) + ":"),
                    F.col(id_col).cast("string"),
                    F.lit(":"),
                    F.col("neg_rank").cast("string"),
                )
            ),
        )
        .withColumn(
            "neg_pos",
            F.pmod(
                F.col("pos") + 1 + F.pmod("_h", F.col("n_total") - 1),
                F.col("n_total"),
            ),
        )
    )
    partners = idx.select(
        F.col("pos").alias("neg_pos"), F.col(id_col).alias("neg_" + id_col)
    )
    return cand.join(partners, "neg_pos").select(
        id_col, "neg_rank", "neg_" + id_col
    )
