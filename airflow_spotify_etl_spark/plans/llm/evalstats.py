"""Mechanically split from plans/llm.py (round 9) — segment contents are verbatim; see package __init__."""


from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from ...sources.files import load_table
from .sampling import (
    _Q309_SQL,
    q309_ks_two_sample,
)
from .text import (
    _Q104_SQL,
    _Q58_SQL,
    q58_gopher_quality_flags,
)


def q123_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity audit over the documents table's quasi-identifiers
    (lang, source, length bucket) — the governance check a release
    pipeline runs before publishing: per equivalence class, its size;
    flagged when below k=5 (those rows are re-identifiable by their
    quasi-identifier combination alone and need suppression or
    generalization). One grouped count on a bounded composite key plus
    a 1-row summary join giving the table's anonymity level (the min
    class size — the k the release actually provides). All integers;
    the audit replays exactly in SQL.

    At 100 TB this is one map-side-combinable count on a low-cardinality
    key — audit cost is scan-bound, and the flagged classes (the only
    rows a human reviews) are bounded by the QI space, not the data."""
    docs = load_table(spark, sf_dir, "documents")
    qi = docs.select(
        "lang",
        "source",
        (F.floor(F.col("n_chars") / 100) * 100).alias("len_bucket"),
    )
    classes = qi.groupBy("lang", "source", "len_bucket").agg(
        F.count("*").alias("class_size")
    )
    level = classes.agg(F.min("class_size").alias("anonymity_level"))
    return (
        classes.crossJoin(F.broadcast(level))
        .select(
            "lang",
            "source",
            "len_bucket",
            "class_size",
            (F.col("class_size") < 5).alias("below_k"),
            "anonymity_level",
        )
        .orderBy("lang", "source", "len_bucket")
    )


_Q123_SQL = """
WITH classes AS (
  SELECT lang, source,
         CAST(floor(n_chars / 100) * 100 AS BIGINT) AS len_bucket,
         count(*) AS class_size
  FROM documents GROUP BY 1, 2, 3
), level AS (
  SELECT min(class_size) AS anonymity_level FROM classes
)
SELECT lang, source, len_bucket, class_size,
       (class_size < 5) AS below_k, anonymity_level
FROM classes CROSS JOIN level
ORDER BY lang, source, len_bucket
"""


def q143_classifier_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Operating-point selection for the quality classifier: sweep the
    q104 score threshold and measure precision/recall against the q58
    heuristic gate as pseudo-labels — exactly how production pipelines
    calibrate a learned filter against the rule-based one before
    swapping it in (DCLM/CCNet practice). Thresholding happens on the
    ROUNDED score both engines share, counts are exact integers, and
    the P/R columns are guarded rounded divisions. One line per
    threshold — the table you pick the knee from."""
    from ...operators.text import hashed_linear_score

    docs = load_table(spark, sf_dir, "documents", parallelize=True)
    scores = hashed_linear_score(docs, n_buckets=4096).select(
        "doc_id", "score"
    )
    labels = q58_gopher_quality_flags(spark, sf_dir).select(
        "doc_id", "keep"
    )
    j = scores.join(labels, "doc_id")
    th = F.explode(
        F.array(*[F.lit(x) for x in (0.3, 0.4, 0.5, 0.6, 0.7)])
    ).alias("threshold")
    e = j.select("score", "keep", th)
    pred = F.col("score") >= F.col("threshold")
    agg = e.groupBy("threshold").agg(
        F.sum(F.when(pred & F.col("keep"), 1).otherwise(0)).alias("tp"),
        F.sum(F.when(pred & ~F.col("keep"), 1).otherwise(0)).alias("fp"),
        F.sum(F.when(~pred & F.col("keep"), 1).otherwise(0)).alias("fn"),
        F.sum(F.when(~pred & ~F.col("keep"), 1).otherwise(0)).alias("tn"),
    )
    prec = F.when(
        F.col("tp") + F.col("fp") > 0,
        F.round(
            F.col("tp").cast("double") / (F.col("tp") + F.col("fp")), 4
        ),
    )
    rec = F.when(
        F.col("tp") + F.col("fn") > 0,
        F.round(
            F.col("tp").cast("double") / (F.col("tp") + F.col("fn")), 4
        ),
    )
    return agg.select(
        "threshold", "tp", "fp", "fn", "tn",
        prec.alias("precision"), rec.alias("recall"),
    ).orderBy("threshold")


def _q143_sql() -> str:
    return f"""
WITH scores AS (
  SELECT doc_id, score FROM ({_Q104_SQL}) s
), labels AS (
  SELECT doc_id, keep FROM ({_Q58_SQL}) l
), e AS (
  SELECT s.score, l.keep, t.threshold
  FROM scores s
  JOIN labels l USING (doc_id)
  CROSS JOIN (SELECT unnest([0.3, 0.4, 0.5, 0.6, 0.7]) AS threshold) t
), agg AS (
  SELECT threshold,
         CAST(sum(CASE WHEN score >= threshold AND keep THEN 1 ELSE 0 END)
              AS BIGINT) AS tp,
         CAST(sum(CASE WHEN score >= threshold AND NOT keep THEN 1 ELSE 0 END)
              AS BIGINT) AS fp,
         CAST(sum(CASE WHEN score < threshold AND keep THEN 1 ELSE 0 END)
              AS BIGINT) AS fn,
         CAST(sum(CASE WHEN score < threshold AND NOT keep THEN 1 ELSE 0 END)
              AS BIGINT) AS tn
  FROM e GROUP BY threshold
)
SELECT threshold, tp, fp, fn, tn,
       CASE WHEN tp + fp > 0
            THEN round(CAST(tp AS DOUBLE) / (tp + fp), 4) END AS precision,
       CASE WHEN tp + fn > 0
            THEN round(CAST(tp AS DOUBLE) / (tp + fn), 4) END AS recall
FROM agg
ORDER BY threshold
"""


def q164_partition_layout_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partition-layout / compaction-planner audit for a hypothetical
    ``PARTITIONED BY (source, lang)`` corpus write — the small-files
    check run before (or after) a big ingest: per partition, rows and
    exact text bytes, the file count a 64 MB target would produce, and
    the two planner flags (``needs_compaction`` — data present but
    under one target file; ``needs_split`` — more than 8 target files,
    so the partition key is too coarse / skewed and wants a sub-key or
    salt). Flags are integer comparisons on exact byte sums; the only
    float is the rounded avg-doc-bytes division.

    Scale shape: ONE grouped aggregate over the scan to |source×lang|
    rows — this audit never touches the data again; it reads the same
    numbers a real writer's commit stats would carry."""
    target = 64 * 1024 * 1024
    docs = load_table(spark, sf_dir, "documents")
    per = docs.groupBy("source", "lang").agg(
        F.count("*").alias("n_rows"),
        F.sum(F.octet_length("text").cast("long")).alias("text_bytes"),
    )
    files = F.ceil(F.col("text_bytes") / F.lit(float(target))).cast("long")
    return (
        per.select(
            "source",
            "lang",
            "n_rows",
            "text_bytes",
            files.alias("target_files"),
            F.when(
                F.col("n_rows") > 0,
                F.round(
                    F.col("text_bytes").cast("double") / F.col("n_rows"), 2
                ),
            ).alias("avg_doc_bytes"),
            ((F.col("text_bytes") > 0) & (F.col("text_bytes") < target)).alias(
                "needs_compaction"
            ),
            (files > 8).alias("needs_split"),
        )
        .orderBy("source", "lang")
    )


_Q164_SQL = """
WITH per AS (
  SELECT source, lang, count(*) AS n_rows,
         CAST(sum(octet_length(ENCODE(text))) AS BIGINT) AS text_bytes
  FROM documents GROUP BY source, lang
)
SELECT source, lang, n_rows, text_bytes,
       CAST(ceil(text_bytes / 67108864.0) AS BIGINT) AS target_files,
       CASE WHEN n_rows > 0
            THEN round(CAST(text_bytes AS DOUBLE) / n_rows, 2) END
         AS avg_doc_bytes,
       text_bytes > 0 AND text_bytes < 67108864 AS needs_compaction,
       CAST(ceil(text_bytes / 67108864.0) AS BIGINT) > 8 AS needs_split
FROM per
ORDER BY source, lang
"""


def q172_reliability_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calibration (reliability-diagram) table for the quality
    classifier: q104 scores binned into deciles, each bin's mean score
    against the empirical keep-rate of the q58 pseudo-labels — the
    companion to q143's threshold sweep (that picks an operating point;
    this shows whether the scores MEAN anything as probabilities, the
    ECE ingredient). Discipline: the shared rounded score becomes an
    exact integer (round(score·10⁴)) ONCE; the bin is integer division
    of that integer (no float binning at the decile boundaries) and the
    bin's mean score is the single rounded division of the exact
    integer sum — a raw float mean would be aggregation-order-dependent."""
    from ...operators.text import hashed_linear_score

    docs = load_table(spark, sf_dir, "documents")
    scores = hashed_linear_score(docs, n_buckets=4096).select("doc_id", "score")
    labels = q58_gopher_quality_flags(spark, sf_dir).select("doc_id", "keep")
    si = F.expr("CAST(round(score * 10000) AS BIGINT)")
    j = (
        scores.join(labels, "doc_id")
        .select(si.alias("si"), "keep")
        .select(
            F.least(F.greatest(F.expr("si div 1000"), F.lit(0)), F.lit(9))
            .cast("int")
            .alias("bin"),
            "si",
            "keep",
        )
    )
    return (
        j.groupBy("bin")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("keep").cast("long")).alias("n_keep"),
            F.sum("si").alias("_ssum"),
        )
        .select(
            "bin",
            "n",
            "n_keep",
            F.round(
                F.col("_ssum").cast("double") / (F.col("n") * F.lit(10000)),
                4,
            ).alias("mean_score"),
            F.round(F.col("n_keep").cast("double") / F.col("n"), 4).alias(
                "keep_rate"
            ),
        )
        .orderBy("bin")
    )


def _q172_sql() -> str:
    return f"""
WITH scores AS (
  SELECT doc_id, score FROM ({_Q104_SQL}) s
), labels AS (
  SELECT doc_id, keep FROM ({_Q58_SQL}) l
), e AS (
  SELECT CAST(round(s.score * 10000) AS BIGINT) AS si, l.keep
  FROM scores s JOIN labels l USING (doc_id)
), b AS (
  SELECT CAST(least(greatest(si // 1000, 0), 9) AS INTEGER) AS bin, si, keep
  FROM e
)
SELECT bin, count(*) AS n,
       CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_keep,
       round(CAST(sum(si) AS BIGINT) / CAST(count(*) * 10000 AS DOUBLE), 4)
         AS mean_score,
       round(CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT)
             / CAST(count(*) AS DOUBLE), 4) AS keep_rate
FROM b
GROUP BY bin
ORDER BY bin
"""


def q192_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population Stability Index per source — is a source's length
    distribution drifting away from the corpus mix? 10 equal-width bins
    over the global [min,max] (the q68 broadcast-min/max grid, full
    source×bin grid so zero bins are real terms), Laplace-smoothed
    shares (cnt+1)/(n+10) so empty bins stay defined, and the PSI term
    (p_a−p_e)·ln(p_a/p_e) evaluated as ONE identical float chain over
    exact integer counts on both engines — then QUANTIZED to integer
    micro-units per bin before the cross-bin sum (the q122 rule: never
    sum raw doubles across rows; sum their rounded integer images,
    which is order-independent). ln is the one libm call — round-6
    before the cast makes a cross-engine ulp flip a measure-zero event,
    same accepted risk as the q111 1/ln scoring. Scale: one corpus scan
    for the histogram, a |sources|×10 grid, zero shuffles beyond the
    two grouped counts. psi_micro ≥ 100000 (PSI > 0.1) flags the
    conventional 'shifting' threshold."""
    docs = load_table(spark, sf_dir, "documents")
    mm = docs.agg(F.min("n_chars").alias("lo"), F.max("n_chars").alias("hi"))
    binned = docs.crossJoin(F.broadcast(mm)).select(
        "source",
        F.when(F.col("hi") == F.col("lo"), F.lit(0))
        .otherwise(
            F.least(F.lit(9), F.expr("(n_chars - lo) * 10 div (hi - lo)"))
        )
        .cast("int")
        .alias("bin"),
    )
    actual = binned.groupBy("source", "bin").agg(F.count("*").alias("a"))
    expected = binned.groupBy("bin").agg(F.count("*").alias("g"))
    n_src = binned.groupBy("source").agg(F.count("*").alias("ns"))
    n_tot = binned.agg(F.count("*").alias("nt"))
    grid = (
        n_src.crossJoin(F.broadcast(expected))
        .join(actual, ["source", "bin"], "left")
        .withColumn("a", F.coalesce("a", F.lit(0)))
        .crossJoin(F.broadcast(n_tot))
    )
    pa = "(cast(a + 1 as double) / cast(ns + 10 as double))"
    pe = "(cast(g + 1 as double) / cast(nt + 10 as double))"
    contrib = (
        f"cast(round(({pa} - {pe}) * ln({pa} / {pe}) * 1e6) as bigint)"
    )
    per_src = grid.groupBy("source").agg(
        F.max("ns").alias("n_docs"),
        F.sum(F.expr(contrib)).alias("psi_micro"),
    )
    return per_src.select(
        "source", "n_docs", "psi_micro",
        (F.col("psi_micro") >= 100000).alias("shifting"),
    ).orderBy("source")


_Q192_SQL = """
WITH mm AS (
  SELECT min(n_chars) AS lo, max(n_chars) AS hi FROM documents
), binned AS (
  SELECT source,
         CAST(CASE WHEN hi = lo THEN 0
              ELSE least(9, (n_chars - lo) * 10 // (hi - lo)) END
           AS INTEGER) AS bin
  FROM documents CROSS JOIN mm
), actual AS (
  SELECT source, bin, CAST(count(*) AS BIGINT) AS a
  FROM binned GROUP BY source, bin
), expected AS (
  SELECT bin, CAST(count(*) AS BIGINT) AS g FROM binned GROUP BY bin
), n_src AS (
  SELECT source, CAST(count(*) AS BIGINT) AS ns FROM binned GROUP BY source
), n_tot AS (
  SELECT CAST(count(*) AS BIGINT) AS nt FROM binned
), grid AS (
  SELECT n_src.source, n_src.ns, expected.bin, expected.g,
         coalesce(actual.a, 0) AS a, n_tot.nt
  FROM n_src
  CROSS JOIN expected
  LEFT JOIN actual ON actual.source = n_src.source AND actual.bin = expected.bin
  CROSS JOIN n_tot
), terms AS (
  SELECT source, ns,
         CAST(round(((CAST(a + 1 AS DOUBLE) / CAST(ns + 10 AS DOUBLE))
                     - (CAST(g + 1 AS DOUBLE) / CAST(nt + 10 AS DOUBLE)))
                    * ln((CAST(a + 1 AS DOUBLE) / CAST(ns + 10 AS DOUBLE))
                         / (CAST(g + 1 AS DOUBLE) / CAST(nt + 10 AS DOUBLE)))
                    * 1e6) AS BIGINT) AS c
  FROM grid
)
SELECT source, max(ns) AS n_docs,
       CAST(sum(c) AS BIGINT) AS psi_micro,
       CAST(sum(c) AS BIGINT) >= 100000 AS shifting
FROM terms
GROUP BY source
ORDER BY source
"""


def q211_js_source_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jensen-Shannon divergence of each SOURCE's unigram distribution
    from the corpus distribution — the nonparametric drift dial for a
    pretraining mix (PSI q192 bins a scalar; this covers the whole
    vocabulary). The key scale trick: tokens ABSENT from a source
    contribute exactly 0.5·ln2·q_t, and Σq_t over them is
    (N − Σ_present g_t)/N — an INTEGER-sum closed form — so the query
    needs only an inner token join on the source's own vocabulary,
    never a per-source sweep of the full corpus vocabulary (which
    would be |sources|×|vocab|). Per-token terms are one identical
    float chain over exact integer counts, quantized to pico-nats
    before the cross-token sum (q122/q192/q200 rule); ln is the
    accepted libm seam. JS is bounded by ln2 so js_micro ≤ 693147."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        F.col("source"),
        F.explode(F.split(F.lower("text"), "\\s+")).alias("tok"),
    ).filter(F.col("tok") != "")
    cnt = toks.groupBy("source", "tok").agg(F.count("*").alias("c"))
    glob = cnt.groupBy("tok").agg(F.sum("c").alias("g"))
    ns = cnt.groupBy("source").agg(F.sum("c").alias("n"))
    ntot = glob.agg(F.sum("g").alias("nt"))
    p = "(cast(c as double) / cast(n as double))"
    q = "(cast(g as double) / cast(nt as double))"
    term = (
        f"cast(round((0.5 * {p} * ln(2 * {p} / ({p} + {q}))"
        f" + 0.5 * {q} * ln(2 * {q} / ({p} + {q}))) * 1e12) as bigint)"
    )
    per_src = (
        cnt.join(glob, "tok")
        .join(ns, "source")
        .crossJoin(F.broadcast(ntot))
        .groupBy("source")
        .agg(
            F.max("n").alias("n_tokens"),
            F.count("*").alias("vocab"),
            F.sum(F.expr(term)).alias("present_pico"),
            F.sum("g").alias("qnum"),
            F.max("nt").alias("nt"),
        )
    )
    tail = (
        "cast(round(0.5 * ln(2.0) * cast(nt - qnum as double)"
        " / cast(nt as double) * 1e12) as bigint)"
    )
    return per_src.select(
        "source", "n_tokens", "vocab",
        (F.col("present_pico") + F.expr(tail)).alias("js_pico"),
    ).select(
        "source", "n_tokens", "vocab", "js_pico",
        F.expr("js_pico div 1000000").alias("js_micro"),
    ).orderBy("source")


_Q211_SQL = r"""
WITH toks AS (
  SELECT source, tok FROM (
    SELECT source, unnest(string_split_regex(lower(text), '\s+')) AS tok
    FROM documents
  ) WHERE tok <> ''
), cnt AS (
  SELECT source, tok, CAST(count(*) AS BIGINT) AS c
  FROM toks GROUP BY source, tok
), gtok AS (
  SELECT tok, CAST(sum(c) AS BIGINT) AS g FROM cnt GROUP BY tok
), ns AS (
  SELECT source, CAST(sum(c) AS BIGINT) AS n FROM cnt GROUP BY source
), ntot AS (
  SELECT CAST(sum(g) AS BIGINT) AS nt FROM gtok
), per_src AS (
  SELECT cnt.source,
         max(n) AS n_tokens,
         CAST(count(*) AS BIGINT) AS vocab,
         CAST(sum(CAST(round((0.5 * (CAST(c AS DOUBLE) / CAST(n AS DOUBLE))
               * ln(2 * (CAST(c AS DOUBLE) / CAST(n AS DOUBLE))
                    / ((CAST(c AS DOUBLE) / CAST(n AS DOUBLE))
                       + (CAST(g AS DOUBLE) / CAST(nt AS DOUBLE))))
             + 0.5 * (CAST(g AS DOUBLE) / CAST(nt AS DOUBLE))
               * ln(2 * (CAST(g AS DOUBLE) / CAST(nt AS DOUBLE))
                    / ((CAST(c AS DOUBLE) / CAST(n AS DOUBLE))
                       + (CAST(g AS DOUBLE) / CAST(nt AS DOUBLE)))))
             * 1e12) AS BIGINT)) AS BIGINT) AS present_pico,
         CAST(sum(g) AS BIGINT) AS qnum,
         max(nt) AS nt
  FROM cnt
  JOIN gtok ON cnt.tok = gtok.tok
  JOIN ns ON cnt.source = ns.source
  CROSS JOIN ntot
  GROUP BY cnt.source
)
SELECT source, n_tokens, vocab,
       present_pico + CAST(round(0.5 * ln(2.0)
         * CAST(nt - qnum AS DOUBLE) / CAST(nt AS DOUBLE) * 1e12)
         AS BIGINT) AS js_pico,
       (present_pico + CAST(round(0.5 * ln(2.0)
         * CAST(nt - qnum AS DOUBLE) / CAST(nt AS DOUBLE) * 1e12)
         AS BIGINT)) // 1000000 AS js_micro
FROM per_src
ORDER BY source
"""


def q252_jackknife_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delete-one-GROUP jackknife for the corpus mean document length —
    the survey-statistics workhorse for clustered data (docs within a
    source are correlated, so the naive iid SE is too small; q251's
    bootstrap resamples rows, this resamples SOURCES). Each
    leave-source-out mean is the exact micro quotient
    (S − s_g)·10⁶ div (N − n_g); the jackknife variance
    (g−1)/g · Σ (m̂_(g) − m̄)² runs on micro-integers (one grouped
    collapse to g rows, 1-row totals broadcast), and only the final
    sqrt touches a double. Degenerate g < 2 or a source holding all
    docs → NULL. Output: one row per source with its leave-out mean
    and influence, plus the global jackknife SE repeated (the
    per-source grain is the deliverable — which source moves the
    corpus statistic most)."""
    docs = load_table(spark, sf_dir, "documents")
    g = docs.groupBy("source").agg(
        F.count("*").alias("n_g"),
        F.sum(F.expr("cast(n_chars as decimal(19,0))")).alias("s_g"),
    )
    tot = g.agg(
        F.count("*").alias("k"),
        F.sum("n_g").alias("n"),
        F.sum("s_g").alias("s"),
    )
    loo = g.crossJoin(F.broadcast(tot)).select(
        "source", "n_g", "k", "n",
        F.expr(
            "case when n > n_g then"
            " cast((s - s_g) * 1000000 div (n - n_g) as bigint) end"
        ).alias("loo_mean_micro"),
        F.expr("cast(s * 1000000 div n as bigint)").alias("mean_micro"),
    )
    jk = loo.agg(
        F.sum(
            F.expr("cast(loo_mean_micro as decimal(19,0))")
        ).alias("sum_loo"),
        F.count("*").alias("kk"),
    ).select(
        F.expr("cast(sum_loo div kk as bigint)").alias("loo_bar_micro")
    )
    dev = loo.crossJoin(F.broadcast(jk)).select(
        "source", "n_g", "k", "loo_mean_micro", "mean_micro",
        "loo_bar_micro",
        F.expr(
            "(loo_mean_micro - mean_micro)"
        ).alias("influence_micro"),
        F.expr(
            "cast(loo_mean_micro - loo_bar_micro as decimal(19,0))"
            " * (loo_mean_micro - loo_bar_micro)"
        ).alias("d2"),
    )
    var = dev.agg(F.sum("d2").alias("ssq"), F.max("k").alias("k")).select(
        "k",
        F.expr(
            "case when k > 1 then round(sqrt(cast(cast(ssq * (k - 1)"
            " div k as bigint) as double)) / 1e6, 4) end"
        ).alias("jackknife_se"),
    )
    return (
        dev.select(
            "source", "n_g", "loo_mean_micro", "mean_micro",
            "influence_micro",
        )
        .crossJoin(F.broadcast(var.select("jackknife_se")))
        .orderBy("source")
    )


_Q252_SQL = """
WITH g AS (
  SELECT source, CAST(count(*) AS BIGINT) AS n_g,
         CAST(sum(CAST(n_chars AS HUGEINT)) AS HUGEINT) AS s_g
  FROM documents GROUP BY source
), tot AS (
  SELECT CAST(count(*) AS BIGINT) AS k,
         CAST(sum(n_g) AS BIGINT) AS n,
         CAST(sum(s_g) AS HUGEINT) AS s
  FROM g
), loo AS (
  SELECT source, n_g, k, n,
         CAST(CASE WHEN n > n_g THEN
              (s - s_g) * 1000000 // (n - n_g) END AS BIGINT)
           AS loo_mean_micro,
         CAST(s * 1000000 // n AS BIGINT) AS mean_micro
  FROM g CROSS JOIN tot
), jk AS (
  SELECT CAST(sum(CAST(loo_mean_micro AS HUGEINT))
              // count(*) AS BIGINT) AS loo_bar_micro
  FROM loo
), dev AS (
  SELECT source, n_g, k, loo_mean_micro, mean_micro,
         loo_mean_micro - mean_micro AS influence_micro,
         CAST(loo_mean_micro - loo_bar_micro AS HUGEINT)
           * (loo_mean_micro - loo_bar_micro) AS d2
  FROM loo CROSS JOIN jk
), var AS (
  SELECT max(k) AS k,
         CASE WHEN max(k) > 1 THEN
           round(sqrt(CAST(CAST(sum(d2) * (max(k) - 1) // max(k)
                 AS BIGINT) AS DOUBLE)) / 1e6, 4) END AS jackknife_se
  FROM dev
)
SELECT source, n_g, loo_mean_micro, mean_micro, influence_micro,
       jackknife_se
FROM dev CROSS JOIN var
ORDER BY source
"""


def q260_isotonic_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Isotonic (PAV) calibration of the q104 quality-classifier scores
    against the q58 keep pseudo-labels: the monotone-nondecreasing fit
    of per-decile keep rates via the exact minimax identity
    iso_i = max_{j<=i} min_{k>=i} rate(j..k) — what turns raw
    classifier scores into usable keep-probabilities (the fit q172's
    reliability diagram motivates).

    Exactness: interval rates are floored to BIGINT nanos via integer
    division (keep_sum·1e9 div n_sum), so every min/max comparison is
    over exact integers and the fixed-point resolution IS the operator
    definition — both engines and the planted Python mirror share it.

    Shape at 100 TB: corpus-size work is the one q172-style grouped
    pass into <=10 decile bins; the O(B^3) interval/minimax stages run
    on a 10-row bounded relation (broadcast joins only)."""
    from ...operators.text import hashed_linear_score

    docs = load_table(spark, sf_dir, "documents")
    scores = hashed_linear_score(docs, n_buckets=4096).select("doc_id", "score")
    labels = q58_gopher_quality_flags(spark, sf_dir).select("doc_id", "keep")
    si = F.expr("CAST(round(score * 10000) AS BIGINT)")
    bins = (
        scores.join(labels, "doc_id")
        .select(si.alias("si"), "keep")
        .select(
            F.least(F.greatest(F.expr("si div 1000"), F.lit(0)), F.lit(9))
            .cast("int")
            .alias("bin"),
            "keep",
        )
        .groupBy("bin")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("keep").cast("long")).alias("n_keep"),
        )
        .localCheckpoint(eager=True)
    )
    j = bins.select(F.col("bin").alias("j"))
    k = bins.select(F.col("bin").alias("k"))
    m = bins.select(F.col("bin").alias("m"), "n", "n_keep")
    rates = (
        j.join(F.broadcast(k), F.col("j") <= F.col("k"))
        .join(
            F.broadcast(m),
            (F.col("m") >= F.col("j")) & (F.col("m") <= F.col("k")),
        )
        .groupBy("j", "k")
        .agg(
            F.expr("(sum(n_keep) * 1000000000L) div sum(n)").alias("r_nano")
        )
    )
    i = bins.select(F.col("bin").alias("i"))
    inner = (
        rates.join(
            F.broadcast(i),
            (F.col("k") >= F.col("i")) & (F.col("j") <= F.col("i")),
        )
        .groupBy("i", "j")
        .agg(F.min("r_nano").alias("mn"))
    )
    iso = inner.groupBy("i").agg(F.max("mn").alias("iso_nano"))
    return (
        bins.join(iso, bins.bin == iso.i)
        .select(
            "bin",
            "n",
            "n_keep",
            F.round(F.col("n_keep").cast("double") / F.col("n"), 4).alias(
                "raw_rate"
            ),
            "iso_nano",
            F.round(F.col("iso_nano").cast("double") / 1e9, 4).alias(
                "iso_rate"
            ),
        )
        .orderBy("bin")
    )


def _q260_sql() -> str:
    return f"""
WITH scores AS (
  SELECT doc_id, score FROM ({_Q104_SQL}) s
), labels AS (
  SELECT doc_id, keep FROM ({_Q58_SQL}) l
), e AS (
  SELECT CAST(round(s.score * 10000) AS BIGINT) AS si, l.keep
  FROM scores s JOIN labels l USING (doc_id)
), bins AS (
  SELECT CAST(least(greatest(si // 1000, 0), 9) AS INTEGER) AS bin,
         CAST(count(*) AS BIGINT) AS n,
         CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_keep
  FROM e GROUP BY 1
), rates AS (
  SELECT j.bin AS j, k.bin AS k,
         CAST((sum(m.n_keep) * 1000000000) // sum(m.n) AS BIGINT) AS r_nano
  FROM bins j
  JOIN bins k ON j.bin <= k.bin
  JOIN bins m ON m.bin BETWEEN j.bin AND k.bin
  GROUP BY 1, 2
), inner_ AS (
  SELECT i.bin AS i, r.j, min(r.r_nano) AS mn
  FROM rates r JOIN bins i ON r.k >= i.bin AND r.j <= i.bin
  GROUP BY 1, 2
), iso AS (
  SELECT i, CAST(max(mn) AS BIGINT) AS iso_nano FROM inner_ GROUP BY i
)
SELECT b.bin, b.n, b.n_keep,
       round(CAST(b.n_keep AS DOUBLE) / b.n, 4) AS raw_rate,
       iso.iso_nano,
       round(CAST(iso.iso_nano AS DOUBLE) / 1e9, 4) AS iso_rate
FROM bins b JOIN iso ON b.bin = iso.i
ORDER BY b.bin
"""


def q263_pca_power_iteration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top principal component of the embedding covariance via EXACT
    INTEGER power iteration — the anisotropy probe an embedding
    pipeline runs before whitening or dimension pruning: reports the
    top-8 loading dimensions and the explained-variance share of the
    first component.

    Distributed work is ONE pass: dims are quantized to BIGINT
    (round(x·1e4), the q179/q122 idiom) and a double-explode produces
    the 64+4096 additive cells (n, s_i = Σq_i, P_ij = Σq_i·q_j) with
    map-side combine — shuffle volume is 4096 cells per partition
    regardless of corpus size. The 64x64 eigensolve then runs
    driver-side on the collected BOUNDED sketch (the same bounded-
    collect contract as the IVF centroids): scaled covariance
    C2 = sign·(|n·P − s·s|·1e6 div max), 12 power iterations with
    integer renormalization (sign·(|w|·1e6 div max|w|)), sign fixed by
    the largest-|loading| dimension, Rayleigh share_ppm =
    (vᵀC2v·1e6) div (vᵀv·trace). Every step is integer div on
    NONNEGATIVE operands, so floor == trunc and the DuckDB oracle
    (identical unrolled CTEs) matches bit for bit. At int64-straining
    corpus sizes the P sums route through DECIMAL(38,0)/HUGEINT —
    Spark's sum already widens; only the final cells are collected."""
    emb = load_table(spark, sf_dir, "embeddings", parallelize=True)
    dims = emb.select(
        F.posexplode(
            F.expr(
                "transform(embedding,"
                " x -> CAST(round(CAST(x AS DOUBLE) * 10000) AS BIGINT))"
            )
        ).alias("i", "qi"),
        F.expr(
            "transform(embedding,"
            " x -> CAST(round(CAST(x AS DOUBLE) * 10000) AS BIGINT))"
        ).alias("qarr"),
    )
    # ONE distributed job (r12, VERDICT r11 item 6): the s_i sums, the
    # row count and the width check ride the P pass as a tagged union —
    # s rows carry j = -1, and one (-1, -2) row per embedding carries its
    # width (NULL embedding → -1), so that group's count IS n and its
    # min/max prove every row is a vector of one fixed width. Previously
    # this ran three sequential actions (count, s collect, P collect),
    # paying two extra job round-trips and re-scanning the table each
    # time. Collected volume: 1 + 64 + 4096 bounded cells.
    cells = (
        dims.select("i", F.lit(-1).alias("j"), F.col("qi").alias("val"))
        .unionAll(
            dims.select(
                "i",
                F.posexplode(
                    F.expr("transform(qarr, x -> x * qi)")
                ).alias("j", "pij"),
            ).select("i", "j", F.col("pij").alias("val"))
        )
        .unionAll(
            emb.select(
                F.lit(-1).alias("i"),
                F.lit(-2).alias("j"),
                F.coalesce(F.size("embedding"), F.lit(-1)).cast("bigint").alias("val"),
            )
        )
        .groupBy("i", "j")
        .agg(
            F.sum("val").alias("s"),
            F.count("*").alias("cnt"),
            F.min("val").alias("lo"),
            F.max("val").alias("hi"),
        )
        .collect()
    )
    width = next((r for r in cells if r.j == -2), None)
    if width is not None and (width.lo < 1 or width.lo != width.hi):
        raise ValueError(
            "q263_pca_power_iteration: every embedding must be a non-null "
            f"vector of one fixed width; widths span {width.lo}..{width.hi} "
            "(-1 = NULL)"
        )
    n = int(width.cnt) if width is not None else 0
    s = {r.i: int(r.s) for r in cells if r.j == -1}
    d = len(s)
    P = {(r.i, r.j): int(r.s) for r in cells if r.j >= 0}

    def sdiv(a: int, scale: int, m: int) -> int:
        # sign(a) * ((|a| * scale) div m): nonneg div only, floor == trunc
        return (-((-a * scale) // m)) if a < 0 else ((a * scale) // m)

    C = {
        (i, j): n * P[(i, j)] - s[i] * s[j]
        for i in range(d)
        for j in range(d)
    }
    cmax = max(abs(c) for c in C.values())
    C2 = {ij: sdiv(c, 1000000, cmax) for ij, c in C.items()} if cmax else C
    v = [1000000] * d
    for _ in range(12):
        w = [sum(C2[(i, j)] * v[j] for j in range(d)) for i in range(d)]
        m = max(abs(x) for x in w)
        v = [sdiv(x, 1000000, m) for x in w] if m else w
    p_idx = max(range(d), key=lambda i: (abs(v[i]), -i))
    if v[p_idx] < 0:
        v = [-x for x in v]
    num = max(
        sum(C2[(i, j)] * v[i] * v[j] for i in range(d) for j in range(d)), 0
    )
    den = sum(x * x for x in v)
    trace = sum(C2[(i, i)] for i in range(d))
    share_ppm = (num * 1000000) // (den * trace) if den and trace else 0
    top = sorted(range(d), key=lambda i: (-abs(v[i]), i))[:8]
    rows = [
        (rank, i, v[i], share_ppm) for rank, i in enumerate(top, 1)
    ]
    from pyspark.sql.types import (IntegerType, LongType, StructField,
                                   StructType)

    schema = StructType(
        [
            StructField("rank", IntegerType()),
            StructField("dim", IntegerType()),
            StructField("loading_micro", LongType()),
            StructField("share_ppm", LongType()),
        ]
    )
    return spark.createDataFrame(rows, schema).orderBy("rank")


def _q263_sql() -> str:
    it = []
    prev = "v0"
    for t in range(1, 13):
        it.append(
            f"""w{t} AS MATERIALIZED (
  SELECT c2.i, CAST(sum(c2.c * {prev}.v) AS BIGINT) AS w
  FROM c2 JOIN {prev} ON {prev}.i = c2.j GROUP BY c2.i
), m{t} AS MATERIALIZED (
  SELECT max(abs(w)) AS m FROM w{t}
), v{t} AS MATERIALIZED (
  SELECT i,
         CAST(CASE WHEN m = 0 THEN w
                   WHEN w < 0 THEN -(((-w) * 1000000) // m)
                   ELSE (w * 1000000) // m END AS BIGINT) AS v
  FROM w{t}, m{t}
)"""
        )
        prev = f"v{t}"
    iters = ",\n".join(it)
    return f"""
WITH dq AS MATERIALIZED (
  SELECT vec_id, dim - 1 AS i, q
  FROM (
    SELECT vec_id,
           unnest(list_transform(embedding,
                x -> CAST(round(CAST(x AS DOUBLE) * 10000) AS BIGINT))) AS q,
           generate_subscripts(embedding, 1) AS dim
    FROM embeddings
  )
), nn AS MATERIALIZED (
  SELECT count(DISTINCT vec_id) AS n FROM dq
), s AS MATERIALIZED (
  SELECT i, CAST(sum(q) AS BIGINT) AS s FROM dq GROUP BY i
), p AS MATERIALIZED (
  SELECT a.i AS i, b.i AS j, CAST(sum(a.q * b.q) AS BIGINT) AS p
  FROM dq a JOIN dq b USING (vec_id) GROUP BY 1, 2
), c AS MATERIALIZED (
  SELECT p.i, p.j, nn.n * p.p - sa.s * sb.s AS c
  FROM p
  JOIN s sa ON sa.i = p.i
  JOIN s sb ON sb.i = p.j
  CROSS JOIN nn
), cmax AS MATERIALIZED (
  SELECT max(abs(c)) AS m FROM c
), c2 AS MATERIALIZED (
  SELECT i, j,
         CAST(CASE WHEN m = 0 THEN c
                   WHEN c < 0 THEN -(((-c) * 1000000) // m)
                   ELSE (c * 1000000) // m END AS BIGINT) AS c
  FROM c, cmax
), v0 AS MATERIALIZED (
  SELECT i, CAST(1000000 AS BIGINT) AS v FROM s
),
{iters},
sfix AS (
  SELECT CASE WHEN (SELECT v FROM v12 ORDER BY abs(v) DESC, i LIMIT 1) < 0
              THEN -1 ELSE 1 END AS sgn
), vf AS MATERIALIZED (
  SELECT i, CAST(v * sgn AS BIGINT) AS v FROM v12, sfix
), ray AS (
  SELECT greatest(sum(CAST(c2.c AS HUGEINT) * va.v * vb.v), 0) AS num
  FROM c2 JOIN vf va ON va.i = c2.i JOIN vf vb ON vb.i = c2.j
), dent AS (
  SELECT (SELECT CAST(sum(CAST(v AS HUGEINT) * v) AS HUGEINT) FROM vf) AS den,
         (SELECT CAST(sum(c) AS HUGEINT) FROM c2 WHERE i = j) AS trace
), share AS (
  SELECT CAST(CASE WHEN den = 0 OR trace = 0 THEN 0
                   ELSE (num * 1000000) // (den * trace) END AS BIGINT)
           AS share_ppm
  FROM ray, dent
)
SELECT CAST(row_number() OVER (ORDER BY abs(v) DESC, i) AS INTEGER) AS rank,
       CAST(i AS INTEGER) AS dim,
       v AS loading_micro,
       share_ppm
FROM vf, share
ORDER BY abs(v) DESC, i
LIMIT 8
"""


def q265_calibration_scorecard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calibration scorecard for the q104 quality classifier vs the q58
    keep pseudo-labels: Expected Calibration Error, Maximum Calibration
    Error (10 decile bins, the q172 binning) and the Brier score — the
    three numbers a model-quality dashboard tracks per release, here as
    one exact row.

    All-integer derivations: per-bin gap |k_b·1e4 − ssum_b| makes
    ECE = Σgap·1e6 div (N·1e4) and MCE = max_b (gap_b·1e6 div
    (n_b·1e4)); Brier = Σ(si − y·1e4)²·1e6 div (N·1e8). No float ever
    sums across rows.

    Shape at 100 TB: one score+label join (both sides hash-partitioned
    corpus scans) and one grouped pass into <=10 bins; the scorecard
    reduction is a 10-row aggregate."""
    from ...operators.text import hashed_linear_score

    docs = load_table(spark, sf_dir, "documents")
    scores = hashed_linear_score(docs, n_buckets=4096).select("doc_id", "score")
    labels = q58_gopher_quality_flags(spark, sf_dir).select("doc_id", "keep")
    e = scores.join(labels, "doc_id").select(
        F.expr("CAST(round(score * 10000) AS BIGINT)").alias("si"),
        F.col("keep").cast("long").alias("y"),
    )
    binned = (
        e.select(
            F.least(F.greatest(F.expr("si div 1000"), F.lit(0)), F.lit(9))
            .cast("int")
            .alias("bin"),
            "si",
            "y",
            ((F.col("si") - F.col("y") * 10000)
             * (F.col("si") - F.col("y") * 10000)).alias("sqerr"),
        )
        .groupBy("bin")
        .agg(
            F.count("*").alias("n"),
            F.sum("y").alias("k"),
            F.sum("si").alias("ssum"),
            F.sum("sqerr").alias("sq"),
        )
        .select(
            "n",
            "sq",
            F.abs(F.col("k") * 10000 - F.col("ssum")).alias("gap"),
            F.expr(
                "(abs(k * 10000 - ssum) * 1000000L) div (n * 10000L)"
            ).alias("bin_mce_ppm"),
        )
    )
    return binned.agg(
        F.sum("n").alias("n_docs"),
        F.expr(
            "(sum(gap) * 1000000L) div (sum(n) * 10000L)"
        ).alias("ece_ppm"),
        F.max("bin_mce_ppm").alias("mce_ppm"),
        F.expr(
            "(sum(sq) * 1000000L) div (sum(n) * 100000000L)"
        ).alias("brier_ppm"),
    )


def _q265_sql() -> str:
    return f"""
WITH scores AS (
  SELECT doc_id, score FROM ({_Q104_SQL}) s
), labels AS (
  SELECT doc_id, keep FROM ({_Q58_SQL}) l
), e AS (
  SELECT CAST(round(s.score * 10000) AS BIGINT) AS si,
         CAST(CASE WHEN l.keep THEN 1 ELSE 0 END AS BIGINT) AS y
  FROM scores s JOIN labels l USING (doc_id)
), binned AS (
  SELECT CAST(least(greatest(si // 1000, 0), 9) AS INTEGER) AS bin,
         CAST(count(*) AS BIGINT) AS n,
         CAST(sum(y) AS BIGINT) AS k,
         CAST(sum(si) AS BIGINT) AS ssum,
         CAST(sum((si - y * 10000) * (si - y * 10000)) AS BIGINT) AS sq
  FROM e GROUP BY 1
)
SELECT CAST(sum(n) AS BIGINT) AS n_docs,
       CAST((sum(abs(k * 10000 - ssum)) * 1000000)
            // (sum(n) * 10000) AS BIGINT) AS ece_ppm,
       CAST(max((abs(k * 10000 - ssum) * 1000000) // (n * 10000))
            AS BIGINT) AS mce_ppm,
       CAST((sum(sq) * 1000000) // (sum(n) * 100000000) AS BIGINT)
         AS brier_ppm
FROM binned
"""


def q268_cochran_armitage_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cochran-Armitage test for a monotone trend of the q58 keep rate
    across the 10 ordered q104 score deciles — the inferential
    complement to the reliability table (q172) and the isotonic fit
    (q260): does keep-probability actually TREND with the classifier
    score, or is the calibration table noise?

    With decile weights w_i = i, the statistic uses only exact BIGINT
    moments (N, K, Σw·n, Σw·k, Σw²·n):
      z = (Σwk − K·Σwn/N) / sqrt(K(N−K)/(N(N−1)) · (Σw²n − (Σwn)²/N))
    computed as ONE deterministic double chain over those integers
    (every intermediate < 2^53) — the q248/q267 discipline.
    Magnitude audit: w ≤ 9 is domain-bounded, so Σw²·n ≤ 81·N stays
    BIGINT-safe to N ~ 1e17 docs — no DECIMAL widening needed.

    Shape at 100 TB: the q104/q58 corpus joins feed one grouped pass
    into <=10 bins; the test statistic is a 10-row reduction."""
    from ...operators.text import hashed_linear_score

    docs = load_table(spark, sf_dir, "documents")
    scores = hashed_linear_score(docs, n_buckets=4096).select("doc_id", "score")
    labels = q58_gopher_quality_flags(spark, sf_dir).select("doc_id", "keep")
    e = scores.join(labels, "doc_id").select(
        F.least(
            F.greatest(F.expr("CAST(round(score * 10000) AS BIGINT) div 1000"),
                       F.lit(0)),
            F.lit(9),
        ).alias("w"),
        F.col("keep").cast("long").alias("y"),
    )
    bins = e.groupBy("w").agg(
        F.count("*").alias("n"), F.sum("y").alias("k")
    )
    mom = bins.agg(
        F.sum("n").alias("nn"),
        F.sum("k").alias("kk"),
        F.sum(F.expr("w * n")).alias("swn"),
        F.sum(F.expr("w * k")).alias("swk"),
        F.sum(F.expr("w * w * n")).alias("swwn"),
    )
    chain = (
        "(CAST(swk AS DOUBLE) - CAST(kk AS DOUBLE) * swn / nn)"
        " / sqrt(CAST(kk AS DOUBLE) * (CAST(nn AS DOUBLE) - kk)"
        "        / (CAST(nn AS DOUBLE) * (CAST(nn AS DOUBLE) - 1.0e0))"
        "        * (CAST(swwn AS DOUBLE)"
        "           - CAST(swn AS DOUBLE) * swn / nn))"
    )
    return mom.select(
        F.col("nn").alias("n_docs"),
        F.col("kk").alias("n_keep"),
        "swn",
        "swk",
        "swwn",
        F.round(F.expr(chain), 4).alias("z_trend"),
        F.round(F.expr(f"({chain}) * ({chain})"), 4).alias("chi2_1df"),
    )


def _q268_sql() -> str:
    chain = (
        "(CAST(swk AS DOUBLE) - CAST(kk AS DOUBLE) * swn / nn)"
        " / sqrt(CAST(kk AS DOUBLE) * (CAST(nn AS DOUBLE) - kk)"
        "        / (CAST(nn AS DOUBLE) * (CAST(nn AS DOUBLE) - 1.0e0))"
        "        * (CAST(swwn AS DOUBLE)"
        "           - CAST(swn AS DOUBLE) * swn / nn))"
    )
    return f"""
WITH scores AS (
  SELECT doc_id, score FROM ({_Q104_SQL}) s
), labels AS (
  SELECT doc_id, keep FROM ({_Q58_SQL}) l
), e AS (
  SELECT least(greatest(CAST(round(s.score * 10000) AS BIGINT) // 1000, 0), 9)
           AS w,
         CAST(CASE WHEN l.keep THEN 1 ELSE 0 END AS BIGINT) AS y
  FROM scores s JOIN labels l USING (doc_id)
), bins AS (
  SELECT w, CAST(count(*) AS BIGINT) AS n, CAST(sum(y) AS BIGINT) AS k
  FROM e GROUP BY w
), mom AS (
  SELECT CAST(sum(n) AS BIGINT) AS nn,
         CAST(sum(k) AS BIGINT) AS kk,
         CAST(sum(w * n) AS BIGINT) AS swn,
         CAST(sum(w * k) AS BIGINT) AS swk,
         CAST(sum(w * w * n) AS BIGINT) AS swwn
  FROM bins
)
SELECT nn AS n_docs, kk AS n_keep, swn, swk, swwn,
       round({chain}, 4) AS z_trend,
       round(({chain}) * ({chain}), 4) AS chi2_1df
FROM mom
"""


def q269_effect_sizes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Effect-size suite for the src0-vs-src1 document-length
    comparison: Cliff's delta (the nonparametric dominance effect the
    Mann-Whitney test (q187) sizes), Cohen's d and Hedges' g — the
    practical-significance companions to the suite's p-value tests.

    Exactness: Cliff's concordance counts come from value-multiplicity
    tables — gt = Σ_v cx(v)·(#y < v) via ONE cumulative window over the
    bounded value domain (never an n1×n2 pair join); lt is derived as
    n1·n2 − gt − ties. delta_ppm is sign-split integer division (both
    engines floor NONNEGATIVE operands only). d and g are single
    deterministic double chains over exact moments.
    Magnitude audit: gt/lt/ties are PAIR counts (~n1·n2 ≈ N²/4) that
    wrap BIGINT at N ≈ 4.3e9 docs, and Σv² (v = n_chars ~1e5) wraps
    at ~1e9 docs — all four accumulate in DECIMAL(38,0) (Spark) /
    HUGEINT (DuckDB), and the pair counts are emitted as STRINGS on
    both sides (int64-overflowing values must never ride a pandas
    fetch — the q78/q233 rule).

    Shape at 100 TB: two pushed source filters, grouped counts over the
    bounded length domain, one window + one join on that domain."""
    docs = load_table(spark, sf_dir, "documents")
    base = docs.filter(F.col("source").isin("src0", "src1")).select(
        "source", F.col("n_chars").cast("long").alias("v")
    )
    cx = base.filter(F.col("source") == "src0").groupBy("v").agg(
        F.count("*").alias("cx")
    )
    cy = base.filter(F.col("source") == "src1").groupBy("v").agg(
        F.count("*").alias("cy")
    )
    dom = (
        cx.select("v")
        .unionByName(cy.select("v"))
        .distinct()
        .join(cx, "v", "left")
        .join(cy, "v", "left")
        .select(
            "v",
            F.coalesce("cx", F.lit(0)).alias("cx"),
            F.coalesce("cy", F.lit(0)).alias("cy"),
        )
    )
    w = W.orderBy("v").rowsBetween(W.unboundedPreceding, -1)
    cum = dom.select(
        "v",
        "cx",
        "cy",
        F.coalesce(F.sum("cy").over(w), F.lit(0)).alias("y_below"),
    )
    conc = cum.agg(
        F.sum(F.expr("CAST(cx AS DECIMAL(38,0)) * y_below")).alias("gt"),
        F.sum(F.expr("CAST(cx AS DECIMAL(38,0)) * cy")).alias("ties"),
    )
    mom = base.groupBy("source").agg(
        F.count("*").alias("n"),
        F.sum("v").alias("s"),
        F.sum(F.expr("CAST(v AS DECIMAL(38,0)) * v")).alias("ss"),
    )
    piv = (
        mom.groupBy()
        .pivot("source", ["src0", "src1"])
        .agg(F.first("n").alias("n"), F.first("s").alias("s"),
             F.first("ss").alias("ss"))
        .select(
            F.col("src0_n").alias("n1"), F.col("src0_s").alias("s1"),
            F.col("src0_ss").alias("ss1"),
            F.col("src1_n").alias("n2"), F.col("src1_s").alias("s2"),
            F.col("src1_ss").alias("ss2"),
        )
    )
    d_chain = (
        "(CAST(s1 AS DOUBLE) / n1 - CAST(s2 AS DOUBLE) / n2)"
        " / sqrt(((CAST(ss1 AS DOUBLE) - CAST(s1 AS DOUBLE) * s1 / n1)"
        "         + (CAST(ss2 AS DOUBLE) - CAST(s2 AS DOUBLE) * s2 / n2))"
        "        / (CAST(n1 AS DOUBLE) + n2 - 2.0e0))"
    )
    return (
        piv.crossJoin(F.broadcast(conc))
        .select(
            "n1",
            "n2",
            F.expr("CAST(gt AS STRING)").alias("gt"),
            F.expr(
                "CAST(CAST(n1 AS DECIMAL(38,0)) * n2 - gt - ties AS STRING)"
            ).alias("lt"),
            F.expr("CAST(ties AS STRING)").alias("ties"),
            F.expr(
                "CASE WHEN gt >= CAST(n1 AS DECIMAL(38,0)) * n2 - gt - ties"
                " THEN ((gt - (CAST(n1 AS DECIMAL(38,0)) * n2 - gt - ties))"
                "       * 1000000) div (CAST(n1 AS DECIMAL(38,0)) * n2)"
                " ELSE -((((CAST(n1 AS DECIMAL(38,0)) * n2 - gt - ties) - gt)"
                "         * 1000000) div (CAST(n1 AS DECIMAL(38,0)) * n2))"
                " END"
            ).alias("cliffs_delta_ppm"),
            F.round(F.expr(d_chain), 4).alias("cohens_d"),
            F.round(
                F.expr(
                    f"({d_chain}) * (1.0e0 - 3.0e0"
                    " / (4.0e0 * (CAST(n1 AS DOUBLE) + n2) - 9.0e0))"
                ),
                4,
            ).alias("hedges_g"),
        )
    )


_Q269_SQL = """
WITH base AS (
  SELECT source, CAST(n_chars AS BIGINT) AS v FROM documents
  WHERE source IN ('src0', 'src1')
), cx AS (
  SELECT v, CAST(count(*) AS BIGINT) AS cx FROM base
  WHERE source = 'src0' GROUP BY v
), cy AS (
  SELECT v, CAST(count(*) AS BIGINT) AS cy FROM base
  WHERE source = 'src1' GROUP BY v
), dom AS (
  SELECT d.v, coalesce(cx.cx, 0) AS cx, coalesce(cy.cy, 0) AS cy
  FROM (SELECT DISTINCT v FROM (SELECT v FROM cx UNION ALL SELECT v FROM cy)) d
  LEFT JOIN cx ON cx.v = d.v
  LEFT JOIN cy ON cy.v = d.v
), cum AS (
  SELECT v, cx, cy,
         coalesce(sum(cy) OVER (ORDER BY v
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS y_below
  FROM dom
), conc AS (
  SELECT CAST(sum(CAST(cx AS HUGEINT) * y_below) AS HUGEINT) AS gt,
         CAST(sum(CAST(cx AS HUGEINT) * cy) AS HUGEINT) AS ties
  FROM cum
), mom AS (
  SELECT
    CAST(sum(CASE WHEN source = 'src0' THEN 1 ELSE 0 END) AS BIGINT) AS n1,
    CAST(sum(CASE WHEN source = 'src0' THEN v ELSE 0 END) AS BIGINT) AS s1,
    CAST(sum(CASE WHEN source = 'src0' THEN CAST(v AS HUGEINT) * v
                  ELSE 0 END) AS HUGEINT) AS ss1,
    CAST(sum(CASE WHEN source = 'src1' THEN 1 ELSE 0 END) AS BIGINT) AS n2,
    CAST(sum(CASE WHEN source = 'src1' THEN v ELSE 0 END) AS BIGINT) AS s2,
    CAST(sum(CASE WHEN source = 'src1' THEN CAST(v AS HUGEINT) * v
                  ELSE 0 END) AS HUGEINT) AS ss2
  FROM base
)
SELECT n1, n2,
       CAST(gt AS VARCHAR) AS gt,
       CAST(CAST(n1 AS HUGEINT) * n2 - gt - ties AS VARCHAR) AS lt,
       CAST(ties AS VARCHAR) AS ties,
       CAST(CASE WHEN gt >= CAST(n1 AS HUGEINT) * n2 - gt - ties THEN
              ((gt - (CAST(n1 AS HUGEINT) * n2 - gt - ties)) * 1000000)
                // (CAST(n1 AS HUGEINT) * n2)
            ELSE -((((CAST(n1 AS HUGEINT) * n2 - gt - ties) - gt) * 1000000)
                   // (CAST(n1 AS HUGEINT) * n2))
            END AS BIGINT) AS cliffs_delta_ppm,
       round((CAST(s1 AS DOUBLE) / n1 - CAST(s2 AS DOUBLE) / n2)
             / sqrt(((CAST(ss1 AS DOUBLE) - CAST(s1 AS DOUBLE) * s1 / n1)
                     + (CAST(ss2 AS DOUBLE) - CAST(s2 AS DOUBLE) * s2 / n2))
                    / (CAST(n1 AS DOUBLE) + n2 - 2.0e0)), 4) AS cohens_d,
       round(((CAST(s1 AS DOUBLE) / n1 - CAST(s2 AS DOUBLE) / n2)
             / sqrt(((CAST(ss1 AS DOUBLE) - CAST(s1 AS DOUBLE) * s1 / n1)
                     + (CAST(ss2 AS DOUBLE) - CAST(s2 AS DOUBLE) * s2 / n2))
                    / (CAST(n1 AS DOUBLE) + n2 - 2.0e0)))
             * (1.0e0 - 3.0e0 / (4.0e0 * (CAST(n1 AS DOUBLE) + n2) - 9.0e0)),
             4) AS hedges_g
FROM mom CROSS JOIN conc
"""


def q270_davies_bouldin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Davies-Bouldin cluster-validity index over the embedding label
    clusters — the compactness-vs-separation score that says whether
    the labels are usable as retrieval shards or ANN training classes
    (the quantitative companion to q179's centroid-affinity matrix).

    Exact-arithmetic discipline: per label the quantized per-dim sums
    S (round(x·1e4), the q179 idiom), row count n, and the exact
    squared-norm total Q = ΣΣq² are BIGINTs; centroids become exact
    milli-scaled integers cq = sign·(|S|·1000 div n); scatter
    s = sqrt(Q/n − dot(cq,cq)/1e6) and centroid distance
    d = sqrt(dot(cq_i−cq_j, cq_i−cq_j))/1e3 are single deterministic
    double chains over those integers, and every cross-row reduction
    (max over peers, mean over labels) happens on NANO-FLOORED
    integers, never on floats.

    Shape at 100 TB: one grouped corpus pass to |labels|·64 cells +
    |labels| (n, Q) rows; the pair stage is a broadcast self-join of
    the 10-row centroid relation."""
    emb = load_table(spark, sf_dir, "embeddings")
    qarr = F.expr(
        "transform(embedding,"
        " x -> CAST(round(CAST(x AS DOUBLE) * 10000) AS BIGINT))"
    )
    per_dim = (
        emb.select("label", F.posexplode(qarr).alias("dim", "q"))
        .groupBy("label", "dim")
        .agg(F.sum("q").alias("s"))
        .groupBy("label")
        .agg(F.array_sort(F.collect_list(F.struct("dim", "s"))).alias("_ds"))
        .select("label", F.expr("transform(_ds, e -> e.s)").alias("svec"))
    )
    nq = emb.select(
        "label",
        F.expr(
            "aggregate(transform(embedding,"
            " x -> CAST(round(CAST(x AS DOUBLE) * 10000) AS BIGINT)),"
            " CAST(0 AS BIGINT), (acc, x) -> acc + x * x)"
        ).alias("rowq"),
    ).groupBy("label").agg(
        F.count("*").alias("n"), F.sum("rowq").alias("qq")
    )
    cent = per_dim.join(nq, "label").select(
        "label",
        "n",
        "qq",
        F.expr(
            "transform(svec, s -> CASE WHEN s >= 0 THEN (s * 1000) div n"
            " ELSE -(((-s) * 1000) div n) END)"
        ).alias("cq"),
    ).localCheckpoint(eager=True)
    scat = cent.select(
        "label",
        "n",
        "cq",
        F.expr(
            "sqrt(CAST(qq AS DOUBLE) / n"
            " - CAST(aggregate(cq, CAST(0 AS BIGINT),"
            "        (acc, x) -> acc + x * x) AS DOUBLE) / 1.0e6)"
        ).alias("s"),
    )
    a = scat.select(
        F.col("label").alias("la"), F.col("cq").alias("ca"), F.col("s").alias("sa")
    )
    b = scat.select(
        F.col("label").alias("lb"), F.col("cq").alias("cb"), F.col("s").alias("sb")
    )
    # The d2 = 0 guard matters for PLAN SAFETY, not semantics: Catalyst
    # inlines this expression into the peer-join predicate, where it runs
    # on the yet-unfiltered la == lb self-pairs (d2 = 0) inside the BNLJ
    # bound condition — an unguarded division throws DIVIDE_BY_ZERO under
    # ANSI even though those rows are later discarded.
    pairs = (
        a.join(F.broadcast(b), F.col("la") != F.col("lb"))
        .select(
            "la",
            "lb",
            F.expr(
                "aggregate(zip_with(ca, cb, (x, y) -> (x - y) * (x - y)),"
                " CAST(0 AS BIGINT), (acc, x) -> acc + x)"
            ).alias("d2"),
            "sa",
            "sb",
        )
        .select(
            "la",
            "lb",
            F.expr(
                "CASE WHEN d2 > 0 THEN"
                " CAST(floor((sa + sb) / (sqrt(CAST(d2 AS DOUBLE)) / 1.0e3)"
                "      * 1.0e9) AS BIGINT)"
                " ELSE CAST(NULL AS BIGINT) END"
            ).alias("ratio_nano"),
        )
    )
    worst = pairs.groupBy("la").agg(F.max("ratio_nano").alias("ratio_nano"))
    peer = (
        pairs.join(worst, ["la", "ratio_nano"])
        .groupBy("la", "ratio_nano")
        .agg(F.min("lb").alias("peer"))
    )
    db = worst.agg(
        F.expr("sum(ratio_nano) div count(*)").alias("db_nano")
    )
    return (
        scat.join(peer, scat.label == peer.la)
        .crossJoin(F.broadcast(db))
        .select(
            "label",
            "n",
            F.round("s", 4).alias("scatter"),
            "peer",
            "ratio_nano",
            "db_nano",
        )
        .orderBy("label")
    )


_Q270_SQL = """
WITH dq AS MATERIALIZED (
  SELECT label,
         unnest(list_transform(embedding,
              x -> CAST(round(CAST(x AS DOUBLE) * 10000) AS BIGINT))) AS q,
         generate_subscripts(embedding, 1) AS dim
  FROM embeddings
), per AS MATERIALIZED (
  SELECT label, dim, CAST(sum(q) AS BIGINT) AS s FROM dq GROUP BY 1, 2
), svecs AS MATERIALIZED (
  SELECT label, list(s ORDER BY dim) AS svec FROM per GROUP BY label
), nq AS MATERIALIZED (
  SELECT label, CAST(count(*) AS BIGINT) AS n,
         CAST(sum(rowq) AS BIGINT) AS qq
  FROM (
    SELECT label,
           list_sum(list_transform(embedding,
                x -> CAST(round(CAST(x AS DOUBLE) * 10000) AS BIGINT)
                     * CAST(round(CAST(x AS DOUBLE) * 10000) AS BIGINT)))
             AS rowq
    FROM embeddings
  ) GROUP BY label
), cent AS MATERIALIZED (
  SELECT svecs.label, n, qq,
         list_transform(svec,
           s -> CASE WHEN s >= 0 THEN (s * 1000) // n
                ELSE -(((-s) * 1000) // n) END) AS cq
  FROM svecs JOIN nq ON nq.label = svecs.label
), scat AS MATERIALIZED (
  SELECT label, n, cq,
         sqrt(CAST(qq AS DOUBLE) / n
              - CAST(list_sum(list_transform(cq, x -> x * x)) AS DOUBLE)
                / 1.0e6) AS s
  FROM cent
), rawpairs AS MATERIALIZED (
  SELECT a.label AS la, b.label AS lb, a.s AS sa, b.s AS sb,
         CAST(list_sum(list_transform(
              range(1, len(a.cq) + 1),
              i -> (a.cq[i] - b.cq[i]) * (a.cq[i] - b.cq[i]))) AS BIGINT) AS d2
  FROM scat a JOIN scat b ON a.label <> b.label
), pairs AS MATERIALIZED (
  SELECT la, lb,
         CASE WHEN d2 > 0 THEN
           CAST(floor((sa + sb) / (sqrt(CAST(d2 AS DOUBLE)) / 1.0e3)
                * 1.0e9) AS BIGINT)
         ELSE CAST(NULL AS BIGINT) END AS ratio_nano
  FROM rawpairs
), worst AS MATERIALIZED (
  SELECT la, CAST(max(ratio_nano) AS BIGINT) AS ratio_nano
  FROM pairs GROUP BY la
), peer AS MATERIALIZED (
  SELECT p.la, p.ratio_nano, min(p.lb) AS peer
  FROM pairs p JOIN worst w ON w.la = p.la AND w.ratio_nano = p.ratio_nano
  GROUP BY 1, 2
), db AS MATERIALIZED (
  SELECT CAST(sum(ratio_nano) // count(*) AS BIGINT) AS db_nano FROM worst
)
SELECT s.label, s.n, round(s.s, 4) AS scatter, peer.peer,
       peer.ratio_nano, db.db_nano
FROM scat s
JOIN peer ON peer.la = s.label
CROSS JOIN db
ORDER BY s.label
"""


def q271_silhouette_simplified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Simplified (centroid-based) silhouette per embedding label — the
    POINT-level cluster-validity companion to q270's centroid-only
    Davies-Bouldin: for every vector, a = distance to its own label
    centroid, b = min distance to any other centroid,
    s = (b − a)/max(a, b); per-label mean silhouette says which labels
    are well-separated enough to shard an ANN index on.

    Scale shape: the 10 milli-integer centroids collapse into ONE
    broadcast row (array of structs), so the per-vector a/b pass is a
    zero-shuffle projection with nested array folds — no N×L explode,
    no groupBy(vec_id); the only shuffle is the final per-label mean.

    Exactness: centroid cells and per-pair squared distances are exact
    BIGINTs; per-row s is one deterministic double chain, floored to
    micro BIGINTs BEFORE the per-label sum (double floor rounds toward
    −∞ identically in both engines, so negative s is safe); the mean
    is one final rounded division."""
    emb = load_table(spark, sf_dir, "embeddings")
    qarr = (
        "transform(embedding,"
        " x -> CAST(round(CAST(x AS DOUBLE) * 10000) AS BIGINT))"
    )
    per_dim = (
        emb.select("label", F.posexplode(F.expr(qarr)).alias("dim", "q"))
        .groupBy("label", "dim")
        .agg(F.sum("q").alias("s"))
        .groupBy("label")
        .agg(F.array_sort(F.collect_list(F.struct("dim", "s"))).alias("_ds"))
        .select("label", F.expr("transform(_ds, e -> e.s)").alias("svec"))
    )
    nl = emb.groupBy("label").agg(F.count("*").alias("n"))
    cent = per_dim.join(nl, "label").select(
        F.struct(
            F.col("label").alias("clabel"),
            F.expr(
                "transform(svec, s -> CASE WHEN s >= 0 THEN (s * 1000) div n"
                " ELSE -(((-s) * 1000) div n) END)"
            ).alias("cq"),
        ).alias("c")
    )
    cents = cent.agg(
        F.array_sort(F.collect_list("c")).alias("_cents")
    )
    d2 = (
        "aggregate(zip_with(rq, c.cq, (x, y) -> (x - y) * (x - y)),"
        " CAST(0 AS BIGINT), (acc, x) -> acc + x)"
    )
    fold_min = (
        f"aggregate({{src}}, CAST(NULL AS BIGINT),"
        f" (acc, c) -> CASE WHEN acc IS NULL OR ({d2}) < acc"
        f" THEN ({d2}) ELSE acc END)"
    )
    rowd = (
        emb.select(
            "label",
            F.expr(f"transform({qarr}, q -> q * 1000)").alias("rq"),
        )
        .crossJoin(F.broadcast(cents))
        .select(
            "label",
            F.expr(
                fold_min.format(
                    src="filter(_cents, c -> c.clabel = label)"
                )
            ).alias("a2"),
            F.expr(
                fold_min.format(
                    src="filter(_cents, c -> c.clabel != label)"
                )
            ).alias("b2"),
        )
    )
    s_micro = (
        "CASE WHEN greatest(a2, b2) > 0 THEN"
        " CAST(floor((sqrt(CAST(b2 AS DOUBLE)) - sqrt(CAST(a2 AS DOUBLE)))"
        "      / sqrt(CAST(greatest(a2, b2) AS DOUBLE)) * 1.0e6) AS BIGINT)"
        " ELSE CAST(0 AS BIGINT) END"
    )
    return (
        rowd.select("label", F.expr(s_micro).alias("sm"))
        .groupBy("label")
        .agg(F.count("*").alias("n"), F.sum("sm").alias("sm_sum"))
        .select(
            "label",
            "n",
            "sm_sum",
            F.round(
                F.col("sm_sum").cast("double") / F.col("n") / 1e6, 6
            ).alias("mean_silhouette"),
        )
        .orderBy("label")
    )


_Q271_SQL = """
WITH dq AS MATERIALIZED (
  SELECT label,
         unnest(list_transform(embedding,
              x -> CAST(round(CAST(x AS DOUBLE) * 10000) AS BIGINT))) AS q,
         generate_subscripts(embedding, 1) AS dim
  FROM embeddings
), per AS MATERIALIZED (
  SELECT label, dim, CAST(sum(q) AS BIGINT) AS s FROM dq GROUP BY 1, 2
), svecs AS MATERIALIZED (
  SELECT label, list(s ORDER BY dim) AS svec FROM per GROUP BY label
), nl AS MATERIALIZED (
  SELECT label, CAST(count(*) AS BIGINT) AS n FROM embeddings GROUP BY label
), cent AS MATERIALIZED (
  SELECT svecs.label AS clabel,
         list_transform(svec,
           s -> CASE WHEN s >= 0 THEN (s * 1000) // n
                ELSE -(((-s) * 1000) // n) END) AS cq
  FROM svecs JOIN nl ON nl.label = svecs.label
), cents AS MATERIALIZED (
  SELECT list({'clabel': clabel, 'cq': cq} ORDER BY clabel) AS cs FROM cent
), rowd AS MATERIALIZED (
  SELECT label,
         list_min(list_transform(
           list_filter(cs, c -> c.clabel = label),
           c -> list_sum(list_transform(range(1, len(rq) + 1),
                  i -> (rq[i] - c.cq[i]) * (rq[i] - c.cq[i]))))) AS a2,
         list_min(list_transform(
           list_filter(cs, c -> c.clabel <> label),
           c -> list_sum(list_transform(range(1, len(rq) + 1),
                  i -> (rq[i] - c.cq[i]) * (rq[i] - c.cq[i]))))) AS b2
  FROM (
    SELECT label,
           list_transform(embedding,
             x -> CAST(round(CAST(x AS DOUBLE) * 10000) AS BIGINT) * 1000)
             AS rq
    FROM embeddings
  ) CROSS JOIN cents
)
SELECT label, CAST(count(*) AS BIGINT) AS n,
       CAST(sum(CASE WHEN greatest(a2, b2) > 0 THEN
              CAST(floor((sqrt(CAST(b2 AS DOUBLE)) - sqrt(CAST(a2 AS DOUBLE)))
                   / sqrt(CAST(greatest(a2, b2) AS DOUBLE)) * 1.0e6) AS BIGINT)
            ELSE 0 END) AS BIGINT) AS sm_sum,
       round(CAST(sum(CASE WHEN greatest(a2, b2) > 0 THEN
              CAST(floor((sqrt(CAST(b2 AS DOUBLE)) - sqrt(CAST(a2 AS DOUBLE)))
                   / sqrt(CAST(greatest(a2, b2) AS DOUBLE)) * 1.0e6) AS BIGINT)
            ELSE 0 END) AS DOUBLE) / count(*) / 1e6, 6) AS mean_silhouette
FROM rowd
GROUP BY label
ORDER BY label
"""


def q272_roc_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact ROC-AUC of the q104 quality-classifier score against the
    q58 keep pseudo-labels via the Mann-Whitney identity
    AUC = (#(s⁺>s⁻) + #(s⁺=s⁻)/2) / (n⁺·n⁻) — the threshold-free
    ranking metric that complements the operating-point sweep (q143)
    and the calibration scorecard (q265).

    Exactness: concordance counts come from the q269 cumulative
    count-table idiom over the bounded integer score domain (si =
    round(score·1e4)) — never an n⁺×n⁻ pair join — and
    auc_ppm = (2·gt + ties)·1e6 div (2·n⁺·n⁻) is pure nonnegative
    integer arithmetic. Magnitude audit: gt/ties are PAIR counts
    (~n⁺·n⁻ ≈ N²/4, BIGINT-wrapping at N ≈ 4.3e9 docs) — they
    accumulate in DECIMAL(38,0) (Spark) / HUGEINT (DuckDB) and are
    emitted as STRINGS on both sides (q78/q233 rule); the ppm ratio
    is div'd in the wide type (quotient ≤ 1e6, BIGINT-safe).

    Shape at 100 TB: the q104/q58 corpus joins, grouped counts over the
    score domain, one cumulative window + 2-row reduction."""
    from ...operators.text import hashed_linear_score

    docs = load_table(spark, sf_dir, "documents")
    scores = hashed_linear_score(docs, n_buckets=4096).select("doc_id", "score")
    labels = q58_gopher_quality_flags(spark, sf_dir).select("doc_id", "keep")
    e = scores.join(labels, "doc_id").select(
        F.expr("CAST(round(score * 10000) AS BIGINT)").alias("si"),
        F.col("keep").cast("long").alias("y"),
    )
    dom = e.groupBy("si").agg(
        F.sum("y").alias("cp"),
        F.sum(F.expr("1 - y")).alias("cn"),
    )
    w = W.orderBy("si").rowsBetween(W.unboundedPreceding, -1)
    cum = dom.select(
        "si",
        "cp",
        "cn",
        F.coalesce(F.sum("cn").over(w), F.lit(0)).alias("neg_below"),
    )
    agg = cum.agg(
        F.sum("cp").alias("np"),
        F.sum("cn").alias("nn"),
        F.sum(F.expr("CAST(cp AS DECIMAL(38,0)) * neg_below")).alias("gt"),
        F.sum(F.expr("CAST(cp AS DECIMAL(38,0)) * cn")).alias("ties"),
    )
    return agg.select(
        F.col("np").alias("n_pos"),
        F.col("nn").alias("n_neg"),
        F.expr("CAST(gt AS STRING)").alias("gt"),
        F.expr("CAST(ties AS STRING)").alias("ties"),
        F.expr(
            "((2 * gt + ties) * 1000000)"
            " div (2 * CAST(np AS DECIMAL(38,0)) * nn)"
        ).alias("auc_ppm"),
    )


def _q272_sql() -> str:
    return f"""
WITH scores AS (
  SELECT doc_id, score FROM ({_Q104_SQL}) s
), labels AS (
  SELECT doc_id, keep FROM ({_Q58_SQL}) l
), e AS (
  SELECT CAST(round(s.score * 10000) AS BIGINT) AS si,
         CAST(CASE WHEN l.keep THEN 1 ELSE 0 END AS BIGINT) AS y
  FROM scores s JOIN labels l USING (doc_id)
), dom AS (
  SELECT si, CAST(sum(y) AS BIGINT) AS cp,
         CAST(sum(1 - y) AS BIGINT) AS cn
  FROM e GROUP BY si
), cum AS (
  SELECT si, cp, cn,
         coalesce(sum(cn) OVER (ORDER BY si
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS neg_below
  FROM dom
)
SELECT CAST(sum(cp) AS BIGINT) AS n_pos,
       CAST(sum(cn) AS BIGINT) AS n_neg,
       CAST(CAST(sum(CAST(cp AS HUGEINT) * neg_below) AS HUGEINT)
            AS VARCHAR) AS gt,
       CAST(CAST(sum(CAST(cp AS HUGEINT) * cn) AS HUGEINT)
            AS VARCHAR) AS ties,
       CAST(((2 * CAST(sum(CAST(cp AS HUGEINT) * neg_below) AS HUGEINT)
              + sum(CAST(cp AS HUGEINT) * cn)) * 1000000)
            // (2 * CAST(sum(cp) AS HUGEINT) * sum(cn)) AS BIGINT) AS auc_ppm
FROM cum
"""


def q274_jonckheere_terpstra(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jonckheere-Terpstra test for an ordered trend of document LENGTH
    across the 10 ordered q104 score deciles — the continuous-outcome
    sibling of the Cochran-Armitage proportion trend (q268) and the
    ordered-alternative upgrade of Kruskal-Wallis (q234).

    Exact concordance without any pair join: on the bounded
    (decile, n_chars) count grid, C = per-group strictly-below
    cumulative (window over value), T = Σ_{g'<g} C(g', v) (window over
    group within value), so gt = Σ cnt·T and cross-group ties likewise;
    jt2 = 2·gt + ties is exact. The z score uses the standard no-ties
    normal approximation (documented) as one double chain over exact
    moments. Magnitude audit: gt/ties/jt2 are PAIR counts (~N²) and
    sn23 ~ Σn³ — both wrap BIGINT at N ≈ 4.3e9 / 2e6·10 groups, so
    they accumulate in DECIMAL(38,0) (Spark) / HUGEINT (DuckDB) with
    row-level products widened before multiplying, and the pair
    counts are emitted as STRINGS on both sides (q78/q233 rule).

    Shape at 100 TB: corpus joins to <=10·|value-domain| grid cells;
    two windows over that bounded grid."""
    from ...operators.text import hashed_linear_score

    docs = load_table(spark, sf_dir, "documents")
    scores = hashed_linear_score(docs, n_buckets=4096).select("doc_id", "score")
    e = docs.select("doc_id", F.col("n_chars").cast("long").alias("v")).join(
        scores, "doc_id"
    ).select(
        F.least(
            F.greatest(F.expr("CAST(round(score * 10000) AS BIGINT) div 1000"),
                       F.lit(0)),
            F.lit(9),
        ).alias("g"),
        "v",
    )
    cnt = e.groupBy("g", "v").agg(F.count("*").alias("c"))
    grid = (
        cnt.select("v").distinct()
        .crossJoin(cnt.select("g").distinct())
        .join(cnt, ["g", "v"], "left")
        .select("g", "v", F.coalesce("c", F.lit(0)).alias("c"))
    )
    wv = W.partitionBy("g").orderBy("v").rowsBetween(W.unboundedPreceding, -1)
    wg = W.partitionBy("v").orderBy("g").rowsBetween(W.unboundedPreceding, -1)
    pref = grid.select(
        "g", "v", "c", F.coalesce(F.sum("c").over(wv), F.lit(0)).alias("cb")
    )
    both = pref.select(
        "c",
        F.coalesce(F.sum("cb").over(wg), F.lit(0)).alias("t_gt"),
        F.coalesce(F.sum("c").over(wg), F.lit(0)).alias("t_tie"),
        "g",
    )
    conc = both.agg(
        F.sum(F.expr("CAST(c AS DECIMAL(38,0)) * t_gt")).alias("gt"),
        F.sum(F.expr("CAST(c AS DECIMAL(38,0)) * t_tie")).alias("ties"),
    )
    sizes = e.groupBy("g").agg(F.count("*").alias("n"))
    mom = sizes.agg(
        F.sum("n").alias("nn"),
        F.sum(F.expr("CAST(n AS DECIMAL(38,0)) * n")).alias("sn2"),
        F.sum(F.expr("CAST(n AS DECIMAL(38,0)) * n * (2 * n + 3)"))
        .alias("sn23"),
    )
    return (
        conc.crossJoin(F.broadcast(mom))
        .select(
            F.expr("CAST(gt AS STRING)").alias("gt"),
            F.expr("CAST(ties AS STRING)").alias("ties"),
            F.expr("CAST(2 * gt + ties AS STRING)").alias("jt2"),
            "nn",
            F.round(
                F.expr(
                    "((CAST(2 * gt + ties AS DOUBLE) / 2.0e0)"
                    " - (CAST(nn AS DOUBLE) * nn - sn2) / 4.0e0)"
                    " / sqrt((CAST(nn AS DOUBLE) * nn * (2.0e0 * nn + 3.0e0)"
                    "         - CAST(sn23 AS DOUBLE)) / 72.0e0)"
                ),
                4,
            ).alias("z_jt"),
        )
    )


def _q274_sql() -> str:
    return f"""
WITH scores AS (
  SELECT doc_id, score FROM ({_Q104_SQL}) s
), e AS (
  SELECT least(greatest(CAST(round(s.score * 10000) AS BIGINT) // 1000, 0), 9)
           AS g,
         CAST(d.n_chars AS BIGINT) AS v
  FROM documents d JOIN scores s USING (doc_id)
), cnt AS (
  SELECT g, v, CAST(count(*) AS BIGINT) AS c FROM e GROUP BY 1, 2
), grid AS (
  SELECT gs.g, vs.v, coalesce(cnt.c, 0) AS c
  FROM (SELECT DISTINCT v FROM cnt) vs
  CROSS JOIN (SELECT DISTINCT g FROM cnt) gs
  LEFT JOIN cnt ON cnt.g = gs.g AND cnt.v = vs.v
), pref AS (
  SELECT g, v, c,
         coalesce(sum(c) OVER (PARTITION BY g ORDER BY v
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cb
  FROM grid
), both_ AS (
  SELECT c,
         coalesce(sum(cb) OVER (PARTITION BY v ORDER BY g
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS t_gt,
         coalesce(sum(c) OVER (PARTITION BY v ORDER BY g
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS t_tie
  FROM pref
), conc AS (
  SELECT CAST(sum(CAST(c AS HUGEINT) * t_gt) AS HUGEINT) AS gt,
         CAST(sum(CAST(c AS HUGEINT) * t_tie) AS HUGEINT) AS ties
  FROM both_
), mom AS (
  SELECT CAST(sum(n) AS BIGINT) AS nn,
         CAST(sum(CAST(n AS HUGEINT) * n) AS HUGEINT) AS sn2,
         CAST(sum(CAST(n AS HUGEINT) * n * (2 * n + 3)) AS HUGEINT) AS sn23
  FROM (SELECT g, CAST(count(*) AS BIGINT) AS n FROM e GROUP BY g)
)
SELECT CAST(gt AS VARCHAR) AS gt,
       CAST(ties AS VARCHAR) AS ties,
       CAST(2 * gt + ties AS VARCHAR) AS jt2,
       nn,
       round(((CAST(2 * gt + ties AS DOUBLE) / 2.0e0)
              - (CAST(nn AS DOUBLE) * nn - sn2) / 4.0e0)
             / sqrt((CAST(nn AS DOUBLE) * nn * (2.0e0 * nn + 3.0e0)
                     - CAST(sn23 AS DOUBLE)) / 72.0e0), 4) AS z_jt
FROM conc CROSS JOIN mom
"""


def q275_calinski_harabasz(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calinski-Harabasz (variance-ratio) index over the embedding
    label clusters — completes the cluster-validity trio (q270
    Davies-Bouldin: centroid-level; q271 silhouette: point-level;
    this: the ANOVA-style between/within variance ratio
    CH = (BCSS/(k−1)) / (WCSS/(N−k))).

    Per label, BCSS term = n_l·||cq_l − cq_glob||²/1e6 and WCSS term =
    Q_l/1 − n_l·||cq_l||²/1e6 are deterministic double chains over
    exact BIGINTs (quantized sums S, squared-norm totals Q, milli
    centroids cq — the q270 cells), FLOORED to BIGINT q-units² before
    the cross-label sums; CH is one final rounded division chain.

    Shape at 100 TB: the same single grouped corpus pass as q270; the
    ratio runs on the 10-row label relation + one global row."""
    emb = load_table(spark, sf_dir, "embeddings")
    qarr = (
        "transform(embedding,"
        " x -> CAST(round(CAST(x AS DOUBLE) * 10000) AS BIGINT))"
    )
    per_dim = (
        emb.select("label", F.posexplode(F.expr(qarr)).alias("dim", "q"))
        .groupBy("label", "dim")
        .agg(F.sum("q").alias("s"))
    )
    glob_dim = per_dim.groupBy("dim").agg(F.sum("s").alias("gs"))
    nq = emb.select(
        "label",
        F.expr(
            f"aggregate({qarr}, CAST(0 AS BIGINT), (acc, x) -> acc + x * x)"
        ).alias("rowq"),
    ).groupBy("label").agg(F.count("*").alias("n"), F.sum("rowq").alias("qq"))
    nn = nq.agg(F.sum("n").alias("nt"))
    lab_vec = (
        per_dim.groupBy("label")
        .agg(F.array_sort(F.collect_list(F.struct("dim", "s"))).alias("_ds"))
        .select("label", F.expr("transform(_ds, e -> e.s)").alias("svec"))
        .join(nq, "label")
        .select(
            "label",
            "n",
            "qq",
            F.expr(
                "transform(svec, s -> CASE WHEN s >= 0 THEN (s * 1000) div n"
                " ELSE -(((-s) * 1000) div n) END)"
            ).alias("cq"),
        )
    )
    glob_vec = (
        glob_dim.agg(
            F.array_sort(F.collect_list(F.struct("dim", "gs"))).alias("_ds")
        )
        .crossJoin(F.broadcast(nn))
        .select(
            F.expr(
                "transform(transform(_ds, e -> e.gs),"
                " s -> CASE WHEN s >= 0 THEN (s * 1000) div nt"
                " ELSE -(((-s) * 1000) div nt) END)"
            ).alias("gq"),
            "nt",
        )
    )
    terms = lab_vec.crossJoin(F.broadcast(glob_vec)).select(
        "label",
        "n",
        F.expr(
            "CAST(floor(CAST(n AS DOUBLE)"
            " * CAST(aggregate(zip_with(cq, gq, (x, y) -> (x - y) * (x - y)),"
            "        CAST(0 AS BIGINT), (acc, x) -> acc + x) AS DOUBLE)"
            " / 1.0e6) AS BIGINT)"
        ).alias("bcss_term"),
        F.expr(
            "CAST(floor(CAST(qq AS DOUBLE)"
            " - CAST(n AS DOUBLE)"
            "   * CAST(aggregate(cq, CAST(0 AS BIGINT),"
            "          (acc, x) -> acc + x * x) AS DOUBLE) / 1.0e6)"
            " AS BIGINT)"
        ).alias("wcss_term"),
        "nt",
    )
    agg = terms.agg(
        F.count("*").alias("k"),
        F.first("nt").alias("nt"),
        F.sum("bcss_term").alias("bcss"),
        F.sum("wcss_term").alias("wcss"),
    )
    return agg.select(
        "k",
        F.col("nt").alias("n_vectors"),
        "bcss",
        "wcss",
        F.round(
            F.expr(
                "(CAST(bcss AS DOUBLE) / (k - 1))"
                " / (CAST(wcss AS DOUBLE) / (nt - k))"
            ),
            4,
        ).alias("ch_index"),
    )


_Q275_SQL = """
WITH dq AS MATERIALIZED (
  SELECT label,
         unnest(list_transform(embedding,
              x -> CAST(round(CAST(x AS DOUBLE) * 10000) AS BIGINT))) AS q,
         generate_subscripts(embedding, 1) AS dim
  FROM embeddings
), per AS MATERIALIZED (
  SELECT label, dim, CAST(sum(q) AS BIGINT) AS s FROM dq GROUP BY 1, 2
), gdim AS MATERIALIZED (
  SELECT dim, CAST(sum(s) AS BIGINT) AS gs FROM per GROUP BY dim
), nq AS MATERIALIZED (
  SELECT label, CAST(count(*) AS BIGINT) AS n, CAST(sum(rowq) AS BIGINT) AS qq
  FROM (
    SELECT label,
           list_sum(list_transform(embedding,
                x -> CAST(round(CAST(x AS DOUBLE) * 10000) AS BIGINT)
                     * CAST(round(CAST(x AS DOUBLE) * 10000) AS BIGINT)))
             AS rowq
    FROM embeddings
  ) GROUP BY label
), nn AS MATERIALIZED (
  SELECT CAST(sum(n) AS BIGINT) AS nt FROM nq
), lab AS MATERIALIZED (
  SELECT sv.label, nq.n, nq.qq,
         list_transform(sv.svec,
           s -> CASE WHEN s >= 0 THEN (s * 1000) // nq.n
                ELSE -(((-s) * 1000) // nq.n) END) AS cq
  FROM (SELECT label, list(s ORDER BY dim) AS svec FROM per GROUP BY label) sv
  JOIN nq ON nq.label = sv.label
), gctr AS MATERIALIZED (
  SELECT list_transform(gv.gvec,
           s -> CASE WHEN s >= 0 THEN (s * 1000) // nn.nt
                ELSE -(((-s) * 1000) // nn.nt) END) AS gq,
         nn.nt
  FROM (SELECT list(gs ORDER BY dim) AS gvec FROM gdim) gv
  CROSS JOIN nn
), terms AS MATERIALIZED (
  SELECT lab.label, lab.n, gctr.nt,
         CAST(floor(CAST(lab.n AS DOUBLE)
           * CAST(list_sum(list_transform(range(1, len(lab.cq) + 1),
                  i -> (lab.cq[i] - gctr.gq[i]) * (lab.cq[i] - gctr.gq[i])))
              AS DOUBLE) / 1.0e6) AS BIGINT) AS bcss_term,
         CAST(floor(CAST(lab.qq AS DOUBLE)
           - CAST(lab.n AS DOUBLE)
             * CAST(list_sum(list_transform(lab.cq, x -> x * x)) AS DOUBLE)
               / 1.0e6) AS BIGINT) AS wcss_term
  FROM lab CROSS JOIN gctr
)
SELECT CAST(count(*) AS BIGINT) AS k,
       CAST(max(nt) AS BIGINT) AS n_vectors,
       CAST(sum(bcss_term) AS BIGINT) AS bcss,
       CAST(sum(wcss_term) AS BIGINT) AS wcss,
       round((CAST(sum(bcss_term) AS DOUBLE) / (count(*) - 1))
             / (CAST(sum(wcss_term) AS DOUBLE) / (max(nt) - count(*))), 4)
         AS ch_index
FROM terms
"""


def q281_dispersion_dp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gries' DP (Deviation of Proportions) dispersion for the 20 most
    frequent tokens: DP = ½·Σ_s |share of the term in source s −
    source s's share of the corpus| — the corpus-linguistics measure
    that separates genuinely common vocabulary (DP→0) from terms
    concentrated in a few sources (DP→1); the single-term complement
    of the burstiness (q203/q232) and keyness (q212) views.

    Exact arithmetic: the per-source gap |t_ws·M − m_s·T_w| shares the
    common denominator T_w·M, so DP_ppm = Σgaps·1e6 div (2·T_w·M) is
    pure integer arithmetic. Magnitude audit: with M corpus tokens the
    row-level product t_ws·M ~ M² wraps BIGINT at M ≈ 3e9 tokens, so
    every product and the gap sum run in DECIMAL(38,0) (Spark) /
    HUGEINT (DuckDB) — good to M ~ 1e16; the dp_ppm quotient (≤1e6)
    narrows back to BIGINT safely.

    Shape at 100 TB: one (token, source) grouped pass, a TakeOrdered
    top-20 probe set that broadcasts, and a 20·|sources| reduction."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "source", F.explode(F.split(F.lower("text"), "\\s+")).alias("tok")
    ).filter(F.col("tok") != "")
    tws = toks.groupBy("tok", "source").agg(F.count("*").alias("t_ws"))
    srcm = toks.groupBy("source").agg(F.count("*").alias("m_s"))
    tot = srcm.agg(F.sum("m_s").alias("mm"))
    tw = tws.groupBy("tok").agg(F.sum("t_ws").alias("t_w"))
    top = tw.orderBy(F.col("t_w").desc(), "tok").limit(20)
    # dense grid: every (top term, source) with zero fill
    grid = (
        top.crossJoin(srcm)
        .join(tws, ["tok", "source"], "left")
        .select(
            "tok",
            "t_w",
            "m_s",
            F.coalesce("t_ws", F.lit(0)).alias("t_ws"),
        )
    )
    return (
        grid.crossJoin(F.broadcast(tot))
        .select(
            "tok",
            "t_w",
            F.expr(
                "abs(CAST(t_ws AS DECIMAL(38,0)) * mm"
                " - CAST(m_s AS DECIMAL(38,0)) * t_w)"
            ).alias("gap"),
            "mm",
        )
        .groupBy("tok", "t_w", "mm")
        .agg(F.sum("gap").alias("gaps"))
        .select(
            "tok",
            F.col("t_w").alias("term_count"),
            F.expr(
                "(gaps * 1000000) div (2 * CAST(t_w AS DECIMAL(38,0)) * mm)"
            ).alias("dp_ppm"),
        )
        .orderBy(F.col("term_count").desc(), "tok")
    )


_Q281_SQL = r"""
WITH toks AS (
  SELECT source, tok FROM (
    SELECT source, unnest(string_split_regex(lower(text), '\s+')) AS tok
    FROM documents
  ) WHERE tok <> ''
), tws AS (
  SELECT tok, source, CAST(count(*) AS BIGINT) AS t_ws
  FROM toks GROUP BY 1, 2
), srcm AS (
  SELECT source, CAST(count(*) AS BIGINT) AS m_s FROM toks GROUP BY source
), tot AS (
  SELECT CAST(sum(m_s) AS BIGINT) AS mm FROM srcm
), tw AS (
  SELECT tok, CAST(sum(t_ws) AS BIGINT) AS t_w FROM tws GROUP BY tok
), top AS (
  SELECT * FROM tw ORDER BY t_w DESC, tok LIMIT 20
), grid AS (
  SELECT top.tok, top.t_w, srcm.source, srcm.m_s,
         coalesce(tws.t_ws, 0) AS t_ws
  FROM top CROSS JOIN srcm
  LEFT JOIN tws ON tws.tok = top.tok AND tws.source = srcm.source
)
SELECT tok, t_w AS term_count,
       CAST((sum(abs(CAST(t_ws AS HUGEINT) * mm
                     - CAST(m_s AS HUGEINT) * t_w)) * 1000000)
            // (2 * CAST(t_w AS HUGEINT) * mm) AS BIGINT) AS dp_ppm
FROM grid CROSS JOIN tot
GROUP BY tok, t_w, mm
ORDER BY term_count DESC, tok
"""


def q288_murphy_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Murphy decomposition of the (binned) Brier score for the q104
    classifier vs the q58 keep labels: BS = REL − RES + UNC + within-bin
    variance — reliability says how far bin forecasts sit from bin
    outcomes, resolution how much the bins separate the base rate,
    uncertainty the irreducible o̅(1−o̅); the diagnosis layer on top of
    q265's single Brier number.

    Exactness: per-bin REL/RES terms are single double chains over
    exact BIGINTs (k, n, ssum), floored to nano BIGINTs pre-sum; the
    within-bin variance term is derived exactly as the q265 Brier minus
    the decomposition (identity checked in pytest). All denominators
    nonnegative.

    Shape at 100 TB: identical to q265 — one grouped pass to <=10 bins,
    then a bin-relation reduction."""
    from ...operators.text import hashed_linear_score

    docs = load_table(spark, sf_dir, "documents")
    scores = hashed_linear_score(docs, n_buckets=4096).select("doc_id", "score")
    labels = q58_gopher_quality_flags(spark, sf_dir).select("doc_id", "keep")
    e = scores.join(labels, "doc_id").select(
        F.expr("CAST(round(score * 10000) AS BIGINT)").alias("si"),
        F.col("keep").cast("long").alias("y"),
    )
    bins = (
        e.select(
            F.least(F.greatest(F.expr("si div 1000"), F.lit(0)), F.lit(9))
            .cast("int")
            .alias("bin"),
            "si",
            "y",
            ((F.col("si") - F.col("y") * 10000)
             * (F.col("si") - F.col("y") * 10000)).alias("sqerr"),
        )
        .groupBy("bin")
        .agg(
            F.count("*").alias("n"),
            F.sum("y").alias("k"),
            F.sum("si").alias("ssum"),
            F.sum("sqerr").alias("sq"),
        )
        .localCheckpoint(eager=True)
    )
    tot = bins.agg(
        F.sum("n").alias("nn"), F.sum("k").alias("kk"), F.sum("sq").alias("sqt")
    )
    # f_b = ssum/(n·1e4), o_b = k/n, o̅ = kk/nn — all chains over ints
    rel_t = (
        "CAST(floor(CAST(n AS DOUBLE)"
        " * (CAST(ssum AS DOUBLE) / (n * 10000.0e0) - CAST(k AS DOUBLE) / n)"
        " * (CAST(ssum AS DOUBLE) / (n * 10000.0e0) - CAST(k AS DOUBLE) / n)"
        " * 1.0e9) AS BIGINT)"
    )
    res_t = (
        "CAST(floor(CAST(n AS DOUBLE)"
        " * (CAST(k AS DOUBLE) / n - CAST(kk AS DOUBLE) / nn)"
        " * (CAST(k AS DOUBLE) / n - CAST(kk AS DOUBLE) / nn)"
        " * 1.0e9) AS BIGINT)"
    )
    per = bins.crossJoin(F.broadcast(tot)).agg(
        F.sum(F.expr(rel_t)).alias("rel_sum_nano"),
        F.sum(F.expr(res_t)).alias("res_sum_nano"),
        F.max("nn").alias("nn"),
        F.max("kk").alias("kk"),
        F.max("sqt").alias("sqt"),
    )
    return per.select(
        F.col("nn").alias("n_docs"),
        F.expr("rel_sum_nano div nn").alias("reliability_nano"),
        F.expr("res_sum_nano div nn").alias("resolution_nano"),
        F.round(
            F.expr(
                "CAST(kk AS DOUBLE) / nn * (1.0e0 - CAST(kk AS DOUBLE) / nn)"
            ),
            6,
        ).alias("uncertainty"),
        F.expr("(sqt * 1000000L) div (nn * 100000000L)").alias("brier_ppm"),
    )


def _q288_sql() -> str:
    rel_t = (
        "CAST(floor(CAST(n AS DOUBLE)"
        " * (CAST(ssum AS DOUBLE) / (n * 10000.0e0) - CAST(k AS DOUBLE) / n)"
        " * (CAST(ssum AS DOUBLE) / (n * 10000.0e0) - CAST(k AS DOUBLE) / n)"
        " * 1.0e9) AS BIGINT)"
    )
    res_t = (
        "CAST(floor(CAST(n AS DOUBLE)"
        " * (CAST(k AS DOUBLE) / n - CAST(kk AS DOUBLE) / nn)"
        " * (CAST(k AS DOUBLE) / n - CAST(kk AS DOUBLE) / nn)"
        " * 1.0e9) AS BIGINT)"
    )
    return f"""
WITH scores AS (
  SELECT doc_id, score FROM ({_Q104_SQL}) s
), labels AS (
  SELECT doc_id, keep FROM ({_Q58_SQL}) l
), e AS (
  SELECT CAST(round(s.score * 10000) AS BIGINT) AS si,
         CAST(CASE WHEN l.keep THEN 1 ELSE 0 END AS BIGINT) AS y
  FROM scores s JOIN labels l USING (doc_id)
), bins AS (
  SELECT CAST(least(greatest(si // 1000, 0), 9) AS INTEGER) AS bin,
         CAST(count(*) AS BIGINT) AS n,
         CAST(sum(y) AS BIGINT) AS k,
         CAST(sum(si) AS BIGINT) AS ssum,
         CAST(sum((si - y * 10000) * (si - y * 10000)) AS BIGINT) AS sq
  FROM e GROUP BY 1
), tot AS (
  SELECT CAST(sum(n) AS BIGINT) AS nn, CAST(sum(k) AS BIGINT) AS kk,
         CAST(sum(sq) AS BIGINT) AS sqt
  FROM bins
), per AS (
  SELECT CAST(sum({rel_t}) AS BIGINT) AS rel_sum_nano,
         CAST(sum({res_t}) AS BIGINT) AS res_sum_nano,
         CAST(max(nn) AS BIGINT) AS nn,
         CAST(max(kk) AS BIGINT) AS kk,
         CAST(max(sqt) AS BIGINT) AS sqt
  FROM bins CROSS JOIN tot
)
SELECT nn AS n_docs,
       CAST(rel_sum_nano // nn AS BIGINT) AS reliability_nano,
       CAST(res_sum_nano // nn AS BIGINT) AS resolution_nano,
       round(CAST(kk AS DOUBLE) / nn * (1.0e0 - CAST(kk AS DOUBLE) / nn), 6)
         AS uncertainty,
       CAST((sqt * 1000000) // (nn * 100000000) AS BIGINT) AS brier_ppm
FROM per
"""


def q293_quantile_normalization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile normalization of per-source quality scores onto the
    GLOBAL score distribution — the batch-effect correction a curation
    pipeline applies before mixing scores from heterogeneous scorers:
    each doc's score becomes the global value at its within-source
    quantile, g = ceil(r·N_g / N_s), so every source's distribution
    maps exactly onto the corpus distribution.

    Exactness: scores are the usual 1e4 integers; within-source ranks
    are deterministic (order by si, doc_id); the global quantile
    function is the BOUNDED cumulative count table (value domain, not
    rows) broadcast into a range join — no global row_number over the
    corpus. All reported means are exact integer sums divided once.

    Shape at 100 TB: one grouped pass for the count table; one window
    partitioned by source (the op's unit of work); one broadcast range
    join against the <=|domain|-row quantile table."""
    from ...operators.text import hashed_linear_score

    docs = load_table(spark, sf_dir, "documents", parallelize=True)
    scored = hashed_linear_score(docs, n_buckets=4096).select(
        "doc_id", F.expr("CAST(round(score * 10000) AS BIGINT)").alias("si")
    ).join(docs.select("doc_id", "source"), "doc_id")
    ng = scored.count()
    dom = scored.groupBy("si").agg(F.count("*").alias("c"))
    wv = W.orderBy("si").rowsBetween(W.unboundedPreceding, 0)
    quant = dom.select(
        "si",
        (F.sum("c").over(wv) - F.col("c")).alias("lo"),
        F.sum("c").over(wv).alias("hi"),
    )
    ws = W.partitionBy("source").orderBy("si", "doc_id")
    ranked = scored.withColumn("r", F.row_number().over(ws))
    ns = scored.groupBy("source").agg(F.count("*").alias("n_s"))
    g = ranked.join(F.broadcast(ns), "source").select(
        "source",
        "si",
        F.expr(f"((r * CAST({ng} AS BIGINT)) + n_s - 1) div n_s").alias("g"),
    )
    quant_g = quant.select(
        F.col("si").alias("si_g"), "lo", "hi"
    )
    mapped = g.join(
        F.broadcast(quant_g),
        (F.col("g") > F.col("lo")) & (F.col("g") <= F.col("hi")),
    ).select("source", F.col("si").alias("si_before"),
             F.col("si_g").alias("si_after"))
    return (
        mapped.groupBy("source")
        .agg(
            F.count("*").alias("n"),
            F.sum("si_before").alias("sum_before"),
            F.sum("si_after").alias("sum_after"),
        )
        .select(
            "source",
            "n",
            "sum_before",
            "sum_after",
            F.round(F.expr("CAST(sum_before AS DOUBLE) / n / 10000.0e0"), 4)
            .alias("mean_before"),
            F.round(F.expr("CAST(sum_after AS DOUBLE) / n / 10000.0e0"), 4)
            .alias("mean_after"),
        )
        .orderBy("source")
    )


def _q293_sql() -> str:
    return f"""
WITH scored AS (
  SELECT s.doc_id, CAST(round(s.score * 10000) AS BIGINT) AS si, d.source
  FROM ({_Q104_SQL}) s JOIN documents d USING (doc_id)
), ngt AS (
  SELECT CAST(count(*) AS BIGINT) AS ng FROM scored
), dom AS (
  SELECT si, CAST(count(*) AS BIGINT) AS c FROM scored GROUP BY si
), quant AS (
  SELECT si,
         CAST(sum(c) OVER (ORDER BY si
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - c AS BIGINT)
           AS lo,
         CAST(sum(c) OVER (ORDER BY si
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
           AS hi
  FROM dom
), ns AS (
  SELECT source, CAST(count(*) AS BIGINT) AS n_s FROM scored GROUP BY source
), ranked AS (
  SELECT source, si,
         row_number() OVER (PARTITION BY source ORDER BY si, doc_id) AS r
  FROM scored
), g AS (
  SELECT ranked.source, ranked.si AS si_before,
         ((ranked.r * ng) + n_s - 1) // n_s AS g
  FROM ranked
  JOIN ns USING (source)
  CROSS JOIN ngt
), mapped AS (
  SELECT g.source, g.si_before, quant.si AS si_after
  FROM g JOIN quant ON g.g > quant.lo AND g.g <= quant.hi
)
SELECT source, CAST(count(*) AS BIGINT) AS n,
       CAST(sum(si_before) AS BIGINT) AS sum_before,
       CAST(sum(si_after) AS BIGINT) AS sum_after,
       round(CAST(sum(si_before) AS DOUBLE) / count(*) / 10000.0e0, 4)
         AS mean_before,
       round(CAST(sum(si_after) AS DOUBLE) / count(*) / 10000.0e0, 4)
         AS mean_after
FROM mapped
GROUP BY source
ORDER BY source
"""


def q294_neyman_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Neyman optimal allocation for a stratified sample of the corpus
    by language: n_h ∝ N_h·S_h (stratum size × token-count standard
    deviation), compared against proportional allocation for an
    n=10000 audit sample — the sampling-design planner that decides how
    q47's stratified sampler should spend its budget when strata have
    unequal variance.

    Exactness: per-stratum (N, Σx, Σx²) are exact integers; S_h is one
    sqrt chain floored to nano; the allocations are pure nonnegative
    integer divisions over the N_h·S_nano weights. Magnitude audit:
    tk² ~ 1e10 wraps a BIGINT Σx² at ~1e9 docs, and N_h·S_nano ~
    1e10·1e13 wraps row-level — Σx², the weight products, and their
    total run in DECIMAL(38,0) (Spark) / HUGEINT (DuckDB); the
    allocation quotients (≤1e4) narrow back to BIGINT safely.

    Shape at 100 TB: one narrow size(split) scan, one groupBy into
    <=5 strata, a 1-row weight-total broadcast."""
    docs = load_table(spark, sf_dir, "documents")
    per = docs.select(
        "lang",
        F.when(F.length(F.trim("text")) == 0, F.lit(0))
        .otherwise(F.size(F.split(F.trim("text"), "\\s+")))
        .cast("long")
        .alias("tk"),
    ).groupBy("lang").agg(
        F.count("*").alias("nh"),
        F.sum("tk").alias("sx"),
        F.sum(F.expr("CAST(tk AS DECIMAL(38,0)) * tk")).alias("sxx"),
    ).select(
        "lang",
        "nh",
        F.expr(
            "CAST(floor(sqrt((CAST(sxx AS DOUBLE) * nh"
            " - CAST(sx AS DOUBLE) * sx)"
            " / (CAST(nh AS DOUBLE) * nh)) * 1.0e9) AS BIGINT)"
        ).alias("s_nano"),
    )
    tot = per.agg(
        F.sum("nh").alias("nt"),
        F.sum(F.expr("CAST(nh AS DECIMAL(38,0)) * s_nano")).alias("w_total"),
    )
    return (
        per.crossJoin(F.broadcast(tot))
        .select(
            "lang",
            F.col("nh").alias("n_docs"),
            "s_nano",
            F.expr(
                "(10000 * CAST(nh AS DECIMAL(38,0)) * s_nano) div w_total"
            ).alias("neyman_alloc"),
            F.expr("(10000 * nh) div nt").alias("proportional_alloc"),
        )
        .orderBy("lang")
    )


_Q294_SQL = r"""
WITH per AS (
  SELECT lang,
         CAST(count(*) AS BIGINT) AS nh,
         CAST(sum(tk) AS BIGINT) AS sx,
         CAST(sum(CAST(tk AS HUGEINT) * tk) AS HUGEINT) AS sxx
  FROM (
    SELECT lang,
           CAST(CASE WHEN length(trim(text)) = 0 THEN 0
                ELSE len(string_split_regex(trim(text), '\s+')) END
             AS BIGINT) AS tk
    FROM documents
  ) GROUP BY lang
), w AS (
  SELECT lang, nh,
         CAST(floor(sqrt((CAST(sxx AS DOUBLE) * nh
               - CAST(sx AS DOUBLE) * sx)
               / (CAST(nh AS DOUBLE) * nh)) * 1.0e9) AS BIGINT) AS s_nano
  FROM per
), tot AS (
  SELECT CAST(sum(nh) AS BIGINT) AS nt,
         CAST(sum(CAST(nh AS HUGEINT) * s_nano) AS HUGEINT) AS w_total
  FROM w
)
SELECT lang, nh AS n_docs, s_nano,
       CAST((10000 * CAST(nh AS HUGEINT) * s_nano) // w_total AS BIGINT)
         AS neyman_alloc,
       CAST((10000 * nh) // nt AS BIGINT) AS proportional_alloc
FROM w CROSS JOIN tot
ORDER BY lang
"""


def q303_rank_biased_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rank-biased overlap (RBO, p=0.9, depth 20) between the src0 and
    src1 top-token rankings — the top-weighted list-similarity measure
    serving stacks use to compare rankers (Webber et al., TOIS'10),
    complementing RRF fusion (q257) and NDCG (q258): RRF merges
    rankings, RBO says how far apart two rankings ARE.

    Join-free overlap curve: a token in both top-20s enters the
    overlap at every depth d ≥ max(rank_a, rank_b), so the full curve
    X_d comes from ONE cumulative count over m = max(ra, rb) on the
    ≤20-row matched relation. Each RBO term (X_d/d)·(1−p)/p·p^d is
    floored to a NANO BIGINT before summation (p^d via
    exp(d·ln(0.9)) — ln/exp are the accepted correctly-rounded seams,
    and both engines evaluate the IDENTICAL chain), so the cross-depth
    sum is an exact integer — the quantize-pre-sum discipline.

    Shape at 100 TB: two corpus token counts → two TakeOrdered top-20
    probes; everything after runs on ≤20-row relations."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.filter(F.col("source").isin("src0", "src1")).select(
        "source", F.explode(F.split(F.lower("text"), "\\s+")).alias("tok")
    ).filter(F.col("tok") != "")
    cnt = toks.groupBy("source", "tok").agg(F.count("*").alias("c"))

    def top20(src):
        w = W.orderBy(F.col("c").desc(), "tok")
        return (
            cnt.filter(F.col("source") == src)
            .select("tok", "c")
            .withColumn("r", F.row_number().over(w))
            .filter(F.col("r") <= 20)
        )

    a = top20("src0").select("tok", F.col("r").alias("ra"))
    b = top20("src1").select("tok", F.col("r").alias("rb"))
    both = a.join(b, "tok").select(
        F.greatest("ra", "rb").alias("m")
    )
    depths = spark.range(1, 21).select(F.col("id").alias("d"))
    xd = depths.join(
        both, F.col("m") <= F.col("d"), "left"
    ).groupBy("d").agg(
        F.sum(F.when(F.col("m").isNotNull(), 1).otherwise(0)).alias("x")
    )
    term = (
        "CAST(floor(CAST(x AS DOUBLE) / CAST(d AS DOUBLE)"
        " * (0.1e0 / 0.9e0) * exp(CAST(d AS DOUBLE) * ln(0.9e0))"
        " * 1e9) AS BIGINT)"
    )
    agg = xd.select(
        "d", "x", F.expr(term).alias("term_nano")
    ).agg(
        F.max(F.when(F.col("d") == 20, F.col("x"))).alias("overlap_at_20"),
        F.sum("term_nano").alias("rbo_nano"),
    )
    return agg.select(
        "overlap_at_20",
        "rbo_nano",
        F.round(F.col("rbo_nano").cast("double") / 1e9, 6).alias("rbo_min"),
    )


_Q303_SQL = r"""
WITH toks AS (
  SELECT source, tok FROM (
    SELECT source, unnest(string_split_regex(lower(text), '\s+')) AS tok
    FROM documents WHERE source IN ('src0', 'src1')
  ) WHERE tok <> ''
), cnt AS (
  SELECT source, tok, CAST(count(*) AS BIGINT) AS c
  FROM toks GROUP BY source, tok
), a AS (
  SELECT tok, r AS ra FROM (
    SELECT tok, row_number() OVER (ORDER BY c DESC, tok) AS r
    FROM cnt WHERE source = 'src0'
  ) WHERE r <= 20
), b AS (
  SELECT tok, r AS rb FROM (
    SELECT tok, row_number() OVER (ORDER BY c DESC, tok) AS r
    FROM cnt WHERE source = 'src1'
  ) WHERE r <= 20
), both_ AS (
  SELECT greatest(ra, rb) AS m FROM a JOIN b USING (tok)
), depths AS (
  SELECT unnest(range(1, 21)) AS d
), xd AS (
  SELECT d, CAST(count(m) AS BIGINT) AS x
  FROM depths LEFT JOIN both_ ON m <= d
  GROUP BY d
), terms AS (
  SELECT d, x,
         CAST(floor(CAST(x AS DOUBLE) / CAST(d AS DOUBLE)
              * (0.1e0 / 0.9e0) * exp(CAST(d AS DOUBLE) * ln(0.9e0))
              * 1e9) AS BIGINT) AS term_nano
  FROM xd
)
SELECT CAST(max(CASE WHEN d = 20 THEN x END) AS BIGINT) AS overlap_at_20,
       CAST(sum(term_nano) AS BIGINT) AS rbo_nano,
       round(CAST(sum(term_nano) AS DOUBLE) / 1e9, 6) AS rbo_min
FROM terms
"""


def q308_cohens_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohen's kappa agreement between the two keep/drop labelers the
    suite already runs — the q58 Gopher rule flags and the q104
    hashed-linear classifier at its si ≥ 5000 operating point — the
    chance-corrected agreement score an annotation pipeline reports
    before trusting either labeler as ground truth (the inter-rater
    companion to the threshold sweep q143 and the ROC view q272).

    Exact rational arithmetic: from the 2×2 agreement table,
    kappa = (n·(n₁₁+n₀₀) − (a₁b₁+a₀b₀)) / (n² − (a₁b₁+a₀b₀)) —
    numerator and denominator are exact integers (no pₒ/pₑ floats),
    emitted as a sign-split ppm division. Degenerate guard (ADVICE
    r6): when BOTH labelers are constant, pₑ = 1 and the denominator
    is exactly 0 — kappa is undefined and kappa_ppm is an EXPLICIT
    NULL (guarded on the exact integer denominator, the q304 idiom),
    never an incidental divide-by-zero.

    Magnitude audit: a₁b₁ ~ N² wraps BIGINT at N ≈ 3e9 docs — the
    cross products and n² run in DECIMAL(38,0)/HUGEINT.

    Shape at 100 TB: the q104/q58 corpus joins feed ONE grouped pass
    to 4 cells; everything after is a 1-row reduction."""
    from ...operators.text import hashed_linear_score

    docs = load_table(spark, sf_dir, "documents")
    scores = hashed_linear_score(docs, n_buckets=4096).select(
        "doc_id", F.expr("CAST(round(score * 10000) AS BIGINT)").alias("si")
    )
    labels = q58_gopher_quality_flags(spark, sf_dir).select("doc_id", "keep")
    e = scores.join(labels, "doc_id").select(
        (F.col("si") >= 5000).cast("long").alias("a"),
        F.col("keep").cast("long").alias("b"),
    )
    cells = e.agg(
        F.count("*").alias("n"),
        F.sum(F.expr("a * b")).alias("n11"),
        F.sum(F.expr("a * (1 - b)")).alias("n10"),
        F.sum(F.expr("(1 - a) * b")).alias("n01"),
        F.sum(F.expr("(1 - a) * (1 - b)")).alias("n00"),
    )
    num = (
        "(CAST(n AS DECIMAL(38,0)) * (n11 + n00)"
        " - ((n11 + n10) * CAST(n11 + n01 AS DECIMAL(38,0))"
        "    + (n01 + n00) * CAST(n10 + n00 AS DECIMAL(38,0))))"
    )
    den = (
        "(CAST(n AS DECIMAL(38,0)) * n"
        " - ((n11 + n10) * CAST(n11 + n01 AS DECIMAL(38,0))"
        "    + (n01 + n00) * CAST(n10 + n00 AS DECIMAL(38,0))))"
    )
    return cells.select(
        "n",
        "n11",
        "n10",
        "n01",
        "n00",
        F.expr(
            f"CASE WHEN {den} = 0 THEN CAST(NULL AS BIGINT)"
            f" WHEN {num} >= 0 THEN ({num} * 1000000) div {den}"
            f" ELSE -((-({num}) * 1000000) div {den}) END"
        ).alias("kappa_ppm"),
        F.expr("((n11 + n00) * 1000000) div n").alias("po_ppm"),
    )


def _q308_sql() -> str:
    num = (
        "(CAST(n AS HUGEINT) * (n11 + n00)"
        " - ((n11 + n10) * CAST(n11 + n01 AS HUGEINT)"
        "    + (n01 + n00) * CAST(n10 + n00 AS HUGEINT)))"
    )
    den = (
        "(CAST(n AS HUGEINT) * n"
        " - ((n11 + n10) * CAST(n11 + n01 AS HUGEINT)"
        "    + (n01 + n00) * CAST(n10 + n00 AS HUGEINT)))"
    )
    return f"""
WITH scores AS (
  SELECT doc_id, CAST(round(score * 10000) AS BIGINT) AS si
  FROM ({_Q104_SQL}) s
), labels AS (
  SELECT doc_id, keep FROM ({_Q58_SQL}) l
), e AS (
  SELECT CAST(CASE WHEN s.si >= 5000 THEN 1 ELSE 0 END AS BIGINT) AS a,
         CAST(CASE WHEN l.keep THEN 1 ELSE 0 END AS BIGINT) AS b
  FROM scores s JOIN labels l USING (doc_id)
), cells AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(sum(a * b) AS BIGINT) AS n11,
         CAST(sum(a * (1 - b)) AS BIGINT) AS n10,
         CAST(sum((1 - a) * b) AS BIGINT) AS n01,
         CAST(sum((1 - a) * (1 - b)) AS BIGINT) AS n00
  FROM e
)
SELECT n, n11, n10, n01, n00,
       CAST(CASE WHEN {den} = 0 THEN NULL
            WHEN {num} >= 0 THEN ({num} * 1000000) // {den}
            ELSE -((-({num}) * 1000000) // {den}) END AS BIGINT)
         AS kappa_ppm,
       CAST(((n11 + n00) * 1000000) // n AS BIGINT) AS po_ppm
FROM cells
"""


def q312_categorical_effect_size(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cramér's V and Pearson's contingency coefficient for the
    lang × source table — the EFFECT-SIZE companions to the q182-style
    chi-square and the q282 NMI: the test says whether association
    exists, these say how strong it is on a 0..1 scale comparable
    across table shapes.

    Exactness: the q182 milli-unit idiom in the WIDE type — per cell
    d = o·N − r·c and term_milli = d² div M ·1000 + (d² mod M)·1000
    div M with M = N·r·c, all DECIMAL(38,0)/HUGEINT, so the cross-cell
    sum is exact; V = √(χ²/(N·min(r−1,c−1))) and C = √(χ²/(χ²+N)) are
    single double chains over the exact milli sum.

    Magnitude audit: d² ≤ N⁴ fits DECIMAL(38,0) to N ≈ 1.8e9 docs —
    an order past any current fixture; beyond that the documented
    big-N path splits d² through _floor_scaled_div limbs (the q233
    machinery). Zero cells of the FULL grid contribute r·c/N like
    q182.

    Shape at 100 TB: one grouped corpus pass to ≤ |langs|·|sources|
    cells; margins and the statistic are grid-sized reductions."""
    docs = load_table(spark, sf_dir, "documents")
    cells = docs.groupBy("lang", "source").agg(F.count("*").alias("o"))
    rows_m = cells.groupBy("lang").agg(F.sum("o").alias("r"))
    cols_m = cells.groupBy("source").agg(F.sum("o").alias("c"))
    tot = cells.agg(F.sum("o").alias("n"))
    grid = rows_m.crossJoin(cols_m)
    j = (
        grid.join(cells, ["lang", "source"], "left")
        .withColumn("o", F.coalesce("o", F.lit(0)))
        .crossJoin(F.broadcast(tot))
    )
    term = F.expr(
        "(CAST(o AS DECIMAL(38,0)) * n - CAST(r AS DECIMAL(38,0)) * c)"
        " * (CAST(o AS DECIMAL(38,0)) * n - CAST(r AS DECIMAL(38,0)) * c)"
        " div (CAST(n AS DECIMAL(38,0)) * r * c) * 1000"
        " + ((CAST(o AS DECIMAL(38,0)) * n - CAST(r AS DECIMAL(38,0)) * c)"
        "    * (CAST(o AS DECIMAL(38,0)) * n - CAST(r AS DECIMAL(38,0)) * c)"
        "    % (CAST(n AS DECIMAL(38,0)) * r * c)) * 1000"
        "   div (CAST(n AS DECIMAL(38,0)) * r * c)"
    )
    agg = j.agg(
        F.max("n").alias("n"),
        F.countDistinct("lang").alias("nr"),
        F.countDistinct("source").alias("nc"),
        F.sum(term).alias("chi2_milli"),
    )
    return agg.select(
        "n",
        ((F.col("nr") - 1) * (F.col("nc") - 1)).alias("dof"),
        "chi2_milli",
        F.round(
            F.expr(
                "sqrt(CAST(chi2_milli AS DOUBLE) / 1000.0e0"
                " / (CAST(n AS DOUBLE)"
                "    * least(CAST(nr - 1 AS DOUBLE), CAST(nc - 1 AS DOUBLE))))"
            ),
            6,
        ).alias("cramers_v"),
        F.round(
            F.expr(
                "sqrt((CAST(chi2_milli AS DOUBLE) / 1000.0e0)"
                " / (CAST(chi2_milli AS DOUBLE) / 1000.0e0"
                "    + CAST(n AS DOUBLE)))"
            ),
            6,
        ).alias("contingency_c"),
    )


_Q312_SQL = """
WITH cells AS (
  SELECT lang, source, CAST(count(*) AS BIGINT) AS o
  FROM documents GROUP BY lang, source
), rows_m AS (
  SELECT lang, CAST(sum(o) AS BIGINT) AS r FROM cells GROUP BY lang
), cols_m AS (
  SELECT source, CAST(sum(o) AS BIGINT) AS c FROM cells GROUP BY source
), tot AS (
  SELECT CAST(sum(o) AS BIGINT) AS n FROM cells
), grid AS (
  SELECT rows_m.lang, cols_m.source, rows_m.r, cols_m.c,
         coalesce(cells.o, 0) AS o
  FROM rows_m CROSS JOIN cols_m
  LEFT JOIN cells ON cells.lang = rows_m.lang
                 AND cells.source = cols_m.source
), agg AS (
  SELECT max(n) AS n,
         CAST(count(DISTINCT lang) AS BIGINT) AS nr,
         CAST(count(DISTINCT source) AS BIGINT) AS nc,
         CAST(sum(
           (CAST(o AS HUGEINT) * n - CAST(r AS HUGEINT) * c)
           * (CAST(o AS HUGEINT) * n - CAST(r AS HUGEINT) * c)
           // (CAST(n AS HUGEINT) * r * c) * 1000
           + ((CAST(o AS HUGEINT) * n - CAST(r AS HUGEINT) * c)
              * (CAST(o AS HUGEINT) * n - CAST(r AS HUGEINT) * c)
              % (CAST(n AS HUGEINT) * r * c)) * 1000
             // (CAST(n AS HUGEINT) * r * c)
         ) AS BIGINT) AS chi2_milli
  FROM grid CROSS JOIN tot
)
SELECT n,
       CAST((nr - 1) * (nc - 1) AS BIGINT) AS dof,
       chi2_milli,
       round(sqrt(CAST(chi2_milli AS DOUBLE) / 1000.0e0
             / (CAST(n AS DOUBLE)
                * least(CAST(nr - 1 AS DOUBLE), CAST(nc - 1 AS DOUBLE)))), 6)
         AS cramers_v,
       round(sqrt((CAST(chi2_milli AS DOUBLE) / 1000.0e0)
             / (CAST(chi2_milli AS DOUBLE) / 1000.0e0
                + CAST(n AS DOUBLE))), 6) AS contingency_c
FROM agg
"""


def q313_g_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G-test (log-likelihood-ratio) of lang × source independence —
    the information-theoretic twin of the Pearson chi-square (q312
    uses the same table): G = 2·Σ o·ln(o·N/(r·c)), which is also
    exactly 2N·I(lang; source) in nats, tying the test statistic to
    the q282 mutual information.

    Exactness: each cell term o·(ln o + ln N − ln r − ln c) is ONE
    deterministic double chain with every CAST→DOUBLE operand a plain
    count < 2^53 (the log of the ratio is split into single-count
    logs precisely so no N²-scale product ever meets a double — the
    q78 lesson; ln is a correctly-rounded seam in both engines),
    floored to MICRO units BEFORE the cross-cell sum — the
    quantize-pre-sum discipline; zero cells contribute 0 by the
    x·ln x → 0 limit, taken explicitly.

    Magnitude audit: counts stay < 2^53 to N ≈ 9e15 docs; G_micro
    ≤ 2N·ln(min(r,c))·1e6 ~ 1e18 at 1e11 docs sits inside BIGINT.

    Shape at 100 TB: identical to q312 — one grouped pass to ≤100
    cells, margins, a grid-sized reduction."""
    docs = load_table(spark, sf_dir, "documents")
    cells = docs.groupBy("lang", "source").agg(F.count("*").alias("o"))
    rows_m = cells.groupBy("lang").agg(F.sum("o").alias("r"))
    cols_m = cells.groupBy("source").agg(F.sum("o").alias("c"))
    tot = cells.agg(F.sum("o").alias("n"))
    j = (
        rows_m.crossJoin(cols_m)
        .join(cells, ["lang", "source"], "left")
        .withColumn("o", F.coalesce("o", F.lit(0)))
        .crossJoin(F.broadcast(tot))
    )
    term = (
        "CASE WHEN o = 0 THEN 0L ELSE"
        " CAST(floor(CAST(o AS DOUBLE)"
        "  * (ln(CAST(o AS DOUBLE)) + ln(CAST(n AS DOUBLE))"
        "     - ln(CAST(r AS DOUBLE)) - ln(CAST(c AS DOUBLE)))"
        "  * 1e6) AS BIGINT) END"
    )
    agg = j.agg(
        F.max("n").alias("n"),
        F.countDistinct("lang").alias("nr"),
        F.countDistinct("source").alias("nc"),
        F.sum(F.expr(term)).alias("half_g_micro"),
    )
    return agg.select(
        "n",
        ((F.col("nr") - 1) * (F.col("nc") - 1)).alias("dof"),
        (2 * F.col("half_g_micro")).alias("g_micro"),
        F.round(
            F.expr("CAST(2 * half_g_micro AS DOUBLE) / 1e6"), 3
        ).alias("g_stat"),
        F.round(
            F.expr(
                "CAST(half_g_micro AS DOUBLE) / 1e6 / CAST(n AS DOUBLE)"
            ),
            6,
        ).alias("mutual_info_nats"),
    )


_Q313_SQL = """
WITH cells AS (
  SELECT lang, source, CAST(count(*) AS BIGINT) AS o
  FROM documents GROUP BY lang, source
), rows_m AS (
  SELECT lang, CAST(sum(o) AS BIGINT) AS r FROM cells GROUP BY lang
), cols_m AS (
  SELECT source, CAST(sum(o) AS BIGINT) AS c FROM cells GROUP BY source
), tot AS (
  SELECT CAST(sum(o) AS BIGINT) AS n FROM cells
), grid AS (
  SELECT rows_m.lang, cols_m.source, rows_m.r, cols_m.c,
         coalesce(cells.o, 0) AS o
  FROM rows_m CROSS JOIN cols_m
  LEFT JOIN cells ON cells.lang = rows_m.lang
                 AND cells.source = cols_m.source
), agg AS (
  SELECT max(n) AS n,
         CAST(count(DISTINCT lang) AS BIGINT) AS nr,
         CAST(count(DISTINCT source) AS BIGINT) AS nc,
         CAST(sum(CASE WHEN o = 0 THEN 0 ELSE
           CAST(floor(CAST(o AS DOUBLE)
             * (ln(CAST(o AS DOUBLE)) + ln(CAST(n AS DOUBLE))
                - ln(CAST(r AS DOUBLE)) - ln(CAST(c AS DOUBLE)))
             * 1e6) AS BIGINT) END) AS BIGINT) AS half_g_micro
  FROM grid CROSS JOIN tot
)
SELECT n,
       CAST((nr - 1) * (nc - 1) AS BIGINT) AS dof,
       CAST(2 * half_g_micro AS BIGINT) AS g_micro,
       round(CAST(2 * half_g_micro AS DOUBLE) / 1e6, 3) AS g_stat,
       round(CAST(half_g_micro AS DOUBLE) / 1e6 / CAST(n AS DOUBLE), 6)
         AS mutual_info_nats
FROM agg
"""


def q319_source_tvd_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT total variation distance between every source pair's
    doc-length distributions — the drift metric that bounds how much
    ANY event's probability can differ between two sources, completing
    the divergence suite (JS q211, PSI q192, Wasserstein q250, KS
    q309) with the only member that is exact in pure integers:
    TVD = ½·Σ_v |p₁(v) − p₂(v)|.

    Inner-join-plus-totals algebra (no full-outer join, no dense value
    grid): with counts c₁,c₂ and totals N₁,N₂,
    Σ_v |c₁N₂ − c₂N₁| = 2·N₁N₂ + Σ_{v∈common}(|c₁N₂−c₂N₁| − c₁N₂ − c₂N₁)
    because one-sided values contribute their full cN mass — so ONE
    inner join on the value domain suffices and tvd_ppm =
    (num·10⁶) div (2·N₁N₂) is exact end to end.

    Magnitude audit: c·N ~ N² wraps BIGINT at N ≈ 3e9 docs — the cross
    products accumulate in DECIMAL(38,0)/HUGEINT (the q233 rule).

    Shape at 100 TB: one grouped corpus pass to the (source, length)
    count table (|sources|·|lengths| rows, corpus-independent); the
    pair join runs entirely on that bounded relation. Emits pairs with
    ≥1 common length (a fully disjoint pair — TVD exactly 1 — has no
    join row; n_common_lengths makes the support explicit)."""
    from ...operators.incremental import tvd_matrix

    docs = load_table(spark, sf_dir, "documents")
    cnt = docs.groupBy(
        F.col("source"), F.length("text").alias("v")
    ).agg(F.count("*").alias("c"))
    return tvd_matrix(cnt).select(
        F.col("grp_a").alias("src_a"),
        F.col("grp_b").alias("src_b"),
        "n_a",
        "n_b",
        F.col("n_common_values").alias("n_common_lengths"),
        "tvd_ppm",
    )


_Q319_SQL = """
WITH cnt AS (
  SELECT source, length(text) AS v, CAST(count(*) AS BIGINT) AS c
  FROM documents GROUP BY 1, 2
), tot AS (
  SELECT source, CAST(sum(c) AS BIGINT) AS n FROM cnt GROUP BY source
), sides AS (
  SELECT cnt.source, cnt.v, cnt.c, tot.n
  FROM cnt JOIN tot USING (source)
), common AS (
  SELECT a.source AS src_a, b.source AS src_b,
         max(a.n) AS n_a, max(b.n) AS n_b,
         sum(abs(CAST(a.c AS HUGEINT) * b.n - CAST(b.c AS HUGEINT) * a.n)
             - CAST(a.c AS HUGEINT) * b.n
             - CAST(b.c AS HUGEINT) * a.n) AS adj,
         CAST(count(*) AS BIGINT) AS n_common_lengths
  FROM sides a JOIN sides b ON a.v = b.v AND a.source < b.source
  GROUP BY 1, 2
)
SELECT src_a, src_b, n_a, n_b, n_common_lengths,
       CAST((2 * CAST(n_a AS HUGEINT) * n_b + adj) * 1000000
            // (2 * CAST(n_a AS HUGEINT) * n_b) AS BIGINT) AS tvd_ppm
FROM common
ORDER BY src_a, src_b
"""


def q332_mood_median_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mood's median test — do the sources share a common median doc
    length? The coarsest, most robust k-sample location test,
    completing the suite (Kruskal-Wallis q234 uses full ranks,
    Friedman q322 blocks by day; Mood reduces each doc to one bit:
    above the POOLED median or not, then a 2×k chi-square).

    Exactness: the pooled lower median is a true order statistic off
    the length count table (q300 idiom: smallest v with cum ≥
    (N+1) div 2); the 2×k chi-square uses the q182 exact-integer
    cell terms — d = o·N − r·c, term_milli = (d² div M)·1000 +
    (d² mod M)·1000 div M with M = N·r·c — so the statistic is an
    exact BIGINT milli sum (floor understates by < 1 milli/cell, a
    DEFINED statistic). d² runs in DECIMAL(38,0)/HUGEINT (operand
    cast before multiply, the q233 rule).

    Shape at 100 TB: one grouped corpus pass to the (source, length)
    count table; the median, the 2×k table (2·|sources| cells) and
    the reduction all run on corpus-independent relations."""
    docs = load_table(spark, sf_dir, "documents")
    cnt = docs.groupBy(
        "source", F.length("text").alias("v")
    ).agg(F.count("*").alias("c"))
    vc = cnt.groupBy("v").agg(F.sum("c").alias("cv"))
    w = W.orderBy("v").rowsBetween(W.unboundedPreceding, 0)
    cum = vc.select("v", F.sum("cv").over(w).alias("cum"))
    tot = vc.agg(F.sum("cv").alias("n"))
    med = (
        cum.crossJoin(F.broadcast(tot))
        .filter(F.col("cum") >= F.expr("(n + 1) div 2"))
        .agg(F.min("v").alias("m_star"))
    )
    cells = (
        cnt.crossJoin(F.broadcast(med))
        .groupBy("source")
        .agg(
            F.sum(F.when(F.col("v") > F.col("m_star"), F.col("c")).otherwise(0))
            .alias("above"),
            F.sum(F.when(F.col("v") <= F.col("m_star"), F.col("c")).otherwise(0))
            .alias("below"),
        )
        .select(
            "source",
            F.explode(
                F.array(
                    F.struct(F.lit(1).alias("is_above"), F.col("above").alias("o")),
                    F.struct(F.lit(0).alias("is_above"), F.col("below").alias("o")),
                )
            ).alias("s"),
        )
        .select("source", F.col("s.is_above").alias("is_above"), F.col("s.o").alias("o"))
    )
    rows_m = cells.groupBy("source").agg(F.sum("o").alias("r"))
    cols_m = cells.groupBy("is_above").agg(F.sum("o").alias("cc"))
    terms = (
        cells.join(rows_m, "source")
        .join(F.broadcast(cols_m), "is_above")
        .crossJoin(F.broadcast(tot))
        .select(
            F.expr(
                "CAST(o AS DECIMAL(38,0)) * n - CAST(r AS DECIMAL(38,0)) * cc"
            ).alias("d"),
            F.expr("CAST(n AS DECIMAL(38,0)) * r * cc").alias("m"),
        )
        .filter(F.col("m") > 0)
        .select(
            F.expr(
                "CAST((d * d) div m AS BIGINT) * 1000"
                " + CAST(((d * d) % m) * 1000 div m AS BIGINT)"
            ).alias("term_milli")
        )
    )
    stat = terms.agg(F.sum("term_milli").alias("chi2_milli"), F.count("*").alias("nc"))
    return (
        stat.crossJoin(F.broadcast(med))
        .crossJoin(F.broadcast(tot))
        .select(
            F.col("n").alias("n_docs"),
            F.col("m_star").alias("median_len"),
            (F.col("nc") / 2).cast("long").alias("n_sources"),
            (F.col("nc") / 2 - 1).cast("long").alias("df"),
            "chi2_milli",
        )
    )


_Q332_SQL = """
WITH cnt AS (
  SELECT source, length(text) AS v, CAST(count(*) AS BIGINT) AS c
  FROM documents GROUP BY 1, 2
), vc AS (
  SELECT v, CAST(sum(c) AS BIGINT) AS cv FROM cnt GROUP BY v
), cum AS (
  SELECT v, sum(cv) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS cum FROM vc
), tot AS (SELECT CAST(sum(cv) AS BIGINT) AS n FROM vc),
med AS (
  SELECT CAST(min(v) AS BIGINT) AS m_star
  FROM cum CROSS JOIN tot WHERE cum >= (n + 1) // 2
), cells AS (
  SELECT source, is_above,
         CAST(CASE WHEN is_above = 1 THEN above ELSE below END AS BIGINT) AS o
  FROM (
    SELECT cnt.source,
           sum(CASE WHEN cnt.v > med.m_star THEN cnt.c ELSE 0 END) AS above,
           sum(CASE WHEN cnt.v <= med.m_star THEN cnt.c ELSE 0 END) AS below
    FROM cnt CROSS JOIN med GROUP BY 1
  ) CROSS JOIN (VALUES (1), (0)) f(is_above)
), rows_m AS (
  SELECT source, CAST(sum(o) AS BIGINT) AS r FROM cells GROUP BY source
), cols_m AS (
  SELECT is_above, CAST(sum(o) AS BIGINT) AS cc FROM cells GROUP BY is_above
), terms AS (
  SELECT CAST((d * d) // m AS BIGINT) * 1000
           + CAST(((d * d) % m) * 1000 // m AS BIGINT) AS term_milli
  FROM (
    SELECT CAST(cl.o AS HUGEINT) * tot.n - CAST(rm.r AS HUGEINT) * cm.cc AS d,
           CAST(tot.n AS HUGEINT) * rm.r * cm.cc AS m
    FROM cells cl
    JOIN rows_m rm USING (source)
    JOIN cols_m cm USING (is_above)
    CROSS JOIN tot
  ) WHERE m > 0
), stat AS (
  SELECT CAST(sum(term_milli) AS BIGINT) AS chi2_milli,
         CAST(count(*) AS BIGINT) AS nc
  FROM terms
)
SELECT tot.n AS n_docs, med.m_star AS median_len,
       CAST(stat.nc / 2 AS BIGINT) AS n_sources,
       CAST(stat.nc / 2 - 1 AS BIGINT) AS df,
       stat.chi2_milli
FROM stat CROSS JOIN med CROSS JOIN tot
"""

def q340_hellinger_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT-support pairwise Hellinger distance between every source
    pair's doc-length distributions — the bounded, metric (triangle-
    inequality) member of the divergence suite (TVD q319, JS q211, PSI
    q192, Wasserstein q250, KS q309): H² = 1 − BC with the Bhattacharyya
    coefficient BC = Σ_v √(p₁(v)·p₂(v)).

    Only COMMON values contribute to BC (√(p·0) = 0), so the same
    inner-join-on-the-value-domain shape as q319 suffices — no full
    outer join, no dense grid. Per-common-value terms are ONE identical
    float chain over exact integer counts — √((c₁/N₁)·(c₂/N₂)) — rounded
    to pico BEFORE the cross-value sum (the q211 quantize-pre-sum rule),
    so bc_pico is an exact order-independent BIGINT; hellinger_micro =
    round(√(max(0, 1 − bc_pico/10¹²))·10⁶) is one final sqrt seam over
    that exact integer (the greatest() guards pico round-up past 1).

    Shape at 100 TB: one grouped corpus pass to the (source, length)
    count table (corpus-independent size); the pair join runs on that
    bounded relation only."""
    docs = load_table(spark, sf_dir, "documents")
    cnt = docs.groupBy(
        F.col("source"), F.length("text").alias("v")
    ).agg(F.count("*").alias("c"))
    tot = cnt.groupBy("source").agg(F.sum("c").alias("n"))
    a = cnt.join(tot, "source").select(
        F.col("source").alias("src_a"), F.col("v").alias("_v"),
        F.col("c").alias("ca"), F.col("n").alias("na"),
    )
    b = cnt.join(tot, "source").select(
        F.col("source").alias("src_b"), F.col("v").alias("_v"),
        F.col("c").alias("cb"), F.col("n").alias("nb"),
    )
    term = (
        "CAST(round(sqrt((CAST(ca AS DOUBLE) / CAST(na AS DOUBLE))"
        " * (CAST(cb AS DOUBLE) / CAST(nb AS DOUBLE))) * 1e12) AS BIGINT)"
    )
    common = (
        a.join(b, "_v")
        .filter(F.col("src_a") < F.col("src_b"))
        .groupBy("src_a", "src_b")
        .agg(
            F.max("na").alias("n_a"),
            F.max("nb").alias("n_b"),
            F.count("*").alias("n_common_lengths"),
            F.sum(F.expr(term)).alias("bc_pico"),
        )
    )
    return common.select(
        "src_a", "src_b", "n_a", "n_b", "n_common_lengths", "bc_pico",
        F.expr(
            "CAST(round(sqrt(greatest(0.0e0,"
            " 1.0e0 - CAST(bc_pico AS DOUBLE) / 1e12)) * 1e6) AS BIGINT)"
        ).alias("hellinger_micro"),
    ).orderBy("src_a", "src_b")


_Q340_SQL = """
WITH cnt AS (
  SELECT source, length(text) AS v, CAST(count(*) AS BIGINT) AS c
  FROM documents GROUP BY 1, 2
), tot AS (
  SELECT source, CAST(sum(c) AS BIGINT) AS n FROM cnt GROUP BY source
), sides AS (
  SELECT cnt.source, cnt.v, cnt.c, tot.n
  FROM cnt JOIN tot USING (source)
), common AS (
  SELECT a.source AS src_a, b.source AS src_b,
         max(a.n) AS n_a, max(b.n) AS n_b,
         CAST(count(*) AS BIGINT) AS n_common_lengths,
         CAST(sum(CAST(round(sqrt((CAST(a.c AS DOUBLE) / CAST(a.n AS DOUBLE))
              * (CAST(b.c AS DOUBLE) / CAST(b.n AS DOUBLE))) * 1e12)
              AS BIGINT)) AS BIGINT) AS bc_pico
  FROM sides a JOIN sides b ON a.v = b.v AND a.source < b.source
  GROUP BY 1, 2
)
SELECT src_a, src_b, n_a, n_b, n_common_lengths, bc_pico,
       CAST(round(sqrt(greatest(0.0e0,
            1.0e0 - CAST(bc_pico AS DOUBLE) / 1e12)) * 1e6) AS BIGINT)
         AS hellinger_micro
FROM common
ORDER BY src_a, src_b
"""

def q348_drift_tier_scoreboard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Drift-divergence scoreboard — ONE row per drift metric in the
    divergence suite (TVD q319, Hellinger q340, JS q211, PSI q192,
    KS q309, Wasserstein q250, Cramér-von Mises q343), each arm
    composing the EXISTING audited plan unchanged and reducing it to
    (metric, n_rows, max_stat_micro): the q317/q339 scoreboard
    treatment applied to the drift family, so distribution drift
    across seven lenses is one driver-visible relation instead of
    seven audits to eyeball. max_stat_micro is each metric's own
    micro-scaled statistic (ppm for the ppm metrics) — the DRIFT
    dial, not a cross-metric comparison.

    Shape at 100 TB: every arm is its own already-audited count-table-
    bounded plan; the scoreboard adds seven 1-row aggregates and a
    7-row union."""
    from ..relational import q250_wasserstein_drift, q343_cramer_von_mises

    def arm(df: DataFrame, metric: str, stat: str) -> DataFrame:
        return df.agg(
            F.lit(metric).alias("metric"),
            F.count("*").cast("long").alias("n_rows"),
            F.expr(stat).cast("long").alias("max_stat_micro"),
        ).select("metric", "n_rows", "max_stat_micro")

    arms = [
        arm(q319_source_tvd_matrix(spark, sf_dir), "1_tvd_pairs",
            "max(tvd_ppm)"),
        arm(q340_hellinger_matrix(spark, sf_dir), "2_hellinger_pairs",
            "max(hellinger_micro)"),
        arm(q211_js_source_drift(spark, sf_dir), "3_js_vs_corpus",
            "max(js_micro)"),
        arm(q192_psi_drift(spark, sf_dir), "4_psi_vs_corpus",
            "max(psi_micro)"),
        arm(q309_ks_two_sample(spark, sf_dir), "5_ks_two_sample",
            "max(d_ppm)"),
        arm(q250_wasserstein_drift(spark, sf_dir), "6_wasserstein",
            "max(w1_norm_micro)"),
        arm(q343_cramer_von_mises(spark, sf_dir), "7_cvm_two_sample",
            "max(t_micro)"),
    ]
    out = arms[0]
    for a in arms[1:]:
        out = out.unionByName(a)
    return out.orderBy("metric")


def _q348_sql() -> str:
    from ..relational import _Q250_SQL, _Q343_SQL

    def arm(sql: str, metric: str, stat: str) -> str:
        return f"""
SELECT '{metric}' AS metric,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST({stat} AS BIGINT) AS max_stat_micro
FROM ({sql}) arm_{metric}"""

    return (
        arm(_Q319_SQL, "1_tvd_pairs", "max(tvd_ppm)")
        + "\nUNION ALL\n"
        + arm(_Q340_SQL, "2_hellinger_pairs", "max(hellinger_micro)")
        + "\nUNION ALL\n"
        + arm(_Q211_SQL, "3_js_vs_corpus", "max(js_micro)")
        + "\nUNION ALL\n"
        + arm(_Q192_SQL, "4_psi_vs_corpus", "max(psi_micro)")
        + "\nUNION ALL\n"
        + arm(_Q309_SQL, "5_ks_two_sample", "max(d_ppm)")
        + "\nUNION ALL\n"
        + arm(_Q250_SQL, "6_wasserstein", "max(w1_norm_micro)")
        + "\nUNION ALL\n"
        + arm(_Q343_SQL, "7_cvm_two_sample", "max(t_micro)")
        + "\nORDER BY metric"
    )


def q363_lift_gains(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decile lift / cumulative-gains table: does event VALUE rank
    purchases to the top? The campaign-targeting standard that
    complements the threshold-free AUC (q272) and the operating-point
    sweep (q143): population deciles by score (value DESC), each
    reporting its positive rate, lift over the base rate, and the
    cumulative share of all positives captured — the 'read the top-k
    deciles' planning relation.

    Exactness: everything integer — values quantize to milli; the
    EXACT global rank uses the q214/q224 two-phase idiom (exclusive
    cumulative count over the bounded distinct-score relation + a
    score-partitioned row_number on event_id for the deterministic
    tie order), decile = ((rank−1)·10) div N, and every ratio is a
    cleared-denominator DECIMAL div. Zero positives → NULL lift/gain.

    Shape at 100 TB: one (score) count-table collapse, one window over
    the bounded distinct-score relation, one score-partitioned
    within-group window, a broadcast 1-row totals join, a 10-row
    rollup. No global sort ever touches raw rows (the oracle runs the
    naive ORDER BY rank — same result)."""
    events = load_table(spark, sf_dir, "events")
    e = events.select(
        "event_id",
        F.expr("CAST(round(value * 1000) AS BIGINT)").alias("si"),
        F.expr(
            "CAST(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END"
            " AS BIGINT)"
        ).alias("y"),
    )
    cnt = e.groupBy("si").agg(F.count("*").alias("c"))
    w_above = W.orderBy(F.col("si").desc()).rowsBetween(
        W.unboundedPreceding, -1
    )
    cum = cnt.select(
        "si", F.coalesce(F.sum("c").over(w_above), F.lit(0)).alias("above")
    )
    tot = e.agg(
        F.count("*").alias("n_tot"),
        F.sum("y").cast("long").alias("pos_tot"),
    )
    w_in = W.partitionBy("si").orderBy("event_id")
    ranked = (
        e.join(cum, "si")
        .withColumn("r", F.col("above") + F.row_number().over(w_in))
        .crossJoin(F.broadcast(tot))
        .select(
            F.expr("((r - 1) * 10) div n_tot").alias("decile"),
            "y",
            "n_tot",
            "pos_tot",
        )
    )
    per = ranked.groupBy("decile", "n_tot", "pos_tot").agg(
        F.count("*").alias("n"),
        F.sum("y").cast("long").alias("n_pos"),
    )
    w_cum = W.orderBy("decile").rowsBetween(W.unboundedPreceding, 0)
    return (
        per.withColumn("cum_pos", F.sum("n_pos").over(w_cum))
        .select(
            "decile",
            "n",
            "n_pos",
            F.expr("(n_pos * 1000000) div n").alias("pos_rate_ppm"),
            F.expr(
                "CASE WHEN pos_tot > 0 THEN"
                " CAST((CAST(n_pos AS DECIMAL(38,0)) * n_tot * 1000000)"
                " div (CAST(n AS DECIMAL(38,0)) * pos_tot) AS BIGINT) END"
            ).alias("lift_ppm"),
            F.expr(
                "CASE WHEN pos_tot > 0 THEN"
                " (cum_pos * 1000000) div pos_tot END"
            ).alias("cum_gain_ppm"),
        )
        .orderBy("decile")
    )


_Q363_SQL = """
WITH e AS (
  SELECT event_id,
         CAST(round(value * 1000) AS BIGINT) AS si,
         CAST(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END
              AS BIGINT) AS y
  FROM events
), tot AS (
  SELECT CAST(count(*) AS BIGINT) AS n_tot,
         CAST(sum(y) AS BIGINT) AS pos_tot
  FROM e
), ranked AS (
  SELECT ((row_number() OVER (ORDER BY si DESC, event_id) - 1) * 10)
           // n_tot AS decile,
         y, n_tot, pos_tot
  FROM e CROSS JOIN tot
), per AS (
  SELECT decile, n_tot, pos_tot,
         CAST(count(*) AS BIGINT) AS n,
         CAST(sum(y) AS BIGINT) AS n_pos
  FROM ranked
  GROUP BY decile, n_tot, pos_tot
)
SELECT decile, n, n_pos,
       CAST((n_pos * 1000000) // n AS BIGINT) AS pos_rate_ppm,
       CASE WHEN pos_tot > 0 THEN
         CAST((CAST(n_pos AS HUGEINT) * n_tot * 1000000)
              // (CAST(n AS HUGEINT) * pos_tot) AS BIGINT) END AS lift_ppm,
       CASE WHEN pos_tot > 0 THEN
         CAST((sum(n_pos) OVER (ORDER BY decile
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               * 1000000) // pos_tot AS BIGINT) END AS cum_gain_ppm
FROM per
ORDER BY decile
"""


def q364_l_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """l-diversity audit (Machanavajjhala et al. 2007) — the privacy
    gate k-anonymity (q123) misses: an equivalence class can be large
    yet reveal its members' SENSITIVE attribute when every row shares
    one value (the homogeneity attack). Quasi-identifiers are
    (lang, source); the sensitive attribute is the 100-char length
    bucket; each class reports its size, distinct-l, and entropy
    l-diversity (entropy of the sensitive distribution, the stricter
    criterion), flagged below l = 3.

    Exactness: counts exact; the entropy is a per-sensitive-value
    double term −(c/n)·ln(c/n) over exact integers, quantized to nano
    BEFORE the per-class sum (integer addition — order-independent,
    the q360 discipline); entropy_l_milli = round(exp(H)·1000) makes
    the entropy-l comparable to the distinct-l on one scale.

    Shape at 100 TB: two map-side-combined grouped counts on bounded
    composite keys; the flagged classes a human reviews are bounded by
    the QI space, not the data."""
    docs = load_table(spark, sf_dir, "documents")
    cells = (
        docs.select(
            "lang",
            "source",
            (F.floor(F.col("n_chars") / 100) * 100).alias("sens"),
        )
        .groupBy("lang", "source", "sens")
        .agg(F.count("*").alias("c"))
    )
    w_cls = W.partitionBy("lang", "source")
    per = cells.withColumn("n", F.sum("c").over(w_cls)).select(
        "lang",
        "source",
        "c",
        "n",
        F.expr(
            "CAST(round(-(CAST(c AS DOUBLE) / n)"
            " * ln(CAST(c AS DOUBLE) / n) * 1e9) AS BIGINT)"
        ).alias("h_nano"),
    )
    cls = per.groupBy("lang", "source").agg(
        F.max("n").cast("long").alias("class_size"),
        F.count("*").alias("l_distinct"),
        F.sum("h_nano").cast("long").alias("h_nano"),
    )
    return cls.select(
        "lang",
        "source",
        "class_size",
        "l_distinct",
        F.expr(
            "CAST(round(exp(CAST(h_nano AS DOUBLE) / 1e9) * 1000)"
            " AS BIGINT)"
        ).alias("entropy_l_milli"),
        (F.col("l_distinct") < 3).alias("below_l3"),
    ).orderBy("lang", "source")


_Q364_SQL = """
WITH cells AS (
  SELECT lang, source,
         CAST(floor(n_chars / 100) * 100 AS BIGINT) AS sens,
         CAST(count(*) AS BIGINT) AS c
  FROM documents
  GROUP BY lang, source, 3
), per AS (
  SELECT lang, source, c,
         sum(c) OVER (PARTITION BY lang, source) AS n
  FROM cells
), terms AS (
  SELECT lang, source, c, n,
         CAST(round(-(CAST(c AS DOUBLE) / n)
                    * ln(CAST(c AS DOUBLE) / n) * 1e9) AS BIGINT)
           AS h_nano
  FROM per
), cls AS (
  SELECT lang, source,
         CAST(max(n) AS BIGINT) AS class_size,
         CAST(count(*) AS BIGINT) AS l_distinct,
         CAST(sum(h_nano) AS BIGINT) AS h_nano
  FROM terms
  GROUP BY lang, source
)
SELECT lang, source, class_size, l_distinct,
       CAST(round(exp(CAST(h_nano AS DOUBLE) / 1e9) * 1000) AS BIGINT)
         AS entropy_l_milli,
       l_distinct < 3 AS below_l3
FROM cls
ORDER BY lang, source
"""


def q365_t_closeness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """t-closeness audit (Li, Li & Venkatasubramanian 2007) — the
    third privacy gate after k-anonymity (q123) and l-diversity
    (q364): a class can be large AND diverse yet still leak when its
    sensitive distribution DIFFERS from the table's (skewness attack);
    t-closeness bounds the total-variation distance between each
    class's sensitive distribution and the global one. QI = (lang,
    source); sensitive = the 100-char length bucket; flagged above
    t = 0.2.

    Exactness: FULLY integer — TVD = ½Σ_v|c_v/n − C_v/N| clears
    denominators to Σ_v|c_v·N − C_v·n| (exact DECIMAL), and the
    absent-bucket tail Σ_{v∉class}C_v·n folds in algebraically as
    n·N − Σ_{v∈class}C_v·n (no dense class×bucket grid is ever
    built); t_ppm = (sum·10⁶) div (2·n·N).

    Shape at 100 TB: one (class, bucket) count pass, a broadcast join
    against the bounded global bucket relation, one class rollup."""
    docs = load_table(spark, sf_dir, "documents")
    cells = (
        docs.select(
            "lang",
            "source",
            (F.floor(F.col("n_chars") / 100) * 100).alias("sens"),
        )
        .groupBy("lang", "source", "sens")
        .agg(F.count("*").alias("c"))
    )
    glob = cells.groupBy("sens").agg(F.sum("c").cast("long").alias("cg"))
    tot = glob.agg(F.sum("cg").cast("long").alias("n_tot"))
    w_cls = W.partitionBy("lang", "source")
    per = (
        cells.join(F.broadcast(glob), "sens")
        .withColumn("n", F.sum("c").over(w_cls))
        .crossJoin(F.broadcast(tot))
    )
    cls = per.groupBy("lang", "source").agg(
        F.max("n").cast("long").alias("class_size"),
        F.max("n_tot").cast("long").alias("n_tot"),
        F.sum(
            F.expr(
                "abs(CAST(c AS DECIMAL(38,0)) * n_tot"
                " - CAST(cg AS DECIMAL(38,0)) * n)"
                " - CAST(cg AS DECIMAL(38,0)) * n"
            )
        ).alias("present_sum"),
    )
    return cls.select(
        "lang",
        "source",
        "class_size",
        F.expr(
            "CAST(((CAST(class_size AS DECIMAL(38,0)) * n_tot"
            " + present_sum) * 1000000)"
            " div (2 * CAST(class_size AS DECIMAL(38,0)) * n_tot)"
            " AS BIGINT)"
        ).alias("t_ppm"),
    ).withColumn("above_t_02", F.col("t_ppm") > 200000).orderBy(
        "lang", "source"
    )


_Q365_SQL = """
WITH cells AS (
  SELECT lang, source,
         CAST(floor(n_chars / 100) * 100 AS BIGINT) AS sens,
         CAST(count(*) AS BIGINT) AS c
  FROM documents
  GROUP BY lang, source, 3
), gdist AS (
  SELECT sens, CAST(sum(c) AS BIGINT) AS cg FROM cells GROUP BY sens
), tot AS (
  SELECT CAST(sum(cg) AS BIGINT) AS n_tot FROM gdist
), per AS (
  SELECT cells.lang, cells.source, cells.c, gdist.cg, tot.n_tot,
         sum(cells.c) OVER (PARTITION BY cells.lang, cells.source) AS n
  FROM cells JOIN gdist USING (sens) CROSS JOIN tot
), cls AS (
  SELECT lang, source,
         CAST(max(n) AS BIGINT) AS class_size,
         CAST(max(n_tot) AS BIGINT) AS n_tot,
         CAST(sum(abs(CAST(c AS HUGEINT) * n_tot
                      - CAST(cg AS HUGEINT) * n)
                  - CAST(cg AS HUGEINT) * n) AS HUGEINT) AS present_sum
  FROM per
  GROUP BY lang, source
)
SELECT lang, source, class_size,
       CAST(((CAST(class_size AS HUGEINT) * n_tot + present_sum)
             * 1000000)
            // (2 * CAST(class_size AS HUGEINT) * n_tot) AS BIGINT)
         AS t_ppm,
       CAST(((CAST(class_size AS HUGEINT) * n_tot + present_sum)
             * 1000000)
            // (2 * CAST(class_size AS HUGEINT) * n_tot) AS BIGINT)
         > 200000 AS above_t_02
FROM cls
ORDER BY lang, source
"""


def q369_auc_delong(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DeLong confidence interval for the ROC-AUC of the q363
    targeting score (event value → purchase): the standard
    nonparametric AUC variance (DeLong, DeLong & Clarke-Pearson 1988)
    via the placement-value decomposition — S10 over positives' V10,
    S01 over negatives' V01, SE = √(S10/n⁺ + S01/n⁻) — giving the CI
    that q272's point AUC (and this table's own auc_ppm) lacks.

    Exactness: the q272 count-table discipline — placement values
    come from cumulative positive/negative counts over the bounded
    distinct-score relation (never an n⁺×n⁻ pair join); auc_ppm is the
    exact integer (2·gt + ties)·10⁶ div (2·n⁺·n⁻); the only rationals
    (per-score-group squared deviations) quantize to pico BEFORE the
    sum (the q360 order-independence discipline); SE and the 1.96σ
    bounds (unclamped, documented) are one final double chain.
    Single-class data or n⁺ < 2 / n⁻ < 2 → NULL SE/CI.

    Shape at 100 TB: one (score) count-table collapse, two exclusive
    windows on the bounded score domain, a broadcast 1-row totals
    join, a 1-row reduction."""
    events = load_table(spark, sf_dir, "events")
    e = events.select(
        F.expr("CAST(round(value * 1000) AS BIGINT)").alias("si"),
        F.expr(
            "CAST(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END"
            " AS BIGINT)"
        ).alias("y"),
    )
    dom = e.groupBy("si").agg(
        F.sum("y").alias("cp"),
        F.sum(1 - F.col("y")).alias("cn"),
    )
    w_b = W.orderBy("si").rowsBetween(W.unboundedPreceding, -1)
    cum = dom.select(
        "si", "cp", "cn",
        F.coalesce(F.sum("cn").over(w_b), F.lit(0)).alias("nb"),
        F.coalesce(F.sum("cp").over(w_b), F.lit(0)).alias("pb"),
    )
    tot = dom.agg(
        F.sum("cp").cast("long").alias("np"),
        F.sum("cn").cast("long").alias("nn"),
        F.sum(F.expr("CAST(cp AS DECIMAL(38,0)) * cn")).alias("ties"),
    )
    gt = cum.agg(
        F.sum(F.expr("CAST(cp AS DECIMAL(38,0)) * nb")).alias("gt")
    )
    # nullif denominators: Spark's subexpression elimination hoists
    # shared divisions OUT of CASE guards, so an ANSI divide-by-zero
    # fires on single-class data even inside a gated branch — NULL
    # propagation is the safe idiom (the gates then never see it).
    auc = (
        "((2.0e0 * CAST(gt AS DOUBLE) + CAST(ties AS DOUBLE))"
        " / nullif(2.0e0 * CAST(np AS DOUBLE) * nn, 0.0e0))"
    )
    v = (
        "((CAST(nb AS DOUBLE) + CAST(cn AS DOUBLE) / 2)"
        " / nullif(CAST(nn AS DOUBLE), 0.0e0))"
    )
    wexpr = (
        "((CAST(np AS DOUBLE) - pb - cp + CAST(cp AS DOUBLE) / 2)"
        " / nullif(CAST(np AS DOUBLE), 0.0e0))"
    )
    terms = cum.crossJoin(F.broadcast(tot)).crossJoin(F.broadcast(gt))
    quad = terms.agg(
        F.sum(
            F.expr(
                f"CAST(round(cp * ({v} - {auc}) * ({v} - {auc}) * 1e12)"
                " AS DECIMAL(38,0))"
            )
        ).alias("s10_pico"),
        F.sum(
            F.expr(
                f"CAST(round(cn * ({wexpr} - {auc}) * ({wexpr} - {auc})"
                " * 1e12) AS DECIMAL(38,0))"
            )
        ).alias("s01_pico"),
    )
    se = (
        "sqrt(CAST(s10_pico AS DOUBLE) / 1e12"
        " / nullif(CAST(np - 1 AS DOUBLE), 0.0e0) / np"
        " + CAST(s01_pico AS DOUBLE) / 1e12"
        " / nullif(CAST(nn - 1 AS DOUBLE), 0.0e0) / nn)"
    )
    return (
        tot.crossJoin(F.broadcast(gt))
        .crossJoin(F.broadcast(quad))
        .select(
            F.col("np").alias("n_pos"),
            F.col("nn").alias("n_neg"),
            F.expr(
                "CASE WHEN np > 0 AND nn > 0 THEN"
                " CAST((2 * gt + ties) * 1000000"
                " div (2 * CAST(np AS DECIMAL(38,0)) * nn) AS BIGINT) END"
            ).alias("auc_ppm"),
            F.expr(
                "CASE WHEN np >= 2 AND nn >= 2 THEN"
                f" CAST(round({se} * 1e6) AS BIGINT) END"
            ).alias("se_micro"),
            F.expr(
                "CASE WHEN np >= 2 AND nn >= 2 THEN"
                f" CAST(round(({auc} - 1.96e0 * {se}) * 1e6) AS BIGINT)"
                " END"
            ).alias("ci_lo_micro"),
            F.expr(
                "CASE WHEN np >= 2 AND nn >= 2 THEN"
                f" CAST(round(({auc} + 1.96e0 * {se}) * 1e6) AS BIGINT)"
                " END"
            ).alias("ci_hi_micro"),
        )
    )


def _q369_sql() -> str:
    auc = (
        "((2.0 * CAST(gt AS DOUBLE) + CAST(ties AS DOUBLE))"
        " / nullif(2.0 * CAST(np AS DOUBLE) * nn, 0.0))"
    )
    v = (
        "((CAST(nb AS DOUBLE) + CAST(cn AS DOUBLE) / 2)"
        " / nullif(CAST(nn AS DOUBLE), 0.0))"
    )
    wexpr = (
        "((CAST(np AS DOUBLE) - pb - cp + CAST(cp AS DOUBLE) / 2)"
        " / nullif(CAST(np AS DOUBLE), 0.0))"
    )
    se = (
        "sqrt(CAST(s10_pico AS DOUBLE) / 1e12"
        " / nullif(CAST(np - 1 AS DOUBLE), 0.0) / np"
        " + CAST(s01_pico AS DOUBLE) / 1e12"
        " / nullif(CAST(nn - 1 AS DOUBLE), 0.0) / nn)"
    )
    return f"""
WITH e AS (
  SELECT CAST(round(value * 1000) AS BIGINT) AS si,
         CAST(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END
              AS BIGINT) AS y
  FROM events
), dom AS (
  SELECT si, CAST(sum(y) AS BIGINT) AS cp,
         CAST(sum(1 - y) AS BIGINT) AS cn
  FROM e GROUP BY si
), cum AS (
  SELECT si, cp, cn,
         coalesce(sum(cn) OVER (ORDER BY si
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS nb,
         coalesce(sum(cp) OVER (ORDER BY si
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS pb
  FROM dom
), tot AS (
  SELECT CAST(sum(cp) AS BIGINT) AS np,
         CAST(sum(cn) AS BIGINT) AS nn,
         CAST(sum(CAST(cp AS HUGEINT) * cn) AS HUGEINT) AS ties
  FROM dom
), gtx AS (
  SELECT CAST(sum(CAST(cp AS HUGEINT) * nb) AS HUGEINT) AS gt FROM cum
), quad AS (
  SELECT CAST(sum(CASE WHEN np >= 2 AND nn >= 2 THEN
                    CAST(round(cp * ({v} - {auc}) * ({v} - {auc}) * 1e12)
                         AS HUGEINT) ELSE 0 END) AS HUGEINT) AS s10_pico,
         CAST(sum(CASE WHEN np >= 2 AND nn >= 2 THEN
                    CAST(round(cn * ({wexpr} - {auc}) * ({wexpr} - {auc})
                               * 1e12) AS HUGEINT) ELSE 0 END) AS HUGEINT)
           AS s01_pico
  FROM cum CROSS JOIN tot CROSS JOIN gtx
)
SELECT np AS n_pos, nn AS n_neg,
       CASE WHEN np > 0 AND nn > 0 THEN
         CAST((2 * gt + ties) * 1000000
              // (2 * CAST(np AS HUGEINT) * nn) AS BIGINT) END AS auc_ppm,
       CASE WHEN np >= 2 AND nn >= 2 THEN
         CAST(round({se} * 1e6) AS BIGINT) END AS se_micro,
       CASE WHEN np >= 2 AND nn >= 2 THEN
         CAST(round(({auc} - 1.96 * {se}) * 1e6) AS BIGINT) END
         AS ci_lo_micro,
       CASE WHEN np >= 2 AND nn >= 2 THEN
         CAST(round(({auc} + 1.96 * {se}) * 1e6) AS BIGINT) END
         AS ci_hi_micro
FROM tot CROSS JOIN gtx CROSS JOIN quad
"""


def q371_anderson_darling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Anderson-Darling test on document length (src0 vs
    src1), tie-adjusted (the k=2 case of Scholz & Stephens 1987's
    A²ₐₖₙ with midrank B_j/M_ij) — completes the EDF-distance family:
    KS (q309) weights the largest CDF gap, Cramér-von Mises (q343)
    integrates it uniformly, Anderson-Darling up-weights the TAILS
    (1/(H(1−H))), the region where corpus drift usually starts.

    Exactness: everything derives from the pooled length count table —
    B_j = cumᵢ − l_j/2 and M_ij are exact half-integers over exact
    counts; each group's NORMALIZED contribution
    (N−1)/N²·Σᵢ l_j(N·M_ij − nᵢ·B_j)²/(nᵢ·D_j), D_j = B_j(N−B_j) −
    N·l_j/4, is one deterministic double over those integers,
    quantized to pico BEFORE the sum (the q360 order-independence
    discipline). Groups with D_j ≤ 0 (possible only in degenerate
    pooled distributions) are excluded and counted; no valid group or
    an empty side → NULL statistic. Under H₀, E[A²] = k−1 = 1.

    Shape at 100 TB: two pushed source filters → grouped counts over
    the bounded length domain, two cumulative windows there, a 1-row
    reduction. Never a raw-row sort."""
    docs = load_table(spark, sf_dir, "documents")
    cnt = (
        docs.filter(F.col("source").isin("src0", "src1"))
        .select(
            F.col("n_chars").alias("v"),
            F.expr(
                "CAST(CASE WHEN source = 'src0' THEN 1 ELSE 0 END"
                " AS BIGINT)"
            ).alias("is1"),
        )
        .groupBy("v")
        .agg(
            F.sum("is1").alias("f1"),
            F.sum(1 - F.col("is1")).alias("f2"),
        )
        .withColumn("l", F.col("f1") + F.col("f2"))
    )
    w_c = W.orderBy("v").rowsBetween(W.unboundedPreceding, 0)
    cum = cnt.select(
        "v", "f1", "f2", "l",
        F.sum("l").over(w_c).alias("cl"),
        F.sum("f1").over(w_c).alias("c1"),
        F.sum("f2").over(w_c).alias("c2"),
    )
    tot = cnt.agg(
        F.sum("f1").cast("long").alias("n1"),
        F.sum("f2").cast("long").alias("n2"),
        F.sum("l").cast("long").alias("nn"),
    )
    b = "(CAST(cl AS DOUBLE) - CAST(l AS DOUBLE) / 2)"
    m1 = "(CAST(c1 AS DOUBLE) - CAST(f1 AS DOUBLE) / 2)"
    m2 = "(CAST(c2 AS DOUBLE) - CAST(f2 AS DOUBLE) / 2)"
    d = f"({b} * (nn - {b}) - CAST(nn AS DOUBLE) * l / 4)"
    term = (
        f"((CAST(nn AS DOUBLE) - 1) / (CAST(nn AS DOUBLE) * nn)"
        f" * l * (pow(nn * {m1} - n1 * {b}, 2) / nullif(CAST(n1 AS"
        f" DOUBLE), 0.0e0) + pow(nn * {m2} - n2 * {b}, 2)"
        f" / nullif(CAST(n2 AS DOUBLE), 0.0e0)) / nullif({d}, 0.0e0))"
    )
    terms = cum.crossJoin(F.broadcast(tot))
    agg = terms.agg(
        F.sum(
            F.expr(
                f"CASE WHEN {d} > 0 THEN"
                f" CAST(round({term} * 1e12) AS DECIMAL(38,0))"
                " ELSE CAST(0 AS DECIMAL(38,0)) END"
            )
        ).alias("a2_pico"),
        F.sum(F.expr(f"CASE WHEN {d} > 0 THEN 1 ELSE 0 END")).cast(
            "long"
        ).alias("n_values_used"),
        F.max("n1").cast("long").alias("n1"),
        F.max("n2").cast("long").alias("n2"),
    )
    return agg.select(
        "n1",
        "n2",
        "n_values_used",
        F.expr(
            "CASE WHEN n1 > 0 AND n2 > 0 AND n_values_used > 0 THEN"
            " CAST(round(CAST(a2_pico AS DOUBLE) / 1e6) AS BIGINT) END"
        ).alias("a2_micro"),
    )


def _q371_sql() -> str:
    b = "(CAST(cl AS DOUBLE) - CAST(l AS DOUBLE) / 2)"
    m1 = "(CAST(c1 AS DOUBLE) - CAST(f1 AS DOUBLE) / 2)"
    m2 = "(CAST(c2 AS DOUBLE) - CAST(f2 AS DOUBLE) / 2)"
    d = f"({b} * (nn - {b}) - CAST(nn AS DOUBLE) * l / 4)"
    term = (
        f"((CAST(nn AS DOUBLE) - 1) / (CAST(nn AS DOUBLE) * nn)"
        f" * l * (pow(nn * {m1} - n1 * {b}, 2) / nullif(CAST(n1 AS"
        f" DOUBLE), 0.0) + pow(nn * {m2} - n2 * {b}, 2)"
        f" / nullif(CAST(n2 AS DOUBLE), 0.0)) / nullif({d}, 0.0))"
    )
    return f"""
WITH cnt AS (
  SELECT n_chars AS v,
         CAST(sum(CASE WHEN source = 'src0' THEN 1 ELSE 0 END)
              AS BIGINT) AS f1,
         CAST(sum(CASE WHEN source = 'src1' THEN 1 ELSE 0 END)
              AS BIGINT) AS f2
  FROM documents
  WHERE source IN ('src0', 'src1')
  GROUP BY n_chars
), cum AS (
  SELECT v, f1, f2, f1 + f2 AS l,
         sum(f1 + f2) OVER (ORDER BY v
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cl,
         sum(f1) OVER (ORDER BY v
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS c1,
         sum(f2) OVER (ORDER BY v
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS c2
  FROM cnt
), tot AS (
  SELECT CAST(sum(f1) AS BIGINT) AS n1,
         CAST(sum(f2) AS BIGINT) AS n2,
         CAST(sum(f1 + f2) AS BIGINT) AS nn
  FROM cnt
), agg AS (
  SELECT CAST(sum(CASE WHEN {d} > 0 THEN
                    CAST(round({term} * 1e12) AS HUGEINT)
                  ELSE 0 END) AS HUGEINT) AS a2_pico,
         CAST(sum(CASE WHEN {d} > 0 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_values_used,
         CAST(max(n1) AS BIGINT) AS n1,
         CAST(max(n2) AS BIGINT) AS n2
  FROM cum CROSS JOIN tot
)
SELECT n1, n2, n_values_used,
       CASE WHEN n1 > 0 AND n2 > 0 AND n_values_used > 0 THEN
         CAST(round(CAST(a2_pico AS DOUBLE) / 1e6) AS BIGINT) END
         AS a2_micro
FROM agg
"""


def q373_dp_sensitivity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Differential-privacy release planner for the daily spend-sum
    statistic: per day, the L1 sensitivity of the release (the MAX
    single-user contribution — what one user's presence can move the
    sum by), the p99 user contribution (the clipping bound a
    contribution-capped release would use), and the sensitivity share
    — completing the privacy suite's anonymity trio (q123 k-anonymity,
    q364 l-diversity, q365 t-closeness) with the NOISE-calibration
    side: Laplace scale is Δ/ε, and Δ here IS max_user_cents (the
    noise itself is random and not a deterministic query; its
    calibration inputs are).

    Exactness: all integers — per-(day, user) contributions are exact
    cent sums of |value| (absolute: L1 sensitivity of a sum release),
    the p99 pick is the row at rank ceil(0.99·n_users) in exact
    (contrib, user_id) order (integer ceil; tie-broken on user_id —
    engine-identical selection), and share_ppm is an integer division
    guarded on total > 0.

    Shape at 100 TB: one map-side-combined (day, user) collapse, one
    per-day aggregate plus a day-partitioned rank window over the
    per-day user relation, a ≤|days| result. No raw-row sort, no
    corpus join."""
    events = load_table(spark, sf_dir, "events")
    uc = (
        events.select(
            F.to_date("ts").alias("d"),
            "user_id",
            F.expr("abs(CAST(round(value * 100) AS BIGINT))").alias("ac"),
        )
        .groupBy("d", "user_id")
        .agg(F.sum("ac").cast("long").alias("contrib"))
    )
    w = W.partitionBy("d").orderBy("contrib", "user_id")
    per_day = uc.select(
        "d",
        "contrib",
        F.row_number().over(w).alias("rk"),
        F.count("*").over(W.partitionBy("d")).alias("nu"),
    )
    p99 = per_day.filter(
        F.expr("rk = (99 * nu + 99) div 100")
    ).select("d", F.col("contrib").alias("p99_user_cents"))
    stats = uc.groupBy("d").agg(
        F.count("*").cast("long").alias("n_users"),
        F.sum("contrib").cast("long").alias("total_cents"),
        F.max("contrib").cast("long").alias("max_user_cents"),
    )
    return (
        stats.join(p99, "d")
        .select(
            "d",
            "n_users",
            "total_cents",
            "max_user_cents",
            "p99_user_cents",
            F.expr(
                "CASE WHEN total_cents > 0 THEN"
                " (max_user_cents * 1000000) div total_cents END"
            ).alias("sensitivity_share_ppm"),
        )
        .orderBy("d")
    )


_Q373_SQL = """
WITH uc AS (
  SELECT CAST(ts AS DATE) AS d, user_id,
         CAST(sum(abs(CAST(round(value * 100) AS BIGINT))) AS BIGINT)
           AS contrib
  FROM events
  GROUP BY 1, 2
), per_day AS (
  SELECT d, contrib,
         row_number() OVER (PARTITION BY d ORDER BY contrib, user_id)
           AS rk,
         count(*) OVER (PARTITION BY d) AS nu
  FROM uc
), p99 AS (
  SELECT d, contrib AS p99_user_cents
  FROM per_day WHERE rk = (99 * nu + 99) // 100
), stats AS (
  SELECT d,
         CAST(count(*) AS BIGINT) AS n_users,
         CAST(sum(contrib) AS BIGINT) AS total_cents,
         CAST(max(contrib) AS BIGINT) AS max_user_cents
  FROM uc GROUP BY 1
)
SELECT s.d, s.n_users, s.total_cents, s.max_user_cents,
       p.p99_user_cents,
       CASE WHEN s.total_cents > 0 THEN
         (s.max_user_cents * 1000000) // s.total_cents END
         AS sensitivity_share_ppm
FROM stats s JOIN p99 p ON p.d = s.d
ORDER BY s.d
"""
