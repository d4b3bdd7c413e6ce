"""Sketch-based profiling: the sub-linear stats path for 100 TB scans.

Exact count-distinct and exact percentiles (q05/q41) shuffle or buffer
per-group value sets — the right answer for the oracle gate, the wrong
plan at corpus scale. This module is the sketch twin the engine exposes
for production profiling:

- ``approx_count_distinct`` — HyperLogLog++: fixed ~1.5 KB of state per
  aggregate regardless of cardinality, mergeable map-side, relative
  standard deviation set by ``rsd``.
- ``percentile_approx`` — Greenwald-Khanna/KLL-style quantile sketch:
  bounded state (``accuracy`` knob trades memory for rank error), again
  mergeable, so a 100 TB percentile is one partial-aggregate pass.
- ``freqItems`` — misra-gries style heavy hitters without a full groupBy.

All three are built-in Catalyst aggregates (JVM-side, partial+final), so
the profile of N columns is ONE scan with map-side combine — the same
single-pass multi-aggregate shape as operators/quality.py, with bounded
memory where the exact forms grow with the data.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import Window as W
from pyspark.sql import functions as F
from pyspark.sql import types as T

__all__ = [
    "exact_heavy_hitters",
    "approx_profile",
    "frequent_values",
    "kmv_group_sketch",
    "kmv_pair_overlap",
    "count_min_sketch",
    "count_min_estimate",
    "hll_registers",
    "hll_estimate",
]


def approx_profile(
    df: DataFrame,
    value_cols: Sequence[str],
    rsd: float = 0.05,
    percentiles: Sequence[float] = (0.5, 0.95, 0.99),
    accuracy: int = 10_000,
) -> DataFrame:
    """One-row sketch profile of ``value_cols``: HLL distinct estimate and
    approximate percentiles per column, computed in a single pass."""
    aggs = []
    for c in value_cols:
        aggs.append(F.approx_count_distinct(c, rsd).alias(f"{c}_distinct_est"))
        aggs.append(
            F.percentile_approx(c, list(percentiles), accuracy).alias(f"{c}_pcts")
        )
    return df.agg(*aggs)


def frequent_values(
    df: DataFrame, cols: Sequence[str], support: float = 0.01
) -> DataFrame:
    """Heavy hitters per column at the given support threshold (built-in
    misra-gries style ``freqItems``): no per-value groupBy shuffle. May
    over-report (false positives) but never misses a value above support —
    the standard sketch contract; follow with an exact count of just the
    reported candidates when exact frequencies are needed."""
    return df.freqItems(list(cols), support)


def kmv_group_sketch(
    df: DataFrame,
    group_col: str,
    value_col,
    k: int = 256,
) -> DataFrame:
    """K-minimum-values sketch per group (Bar-Yossef et al. 2002; the
    mergeable bottom-k distinct sketch behind DataSketches' theta family):
    the k smallest DISTINCT hash values of each group's value set. Unlike
    HLL, a KMV sketch supports SET OPERATIONS — union (merge + re-cut to
    k) and, from a pair's union cut, intersection/Jaccard estimates —
    which is what cross-corpus overlap questions need without pairwise
    exact joins.

    The hash is the engine-portable md5 slice (operators/dedup._h32), so
    every estimate downstream is a DETERMINISTIC function of the input —
    replayable by the DuckDB oracle (plans/llm/dedup.py q106) even though it is
    an approximation of the exact answer: the oracle checks the sketch
    arithmetic; a separate pytest checks its accuracy against truth.

    Scale shape: distinct-ify the (group, hash) stream (one map-side-
    combining exchange, narrow rows), then the per-group bottom-k window,
    whose ``row_number() <= k`` filter Catalyst plans as a Partial
    WindowGroupLimit below the window's exchange (k up to
    ``spark.sql.optimizer.windowGroupLimitThreshold``, 1000 by default):
    each task ships at most k rows per group (the global bottom-k is a
    subset of the union of per-partition bottom-ks, so the cut is exact),
    so a billion-value group never funnels whole through one window
    partition. The output is ≤ k rows per group — broadcastable for any
    downstream pair analysis regardless of corpus size.

    Returns (group_col, h, rn) rows with rn ∈ 1..k ordered by h."""
    from .dedup import _h32

    v = value_col if not isinstance(value_col, str) else F.col(value_col)
    hashed = df.select(F.col(group_col), _h32(v).alias("h")).distinct()
    rn = F.row_number().over(W.partitionBy(group_col).orderBy("h"))
    return hashed.withColumn("rn", rn).filter(F.col("rn") <= int(k))


def kmv_pair_overlap(mins: DataFrame, group_col: str, k: int = 256) -> DataFrame:
    """Pairwise Jaccard + union-cardinality estimates from KMV sketches.

    For each unordered group pair, merge the two sketches, cut the union
    back to its k smallest hashes (the union KMV), and estimate
      jaccard_est   = |union-cut ∩ both sketches| / k'
      union_card_est = (k'−1) · 2³² / h_(k')          (k' = |union cut|)
    — the standard KMV estimators. All arithmetic happens on ≤ 2k rows
    per pair: with G groups this is G²·k tiny rows, a broadcast-scale
    relation no matter how big the corpora were. Exactness of the SKETCH
    (not the estimate) is oracle-checked; estimator accuracy is
    pytest-checked against exact Jaccard on planted corpora.

    The sketch is materialized once up front (eager localCheckpoint of a
    ≤ G·k-row relation — bounded by construction): it feeds three plan
    arms (both group lists and the scatter), and without the checkpoint
    each arm would re-run the full upstream corpus scan."""
    mins = mins.localCheckpoint(eager=True)
    g1 = mins.select(F.col(group_col).alias("g1")).distinct()
    g2 = mins.select(F.col(group_col).alias("g2")).distinct()
    pairs = g1.join(g2, F.col("g1") < F.col("g2"))
    # scatter each sketch row to the pairs its group participates in
    m = mins.select(F.col(group_col).alias("g"), "h")
    scattered = pairs.join(
        F.broadcast(m), (F.col("g") == F.col("g1")) | (F.col("g") == F.col("g2"))
    )
    per_hash = scattered.groupBy("g1", "g2", "h").agg(
        F.max((F.col("g") == F.col("g1")).cast("int")).alias("in1"),
        F.max((F.col("g") == F.col("g2")).cast("int")).alias("in2"),
    )
    rn = F.row_number().over(W.partitionBy("g1", "g2").orderBy("h"))
    cut = per_hash.withColumn("rn", rn).filter(F.col("rn") <= int(k))
    return (
        cut.groupBy("g1", "g2")
        .agg(
            F.count("*").alias("k_used"),
            F.sum(F.col("in1") * F.col("in2")).alias("n_both"),
            F.max("h").alias("h_k"),
        )
        .select(
            "g1",
            "g2",
            "k_used",
            "n_both",
            F.round(F.col("n_both") / F.col("k_used"), 4).alias("jaccard_est"),
            F.when(
                F.col("k_used") < int(k),
                # fewer than k distinct union hashes -> the sketch IS the
                # exact union; cardinality = k_used, no extrapolation.
                F.col("k_used").cast("long"),
            )
            .otherwise(
                # floor() explicitly: Spark's double->long cast truncates
                # while DuckDB's ROUNDS — floor is the portable choice.
                F.floor(
                    (F.col("k_used") - 1) * F.lit(float(2**32)) / F.col("h_k")
                ).cast("long")
            )
            .alias("union_card_est"),
        )
        .orderBy("g1", "g2")
    )


def exact_heavy_hitters(
    df: DataFrame, col: str, m: int = 200
) -> DataFrame:
    """EXACT frequent items (count · m > n) over a key space too large
    to shuffle — the two-phase Misra-Gries pattern: each partition
    summarizes its rows into ≤ m candidate counters (Arrow-batched,
    memory O(m)); the union of candidates is exactly-recounted and
    thresholded. The MG guarantee makes the result EXACT, not
    approximate: any item with global frequency > n/m survives at least
    one partition's summary (it cannot be decremented to zero by fewer
    than n/m other rows in total, and a fortiori not within the
    partitions it dominates), so no qualifying item is ever missing,
    and the exact recount discards every non-qualifying candidate.
    The SQL oracle is therefore the PLAIN ``GROUP BY HAVING
    count·m > n`` — partitioning cannot change the answer, only the
    intermediate candidate set (pytest repartitions adversarially and
    asserts identity).

    Scale: the full key never shuffles — per partition only ≤ m
    counters leave the executor, and the recount joins the bounded
    candidate relation (broadcast) against the scan. This is how a
    100 TB key space (urls, ngrams, user agents) yields its heavy tail
    without a key-cardinality exchange. The threshold comparison is the
    integer cross-multiply — no division decides membership."""
    import pandas as pd

    colname = col

    def mg(batches):
        # Vectorized batched Misra-Gries (r11, guide §4.2: hand whole
        # batches to pandas instead of looping rows in Python): merge each
        # batch's EXACT value_counts into the running summary, then apply
        # the mergeable-summaries truncation (Agarwal et al. 2012) —
        # subtract the (m+1)-th largest counter from every entry and drop
        # the non-positive. Each truncation charges its decrement d to
        # > m surviving-or-dropped counters, so the per-item undercount
        # stays ≤ n/(m+1) < n/m and the MG guarantee (any item with count
        # > n/m keeps a positive counter) is intact. The candidate SET may
        # differ from the row-at-a-time form, but the exact recount below
        # makes the query result provably identical — the
        # partition-invariance pytest asserts exactly that.
        counters: dict = {}
        for pdf in batches:
            for v, c in pdf[colname].value_counts(dropna=True).items():
                counters[v] = counters.get(v, 0) + int(c)
            if len(counters) > int(m):
                d = sorted(counters.values(), reverse=True)[int(m)]
                counters = {k: c - d for k, c in counters.items() if c > d}
        yield pd.DataFrame({colname: list(counters.keys())})

    field = df.schema[colname]
    cand_schema = T.StructType([field])
    candidates = (
        df.select(colname).mapInPandas(mg, cand_schema).distinct()
    )
    n_rel = df.agg(F.count(colname).alias("_n"))
    counts = (
        df.join(F.broadcast(candidates), colname)
        .groupBy(colname)
        .agg(F.count("*").alias("cnt"))
    )
    return (
        counts.crossJoin(F.broadcast(n_rel))
        .filter(F.col("cnt") * int(m) > F.col("_n"))
        .select(colname, "cnt", F.col("_n").alias("n_total"))
        .orderBy(F.col("cnt").desc(), colname)
    )


def count_min_sketch(
    df: DataFrame,
    colname: str,
    depth: int = 4,
    width: int = 1024,
) -> DataFrame:
    """Count-Min sketch of a key column: ``depth`` independent hash rows
    of ``width`` counters each; the point estimate for a key is the MIN
    over rows of its bucket counter (never an underestimate).

    Returns the sketch as a (row, bucket, counter, width) relation —
    depth·width cells max, independent of corpus size, additive under
    union (merge two sketches by summing matching (row, bucket, width)
    cells), so per-partition / per-micro-batch partials combine
    map-side exactly like the MG and KMV sketches in this module. The
    ``width`` literal column makes the sketch self-describing: the
    estimate path reads the hashing config from the relation and a
    merge of incompatible sketches becomes detectable instead of
    silently wrong (ADVICE r5). Hashing is the engine-portable md5
    slice (operators/dedup._h32) seeded by the row index, so a DuckDB
    oracle can recompute the identical sketch (plans/llm/text.py q259).
    """
    from .dedup import _h32

    rows = F.explode(
        F.array(*[F.lit(i) for i in range(int(depth))])
    ).alias("row")
    keyed = df.select(F.col(colname).cast("string").alias("_k")).select(
        "_k", rows
    )
    bucket = (
        _h32(F.concat(F.col("row").cast("string"), F.lit(":"), F.col("_k")))
        % int(width)
    ).alias("bucket")
    return (
        keyed.select("row", bucket)
        .groupBy("row", "bucket")
        .agg(F.count("*").alias("counter"))
        .withColumn("width", F.lit(int(width)))
    )


def count_min_estimate(
    sketch: DataFrame,
    probes: DataFrame,
    colname: str,
    width: int | None = None,
) -> DataFrame:
    """Point-estimate the frequency of each probe key against a
    count_min_sketch relation: hash the probe per sketch row, join on
    (row, bucket) — the probe side is tiny and broadcasts — and take
    the min counter. Output: (key, est).

    The hashing config comes from the sketch itself: its ``width``
    column (and the distinct ``row`` values for depth) are read via one
    bounded collect (≤ depth rows — the IVF-centroid bounded-collect
    contract). Passing ``width`` explicitly asserts it against the
    stored value — a mismatch raises instead of silently producing
    wrong estimates (ADVICE r5). Width-less legacy sketch relations
    require an explicit ``width``."""
    from .dedup import _h32

    if "width" in sketch.columns:
        meta = sketch.select("row", "width").distinct().collect()
        widths = {r.width for r in meta}
        if not widths:
            raise ValueError(
                "count_min_estimate: sketch is empty (no counter rows) — "
                "build it with count_min_sketch() over a non-empty input"
            )
        if len(widths) != 1:
            raise ValueError(
                f"count_min_estimate: sketch mixes widths {sorted(widths)} — "
                "incompatible sketches were merged"
            )
        stored = widths.pop()
        if width is not None and int(width) != stored:
            raise ValueError(
                f"count_min_estimate: width={width} does not match the "
                f"sketch's stored width {stored}"
            )
        width = stored
        depth = sorted({r.row for r in meta})
    else:
        if width is None:
            raise ValueError(
                "count_min_estimate: sketch has no width column; pass width="
            )
        depth = sorted(
            r.row for r in sketch.select("row").distinct().collect()
        )
        if not depth:
            raise ValueError(
                "count_min_estimate: sketch is empty (no counter rows) — "
                "build it with count_min_sketch() over a non-empty input"
            )
    rows = F.explode(F.array(*[F.lit(i) for i in depth])).alias("row")
    hashed = probes.select(F.col(colname).cast("string").alias("_k")).select(
        "_k", rows
    )
    hashed = hashed.withColumn(
        "bucket",
        _h32(F.concat(F.col("row").cast("string"), F.lit(":"), F.col("_k")))
        % int(width),
    )
    return (
        sketch.join(F.broadcast(hashed), ["row", "bucket"])
        .groupBy("_k")
        .agg(F.min("counter").alias("est"))
        .withColumnRenamed("_k", colname)
    )


def hll_registers(
    df: DataFrame, colname: str, key_cols: list[str] | None = None
) -> DataFrame:
    """HyperLogLog register partials (b=8, 256 registers) of a key
    column, optionally grouped by ``key_cols``: the 32-bit md5 slice
    (the engine-portable _h32 idiom, so a DuckDB oracle can replay the
    exact registers — plans/llm/text.py q302) splits into the top-8-bit
    register index j and a 24-bit remainder w; rho = 24 − floor(log2 w)
    (w=0 → 25). Returns (key…, j, m) with m = max rho — the sketch
    STATE, mergeable by register-wise MAX (associative, commutative,
    IDEMPOTENT — an at-least-once replay of the same rows cannot move
    any register), so per-partition / per-micro-batch partials combine
    map-side and the streaming store (streaming/hll_monitor.py) merges
    partials exactly.

    Scale shape: state is ≤ |keys|·256 cells regardless of corpus
    size; the groupBy combines map-side.

    NULL semantics: NULL is not a value — rows whose sketched column
    is NULL are dropped BEFORE hashing (md5(NULL) would otherwise
    yield a j=NULL register whose rho is NULL, which hll_estimate's
    count(*) counts as a live register while its shiftleft
    contribution is NULL, silently skewing reg_sum_s). This matches
    exact count(DISTINCT col), which also ignores NULLs."""
    keys = list(key_cols or [])
    df = df.filter(F.col(colname).isNotNull())
    h = F.expr(f"conv(substr(md5(CAST({colname} AS STRING)), 1, 8), 16, 10)").cast(
        "long"
    )
    hashed = df.select(
        *keys,
        F.shiftright(h, 24).alias("j"),
        F.expr(
            f"CASE WHEN conv(substr(md5(CAST({colname} AS STRING)), 1, 8),"
            " 16, 10) % 16777216 = 0 THEN 25L"
            " ELSE 24L - CAST(floor(log2(CAST("
            f"conv(substr(md5(CAST({colname} AS STRING)), 1, 8), 16, 10)"
            " % 16777216 AS DOUBLE))) AS BIGINT) END"
        ).alias("rho"),
    )
    return hashed.groupBy(*keys, "j").agg(F.max("rho").alias("m"))


def hll_estimate(
    regs: DataFrame, key_cols: list[str] | None = None
) -> DataFrame:
    """Cardinality estimate from an hll_registers relation: the
    register sum rides the EXACT BIGINT S = Σ 2^(25−M_j) with empty
    registers contributing 2^25 (no float accumulation across
    registers — the q302 discipline); the raw α·m²·2^25/S estimate and
    the standard small-range linear-counting branch m·ln(m/V) are one
    deterministic double chain. Output: (key…, reg_sum_s, v_zero,
    hll_estimate)."""
    keys = list(key_cols or [])
    state = regs.groupBy(*keys).agg(
        F.sum(F.expr("shiftleft(1L, CAST(25 - m AS INT))")).alias("s_live"),
        F.count("*").alias("n_live"),
    ).select(
        *keys,
        (
            F.col("s_live") + (F.lit(256) - F.col("n_live")) * F.lit(1 << 25)
        ).alias("reg_sum_s"),
        (F.lit(256) - F.col("n_live")).alias("v_zero"),
    )
    raw = (
        "(0.7213e0 / (1.0e0 + 1.079e0 / 256.0e0))"
        " * 65536.0e0 * 33554432.0e0 / CAST(reg_sum_s AS DOUBLE)"
    )
    est = (
        f"CASE WHEN ({raw}) <= 640.0e0 AND v_zero > 0"
        " THEN 256.0e0 * ln(256.0e0 / CAST(v_zero AS DOUBLE))"
        f" ELSE ({raw}) END"
    )
    return state.select(
        *keys,
        "reg_sum_s",
        "v_zero",
        F.round(F.expr(est), 2).alias("hll_estimate"),
    )
