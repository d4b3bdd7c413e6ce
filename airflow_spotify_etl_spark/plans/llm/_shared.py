"""Mechanically split from plans/llm.py (round 9) — segment contents are verbatim; see package __init__."""


from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from ...operators.text import _STOPWORDS  # noqa: F401  (the plans' stopword list)
from ...sources.files import load_table


def _build_concurrently(builders):
    """Construct DataFrames in parallel driver threads (optimization guide
    §2.6 "overlap independent jobs").

    Each builder is a zero-arg callable that typically ends in an eager
    ``localCheckpoint`` — the point of threading: the independent
    checkpoint JOBS overlap on the executors instead of running
    back-to-back, so a composite whose arms each materialize an
    intermediate pays max(arm) instead of sum(arm) in wall-clock.
    ``inheritable_thread_target`` bound to the active session keeps each
    spawned job attached to the caller's job group/description and its
    session tags. Results return in builder order, so the returned
    DataFrames — and every downstream plan and result — are identical to
    sequential construction."""
    from concurrent.futures import ThreadPoolExecutor

    from pyspark import inheritable_thread_target

    if len(builders) <= 1:
        return [b() for b in builders]
    session = SparkSession.getActiveSession()
    wrap = inheritable_thread_target(session) if session else inheritable_thread_target
    with ThreadPoolExecutor(max_workers=len(builders)) as pool:
        futures = [pool.submit(wrap(b)) for b in builders]
        return [f.result() for f in futures]


def _lsh_pair_ctes() -> str:
    """CTE chain computing cosine_pairs_lsh(threshold=0.45)'s verified
    pairs, ending in a ``pairs(vec_a, vec_b, cosine_sim)`` CTE — shared by
    the q28 oracle (pairs as the answer) and the q55 oracle (pairs as the
    edge list of the dedup-cluster closure). The SAME seeded plane matrix
    (np.random.RandomState(42), mirroring operators/similarity.py), repr'd
    into literals — shortest-round-trip strings parse to identical doubles
    in both engines."""
    import numpy as np

    rng = np.random.RandomState(42)
    planes = rng.randn(16, 64).tolist()
    plane_rows = ",\n    ".join(
        f"({i}, [{', '.join(repr(float(x)) for x in p)}]::DOUBLE[])"
        for i, p in enumerate(planes)
    )
    cos = (
        "list_dot_product(va.e, vb.e) / (sqrt(list_dot_product(va.e, va.e))"
        " * sqrt(list_dot_product(vb.e, vb.e)))"
    )
    return f"""v AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
), planes(i, p) AS (VALUES
    {plane_rows}
), bits AS (
  -- sketch bit per plane; 4 consecutive bits per band (n_planes=16, bands=4)
  SELECT vec_id, i // 4 AS band,
         string_agg(CASE WHEN list_dot_product(e, p) > 0 THEN '1' ELSE '0' END,
                    '' ORDER BY i) AS bh
  FROM v CROSS JOIN planes
  GROUP BY vec_id, i // 4
), ok AS (
  -- max_band_bucket=1000 cap + singleton prune mirrored from cosine_pairs_lsh
  SELECT band, bh FROM bits GROUP BY band, bh HAVING count(*) BETWEEN 2 AND 1000
), cand AS (
  SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
  FROM bits a
  JOIN ok ON ok.band = a.band AND ok.bh = a.bh
  JOIN bits b ON a.band = b.band AND a.bh = b.bh AND a.vec_id < b.vec_id
), pairs AS (
  SELECT c.vec_a, c.vec_b, round({cos}, 4) AS cosine_sim
  FROM cand c
  JOIN v va ON va.vec_id = c.vec_a
  JOIN v vb ON vb.vec_id = c.vec_b
  WHERE round({cos}, 4) >= 0.45
)"""


_BM25_TERMS = ["spark", "vector", "hash"]


def _bm25_top20(docs: DataFrame) -> DataFrame:
    """Shared Okapi BM25 scorer (k1=1.2, b=0.75, _BM25_TERMS, top 20 by
    rounded score) — the ONE definition behind q51 and q257's keyword arm
    (VERDICT r6: the duplicated avgdl `.collect()[0]` seam). The corpus
    scalars (N, avgdl) are a deliberate bounded 1-row collect — term
    stats are tiny at any corpus size; the scan filters to query-term
    rows before the per-(doc,term) tf aggregate."""
    toks = docs.select(
        "doc_id", F.explode(F.split(F.lower("text"), "\\s+")).alias("tok")
    ).filter(F.col("tok") != "")
    dl = toks.groupBy("doc_id").agg(F.count("*").alias("dl"))
    stats = dl.agg(F.count("*").alias("n"), F.avg("dl").alias("avgdl")).collect()[0]
    n_docs, avgdl = float(stats["n"]), float(stats["avgdl"])
    k1, b = 1.2, 0.75
    tf = (
        toks.filter(F.col("tok").isin(_BM25_TERMS))
        .groupBy("doc_id", "tok")
        .agg(F.count("*").alias("tf"))
    )
    df_ = tf.groupBy("tok").agg(F.count("*").alias("df"))
    idf = F.log((F.lit(n_docs) - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1)
    partial = idf * (
        F.col("tf") * (k1 + 1)
        / (F.col("tf") + k1 * (1 - b + b * F.col("dl") / F.lit(avgdl)))
    )
    return (
        tf.join(F.broadcast(df_), "tok")
        .join(dl, "doc_id")
        .withColumn("partial", partial)
        .groupBy("doc_id")
        .agg(F.round(F.sum("partial"), 4).alias("bm25"))
        .orderBy(F.col("bm25").desc(), "doc_id")
        .limit(20)
    )


def _kn_bigram_lm(docs: DataFrame) -> DataFrame:
    """Shared Kneser-Ney bigram LM table (q237 estimation, q249
    scoring): (prev_tok, next_tok, c, cp, nfw, np, nbb) over corpus
    letter-run tokens, with the q139 sequence guard. All counts exact;
    the d=3/4 probability numerator/denominator derive from these."""
    toks = docs.select(
        F.expr("regexp_extract_all(lower(text), '[a-z]+', 0)").alias("w")
    )
    bg = toks.select(
        F.explode(
            F.expr(
                "CASE WHEN size(w) >= 2 THEN"
                " transform(sequence(1, size(w) - 1),"
                " i -> struct(element_at(w, i) AS p,"
                "             element_at(w, i + 1) AS t))"
                " ELSE CAST(array() AS array<struct<p:string,t:string>>)"
                " END"
            )
        ).alias("b")
    ).select(
        F.col("b.p").alias("prev_tok"), F.col("b.t").alias("next_tok")
    )
    cnt = bg.groupBy("prev_tok", "next_tok").agg(F.count("*").alias("c"))
    wp = W.partitionBy("prev_tok")
    wt = W.partitionBy("next_tok")
    enr = cnt.select(
        "prev_tok", "next_tok", "c",
        F.sum("c").over(wp).alias("cp"),
        F.count("*").over(wp).alias("nfw"),
        F.count("*").over(wt).alias("np"),
    )
    nb = cnt.agg(F.count("*").alias("nbb"))
    return enr.crossJoin(F.broadcast(nb))
