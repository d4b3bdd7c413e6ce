"""Mechanically split from plans/llm.py (round 9) — segment contents are verbatim; see package __init__."""


from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from ...sources.files import load_table
from ._shared import (
    _build_concurrently,
    _lsh_pair_ctes,
)
from .text import (
    _Q58_SQL,
    q58_gopher_quality_flags,
)


def q21_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact deduplication by content hash (north star): md5-groupBy, keep
    the minimum doc_id per group. The hash key is uniformly distributed →
    shuffle is skew-free at any scale. Routed through the operator
    (operators/dedup.exact_dedup) so the oracle checks the operator itself,
    not a plan-local re-implementation."""
    from ...operators.dedup import exact_dedup

    docs = load_table(spark, sf_dir, "documents")
    return exact_dedup(docs).select(
        "text_hash", "n_copies", F.col("keeper").alias("keeper_doc_id")
    ).orderBy("keeper_doc_id")


_Q21_SQL = """
SELECT md5(text) AS text_hash,
       count(*)  AS n_copies,
       min(doc_id) AS keeper_doc_id
FROM documents
GROUP BY md5(text)
ORDER BY keeper_doc_id
"""


def q23_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprinting (north star): canonicalize whitespace + case,
    then content-hash. Same normalization in both engines."""
    docs = load_table(spark, sf_dir, "documents")
    canon = F.lower(F.regexp_replace(F.col("text"), "\\s+", " "))
    return docs.select(
        "doc_id",
        F.md5(canon).alias("fingerprint"),
        F.sha2(canon, 256).alias("fingerprint_sha256"),
        F.length(canon).alias("canon_len"),
    ).orderBy("doc_id")


_Q23_SQL = r"""
SELECT doc_id,
       md5(lower(regexp_replace(text, '\s+', ' ', 'g')))        AS fingerprint,
       sha256(lower(regexp_replace(text, '\s+', ' ', 'g')))     AS fingerprint_sha256,
       length(lower(regexp_replace(text, '\s+', ' ', 'g')))     AS canon_len
FROM documents
ORDER BY doc_id
"""


def q24_ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT n-gram Jaccard near-dup pairs (north star dedup tier 2) —
    shingle self-join with the hot-bucket cap ON (a boilerplate shingle
    shared by 10^5 docs would otherwise make the self-join quadratic in that
    bucket at 100 TB); the oracle applies the identical cap."""
    from ...operators.dedup import ngram_jaccard_pairs

    docs = load_table(spark, sf_dir, "documents", parallelize=True)
    return ngram_jaccard_pairs(docs, threshold=0.5, max_bucket=1000).orderBy(
        "doc_a", "doc_b"
    )


_Q24_SQL = """
WITH sh_raw AS (
  SELECT doc_id, unnest(list_distinct(
           [w[i] || ' ' || w[i+1] || ' ' || w[i+2] for i in range(1, len(w) - 1)]
         )) AS shingle
  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents)
), sh AS (
  -- hot-bucket cap mirrored from ngram_jaccard_pairs(max_bucket=1000)
  SELECT doc_id, shingle FROM sh_raw
  WHERE shingle NOT IN (
    SELECT shingle FROM sh_raw GROUP BY shingle HAVING count(*) > 1000
  )
), sizes AS (
  -- pre-cap sizes: the cap bounds candidate generation only; Jaccard
  -- denominators stay the doc's true distinct-shingle count
  SELECT doc_id, count(*) AS n_shingles FROM sh_raw GROUP BY doc_id
), inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT doc_a, doc_b, inter, sa.n_shingles AS na, sb.n_shingles AS nb,
       round(inter / (sa.n_shingles + sb.n_shingles - inter), 4) AS jaccard
FROM inter
JOIN sizes sa ON sa.doc_id = doc_a
JOIN sizes sb ON sb.doc_id = doc_b
WHERE round(inter / (sa.n_shingles + sb.n_shingles - inter), 4) >= 0.5
ORDER BY doc_a, doc_b
"""


def q25_minhash_lsh_pairs(
    spark: SparkSession, sf_dir: str, fanout: bool = True
) -> DataFrame:
    """MinHash-LSH near-dup pairs (dedup tier 3, THE 100 TB scale path).

    VALUE-checked: the shingle hash is the engine-portable md5 slice
    (operators/dedup._h32), so the oracle recomputes the full pipeline —
    signatures, banding, capped buckets, exact-Jaccard verify — in DuckDB
    (_q25_sql). Band-bucket membership is compared by sig-tuple equality
    there, which is output-equivalent to Spark's xxhash64 band key: a hash
    collision could only ADD a candidate pair, and any pair either shares
    no capped shingle (dropped by the verify inner join in both engines) or
    gets the identical exact-Jaccard filter. Recall vs the exact tier is
    asserted in tests/test_dedup.py."""
    from ...operators.dedup import minhash_lsh_pairs

    # ``fanout=False`` lets composites (q339) opt this arm out of the scan
    # fan-out: under a scoreboard the extra exchange per arm is a measured
    # net loss (VERDICT r11 item 1), while the standalone query keeps it.
    docs = load_table(spark, sf_dir, "documents", parallelize=fanout)
    return minhash_lsh_pairs(docs, threshold=0.5).orderBy("doc_a", "doc_b")


def q81_minhash_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental dedup ingest (operators/dedup.minhash_lsh_pairs_delta):
    docs ≥ 400 arrive as a new batch and are near-dup-checked against the
    stored corpus WITHOUT a corpus self-join — delta bands probe the
    all-bands relation, candidates verify by exact Jaccard. The oracle is
    the full q25 pipeline filtered to pairs touching the delta, so a green
    hash proves the batch path finds exactly the pairs a full-corpus rerun
    would."""
    from ...operators.dedup import minhash_lsh_pairs_delta

    docs = load_table(spark, sf_dir, "documents", parallelize=True)
    corpus = docs.filter(F.col("doc_id") < 400)
    delta = docs.filter(F.col("doc_id") >= 400)
    return minhash_lsh_pairs_delta(corpus, delta, threshold=0.5).orderBy(
        "doc_a", "doc_b"
    )


def _q81_sql() -> str:
    return f"""
SELECT * FROM (
{_q25_sql()}
) q25_full
WHERE doc_a >= 400 OR doc_b >= 400
ORDER BY doc_a, doc_b
"""


def _q25_sql(r: int = 4) -> str:
    """DuckDB twin of minhash_lsh_pairs(threshold=0.5): same params (seeded
    from operators.dedup._hash_params so the two can never drift), same
    modulus, same band/bucket caps, same verify arithmetic as _Q24_SQL.
    ``r`` is rows-per-band (bands = 64 // r) — default matches q25's
    bands=16; q170's band sweep reuses the builder at r in {8, 4, 2}."""
    from ...operators.dedup import _MERSENNE, _hash_params

    params = ",\n    ".join(
        f"({i}, {a}, {b})" for i, (a, b) in enumerate(_hash_params(64))
    )
    return f"""
WITH w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
sh_raw AS (
  SELECT doc_id, unnest(list_distinct(
           [w[i] || ' ' || w[i+1] || ' ' || w[i+2] for i in range(1, len(w) - 1)]
         )) AS shingle
  FROM w
), hs AS (
  SELECT doc_id, ('0x' || substr(md5(shingle), 1, 8))::BIGINT AS h FROM sh_raw
), params(i, a, b) AS (VALUES
    {params}
), sig AS (
  SELECT doc_id, p.i, min((p.a * h + p.b) % {_MERSENNE}) AS s
  FROM hs CROSS JOIN params p GROUP BY doc_id, p.i
), banded AS (
  -- band key = the r sig values themselves; tuple equality is
  -- output-equivalent to Spark's xxhash64 of the same tuple
  SELECT doc_id, i // {r} AS band, string_agg(s::VARCHAR, ',' ORDER BY i) AS bh
  FROM sig GROUP BY doc_id, i // {r}
), ok AS (
  SELECT band, bh FROM banded GROUP BY band, bh
  HAVING count(*) BETWEEN 2 AND 1000
), cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM banded a
  JOIN ok ON ok.band = a.band AND ok.bh = a.bh
  JOIN banded b ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id
), sh AS (
  -- hot-bucket cap mirrored from _sized_shingles(max_bucket=1000)
  SELECT doc_id, shingle FROM sh_raw
  WHERE shingle NOT IN (
    SELECT shingle FROM sh_raw GROUP BY shingle HAVING count(*) > 1000
  )
), sizes AS (
  SELECT doc_id, count(*) AS n_shingles FROM sh_raw GROUP BY doc_id
), inter AS (
  SELECT c.doc_a, c.doc_b, count(*) AS inter
  FROM cand c
  JOIN sh a ON a.doc_id = c.doc_a
  JOIN sh b ON b.doc_id = c.doc_b AND b.shingle = a.shingle
  GROUP BY 1, 2
)
SELECT i.doc_a, i.doc_b, i.inter,
       sa.n_shingles AS na, sb.n_shingles AS nb,
       round(i.inter / (sa.n_shingles + sb.n_shingles - i.inter), 4) AS jaccard
FROM inter i
JOIN sizes sa ON sa.doc_id = i.doc_a
JOIN sizes sb ON sb.doc_id = i.doc_b
WHERE round(i.inter / (sa.n_shingles + sb.n_shingles - i.inter), 4) >= 0.5
ORDER BY i.doc_a, i.doc_b
"""


_Q25_SQL = _q25_sql()


def q26_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs (dedup tier 4). VALUE-checked: the token hash
    is two portable 32-bit md5 slices (see simhash_signatures), so the
    oracle recomputes signatures, block buckets, and Hamming distances
    bit-for-bit (_Q26_SQL). Block-bucket membership compares the 16 sign
    bits directly — equality-equivalent to Spark's packed 16-bit block
    values."""
    from ...operators.dedup import simhash_pairs

    docs = load_table(spark, sf_dir, "documents", parallelize=True)
    return simhash_pairs(docs, max_hamming=3).orderBy("doc_a", "doc_b")


_Q26_SQL = """
WITH toks AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
), th AS (
  SELECT doc_id,
         ('0x' || substr(md5(tok), 1, 8))::BIGINT AS lo,
         ('0x' || substr(md5(tok), 9, 8))::BIGINT AS hi
  FROM toks
), sums AS (
  -- per (doc, bit j): sum of +-1 over token-hash bit j
  SELECT doc_id, j.j AS j,
         sum(CASE WHEN ((CASE WHEN j.j < 32 THEN lo ELSE hi END) >> (j.j % 32)::INT) & 1 = 1
                  THEN 1 ELSE -1 END) AS s
  FROM th CROSS JOIN (SELECT unnest(range(0, 64)) AS j) j
  GROUP BY doc_id, j.j
), sig AS (
  -- the two 32-bit halves of the simhash, for the bit_count verify
  SELECT doc_id,
         CAST(sum(CASE WHEN j < 32 AND s > 0 THEN 1::BIGINT << j::INT ELSE 0 END) AS BIGINT) AS lo_sig,
         CAST(sum(CASE WHEN j >= 32 AND s > 0 THEN 1::BIGINT << (j - 32)::INT ELSE 0 END) AS BIGINT) AS hi_sig
  FROM sums GROUP BY doc_id
), blocked AS (
  -- pigeonhole blocks = 16 consecutive sign bits; bucket key is the bit
  -- string (equality-equivalent to Spark's packed 16-bit value)
  SELECT doc_id, j // 16 AS blk,
         string_agg(CASE WHEN s > 0 THEN '1' ELSE '0' END, '' ORDER BY j) AS bv
  FROM sums GROUP BY doc_id, j // 16
), ok AS (
  -- max_block_bucket=1000 cap + singleton prune mirrored from simhash_pairs
  SELECT blk, bv FROM blocked GROUP BY blk, bv
  HAVING count(*) BETWEEN 2 AND 1000
), cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM blocked a
  JOIN ok ON ok.blk = a.blk AND ok.bv = a.bv
  JOIN blocked b ON a.blk = b.blk AND a.bv = b.bv AND a.doc_id < b.doc_id
)
SELECT c.doc_a, c.doc_b,
       CAST(bit_count(xor(sa.lo_sig, sb.lo_sig))
            + bit_count(xor(sa.hi_sig, sb.hi_sig)) AS INT) AS hamming
FROM cand c
JOIN sig sa ON sa.doc_id = c.doc_a
JOIN sig sb ON sb.doc_id = c.doc_b
WHERE bit_count(xor(sa.lo_sig, sb.lo_sig))
      + bit_count(xor(sa.hi_sig, sb.hi_sig)) <= 3
ORDER BY doc_a, doc_b
"""


def q28_embedding_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs via random-hyperplane LSH
    (north star near-dup tier for vectors). VALUE-checked: the plane matrix
    is a seeded constant embedded verbatim in the oracle (_q28_sql), which
    recomputes sketch bits, band buckets, and the exact-cosine verify with
    DuckDB's list_dot_product — the same float machinery the q22 oracle
    already hash-matches against Spark's array fold."""
    from ...operators.similarity import cosine_pairs_lsh

    emb = load_table(spark, sf_dir, "embeddings", parallelize=True)
    # The synthetic corpus's max off-diagonal cosine is ~0.51; threshold 0.45
    # exercises the candidate+verify path on real pairs.
    return cosine_pairs_lsh(emb, threshold=0.45).orderBy("vec_a", "vec_b")


def _q28_sql() -> str:
    return f"""
WITH {_lsh_pair_ctes()}
SELECT vec_a, vec_b, cosine_sim FROM pairs
ORDER BY vec_a, vec_b
"""


def q42_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup CLUSTERS (dedup tier 5): exact-Jaccard pairs (the q24
    edges) resolved into connected components by iterative min-label
    propagation, then per-cluster keeper + size — the actual dedup
    decision a corpus build executes. Oracle: DuckDB recursive-CTE
    transitive closure over the identical edge list."""
    from ...operators.dedup import connected_components, ngram_jaccard_pairs

    docs = load_table(spark, sf_dir, "documents", parallelize=True)
    pairs = ngram_jaccard_pairs(docs, threshold=0.5, max_bucket=1000)
    comp = connected_components(pairs)
    return (
        comp.groupBy("component")
        .agg(
            F.count("*").alias("cluster_size"),
            F.min("doc_id").alias("keeper_doc_id"),
        )
        .orderBy("component")
    )


# CTE chain ending in comp(doc_id, component) — shared by the q42 oracle
# (clusters as the answer) and the q84 oracle (clusters joined against the
# domain split for the leakage audit).
_Q42_CTES = """sh_raw AS (
  SELECT doc_id, unnest(list_distinct(
           [w[i] || ' ' || w[i+1] || ' ' || w[i+2] for i in range(1, len(w) - 1)]
         )) AS shingle
  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents)
), sh AS (
  SELECT doc_id, shingle FROM sh_raw
  WHERE shingle NOT IN (
    SELECT shingle FROM sh_raw GROUP BY shingle HAVING count(*) > 1000
  )
), sizes AS (
  -- pre-cap sizes: the cap bounds candidate generation only; Jaccard
  -- denominators stay the doc's true distinct-shingle count
  SELECT doc_id, count(*) AS n_shingles FROM sh_raw GROUP BY doc_id
), inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
), pairs AS (
  SELECT doc_a, doc_b
  FROM inter
  JOIN sizes sa ON sa.doc_id = doc_a
  JOIN sizes sb ON sb.doc_id = doc_b
  WHERE round(inter / (sa.n_shingles + sb.n_shingles - inter), 4) >= 0.5
), edges AS (
  SELECT doc_a AS a, doc_b AS b FROM pairs
  UNION ALL
  SELECT doc_b, doc_a FROM pairs
), reach(node, r) AS (
  SELECT a, b FROM edges
  UNION
  SELECT x.node, e.b FROM reach x JOIN edges e ON x.r = e.a
), comp AS (
  SELECT node AS doc_id, least(node, min(r)) AS component
  FROM reach GROUP BY node
)"""

_Q42_SQL = f"""
WITH RECURSIVE {_Q42_CTES}
SELECT component, count(*) AS cluster_size, min(doc_id) AS keeper_doc_id
FROM comp GROUP BY component ORDER BY component
"""


def q50_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark-decontamination scan: flag corpus docs sharing any word
    n-gram with the eval set (here: the 5 lowest doc_ids stand in for an
    eval benchmark). The standard n-gram-collision screen (GPT-3 appendix C
    / PaLM style). Production uses 8-13 grams; this corpus's tiny synthetic
    vocabulary makes 4-grams the equivalent selectivity (8-grams collide
    on none of it, 3-grams on a third of it).

    Shape at 100 TB: eval-set shingles are tiny (benchmarks are MBs) —
    distinct them and broadcast into the corpus shingle stream; the corpus
    side is the same shuffle-free sequence-explode used everywhere
    (operators/dedup.shingle); one per-doc aggregate after the broadcast
    semi-match. No corpus self-join anywhere."""
    from ...operators.dedup import ngram_contamination

    docs = load_table(spark, sf_dir, "documents")
    eval_docs = docs.filter(F.col("doc_id") < 5)
    corpus = docs.filter(F.col("doc_id") >= 5)
    return ngram_contamination(corpus, eval_docs, n=4).orderBy("doc_id")


_Q50_SQL = """
WITH sh AS (
  SELECT doc_id, unnest(list_distinct(
           [array_to_string(w[i:i+3], ' ') for i in range(1, len(w) - 2)]
         )) AS shingle
  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents)
), needles AS (
  SELECT DISTINCT shingle FROM sh WHERE doc_id < 5
)
SELECT s.doc_id, count(*) AS n_shared_ngrams
FROM sh s JOIN needles n USING (shingle)
WHERE s.doc_id >= 5
GROUP BY s.doc_id
ORDER BY s.doc_id
"""


def q53_chunk_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sub-document exact dedup (operators/dedup.chunk_dedup): 8-word
    chunks, first corpus-wide occurrence wins, per-doc reconstruction —
    the paragraph-level pass that removes cross-document boilerplate
    whole-document dedup can't see."""
    from ...operators.dedup import chunk_dedup

    docs = load_table(spark, sf_dir, "documents")
    return chunk_dedup(docs, chunk_words=8).orderBy("doc_id")


_Q53_SQL = r"""
WITH w AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '') AS w
  FROM documents
), ix AS (
  SELECT doc_id, w,
         unnest(range(0, CAST(ceil(len(w) / 8.0) AS BIGINT))) AS ci
  FROM w
), chunks AS (
  SELECT doc_id, ci, array_to_string(w[ci*8+1 : ci*8+8], ' ') AS chunk
  FROM ix
), marked AS (
  SELECT doc_id, ci, chunk,
         row_number() OVER (PARTITION BY chunk ORDER BY doc_id, ci) = 1 AS keep
  FROM chunks
), per_doc AS (
  SELECT doc_id,
         count(*) AS n_chunks,
         CAST(coalesce(sum(CASE WHEN keep THEN 1 ELSE 0 END), 0) AS BIGINT)
           AS n_kept,
         coalesce(string_agg(chunk, ' ' ORDER BY ci) FILTER (WHERE keep), '')
           AS text_clean
  FROM marked GROUP BY doc_id
)
SELECT d.doc_id,
       coalesce(p.n_chunks, 0) AS n_chunks,
       coalesce(p.n_kept, 0) AS n_kept,
       coalesce(p.text_clean, '') AS text_clean
FROM documents d LEFT JOIN per_doc p USING (doc_id)
ORDER BY d.doc_id
"""


def q55_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic dedup DECISION over embeddings: hyperplane-
    LSH near-dup pairs (the q28 machinery) resolved into clusters by
    min-label propagation, keep the lowest-id representative, emit the
    drop list. Oracle: the q28 SQL pipeline + the q42 recursive-CTE
    transitive closure, keeper = cluster min."""
    from ...operators.dedup import connected_components
    from ...operators.similarity import cosine_pairs_lsh

    emb = load_table(spark, sf_dir, "embeddings", parallelize=True)
    pairs = cosine_pairs_lsh(emb, threshold=0.45)
    comp = connected_components(pairs, a_col="vec_a", b_col="vec_b")
    return (
        comp.filter(F.col("doc_id") != F.col("component"))
        .select(
            F.col("doc_id").alias("vec_id"),
            F.col("component").alias("keeper_vec_id"),
        )
        .orderBy("vec_id")
    )


def _q55_sql() -> str:
    """q28's candidate+verify CTE chain feeding the q42 closure: pairs →
    bidirectional edges → min-reachable component, drop list = nodes whose
    component isn't themselves."""
    return f"""
WITH RECURSIVE {_lsh_pair_ctes()}, edges AS (
  SELECT vec_a AS a, vec_b AS b FROM pairs
  UNION ALL
  SELECT vec_b, vec_a FROM pairs
), reach(node, r) AS (
  SELECT a, b FROM edges
  UNION
  SELECT x.node, e.b FROM reach x JOIN edges e ON x.r = e.a
), comp AS (
  SELECT node AS vec_id, least(node, min(r)) AS component
  FROM reach GROUP BY node
)
SELECT vec_id, component AS keeper_vec_id
FROM comp WHERE vec_id <> component
ORDER BY vec_id
"""


def q90_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source duplication matrix: near-dup pairs (the q24 capped
    Jaccard tier) attributed to their source pair — which sources mirror
    each other's content, the audit that drives source-level dedup
    priorities and licensing review. The pair relation is candidate-sized
    (tiny next to the corpus), so the two source-lookup joins are cheap;
    sources are normalized least/greatest so the matrix is unordered-
    unique. Mean Jaccard is an avg of round-4 doubles re-rounded to 4 —
    the established engine-portable float discipline."""
    from ...operators.dedup import ngram_jaccard_pairs

    docs = load_table(spark, sf_dir, "documents", parallelize=True)
    pairs = ngram_jaccard_pairs(docs, threshold=0.5, max_bucket=1000)
    src = docs.select("doc_id", "source")
    sa = src.select(F.col("doc_id").alias("doc_a"), F.col("source").alias("_sa"))
    sb = src.select(F.col("doc_id").alias("doc_b"), F.col("source").alias("_sb"))
    return (
        pairs.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            F.least("_sa", "_sb").alias("source_a"),
            F.greatest("_sa", "_sb").alias("source_b"),
            "jaccard",
        )
        .groupBy("source_a", "source_b")
        .agg(
            F.count("*").alias("n_pairs"),
            F.round(F.avg("jaccard"), 4).alias("mean_jaccard"),
        )
        .orderBy("source_a", "source_b")
    )


_Q90_SQL = """
WITH sh_raw AS (
  SELECT doc_id, unnest(list_distinct(
           [w[i] || ' ' || w[i+1] || ' ' || w[i+2] for i in range(1, len(w) - 1)]
         )) AS shingle
  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents)
), sh AS (
  SELECT doc_id, shingle FROM sh_raw
  WHERE shingle NOT IN (
    SELECT shingle FROM sh_raw GROUP BY shingle HAVING count(*) > 1000
  )
), sizes AS (
  SELECT doc_id, count(*) AS n_shingles FROM sh_raw GROUP BY doc_id
), inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
), pairs AS (
  SELECT doc_a, doc_b,
         round(inter / (sa.n_shingles + sb.n_shingles - inter), 4) AS jaccard
  FROM inter
  JOIN sizes sa ON sa.doc_id = doc_a
  JOIN sizes sb ON sb.doc_id = doc_b
  WHERE round(inter / (sa.n_shingles + sb.n_shingles - inter), 4) >= 0.5
)
SELECT least(da.source, db.source) AS source_a,
       greatest(da.source, db.source) AS source_b,
       count(*) AS n_pairs,
       round(avg(jaccard), 4) AS mean_jaccard
FROM pairs
JOIN documents da ON da.doc_id = doc_a
JOIN documents db ON db.doc_id = doc_b
GROUP BY 1, 2
ORDER BY source_a, source_b
"""


def q92_ensemble_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-signal near-dup evidence: LEXICAL pairs (capped n-gram
    Jaccard ≥ 0.5, the q24 tier) full-outer-merged with SEMANTIC pairs
    (hyperplane-LSH cosine ≥ 0.45 over the aligned embedding table, the
    q28 tier), labeled 'lexical' / 'semantic' / 'both'. Production dedup
    ensembles exactly this way — surface rewrites evade lexical shingles,
    templated boilerplate evades embeddings; the union catches both, and
    the provenance column is what a reviewer audits before dropping. Both
    evidence relations are candidate-sized, so the merge join is
    corpus-independent. Scores are coalesced to -1.0 sentinels (absent
    evidence) to keep the hashed output NULL-free."""
    from ...operators.dedup import ngram_jaccard_pairs
    from ...operators.similarity import cosine_pairs_lsh

    docs = load_table(spark, sf_dir, "documents", parallelize=True)
    emb = load_table(spark, sf_dir, "embeddings", parallelize=True)
    lex = ngram_jaccard_pairs(docs, threshold=0.5, max_bucket=1000).select(
        "doc_a", "doc_b", "jaccard"
    )
    sem = cosine_pairs_lsh(emb, threshold=0.45).select(
        F.col("vec_a").alias("doc_a"),
        F.col("vec_b").alias("doc_b"),
        "cosine_sim",
    )
    merged = lex.join(sem, ["doc_a", "doc_b"], "full_outer")
    evidence = (
        F.when(F.col("jaccard").isNotNull() & F.col("cosine_sim").isNotNull(), "both")
        .when(F.col("jaccard").isNotNull(), "lexical")
        .otherwise("semantic")
    )
    return merged.select(
        "doc_a",
        "doc_b",
        evidence.alias("evidence"),
        F.coalesce("jaccard", F.lit(-1.0)).alias("jaccard"),
        F.coalesce("cosine_sim", F.lit(-1.0)).alias("cosine_sim"),
    ).orderBy("doc_a", "doc_b")


def _q92_sql() -> str:
    """Union the q24 lexical CTE chain (renamed to avoid colliding with
    the semantic chain's ``pairs``) with the q28 semantic chain from
    _lsh_pair_ctes(), full-outer-joined on the pair key."""
    return f"""
WITH {_lsh_pair_ctes()}, lex_sh_raw AS (
  SELECT doc_id, unnest(list_distinct(
           [w[i] || ' ' || w[i+1] || ' ' || w[i+2] for i in range(1, len(w) - 1)]
         )) AS shingle
  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents)
), lex_sh AS (
  SELECT doc_id, shingle FROM lex_sh_raw
  WHERE shingle NOT IN (
    SELECT shingle FROM lex_sh_raw GROUP BY shingle HAVING count(*) > 1000
  )
), lex_sizes AS (
  SELECT doc_id, count(*) AS n_shingles FROM lex_sh_raw GROUP BY doc_id
), lex_inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
  FROM lex_sh a JOIN lex_sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
), lex_pairs AS (
  SELECT doc_a, doc_b,
         round(inter / (sa.n_shingles + sb.n_shingles - inter), 4) AS jaccard
  FROM lex_inter
  JOIN lex_sizes sa ON sa.doc_id = doc_a
  JOIN lex_sizes sb ON sb.doc_id = doc_b
  WHERE round(inter / (sa.n_shingles + sb.n_shingles - inter), 4) >= 0.5
)
SELECT coalesce(l.doc_a, p.vec_a) AS doc_a,
       coalesce(l.doc_b, p.vec_b) AS doc_b,
       CASE WHEN l.jaccard IS NOT NULL AND p.cosine_sim IS NOT NULL THEN 'both'
            WHEN l.jaccard IS NOT NULL THEN 'lexical'
            ELSE 'semantic' END AS evidence,
       coalesce(l.jaccard, -1.0) AS jaccard,
       coalesce(p.cosine_sim, -1.0) AS cosine_sim
FROM lex_pairs l
FULL OUTER JOIN pairs p ON l.doc_a = p.vec_a AND l.doc_b = p.vec_b
ORDER BY doc_a, doc_b
"""


def q93_canonical_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Normalization-aware exact dedup report (north star: canonical-form
    dedup — case/punctuation/whitespace variants of one content are ONE
    document, the CCNet/C4 canonicalization pass plain md5 dedup misses).
    Canonicalize (lower, non-alnum → space, collapse, trim — all
    RE2-portable, operators/text.normalize_text) → md5 → global keeper =
    min doc_id per canonical hash (window over the uniform hash key: one
    skew-free exchange of the narrow (hash, id, source) projection; the
    text never shuffles) → per-source keep/drop accounting."""
    from ...operators.dedup import canonical_dedup

    docs = load_table(spark, sf_dir, "documents")
    return canonical_dedup(docs)


_Q93_SQL = """
WITH n AS (
  SELECT doc_id, source,
         md5(trim(regexp_replace(regexp_replace(lower(text),
             '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g'))) AS ch
  FROM documents
), k AS (
  SELECT doc_id, source, ch,
         min(doc_id) OVER (PARTITION BY ch) AS keeper
  FROM n
)
SELECT source,
       count(*) AS n_docs,
       count(DISTINCT ch) AS n_canonical,
       count(*) FILTER (WHERE doc_id = keeper) AS n_kept
FROM k
GROUP BY source
ORDER BY source
"""


def q96_bloom_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-gated incremental exact dedup (north star: 100 TB ingest —
    don't anti-join every batch against the whole corpus): delta docs
    (doc_id ≥ 400, the q81 batch convention) screened by a Catalyst-built
    Bloom filter over corpus content hashes — bloom-absent docs are novel
    with ZERO join work (no false negatives), only bloom-present docs
    (dups + false positives) reach the exact anti-join. The bloom is
    correctness-neutral, so the oracle is the plain NOT EXISTS anti-join:
    a green hash proves the gated path returns exactly what the full join
    would."""
    from ...operators.dedup import bloom_novelty_filter

    docs = load_table(spark, sf_dir, "documents", parallelize=True)
    corpus = docs.filter(F.col("doc_id") < 400)
    delta = docs.filter(F.col("doc_id") >= 400)
    return (
        bloom_novelty_filter(corpus, delta)
        .select("doc_id", "source")
        .orderBy("doc_id")
    )


_Q96_SQL = """
SELECT d.doc_id, d.source
FROM documents d
WHERE d.doc_id >= 400
  AND NOT EXISTS (
    SELECT 1 FROM documents c
    WHERE c.doc_id < 400 AND md5(c.text) = md5(d.text)
  )
ORDER BY d.doc_id
"""


def q103_span_dup_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Alignment-free repeated-span profile (operators/dedup.
    span_dup_profile): dense 8-token windows (stride 1 — the alignment
    guarantee, see the operator docstring), occurrence-counted
    corpus-wide by md5; per doc the duplicated-window fraction and the
    longest consecutive duplicated run (window_words + run − 1 ≈ longest
    shared span in tokens). The oracle replays window extraction, the
    count-window, and the run-length grouping (wi − row_number)
    verbatim."""
    from ...operators.dedup import span_dup_profile

    docs = load_table(spark, sf_dir, "documents")
    return span_dup_profile(docs, window_words=8, stride=1).orderBy("doc_id")


_Q103_SQL = r"""
WITH w AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(text), '\s+'),
                     x -> x <> '') AS w
  FROM documents
), pos AS (
  SELECT doc_id,
         unnest(range(0, CASE WHEN len(w) >= 8
                              THEN len(w) - 8 + 1 ELSE 0 END)) AS wi,
         w
  FROM w
), wins AS (
  SELECT doc_id, wi,
         md5(array_to_string(w[wi + 1 : wi + 8], ' ')) AS wh
  FROM pos
), marked AS (
  SELECT doc_id, wi, count(*) OVER (PARTITION BY wh) > 1 AS dup FROM wins
), per_doc AS (
  SELECT doc_id, count(*) AS n_windows,
         CAST(sum(CASE WHEN dup THEN 1 ELSE 0 END) AS BIGINT) AS n_dup
  FROM marked GROUP BY doc_id
), runs AS (
  SELECT doc_id, max(c) AS max_run FROM (
    SELECT doc_id, grp, count(*) AS c FROM (
      SELECT doc_id, wi,
             wi - row_number() OVER (PARTITION BY doc_id ORDER BY wi) AS grp
      FROM marked WHERE dup
    ) GROUP BY doc_id, grp
  ) GROUP BY doc_id
)
SELECT d.doc_id,
       coalesce(p.n_windows, 0) AS n_windows,
       coalesce(p.n_dup, 0) AS n_dup_windows,
       round(CASE WHEN coalesce(p.n_windows, 0) > 0
                  THEN p.n_dup / CAST(p.n_windows AS DOUBLE)
                  ELSE 0.0 END, 4) AS dup_frac,
       coalesce(r.max_run, 0) AS max_dup_run
FROM documents d
LEFT JOIN per_doc p USING (doc_id)
LEFT JOIN runs r USING (doc_id)
ORDER BY doc_id
"""


def q105_winnowed_dup_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing fingerprint duplication profile (operators/dedup.
    winnowed_fingerprints — the MOSS/SIGMOD'03 algorithm): content-defined
    sparse selection (per k-run min of hash‖position keys) whose shared-
    fingerprint counts the oracle replays end-to-end — dense hashes,
    composite min-key window frame, distinct selection, cross-doc count.
    A green hash certifies the selection function itself, not just the
    rollup, because any selection difference changes which hashes
    survive into the counts."""
    from ...operators.dedup import winnowed_dup_profile

    docs = load_table(spark, sf_dir, "documents", parallelize=True)
    return winnowed_dup_profile(docs, window_words=8, winnow_k=4).orderBy("doc_id")


_Q105_SQL = r"""
WITH w AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(text), '\s+'),
                     x -> x <> '') AS w
  FROM documents
), pos AS (
  SELECT doc_id,
         unnest(range(0, CASE WHEN len(w) >= 8
                              THEN len(w) - 8 + 1 ELSE 0 END)) AS wi,
         w
  FROM w
), wins AS (
  SELECT doc_id, wi,
         md5(array_to_string(w[wi + 1 : wi + 8], ' ')) || ':' ||
           lpad(wi::VARCHAR, 12, '0') AS key
  FROM pos
), sel AS (
  SELECT DISTINCT doc_id,
         min(key) OVER (
           PARTITION BY doc_id ORDER BY wi
           ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING
         ) AS skey
  FROM wins
), fp AS (
  SELECT DISTINCT doc_id, substr(skey, 1, 32) AS wh FROM sel
), marked AS (
  SELECT doc_id, count(*) OVER (PARTITION BY wh) > 1 AS shared FROM fp
), per_doc AS (
  SELECT doc_id, count(*) AS n_fingerprints,
         CAST(sum(CASE WHEN shared THEN 1 ELSE 0 END) AS BIGINT) AS n_shared
  FROM marked GROUP BY doc_id
)
SELECT d.doc_id,
       coalesce(p.n_fingerprints, 0) AS n_fingerprints,
       coalesce(p.n_shared, 0) AS n_shared_fp,
       round(CASE WHEN coalesce(p.n_fingerprints, 0) > 0
                  THEN p.n_shared / CAST(p.n_fingerprints AS DOUBLE)
                  ELSE 0.0 END, 4) AS shared_frac
FROM documents d LEFT JOIN per_doc p USING (doc_id)
ORDER BY doc_id
"""


def q106_kmv_vocab_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-language vocabulary overlap via KMV sketches (operators/
    sketches.kmv_group_sketch + kmv_pair_overlap): per-language bottom-256
    distinct token-hash sketches, merged pairwise into union cuts that
    yield Jaccard and union-cardinality ESTIMATES — the sub-linear way to
    answer "how much vocabulary do these corpora share" without a
    pairwise exact join. The estimates are deterministic functions of the
    md5 hashes, so the oracle replays the sketch arithmetic end-to-end;
    estimator ACCURACY versus exact Jaccard is a separate pytest."""
    from ...operators.sketches import kmv_group_sketch, kmv_pair_overlap

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "lang",
        F.explode(
            F.filter(
                F.split(F.lower("text"), "\\s+"), lambda x: x != F.lit("")
            )
        ).alias("tok"),
    )
    mins = kmv_group_sketch(toks, "lang", "tok", k=256)
    return kmv_pair_overlap(mins, "lang", k=256)


_Q106_SQL = r"""
WITH toks AS (
  SELECT lang, tok FROM (
    SELECT lang, unnest(string_split_regex(lower(text), '\s+')) AS tok
    FROM documents
  ) WHERE tok <> ''
), hashed AS (
  SELECT DISTINCT lang, ('0x' || substr(md5(tok), 1, 8))::BIGINT AS h
  FROM toks
), mins AS (
  SELECT lang, h FROM (
    SELECT lang, h, row_number() OVER (PARTITION BY lang ORDER BY h) AS rn
    FROM hashed
  ) WHERE rn <= 256
), pairs AS (
  SELECT a.lang AS g1, b.lang AS g2
  FROM (SELECT DISTINCT lang FROM mins) a
  JOIN (SELECT DISTINCT lang FROM mins) b ON a.lang < b.lang
), per_hash AS (
  SELECT p.g1, p.g2, m.h,
         max(CASE WHEN m.lang = p.g1 THEN 1 ELSE 0 END) AS in1,
         max(CASE WHEN m.lang = p.g2 THEN 1 ELSE 0 END) AS in2
  FROM pairs p JOIN mins m ON m.lang IN (p.g1, p.g2)
  GROUP BY p.g1, p.g2, m.h
), cut AS (
  SELECT * FROM (
    SELECT g1, g2, h, in1, in2,
           row_number() OVER (PARTITION BY g1, g2 ORDER BY h) AS rn
    FROM per_hash
  ) WHERE rn <= 256
)
SELECT g1, g2,
       count(*) AS k_used,
       CAST(sum(in1 * in2) AS BIGINT) AS n_both,
       round(CAST(sum(in1 * in2) AS DOUBLE) / count(*), 4) AS jaccard_est,
       CASE WHEN count(*) < 256 THEN count(*)
            ELSE CAST(floor((count(*) - 1) * 4294967296.0 / max(h)) AS BIGINT)
       END AS union_card_est
FROM cut
GROUP BY g1, g2
ORDER BY g1, g2
"""


def q108_quality_aware_keepers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-aware dedup decision: the q42 near-dup clusters, but the
    keeper is the cluster's HIGHEST-quality member (hashed classifier
    score q104; ties broken by min doc_id) instead of min-id — what
    SemDeDup/DataComp actually do, since the duplicate you keep should be
    the best-written copy. Composes three oracle-proven pieces (Jaccard
    edges, CC closure, classifier forward pass) into one decision; the
    keeper window (score desc, doc_id) makes the choice deterministic
    even for byte-identical duplicates with tied scores."""
    from ...operators.dedup import connected_components, ngram_jaccard_pairs
    from ...operators.text import hashed_linear_score

    docs = load_table(spark, sf_dir, "documents", parallelize=True)
    pairs = ngram_jaccard_pairs(docs, threshold=0.5, max_bucket=1000)
    comp = connected_components(pairs)
    scores = hashed_linear_score(docs, n_buckets=4096).select("doc_id", "score")
    member = comp.join(scores, "doc_id")
    rn = F.row_number().over(
        W.partitionBy("component").orderBy(F.col("score").desc(), "doc_id")
    )
    ranked = member.withColumn("rn", rn)
    return (
        ranked.groupBy("component")
        .agg(
            F.count("*").alias("cluster_size"),
            F.max(F.when(F.col("rn") == 1, F.col("doc_id"))).alias(
                "keeper_doc_id"
            ),
            F.max(F.when(F.col("rn") == 1, F.col("score"))).alias(
                "keeper_score"
            ),
        )
        .orderBy("component")
    )


_Q108_SQL = f"""
WITH RECURSIVE {_Q42_CTES}, q_toks AS (
  SELECT doc_id, tok FROM (
    SELECT doc_id, unnest(string_split_regex(lower(text), '\\s+')) AS tok
    FROM documents
  ) WHERE tok <> ''
), q_scores AS (
  SELECT d.doc_id,
         round(1.0 / (1.0 + exp(-4.0 * coalesce(s.m, 0.0))), 4) AS score
  FROM documents d LEFT JOIN (
    SELECT doc_id,
           avg(('0x' || substr(md5('qw' ||
                 ((('0x' || substr(md5(tok), 1, 8))::BIGINT % 4096))::VARCHAR
               ), 1, 8))::BIGINT / 2147483648.0 - 1.0) AS m
    FROM q_toks GROUP BY doc_id
  ) s USING (doc_id)
), ranked AS (
  SELECT c.component, c.doc_id, q.score,
         row_number() OVER (
           PARTITION BY c.component ORDER BY q.score DESC, c.doc_id
         ) AS rn
  FROM comp c JOIN q_scores q USING (doc_id)
)
SELECT component, count(*) AS cluster_size,
       max(CASE WHEN rn = 1 THEN doc_id END) AS keeper_doc_id,
       max(CASE WHEN rn = 1 THEN score END) AS keeper_score
FROM ranked GROUP BY component ORDER BY component
"""


def q109_span_excision(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Substring-dedup excision (operators/dedup.span_excise): cut every
    non-first occurrence of a duplicated 8-token span out of the corpus
    and rebuild the surviving text — the Lee et al. 2022 surgery, not
    just its detection signal (q103). The oracle replays window hashing,
    first-occurrence ranking, coverage expansion, the anti-join, and the
    ordered text rebuild; a green hash certifies the rebuilt STRINGS."""
    from ...operators.dedup import span_excise

    docs = load_table(spark, sf_dir, "documents", parallelize=True)
    return span_excise(docs, window_words=8).orderBy("doc_id")


_Q109_SQL = r"""
WITH w AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(text), '\s+'),
                     x -> x <> '') AS w
  FROM documents
), toks AS (
  SELECT doc_id, pos, w[pos + 1] AS tok FROM (
    SELECT doc_id, w, unnest(range(len(w))) AS pos FROM w
  )
), wins AS (
  SELECT doc_id, wi, md5(array_to_string(w[wi + 1 : wi + 8], ' ')) AS wh
  FROM (
    SELECT doc_id, w,
           unnest(range(0, CASE WHEN len(w) >= 8
                                THEN len(w) - 8 + 1 ELSE 0 END)) AS wi
    FROM w
  )
), losers AS (
  SELECT doc_id, wi FROM (
    SELECT doc_id, wi,
           row_number() OVER (PARTITION BY wh ORDER BY doc_id, wi) AS rn
    FROM wins
  ) WHERE rn > 1
), removed AS (
  SELECT DISTINCT doc_id, unnest(range(wi, wi + 8)) AS pos FROM losers
), kept AS (
  SELECT t.doc_id, t.pos, t.tok
  FROM toks t ANTI JOIN removed r ON t.doc_id = r.doc_id AND t.pos = r.pos
), rebuilt AS (
  SELECT doc_id, count(*) AS n_kept,
         array_to_string(list(tok ORDER BY pos), ' ') AS text_clean
  FROM kept GROUP BY doc_id
), totals AS (
  SELECT doc_id, count(*) AS n_tokens FROM toks GROUP BY doc_id
)
SELECT d.doc_id,
       coalesce(t.n_tokens, 0) AS n_tokens,
       coalesce(t.n_tokens, 0) - coalesce(r.n_kept, 0) AS n_removed,
       coalesce(r.text_clean, '') AS text_clean
FROM documents d
LEFT JOIN totals t USING (doc_id)
LEFT JOIN rebuilt r USING (doc_id)
ORDER BY doc_id
"""


def q130_lsh_recall_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH recall, driver-visible: the MinHash-LSH tier (q25) audited
    against the exact n-gram-Jaccard tier (q24) on the same corpus and
    threshold — pair counts on both sides, the intersection, and
    recall/precision. The pytest recall gate already pins this
    per-round; registering it as a query puts the number in the
    official correctness record with a full SQL replay (both tiers'
    oracles composed). Exact integer counts; two rounded divisions."""
    from ...operators.dedup import (
        _sized_shingles,
        minhash_lsh_pairs,
        ngram_jaccard_pairs,
    )

    docs = load_table(spark, sf_dir, "documents", parallelize=True)
    # Each tier's pair relation feeds TWO audit branches (its own count
    # and the intersection); localCheckpoint materializes the narrow
    # (doc_a, doc_b) relations once instead of re-running the dedup
    # pipelines per branch — pair counts are corpus-bounded and tiny.
    # r12: ONE shingle pass feeds both tiers via the ``sh`` seam (the
    # q149 discipline — each tier used to rebuild the identical
    # _sized_shingles relation), and the two independent tier
    # checkpoints overlap in driver threads (guide §2.6).
    sh = _sized_shingles(docs, "text", "doc_id", 3, 1000).localCheckpoint(
        eager=True
    )
    exact, lsh = _build_concurrently([
        lambda: (
            ngram_jaccard_pairs(docs, threshold=0.5, max_bucket=1000, sh=sh)
            .select("doc_a", "doc_b")
            .localCheckpoint(eager=True)
        ),
        lambda: (
            minhash_lsh_pairs(
                docs, threshold=0.5, sh=sh.filter(F.col("_bucket_n") >= 2)
            )
            .select("doc_a", "doc_b")
            .localCheckpoint(eager=True)
        ),
    ])
    # Three 1-row aggregates composed with scalar crossJoins — the
    # audit itself is one tiny plan.
    out = (
        exact.agg(F.count("*").alias("n_exact"))
        .crossJoin(F.broadcast(lsh.agg(F.count("*").alias("n_lsh"))))
        .crossJoin(
            F.broadcast(
                exact.join(lsh, ["doc_a", "doc_b"]).agg(
                    F.count("*").alias("n_common")
                )
            )
        )
    )
    return out.select(
        "n_exact",
        "n_lsh",
        "n_common",
        F.when(
            F.col("n_exact") > 0,
            F.round(
                F.col("n_common").cast("double")
                / F.col("n_exact").cast("double"),
                4,
            ),
        ).alias("recall"),
        F.when(
            F.col("n_lsh") > 0,
            F.round(
                F.col("n_common").cast("double")
                / F.col("n_lsh").cast("double"),
                4,
            ),
        ).alias("precision"),
    )


def _q130_sql() -> str:
    return f"""
WITH exact_pairs AS (
  SELECT doc_a, doc_b FROM ({_Q24_SQL}) x
), lsh_pairs AS (
  SELECT doc_a, doc_b FROM ({_q25_sql()}) y
), m AS (
  SELECT (SELECT count(*) FROM exact_pairs) AS n_exact,
         (SELECT count(*) FROM lsh_pairs) AS n_lsh,
         (SELECT count(*) FROM exact_pairs e
            JOIN lsh_pairs l
              ON l.doc_a = e.doc_a AND l.doc_b = e.doc_b) AS n_common
)
SELECT n_exact, n_lsh, n_common,
       CASE WHEN n_exact > 0
            THEN round(CAST(n_common AS DOUBLE) / n_exact, 4) END AS recall,
       CASE WHEN n_lsh > 0
            THEN round(CAST(n_common AS DOUBLE) / n_lsh, 4) END AS precision
FROM m
"""


def q137_dedup_effectiveness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source dedup effectiveness — the number that justifies the
    dedup pipeline's existence: raw token volume vs EFFECTIVE tokens
    (global exact-dedup keepers only, lowest doc_id wins, attributed to
    the keeper's source) and the savings ratio. The keeper decision is
    one count-window on the uniform md5 key (q21/q93 discipline — text
    never shuffles); both rollups are exact integers; savings is the
    single rounded division."""
    docs = load_table(spark, sf_dir, "documents")
    toks = F.size(F.split("text", " "))
    raw = docs.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum(toks).alias("raw_tokens"),
    )
    w = W.partitionBy(F.md5("text")).orderBy("doc_id")
    eff = (
        docs.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .groupBy("source")
        .agg(
            F.count("*").alias("kept_docs"),
            F.sum(toks).alias("effective_tokens"),
        )
    )
    return (
        raw.join(eff, "source")
        .select(
            "source",
            "n_docs",
            "kept_docs",
            "raw_tokens",
            "effective_tokens",
            F.round(
                (F.col("raw_tokens") - F.col("effective_tokens")).cast(
                    "double"
                )
                / F.col("raw_tokens").cast("double"),
                4,
            ).alias("token_savings"),
        )
        .orderBy("source")
    )


_Q137_SQL = """
WITH toks AS (
  SELECT doc_id, source, text, len(string_split(text, ' ')) AS t
  FROM documents
), raw AS (
  SELECT source, count(*) AS n_docs, CAST(sum(t) AS BIGINT) AS raw_tokens
  FROM toks GROUP BY source
), keepers AS (
  SELECT source, t FROM (
    SELECT source, t,
           row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
    FROM toks
  ) WHERE rn = 1
), eff AS (
  SELECT source, count(*) AS kept_docs,
         CAST(sum(t) AS BIGINT) AS effective_tokens
  FROM keepers GROUP BY source
)
SELECT r.source, n_docs, kept_docs, raw_tokens, effective_tokens,
       round(CAST(raw_tokens - effective_tokens AS DOUBLE)
             / CAST(raw_tokens AS DOUBLE), 4) AS token_savings
FROM raw r JOIN eff e ON e.source = r.source
ORDER BY r.source
"""


def q141_cluster_size_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup cluster-size histogram — the shape report a dedup run
    publishes: how many clusters of each size exist, how many docs and
    how many would be DROPPED at each size (size − 1 per cluster), plus
    the singleton count (docs in no near-dup pair at all), derived by
    subtracting clustered docs from the corpus total. Composes the q42
    closure; everything after it is two tiny rollups. Exact integers
    throughout."""
    from ...operators.dedup import connected_components, ngram_jaccard_pairs

    docs = load_table(spark, sf_dir, "documents", parallelize=True)
    pairs = ngram_jaccard_pairs(docs, threshold=0.5, max_bucket=1000)
    comp = connected_components(pairs)
    sizes = comp.groupBy("component").agg(F.count("*").alias("cluster_size"))
    hist = sizes.groupBy("cluster_size").agg(
        F.count("*").alias("n_clusters")
    )
    clustered = sizes.agg(
        F.coalesce(F.sum("cluster_size"), F.lit(0)).alias("n_clustered")
    )
    total = docs.agg(F.count("*").alias("n_total"))
    singles = (
        clustered.crossJoin(F.broadcast(total))
        .select(
            F.lit(1).cast("long").alias("cluster_size"),
            (F.col("n_total") - F.col("n_clustered")).alias("n_clusters"),
        )
    )
    return (
        hist.unionByName(singles)
        .withColumn(
            "n_docs", F.col("cluster_size") * F.col("n_clusters")
        )
        .withColumn(
            "n_dropped_on_dedup",
            (F.col("cluster_size") - 1) * F.col("n_clusters"),
        )
        .orderBy("cluster_size")
    )


def _q141_sql() -> str:
    return f"""
WITH RECURSIVE {_Q42_CTES}
, csizes AS (
  SELECT component, count(*) AS cluster_size FROM comp GROUP BY component
), hist AS (
  SELECT cluster_size, count(*) AS n_clusters FROM csizes GROUP BY cluster_size
  UNION ALL
  SELECT 1 AS cluster_size,
         (SELECT count(*) FROM documents)
           - coalesce((SELECT sum(cluster_size) FROM csizes), 0) AS n_clusters
)
SELECT CAST(cluster_size AS BIGINT) AS cluster_size,
       CAST(n_clusters AS BIGINT) AS n_clusters,
       CAST(cluster_size * n_clusters AS BIGINT) AS n_docs,
       CAST((cluster_size - 1) * n_clusters AS BIGINT) AS n_dropped_on_dedup
FROM hist
ORDER BY cluster_size
"""


def q147_pipeline_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The WHOLE curation pipeline as one oracle-checked funnel: input →
    heuristic gate (q58 keep) → exact dedup (min-id keeper per md5
    among gate survivors) → near-dup dedup (min SURVIVING id per q42
    cluster; unclustered survivors pass) — per-stage counts and
    retention. Each stage is individually oracle-checked elsewhere;
    this row certifies their COMPOSITION, the thing a production corpus
    build actually runs (pipelines/corpus.py is the executable twin).
    All integers; ratios are single rounded divisions."""
    from ...operators.dedup import connected_components, ngram_jaccard_pairs

    docs = load_table(spark, sf_dir, "documents", parallelize=True)
    gate = q58_gopher_quality_flags(spark, sf_dir).select("doc_id", "keep")
    g = docs.join(gate, "doc_id").filter(F.col("keep"))
    w = W.partitionBy(F.md5("text")).orderBy("doc_id")
    exact = (
        g.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select("doc_id")
    )
    pairs = ngram_jaccard_pairs(docs, threshold=0.5, max_bucket=1000)
    comp = connected_components(pairs)
    surv = exact.join(comp, "doc_id", "left")
    clustered_keep = (
        surv.filter(F.col("component").isNotNull())
        .groupBy("component")
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id")
    )
    final = surv.filter(F.col("component").isNull()).select("doc_id").unionByName(
        clustered_keep
    )
    n_input = docs.agg(F.count("*").alias("n_input"))
    n_gate = g.agg(F.count("*").alias("n_after_gate"))
    n_exact = exact.agg(F.count("*").alias("n_after_exact"))
    n_final = final.agg(F.count("*").alias("n_after_neardup"))
    return (
        n_input.crossJoin(F.broadcast(n_gate))
        .crossJoin(F.broadcast(n_exact))
        .crossJoin(F.broadcast(n_final))
        .select(
            "n_input",
            "n_after_gate",
            "n_after_exact",
            "n_after_neardup",
            F.round(
                F.col("n_after_neardup").cast("double")
                / F.col("n_input").cast("double"),
                4,
            ).alias("retention"),
        )
    )


def _q147_sql() -> str:
    return f"""
WITH RECURSIVE {_Q42_CTES}
, gate AS (
  SELECT doc_id FROM ({_Q58_SQL}) g WHERE keep
), gdocs AS (
  SELECT d.doc_id, d.text FROM documents d JOIN gate USING (doc_id)
), exact AS (
  SELECT doc_id FROM (
    SELECT doc_id,
           row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
    FROM gdocs
  ) WHERE rn = 1
), surv AS (
  SELECT e.doc_id, c.component
  FROM exact e LEFT JOIN comp c USING (doc_id)
), final AS (
  SELECT doc_id FROM surv WHERE component IS NULL
  UNION ALL
  SELECT min(doc_id) FROM surv WHERE component IS NOT NULL GROUP BY component
)
SELECT (SELECT count(*) FROM documents) AS n_input,
       (SELECT count(*) FROM gate) AS n_after_gate,
       (SELECT count(*) FROM exact) AS n_after_exact,
       (SELECT count(*) FROM final) AS n_after_neardup,
       round(CAST((SELECT count(*) FROM final) AS DOUBLE)
             / (SELECT count(*) FROM documents), 4) AS retention
"""


def q148_contamination_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contamination accounting per source — the release-gate view of
    q50's doc-level flags: how many docs each source contributes, how
    many carry eval-set n-gram collisions, the contamination rate, and
    the overlap-depth maximum (one deeply-contaminated doc is a
    different problem than many grazing ones). Composes the q50 scan
    (broadcast eval shingles, no corpus self-join) with one
    source-cardinality rollup; exact integers + one rounded rate."""
    from ...operators.dedup import ngram_contamination

    docs = load_table(spark, sf_dir, "documents")
    eval_docs = docs.filter(F.col("doc_id") < 5)
    corpus = docs.filter(F.col("doc_id") >= 5)
    flagged = ngram_contamination(corpus, eval_docs, n=4).select(
        "doc_id", "n_shared_ngrams"
    )
    j = corpus.select("doc_id", "source").join(flagged, "doc_id", "left")
    return (
        j.groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.count("n_shared_ngrams").alias("n_contaminated"),
            F.coalesce(F.max("n_shared_ngrams"), F.lit(0)).alias(
                "max_shared_ngrams"
            ),
        )
        .withColumn(
            "contamination_rate",
            F.round(
                F.col("n_contaminated").cast("double")
                / F.col("n_docs").cast("double"),
                4,
            ),
        )
        .orderBy("source")
    )


_Q148_SQL = """
WITH sh AS (
  SELECT doc_id, unnest(list_distinct(
           [array_to_string(w[i:i+3], ' ') for i in range(1, len(w) - 2)]
         )) AS shingle
  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents)
), needles AS (
  SELECT DISTINCT shingle FROM sh WHERE doc_id < 5
), flagged AS (
  SELECT s.doc_id, count(*) AS n_shared_ngrams
  FROM sh s JOIN needles n USING (shingle)
  WHERE s.doc_id >= 5
  GROUP BY s.doc_id
)
SELECT d.source,
       count(*) AS n_docs,
       count(f.n_shared_ngrams) AS n_contaminated,
       CAST(coalesce(max(f.n_shared_ngrams), 0) AS BIGINT)
         AS max_shared_ngrams,
       round(CAST(count(f.n_shared_ngrams) AS DOUBLE) / count(*), 4)
         AS contamination_rate
FROM documents d
LEFT JOIN flagged f ON f.doc_id = d.doc_id
WHERE d.doc_id >= 5
GROUP BY d.source
ORDER BY d.source
"""


def q149_signature_tier_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Three-tier dedup agreement, driver-visible: exact Jaccard (q24)
    as ground truth vs BOTH signature tiers — MinHash-LSH (q25) and
    SimHash (q26) — pair counts, per-tier overlap with truth, and
    recall. Completes the q130 audit across the whole signature family:
    one table says which approximate tier you can trust at this
    threshold (LSH recalls everything; SimHash's coarser 64-bit
    signature trades recall for cost — the number makes the trade
    visible). All three pipelines replay in the composed oracle.

    Cost note (r8): the exact tier and the LSH verify share ONE
    cached _sized_shingles pass (the dominant token-explode cost)
    via the operators' ``sh`` seam — byte-identical results, one
    corpus shingle pass instead of two."""
    from ...operators.dedup import (
        _sized_shingles,
        minhash_lsh_pairs,
        ngram_jaccard_pairs,
        simhash_pairs,
    )

    # No scan fan-out here (r12): this composite is checkpoint/shuffle-bound
    # locally — the r11 driver run measured the fan-out exchange as a net
    # +17% on this query (VERDICT r11 item 1), and at production scale the
    # trigger never fires, so the flag bought nothing anywhere.
    docs = load_table(spark, sf_dir, "documents")
    sh = _sized_shingles(docs, "text", "doc_id", 3, 1000).localCheckpoint(
        eager=True
    )
    # The three tier materializations are independent given ``sh`` —
    # overlap their checkpoint jobs in driver threads (guide §2.6) so the
    # composite pays max(tier) instead of sum(tier) wall-clock. Same
    # DataFrames, same plans, same results as sequential construction.
    exact, lsh, sim = _build_concurrently([
        lambda: (
            ngram_jaccard_pairs(docs, threshold=0.5, max_bucket=1000, sh=sh)
            .select("doc_a", "doc_b")
            .localCheckpoint(eager=True)
        ),
        lambda: (
            minhash_lsh_pairs(
                docs, threshold=0.5, sh=sh.filter(F.col("_bucket_n") >= 2)
            )
            .select("doc_a", "doc_b")
            .localCheckpoint(eager=True)
        ),
        lambda: (
            simhash_pairs(docs)
            .select("doc_a", "doc_b")
            .localCheckpoint(eager=True)
        ),
    ])

    def n(df, name):
        return df.agg(F.count("*").alias(name))

    def inter(a, b, name):
        return a.join(b, ["doc_a", "doc_b"]).agg(F.count("*").alias(name))

    out = (
        n(exact, "n_exact")
        .crossJoin(F.broadcast(n(lsh, "n_lsh")))
        .crossJoin(F.broadcast(n(sim, "n_simhash")))
        .crossJoin(F.broadcast(inter(lsh, exact, "lsh_hits")))
        .crossJoin(F.broadcast(inter(sim, exact, "simhash_hits")))
    )
    rec = lambda h: F.when(  # noqa: E731
        F.col("n_exact") > 0,
        F.round(F.col(h).cast("double") / F.col("n_exact").cast("double"), 4),
    )
    return out.select(
        "n_exact", "n_lsh", "n_simhash", "lsh_hits", "simhash_hits",
        rec("lsh_hits").alias("lsh_recall"),
        rec("simhash_hits").alias("simhash_recall"),
    )


def _q149_sql() -> str:
    return f"""
WITH exact_pairs AS (
  SELECT doc_a, doc_b FROM ({_Q24_SQL}) x
), lsh_pairs AS (
  SELECT doc_a, doc_b FROM ({_q25_sql()}) y
), sim_pairs AS (
  SELECT doc_a, doc_b FROM ({_Q26_SQL}) z
), m AS (
  SELECT (SELECT count(*) FROM exact_pairs) AS n_exact,
         (SELECT count(*) FROM lsh_pairs) AS n_lsh,
         (SELECT count(*) FROM sim_pairs) AS n_simhash,
         (SELECT count(*) FROM lsh_pairs l JOIN exact_pairs e
            ON e.doc_a = l.doc_a AND e.doc_b = l.doc_b) AS lsh_hits,
         (SELECT count(*) FROM sim_pairs s JOIN exact_pairs e
            ON e.doc_a = s.doc_a AND e.doc_b = s.doc_b) AS simhash_hits
)
SELECT n_exact, n_lsh, n_simhash, lsh_hits, simhash_hits,
       CASE WHEN n_exact > 0
            THEN round(CAST(lsh_hits AS DOUBLE) / n_exact, 4) END
         AS lsh_recall,
       CASE WHEN n_exact > 0
            THEN round(CAST(simhash_hits AS DOUBLE) / n_exact, 4) END
         AS simhash_recall
FROM m
"""


def q156_boilerplate_excision(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style boilerplate removal (operators/dedup.boilerplate_excision):
    8-word chunks appearing in ≥ 2 distinct docs are excised from EVERY
    doc — including the first copy, which q53's keep-first rule retains.
    The pair of queries documents the policy difference on one chunking:
    q53 deduplicates, q156 censors."""
    from ...operators.dedup import boilerplate_excision

    docs = load_table(spark, sf_dir, "documents")
    return boilerplate_excision(docs, chunk_words=8, min_docs=2).orderBy("doc_id")


_Q156_SQL = r"""
WITH w AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '') AS w
  FROM documents
), ix AS (
  SELECT doc_id, w,
         unnest(range(0, CAST(ceil(len(w) / 8.0) AS BIGINT))) AS ci
  FROM w
), chunks AS (
  SELECT doc_id, ci, array_to_string(w[ci*8+1 : ci*8+8], ' ') AS chunk
  FROM ix
), f AS (
  SELECT chunk, count(DISTINCT doc_id) AS df_docs FROM chunks GROUP BY chunk
), marked AS (
  SELECT c.doc_id, c.ci, c.chunk, f.df_docs < 2 AS keep
  FROM chunks c JOIN f USING (chunk)
), per_doc AS (
  SELECT doc_id,
         count(*) AS n_chunks,
         CAST(coalesce(sum(CASE WHEN keep THEN 0 ELSE 1 END), 0) AS BIGINT)
           AS n_removed,
         coalesce(string_agg(chunk, ' ' ORDER BY ci) FILTER (WHERE keep), '')
           AS text_clean
  FROM marked GROUP BY doc_id
)
SELECT d.doc_id,
       coalesce(p.n_chunks, 0) AS n_chunks,
       coalesce(p.n_removed, 0) AS n_removed,
       coalesce(p.text_clean, '') AS text_clean
FROM documents d LEFT JOIN per_doc p USING (doc_id)
ORDER BY d.doc_id
"""


def q158_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source n-gram novelty — the marginal-value audit behind
    source-mixing decisions (a source whose 8-gram mass mostly re-occurs
    in OTHER sources adds little new text; compare SlimPajama's
    cross-source redundancy analysis): per source, total 8-gram
    occurrences, the occurrences whose gram also appears in at least one
    other source, and the novel share.

    Scale shape: the gram stream is the shuffle-free sequence-explode
    carrying only (md5(gram), source); the per-(gram, source) and
    per-gram rollups combine map-side on the hash; the shared/novel mark
    is a same-key join of the |gram, source| relation against the
    |gram|-sized source-count relation (a boilerplate hot gram joins its
    ONE count row). Output is |sources| rows; the share is the single
    rounded division of exact integers."""
    docs = load_table(spark, sf_dir, "documents", parallelize=True)
    words = F.filter(
        F.split(F.lower("text"), "\\s+"), lambda x: x != F.lit("")
    )
    base = docs.select("source", words.alias("_w"))
    n = 8
    last = F.size("_w") - n + 1
    idx = F.when(last >= 1, F.sequence(F.lit(1), last)).otherwise(
        F.array().cast("array<int>")
    )
    grams = base.select("source", F.explode(idx).alias("_i"), "_w").select(
        "source",
        F.md5(F.expr(f"array_join(slice(_w, _i, {n}), ' ')")).alias("g"),
    )
    per_sg = grams.groupBy("g", "source").agg(F.count("*").alias("occ"))
    per_g = per_sg.groupBy("g").agg(
        F.count("*").alias("n_sources")
    )
    j = per_sg.join(per_g, "g")
    return (
        j.groupBy("source")
        .agg(
            F.sum("occ").alias("n_grams"),
            F.sum(
                F.when(F.col("n_sources") >= 2, F.col("occ")).otherwise(0)
            ).alias("n_shared"),
        )
        .select(
            "source",
            "n_grams",
            "n_shared",
            F.when(
                F.col("n_grams") > 0,
                F.round(
                    (F.col("n_grams") - F.col("n_shared")).cast("double")
                    / F.col("n_grams"),
                    6,
                ),
            ).alias("novel_share"),
        )
        .orderBy("source")
    )


_Q158_SQL = r"""
WITH base AS (
  SELECT source,
         list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '') AS w
  FROM documents
), grams AS (
  SELECT source, md5(array_to_string(w[i : i + 7], ' ')) AS g
  FROM (SELECT source, w, unnest(range(1, len(w) - 6)) AS i FROM base)
), per_sg AS (
  SELECT g, source, count(*) AS occ FROM grams GROUP BY g, source
), per_g AS (
  SELECT g, count(*) AS n_sources FROM per_sg GROUP BY g
)
SELECT s.source,
       CAST(sum(s.occ) AS BIGINT) AS n_grams,
       CAST(sum(CASE WHEN p.n_sources >= 2 THEN s.occ ELSE 0 END) AS BIGINT)
         AS n_shared,
       CASE WHEN sum(s.occ) > 0
            THEN round(CAST(sum(s.occ) -
                   sum(CASE WHEN p.n_sources >= 2 THEN s.occ ELSE 0 END)
                 AS DOUBLE) / CAST(sum(s.occ) AS BIGINT), 6) END
         AS novel_share
FROM per_sg s JOIN per_g p USING (g)
GROUP BY s.source
ORDER BY s.source
"""


def q170_lsh_band_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH band-choice sweep — the tuning table behind q25's (16, 4)
    default: the SAME 64-hash signature banded three ways (8×8, 16×4,
    32×2), each tier's verified pairs audited against the exact q24
    tier. The S-curve midpoint (1/b)^(1/r) moves from ≈0.77 to ≈0.18
    across the sweep, so recall at the 0.5 threshold must be monotone
    in the band count — the property a corpus owner consults before
    spending the candidate budget. Signatures and caps are shared with
    q25 (one builder on both engines, so the sweep can never drift from
    the production tier). Exact integer counts; one rounded division
    per arm.

    Cost note (r8): the 64 minhashes and the sized verify shingles are
    each computed ONCE and localCheckpointed, then the three arms band
    the cached signature relation three ways (_band_candidates) and
    verify against the cached shingles — a per-arm rebuild would rerun
    the dominant signature pass 3× for byte-identical results (the
    oracle replays the per-arm derivation and matches either way)."""
    from ...operators.dedup import (
        _band_candidates,
        _jaccard_verify,
        _sized_shingles,
        minhash_signatures,
        ngram_jaccard_pairs,
    )

    # No scan fan-out (r12): checkpoint-bound composite, fan-out measured
    # a net +20% in the r11 driver run (VERDICT r11 item 1).
    docs = load_table(spark, sf_dir, "documents")
    # ONE shingle pass for the whole query (r12): the exact tier used to
    # rebuild _sized_shingles internally while the verify relation built
    # the identical relation beside it — checkpoint the unfiltered
    # relation once, feed the exact tier via the ``sh`` seam (the q149
    # discipline) and derive the verify side as a filter of it. The two
    # up-front materializations (shingles, signatures) are independent, as
    # are the exact tier and the three band arms afterwards — overlap each
    # phase's checkpoint jobs in driver threads (guide §2.6).
    shu, sig = _build_concurrently([
        lambda: _sized_shingles(docs, "text", "doc_id", 3, 1000)
        .localCheckpoint(eager=True),
        lambda: minhash_signatures(docs, "text", "doc_id", 64, 3)
        .localCheckpoint(eager=True),
    ])
    sh = shu.filter(F.col("_bucket_n") >= 2)

    def _arm_lsh(bands: int):
        return (
            _jaccard_verify(
                docs,
                _band_candidates(sig, bands, 64 // bands, 1000),
                "text",
                "doc_id",
                3,
                1000,
                0.5,
                sh=sh,
            )
            .select("doc_a", "doc_b")
            .localCheckpoint(eager=True)
        )

    exact, lsh8, lsh16, lsh32 = _build_concurrently([
        lambda: (
            ngram_jaccard_pairs(docs, threshold=0.5, max_bucket=1000, sh=shu)
            .select("doc_a", "doc_b")
            .localCheckpoint(eager=True)
        ),
        lambda: _arm_lsh(8),
        lambda: _arm_lsh(16),
        lambda: _arm_lsh(32),
    ])
    ne = exact.agg(F.count("*").alias("n_exact"))
    arms = []
    for bands, lsh in ((8, lsh8), (16, lsh16), (32, lsh32)):
        arms.append(
            lsh.agg(F.count("*").alias("n_pairs"))
            .crossJoin(
                F.broadcast(
                    lsh.join(exact, ["doc_a", "doc_b"]).agg(
                        F.count("*").alias("n_hit")
                    )
                )
            )
            .select(
                F.lit(bands).alias("bands"),
                F.lit(64 // bands).alias("rows_per_band"),
                "n_pairs",
                "n_hit",
            )
        )
    out = arms[0]
    for a in arms[1:]:
        out = out.unionByName(a)
    return (
        out.crossJoin(F.broadcast(ne))
        .select(
            "bands",
            "rows_per_band",
            "n_pairs",
            "n_exact",
            "n_hit",
            F.when(
                F.col("n_exact") > 0,
                F.round(F.col("n_hit").cast("double") / F.col("n_exact"), 4),
            ).alias("recall"),
        )
        .orderBy("bands")
    )


def _q170_sql() -> str:
    arms = []
    for bands in (8, 16, 32):
        r = 64 // bands
        arms.append(
            f"""SELECT {bands} AS bands, {r} AS rows_per_band,
       (SELECT count(*) FROM a{bands}) AS n_pairs,
       (SELECT n_exact FROM ne) AS n_exact,
       (SELECT count(*) FROM a{bands} l
          JOIN exact_pairs e
            ON e.doc_a = l.doc_a AND e.doc_b = l.doc_b) AS n_hit"""
        )
    withs = ",\n".join(
        f"a{bands} AS (SELECT doc_a, doc_b FROM ({_q25_sql(64 // bands)}) s{bands})"
        for bands in (8, 16, 32)
    )
    body = "\nUNION ALL\n".join(arms)
    return f"""
WITH exact_pairs AS (
  SELECT doc_a, doc_b FROM ({_Q24_SQL}) x
), ne AS (
  SELECT CAST(count(*) AS BIGINT) AS n_exact FROM exact_pairs
),
{withs}
SELECT bands, rows_per_band, n_pairs, n_exact, n_hit,
       CASE WHEN n_exact > 0
            THEN round(CAST(n_hit AS DOUBLE) / n_exact, 4) END AS recall
FROM ({body}) u
ORDER BY bands
"""


def q183_source_copy_rings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Source copy-ring census — licensing/governance telemetry: sources
    connected by cross-source near-duplicate evidence (the q24 exact
    tier) are resolved into rings with the q42 min-label closure, here
    running on SOURCE names (min-label propagation needs only an
    orderable label — strings qualify). A ring of mirrors should be
    ingested once, not |ring| times; the census names each ring's
    members so the decision is actionable. The pair relation is
    candidate-sized; the closure runs on the |sources|-node graph —
    corpus cost is the one dedup tier already paid for."""
    from ...operators.dedup import connected_components, ngram_jaccard_pairs

    docs = load_table(spark, sf_dir, "documents", parallelize=True)
    pairs = ngram_jaccard_pairs(docs, threshold=0.5, max_bucket=1000)
    src = docs.select("doc_id", "source")
    sp = (
        pairs.join(
            src.select(F.col("doc_id").alias("doc_a"), F.col("source").alias("sa")),
            "doc_a",
        )
        .join(
            src.select(F.col("doc_id").alias("doc_b"), F.col("source").alias("sb")),
            "doc_b",
        )
        .filter(F.col("sa") != F.col("sb"))
        .select(
            F.least("sa", "sb").alias("src_a"),
            F.greatest("sa", "sb").alias("src_b"),
        )
        .distinct()
    )
    comp = connected_components(sp, "src_a", "src_b")
    return (
        comp.groupBy(F.col("component").alias("ring"))
        .agg(
            F.count("*").alias("n_sources"),
            F.array_join(
                F.array_sort(F.collect_set("doc_id")), ","
            ).alias("members"),
        )
        .orderBy("ring")
    )


def _q183_sql() -> str:
    return f"""
WITH RECURSIVE pairs AS (
  SELECT doc_a, doc_b FROM ({_Q24_SQL}) p
), sp AS (
  SELECT DISTINCT least(da.source, db.source) AS a,
                  greatest(da.source, db.source) AS b
  FROM pairs
  JOIN documents da ON da.doc_id = pairs.doc_a
  JOIN documents db ON db.doc_id = pairs.doc_b
  WHERE da.source <> db.source
), edges AS (
  SELECT a, b FROM sp UNION ALL SELECT b, a FROM sp
), nodes AS (
  SELECT DISTINCT a AS node FROM edges
), reach(node, label) AS (
  SELECT node, node FROM nodes
  UNION
  SELECT e.b, r.label FROM reach r JOIN edges e ON e.a = r.node
), comp AS (
  SELECT node, min(label) AS component FROM reach GROUP BY node
)
SELECT component AS ring,
       count(*) AS n_sources,
       string_agg(node, ',' ORDER BY node) AS members
FROM comp
GROUP BY component
ORDER BY ring
"""


def q207_containment_pairs(
    spark: SparkSession, sf_dir: str, fanout: bool = True
) -> DataFrame:
    """Containment near-dups (operators/dedup.containment_pairs): the
    aggregator blind spot — pairs ≥90% contained but Jaccard < 0.5, so
    the exact-Jaccard tier (q24) ships both copies. Both cuts are
    integer cross-multiplies; the oracle replays the capped shingle
    pipeline with the same two inequalities."""
    from ...operators.dedup import containment_pairs

    docs = load_table(spark, sf_dir, "documents", parallelize=fanout)
    return containment_pairs(
        docs, containment_pct=90, max_bucket=1000
    ).orderBy("doc_a", "doc_b")


_Q207_SQL = """
WITH sh_raw AS (
  SELECT doc_id, unnest(list_distinct(
           [w[i] || ' ' || w[i+1] || ' ' || w[i+2] for i in range(1, len(w) - 1)]
         )) AS shingle
  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents)
), sh AS (
  SELECT doc_id, shingle FROM sh_raw
  WHERE shingle NOT IN (
    SELECT shingle FROM sh_raw GROUP BY shingle HAVING count(*) > 1000
  )
), sizes AS (
  SELECT doc_id, count(*) AS n_shingles FROM sh_raw GROUP BY doc_id
), inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT doc_a, doc_b, inter, sa.n_shingles AS na, sb.n_shingles AS nb,
       CAST(CAST(inter AS BIGINT) * 1000000
            // least(sa.n_shingles, sb.n_shingles) AS BIGINT)
         AS containment_micro,
       CASE WHEN sa.n_shingles <= sb.n_shingles THEN 'a_in_b'
            ELSE 'b_in_a' END AS direction
FROM inter
JOIN sizes sa ON sa.doc_id = doc_a
JOIN sizes sb ON sb.doc_id = doc_b
WHERE 100 * inter >= 90 * least(sa.n_shingles, sb.n_shingles)
  AND 3 * inter < sa.n_shingles + sb.n_shingles
ORDER BY doc_a, doc_b
"""


def q213_edit_distance_pairs(
    spark: SparkSession, sf_dir: str, fanout: bool = True
) -> DataFrame:
    """Edit-distance near-dup tier: Levenshtein <= 5 on the normalized
    80-char head — catches small in-place edits (typo fixes, version
    bumps) that exact hashing misses and that shingle tiers only see
    at much higher Jaccard cost. Candidate generation is LENGTH
    BLOCKING with overlap (each head lands in bucket len//8 and the
    next one up, so a pair within 5 edits always shares a bucket),
    each bucket CAPPED at 200 members (row_number by doc_id — the
    house join-free discipline: the quadratic term is bounded per
    bucket, never corpus-sized), and an integer length prefilter
    |la-lb| <= 5 runs before the O(len^2) levenshtein call. The
    DISTINCT collapses the two-bucket overlap. Both engines compute
    the same DP distance, so parity is exact integers throughout."""
    docs = load_table(spark, sf_dir, "documents", parallelize=fanout)
    norm = docs.select(
        "doc_id",
        F.substring(
            F.regexp_replace(F.lower("text"), "\\s+", " "), 1, 80
        ).alias("head"),
    ).withColumn("hl", F.length("head"))
    w = W.partitionBy(F.expr("hl div 8")).orderBy("doc_id")
    capped = (
        norm.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 200)
        .drop("rn")
    )
    buckets = capped.withColumn("b", F.expr("hl div 8")).unionByName(
        capped.withColumn("b", F.expr("hl div 8 + 1"))
    )
    x = buckets.alias("x")
    y = buckets.alias("y")
    pairs = (
        x.join(
            y,
            (F.col("x.b") == F.col("y.b"))
            & (F.col("x.doc_id") < F.col("y.doc_id")),
        )
        .filter(F.abs(F.col("x.hl") - F.col("y.hl")) <= 5)
        .select(
            F.col("x.doc_id").alias("doc_a"),
            F.col("y.doc_id").alias("doc_b"),
            F.col("x.head").alias("ha"),
            F.col("y.head").alias("hb"),
            F.col("x.hl").alias("len_a"),
            F.col("y.hl").alias("len_b"),
        )
        .distinct()
    )
    # Bounded levenshtein (r12): the 3-arg threshold form runs a banded
    # DP that exits early once the distance provably exceeds 5 (returning
    # -1), instead of filling the full |ha|x|hb| matrix for every
    # candidate pair only to discard most of them. For kept pairs (-1
    # excluded) it returns the exact distance, so the output is
    # byte-identical to the unbounded form + filter.
    return (
        pairs.withColumn(
            "lev", F.levenshtein("ha", "hb", 5).cast("bigint")
        )
        .filter((F.col("lev") >= 0) & (F.col("lev") <= 5))
        .select("doc_a", "doc_b", "len_a", "len_b", "lev")
        .orderBy("doc_a", "doc_b")
    )


_Q213_SQL = r"""
WITH norm AS (
  SELECT doc_id,
         substr(regexp_replace(lower(text), '\s+', ' ', 'g'), 1, 80) AS head
  FROM documents
), sized AS (
  SELECT doc_id, head, length(head) AS hl,
         row_number() OVER (PARTITION BY length(head) // 8
                            ORDER BY doc_id) AS rn
  FROM norm
), capped AS (
  SELECT doc_id, head, hl FROM sized WHERE rn <= 200
), buckets AS (
  SELECT doc_id, head, hl, hl // 8 AS b FROM capped
  UNION ALL
  SELECT doc_id, head, hl, hl // 8 + 1 AS b FROM capped
), pairs AS (
  SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b,
         x.head AS ha, y.head AS hb, x.hl AS la, y.hl AS lb
  FROM buckets x JOIN buckets y
    ON x.b = y.b AND x.doc_id < y.doc_id
  WHERE abs(x.hl - y.hl) <= 5
)
SELECT doc_a, doc_b, la AS len_a, lb AS len_b,
       CAST(levenshtein(ha, hb) AS BIGINT) AS lev
FROM pairs
WHERE levenshtein(ha, hb) <= 5
ORDER BY doc_a, doc_b
"""


def q216_bag_of_words_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bag-of-words (token-multiset) dedup tier: key = md5 of the
    SORTED token list — catches shuffled-sentence / reordered copies
    that exact md5 misses and canonical normalization (q93, which only
    folds case/punct/whitespace) also misses, at exact-dedup cost (one
    narrow hash shuffle, no pair generation at all — contrast the
    quadratic-bounded tiers q24/q213). Sort order is binary UTF-8 in
    both engines (byte order == code-point order), so the key is
    engine-portable. Three keys ladder the accounting: exact md5,
    canonical (case/whitespace-folded token JOIN, unsorted) and bag
    (sorted) — so reorder_only_dups = n_canon - n_bags isolates the
    dup mass visible ONLY to reordering, not double-counting the
    case/space dups the canonical tier already catches."""
    docs = load_table(spark, sf_dir, "documents")
    toks = F.filter(F.split(F.lower("text"), "\\s+"), lambda t: t != "")
    keys = docs.select(
        "source",
        F.md5("text").alias("eh"),
        F.md5(F.concat_ws(" ", toks)).alias("ch"),
        F.md5(F.concat_ws(" ", F.sort_array(toks))).alias("bh"),
    )
    return (
        keys.groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.countDistinct("eh").alias("n_exact"),
            F.countDistinct("ch").alias("n_canon"),
            F.countDistinct("bh").alias("n_bags"),
            (F.countDistinct("ch") - F.countDistinct("bh")).alias(
                "reorder_only_dups"
            ),
        )
        .orderBy("source")
    )


_Q216_SQL = r"""
WITH keys AS (
  SELECT doc_id, source,
         md5(text) AS eh,
         md5(array_to_string(list_filter(
             string_split_regex(lower(text), '\s+'), t -> t <> ''), ' '))
           AS ch,
         md5(array_to_string(list_sort(list_filter(
             string_split_regex(lower(text), '\s+'), t -> t <> '')), ' '))
           AS bh
  FROM documents
)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(count(DISTINCT eh) AS BIGINT) AS n_exact,
       CAST(count(DISTINCT ch) AS BIGINT) AS n_canon,
       CAST(count(DISTINCT bh) AS BIGINT) AS n_bags,
       CAST(count(DISTINCT ch) - count(DISTINCT bh) AS BIGINT)
         AS reorder_only_dups
FROM keys GROUP BY source ORDER BY source
"""


def q287_dedup_distribution_shift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution-shift audit of exact dedup: the Jensen-Shannon
    divergence between the FULL corpus unigram distribution and the
    distribution over exact-dedup survivors (operators/dedup.exact_dedup
    keepers) — the check that deduplication cleaned volume without
    skewing the token mix (the pipeline-effect companion to q137's
    count-level effectiveness and q211's source-drift dial).

    Same exactness machinery as q211: per-token JS terms are one
    identical double chain over exact integer counts, quantized to
    pico-nats pre-sum; tokens absent from the survivor set contribute
    the closed-form 0.5·ln2·Σp tail computed from INTEGER sums (no
    full-vocabulary sweep).

    Shape at 100 TB: the dedup keeper set is a hash-grouped min;
    two token-count passes share the survivor semi-join; the JS join
    runs on the survivor vocabulary only."""
    from ...operators.dedup import exact_dedup

    docs = load_table(spark, sf_dir, "documents")
    kept = exact_dedup(docs).select(F.col("keeper").alias("doc_id"))
    toks_all = docs.select(
        "doc_id", F.explode(F.split(F.lower("text"), "\\s+")).alias("tok")
    ).filter(F.col("tok") != "")
    cg = toks_all.groupBy("tok").agg(F.count("*").alias("cg"))
    toks_kept = toks_all.join(kept, "doc_id", "left_semi")
    ck = toks_kept.groupBy("tok").agg(F.count("*").alias("ck"))
    nt = cg.agg(F.sum("cg").alias("nt"))
    nk = ck.agg(F.sum("ck").alias("nk"))
    p = "(CAST(cg AS DOUBLE) / CAST(nt AS DOUBLE))"
    q = "(CAST(ck AS DOUBLE) / CAST(nk AS DOUBLE))"
    term = (
        f"CAST(round((0.5 * {p} * ln(2 * {p} / ({p} + {q}))"
        f" + 0.5 * {q} * ln(2 * {q} / ({p} + {q}))) * 1e12) AS BIGINT)"
    )
    joined = (
        ck.join(cg, "tok")
        .crossJoin(F.broadcast(nt))
        .crossJoin(F.broadcast(nk))
        .agg(
            F.count("*").alias("vocab_kept"),
            F.sum(F.expr(term)).alias("present_pico"),
            F.sum("cg").alias("gnum"),
            F.max("nt").alias("nt"),
            F.max("nk").alias("nk"),
        )
    )
    counts = docs.agg(F.count("*").alias("n_docs")).crossJoin(
        kept.agg(F.count("*").alias("n_kept"))
    )
    tail = (
        "CAST(round(0.5 * ln(2.0) * CAST(nt - gnum AS DOUBLE)"
        " / CAST(nt AS DOUBLE) * 1e12) AS BIGINT)"
    )
    return joined.crossJoin(F.broadcast(counts)).select(
        "n_docs",
        "n_kept",
        F.col("nt").alias("corpus_tokens"),
        F.col("nk").alias("kept_tokens"),
        "vocab_kept",
        F.expr(f"(present_pico + {tail}) div 1000000").alias("js_micro"),
    )


def _q287_sql() -> str:
    p = "(CAST(cg AS DOUBLE) / CAST(nt AS DOUBLE))"
    q = "(CAST(ck AS DOUBLE) / CAST(nk AS DOUBLE))"
    term = (
        f"CAST(round((0.5 * {p} * ln(2 * {p} / ({p} + {q}))"
        f" + 0.5 * {q} * ln(2 * {q} / ({p} + {q}))) * 1e12) AS BIGINT)"
    )
    return rf"""
WITH kept AS (
  SELECT min(doc_id) AS doc_id FROM documents GROUP BY md5(text)
), toks_all AS (
  SELECT doc_id, tok FROM (
    SELECT doc_id, unnest(string_split_regex(lower(text), '\s+')) AS tok
    FROM documents
  ) WHERE tok <> ''
), cg AS (
  SELECT tok, CAST(count(*) AS BIGINT) AS cg FROM toks_all GROUP BY tok
), ck AS (
  SELECT tok, CAST(count(*) AS BIGINT) AS ck
  FROM toks_all WHERE doc_id IN (SELECT doc_id FROM kept)
  GROUP BY tok
), nt AS (
  SELECT CAST(sum(cg) AS BIGINT) AS nt FROM cg
), nk AS (
  SELECT CAST(sum(ck) AS BIGINT) AS nk FROM ck
), joined AS (
  SELECT CAST(count(*) AS BIGINT) AS vocab_kept,
         CAST(sum({term}) AS BIGINT) AS present_pico,
         CAST(sum(cg) AS BIGINT) AS gnum,
         CAST(max(nt) AS BIGINT) AS nt,
         CAST(max(nk) AS BIGINT) AS nk
  FROM ck JOIN cg USING (tok) CROSS JOIN nt CROSS JOIN nk
), counts AS (
  SELECT (SELECT CAST(count(*) AS BIGINT) FROM documents) AS n_docs,
         (SELECT CAST(count(*) AS BIGINT) FROM kept) AS n_kept
)
SELECT n_docs, n_kept,
       nt AS corpus_tokens, nk AS kept_tokens, vocab_kept,
       CAST((present_pico
             + CAST(round(0.5 * ln(2.0) * CAST(nt - gnum AS DOUBLE)
                    / CAST(nt AS DOUBLE) * 1e12) AS BIGINT))
            // 1000000 AS BIGINT) AS js_micro
FROM joined CROSS JOIN counts
"""


def q320_bloom_fpr_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MEASURED false-positive rate of the q96 Bloom filter against
    exact ground truth — the audit that turns the filter's theoretical
    FPR into a monitored number (the sketch-audit pattern of q302/q106
    applied to the novelty gate): build the same m=2¹⁶, j=4 salted
    md5-slice filter over the even-doc corpus, probe it with the odd
    docs, and score every probe against the exact hash anti-join.

    All-integer output: delta size, bloom positives, true duplicates,
    false positives, set-bit occupancy, and fpr_ppm = (fp·10⁶) div
    (truly-novel count) — no float in any value. The filter's
    no-false-negative invariant is asserted structurally: a true dup
    that bloom calls absent would make n_missed > 0 (pytest pins 0).

    Shape at 100 TB: the filter build is the q96 shape (bit_or partials
    bounded at m/64 longs per map task); the audit probes by JOINING
    delta positions to the broadcast bloom-sized word table — per-doc
    j rows, map-side — and the truth join touches only content hashes."""
    from ...operators.dedup import _h32

    m_bits, j_hashes = 1 << 16, 4
    docs = load_table(spark, sf_dir, "documents")
    corpus = docs.filter(F.col("doc_id") % 2 == 0)
    delta = docs.filter(F.col("doc_id") % 2 == 1)
    ch = F.md5(F.col("text"))

    def pos(i: int):
        return F.pmod(
            _h32(F.concat(F.lit(f"bloom{i}:"), ch)), F.lit(m_bits)
        )

    def wb(p):
        # 32-bit words (word = p>>5, bit = 1 << p%32): the max shift is
        # 31, so the bit mask never reaches a BIGINT sign bit — DuckDB
        # raises on 1::BIGINT << 63, Spark wraps silently; 32-bit words
        # keep the replay portable with identical semantics.
        return F.struct(
            F.shiftright(p, 5).cast("int").alias("word"),
            F.call_function(
                "shiftleft", F.lit(1).cast("long"),
                F.pmod(p, F.lit(32)).cast("int"),
            ).alias("bit"),
        )

    words = (
        corpus.select(
            F.explode(F.array(*[wb(pos(i)) for i in range(j_hashes)])).alias("p")
        )
        .select(F.col("p.word").alias("word"), F.col("p.bit").alias("bit"))
        .groupBy("word")
        .agg(F.bit_or("bit").alias("bits"))
    )
    probes = delta.select(
        "doc_id",
        ch.alias("_ch"),
        F.explode(F.array(*[wb(pos(i)) for i in range(j_hashes)])).alias("p"),
    ).select("doc_id", "_ch", F.col("p.word").alias("word"), F.col("p.bit").alias("bit"))
    checked = (
        probes.join(F.broadcast(words), "word", "left")
        .groupBy("doc_id", "_ch")
        .agg(
            F.min(
                (F.coalesce(F.col("bits"), F.lit(0)).bitwiseAND(F.col("bit")) != 0)
                .cast("int")
            ).alias("positive")
        )
    )
    corpus_hashes = corpus.select(ch.alias("_ch")).distinct()
    scored = checked.join(
        corpus_hashes.withColumn("_dup", F.lit(1)), "_ch", "left"
    ).select(
        "positive", F.coalesce("_dup", F.lit(0)).alias("dup")
    )
    occupancy = words.agg(
        F.sum(F.bit_count("bits")).alias("bits_set")
    )
    return (
        scored.agg(
            F.count("*").alias("n_delta"),
            F.sum("positive").alias("n_bloom_positive"),
            F.sum("dup").alias("n_true_dup"),
            F.sum(F.expr("positive * (1 - dup)")).alias("n_false_positive"),
            F.sum(F.expr("(1 - positive) * dup")).alias("n_missed"),
        )
        .crossJoin(F.broadcast(occupancy))
        .select(
            "n_delta",
            "n_bloom_positive",
            "n_true_dup",
            "n_false_positive",
            "n_missed",
            "bits_set",
            F.expr(f"(bits_set * 1000000) div {m_bits}").alias("occupancy_ppm"),
            F.expr(
                "CASE WHEN n_delta - n_true_dup > 0 THEN"
                " (n_false_positive * 1000000) div (n_delta - n_true_dup)"
                " ELSE CAST(NULL AS BIGINT) END"
            ).alias("fpr_ppm"),
        )
    )


_Q320_SQL = """
WITH corpus AS (
  SELECT md5(text) AS ch FROM documents WHERE doc_id % 2 = 0
), delta AS (
  SELECT doc_id, md5(text) AS ch FROM documents WHERE doc_id % 2 = 1
), cpos AS (
  SELECT ('0x' || substr(md5('bloom' || i || ':' || ch), 1, 8))::BIGINT
           % 65536 AS p
  FROM corpus CROSS JOIN (VALUES (0), (1), (2), (3)) h(i)
), words AS (
  SELECT CAST(p // 32 AS INT) AS word,
         bit_or(CAST(1 AS BIGINT) << CAST(p % 32 AS INT)) AS bits
  FROM cpos GROUP BY 1
), dpos AS (
  SELECT doc_id, ch,
         ('0x' || substr(md5('bloom' || i || ':' || ch), 1, 8))::BIGINT
           % 65536 AS p
  FROM delta CROSS JOIN (VALUES (0), (1), (2), (3)) h(i)
), checked AS (
  SELECT d.doc_id, d.ch,
         min(CASE WHEN coalesce(w.bits, 0)
                       & (CAST(1 AS BIGINT) << CAST(d.p % 32 AS INT)) <> 0
             THEN 1 ELSE 0 END) AS positive
  FROM dpos d
  LEFT JOIN words w ON w.word = CAST(d.p // 32 AS INT)
  GROUP BY 1, 2
), scored AS (
  SELECT c.positive,
         CASE WHEN EXISTS (SELECT 1 FROM corpus k WHERE k.ch = c.ch)
              THEN 1 ELSE 0 END AS dup
  FROM checked c
), occ AS (
  SELECT CAST(sum(bit_count(bits)) AS BIGINT) AS bits_set FROM words
), agg AS (
  SELECT CAST(count(*) AS BIGINT) AS n_delta,
         CAST(sum(positive) AS BIGINT) AS n_bloom_positive,
         CAST(sum(dup) AS BIGINT) AS n_true_dup,
         CAST(sum(positive * (1 - dup)) AS BIGINT) AS n_false_positive,
         CAST(sum((1 - positive) * dup) AS BIGINT) AS n_missed
  FROM scored
)
SELECT n_delta, n_bloom_positive, n_true_dup, n_false_positive, n_missed,
       occ.bits_set,
       CAST((occ.bits_set * 1000000) // 65536 AS BIGINT) AS occupancy_ppm,
       CAST(CASE WHEN n_delta - n_true_dup > 0 THEN
              (n_false_positive * 1000000) // (n_delta - n_true_dup)
            ELSE NULL END AS BIGINT) AS fpr_ppm
FROM agg CROSS JOIN occ
"""


def q328_minhash_accuracy_audit(
    spark: SparkSession, sf_dir: str, fanout: bool = True
) -> DataFrame:
    """MinHash estimator accuracy audit — the sketch-audit pattern
    (q259 CMS, q302 HLL, q320 Bloom) applied to the q25 dedup tier:
    over every LSH candidate pair, compare the SIGNATURE-estimated
    Jaccard (matching slots / k) against the exact shingle Jaccard the
    verify stage computes anyway, and report the error distribution
    plus the threshold confusion (would a signature-only decision at
    0.5 disagree with exact verification?). This is the measurement
    that justifies — or vetoes — skipping the exact-verify join at
    100 TB.

    Exactness: every number is integer — per pair, the error
    |m·U − I·k| ·10⁶ div (k·U) is an exact cross-multiplied rational
    floor (est − true = (mU − Ik)/(kU)), and the 0.5-threshold calls
    are the cross-multiplied compares 2m ≥ k and 2I ≥ U (never float
    division, the q118 rule).

    Shape at 100 TB: the candidate relation and signatures are the
    audited q25 shapes (capped band buckets, one exchange); the audit
    adds two doc-keyed signature joins on the candidate-bounded
    relation and a 1-row reduction. The signature relation is
    localCheckpointed (r10, the q170 discipline) because it feeds the
    banding AND both audit joins — without it the dominant 64-minhash
    pass ran three times for byte-identical results."""
    from ...operators.dedup import (
        _band_candidates,
        _jaccard_verify,
        minhash_signatures,
    )

    docs = load_table(spark, sf_dir, "documents", parallelize=fanout)
    sig = minhash_signatures(docs).localCheckpoint(eager=True)
    pairs = _jaccard_verify(
        docs, _band_candidates(sig, 16, 4, 1000), "text", "doc_id",
        3, 1000, 0.0,
    ).select("doc_a", "doc_b", "inter", "na", "nb")
    sa = sig.select(F.col("doc_id").alias("doc_a"), F.col("sig").alias("_sa"))
    sb = sig.select(F.col("doc_id").alias("doc_b"), F.col("sig").alias("_sb"))
    scored = (
        pairs.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "inter",
            "na",
            "nb",
            F.size(
                F.filter(
                    F.zip_with("_sa", "_sb", lambda x, y: x == y),
                    lambda b: b,
                )
            ).cast("long").alias("m"),
            (F.col("na") + F.col("nb") - F.col("inter")).alias("u"),
        )
        .select(
            "m",
            "inter",
            "u",
            F.expr(
                "(abs(m * u - inter * 64) * 1000000) div (64 * u)"
            ).alias("err_ppm"),
            (F.lit(2) * F.col("m") >= F.lit(64)).cast("long").alias("est_pos"),
            (F.lit(2) * F.col("inter") >= F.col("u")).cast("long").alias(
                "true_pos"
            ),
        )
    )
    return scored.agg(
        F.count("*").alias("n_pairs"),
        F.expr("sum(err_ppm) div count(*)").alias("mean_err_ppm"),
        F.max("err_ppm").alias("max_err_ppm"),
        F.sum("est_pos").alias("n_est_pos"),
        F.sum("true_pos").alias("n_true_pos"),
        F.sum(F.expr("est_pos * (1 - true_pos)")).alias("n_false_pos"),
        F.sum(F.expr("(1 - est_pos) * true_pos")).alias("n_false_neg"),
    )


def _q328_sql() -> str:
    from ...operators.dedup import _MERSENNE, _hash_params

    params = ",\n    ".join(
        f"({i}, {a}, {b})" for i, (a, b) in enumerate(_hash_params(64))
    )
    return f"""
WITH w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
sh_raw AS (
  SELECT doc_id, unnest(list_distinct(
           [w[i] || ' ' || w[i+1] || ' ' || w[i+2] for i in range(1, len(w) - 1)]
         )) AS shingle
  FROM w
), hs AS (
  SELECT doc_id, ('0x' || substr(md5(shingle), 1, 8))::BIGINT AS h FROM sh_raw
), params(i, a, b) AS (VALUES
    {params}
), sig AS (
  SELECT doc_id, p.i, min((p.a * h + p.b) % {_MERSENNE}) AS s
  FROM hs CROSS JOIN params p GROUP BY doc_id, p.i
), banded AS (
  SELECT doc_id, i // 4 AS band, string_agg(s::VARCHAR, ',' ORDER BY i) AS bh
  FROM sig GROUP BY doc_id, i // 4
), ok AS (
  SELECT band, bh FROM banded GROUP BY band, bh
  HAVING count(*) BETWEEN 2 AND 1000
), cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM banded a
  JOIN ok ON ok.band = a.band AND ok.bh = a.bh
  JOIN banded b ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id
), sh AS (
  SELECT doc_id, shingle FROM sh_raw
  WHERE shingle NOT IN (
    SELECT shingle FROM sh_raw GROUP BY shingle HAVING count(*) > 1000
  )
), sizes AS (
  SELECT doc_id, count(*) AS n_shingles FROM sh_raw GROUP BY doc_id
), inter AS (
  SELECT c.doc_a, c.doc_b, CAST(count(*) AS BIGINT) AS inter
  FROM cand c
  JOIN sh a ON a.doc_id = c.doc_a
  JOIN sh b ON b.doc_id = c.doc_b AND b.shingle = a.shingle
  GROUP BY 1, 2
), matches AS (
  SELECT c.doc_a, c.doc_b,
         CAST(sum(CASE WHEN sa.s = sb.s THEN 1 ELSE 0 END) AS BIGINT) AS m
  FROM cand c
  JOIN sig sa ON sa.doc_id = c.doc_a
  JOIN sig sb ON sb.doc_id = c.doc_b AND sb.i = sa.i
  GROUP BY 1, 2
), scored AS (
  SELECT mt.m, i.inter,
         sa.n_shingles + sb.n_shingles - i.inter AS u
  FROM inter i
  JOIN matches mt ON mt.doc_a = i.doc_a AND mt.doc_b = i.doc_b
  JOIN sizes sa ON sa.doc_id = i.doc_a
  JOIN sizes sb ON sb.doc_id = i.doc_b
), errs AS (
  SELECT m, inter, u,
         (abs(m * u - inter * 64) * 1000000) // (64 * u) AS err_ppm,
         CASE WHEN 2 * m >= 64 THEN 1 ELSE 0 END AS est_pos,
         CASE WHEN 2 * inter >= u THEN 1 ELSE 0 END AS true_pos
  FROM scored
)
SELECT CAST(count(*) AS BIGINT) AS n_pairs,
       CAST(sum(err_ppm) // count(*) AS BIGINT) AS mean_err_ppm,
       CAST(max(err_ppm) AS BIGINT) AS max_err_ppm,
       CAST(sum(est_pos) AS BIGINT) AS n_est_pos,
       CAST(sum(true_pos) AS BIGINT) AS n_true_pos,
       CAST(sum(est_pos * (1 - true_pos)) AS BIGINT) AS n_false_pos,
       CAST(sum((1 - est_pos) * true_pos) AS BIGINT) AS n_false_neg
FROM errs
"""


def q338_kmv_accuracy_audit(
    spark: SparkSession, sf_dir: str, fanout: bool = True
) -> DataFrame:
    """KMV estimator accuracy audit — the last member of the
    sketch-audit family (CMS q259, HLL q302, Bloom q320, MinHash
    q328): per language pair, the EXACT vocabulary Jaccard (distinct-
    token inner join + inclusion-exclusion union) beside q106's
    KMV-estimated Jaccard, with the error in ppm. The measurement
    that justifies replacing the exact pairwise vocab join with the
    sub-linear sketch at scale.

    Exactness: everything integer — exact_j_ppm = inter·10⁶ div union,
    est_j_ppm = n_both·10⁶ div k_used (the estimate is itself an exact
    rational of the deterministic md5 sketch), err_ppm their absolute
    difference.

    Shape at 100 TB: exact side is one distinct (lang, token) pass +
    a token-keyed pair join on the vocabulary relation (bounded by
    vocab, not corpus); sketch side is the audited q106 bottom-256
    shape."""
    from ...operators.sketches import kmv_group_sketch, kmv_pair_overlap

    docs = load_table(spark, sf_dir, "documents", parallelize=fanout)
    toks = docs.select(
        "lang",
        F.explode(
            F.filter(
                F.split(F.lower("text"), "\\s+"), lambda x: x != F.lit("")
            )
        ).alias("tok"),
    )
    vocab = toks.distinct()
    sizes = vocab.groupBy("lang").agg(F.count("*").alias("v"))
    a = vocab.select(F.col("lang").alias("g1"), "tok")
    b = vocab.select(F.col("lang").alias("g2"), "tok")
    inter = (
        a.join(b, "tok")
        .filter(F.col("g1") < F.col("g2"))
        .groupBy("g1", "g2")
        .agg(F.count("*").alias("inter"))
    )
    exact = (
        inter.join(sizes.withColumnRenamed("lang", "g1").withColumnRenamed("v", "v1"), "g1")
        .join(sizes.withColumnRenamed("lang", "g2").withColumnRenamed("v", "v2"), "g2")
        .select(
            "g1", "g2", "inter",
            (F.col("v1") + F.col("v2") - F.col("inter")).alias("uni"),
        )
    )
    mins = kmv_group_sketch(toks, "lang", "tok", k=256)
    est = kmv_pair_overlap(mins, "lang", k=256).select(
        "g1", "g2", "k_used", "n_both"
    )
    return (
        exact.join(est, ["g1", "g2"])
        .select(
            "g1",
            "g2",
            "inter",
            F.col("uni").alias("union_exact"),
            F.expr("(inter * 1000000) div uni").alias("exact_j_ppm"),
            F.expr("(n_both * 1000000) div k_used").alias("est_j_ppm"),
            F.expr(
                "abs((inter * 1000000) div uni"
                " - (n_both * 1000000) div k_used)"
            ).alias("err_ppm"),
        )
        .orderBy("g1", "g2")
    )


_Q338_SQL = r"""
WITH toks AS (
  SELECT lang, tok FROM (
    SELECT lang, unnest(string_split_regex(lower(text), '\s+')) AS tok
    FROM documents
  ) WHERE tok <> ''
), vocab AS (
  SELECT DISTINCT lang, tok FROM toks
), sizes AS (
  SELECT lang, CAST(count(*) AS BIGINT) AS v FROM vocab GROUP BY lang
), inter AS (
  SELECT a.lang AS g1, b.lang AS g2, CAST(count(*) AS BIGINT) AS inter
  FROM vocab a JOIN vocab b ON a.tok = b.tok AND a.lang < b.lang
  GROUP BY 1, 2
), exact AS (
  SELECT i.g1, i.g2, i.inter, s1.v + s2.v - i.inter AS uni
  FROM inter i
  JOIN sizes s1 ON s1.lang = i.g1
  JOIN sizes s2 ON s2.lang = i.g2
), hashed AS (
  SELECT DISTINCT lang, ('0x' || substr(md5(tok), 1, 8))::BIGINT AS h
  FROM toks
), mins AS (
  SELECT lang, h FROM (
    SELECT lang, h, row_number() OVER (PARTITION BY lang ORDER BY h) AS rn
    FROM hashed
  ) WHERE rn <= 256
), pairs AS (
  SELECT a.lang AS g1, b.lang AS g2
  FROM (SELECT DISTINCT lang FROM mins) a
  JOIN (SELECT DISTINCT lang FROM mins) b ON a.lang < b.lang
), per_hash AS (
  SELECT p.g1, p.g2, m.h,
         max(CASE WHEN m.lang = p.g1 THEN 1 ELSE 0 END) AS in1,
         max(CASE WHEN m.lang = p.g2 THEN 1 ELSE 0 END) AS in2
  FROM pairs p JOIN mins m ON m.lang IN (p.g1, p.g2)
  GROUP BY p.g1, p.g2, m.h
), cut AS (
  SELECT * FROM (
    SELECT g1, g2, h, in1, in2,
           row_number() OVER (PARTITION BY g1, g2 ORDER BY h) AS rn
    FROM per_hash
  ) WHERE rn <= 256
), est AS (
  SELECT g1, g2, CAST(count(*) AS BIGINT) AS k_used,
         CAST(sum(in1 * in2) AS BIGINT) AS n_both
  FROM cut GROUP BY g1, g2
)
SELECT e.g1, e.g2, x.inter, x.uni AS union_exact,
       CAST((x.inter * 1000000) // x.uni AS BIGINT) AS exact_j_ppm,
       CAST((e.n_both * 1000000) // e.k_used AS BIGINT) AS est_j_ppm,
       CAST(abs((x.inter * 1000000) // x.uni
                - (e.n_both * 1000000) // e.k_used) AS BIGINT) AS err_ppm
FROM exact x JOIN est e ON e.g1 = x.g1 AND e.g2 = x.g2
ORDER BY e.g1, e.g2
"""


def q339_dedup_tier_scoreboard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup-ladder health scoreboard — ONE row per dedup tier (exact md5
    q21, canonical q93, bag-of-words q216, MinHash-LSH q25, containment
    q207, edit-distance q213) plus the two sketch-accuracy audits that
    back the scalable tiers (MinHash q328, KMV q338), so drift across
    the whole ladder is a single driver-visible relation instead of
    eight per-query audits a human has to eyeball — the round-7 verdict
    asked for exactly the q317 ANN-scoreboard treatment applied to the
    dedup family.

    Each arm composes the EXISTING audited tier plan unchanged and
    reduces it to (tier, n_rows, n_dup_hits, est_err_ppm):
    n_dup_hits is the tier's own hit semantic (docs beyond the keeper
    for the grouping tiers, candidate pairs for the pair tiers, true
    positives for the MinHash audit); est_err_ppm is the estimator's
    worst observed error (NULL for the exact tiers). All-integer
    columns — hash-stable with no float seam.

    Shape at 100 TB: every arm is its own already-audited bounded plan
    (hash-shuffle grouping tiers, capped-bucket LSH pair streams,
    vocab-bounded KMV); the scoreboard adds eight 1-row aggregates and
    an 8-row union — negligible over the arms themselves."""

    def arm(df: DataFrame, tier: str, hits: str,
            err: str = "CAST(NULL AS BIGINT)") -> DataFrame:
        return df.agg(
            F.lit(tier).alias("tier"),
            F.count("*").cast("long").alias("n_rows"),
            F.expr(hits).cast("long").alias("n_dup_hits"),
            F.expr(err).cast("long").alias("est_err_ppm"),
        ).select("tier", "n_rows", "n_dup_hits", "est_err_ppm")

    # fanout=False: under the scoreboard each arm's scan fan-out adds an
    # Exchange + AQE barrier of the full documents text per arm — a
    # measured net loss here (VERDICT r11 item 1) — while the standalone
    # registry entries (q25, q207, ...) keep their fan-out win.
    # Arm construction is threaded (guide §2.6) so the eager checkpoint
    # jobs inside q328/q338 overlap instead of running back-to-back; the
    # lazy arms cost nothing at construction either way. Same DataFrames
    # in the same union order, so results are unchanged.
    from ._shared import _build_concurrently

    tiers = _build_concurrently([
        lambda: q21_exact_dedup(spark, sf_dir),
        lambda: q93_canonical_dedup(spark, sf_dir),
        lambda: q216_bag_of_words_dedup(spark, sf_dir),
        lambda: q25_minhash_lsh_pairs(spark, sf_dir, fanout=False),
        lambda: q207_containment_pairs(spark, sf_dir, fanout=False),
        lambda: q213_edit_distance_pairs(spark, sf_dir, fanout=False),
        lambda: q328_minhash_accuracy_audit(spark, sf_dir, fanout=False),
        lambda: q338_kmv_accuracy_audit(spark, sf_dir, fanout=False),
    ])
    arms = [
        arm(tiers[0], "1_exact_md5", "coalesce(sum(n_copies - 1), 0)"),
        arm(tiers[1], "2_canonical",
            "coalesce(sum(n_docs) - sum(n_kept), 0)"),
        arm(tiers[2], "3_bag_of_words",
            "coalesce(sum(reorder_only_dups), 0)"),
        arm(tiers[3], "4_minhash_lsh", "count(*)"),
        arm(tiers[4], "5_containment", "count(*)"),
        arm(tiers[5], "6_edit_distance", "count(*)"),
        arm(tiers[6], "7_minhash_audit",
            "coalesce(sum(n_true_pos), 0)", "max(max_err_ppm)"),
        arm(tiers[7], "8_kmv_vocab_audit", "count(*)", "max(err_ppm)"),
    ]
    out = arms[0]
    for a in arms[1:]:
        out = out.unionByName(a)
    return out.orderBy("tier")


def _q339_sql() -> str:
    def arm(sql: str, tier: str, hits: str,
            err: str = "CAST(NULL AS BIGINT)") -> str:
        return f"""
SELECT '{tier}' AS tier,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST({hits} AS BIGINT) AS n_dup_hits,
       CAST({err} AS BIGINT) AS est_err_ppm
FROM ({sql}) arm_{tier}"""

    return (
        arm(_Q21_SQL, "1_exact_md5", "coalesce(sum(n_copies - 1), 0)")
        + "\nUNION ALL\n"
        + arm(_Q93_SQL, "2_canonical", "coalesce(sum(n_docs) - sum(n_kept), 0)")
        + "\nUNION ALL\n"
        + arm(_Q216_SQL, "3_bag_of_words", "coalesce(sum(reorder_only_dups), 0)")
        + "\nUNION ALL\n"
        + arm(_Q25_SQL, "4_minhash_lsh", "count(*)")
        + "\nUNION ALL\n"
        + arm(_Q207_SQL, "5_containment", "count(*)")
        + "\nUNION ALL\n"
        + arm(_Q213_SQL, "6_edit_distance", "count(*)")
        + "\nUNION ALL\n"
        + arm(_q328_sql(), "7_minhash_audit",
              "coalesce(sum(n_true_pos), 0)", "max(max_err_ppm)")
        + "\nUNION ALL\n"
        + arm(_Q338_SQL, "8_kmv_vocab_audit", "count(*)", "max(err_ppm)")
        + "\nORDER BY tier"
    )


def q367_capture_recapture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chapman capture-recapture estimate of the corpus's TRUE distinct-
    text population from two overlapping source 'captures' — the
    ecology estimator (Chapman 1951) a crawl operator uses to answer
    'how much of the deduplicated universe have we actually collected'
    from two independent feeds, complementing the frequency-based
    richness estimators (Chao1 q305, Good-Turing q261) with the
    two-sample incidence view.

    Captures are the two lexicographically-first sources' distinct
    md5(text) sets: n̂ = floor((n1+1)(n2+1)/(m+1)) − 1 (the
    bias-corrected Chapman form, exact integer floor), reported beside
    the OBSERVED union distinct count and coverage_ppm =
    observed·10⁶ div n̂.

    Shape at 100 TB: one distinct on (source, md5) (hash-only), a
    2-row broadcast of the chosen sources, one md5-keyed overlap join
    bounded by the smaller capture, three 1-row aggregates."""
    docs = load_table(spark, sf_dir, "documents")
    sm = docs.select("source", F.md5("text").alias("h")).distinct()
    pick = sm.select("source").distinct().orderBy("source").limit(2)
    two = [r.source for r in pick.collect()]
    if len(two) < 2:
        return spark.createDataFrame(
            [],
            "source_a string, source_b string, n1 long, n2 long,"
            " m_overlap long, n_hat_chapman long, n_union_observed long,"
            " coverage_ppm long",
        )
    a, b = two[0], two[1]
    sa = sm.filter(F.col("source") == a).select("h")
    sb = sm.filter(F.col("source") == b).select("h")
    n1 = sa.agg(F.count("*").alias("n1"))
    n2 = sb.agg(F.count("*").alias("n2"))
    m = sa.join(sb, "h").agg(F.count("*").alias("m_overlap"))
    u = sa.unionByName(sb).distinct().agg(
        F.count("*").alias("n_union_observed")
    )
    return (
        n1.crossJoin(F.broadcast(n2))
        .crossJoin(F.broadcast(m))
        .crossJoin(F.broadcast(u))
        .select(
            F.lit(a).alias("source_a"),
            F.lit(b).alias("source_b"),
            "n1",
            "n2",
            "m_overlap",
            F.expr(
                "CAST((n1 + 1) AS DECIMAL(38,0)) * (n2 + 1)"
                " div (m_overlap + 1) - 1"
            ).cast("long").alias("n_hat_chapman"),
            "n_union_observed",
            F.expr(
                "(n_union_observed * 1000000)"
                " div (CAST((n1 + 1) AS DECIMAL(38,0)) * (n2 + 1)"
                " div (m_overlap + 1) - 1)"
            ).cast("long").alias("coverage_ppm"),
        )
    )


_Q367_SQL = """
WITH sm AS (
  SELECT DISTINCT source, md5(text) AS h FROM documents
), pick AS (
  SELECT source FROM (SELECT DISTINCT source FROM sm)
  ORDER BY source LIMIT 2
), ab AS (
  SELECT min(source) AS sa, max(source) AS sb FROM pick
), n1 AS (
  SELECT CAST(count(*) AS BIGINT) AS n1
  FROM sm, ab WHERE sm.source = ab.sa
), n2 AS (
  SELECT CAST(count(*) AS BIGINT) AS n2
  FROM sm, ab WHERE sm.source = ab.sb
), m AS (
  SELECT CAST(count(*) AS BIGINT) AS m_overlap
  FROM (SELECT h FROM sm, ab WHERE sm.source = ab.sa) x
  JOIN (SELECT h FROM sm, ab WHERE sm.source = ab.sb) y USING (h)
), u AS (
  SELECT CAST(count(DISTINCT h) AS BIGINT) AS n_union_observed
  FROM sm, ab WHERE sm.source IN (ab.sa, ab.sb)
)
SELECT ab.sa AS source_a, ab.sb AS source_b, n1, n2, m_overlap,
       CAST(CAST((n1 + 1) AS HUGEINT) * (n2 + 1) // (m_overlap + 1) - 1
            AS BIGINT) AS n_hat_chapman,
       n_union_observed,
       CAST((n_union_observed * 1000000)
            // (CAST((n1 + 1) AS HUGEINT) * (n2 + 1) // (m_overlap + 1)
                - 1) AS BIGINT) AS coverage_ppm
FROM ab, n1, n2, m, u
WHERE (SELECT count(*) FROM pick) = 2
"""


def q368_semantic_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-set SEMANTIC decontamination — the embedding-space
    complement of the lexical n-gram scans (q50/q84/q148): paraphrased
    benchmark leakage carries no shared 4-grams, so the release gate
    also flags corpus vectors whose cosine to ANY eval probe clears
    the threshold. Eval probes are the fixed vec_id < 32 slice (the
    q317/q318 held-out idiom); corpus is everything else; threshold
    0.45 (the q28 operating point for this embedding space).

    Output: one row per probe — how many corpus vectors it
    contaminates (n_flagged), its strongest match and cosine — plus
    the DISTINCT corpus removal count over all probes riding on every
    row (n_corpus_contaminated: the number the release actually
    deletes; a vector counts once however many probes it hits).

    Exactness: the shared q22 left-to-right cosine fold, round-4
    cosine, exact integer counts, (cos DESC, vec_id) top pick.

    Shape at 100 TB: the 32-probe side broadcasts; the corpus side is
    ONE linear scan scored against all probes (no self-join, no
    shuffle on the corpus); the rollups are probe-bounded. The scale
    path swaps the scan for the stored IVF index (q27/q56) probes."""
    emb = load_table(spark, sf_dir, "embeddings", parallelize=True)
    probes = emb.filter(F.col("vec_id") < 32).select(
        F.col("vec_id").alias("query_id"),
        F.expr("transform(embedding, x -> CAST(x AS DOUBLE))").alias("q"),
    )
    corpus = emb.filter(F.col("vec_id") >= 32).select(
        "vec_id",
        F.expr("transform(embedding, x -> CAST(x AS DOUBLE))").alias("v"),
    )
    dot = F.expr(
        "aggregate(zip_with(q, v, (x, y) -> x * y), CAST(0.0 AS DOUBLE),"
        " (acc, x) -> acc + x)"
    )
    norm = lambda c: F.sqrt(  # noqa: E731
        F.expr(
            f"aggregate(transform({c}, x -> x * x), CAST(0.0 AS DOUBLE),"
            " (acc, x) -> acc + x)"
        )
    )
    hits = (
        corpus.crossJoin(F.broadcast(probes))
        .select(
            "query_id",
            "vec_id",
            F.round(dot / (norm("q") * norm("v")), 4).alias("cos"),
        )
        .filter(F.col("cos") >= 0.45)
    )
    w1 = W.partitionBy("query_id").orderBy(F.col("cos").desc(), "vec_id")
    per = (
        hits.withColumn("r", F.row_number().over(w1))
        .groupBy("query_id")
        .agg(
            F.count("*").alias("n_flagged"),
            F.max(F.when(F.col("r") == 1, F.col("vec_id"))).alias(
                "top_match_id"
            ),
            F.max(F.when(F.col("r") == 1, F.col("cos"))).alias("top_cos"),
        )
    )
    removal = hits.select("vec_id").distinct().agg(
        F.count("*").alias("n_corpus_contaminated")
    )
    return (
        per.crossJoin(F.broadcast(removal))
        .select(
            "query_id",
            "n_flagged",
            "top_match_id",
            "top_cos",
            "n_corpus_contaminated",
        )
        .orderBy("query_id")
    )


_Q368_SQL = """
WITH probes AS (
  SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS q
  FROM embeddings WHERE vec_id < 32
), corpus AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
  FROM embeddings WHERE vec_id >= 32
), hits AS (
  SELECT query_id, vec_id,
         round(list_dot_product(q, v)
               / (sqrt(list_dot_product(q, q))
                  * sqrt(list_dot_product(v, v))), 4) AS cos
  FROM corpus CROSS JOIN probes
  WHERE round(list_dot_product(q, v)
              / (sqrt(list_dot_product(q, q))
                 * sqrt(list_dot_product(v, v))), 4) >= 0.45
), per AS (
  SELECT query_id,
         CAST(count(*) AS BIGINT) AS n_flagged,
         CAST(max(CASE WHEN r = 1 THEN vec_id END) AS BIGINT)
           AS top_match_id,
         max(CASE WHEN r = 1 THEN cos END) AS top_cos
  FROM (
    SELECT *, row_number() OVER (PARTITION BY query_id
                                 ORDER BY cos DESC, vec_id) AS r
    FROM hits
  )
  GROUP BY query_id
), removal AS (
  SELECT CAST(count(DISTINCT vec_id) AS BIGINT) AS n_corpus_contaminated
  FROM hits
)
SELECT query_id, n_flagged, top_match_id, top_cos, n_corpus_contaminated
FROM per CROSS JOIN removal
ORDER BY query_id
"""


def q381_contamination_ngram_sweep(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Contamination-depth profile: the q50 benchmark-decontamination
    screen swept across n-gram lengths n ∈ {2, 4, 6, 8} — per n, the
    count and ppm rate of corpus docs sharing ≥1 word n-gram with the
    eval set (doc_id < 5, the q50 convention). The length sweep is how
    a decontamination threshold is actually CHOSEN (GPT-3 appendix C
    picks 8-13-grams; PaLM 8): short grams flag everything, long grams
    flag nothing, and the knee of this curve is the defensible n. q50
    reports the per-doc hits at one n; this reports the curve.

    Exactness: all integers — per-arm contaminated-doc counts and one
    shared corpus count, rate_ppm = hits·10⁶ div corpus.

    Shape at 100 TB: four arms of the audited q50 shape (eval shingles
    distinct'd and BROADCAST into the shuffle-free corpus shingle
    stream, one per-doc aggregate each) plus 1-row reductions — the
    scoreboard sum-of-parts pattern (q339/q350)."""
    from ...operators.dedup import ngram_contamination

    # No scan fan-out (r12): each of the four q50 arms already broadcasts
    # its eval side into a shuffle-free corpus stream; the fan-out added
    # four exchanges of the full text column for a ~2x regression
    # (VERDICT r11 item 2).
    docs = load_table(spark, sf_dir, "documents")
    eval_docs = docs.filter(F.col("doc_id") < 5)
    corpus = docs.filter(F.col("doc_id") >= 5)
    n_corpus = corpus.agg(
        F.count("*").cast("long").alias("n_corpus_docs")
    )
    arms = []
    for n in (2, 4, 6, 8):
        hits = ngram_contamination(corpus, eval_docs, n=n).agg(
            F.count("*").cast("long").alias("n_contaminated")
        )
        arms.append(
            hits.crossJoin(F.broadcast(n_corpus)).select(
                F.lit(n).cast("long").alias("n"),
                "n_corpus_docs",
                "n_contaminated",
                F.expr(
                    "(n_contaminated * 1000000) div n_corpus_docs"
                ).alias("rate_ppm"),
            )
        )
    out = arms[0]
    for a in arms[1:]:
        out = out.unionByName(a)
    return out.orderBy("n")


def _q381_sql() -> str:
    arms = []
    for n in (2, 4, 6, 8):
        arms.append(f"""
  SELECT {n} AS n,
         (SELECT CAST(count(*) AS BIGINT) FROM documents
          WHERE doc_id >= 5) AS n_corpus_docs,
         CAST(count(DISTINCT s.doc_id) AS BIGINT) AS n_contaminated
  FROM (
    SELECT doc_id, unnest(list_distinct(
             [array_to_string(w[i:i+{n - 1}], ' ')
              for i in range(1, len(w) - {n - 2})]
           )) AS shingle
    FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents)
  ) s
  JOIN (
    SELECT DISTINCT shingle FROM (
      SELECT doc_id, unnest(list_distinct(
               [array_to_string(w[i:i+{n - 1}], ' ')
                for i in range(1, len(w) - {n - 2})]
             )) AS shingle
      FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents)
    ) WHERE doc_id < 5
  ) needles USING (shingle)
  WHERE s.doc_id >= 5""")
    union = "\n  UNION ALL\n".join(arms)
    return f"""
WITH arms AS (
{union}
)
SELECT n, n_corpus_docs, n_contaminated,
       (n_contaminated * 1000000) // n_corpus_docs AS rate_ppm
FROM arms
ORDER BY n
"""


def q396_minhash_k_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash signature-SIZE sweep — the capacity-planning knob the
    q328 accuracy audit holds fixed: for k ∈ {8, 16, 32, 64} hash
    slots, re-score every audited LSH candidate pair with only the
    FIRST k signature slots (a k-prefix of a MinHash signature is
    itself a valid k-hash MinHash — the slots are independent
    permutations) and report the error-vs-exact-Jaccard distribution
    and the 0.5-threshold confusion per k. This prices the
    4×-smaller-signature tier the same way q381 priced shingle length
    and q318 priced nprobe: the operator reads one table and picks
    the knee.

    Exactness: the q328 integer regime per (pair, k) — error is the
    exact cross-multiplied floor (|m·U − I·k|·10⁶) div (k·U) and the
    threshold calls are 2m ≥ k / 2I ≥ U integer compares (never float
    division). Slot order is the shared `_hash_params` order in both
    engines (Spark array index j ↔ oracle param i = j−1), so "first
    k" means the same k permutations.

    Shape at 100 TB: the audited q25/q328 shapes (capped band
    buckets); the sweep adds a 4-way explode of the candidate-bounded
    scored relation into a ≤4-row aggregate — the signatures are
    computed ONCE (localCheckpointed, the q170 discipline: the same
    relation feeds banding AND both audit joins; without the
    checkpoint Spark re-ran the dominant 64-minhash pass three times,
    measured 4.37 -> 3.21 s warm / 21 -> 3.7 s cold at sf0.1, r10)
    and sliced per k, never re-hashed."""
    from ...operators.dedup import (
        _band_candidates,
        _jaccard_verify,
        minhash_signatures,
    )

    ks = [8, 16, 32, 64]
    docs = load_table(spark, sf_dir, "documents", parallelize=True)
    sig = minhash_signatures(docs).localCheckpoint(eager=True)
    pairs = _jaccard_verify(
        docs, _band_candidates(sig, 16, 4, 1000), "text", "doc_id",
        3, 1000, 0.0,
    ).select("doc_a", "doc_b", "inter", "na", "nb")
    sa = sig.select(F.col("doc_id").alias("doc_a"), F.col("sig").alias("_sa"))
    sb = sig.select(F.col("doc_id").alias("doc_b"), F.col("sig").alias("_sb"))
    eq = "zip_with(_sa, _sb, (x, y) -> CASE WHEN x = y THEN 1L ELSE 0L END)"
    km = ", ".join(
        f"named_struct('k', {k}L, 'm',"
        f" aggregate(slice(_eq, 1, {k}), 0L, (acc, x) -> acc + x))"
        for k in ks
    )
    scored = (
        pairs.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "inter",
            (F.col("na") + F.col("nb") - F.col("inter")).alias("u"),
            F.expr(eq).alias("_eq"),
        )
        .select("inter", "u", F.explode(F.expr(f"array({km})")).alias("km"))
        .select(
            F.col("km.k").alias("k"),
            F.col("km.m").alias("m"),
            "inter",
            "u",
        )
        .select(
            "k",
            F.expr(
                "(abs(m * u - inter * k) * 1000000) div (k * u)"
            ).alias("err_ppm"),
            F.expr("CAST(2 * m >= k AS BIGINT)").alias("est_pos"),
            F.expr("CAST(2 * inter >= u AS BIGINT)").alias("true_pos"),
        )
    )
    return (
        scored.groupBy("k")
        .agg(
            F.count("*").cast("long").alias("n_pairs"),
            F.expr("sum(err_ppm) div count(*)").alias("mean_err_ppm"),
            F.max("err_ppm").alias("max_err_ppm"),
            F.sum(F.expr("est_pos * (1 - true_pos)"))
            .cast("long").alias("n_false_pos"),
            F.sum(F.expr("(1 - est_pos) * true_pos"))
            .cast("long").alias("n_false_neg"),
        )
        .orderBy("k")
    )


def _q396_sql() -> str:
    from ...operators.dedup import _MERSENNE, _hash_params

    params = ",\n    ".join(
        f"({i}, {a}, {b})" for i, (a, b) in enumerate(_hash_params(64))
    )
    return f"""
WITH w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
sh_raw AS (
  SELECT doc_id, unnest(list_distinct(
           [w[i] || ' ' || w[i+1] || ' ' || w[i+2] for i in range(1, len(w) - 1)]
         )) AS shingle
  FROM w
), hs AS (
  SELECT doc_id, ('0x' || substr(md5(shingle), 1, 8))::BIGINT AS h FROM sh_raw
), params(i, a, b) AS (VALUES
    {params}
), sig AS (
  SELECT doc_id, p.i, min((p.a * h + p.b) % {_MERSENNE}) AS s
  FROM hs CROSS JOIN params p GROUP BY doc_id, p.i
), banded AS (
  SELECT doc_id, i // 4 AS band, string_agg(s::VARCHAR, ',' ORDER BY i) AS bh
  FROM sig GROUP BY doc_id, i // 4
), ok AS (
  SELECT band, bh FROM banded GROUP BY band, bh
  HAVING count(*) BETWEEN 2 AND 1000
), cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM banded a
  JOIN ok ON ok.band = a.band AND ok.bh = a.bh
  JOIN banded b ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id
), sh AS (
  SELECT doc_id, shingle FROM sh_raw
  WHERE shingle NOT IN (
    SELECT shingle FROM sh_raw GROUP BY shingle HAVING count(*) > 1000
  )
), sizes AS (
  SELECT doc_id, count(*) AS n_shingles FROM sh_raw GROUP BY doc_id
), inter AS (
  SELECT c.doc_a, c.doc_b, CAST(count(*) AS BIGINT) AS inter
  FROM cand c
  JOIN sh a ON a.doc_id = c.doc_a
  JOIN sh b ON b.doc_id = c.doc_b AND b.shingle = a.shingle
  GROUP BY 1, 2
), matches AS (
  SELECT c.doc_a, c.doc_b, kk.k,
         CAST(sum(CASE WHEN sa.s = sb.s AND sa.i < kk.k
                       THEN 1 ELSE 0 END) AS BIGINT) AS m
  FROM cand c
  JOIN sig sa ON sa.doc_id = c.doc_a
  JOIN sig sb ON sb.doc_id = c.doc_b AND sb.i = sa.i
  CROSS JOIN (SELECT unnest([8, 16, 32, 64]) AS k) kk
  GROUP BY 1, 2, 3
), errs AS (
  SELECT mt.k, mt.m, i.inter,
         sa.n_shingles + sb.n_shingles - i.inter AS u
  FROM inter i
  JOIN matches mt ON mt.doc_a = i.doc_a AND mt.doc_b = i.doc_b
  JOIN sizes sa ON sa.doc_id = i.doc_a
  JOIN sizes sb ON sb.doc_id = i.doc_b
), terms AS (
  SELECT k,
         (abs(m * u - inter * k) * 1000000) // (k * u) AS err_ppm,
         CASE WHEN 2 * m >= k THEN 1 ELSE 0 END AS est_pos,
         CASE WHEN 2 * inter >= u THEN 1 ELSE 0 END AS true_pos
  FROM errs
)
SELECT CAST(k AS BIGINT) AS k,
       CAST(count(*) AS BIGINT) AS n_pairs,
       CAST(sum(err_ppm) // count(*) AS BIGINT) AS mean_err_ppm,
       CAST(max(err_ppm) AS BIGINT) AS max_err_ppm,
       CAST(sum(est_pos * (1 - true_pos)) AS BIGINT) AS n_false_pos,
       CAST(sum((1 - est_pos) * true_pos) AS BIGINT) AS n_false_neg
FROM terms
GROUP BY k
ORDER BY k
"""


def q400_dup_rate_by_length(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-rate profile by document LENGTH bucket: are exact
    duplicates concentrated in short (boilerplate, templates) or long
    documents? Per power-of-two char-length bucket: doc count, docs
    whose md5(text) occurs ≥ 2 times in the WHOLE corpus (global dup
    status, bucketed locally), dup ppm, and n_droppable — the docs a
    keep-first dedup would drop (each dup group's size minus its
    keeper; identical text has identical length, so a group never
    spans buckets). The stratified view that
    tells a corpus owner WHERE q21's volume reduction comes from —
    q287 answers what dedup does to the token MIX, this answers which
    length strata it drains.

    Exactness: everything is an integer count off the q21 md5 key;
    buckets are fixed powers of two off length(text) (deterministic,
    no global order statistics — the q41 discipline: quantile buckets
    would need a corpus sort); ppm is the exact integer (x·10⁶) div n.

    Shape at 100 TB: one md5-groupBy (skew-free uniform key) joined
    back doc-side on the hash, then a map-side ≤~16-row bucket
    aggregate. No sort, no window."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.md5("text").alias("text_hash"),
        F.length("text").alias("len")
    )
    copies = docs.groupBy("text_hash").agg(
        F.count("*").cast("long").alias("n_copies")
    )
    bucketed = docs.join(copies, "text_hash").select(
        F.expr(
            "CAST(least(greatest(ceil(log2(greatest(len, 1))), 0), 15)"
            " AS BIGINT)"
        ).alias("len_bucket_log2"),
        "text_hash",
        "n_copies",
    )
    return (
        bucketed.groupBy("len_bucket_log2")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum(F.expr("CASE WHEN n_copies >= 2 THEN 1 ELSE 0 END"))
            .cast("long").alias("n_dup_docs"),
            F.countDistinct(
                F.expr("CASE WHEN n_copies >= 2 THEN text_hash END")
            ).cast("long").alias("n_dup_groups"),
        )
        .select(
            "len_bucket_log2",
            "n_docs",
            "n_dup_docs",
            F.expr("(n_dup_docs * 1000000) div n_docs").alias("dup_ppm"),
            F.expr("n_dup_docs - n_dup_groups").alias("n_droppable"),
        )
        .orderBy("len_bucket_log2")
    )


_Q400_SQL = """
WITH docs AS (
  SELECT doc_id, md5(text) AS text_hash,
         CAST(length(text) AS BIGINT) AS len
  FROM documents
), copies AS (
  SELECT text_hash, CAST(count(*) AS BIGINT) AS n_copies
  FROM docs GROUP BY 1
), bucketed AS (
  SELECT CAST(least(greatest(ceil(log2(greatest(len, 1))), 0), 15)
              AS BIGINT) AS len_bucket_log2,
         text_hash,
         n_copies
  FROM docs JOIN copies USING (text_hash)
)
SELECT len_bucket_log2,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(CASE WHEN n_copies >= 2 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_dup_docs,
       (CAST(sum(CASE WHEN n_copies >= 2 THEN 1 ELSE 0 END) AS BIGINT)
        * 1000000) // CAST(count(*) AS BIGINT) AS dup_ppm,
       CAST(sum(CASE WHEN n_copies >= 2 THEN 1 ELSE 0 END) AS BIGINT)
         - CAST(count(DISTINCT CASE WHEN n_copies >= 2
                      THEN text_hash END) AS BIGINT) AS n_droppable
FROM bucketed
GROUP BY 1
ORDER BY 1
"""
