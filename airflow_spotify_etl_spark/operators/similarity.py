"""Embedding similarity search (north star: ANN over array<float> columns).

Operators:

- ``cosine_topk`` — exact brute-force top-k: broadcast the query set,
  JVM-side dot products via zip_with/aggregate, per-query top-k. The
  correctness baseline; linear scan of the corpus.
- ``ivf_topk`` — IVF ANN under trained centroids: partition the corpus
  into nlist Voronoi cells, search only the nprobe closest cells per
  query. At 100 TB the corpus is written partitioned by cell id, so a
  query reads nprobe/nlist of the data (partition pruning), and the scan
  within a cell is the same dot product.
- ``ivf_search`` — the IVF search under a fixed centroid list: trained
  (``ivf_topk``) or ``hash_seed_centroids``' untrained, SQL-replayable
  seeds.
- ``cosine_pairs_lsh`` — all-pairs near-duplicate vectors by random
  hyperplane LSH with exact cosine verification; avoids the O(n²) cross
  join entirely.
- ``diversity_cap`` — SemDeDup-style per-cell cap sampling.
- ``pq_codebooks`` / ``pq_codebooks_trained`` — hash-seeded and k-means
  product-quantization codebooks; ``pq_encode`` the PQ encode;
  ``pq_adc_topk`` asymmetric-distance search over the codes.
- ``ivf_pq_topk`` — the IVF-PQ composition; ``write_ann_index`` /
  ``search_ann_index`` — the same index stored partitioned by cell and
  searched with partition pruning.
- ``quantize_int8`` — SQ8 per-vector int8 quantization.
- ``embedding_drift`` / ``centroid_sums`` / ``drift_between`` — per-label
  centroid drift over order-independent quantized sums.

Shared kernels. Each decision the operators make has one definition, so
the parity contracts the oracles and tests pin (seeded IVF and IVF-PQ ≡
their SQL replays, stored index ≡ in-memory IVF-PQ) hold because both
sides run the same code:

- ``_training_sample`` — the bounded deterministic training sample;
- ``_lloyd`` — the Lloyd loop, distance passed in;
- ``_unit_mat`` / ``_assign_cells`` — the unit centroids and the cell
  argmax;
- ``_ranked_cells`` / ``_probes`` — the ranked probe-cell list (nearest
  first, ties to the higher cell) and each query's nprobe prefix;
- ``_query_side`` / ``_cosine`` / ``_top_k`` — the cosine scorer and the
  per-group ``row_number ≤ k`` tail (``_cosine_ranked`` composes them);
- ``_adc_ranked`` — the asymmetric-distance scorer;
- ``_centroid_partials`` / ``_centroid_rel`` — the quantized per-(label,
  dim) sums and their svec reassembly (streaming/embedding_monitor.py
  stores and folds the same partials).

Everything stays in built-in higher-order array functions — no Python in the
scoring loop.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column, DataFrame
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from .dedup import _banded, _bucket_pairs, _h32

__all__ = [
    "cosine_topk",
    "ivf_topk",
    "ivf_search",
    "hash_seed_centroids",
    "cosine_pairs_lsh",
    "diversity_cap",
    "pq_codebooks",
    "pq_codebooks_trained",
    "pq_encode",
    "pq_adc_topk",
    "ivf_pq_topk",
    "write_ann_index",
    "search_ann_index",
    "quantize_int8",
    "embedding_drift",
    "centroid_sums",
    "drift_between",
]

_SEED = 42


def _dot(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0).cast("double"),
        lambda acc, x: acc + x,
    )


def _norm(a):
    return F.sqrt(_dot(a, a))


def _as_double(col):
    return F.transform(col, lambda x: x.cast("double"))


def _top_k(df: DataFrame, by: list[str], order: Column, id_col: str, k: int) -> DataFrame:
    """THE per-group top-k tail: ``rank`` = row_number over ``by`` ordered
    by ``order``, ties to the lowest id, kept while ≤ k. Catalyst plans the
    filter as a Partial WindowGroupLimit below the exchange, so each task
    ships at most k rows per group (plan-gated for q95, q97 and q100)."""
    w = W.partitionBy(*by).orderBy(order, F.col(id_col))
    return df.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def _query_side(df: DataFrame, vec_col: str, *cols: str) -> DataFrame:
    """``cols`` plus the vector as doubles in ``_qv`` and its norm in
    ``_qn``, for a small relation (a query set, a bounded sample). Norms
    are per-VECTOR constants: each side binds its own once in its
    projection, never inside the scored row, where the query norm would
    be re-evaluated |corpus| times (array folds are interpreted, not
    codegen'd, so redundant folds dominate the scan cost). ONE projection:
    over an ORDER BY … LIMIT sample a second stacked projection stops
    Catalyst from planning TakeOrderedAndProject and sorts the whole
    input instead."""
    qv = _as_double(vec_col)
    return df.select(*cols, qv.alias("_qv"), _norm(qv).alias("_qn"))


def _cosine() -> Column:
    """THE cosine scorer of a joined row: query ``_qv``/``_qn`` against
    corpus ``_vd``/``_vn``, one left-to-right double fold — the chain the
    SQL oracles replay with list_dot_product."""
    return _dot(F.col("_qv"), F.col("_vd")) / (F.col("_qn") * F.col("_vn"))


def _cosine_ranked(
    joined: DataFrame,
    k: int,
    id_col: str,
    query_id_col: str,
    payload: list[str] | None = None,
) -> DataFrame:
    """Per-query cosine top-k of a (query ⋈ corpus) relation — the tail
    cosine_topk and ivf_search share."""
    scored = joined.withColumn("cosine_sim", _cosine())
    ranked = _top_k(scored, [query_id_col], F.col("cosine_sim").desc(), id_col, k)
    return ranked.select(
        query_id_col,
        "rank",
        id_col,
        F.round("cosine_sim", 4).alias("cosine_sim"),
        *(payload or []),
    )


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    query_id_col: str = "query_id",
    payload: list[str] | None = None,
) -> DataFrame:
    """Exact cosine top-k per query. ``queries`` must be small enough to
    broadcast (the usual ANN shape: few queries, huge corpus); ``payload``
    corpus columns ride along into the result."""
    c = corpus.select(
        F.col(id_col), *(payload or []), _as_double(vec_col).alias("_vd")
    ).withColumn("_vn", _norm(F.col("_vd")))
    joined = c.join(F.broadcast(_query_side(queries, vec_col, query_id_col)))
    return _cosine_ranked(joined, k, id_col, query_id_col, payload)


def _unit_mat(centroids: list[tuple[int, list[float]]]) -> Column:
    """ONE literal ``array<array<double>>`` of unit-normalized centroids,
    indexed by cell id: the ids must be dense 0..nlist-1 (ValueError
    otherwise), so the array position IS the cell. A single Literal node —
    building it as nlist × dim nested ``F.lit`` calls instead gives
    Catalyst a thousand-node expression tree and costs ~1 s of
    analysis/optimization per query at nlist=16, growing with nlist.
    Unit-normalizing driver-side makes every executor-side score a plain
    dot product: dot(v, ĉ) ranks identically to dot(v, c)/|c|, and the
    per-row per-cell norm fold (interpreted, like all array aggregates)
    disappears entirely."""
    mat = []
    for cell, cv in sorted(centroids):
        if cell != len(mat):
            raise ValueError("centroid cell ids must be dense 0..nlist-1")
        n = sum(x * x for x in cv) ** 0.5 or 1.0
        mat.append([float(x) / n for x in cv])
    return F.lit(mat)


def _adc_ranked(
    joined: DataFrame,
    books: list[list[list[float]]],
    k: int,
    id_col: str,
    query_id_col: str,
) -> DataFrame:
    """THE asymmetric-distance scorer: Σ_j dot(q_j, codeword_{j,code_j})
    as an explicit left-to-right chain (float-parity with the oracle's
    pivot sum), then per-query top-k. Single definition — pq_adc_topk,
    ivf_pq_topk, and search_ann_index must score identically or their
    pinned parity contracts silently diverge."""
    d = len(books[0][0])
    adc = None
    for j, book in enumerate(books):
        term = _dot(
            F.slice("_qv", j * d + 1, d),
            F.element_at(F.lit(book), F.col(f"code_{j}") + 1),
        )
        adc = term if adc is None else adc + term
    scored = joined.withColumn("_adc", adc)
    return _top_k(scored, [query_id_col], F.col("_adc").desc(), id_col, k).select(
        query_id_col, "rank", id_col, F.round("_adc", 4).alias("adc_sim")
    )


def _pq_index(
    corpus: DataFrame,
    centroids: list[tuple[int, list[float]]],
    books: list[list[list[float]]],
    vec_col: str,
    id_col: str,
) -> DataFrame:
    """(id, cell, codes) index build: the PQ encode and the cell argmax,
    both narrow projections (the oracle-checked path)."""
    enc = pq_encode(corpus, books, vec_col, id_col)
    return _assign_cells(enc, centroids, vec_col, id_col).select(
        id_col, "cell", *[f"code_{j}" for j in range(len(books))]
    )


def _training_sample(
    corpus: DataFrame, vec_col: str, id_col: str, n: int, key=F.xxhash64
) -> np.ndarray:
    """THE bounded training sample: the n rows with the smallest
    ``key(id)``, ties to the lowest id, as a float64 matrix. ONE Spark job
    — TakeOrderedAndProject, per-partition top-n + driver merge, no full
    sort. This is the FAISS shape: training always uses a bounded sample
    (a hash slice is pseudo-random and deterministic — no Date/random),
    because cell means from ~1k vectors/cell are as good as cell means
    from the full corpus. An empty corpus raises ValueError."""
    rows = (
        corpus.select(F.col(id_col).alias("_id"), _as_double(vec_col).alias("cv"))
        .orderBy(key(F.col("_id")), F.col("_id"))
        .limit(n)
        .collect()
    )
    if not rows:
        raise ValueError("ANN training sample: corpus is empty — no vectors to draw")
    return np.array([r["cv"] for r in rows], dtype="float64")


def _md5_key(id_col: Column) -> Column:
    """The engine-portable sample key: DuckDB recomputes this md5 slice
    (('0x'||substr(md5(id),1,8))::BIGINT), unlike xxhash64."""
    return _h32(id_col.cast("string"))


def _lloyd(X: np.ndarray, k: int, iters: int, nearest) -> np.ndarray:
    """THE Lloyd loop, driver-side in numpy over a training sample: the
    seeds are the first k rows (k clamped to the sample size — FAISS warns
    and degrades the same way); each round assigns every row to
    ``nearest(X, C)`` and moves each centroid to its members' mean. An
    emptied cell keeps its previous centroid, so the cell-id space stays
    dense. A driver matmul over ≤16k×dim beats a multi-job distributed
    Lloyd whose every step is scheduling overhead."""
    C = X[:k].copy()
    for _ in range(iters):
        assign = nearest(X, C)
        for c in range(len(C)):
            members = X[assign == c]
            if len(members):
                C[c] = members.mean(axis=0)
    return C


def _centroids(
    corpus: DataFrame,
    vec_col: str,
    id_col: str,
    nlist: int,
    max_train: int = 16384,
    lloyd_iters: int = 2,
) -> list[tuple[int, list[float]]]:
    """Trained IVF centroids: Lloyd over the bounded xxhash64 training
    sample. Nearest by cosine ≡ argmax of dot against unit centroids (|x|
    constant per row); first-max ties to the lowest cell id, matching the
    executor-side assignment's tie-break. Returns a driver-side list that
    rides into the assignment projection as a literal instead of a join
    side."""

    def nearest(X, C):
        unit = C / np.maximum(np.linalg.norm(C, axis=1, keepdims=True), 1e-12)
        return np.argmax(X @ unit.T, axis=1)

    X = _training_sample(corpus, vec_col, id_col, max_train)
    return list(enumerate(_lloyd(X, nlist, lloyd_iters, nearest).tolist()))


def _assign_cells(
    df: DataFrame, centroids: list[tuple[int, list[float]]], vec_col: str, id_col: str
) -> DataFrame:
    """Nearest-centroid assignment as a per-row ARGMAX PROJECTION over the
    literal centroid array: ``cell`` = array_position(sims, array_max(sims))
    − 1. Zero joins, zero extra rows, zero shuffle — the narrow-plan
    replacement for the corpus×nlist join+window (which explodes rows
    nlist× and shuffles the whole corpus).

    Ranking is by dot(v,ĉ) against unit centroids (see _unit_mat): |v| is
    constant across cells and |ĉ|=1, so the argmax equals the cosine argmax
    with one fused multiply-add fold per cell. array_position finds the
    first occurrence, so ties break to the lowest cell id (matching
    np.argmax in _centroids' Lloyd). The vector's double cast binds ONCE
    in ``_vd``, which stays for the caller's scoring — folds are
    interpreted, so repeating the cast per cell or per score would
    multiply the scan cost."""
    sims = F.transform(_unit_mat(centroids), lambda cv: _dot(F.col("_vd"), cv))
    return (
        df.withColumn("_vd", _as_double(vec_col))
        .withColumn("_sims", sims)
        .withColumn(
            "cell", (F.array_position("_sims", F.array_max("_sims")) - 1).cast("int")
        )
        .drop("_sims")
    )


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    nlist: int = 16,
    nprobe: int = 4,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    query_id_col: str = "query_id",
) -> DataFrame:
    """IVF ANN: search only the nprobe nearest cells per query.

    At scale the assignment is precomputed and the corpus is stored
    partitioned by cell; here assignment runs inline as a narrow argmax
    projection (no join, no row explosion — see _assign_cells). Recall vs
    the exact scan is tested in tests/test_similarity.py."""
    cents = _centroids(corpus, vec_col, id_col, nlist)
    return ivf_search(
        corpus,
        queries,
        cents,
        k=k,
        nprobe=nprobe,
        vec_col=vec_col,
        id_col=id_col,
        query_id_col=query_id_col,
    )


def hash_seed_centroids(
    corpus: DataFrame,
    nlist: int = 16,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> list[tuple[int, list[float]]]:
    """Untrained IVF seeds: the nlist corpus vectors with the smallest
    engine-portable md5-slice hash of their id (ties to the lowest id),
    cell ids in hash order — the Lloyd-free training sample. Unlike
    xxhash64 the key is reproducible in DuckDB, which is what lets the
    ENTIRE IVF search machinery (assignment argmax, probe selection,
    in-cell scoring, top-k) be value-checked by a SQL oracle
    (plans/llm/ann.py q56). One bounded TakeOrderedAndProject job."""
    X = _training_sample(corpus, vec_col, id_col, nlist, _md5_key)
    return list(enumerate(X.tolist()))


def _ranked_cells(centroids: list[tuple[int, list[float]]]) -> Column:
    """THE ranked probe list of the query vector in ``_qv``: every cell id,
    nearest first, ties to the HIGHER cell id (the reverse of the
    ascending sort of per-cell (sim, cell) structs). |q| is constant per
    row and |ĉ|=1, so the plain dot ranks identically to cosine. Every
    probe selection — ivf_search, ivf_pq_topk, search_ann_index and the
    q318/q336 sweeps — reads it, so q56's and q100's oracle arguments
    carry to all of them."""
    scored = F.transform(
        _unit_mat(centroids),
        lambda cv, i: F.struct(_dot(F.col("_qv"), cv).alias("sim"), i.alias("cell")),
    )
    return F.transform(F.reverse(F.array_sort(scored)), lambda s: s["cell"])


def _probes(
    queries: DataFrame,
    centroids: list[tuple[int, list[float]]],
    nprobe: int,
    vec_col: str,
    query_id_col: str,
) -> DataFrame:
    """(query id, ``_qv``, ``_qn``, cell): one row per probed cell — the
    first nprobe entries of each query's ranked probe list."""
    return _query_side(queries, vec_col, query_id_col).withColumn(
        "cell", F.explode(F.slice(_ranked_cells(centroids), 1, nprobe))
    )


def ivf_search(
    corpus: DataFrame,
    queries: DataFrame,
    centroids: list[tuple[int, list[float]]],
    k: int = 5,
    nprobe: int = 4,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    query_id_col: str = "query_id",
) -> DataFrame:
    """IVF search against a FIXED centroid list: assignment + probe
    selection + in-cell scoring + per-query top-k. Split out of ivf_topk
    so the search machinery runs under both trained (q27) and
    hash-seeded oracle-checkable (q56) centroids."""
    assigned = _assign_cells(corpus, centroids, vec_col, id_col).withColumn(
        "_vn", _norm(F.col("_vd"))
    )
    qcells = _probes(queries, centroids, nprobe, vec_col, query_id_col)
    joined = assigned.join(F.broadcast(qcells), "cell")
    return _cosine_ranked(joined, k, id_col, query_id_col)


def cosine_pairs_lsh(
    corpus: DataFrame,
    threshold: float = 0.9,
    n_planes: int = 16,
    bands: int = 4,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    dim: int = 64,
    max_band_bucket: int | None = 1000,
    verify: bool = True,
) -> DataFrame:
    """Near-duplicate vector pairs via random-hyperplane LSH.

    Sign sketch: bit_i = sign(v · r_i) for n_planes fixed random normals;
    band the sketch, meet candidates per band, verify exact cosine ≥
    threshold. P[bit match] = 1 - angle/π, so high-cosine pairs collide in
    some band with high probability while the cross join never materializes.
    Every vector must have length ``dim``: a shorter or longer one would
    dot to NULL against every plane, sketch to all zeros and land every
    such vector in one bucket per band, so it fails the query instead
    (an in-plan raise_error — no extra Spark job).

    Candidates come from the text LSH tiers' own banding and capped
    JOIN-FREE bucket expansion (operators/dedup ``_banded`` and
    ``_bucket_pairs``): count vectors per (band, bit-hash) bucket with a
    window, drop buckets above ``max_band_bucket``
    (near-constant vectors — e.g. zero/padding embeddings — produce one hot
    band shared by the whole degenerate mass and would expand quadratically
    while carrying no near-dup signal), prune singletons, then
    collect_list + double-explode.

    The expansion carries IDS ONLY. With r = n_planes/bands sign bits per
    band there are just 2^r bucket values, so buckets — and the pair
    blow-up — are inherently fat; hauling the vectors through the
    expansion+dedup shuffle multiplied its volume by the vector width
    (~60x at dim=64: measured 5.5 s → 1 s at sf0.1). Instead the deduped
    candidate list routes through two equi-joins back to the sketched
    vectors for the exact-cosine verify — the identical candidates-only
    routing minhash_lsh_pairs uses, and the join you want at scale: its
    fan-in is bounded by the candidate count, never corpus²."""
    rng = np.random.RandomState(_SEED)
    planes = rng.randn(n_planes, dim).tolist()
    r = n_planes // bands
    # ONE literal plane matrix + one transform — the _unit_mat lesson:
    # n_planes x dim nested F.lit calls hand Catalyst a thousand-node
    # expression tree whose analysis alone costs seconds per query; a
    # single Literal node costs nothing.
    planes_lit = F.lit(planes)
    bits = F.transform(
        planes_lit,
        lambda p: F.when(_dot(F.col("_v"), p) > 0, F.lit(1)).otherwise(F.lit(0)),
    )
    n = F.size(vec_col)
    v = F.when(
        n != dim,
        F.raise_error(F.format_string(f"cosine_pairs_lsh: vector length %d != dim {dim}", n)),
    ).otherwise(_as_double(vec_col))
    # Norm computed once per vector at sketch time — a vector re-appears
    # in every candidate pair it joins, and the norm fold is interpreted.
    sketched = (
        corpus.select(F.col(id_col), v.alias("_v"))
        .withColumn("_bits", bits)
        .withColumn("_n", _norm(F.col("_v")))
    )
    band_arr = F.array(
        *[
            F.concat_ws("", *[F.col("_bits")[b * r + j].cast("string") for j in range(r)])
            for b in range(bands)
        ]
    )
    candidates = _bucket_pairs(
        _banded(sketched, [id_col], band_arr, max_band_bucket),
        ["band", "bh"],
        F.col(id_col),
        "vec_a",
        "vec_b",
    ).distinct()
    if not verify:
        return candidates
    va = sketched.select(
        F.col(id_col).alias("vec_a"), F.col("_v").alias("_va"), F.col("_n").alias("_na")
    )
    vb = sketched.select(
        F.col(id_col).alias("vec_b"), F.col("_v").alias("_vb"), F.col("_n").alias("_nb")
    )
    return (
        candidates.join(va, "vec_a")
        .join(vb, "vec_b")
        .withColumn(
            "cosine_sim",
            F.round(_dot(F.col("_va"), F.col("_vb")) / (F.col("_na") * F.col("_nb")), 4),
        )
        .filter(F.col("cosine_sim") >= threshold)
        .select("vec_a", "vec_b", "cosine_sim")
    )


def diversity_cap(
    corpus: DataFrame,
    centroids: list[tuple[int, list[float]]],
    m: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    keep: str = "diverse",
) -> DataFrame:
    """SemDeDup-style cluster-cap sampling (Abbas et al. 2023,
    arXiv:2303.09540): assign every vector to its nearest centroid, then
    keep at most ``m`` per cell — ``keep='diverse'`` prefers the LEAST
    prototypical members (lowest cosine to the centroid), so the kept set
    spreads over the cell instead of piling onto its mode;
    ``keep='prototypes'`` flips the order for a representative-subset
    draw. Any other ``keep`` raises ValueError.

    Plan shape: assignment is the _assign_cells argmax PROJECTION (zero
    joins, zero shuffle; the centroid similarity is the same dot fold
    against the assigned cell's unit centroid, over the same ``_vd``);
    the cap is one row_number window keyed on cell id over the narrow
    (id, cell, sim) projection — the embeddings themselves never shuffle,
    and the exchange key is as balanced as the clustering (a pathological
    all-one-cell corpus degrades to a single-reducer sort of ids+floats,
    not of vectors). Under hash-seeded centroids (hash_seed_centroids)
    the whole pipeline is SQL-replayable — oracle-checked in
    plans/llm/sampling.py q95."""
    if keep not in ("diverse", "prototypes"):
        raise ValueError(
            f"diversity_cap: keep must be 'diverse' or 'prototypes', not {keep!r}"
        )
    unit = F.element_at(_unit_mat(centroids), F.col("cell") + 1)
    scored = _assign_cells(corpus, centroids, vec_col, id_col).select(
        F.col(id_col), "cell", (_dot(F.col("_vd"), unit) / _norm(F.col("_vd"))).alias("_cs")
    )
    order = F.col("_cs").asc() if keep == "diverse" else F.col("_cs").desc()
    return _top_k(scored, ["cell"], order, id_col, m).select(
        "cell", "rank", id_col, F.round("_cs", 4).alias("centroid_sim")
    )


def _pq_books(
    X: np.ndarray, n_sub: int, n_codes: int, lloyd_iters: int
) -> list[list[list[float]]]:
    """Per-subspace codebooks from a training sample: split it into
    ``n_sub`` contiguous subspaces and run the Lloyd loop on each under
    squared L2 (``lloyd_iters=0`` keeps the seed slices). Returns
    books[j][c] = codeword vector."""
    dim = X.shape[1]
    if dim % n_sub:
        raise ValueError(f"dim {dim} not divisible into {n_sub} subspaces")
    d = dim // n_sub

    def nearest(S, C):
        return ((S[:, None, :] - C[None, :, :]) ** 2).sum(-1).argmin(1)

    return [
        _lloyd(X[:, j * d : (j + 1) * d], n_codes, lloyd_iters, nearest).tolist()
        for j in range(n_sub)
    ]


def pq_codebooks(
    corpus: DataFrame,
    n_sub: int = 4,
    n_codes: int = 16,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> list[list[list[float]]]:
    """Product-quantization codebooks (Jégou et al. 2011): split the
    embedding into ``n_sub`` contiguous subspaces; each subspace's
    ``n_codes`` codewords are the slices of the SAME hash-seeded sample
    hash_seed_centroids draws (Lloyd-free, engine-portable) — so the whole
    PQ pipeline (seeding, encoding argmin, ADC scoring, top-k) is
    replayable by a SQL oracle (plans/llm/ann.py q97), the q56 argument
    applied to compression. Returns books[j][c] = codeword vector."""
    X = _training_sample(corpus, vec_col, id_col, n_codes, _md5_key)
    return _pq_books(X, n_sub, n_codes, 0)


def pq_encode(
    corpus: DataFrame,
    books: list[list[list[float]]],
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """PQ encoding: per subspace j, code_j = argmin_c ‖v_j − c‖², computed
    as argmax(dot(v_j, c) − ‖c‖²/2) — the codeword half-norms are driver
    literals, so each subspace costs n_codes interpreted dot-folds and the
    whole encode is a narrow PROJECTION (zero joins, zero shuffle): at
    100 TB the corpus compresses to n_sub small ints per row (here 4×4
    bits vs 64 floats, 64× less state to ship) in one scan. Ties break to
    the lowest code (array_position first-occurrence)."""
    d = len(books[0][0])
    out = corpus.withColumn("_vd", _as_double(vec_col))
    for j, book in enumerate(books):
        half_norms = [0.5 * sum(x * x for x in cw) for cw in book]
        sub = F.slice("_vd", j * d + 1, d)
        out = out.withColumn(f"_s{j}", sub)
        def _score(jj: int, hn: list[float]):
            # Bind the loop variables via a factory — a default-arg lambda
            # would change the HOF arity PySpark infers from the signature.
            return lambda cw, i: _dot(F.col(f"_s{jj}"), cw) - F.element_at(
                F.lit(hn), i + 1
            )

        scores = F.transform(F.lit(book), _score(j, half_norms))
        out = out.withColumn(f"_sc{j}", scores).withColumn(
            f"code_{j}",
            (F.array_position(f"_sc{j}", F.array_max(f"_sc{j}")) - 1).cast("int"),
        )
    drop = ["_vd"] + [f"_s{j}" for j in range(len(books))] + [
        f"_sc{j}" for j in range(len(books))
    ]
    return out.drop(*drop)


def pq_adc_topk(
    corpus: DataFrame,
    queries: DataFrame,
    books: list[list[list[float]]],
    k: int = 5,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Asymmetric-distance inner-product search over PQ codes: the exact
    query vector scores each corpus row as Σ_j dot(q_j, codeword_{j,
    code_j}) — the summation chain is explicit left-to-right so Spark and
    the SQL oracle add in the same order (float-parity discipline). The
    scan streams (id, 4 codes) instead of raw vectors — the ADC pass over
    a 100 TB corpus touches the compressed table only; queries broadcast,
    per-query top-k prunes map-side (WindowGroupLimit, plan-gated)."""
    enc = pq_encode(corpus, books, vec_col, id_col).select(
        id_col, *[f"code_{j}" for j in range(len(books))]
    )
    joined = enc.join(F.broadcast(_query_side(queries, vec_col, query_id_col)))
    return _adc_ranked(joined, books, k, id_col, query_id_col)


def pq_codebooks_trained(
    corpus: DataFrame,
    n_sub: int = 4,
    n_codes: int = 16,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    max_train: int = 16384,
    lloyd_iters: int = 8,
) -> list[list[list[float]]]:
    """Trained PQ codebooks: per-subspace k-means over the same bounded
    deterministic hash-sample `_centroids` uses (ONE TakeOrderedAndProject
    job, then numpy driver-side — the FAISS training shape). Better
    quantization than the hash-seeded slices (`pq_codebooks`) at the cost
    of SQL-replayability: search under trained books is the quality path,
    the seeded twin is the oracle-checkable one (the q27/q56 duality,
    applied to compression). Seeds are the first n_codes sample rows;
    emptied cells keep their previous codeword so code ids stay dense."""
    X = _training_sample(corpus, vec_col, id_col, max_train)
    return _pq_books(X, n_sub, n_codes, lloyd_iters)


def ivf_pq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    centroids: list[tuple[int, list[float]]],
    books: list[list[list[float]]],
    k: int = 5,
    nprobe: int = 4,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    query_id_col: str = "query_id",
) -> DataFrame:
    """IVF-PQ: the production ANN composition (FAISS IVFx,PQy) — IVF cell
    pruning bounds WHICH rows are scored (nprobe/nlist of the corpus via
    partition pruning at scale), PQ/ADC bounds WHAT is read per row (4
    int codes, not raw vectors). Both stages are the audited narrow
    projections (`_assign_cells`, `pq_encode`); the probe set broadcasts;
    per-query top-k prunes map-side. Under hash-seeded centroids and
    codebooks the ENTIRE composition replays in SQL (plans/llm/ann.py q100).

    At 100 TB the encoded+assigned table is the STORED index: (id, cell,
    codes) written partitioned by cell — a query touches nprobe
    partitions of a table ~64× narrower than the corpus."""
    assigned = _pq_index(corpus, centroids, books, vec_col, id_col)
    qcells = _probes(queries, centroids, nprobe, vec_col, query_id_col)
    joined = assigned.join(F.broadcast(qcells), "cell")
    return _adc_ranked(joined, books, k, id_col, query_id_col)


def write_ann_index(
    corpus: DataFrame,
    centroids: list[tuple[int, list[float]]],
    books: list[list[list[float]]],
    path: str,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> None:
    """Materialize the IVF-PQ index as a parquet table PARTITIONED BY
    cell — the one-time build every docstring's "at scale the index is
    stored" claim refers to. Each row is (id, codes) inside its cell
    directory: ~64× narrower than raw vectors, and physically laid out so
    a query's nprobe cells are whole partitions."""
    idx = _pq_index(corpus, centroids, books, vec_col, id_col)
    idx.write.mode("overwrite").partitionBy("cell").parquet(path)


def search_ann_index(
    spark,
    path: str,
    queries: DataFrame,
    centroids: list[tuple[int, list[float]]],
    books: list[list[list[float]]],
    k: int = 5,
    nprobe: int = 4,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Search a stored IVF-PQ index: the probed cells become a PARTITION
    FILTER on the index table — Spark reads nprobe/nlist of the
    partitions and nothing else (plan shows ``PartitionFilters: [cell
    IN …]``; pytest-gated). The query set is small: its probe rows (the
    same ``_probes`` projection ivf_pq_topk joins) are collected once, as
    one Arrow batch, to list the probed cells, and that batch is the
    broadcast side, rebuilt on the JVM with the projection's own schema.
    The per-row work is the same ADC chain as ivf_pq_topk, so the result
    equals the in-memory composition (pytest-pinned)."""
    probes = _probes(queries, centroids, nprobe, vec_col, query_id_col).toArrow()
    if not probes.num_rows:
        raise ValueError("ANN search: empty query set")
    cells = sorted(set(probes.column("cell").to_pylist()))
    qcells = spark.createDataFrame(probes).coalesce(1)
    idx = spark.read.parquet(path).filter(F.col("cell").isin(cells))
    joined = idx.join(F.broadcast(qcells), "cell")
    return _adc_ranked(joined, books, k, id_col, query_id_col)


def quantize_int8(
    emb: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Symmetric per-vector int8 quantization — the standard 4× storage
    tier between raw float32 and PQ's 64× codes (FAISS SQ8): each vector
    stores one float scale (its max |x|) plus int8 codes
    round(x / scale · 127). Returns (id, scale, qvec, max_abs_err,
    cos_recon): the reconstruction error stats a pipeline gates on
    before swapping the scored tier (cos_recon ≈ 1 − ½·quant-noise² —
    expect ≥ 0.999 for well-spread vectors, see pytest).

    All arithmetic is in-order array folds on doubles (the q22 cosine
    discipline), so the whole transform — scale, codes, reconstruction,
    error, cosine — replays in the DuckDB oracle (q112). A zero vector
    quantizes to zeros with scale 0 and cos_recon defined as 1.0 (exact
    reconstruction) rather than 0/0. Pure narrow projection: no shuffle,
    no UDF; at 100 TB this is a scan-speed rewrite of the embedding
    table."""
    v = _as_double(vec_col)
    scale = F.array_max(F.transform(v, lambda x: F.abs(x)))
    qvec = F.transform(
        v, lambda x: F.round(x / F.col("scale") * 127).cast("int")
    )
    recon = F.transform(
        F.col("qvec"), lambda q: q * F.col("scale") / F.lit(127.0)
    )
    err = F.array_max(
        F.zip_with(v, F.col("_recon"), lambda x, r: F.abs(x - r))
    )
    cos = _dot(v, F.col("_recon")) / (_norm(v) * _norm(F.col("_recon")))
    return (
        emb.select(F.col(id_col), F.col(vec_col), scale.alias("scale"))
        .withColumn(
            "qvec",
            F.when(F.col("scale") > 0, qvec).otherwise(
                F.transform(v, lambda x: F.lit(0))
            ),
        )
        .withColumn("_recon", recon)
        .select(
            id_col,
            F.round("scale", 4).alias("scale"),
            "qvec",
            F.round(
                F.when(F.col("scale") > 0, err).otherwise(F.lit(0.0)), 6
            ).alias("max_abs_err"),
            F.round(
                F.when(F.col("scale") > 0, cos).otherwise(F.lit(1.0)), 6
            ).alias("cos_recon"),
        )
    )


def embedding_drift(
    old: DataFrame,
    new: DataFrame,
    vec_col: str = "embedding",
    label_col: str = "label",
    scale: int = 10_000,
    min_cosine: float = 0.98,
) -> DataFrame:
    """Per-label embedding-centroid drift between two snapshots — the
    monitor a pipeline runs when the upstream encoder changes or a
    source shifts: cosine between the old and new per-label centroids
    plus the L2 of the mean shift, with a drift flag.

    Order-independence: a float sum ACROSS rows depends on aggregation
    order (the one nondeterminism Catalyst is allowed), so components
    are first quantized to integers (round(x·scale)) and the per-dim
    sums are EXACT bigints — any aggregation order gives the same sum.
    Cosine needs no /n (scale and count cancel), and every sum, product
    and fold stays under 2^53 for |x| ≤ ~3, ≤ ~10^5 rows/label at
    scale=10^4 — lower ``scale`` when per-label counts grow beyond
    that (quantization error 1/scale per component trades off against
    the exact-integer budget). The only floats are the final
    per-label cosine/L2 folds over the 64 aggregated sums, evaluated in
    array order on both engines — bit-identical in the SQL oracle
    (q122).

    Shape: one narrow posexplode per side, (label, dim) integer
    aggregate with map-side combine, label-sized reassembly, a
    label-count join, and one tiny label⋈label join. Corpus vectors
    never shuffle — only (label, dim, bigint) rows do."""

    o = centroid_sums(old, vec_col, label_col, scale).select(
        "label", F.col("svec").alias("so"), F.col("n").alias("n_old")
    )
    nw = centroid_sums(new, vec_col, label_col, scale).select(
        "label", F.col("svec").alias("sn"), F.col("n").alias("n_new")
    )
    return drift_between(o, nw, scale, min_cosine)


def _centroid_partials(
    df: DataFrame, vec_col: str, label_col: str, scale: int
) -> tuple[DataFrame, DataFrame]:
    """THE quantized centroid partials of ``df``: (label, dim, qsum) — each
    component quantized to round(x·scale) and summed per (label, dim) as
    an exact bigint, so any aggregation order or batch split gives the
    same sum — and the per-label counts (label, n). Both merge by plain
    addition (streaming/embedding_monitor.py stores them per batch)."""
    x = F.posexplode(_as_double(vec_col)).alias("dim", "x")
    sums = (
        df.select(F.col(label_col).alias("label"), x)
        .groupBy("label", "dim")
        .agg(F.sum(F.round(F.col("x") * int(scale)).cast("long")).alias("qsum"))
    )
    n = df.groupBy(F.col(label_col).alias("label")).agg(F.count("*").alias("n"))
    return sums, n


def _centroid_rel(sums: DataFrame, n: DataFrame) -> DataFrame:
    """Reassemble (label, dim, qsum) partials and (label, n) counts into the
    (label, svec, n) relation: svec is the per-label sum vector in
    dimension order."""
    vec = sums.groupBy("label").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("dim", "qsum"))),
            lambda st: st["qsum"].cast("double"),
        ).alias("svec")
    )
    return vec.join(n, "label")


def centroid_sums(
    df: DataFrame,
    vec_col: str = "embedding",
    label_col: str = "label",
    scale: int = 10_000,
) -> DataFrame:
    """Per-label quantized centroid sums (label, svec, n): svec[d] is the
    exact bigint sum of round(x_d·scale) over the label's vectors, as
    doubles, and n its vector count. The order-independent state
    ``embedding_drift`` compares (see its docstring for the integer
    budget); the streaming centroid monitor folds its stored partials
    into the same relation."""
    return _centroid_rel(*_centroid_partials(df, vec_col, label_col, scale))


def drift_between(
    o: DataFrame,
    nw: DataFrame,
    scale: int = 10_000,
    min_cosine: float = 0.98,
) -> DataFrame:
    """The comparison tail of ``embedding_drift`` over two (label, svec,
    n) relations — shared by the batch operator and the streaming
    monitor (streaming/embedding_monitor.py), whose stored additive
    partials merge into exactly this shape."""
    j = o.join(nw, "label")
    cos = F.round(
        _dot(F.col("so"), F.col("sn"))
        / (_norm(F.col("so")) * _norm(F.col("sn"))),
        6,
    )
    mean_diff = F.zip_with(
        F.col("sn"),
        F.col("so"),
        lambda a, b: (
            a / F.col("n_new").cast("double")
            - b / F.col("n_old").cast("double")
        )
        / F.lit(float(scale)),
    )
    l2 = F.round(F.sqrt(_dot(mean_diff, mean_diff)), 6)
    return j.select(
        "label",
        "n_old",
        "n_new",
        cos.alias("centroid_cosine"),
        l2.alias("mean_shift_l2"),
        (cos < float(min_cosine)).alias("drift"),
    )
