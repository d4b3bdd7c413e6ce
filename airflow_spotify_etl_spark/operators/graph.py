"""Graph centrality over event-derived edge lists (north star: corpus
quality weighting — crawl-frontier importance scores like PageRank are a
standard signal for selecting/weighting web training data).

``pagerank`` is the classic damped random-walk fixpoint, expressed
Spark-first for the 100 TB regime where EDGES are huge and the NODE set is
orders of magnitude smaller (items, hosts, domains — not raw pages):

- The edge list is collapsed (parallel edges summed into a weight) and
  hash-partitioned by ``dst`` ONCE before the loop.
- Each iteration joins the small rank relation to the big edge relation via
  ``broadcast`` — the edges never shuffle again, and because contributions
  inherit the dst partitioning, the per-iteration inflow aggregation is a
  partial+final HashAggregate with NO Exchange (gated by
  tests/test_plan_quality.py).
- Dangling mass (rank sitting on nodes with no out-edges) is redistributed
  uniformly each iteration, computed as a LAZY 1-row aggregate over the
  node-sized relation and broadcast back in via cross join — no driver
  action inside the loop (unlike connected_components, whose convergence
  test NEEDS a per-round sync, a fixed iteration count doesn't), so the
  whole fixpoint is one deferred plan and its cost is O(|nodes|) extra,
  not O(|edges|).
- ``localCheckpoint`` truncates the growing lineage each round (iterative
  plans otherwise re-analyze an ever-deeper tree).

Fixed iteration count (no convergence test) keeps the result deterministic
and SQL-replayable — the q57 oracle unrolls the same iterations as CTEs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import Window as W
from pyspark.sql import functions as F

__all__ = [
    "pagerank",
    "personalized_pagerank",
    "adamic_adar_pairs",
    "triangle_count",
    "association_rules",
    "kcore_peel",
    "copurchase_edges",
    "label_propagation_trajectory",
    "item_cosine_recommendations",
    "frequent_triples",
]


def triangle_count(
    edges: DataFrame, a_col: str = "a", b_col: str = "b"
) -> DataFrame:
    """Exact triangle census with DEGREE-ORDERED orientation — the
    standard distributed-triangle discipline (Cohen 2009; GraphX's
    TriangleCount uses the same idea): orient every undirected edge from
    its lower-(degree, id) endpoint to the higher, so each triangle is
    generated exactly once, from its lowest-order corner, and — the
    scale property — every oriented out-degree is O(√m), which bounds
    the wedge self-join at Σ out_deg² ≤ O(m^1.5) instead of the hub
    blow-up Σ deg² a naive orientation pays on power-law graphs.

    Returns ONE row: n_nodes, n_edges, n_triangles, n_wedges
    (Σ C(deg, 2) — closed + open 2-paths), and the global clustering
    coefficient 3·T / wedges (the only float, a single rounded division
    of exact integers).

    Shuffle shape: canonicalize+distinct (1 exchange), degree count
    (1), two degree lookups (key-joins against the |V|-row degree
    relation), the wedge self-join keyed on the low corner, and the
    closing-edge semi-join keyed on the candidate pair. All joins carry
    only ids and degrees."""
    aa, bb = F.col(a_col), F.col(b_col)
    e = (
        edges.select(
            F.least(aa, bb).alias("a"), F.greatest(aa, bb).alias("b")
        )
        .filter(F.col("a") != F.col("b"))
        .distinct()
    )
    deg = (
        e.select(F.explode(F.array("a", "b")).alias("n"))
        .groupBy("n")
        .agg(F.count("*").alias("d"))
    )
    # Total order: degree-major, id-minor, packed into one BIGINT
    # (ids are < 2^32 here; the same packing replays in the oracle).
    key = (F.col("d") * F.lit(4294967296) + F.col("n")).alias("k")
    keyed = deg.select("n", key)
    ek = (
        e.join(keyed.withColumnRenamed("n", "a").withColumnRenamed("k", "ka"), "a")
        .join(keyed.withColumnRenamed("n", "b").withColumnRenamed("k", "kb"), "b")
    )
    oriented = ek.select(
        F.when(F.col("ka") < F.col("kb"), F.col("a")).otherwise(F.col("b")).alias("s"),
        F.when(F.col("ka") < F.col("kb"), F.col("b")).otherwise(F.col("a")).alias("t"),
        F.least("ka", "kb").alias("ks"),
        F.greatest("ka", "kb").alias("kt"),
    )
    o1 = oriented.select("s", F.col("t").alias("t1"), F.col("kt").alias("kt1"))
    o2 = oriented.select("s", F.col("t").alias("t2"), F.col("kt").alias("kt2"))
    wedges = o1.join(o2, "s").filter(F.col("kt1") < F.col("kt2"))
    tri = wedges.join(
        oriented.select(F.col("s").alias("t1"), F.col("t").alias("t2")),
        ["t1", "t2"],
        "left_semi",
    ).agg(F.count("*").alias("n_triangles"))
    stats = (
        deg.agg(
            F.count("*").alias("n_nodes"),
            (F.sum(F.col("d") * (F.col("d") - 1)) / 2).cast("long").alias(
                "n_wedges"
            ),
        )
        .crossJoin(e.agg(F.count("*").alias("n_edges")))
        .crossJoin(F.broadcast(tri))
    )
    return stats.select(
        "n_nodes",
        "n_edges",
        "n_triangles",
        "n_wedges",
        F.when(
            F.col("n_wedges") > 0,
            F.round(
                (3 * F.col("n_triangles")).cast("double") / F.col("n_wedges"),
                6,
            ),
        ).alias("global_clustering"),
    )


def pagerank(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    weight_col: str | None = None,
    damping: float = 0.85,
    iters: int = 5,
    rank_decimals: int = 6,
    broadcast_ranks: bool = True,
) -> DataFrame:
    """Weighted PageRank over a directed edge list; returns (node, rank).

    rank'(v) = (1-d)/N + d * (Σ_{u→v} rank(u)·w(u,v)/out_w(u) + dangling/N)

    with ``dangling = Σ rank(u)`` over nodes with no out-edges. Ranks are
    rounded to ``rank_decimals`` in the OUTPUT only (iterations run at full
    double precision); grouped double sums commute to ~1e-16, so round-6
    values are engine-portable (same argument as the cosine oracles).

    ``broadcast_ranks`` picks the scale regime:

    - ``True`` (default, item/host/domain graphs): the node-sized rank
      relation broadcasts into the dst-partitioned edge scan each
      iteration — edges NEVER reshuffle and the inflow aggregation is
      exchange-free. Requires ranks·|nodes| to fit an executor.
    - ``False`` (web-scale |nodes| beyond broadcast): edges are hash-
      partitioned by ``src`` once and the rank relation sort-merge-joins
      against them (a node-sized shuffle per iteration — ranks change
      every round, so that shuffle is irreducible); the contribution
      aggregation then pays one contributions-sized exchange on ``dst``.
      The edge relation itself still never re-partitions inside the loop.
    """
    w = (
        F.col(weight_col).cast("double")
        if weight_col
        else F.lit(1.0)
    )
    e = (
        edges.select(
            F.col(src_col).alias("src"), F.col(dst_col).alias("dst"), w.alias("w")
        )
        .groupBy("src", "dst")
        .agg(F.sum("w").alias("w"))
        .repartition("dst" if broadcast_ranks else "src")
    )
    e = e.persist()
    outw = e.groupBy("src").agg(F.sum("w").alias("out_w"))
    nodes = (
        e.select(F.col("src").alias("node"))
        .union(e.select(F.col("dst").alias("node")))
        .distinct()
        .persist()
    )
    n = nodes.count()
    if n == 0:
        raise ValueError("pagerank: empty edge list — no nodes to rank")
    base = (1.0 - damping) / n

    # Out-weight rides WITH the rank relation (node-sized, broadcast) so the
    # edge side never joins more than once per iteration.
    ranks = nodes.join(outw, nodes.node == outw.src, "left").select(
        "node", F.lit(1.0 / n).alias("rank"), "out_w"
    )
    for _ in range(iters):
        # Dangling mass as a LAZY broadcast scalar (1-row aggregate cross-
        # joined in) instead of a driver-side .first() per iteration: the
        # whole fixpoint builds as one plan with zero mid-loop driver
        # round-trips (measured 11.7 s → fixed-overhead-free at sf0.1).
        # Same arithmetic as the oracle: sum(rank over danglers) / N.
        dang = ranks.filter(F.col("out_w").isNull()).agg(
            (F.coalesce(F.sum("rank"), F.lit(0.0)) / F.lit(float(n))).alias(
                "_dpn"
            )
        )
        live = ranks.filter(F.col("out_w").isNotNull())
        rank_rel = F.broadcast(live) if broadcast_ranks else live.hint("merge")
        contrib = e.join(rank_rel, e.src == F.col("node")).select(
            "dst", (F.col("rank") * F.col("w") / F.col("out_w")).alias("c")
        )
        inflow = contrib.groupBy("dst").agg(F.sum("c").alias("inflow"))
        ranks = (
            nodes.join(inflow, nodes.node == inflow.dst, "left")
            .crossJoin(F.broadcast(dang))
            .select(
                "node",
                (
                    F.lit(base)
                    + F.lit(damping)
                    * (F.coalesce("inflow", F.lit(0.0)) + F.col("_dpn"))
                ).alias("rank"),
            )
            .join(outw, F.col("node") == outw.src, "left")
            .select("node", "rank", "out_w")
            .localCheckpoint(eager=False)
        )
    return ranks.select(
        "node", F.round("rank", rank_decimals).alias("rank")
    ).orderBy("node")


def adamic_adar_pairs(
    interactions: DataFrame,
    user_col: str,
    item_col: str,
    max_basket: int = 100,
    top_k: int = 50,
) -> DataFrame:
    """Link prediction over the bipartite interaction graph: Adamic-Adar
    score for item pairs,

        AA(i, j) = Σ_{u ∈ N(i) ∩ N(j)} 1 / ln(deg(u)),

    the common-neighbors index that discounts promiscuous users
    (Adamic & Adar 2003) — the classic co-purchase "customers also
    bought" signal. Users who interact with a single item carry no pair
    evidence and drop out (ln(1) = 0 would divide by zero; deg ≥ 2 by
    construction of the pair expansion).

    Scale shape: pair generation is quadratic per user, so ``max_basket``
    caps it BEFORE expansion (degree filter d ∈ [2, max_basket] — drop
    power-users, the q24/q59 bucket discipline: a user who bought
    everything tells you nothing about pairwise affinity). The expansion
    itself is a self-equi-join of the capped (u, i) relation on u with
    i_a < i_b — whole-stage codegen end to end, and both join inputs hash
    to the SAME u partitioning the degree aggregate already produced, so
    the exchanges are reused (r10 redesign: the previous collect_set +
    nested-transform explode avoided the u-shuffle but built every pair
    through INTERPRETED higher-order functions — measured 11.1 s vs
    3.8 s for this form at sf0.1, byte-identical output; the shuffles it
    saved are over the slim distinct (u, i) relation, ~2% of the pair
    volume that dominates either plan). The score is ONE grouped sum over
    (i, j) with map-side combine; output is top-k bounded."""
    inter = interactions.select(
        F.col(user_col).alias("u"), F.col(item_col).alias("i")
    ).distinct()
    degw = (
        inter.groupBy("u")
        .agg(F.count("*").alias("d"))
        .filter((F.col("d") >= 2) & (F.col("d") <= int(max_basket)))
        .select("u", (F.lit(1.0) / F.log(F.col("d").cast("double"))).alias("w"))
    )
    a = inter.join(degw, "u").select("u", F.col("i").alias("item_a"), "w")
    b = inter.select(F.col("u").alias("ub"), F.col("i").alias("item_b"))
    pairs = a.join(
        b,
        (F.col("u") == F.col("ub")) & (F.col("item_a") < F.col("item_b")),
    ).select("item_a", "item_b", "w")
    return (
        pairs.groupBy("item_a", "item_b")
        .agg(
            F.count("*").alias("n_common_users"),
            F.round(F.sum("w"), 4).alias("aa_score"),
        )
        .orderBy(F.col("aa_score").desc(), "item_a", "item_b")
        .limit(int(top_k))
    )


def _pair_expr(items_col: str):
    """array<struct<a,b>> of all ordered pairs (a < b by array order) —
    flatten of a nested transform, pure codegen."""
    return F.expr(
        f"flatten(transform({items_col}, (x, ix) -> "
        f"transform(slice({items_col}, ix + 2, size({items_col})), "
        f"y -> struct(x as a, y as b))))"
    )


def association_rules(
    interactions: DataFrame,
    basket_col: str,
    item_col: str,
    max_basket: int = 100,
    min_pair_count: int = 3,
    top_k: int = 50,
) -> DataFrame:
    """Market-basket association rules — support, both confidences, and
    lift per item pair, every metric an EXACT truncating integer
    quotient (·10⁶ for probabilities, ·10³ for lift) so rule ranking is
    float-free and engine-portable. The universe is the CAPPED basket
    set (size ∈ [2, max_basket], the q111 power-basket discipline):
    singles counts, pair counts, and N all come from that one universe,
    so support/confidence/lift are mutually consistent probabilities.

    Scale shape: join-free C(n,2) pair expansion (nested transform, the
    adamic_adar path) with the per-basket cap bounding the quadratic
    blowup; pair rollup is ONE grouped count with map-side combine; the
    ``min_pair_count`` filter shrinks the relation BEFORE the two
    single-count joins; output is top-k bounded on the integer lift.
    N·n_ab outgrows BIGINT near 10⁹ baskets × 10⁹ pair count — the
    DECIMAL casts are that ceiling."""
    inter = interactions.select(
        F.col(basket_col).alias("b"), F.col(item_col).alias("i")
    ).distinct()
    baskets = (
        inter.groupBy("b")
        .agg(F.array_sort(F.collect_set("i")).alias("items"))
        .filter(
            (F.size("items") >= 2) & (F.size("items") <= int(max_basket))
        )
    )
    n_tot = baskets.agg(F.count("*").alias("n_baskets"))
    singles = baskets.select(F.explode("items").alias("i")).groupBy("i").agg(
        F.count("*").alias("n_i")
    )
    pairs = (
        baskets.select(F.explode(_pair_expr("items")).alias("p"))
        .select(F.col("p.a").alias("item_a"), F.col("p.b").alias("item_b"))
        .groupBy("item_a", "item_b")
        .agg(F.count("*").alias("n_ab"))
        .filter(F.col("n_ab") >= int(min_pair_count))
    )
    joined = (
        pairs.join(
            singles.select(F.col("i").alias("item_a"), F.col("n_i").alias("n_a")),
            "item_a",
        )
        .join(
            singles.select(F.col("i").alias("item_b"), F.col("n_i").alias("n_b")),
            "item_b",
        )
        .crossJoin(F.broadcast(n_tot))
    )
    return (
        joined.select(
            "item_a", "item_b", "n_ab", "n_a", "n_b",
            F.expr(
                "cast(n_ab as decimal(19,0)) * 1000000 div n_baskets"
            ).alias("support_micro"),
            F.expr(
                "cast(n_ab as decimal(19,0)) * 1000000 div n_a"
            ).alias("conf_ab_micro"),
            F.expr(
                "cast(n_ab as decimal(19,0)) * 1000000 div n_b"
            ).alias("conf_ba_micro"),
            F.expr(
                "cast(n_baskets as decimal(19,0)) * n_ab * 1000 "
                "div (cast(n_a as decimal(19,0)) * n_b)"
            ).alias("lift_milli"),
        )
        .orderBy(F.col("lift_milli").desc(), "item_a", "item_b")
        .limit(int(top_k))
    )


def personalized_pagerank(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    weight_col: str | None = None,
    damping: float = 0.85,
    iters: int = 5,
    seeds_k: int = 3,
    rank_decimals: int = 6,
) -> DataFrame:
    """Personalized PageRank: teleport lands on a SEED SET instead of
    uniformly — rank'(v) = (1-d)·p(v) + d·(Σ inflow + dangling·p(v))
    with p = 1/k on the k smallest node ids, 0 elsewhere (a
    deterministic, relationally-derived seed set, so the oracle replays
    it with ORDER BY node LIMIT k). The random-walk-with-restart
    similarity used for "related items from THESE items" — the
    recommendation/expansion counterpart of global PageRank's
    importance. Same scale shape as ``pagerank``: edges partitioned
    once, node-sized broadcast per iteration, dangling as a lazy 1-row
    broadcast, zero mid-loop driver round-trips."""
    w = F.col(weight_col).cast("double") if weight_col else F.lit(1.0)
    e = (
        edges.select(
            F.col(src_col).alias("src"), F.col(dst_col).alias("dst"), w.alias("w")
        )
        .groupBy("src", "dst")
        .agg(F.sum("w").alias("w"))
        .repartition("dst")
        .persist()
    )
    outw = e.groupBy("src").agg(F.sum("w").alias("out_w"))
    nodes = (
        e.select(F.col("src").alias("node"))
        .union(e.select(F.col("dst").alias("node")))
        .distinct()
    )
    k = int(seeds_k)
    seed_rel = nodes.orderBy("node").limit(k).select(
        F.col("node").alias("_seed")
    )
    nodes = (
        nodes.join(F.broadcast(seed_rel), nodes.node == F.col("_seed"), "left")
        .select(
            "node",
            F.when(F.col("_seed").isNotNull(), F.lit(1.0 / k))
            .otherwise(F.lit(0.0))
            .alias("p"),
        )
        .persist()
    )
    ranks = nodes.join(outw, nodes.node == outw.src, "left").select(
        "node", "p", F.col("p").alias("rank"), "out_w"
    )
    for _ in range(iters):
        dang = ranks.filter(F.col("out_w").isNull()).agg(
            F.coalesce(F.sum("rank"), F.lit(0.0)).alias("_dm")
        )
        live = ranks.filter(F.col("out_w").isNotNull())
        contrib = e.join(F.broadcast(live), e.src == F.col("node")).select(
            "dst", (F.col("rank") * F.col("w") / F.col("out_w")).alias("c")
        )
        inflow = contrib.groupBy("dst").agg(F.sum("c").alias("inflow"))
        ranks = (
            nodes.join(inflow, nodes.node == inflow.dst, "left")
            .crossJoin(F.broadcast(dang))
            .select(
                "node",
                "p",
                (
                    F.lit(1.0 - damping) * F.col("p")
                    + F.lit(damping)
                    * (
                        F.coalesce("inflow", F.lit(0.0))
                        + F.col("_dm") * F.col("p")
                    )
                ).alias("rank"),
            )
            .join(outw, F.col("node") == outw.src, "left")
            .select("node", "p", "rank", "out_w")
            .localCheckpoint(eager=False)
        )
    return ranks.select(
        "node", F.round("rank", rank_decimals).alias("rank")
    ).orderBy("node")


def _shuffle_partitions(df: DataFrame) -> int:
    """``spark.sql.shuffle.partitions`` as an int, falling back to
    ``defaultParallelism`` on runtimes where the conf is a non-integer
    string (e.g. ``'auto'`` under some AQE platforms) — ADVICE r11."""
    sess = df.sparkSession
    try:
        return int(sess.conf.get("spark.sql.shuffle.partitions"))
    except (TypeError, ValueError):
        return sess.sparkContext.defaultParallelism


def _directed_double(edges: DataFrame, part_key: str) -> DataFrame:
    """The directed double (src,dst) ∪ (dst,src) of an undirected edge
    list, built in ONE pass via explode (no union of two legs, so an
    expensive edge derivation upstream executes once), hash-repartitioned
    on ``part_key`` and eagerly localCheckpointed. This folds what used to
    be TWO up-front materializations — raw-edge checkpoint, then a
    two-leg union + repartition + second checkpoint (the r11 shape whose
    extra pass was the q230 regression, VERDICT r11 item 3) — into one
    pass and one materialization.

    The repartition is kept, but for a different reason than r11 claimed:
    under AQE a localCheckpoint scan reports ``UnknownPartitioning``
    (q218's per-round plans show it), so the per-round joins can
    never REUSE the partitioning — its real value is execution WIDTH.
    Without it, AQE coalesces the (small-at-bench-scale) edge derivation
    to one or two post-shuffle partitions, the checkpointed double
    inherits them, and every one of the 6–8 per-round jobs runs 1–2
    tasks wide on a 32-core session (measured: q230 12.2 → 16.0 s when
    the repartition was dropped; restored, the single-pass build keeps
    the r12 win). At production scale the input is already wide and the
    repartition is one edge-sized exchange folded into the one-time
    materialization, amortized over every round."""
    p = _shuffle_partitions(edges)
    return (
        edges.select("a", "b")
        .select(
            F.explode(
                F.array(
                    F.struct(F.col("a").alias("src"), F.col("b").alias("dst")),
                    F.struct(F.col("b").alias("src"), F.col("a").alias("dst")),
                )
            ).alias("e")
        )
        .select("e.src", "e.dst")
        .repartition(p, part_key)
        .localCheckpoint(eager=True)
    )


def kcore_peel(
    edges: DataFrame,
    k: int,
    rounds: int = 8,
) -> DataFrame:
    """k-core decomposition by iterative peeling: drop every vertex
    with degree < k, delete its edges, repeat. Returns the peel
    TRAJECTORY — one row per round with (n_vertices, n_edges) of the
    surviving subgraph — which converges to the k-core (a fixed point:
    two equal consecutive rows prove convergence inside the budget).

    Scale shape (r12 rewrite, guide §2.4): the graph is held as its
    DIRECTED double (src,dst) ∪ (dst,src), built in one explode pass and
    checkpointed once up front (_directed_double) — each undirected edge
    contributes one row per endpoint, so the per-round degree
    aggregation is a plain ``groupBy(src)`` over ONE scan of the double
    (before the rewrite every round union'd both edge columns — two
    scans of the checkpoint feeding the same exchange), and only the
    vertex-sized survivor set moves in the two semi-joins (broadcast
    locally, vertex-keyed shuffles at scale). ``localCheckpoint``
    truncates the lineage every round so the plan does not grow with the
    iteration count (same discipline as pagerank/personalized_pagerank
    above). The round budget is fixed (peeling halves fast in practice;
    the trajectory records whether the fixed point was reached), so the
    job graph is bounded.

    ``edges`` must be distinct undirected pairs (a < b)."""
    e = _directed_double(edges, "src")

    def _summary(ed: DataFrame, r: int) -> DataFrame:
        # Over the double: every endpoint appears as ``src`` once per
        # incident edge, so distinct src = vertices and rows/2 = edges —
        # the same numbers the old two-column union produced.
        return ed.agg(
            F.lit(r).cast("long").alias("round"),
            F.countDistinct("src").alias("n_vertices"),
            (F.count("*") / 2).cast("long").alias("n_edges"),
        )

    out = _summary(e, 0)
    for r in range(1, int(rounds) + 1):
        deg = e.groupBy("src").agg(F.count("*").alias("d"))
        keep = deg.filter(F.col("d") >= int(k)).select("src")
        # A directed row survives iff BOTH endpoints survive; the
        # surviving double is exactly the double of the peeled subgraph.
        # eager=False (r12): the plan lineage is truncated immediately but
        # materialization is deferred, so the fixed-budget peel needs NO
        # mid-loop driver action — all rounds pipeline inside the final
        # job (the pagerank discipline; the trajectory has no mid-loop
        # convergence test to sync on).
        e = (
            e.join(keep, "src", "left_semi")
            .join(keep.withColumnRenamed("src", "dst"), "dst", "left_semi")
            .localCheckpoint(eager=False)
        )
        out = out.unionAll(_summary(e, r))
    return out.orderBy("round")


def copurchase_edges(lineitem: DataFrame, max_basket: int = 100) -> DataFrame:
    """Distinct undirected co-purchase edges (a < b): parts bought in
    the same order, baskets capped at ``max_basket`` (the q111/q24
    discipline — a basket that contains everything carries no pairwise
    signal and its C(n,2) expansion is the quadratic hazard). Single
    source of truth for the co-purchase graph: q218 (k-core), q225
    (assortativity) and any future graph query must build edges HERE
    so a cap change cannot silently decouple them. Join-free
    nested-transform pair expansion; only (a, b) pairs shuffle."""
    baskets = (
        lineitem.select(
            F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("p")
        )
        .distinct()
        .groupBy("o")
        .agg(F.array_sort(F.collect_set("p")).alias("items"))
        .filter((F.size("items") >= 2) & (F.size("items") <= int(max_basket)))
    )
    return (
        baskets.select(F.explode(_pair_expr("items")).alias("pr"))
        .select(F.col("pr.a").alias("a"), F.col("pr.b").alias("b"))
        .distinct()
    )


def label_propagation_trajectory(
    edges: DataFrame,
    rounds: int = 10,
) -> DataFrame:
    """Bounded min-label propagation: every vertex starts labeled with
    its own id; each round it takes the min of its label and its
    neighbors' labels. After D rounds (D = graph diameter) labels are
    exactly the connected components; the returned TRAJECTORY — one
    row per round with (n_components, largest_component) — makes
    convergence checkable (two equal consecutive rows) without
    requiring it, so a fixed round budget keeps the semantics exact
    and oracle-comparable rather than hoped-for. (The production
    CC operator, dedup.connected_components, runs the same propagation
    until no label changes and refuses if it does not converge; this
    fixed-round twin exists for bounded-round parity with an unrolled
    SQL oracle, same trade as kcore_peel.)

    Scale shape per round (r11 rewrite, guide §2.4 "remove shuffles
    outright"): ONE edge-keyed label join + one vertex-keyed min — the
    neighbor multiset (a,lbl(b)) ∪ (b,lbl(a)) is exactly the dst-join of
    the label relation against the DIRECTED double (src,dst) ∪ (dst,src)
    (before the r11 rewrite each round shuffled the edges TWICE, by
    ``a`` and by ``b``, for a byte-identical result); locally the
    node-sized labels broadcast into the checkpointed double, so no
    edge bytes move in any round.
    r12: the double is built in ONE explode pass (_directed_double)
    instead of a raw-edge checkpoint followed by a two-leg union +
    repartition + second checkpoint — the r11 extra materialization that
    outweighed the per-round saving at bench scale (VERDICT r11 item 3).
    The repartition survives inside _directed_double for execution width
    (see its docstring — dropping it let AQE coalesce the double to 1–2
    partitions and every round ran effectively single-task). The vertex
    set now derives from the checkpointed double (distinct src), not
    from a second pass over the edge derivation."""
    directed = _directed_double(edges, "dst")
    verts = directed.select(F.col("src").alias("v")).distinct()
    labels = verts.select("v", F.col("v").alias("lbl")).localCheckpoint(
        eager=False
    )

    def _summary(lb: DataFrame, r: int) -> DataFrame:
        sizes = lb.groupBy("lbl").agg(F.count("*").alias("sz"))
        return sizes.agg(
            F.lit(r).cast("long").alias("round"),
            F.count("*").alias("n_components"),
            F.max("sz").alias("largest_component"),
        )

    out = _summary(labels, 0)
    for r in range(1, int(rounds) + 1):
        nbr = directed.join(
            labels.withColumnRenamed("v", "dst"), "dst"
        ).select(F.col("src").alias("v"), "lbl")
        # eager=False (r12): lineage truncation without a per-round driver
        # action — the whole fixed-budget propagation pipelines inside the
        # final job (the pagerank discipline).
        labels = (
            labels.unionAll(nbr)
            .groupBy("v")
            .agg(F.min("lbl").alias("lbl"))
            .localCheckpoint(eager=False)
        )
        out = out.unionAll(_summary(labels, r))
    return out.orderBy("round")


def item_cosine_recommendations(
    interactions: DataFrame,
    basket_col: str,
    item_col: str,
    max_basket: int = 100,
    min_pair_count: int = 3,
    per_item: int = 5,
) -> DataFrame:
    """Item-item cosine collaborative filtering: for every item, the
    top ``per_item`` neighbors by cos(i,j) = n_ij/√(n_i·n_j) over
    implicit basket co-occurrence — the classic "users who bought A
    also bought B" recommender, float-free until one √ per OUTPUT row
    (ranking uses the exact integer cos²·10¹² = n_ij²·10¹²/(n_i·n_j),
    monotone in cosine, deterministic neighbor-id tie-break).

    Scale shape: same capped-basket universe as association_rules (the
    q111 power-basket discipline bounds the C(n,2) expansion); pair
    rollup is ONE grouped count with map-side combine;
    ``min_pair_count`` shrinks the relation before the two
    broadcast-able singles joins; the per-item top-k is a keyed window
    that compiles to map-side WindowGroupLimit — output is
    per_item·|items|, linear in the catalogue, never quadratic."""
    inter = interactions.select(
        F.col(basket_col).alias("b"), F.col(item_col).alias("i")
    ).distinct()
    baskets = (
        inter.groupBy("b")
        .agg(F.array_sort(F.collect_set("i")).alias("items"))
        .filter(
            (F.size("items") >= 2) & (F.size("items") <= int(max_basket))
        )
    )
    singles = baskets.select(F.explode("items").alias("i")).groupBy("i").agg(
        F.count("*").alias("n_i")
    )
    pairs = (
        baskets.select(F.explode(_pair_expr("items")).alias("p"))
        .select(F.col("p.a").alias("item"), F.col("p.b").alias("rec"))
        .groupBy("item", "rec")
        .agg(F.count("*").alias("n_ab"))
        .filter(F.col("n_ab") >= int(min_pair_count))
    )
    both = pairs.unionByName(
        pairs.select(
            F.col("rec").alias("item"), F.col("item").alias("rec"), "n_ab"
        )
    )
    joined = (
        both.join(
            singles.select(F.col("i").alias("item"), F.col("n_i").alias("n_a")),
            "item",
        )
        .join(
            singles.select(F.col("i").alias("rec"), F.col("n_i").alias("n_b")),
            "rec",
        )
        .select(
            "item", "rec", "n_ab", "n_a", "n_b",
            F.expr(
                "cast(n_ab as decimal(19,0)) * n_ab * 1000000000000"
                " div (cast(n_a as decimal(19,0)) * n_b)"
            ).alias("cos2_pico"),
        )
    )
    w = W.partitionBy("item").orderBy(F.desc("cos2_pico"), F.asc("rec"))
    return (
        joined.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= int(per_item))
        .withColumn(
            "cosine",
            F.expr("round(sqrt(cast(cos2_pico as double) / 1e12), 6)"),
        )
        .select(
            "item", "rank", "rec", "n_ab", "n_a", "n_b",
            "cos2_pico", "cosine",
        )
    )


def _triple_expr(items_col: str):
    """array<struct<a,b,c>> of all ordered triples (a < b < c by array
    order) — doubly-nested transform flatten, pure codegen; the cubic
    twin of _pair_expr."""
    return F.expr(
        f"flatten(transform({items_col}, (x, ix) -> "
        f"flatten(transform(slice({items_col}, ix + 2, size({items_col})), "
        f"(y, iy) -> transform(slice({items_col}, ix + iy + 3, "
        f"size({items_col})), z -> struct(x as a, y as b, z as c))))))"
    )


def frequent_triples(
    interactions: DataFrame,
    basket_col: str,
    item_col: str,
    max_basket: int = 30,
    min_support: int = 3,
    top_k: int = 50,
) -> DataFrame:
    """Frequent 3-itemsets over baskets — the next rung above
    association_rules' pairs. The C(n,3) expansion is the CUBIC hazard,
    so the basket cap is tighter than the pair operators' (30 → ≤4060
    triples per basket, vs 100 for pairs); baskets above the cap carry
    no triple signal and are dropped, identically in the oracle.
    Scale shape: join-free doubly-nested transform (no self-joins at
    all — the DuckDB oracle's 3-way self-join is the thing this plan
    avoids), ONE grouped count with map-side combine, min_support
    shrink before the 1-row basket-total broadcast, TakeOrdered
    top-k with full lexicographic tie-break."""
    inter = interactions.select(
        F.col(basket_col).alias("b"), F.col(item_col).alias("i")
    ).distinct()
    baskets = (
        inter.groupBy("b")
        .agg(F.array_sort(F.collect_set("i")).alias("items"))
        .filter(
            (F.size("items") >= 3) & (F.size("items") <= int(max_basket))
        )
    )
    n_tot = baskets.agg(F.count("*").alias("n_baskets"))
    triples = (
        baskets.select(F.explode(_triple_expr("items")).alias("t"))
        .select(
            F.col("t.a").alias("item_a"),
            F.col("t.b").alias("item_b"),
            F.col("t.c").alias("item_c"),
        )
        .groupBy("item_a", "item_b", "item_c")
        .agg(F.count("*").alias("n_abc"))
        .filter(F.col("n_abc") >= int(min_support))
    )
    return (
        triples.crossJoin(F.broadcast(n_tot))
        .select(
            "item_a", "item_b", "item_c", "n_abc", "n_baskets",
            F.expr(
                "cast(n_abc as decimal(19,0)) * 1000000 div n_baskets"
            ).cast("long").alias("support_micro"),
        )
        .orderBy(
            F.desc("n_abc"), "item_a", "item_b", "item_c"
        )
        .limit(int(top_k))
    )
