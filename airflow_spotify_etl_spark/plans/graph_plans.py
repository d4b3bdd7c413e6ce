"""Graph-centrality query plans over event-derived edge lists.

The reference has no graph tier; this extends the north-star curation
surface — random-walk importance (PageRank over item/host transition
graphs) is a standard quality-weighting signal for web-scale training
corpora. The oracle replays the EXACT fixpoint: fixed iteration count, the
same dangling-mass redistribution, unrolled as one CTE pair per iteration.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from ..sources.files import load_table

_DAMPING = 0.85
_ITERS = 5


def q57_item_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank over the item-transition graph: per user, order events by
    (ts, event_id); each consecutive pair of ``props.k`` items is a directed
    edge, parallel edges collapse into weights. 5 damped iterations with
    dangling redistribution (operators/graph.py pagerank — edges partitioned
    by dst once, node-sized rank relation broadcast per iteration)."""
    from ..operators.graph import pagerank

    ev = load_table(spark, sf_dir, "events", parallelize=True)
    item = F.get_json_object("props", "$.k").cast("bigint")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    edges = (
        ev.select("user_id", "ts", "event_id", item.alias("dst"))
        .withColumn("src", F.lag("dst").over(w))
        .filter(F.col("src").isNotNull())
    )
    return pagerank(edges, "src", "dst", damping=_DAMPING, iters=_ITERS)


def _q57_sql(damping: float = _DAMPING, iters: int = _ITERS) -> str:
    """Unrolled PageRank: r0 = 1/N, then per iteration a dangling-mass
    scalar (d{i}) and a rank update (r{i+1}) mirroring operators/graph.py:
    rank' = (1-d)/N + d*(Σ rank·w/out_w + dangling/N). (1-d) literals are
    DECIMAL in DuckDB vs Python-double in Spark — identical after the
    round-6 output (relative gap ~1e-16)."""
    parts = [
        """
WITH it AS (
  SELECT user_id, ts, event_id,
         TRY_CAST(json_extract_string(props, '$.k') AS BIGINT) AS dst,
         lag(TRY_CAST(json_extract_string(props, '$.k') AS BIGINT))
           OVER (PARTITION BY user_id ORDER BY ts, event_id) AS src
  FROM events
), e AS (
  SELECT src, dst, CAST(count(*) AS DOUBLE) AS w
  FROM it WHERE src IS NOT NULL GROUP BY src, dst
), outw AS (
  SELECT src, sum(w) AS out_w FROM e GROUP BY src
), nodes AS (
  SELECT DISTINCT node
  FROM (SELECT src AS node FROM e UNION ALL SELECT dst AS node FROM e)
), nn AS (
  SELECT CAST(count(*) AS DOUBLE) AS n FROM nodes
), r0 AS (
  SELECT node, CAST(1.0 AS DOUBLE) / (SELECT n FROM nn) AS rank FROM nodes
)"""
    ]
    for i in range(iters):
        parts.append(
            f""", d{i} AS (
  SELECT coalesce(sum(rank), 0.0) AS dm
  FROM r{i} WHERE node NOT IN (SELECT src FROM outw)
), r{i + 1} AS (
  SELECT nd.node,
         (1 - {damping}) / (SELECT n FROM nn)
         + {damping} * (coalesce(inf.s, 0.0)
                        + (SELECT dm FROM d{i}) / (SELECT n FROM nn)) AS rank
  FROM nodes nd LEFT JOIN (
    SELECT e.dst AS node, sum(r.rank * e.w / o.out_w) AS s
    FROM e
    JOIN r{i} r ON e.src = r.node
    JOIN outw o ON o.src = e.src
    GROUP BY e.dst
  ) inf ON nd.node = inf.node
)"""
        )
    parts.append(
        f"""
SELECT node, round(rank, 6) AS rank FROM r{iters} ORDER BY node
"""
    )
    return "".join(parts)


def q151_personalized_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Random-walk-with-restart item similarity (operators/graph.
    personalized_pagerank): the q57 transition graph with teleport onto
    the 3 smallest item ids — "expand from THESE items", the
    recommendation/query-expansion counterpart of global importance.
    Same unrolled-fixpoint oracle discipline as q57, with the uniform
    1/N teleport replaced by the seed vector (ORDER BY node LIMIT 3 —
    relationally derived, so SQL replays it)."""
    from ..operators.graph import personalized_pagerank

    ev = load_table(spark, sf_dir, "events", parallelize=True)
    item = F.get_json_object("props", "$.k").cast("bigint")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    edges = (
        ev.select("user_id", "ts", "event_id", item.alias("dst"))
        .withColumn("src", F.lag("dst").over(w))
        .filter(F.col("src").isNotNull())
    )
    return personalized_pagerank(
        edges, "src", "dst", damping=_DAMPING, iters=_ITERS, seeds_k=3
    )


def _q151_sql(damping: float = _DAMPING, iters: int = _ITERS, k: int = 3) -> str:
    parts = [
        f"""
WITH it AS (
  SELECT user_id, ts, event_id,
         TRY_CAST(json_extract_string(props, '$.k') AS BIGINT) AS dst,
         lag(TRY_CAST(json_extract_string(props, '$.k') AS BIGINT))
           OVER (PARTITION BY user_id ORDER BY ts, event_id) AS src
  FROM events
), e AS (
  SELECT src, dst, CAST(count(*) AS DOUBLE) AS w
  FROM it WHERE src IS NOT NULL GROUP BY src, dst
), outw AS (
  SELECT src, sum(w) AS out_w FROM e GROUP BY src
), nodes0 AS (
  SELECT DISTINCT node
  FROM (SELECT src AS node FROM e UNION ALL SELECT dst AS node FROM e)
), seeds AS (
  SELECT node FROM nodes0 ORDER BY node LIMIT {k}
), nodes AS (
  SELECT n.node,
         CASE WHEN s.node IS NOT NULL
              THEN CAST(1.0 AS DOUBLE) / {k} ELSE 0.0 END AS p
  FROM nodes0 n LEFT JOIN seeds s ON s.node = n.node
), r0 AS (
  SELECT node, p, p AS rank FROM nodes
)"""
    ]
    for i in range(iters):
        parts.append(
            f""", d{i} AS (
  SELECT coalesce(sum(rank), 0.0) AS dm
  FROM r{i} WHERE node NOT IN (SELECT src FROM outw)
), r{i + 1} AS (
  SELECT nd.node, nd.p,
         (1 - {damping}) * nd.p
         + {damping} * (coalesce(inf.s, 0.0)
                        + (SELECT dm FROM d{i}) * nd.p) AS rank
  FROM nodes nd LEFT JOIN (
    SELECT e.dst AS node, sum(r.rank * e.w / o.out_w) AS s
    FROM e
    JOIN r{i} r ON e.src = r.node
    JOIN outw o ON o.src = e.src
    GROUP BY e.dst
  ) inf ON nd.node = inf.node
)"""
        )
    parts.append(
        f"""
SELECT node, round(rank, 6) AS rank FROM r{iters} ORDER BY node
"""
    )
    return "".join(parts)


QUERIES = {
    "q57_item_pagerank": q57_item_pagerank,
    "q151_personalized_pagerank": q151_personalized_pagerank,
}

ORACLES = {
    "q57_item_pagerank": _q57_sql(),
    "q151_personalized_pagerank": _q151_sql(),
}


def q111_copurchase_adamic_adar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adamic-Adar link prediction over the customer×part co-purchase
    graph (operators/graph.adamic_adar_pairs): top-50 part pairs by
    common-customer evidence, promiscuous customers discounted by
    1/ln(degree) and power-baskets capped. The oracle replays degree
    computation, the cap, the pair expansion (as a self-join — the
    Spark side is the join-free nested-transform twin), and the scored
    rollup."""
    from ..operators.graph import adamic_adar_pairs

    li = load_table(spark, sf_dir, "lineitem", parallelize=True).select("l_orderkey", "l_partkey")
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    inter = li.join(
        orders, li.l_orderkey == orders.o_orderkey
    ).select("o_custkey", "l_partkey")
    return adamic_adar_pairs(
        inter, "o_custkey", "l_partkey", max_basket=100, top_k=50
    )


_Q111_SQL = """
WITH inter AS (
  SELECT DISTINCT o_custkey AS u, l_partkey AS i
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
), deg AS (
  SELECT u, count(*) AS d FROM inter GROUP BY u
), ok AS (
  SELECT u, d FROM deg WHERE d BETWEEN 2 AND 100
), pairs AS (
  SELECT a.i AS item_a, b.i AS item_b, o.d
  FROM inter a
  JOIN inter b ON a.u = b.u AND a.i < b.i
  JOIN ok o ON o.u = a.u
)
SELECT item_a, item_b,
       count(*) AS n_common_users,
       round(sum(1.0 / ln(d)), 4) AS aa_score
FROM pairs
GROUP BY 1, 2
ORDER BY aa_score DESC, item_a, item_b
LIMIT 50
"""

QUERIES["q111_copurchase_adamic_adar"] = q111_copurchase_adamic_adar
ORACLES["q111_copurchase_adamic_adar"] = _Q111_SQL


def q168_transition_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle census of the undirected item-transition graph (the q57
    edge list with direction dropped) via operators/graph.triangle_count
    — degree-ordered orientation, each triangle generated once from its
    lowest-(degree, id) corner, wedge work bounded by Σ out_deg² =
    O(m^1.5). The oracle replays the same orientation and joins
    verbatim, so a green hash proves both the census and the packing
    (k = d·2³² + id) agree across engines."""
    from ..operators.graph import triangle_count

    ev = load_table(spark, sf_dir, "events")
    item = F.get_json_object("props", "$.k").cast("bigint")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    edges = (
        ev.select("user_id", "ts", "event_id", item.alias("dst"))
        .withColumn("src", F.lag("dst").over(w))
        .filter(F.col("src").isNotNull())
        .select(F.col("src").alias("a"), F.col("dst").alias("b"))
    )
    return triangle_count(edges, "a", "b")


_Q168_SQL = """
WITH it AS (
  SELECT user_id, ts, event_id,
         TRY_CAST(json_extract_string(props, '$.k') AS BIGINT) AS dst,
         lag(TRY_CAST(json_extract_string(props, '$.k') AS BIGINT))
           OVER (PARTITION BY user_id ORDER BY ts, event_id) AS src
  FROM events
), e AS (
  SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
  FROM it WHERE src IS NOT NULL AND src <> dst
), deg AS (
  SELECT n, count(*) AS d
  FROM (SELECT a AS n FROM e UNION ALL SELECT b AS n FROM e)
  GROUP BY n
), keyed AS (
  SELECT n, d * 4294967296 + n AS k FROM deg
), ek AS (
  SELECT e.a, e.b, ka.k AS ka, kb.k AS kb
  FROM e JOIN keyed ka ON ka.n = e.a JOIN keyed kb ON kb.n = e.b
), oriented AS (
  SELECT CASE WHEN ka < kb THEN a ELSE b END AS s,
         CASE WHEN ka < kb THEN b ELSE a END AS t,
         least(ka, kb) AS ks, greatest(ka, kb) AS kt
  FROM ek
), wedges AS (
  SELECT o1.t AS t1, o2.t AS t2
  FROM oriented o1 JOIN oriented o2 ON o1.s = o2.s AND o1.kt < o2.kt
), tri AS (
  SELECT CAST(count(*) AS BIGINT) AS n_triangles
  FROM wedges w
  WHERE EXISTS (SELECT 1 FROM oriented o WHERE o.s = w.t1 AND o.t = w.t2)
), stats AS (
  SELECT CAST(count(*) AS BIGINT) AS n_nodes,
         CAST(sum(d * (d - 1)) // 2 AS BIGINT) AS n_wedges
  FROM deg
), ec AS (
  SELECT CAST(count(*) AS BIGINT) AS n_edges FROM e
)
SELECT s.n_nodes, ec.n_edges, t.n_triangles, s.n_wedges,
       CASE WHEN s.n_wedges > 0
            THEN round(CAST(3 * t.n_triangles AS DOUBLE) / s.n_wedges, 6) END
         AS global_clustering
FROM stats s CROSS JOIN ec CROSS JOIN tri t
"""

QUERIES["q168_transition_triangles"] = q168_transition_triangles
ORACLES["q168_transition_triangles"] = _Q168_SQL


_Q169_BODY = """
WITH RECURSIVE it AS (
  SELECT user_id, ts, event_id,
         {item_expr} AS dst,
         lag({item_expr}) OVER (PARTITION BY user_id ORDER BY ts, event_id)
           AS src
  FROM events
), e AS (
  SELECT DISTINCT src, dst FROM it WHERE src IS NOT NULL AND src <> dst
), seeds AS (
  SELECT DISTINCT src AS node FROM e ORDER BY node LIMIT 5
), reach(node, hops) AS (
  SELECT node, 0 FROM seeds
  UNION ALL
  SELECT e.dst, r.hops + 1
  FROM reach r JOIN e ON e.src = r.node
  WHERE r.hops < 2
), best AS (
  SELECT node, min(hops) AS min_hops FROM reach GROUP BY node
)
SELECT min_hops, count(*) AS n_nodes
FROM best GROUP BY min_hops ORDER BY min_hops
"""


def q169_sql_recursive_reachability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-hop reachability through the SQL surface's RECURSIVE CTE
    (Spark 4's WITH RECURSIVE ... UNION ALL): BFS frontier from the 5
    smallest source items over the transition graph, depth-capped at 2,
    then min-hop dedup and a hop histogram. The same statement runs
    verbatim in DuckDB — the engines must agree on recursion semantics,
    the depth cap, and the dedup. The UNION ALL frontier enumerates
    WALKS (Spark doesn't support UNION-distinct recursion yet), so the
    depth cap is the scale control: the walk count is Σ seeds·deg^h for
    h ≤ 2, kept under Spark's 1M recursion row limit at every SF — the
    iterative-operator tier (q42 label propagation, q57 broadcast loops)
    is the engine's unbounded-depth path."""
    from ..sources.files import register_views

    register_views(spark, sf_dir, ["events"], parallelize=True)
    return spark.sql(
        _Q169_BODY.format(
            item_expr="CAST(get_json_object(props, '$.k') AS BIGINT)"
        )
    )


_Q169_SQL = _Q169_BODY.format(
    item_expr="TRY_CAST(json_extract_string(props, '$.k') AS BIGINT)"
)

QUERIES["q169_sql_recursive_reachability"] = q169_sql_recursive_reachability
ORACLES["q169_sql_recursive_reachability"] = _Q169_SQL


def q191_association_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Association rules over ORDER baskets (operators/graph.
    association_rules): top-50 part pairs by exact integer lift, with
    support and both confidences as truncating ·10⁶ quotients — the
    "customers who bought A also bought B" rule mining with a float-free
    ranking. The oracle replays the cap, the pair expansion (self-join
    twin of the join-free nested transform), the single counts, and the
    identical integer quotients."""
    from ..operators.graph import association_rules

    li = load_table(spark, sf_dir, "lineitem", parallelize=True).select("l_orderkey", "l_partkey")
    return association_rules(
        li, "l_orderkey", "l_partkey",
        max_basket=100, min_pair_count=3, top_k=50,
    )


_Q191_SQL = """
WITH inter AS (
  SELECT DISTINCT l_orderkey AS b, l_partkey AS i FROM lineitem
), deg AS (
  SELECT b, count(*) AS d FROM inter GROUP BY b
), ok AS (
  SELECT b FROM deg WHERE d BETWEEN 2 AND 100
), capped AS (
  SELECT inter.b, inter.i FROM inter JOIN ok ON inter.b = ok.b
), n_tot AS (
  SELECT CAST(count(*) AS BIGINT) AS n_baskets FROM ok
), singles AS (
  SELECT i, CAST(count(*) AS BIGINT) AS n_i FROM capped GROUP BY i
), pairs AS (
  SELECT a.i AS item_a, b2.i AS item_b, CAST(count(*) AS BIGINT) AS n_ab
  FROM capped a JOIN capped b2 ON a.b = b2.b AND a.i < b2.i
  GROUP BY 1, 2
  HAVING count(*) >= 3
)
SELECT item_a, item_b, n_ab, sa.n_i AS n_a, sb.n_i AS n_b,
       CAST(CAST(n_ab AS HUGEINT) * 1000000 // n_baskets AS BIGINT)
         AS support_micro,
       CAST(CAST(n_ab AS HUGEINT) * 1000000 // sa.n_i AS BIGINT)
         AS conf_ab_micro,
       CAST(CAST(n_ab AS HUGEINT) * 1000000 // sb.n_i AS BIGINT)
         AS conf_ba_micro,
       CAST(CAST(n_baskets AS HUGEINT) * n_ab * 1000
            // (CAST(sa.n_i AS HUGEINT) * sb.n_i) AS BIGINT) AS lift_milli
FROM pairs
JOIN singles sa ON sa.i = item_a
JOIN singles sb ON sb.i = item_b
CROSS JOIN n_tot
ORDER BY lift_milli DESC, item_a, item_b
LIMIT 50
"""

QUERIES["q191_association_rules"] = q191_association_rules
ORACLES["q191_association_rules"] = _Q191_SQL

def q239_item_cosine_recs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Item-item cosine collaborative filtering over ORDER baskets
    (operators/graph.item_cosine_recommendations): each part's top-3
    "also bought" neighbors by cos(i,j) = n_ij/√(n_i·n_j), ranked on
    the exact integer cos²·10¹² with a neighbor-id tie-break; one √
    per output row. The oracle replays the cap, the pair expansion
    (self-join twin of the join-free nested transform), the
    both-direction union, and the identical window."""
    from ..operators.graph import item_cosine_recommendations

    li = load_table(spark, sf_dir, "lineitem", parallelize=True).select("l_orderkey", "l_partkey")
    return item_cosine_recommendations(
        li, "l_orderkey", "l_partkey",
        max_basket=100, min_pair_count=3, per_item=3,
    )


_Q239_SQL = """
WITH inter AS (
  SELECT DISTINCT l_orderkey AS b, l_partkey AS i FROM lineitem
), deg AS (
  SELECT b, count(*) AS d FROM inter GROUP BY b
), ok AS (
  SELECT b FROM deg WHERE d BETWEEN 2 AND 100
), capped AS (
  SELECT inter.b, inter.i FROM inter JOIN ok ON inter.b = ok.b
), singles AS (
  SELECT i, CAST(count(*) AS BIGINT) AS n_i FROM capped GROUP BY i
), pairs AS (
  SELECT a.i AS item, b2.i AS rec, CAST(count(*) AS BIGINT) AS n_ab
  FROM capped a JOIN capped b2 ON a.b = b2.b AND a.i < b2.i
  GROUP BY 1, 2
  HAVING count(*) >= 3
), bidir AS (
  SELECT item, rec, n_ab FROM pairs
  UNION ALL
  SELECT rec, item, n_ab FROM pairs
), joined AS (
  SELECT bidir.item, bidir.rec, bidir.n_ab,
         sa.n_i AS n_a, sb.n_i AS n_b,
         CAST(CAST(n_ab AS HUGEINT) * n_ab * 1000000000000
              // (CAST(sa.n_i AS HUGEINT) * sb.n_i) AS BIGINT)
           AS cos2_pico
  FROM bidir
  JOIN singles sa ON bidir.item = sa.i
  JOIN singles sb ON bidir.rec = sb.i
), ranked AS (
  SELECT *, CAST(row_number() OVER (PARTITION BY item
            ORDER BY cos2_pico DESC, rec) AS INTEGER) AS rank
  FROM joined
)
SELECT item, rank, rec, n_ab, n_a, n_b, cos2_pico,
       round(sqrt(CAST(cos2_pico AS DOUBLE) / 1e12), 6) AS cosine
FROM ranked
WHERE rank <= 3
"""

QUERIES["q239_item_cosine_recs"] = q239_item_cosine_recs
ORACLES["q239_item_cosine_recs"] = _Q239_SQL

def q244_dyad_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holland-Leinhardt dyad census + edge reciprocity of the item
    transition graph (q57's edge construction: consecutive ``props.k``
    items per user): mutual / asymmetric / null dyad counts and
    r = 2M/D — the standard probe for whether item flows run two-way.
    NO self-join: each distinct directed edge maps to its unordered
    (lo, hi) dyad and ONE grouped count classifies the dyad by how
    many directions appeared (2 = mutual, 1 = asymmetric); null dyads
    are C(V,2) − M − A, computed in DECIMAL/HUGEINT and emitted as a
    STRING (C(V,2) outgrows int64 past ~4·10⁹ nodes). Scale shape:
    one distinct, one grouped count, three 1-row broadcasts."""
    ev = load_table(spark, sf_dir, "events")
    item = F.get_json_object("props", "$.k").cast("bigint")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    edges = (
        ev.select("user_id", "ts", "event_id", item.alias("dst"))
        .withColumn("src", F.lag("dst").over(w))
        .filter(
            F.col("src").isNotNull() & F.col("dst").isNotNull()
            & (F.col("src") != F.col("dst"))
        )
        .select("src", "dst")
        .distinct()
    )
    verts = (
        edges.select(F.col("src").alias("v"))
        .unionAll(edges.select(F.col("dst").alias("v")))
        .distinct()
        .agg(F.count("*").alias("v"))
    )
    dyads = (
        edges.select(
            F.least("src", "dst").alias("lo"),
            F.greatest("src", "dst").alias("hi"),
        )
        .groupBy("lo", "hi")
        .agg(F.count("*").alias("n_dir"))
    )
    cls = dyads.agg(
        F.sum(F.expr("cast(n_dir = 2 as long)")).alias("mutual"),
        F.sum(F.expr("cast(n_dir = 1 as long)")).alias("asym"),
        F.sum("n_dir").alias("d_edges"),
    )
    return cls.crossJoin(F.broadcast(verts)).select(
        "v", "d_edges", "mutual", "asym",
        F.expr(
            "cast(cast(v as decimal(19,0)) * (v - 1) div 2"
            " - mutual - asym as string)"
        ).alias("null_dyads_s"),
        F.expr(
            "case when d_edges > 0 then"
            " cast(2 * mutual as decimal(19,0)) * 1000000 div d_edges"
            " end"
        ).cast("long").alias("reciprocity_micro"),
    )


_Q244_SQL = """
WITH it AS (
  SELECT user_id, ts, event_id,
         TRY_CAST(json_extract_string(props, '$.k') AS BIGINT) AS dst,
         lag(TRY_CAST(json_extract_string(props, '$.k') AS BIGINT))
           OVER (PARTITION BY user_id ORDER BY ts, event_id) AS src
  FROM events
), edges AS (
  SELECT DISTINCT src, dst FROM it
  WHERE src IS NOT NULL AND dst IS NOT NULL AND src <> dst
), verts AS (
  SELECT CAST(count(*) AS BIGINT) AS v
  FROM (SELECT src AS x FROM edges UNION SELECT dst FROM edges)
), dyads AS (
  SELECT least(src, dst) AS lo, greatest(src, dst) AS hi,
         CAST(count(*) AS BIGINT) AS n_dir
  FROM edges GROUP BY 1, 2
), cls AS (
  SELECT CAST(sum(CAST(n_dir = 2 AS BIGINT)) AS BIGINT) AS mutual,
         CAST(sum(CAST(n_dir = 1 AS BIGINT)) AS BIGINT) AS asym,
         CAST(sum(n_dir) AS BIGINT) AS d_edges
  FROM dyads
)
SELECT v, d_edges, mutual, asym,
       CAST(CAST(v AS HUGEINT) * (v - 1) // 2 - mutual - asym AS VARCHAR)
         AS null_dyads_s,
       CAST(CASE WHEN d_edges > 0 THEN
            CAST(2 * mutual AS HUGEINT) * 1000000 // d_edges END
            AS BIGINT) AS reciprocity_micro
FROM cls CROSS JOIN verts
"""

QUERIES["q244_dyad_census"] = q244_dyad_census
ORACLES["q244_dyad_census"] = _Q244_SQL

def q245_rbo_rankings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rank-Biased Overlap between two part rankings — by total
    quantity vs by total revenue — the IR-standard top-weighted
    ranking agreement. p = 1/2 makes every weight dyadic, so
    RBO@50 = (1−p)·Σ_{d≤50} p^(d−1)·|A_d∩B_d|/d = Σ_d ov_d/(d·2^d)
    is EXACT integer arithmetic: ov_d comes from each common item's
    entry depth max(ra, rb) (one inner join of two 50-row lists, no
    per-depth rescan), weights are shiftleft(1, d) — no pow(), no
    float sum, and the p^50 truncation residual (< 9·10⁻¹⁶) is below
    the atto quantum. Scale shape: both top-50s compile to
    TakeOrderedAndProject over the grouped part aggregates; everything
    downstream runs on ≤50-row broadcasts. Ties broken by partkey in
    both rankings (deterministic)."""
    li = load_table(spark, sf_dir, "lineitem")
    agg = li.groupBy("l_partkey").agg(
        F.sum(F.expr("cast(round(l_quantity) as bigint)")).alias("qty"),
        F.sum(
            F.expr("cast(round(l_extendedprice * 100) as decimal(19,0))")
        ).alias("rev"),
    )
    top_q = (
        agg.orderBy(F.desc("qty"), "l_partkey").limit(50)
        .select(
            "l_partkey",
            F.row_number()
            .over(W.orderBy(F.desc("qty"), "l_partkey")).alias("ra"),
        )
    )
    top_r = (
        agg.orderBy(F.desc("rev"), "l_partkey").limit(50)
        .select(
            "l_partkey",
            F.row_number()
            .over(W.orderBy(F.desc("rev"), "l_partkey")).alias("rb"),
        )
    )
    common = top_q.join(top_r, "l_partkey").select(
        F.greatest("ra", "rb").alias("m")
    )
    depths = spark.range(1, 51).select(F.col("id").cast("int").alias("d"))
    ov = (
        F.broadcast(depths)
        .join(F.broadcast(common), F.col("m") <= F.col("d"), "left")
        .groupBy("d")
        .agg(F.sum(F.expr("cast(m is not null as long)")).alias("ov_d"))
    )
    terms = ov.select(
        "d", "ov_d",
        F.expr(
            "cast(ov_d as decimal(19,0)) * 1000000000000000000"
            " div (cast(d as decimal(19,0)) * shiftleft(cast(1 as bigint), d))"
        ).alias("t"),
    )
    return terms.agg(
        F.max(F.expr("case when d = 10 then ov_d end")).alias("overlap_10"),
        F.max(F.expr("case when d = 50 then ov_d end")).alias("overlap_50"),
        F.sum("t").cast("long").alias("rbo_atto"),
    ).select(
        "overlap_10", "overlap_50", "rbo_atto",
        F.expr("round(cast(rbo_atto as double) / 1e18, 6)").alias("rbo"),
    )


_Q245_SQL = """
WITH agg AS (
  SELECT l_partkey,
         CAST(sum(CAST(round(l_quantity) AS BIGINT)) AS BIGINT) AS qty,
         CAST(sum(CAST(round(l_extendedprice * 100) AS HUGEINT))
              AS HUGEINT) AS rev
  FROM lineitem GROUP BY l_partkey
), top_q AS (
  SELECT l_partkey, CAST(row_number() OVER (ORDER BY qty DESC, l_partkey)
         AS INTEGER) AS ra
  FROM agg ORDER BY qty DESC, l_partkey LIMIT 50
), top_r AS (
  SELECT l_partkey, CAST(row_number() OVER (ORDER BY rev DESC, l_partkey)
         AS INTEGER) AS rb
  FROM agg ORDER BY rev DESC, l_partkey LIMIT 50
), common AS (
  SELECT greatest(ra, rb) AS m FROM top_q JOIN top_r USING (l_partkey)
), depths AS (
  SELECT unnest(generate_series(1, 50)) AS d
), ov AS (
  SELECT d, CAST(sum(CAST(m IS NOT NULL AS BIGINT)) AS BIGINT) AS ov_d
  FROM depths LEFT JOIN common ON m <= d
  GROUP BY d
), terms AS (
  SELECT d, ov_d,
         CAST(ov_d AS HUGEINT) * 1000000000000000000
           // (CAST(d AS HUGEINT) * (CAST(1 AS BIGINT) << d)) AS t
  FROM ov
)
SELECT max(CASE WHEN d = 10 THEN ov_d END) AS overlap_10,
       max(CASE WHEN d = 50 THEN ov_d END) AS overlap_50,
       CAST(sum(t) AS BIGINT) AS rbo_atto,
       round(CAST(CAST(sum(t) AS BIGINT) AS DOUBLE) / 1e18, 6) AS rbo
FROM terms
"""

QUERIES["q245_rbo_rankings"] = q245_rbo_rankings
ORACLES["q245_rbo_rankings"] = _Q245_SQL

def q246_frequent_triples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequent 3-itemsets over ORDER baskets (operators/graph.
    frequent_triples): top-50 part triples by exact co-occurrence
    count with integer micro support — the rung above q191's pair
    rules. The Spark side is a join-free doubly-nested transform with
    the tighter cubic cap (30); the oracle replays it as the 3-way
    self-join the distributed plan exists to avoid."""
    from ..operators.graph import frequent_triples

    li = load_table(spark, sf_dir, "lineitem", parallelize=True).select("l_orderkey", "l_partkey")
    return frequent_triples(
        li, "l_orderkey", "l_partkey",
        max_basket=30, min_support=2, top_k=50,
    )


_Q246_SQL = """
WITH inter AS (
  SELECT DISTINCT l_orderkey AS b, l_partkey AS i FROM lineitem
), deg AS (
  SELECT b, count(*) AS d FROM inter GROUP BY b
), ok AS (
  SELECT b FROM deg WHERE d BETWEEN 3 AND 30
), capped AS (
  SELECT inter.b, inter.i FROM inter JOIN ok ON inter.b = ok.b
), n_tot AS (
  SELECT CAST(count(*) AS BIGINT) AS n_baskets FROM ok
), triples AS (
  SELECT t1.i AS item_a, t2.i AS item_b, t3.i AS item_c,
         CAST(count(*) AS BIGINT) AS n_abc
  FROM capped t1
  JOIN capped t2 ON t1.b = t2.b AND t1.i < t2.i
  JOIN capped t3 ON t2.b = t3.b AND t2.i < t3.i
  GROUP BY 1, 2, 3
  HAVING count(*) >= 2
)
SELECT item_a, item_b, item_c, n_abc, n_baskets,
       CAST(CAST(n_abc AS HUGEINT) * 1000000 // n_baskets AS BIGINT)
         AS support_micro
FROM triples CROSS JOIN n_tot
ORDER BY n_abc DESC, item_a, item_b, item_c
LIMIT 50
"""

QUERIES["q246_frequent_triples"] = q246_frequent_triples
ORACLES["q246_frequent_triples"] = _Q246_SQL


def q266_textrank_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TextRank keyword extraction: undirected co-occurrence graph over
    adjacent document tokens (both >= 5 chars, no self-loops; each
    adjacency contributes an edge in BOTH directions so the damped walk
    is symmetric), ranked by the same 5-iteration weighted PageRank as
    q57 (operators/graph.pagerank — dst-partitioned edges, broadcast
    node-sized ranks, zero mid-loop driver round-trips); top 15.

    Adjacency comes straight off the split array with the guarded
    sequence (Spark sequence(1,0) is DESCENDING — the q139 lesson), so
    both engines pair the IDENTICAL raw arrays before the length
    filter."""
    from ..operators.graph import pagerank

    docs = load_table(spark, sf_dir, "documents", parallelize=True)
    # split(lower(text)) HOISTED out of the transform lambda (r11, guide
    # §1.2 per-task work): the interpreted HOF re-evaluated it per lambda
    # call — O(words²) re-splitting per doc for byte-identical pairs.
    pairs = docs.select(
        F.expr("split(lower(text), '\\\\s+')").alias("w")
    ).select(
        F.explode(
            F.expr(
                "CASE WHEN size(w) >= 2 THEN"
                " transform(sequence(1, size(w) - 1),"
                "  i -> struct(element_at(w, i) AS a,"
                "              element_at(w, i + 1) AS b))"
                " ELSE CAST(array() AS array<struct<a:string,b:string>>) END"
            )
        ).alias("p")
    ).select("p.a", "p.b").filter(
        (F.length("a") >= 5) & (F.length("b") >= 5) & (F.col("a") != F.col("b"))
    )
    edges = pairs.select(F.col("a").alias("src"), F.col("b").alias("dst")).unionAll(
        pairs.select(F.col("b").alias("src"), F.col("a").alias("dst"))
    )
    ranked = pagerank(edges, "src", "dst", damping=_DAMPING, iters=_ITERS)
    return (
        ranked.select(F.col("node").alias("token"), "rank")
        .orderBy(F.col("rank").desc(), "token")
        .limit(15)
    )


def _q266_sql(damping: float = _DAMPING, iters: int = _ITERS) -> str:
    parts = [
        r"""
WITH arrs AS (
  SELECT string_split_regex(lower(text), '\s+') AS arr FROM documents
), rawpairs AS (
  SELECT arr[i] AS a, arr[i + 1] AS b
  FROM arrs, LATERAL (SELECT unnest(range(1, len(arr))) AS i)
), pairs AS (
  SELECT a, b FROM rawpairs
  WHERE length(a) >= 5 AND length(b) >= 5 AND a <> b
), dir AS (
  SELECT a AS src, b AS dst FROM pairs
  UNION ALL
  SELECT b AS src, a AS dst FROM pairs
), e AS MATERIALIZED (
  SELECT src, dst, CAST(count(*) AS DOUBLE) AS w FROM dir GROUP BY src, dst
), outw AS MATERIALIZED (
  SELECT src, sum(w) AS out_w FROM e GROUP BY src
), nodes AS MATERIALIZED (
  SELECT DISTINCT node
  FROM (SELECT src AS node FROM e UNION ALL SELECT dst AS node FROM e)
), nn AS MATERIALIZED (
  SELECT CAST(count(*) AS DOUBLE) AS n FROM nodes
), r0 AS MATERIALIZED (
  SELECT node, CAST(1.0 AS DOUBLE) / (SELECT n FROM nn) AS rank FROM nodes
)"""
    ]
    for i in range(iters):
        parts.append(
            f""", d{i} AS MATERIALIZED (
  SELECT coalesce(sum(rank), 0.0) AS dm
  FROM r{i} WHERE node NOT IN (SELECT src FROM outw)
), r{i + 1} AS MATERIALIZED (
  SELECT nd.node,
         (1 - {damping}) / (SELECT n FROM nn)
         + {damping} * (coalesce(inf.s, 0.0)
                        + (SELECT dm FROM d{i}) / (SELECT n FROM nn)) AS rank
  FROM nodes nd LEFT JOIN (
    SELECT e.dst AS node, sum(r.rank * e.w / o.out_w) AS s
    FROM e
    JOIN r{i} r ON e.src = r.node
    JOIN outw o ON o.src = e.src
    GROUP BY e.dst
  ) inf ON nd.node = inf.node
)"""
        )
    parts.append(
        f"""
SELECT node AS token, round(rank, 6) AS rank FROM r{iters}
ORDER BY round(rank, 6) DESC, node
LIMIT 15
"""
    )
    return "".join(parts)


QUERIES["q266_textrank_keywords"] = q266_textrank_keywords
ORACLES["q266_textrank_keywords"] = _q266_sql()
