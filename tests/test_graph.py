"""PageRank: exact semantics vs a hand-rolled numpy fixpoint (same
dangling redistribution, same iteration count), plus degenerate inputs."""

from __future__ import annotations

import numpy as np
import pytest

from airflow_spotify_etl_spark.operators.graph import pagerank


def _numpy_pagerank(edges, damping=0.85, iters=5):
    nodes = sorted({s for s, _, _ in edges} | {d for _, d, _ in edges})
    idx = {v: i for i, v in enumerate(nodes)}
    n = len(nodes)
    W = np.zeros((n, n))
    for s, d, w in edges:
        W[idx[s], idx[d]] += w
    out = W.sum(axis=1)
    r = np.full(n, 1.0 / n)
    for _ in range(iters):
        dangling = r[out == 0].sum()
        inflow = np.zeros(n)
        nz = out > 0
        inflow = (r[nz] / out[nz]) @ W[nz]
        r = (1 - damping) / n + damping * (inflow + dangling / n)
    return {v: r[idx[v]] for v in nodes}


def _run(spark, edges, **kw):
    df = spark.createDataFrame(edges, "src long, dst long, w double")
    got = {r.node: r.rank for r in pagerank(df, weight_col="w", **kw).collect()}
    kw.pop("broadcast_ranks", None)  # spark-only knob, not in the numpy model
    want = _numpy_pagerank(edges, **kw)
    assert set(got) == set(want)
    for v in want:
        assert got[v] == pytest.approx(want[v], abs=1e-6), v
    assert sum(got.values()) == pytest.approx(1.0, abs=1e-4)
    return got


def test_pagerank_cycle_is_uniform(spark):
    # A 3-cycle is perfectly symmetric: every node must hold rank 1/3.
    got = _run(spark, [(1, 2, 1.0), (2, 3, 1.0), (3, 1, 1.0)])
    assert all(r == pytest.approx(1 / 3, abs=1e-6) for r in got.values())


def test_pagerank_hub_matches_numpy(spark):
    # Asymmetric weighted graph incl. a dangling node (4 has no out-edges).
    edges = [
        (1, 2, 1.0),
        (1, 3, 3.0),
        (2, 3, 1.0),
        (3, 1, 1.0),
        (2, 4, 2.0),
    ]
    got = _run(spark, edges)
    # Exact per-value agreement is asserted in _run; the rank ORDERING must
    # also match the numpy reference (no tie-flips from float noise).
    want = _numpy_pagerank(edges)
    assert sorted(got, key=got.get) == sorted(want, key=want.get)


def test_pagerank_unweighted_parallel_edges_collapse(spark):
    # weight_col=None counts parallel edges: (1→2)×2 vs (1→3)×1.
    df = spark.createDataFrame(
        [(1, 2), (1, 2), (1, 3)], "src long, dst long"
    )
    got = {r.node: r.rank for r in pagerank(df).collect()}
    assert got[2] > got[3]


def test_pagerank_empty_raises(spark):
    df = spark.createDataFrame([], "src long, dst long, w double")
    with pytest.raises(ValueError, match="empty edge list"):
        pagerank(df, weight_col="w")


def test_pagerank_smj_fallback_matches_broadcast(spark):
    """broadcast_ranks=False (web-scale node sets) must compute the exact
    same fixpoint through the sort-merge path."""
    edges = [
        (1, 2, 1.0),
        (1, 3, 3.0),
        (2, 3, 1.0),
        (3, 1, 1.0),
        (2, 4, 2.0),
    ]
    got = _run(spark, edges, broadcast_ranks=False)
    want = _run(spark, edges)
    assert got == want


def test_pagerank_smj_fallback_plan_has_no_rank_broadcast(spark):
    """With broadcast_ranks=False the in-loop edge⋈rank join must be a
    SortMergeJoin (rank relation too big to broadcast at web scale) with
    the edge relation partitioned by src ONCE (REPARTITION_BY_COL) — no
    per-iteration edge reshuffle and no BroadcastHashJoin on the rank
    join. pagerank's localCheckpoint truncates lineage at the output, so
    (same pattern as the broadcast-path gate above) this replicates one
    in-loop iteration: src-partitioned edges, merge-hinted rank join."""
    from pyspark.sql import functions as F

    e = spark.createDataFrame(
        [(1, 2, 1.0), (2, 3, 1.0), (3, 1, 2.0)], "src long, dst long, w double"
    ).repartition("src")
    ranks = spark.createDataFrame(
        [(1, 0.3, 1.0), (2, 0.3, 1.0), (3, 0.4, 2.0)],
        "node long, rank double, out_w double",
    )
    contrib = e.join(ranks.hint("merge"), e.src == F.col("node")).select(
        "dst", (F.col("rank") * F.col("w") / F.col("out_w")).alias("c")
    )
    inflow = contrib.groupBy("dst").agg(F.sum("c").alias("inflow"))
    phys = inflow._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" in phys, phys
    assert "BroadcastHashJoin" not in phys, phys
    # Edge side partitioned once by src; the only OTHER hash exchanges are
    # the node-sized rank shuffle (irreducible: ranks change per round)
    # and the contributions exchange feeding groupBy(dst).
    edge_exchanges = [
        ln
        for ln in phys.splitlines()
        if "Exchange hashpartitioning(src" in ln and "REPARTITION_BY_COL" in ln
    ]
    assert len(edge_exchanges) == 1, phys


def test_adamic_adar_planted_affinity(spark):
    """Closed-form check: users 1-3 each buy {A, B}; user 4 buys
    {A, B, C, D}. AA(A,B) = 3/ln(2) + 1/ln(4); AA(C,D) = 1/ln(4); pairs
    through the capped power-user only score 1/ln(4). A degree-1 user
    contributes nothing; a basket above the cap vanishes entirely."""
    import math

    from airflow_spotify_etl_spark.operators.graph import adamic_adar_pairs

    rows = (
        [(u, it) for u in (1, 2, 3) for it in ("A", "B")]
        + [(4, it) for it in ("A", "B", "C", "D")]
        + [(5, "A")]                               # degree-1: no evidence
        + [(6, it) for it in ("A", "B", "X1", "X2", "X3")]  # capped out
    )
    inter = spark.createDataFrame(rows, "u long, i string")
    got = {
        (r.item_a, r.item_b): r
        for r in adamic_adar_pairs(inter, "u", "i", max_basket=4, top_k=10).collect()
    }
    ab = got[("A", "B")]
    assert ab.n_common_users == 4
    assert abs(ab.aa_score - round(3 / math.log(2) + 1 / math.log(4), 4)) < 1e-9
    cd = got[("C", "D")]
    assert cd.n_common_users == 1
    assert abs(cd.aa_score - round(1 / math.log(4), 4)) < 1e-9
    assert ("A", "X1") not in got  # user 6's basket exceeded the cap


def test_personalized_pagerank_mass_near_seeds(spark):
    """On a star graph rooted at node 0 (seed), PPR concentrates mass on
    the seed and its out-neighbors; a node unreachable from the seeds
    (and not a seed) gets rank 0."""
    from airflow_spotify_etl_spark.operators.graph import (
        personalized_pagerank,
    )

    # 0 -> 1, 0 -> 2, 1 -> 0, plus an isolated pair 8 -> 9
    edges = spark.createDataFrame(
        [(0, 1), (0, 2), (1, 0), (8, 9)], "src long, dst long"
    )
    out = {r.node: r.rank for r in personalized_pagerank(
        edges, seeds_k=3, iters=10
    ).collect()}
    # seeds are the 3 smallest nodes: 0, 1, 2
    assert out[0] > out[9]
    assert out[9] == 0.0  # 9 only receives from 8, which has rank 0
    assert out[8] == 0.0  # not a seed, no inflow
    # total mass stays bounded by 1 (teleport loses nothing to danglers)
    assert 0.99 <= sum(out.values()) <= 1.01


def test_triangle_count_known_graphs(spark):
    from airflow_spotify_etl_spark.operators.graph import triangle_count

    # K4: 4 triangles, 6 edges, wedges = 4*C(3,2) = 12, clustering = 1.0
    k4 = [(a, b) for a in range(4) for b in range(a + 1, 4)]
    df = spark.createDataFrame(k4, "a long, b long")
    r = triangle_count(df).collect()[0]
    assert (r.n_nodes, r.n_edges, r.n_triangles, r.n_wedges) == (4, 6, 4, 12)
    assert r.global_clustering == 1.0

    # path 0-1-2-3: no triangles; duplicate + reversed + self-loop edges
    # must all canonicalize away
    path = [(0, 1), (1, 0), (1, 2), (2, 3), (3, 3), (2, 1)]
    df = spark.createDataFrame(path, "a long, b long")
    r = triangle_count(df).collect()[0]
    assert (r.n_nodes, r.n_edges, r.n_triangles, r.n_wedges) == (4, 3, 0, 2)
    assert r.global_clustering == 0.0

    # triangle + pendant: T=1, wedges = C(2,2)*2 + C(3,2) = 1+1+3 = 5
    g = [(0, 1), (1, 2), (0, 2), (2, 3)]
    df = spark.createDataFrame(g, "a long, b long")
    r = triangle_count(df).collect()[0]
    assert (r.n_triangles, r.n_wedges) == (1, 5)
    assert r.global_clustering == 0.6


def test_global_pagerank_is_personalized_with_every_node_seeded(spark):
    """Global PageRank is the personalized walk with teleport 1/N on every
    node: seeding all N nodes reproduces pagerank at rank_decimals, on a
    weighted graph with a dangling node and a node with no in-edges."""
    from airflow_spotify_etl_spark.operators.graph import personalized_pagerank

    df = spark.createDataFrame(
        [(1, 2, 1.0), (1, 3, 3.0), (2, 3, 1.0), (3, 1, 1.0), (2, 4, 2.0), (5, 1, 1.0)],
        "src long, dst long, w double",
    )
    want = pagerank(df, weight_col="w").collect()
    got = personalized_pagerank(df, weight_col="w", seeds_k=5).collect()
    assert got == want


def test_label_propagation_converges_to_connected_components(spark):
    """Both min-label loops agree: on separate chains (diameters 3, 2, 1,
    ids shuffled along each chain), the last trajectory row's
    n_components equals the number of distinct components that
    connected_components returns."""
    from airflow_spotify_etl_spark.operators.dedup import connected_components
    from airflow_spotify_etl_spark.operators.graph import (
        label_propagation_trajectory,
    )

    chains = [[7, 3, 9, 1], [12, 15, 11], [20, 21]]
    edges = [(min(u, v), max(u, v)) for c in chains for u, v in zip(c, c[1:])]
    pairs = spark.createDataFrame(edges, "a long, b long")
    traj = label_propagation_trajectory(pairs, rounds=4).collect()
    cc = connected_components(pairs, "a", "b")
    n_cc = cc.select("component").distinct().count()
    assert n_cc == len(chains)
    assert traj[-1].n_components == n_cc
    assert traj[-1].largest_component == 4
