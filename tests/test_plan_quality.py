"""Physical-plan quality gates (the 100 TB design bar).

Correctness tests prove the answers; these prove the PLANS — predicate
pushdown reaching the parquet scan, column pruning, broadcast only where a
broadcast belongs, and no shuffle/row-explosion in paths engineered to be
narrow. A regression here is a scale bug even when sf0.001 results stay
right.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from airflow_spotify_etl_spark.plans import all_queries


def _final_plan(df) -> str:
    """Execute the DataFrame's own query execution and return the FINAL
    adaptive plan — AQE's runtime join/partition choices only exist after
    an action on THIS plan (a noop write spawns a separate execution and
    leaves df's plan pre-AQE)."""
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "isFinalPlan=false" not in plan, "plan did not finalize"
    # Drop the appended pre-AQE "Initial Plan" section — assert only on
    # what actually ran.
    return plan.split("== Initial Plan ==")[0]


@pytest.fixture(autouse=True)
def _pure_scale_shape(monkeypatch):
    """These gates assert the 100 TB plan shape. The r11 scan-parallelize
    rescue (sources/files._maybe_parallelize) deliberately adds a
    hash exchange on the table key after single-row-group FIXTURE scans — a local
    bench repair that is a no-op on real (splittable) tables, so it must
    not blur what these gates certify. Its own behavior is gated in
    tests/test_scan_parallelize.py."""
    monkeypatch.setenv("SPARK_GRAFT_SCAN_PARALLELIZE", "0")


@pytest.fixture(scope="module")
def qs():
    return all_queries()


def test_q01_pushes_filter_and_prunes_columns(spark, sf_dir, qs):
    plan = _final_plan(qs["q01_pricing_summary"](spark, sf_dir))
    # Time filter reaches the parquet scan…
    assert "PushedFilters: [IsNotNull(l_shipdate)" in plan
    # …and unused wide columns never leave it (projection pushdown).
    assert "l_partkey" not in plan and "l_suppkey" not in plan


def test_q02_filters_reach_every_scan(spark, sf_dir, qs):
    plan = _final_plan(qs["q02_top_revenue_orders"](spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "EqualTo(c_mktsegment,BUILDING)" in plan  # dim filter pushed
    assert plan.count("PushedFilters: [") >= 3  # all three scans filtered


def test_q04_broadcasts_true_dims(spark, sf_dir, qs):
    plan = _final_plan(qs["q04_region_nation_revenue"](spark, sf_dir))
    assert "CartesianProduct" not in plan
    # region/nation carry explicit broadcast hints → BroadcastHashJoin must
    # appear; the fact-fact join must NOT be a nested loop.
    assert "BroadcastHashJoin" in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_q22_broadcasts_query_side_only(spark, sf_dir, qs):
    plan = _final_plan(qs["q22_cosine_topk"](spark, sf_dir))
    # 5 query vectors against the corpus: broadcast nested-loop is the
    # intended shape (no key to hash on); the corpus side never shuffles
    # before scoring.
    assert "BroadcastNestedLoopJoin" in plan


def test_ivf_assignment_is_narrow(spark):
    """The argmax cell assignment must stay a projection: no join, no
    exchange, no generate — the r1 verdict's nlist-x row explosion stays
    dead."""
    from airflow_spotify_etl_spark.operators.similarity import _assign_cells

    corpus = spark.range(100).select(
        F.col("id").alias("vec_id"),
        F.array(*[(F.col("id") * (i + 1) % 97).cast("double") for i in range(8)]).alias(
            "embedding"
        ),
    )
    cents = [(c, [float(c * (i + 1) % 97) for i in range(8)]) for c in range(4)]
    assigned = _assign_cells(corpus, cents, "embedding", "vec_id")
    plan = assigned._jdf.queryExecution().executedPlan().toString()
    for op in ("Join", "Exchange", "Generate", "Window"):
        assert op not in plan, f"assignment plan contains {op}"


def test_minhash_verify_joins_only_candidates(spark, sf_dir):
    """The exact-Jaccard verify stage must route through the candidate list
    (join fan-in bounded by candidates), not a full shingle self-join."""
    from airflow_spotify_etl_spark.operators.dedup import minhash_lsh_pairs
    from airflow_spotify_etl_spark.sources.files import load_table

    docs = load_table(spark, sf_dir, "documents")
    pairs = minhash_lsh_pairs(docs, threshold=0.5)
    optimized = pairs._jdf.queryExecution().optimizedPlan().toString()
    # The banding equi-join appears once; the verify path adds joins keyed
    # through doc_a/doc_b — a second *self*-join of the full shingle relation
    # on `shingle = shingle` alone must not exist. Heuristic: the optimized
    # plan joins on shingle only together with a doc key.
    assert optimized.count("Join Inner, (shingle") <= 1


def test_corpus_frontier_steps_are_row_local(spark, sf_dir):
    """The corpus frontier's per-document steps must not join a per-doc
    frame back onto the documents: the two gates filter in place (one
    scan, no join), the profile fit takes each language's total without a
    join, and lang-ID scores every doc with no window and at most one
    non-broadcast join over at most two scans."""
    import re

    from airflow_spotify_etl_spark.operators.text import (
        fit_lang_profiles,
        predict_lang,
    )
    from airflow_spotify_etl_spark.pipelines.corpus import (
        quality_filter,
        repetition_filter,
    )
    from airflow_spotify_etl_spark.sources.files import load_table

    docs = load_table(spark, sf_dir, "documents")
    gates = _final_plan(repetition_filter(quality_filter(docs)))
    assert gates.count("FileScan parquet") == 1
    assert "Join" not in gates

    profiles = fit_lang_profiles(docs)
    assert "Join" not in _final_plan(profiles)

    # A checkpointed fit, so the plan holds only predict_lang's own work.
    plan = _final_plan(predict_lang(docs, profiles.localCheckpoint()))
    assert plan.count("FileScan parquet") + plan.count("Scan ExistingRDD") <= 2
    assert "Window" not in plan
    joins = re.findall(r"\b\w+Join\b|\bCartesianProduct\b", plan)
    assert joins, "predict_lang must broadcast-join the profiles"
    assert sum(not j.startswith("Broadcast") for j in joins) <= 1, joins


def test_corpus_gates_run_once(spark, sf_dir, tmp_path, monkeypatch):
    """The corpus build gates each document once: lang-ID's fit, predict
    and join and exact dedup read the gated checkpoint, so the query
    checkpointed as ``uniq`` scans no parquet (each of them re-scanned
    the input and re-ran both gates before). The repetition statistics
    sort with the codegen'd ``sort_array``, not ``array_sort``, whose
    default comparator is an interpreted lambda."""
    from airflow_spotify_etl_spark.pipelines import corpus
    from airflow_spotify_etl_spark.pipelines.corpus import (
        quality_filter,
        repetition_filter,
        run_corpus_pipeline,
    )
    from airflow_spotify_etl_spark.sources.files import load_table

    docs = load_table(spark, sf_dir, "documents")
    gates = repetition_filter(quality_filter(docs))
    assert "array_sort(" not in gates._jdf.queryExecution().optimizedPlan().toString()

    checkpointed = []
    real = corpus._checkpoint_observing

    def capture(df, metric):
        checkpointed.append(df)
        return real(df, metric)

    monkeypatch.setattr(corpus, "_checkpoint_observing", capture)
    summary = run_corpus_pipeline(spark, docs, str(tmp_path / "corpus"))
    assert summary["docs_in"] == docs.count()
    uniq = _final_plan(checkpointed[0])
    assert "FileScan parquet" not in uniq


def test_quality_report_is_one_aggregate_pass(spark, sf_dir):
    from airflow_spotify_etl_spark.operators.quality import quality_report
    from airflow_spotify_etl_spark.sources.files import load_table

    ev = load_table(spark, sf_dir, "events")
    plan = quality_report(ev, key_col="event_id", ts_col="ts")._jdf.queryExecution(
    ).optimizedPlan().toString()
    # One fused Aggregate over the main scan (plus the broadcast 1-row max):
    # the reference's four separate passes must not reappear.
    assert plan.count("Relation") <= 2  # main scan + max_ts scan, nothing more


def test_lsh_candidate_generation_is_capped_and_join_free(spark, sf_dir):
    """All three signature-LSH tiers (MinHash bands, SimHash blocks,
    hyperplane bands) must generate candidates via the capped join-free
    bucket expansion: no Join anywhere in the candidate plan, and the
    ``_bucket_n <= cap`` window filter present so one hot band value
    (templated boilerplate at 100 TB) cannot expand quadratically."""
    from airflow_spotify_etl_spark.operators.dedup import (
        minhash_lsh_pairs,
        simhash_pairs,
    )
    from airflow_spotify_etl_spark.operators.similarity import cosine_pairs_lsh
    from airflow_spotify_etl_spark.sources.files import load_table

    docs = load_table(spark, sf_dir, "documents")
    emb = load_table(spark, sf_dir, "embeddings")
    for df in (
        minhash_lsh_pairs(docs, verify=False),
        simhash_pairs(docs),
        cosine_pairs_lsh(emb, threshold=0.45, verify=False),
    ):
        plan = df._jdf.queryExecution().optimizedPlan().toString()
        assert "Join" not in plan, plan
        assert "_bucket_n" in plan and "<= 1000" in plan, plan
    # The exact-cosine verify may join — but only candidate-routed equi-joins
    # (bounded by the candidate list), never a cartesian or a full self-join.
    full = cosine_pairs_lsh(emb, threshold=0.45)._jdf.queryExecution(
    ).optimizedPlan().toString()
    assert "Join Cross" not in full and full.count("Join Inner") <= 2, full


def test_set_overlap_tiers_are_capped_and_join_free(spark, sf_dir):
    """The four set-overlap Jaccard tiers (word n-gram Jaccard and
    containment, block-hash and content-defined-chunk binary Jaccard)
    must share the capped sized-set overlap: no Join anywhere in the
    plan (set sizes ride inside the bucket structs, so no size join-back;
    pairs come from the join-free bucket expansion) and the
    ``_bucket_n <= cap`` filter present."""
    from airflow_spotify_etl_spark.operators.dedup import (
        containment_pairs,
        ngram_jaccard_pairs,
    )
    from airflow_spotify_etl_spark.operators.multimodal import (
        binary_block_pairs,
        binary_cdc_pairs,
    )
    from airflow_spotify_etl_spark.sources.files import load_table

    docs = load_table(spark, sf_dir, "documents")
    media = spark.createDataFrame(
        [(i, bytes(range(i, i + 64))) for i in range(4)],
        "media_id long, content binary",
    )
    for df in (
        ngram_jaccard_pairs(docs),
        containment_pairs(docs),
        binary_block_pairs(media),
        binary_cdc_pairs(media),
    ):
        plan = df._jdf.queryExecution().optimizedPlan().toString()
        assert "Join" not in plan, plan
        assert "_bucket_n" in plan and "<= 1000" in plan, plan


def test_pagerank_iteration_aggregates_without_reshuffle(spark):
    """pagerank's per-iteration inflow: edges are hash-partitioned by dst
    ONCE before the loop; the rank relation joins in via broadcast, so the
    groupBy(dst) must run as partial+final HashAggregate with NO new
    Exchange — the only exchanges in the stage are the one-time
    REPARTITION_BY_COL and the BroadcastExchange. At 100 TB the edge
    relation never reshuffles inside the loop."""
    e = spark.createDataFrame(
        [(1, 2, 1.0), (2, 3, 1.0), (3, 1, 2.0)], "src long, dst long, w double"
    ).repartition("dst")
    ranks = spark.createDataFrame(
        [(1, 0.3, 1.0), (2, 0.3, 1.0), (3, 0.4, 2.0)],
        "node long, rank double, out_w double",
    )
    contrib = e.join(F.broadcast(ranks), e.src == F.col("node")).select(
        "dst", (F.col("rank") * F.col("w") / F.col("out_w")).alias("c")
    )
    inflow = contrib.groupBy("dst").agg(F.sum("c").alias("inflow"))
    plan = inflow._jdf.queryExecution().executedPlan().toString()
    hash_exchanges = [
        ln for ln in plan.splitlines() if "Exchange hashpartitioning" in ln
    ]
    assert len(hash_exchanges) == 1 and "REPARTITION_BY_COL" in hash_exchanges[0], plan
    assert "BroadcastHashJoin" in plan, plan


def test_q65_reuses_one_user_exchange_for_all_windows(spark, sf_dir, qs):
    """SCD-2 runs three window passes and a grouped aggregate, but
    HashPartitioning(user_id) satisfies all of them: exactly one data
    hash-exchange (plus the output range sort) may appear."""
    plan = _final_plan(qs["q65_scd2_intervals"](spark, sf_dir))
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert "CartesianProduct" not in plan


def test_q67_broadcasts_moment_stats(spark, sf_dir, qs):
    """The 5-row per-type moment aggregate must come back as a broadcast —
    a shuffle join here would reshuffle the full scan at 100 TB."""
    plan = _final_plan(qs["q67_value_outliers"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan


def test_q69_weighted_sample_has_no_data_shuffle(spark, sf_dir, qs):
    """The sampling decision is a narrow hash+compare projection; the only
    exchanges allowed are the 1-row max broadcast and the output sort."""
    plan = _final_plan(qs["q69_weighted_sample"](spark, sf_dir))
    assert plan.count("Exchange hashpartitioning") == 0, plan
    assert "BroadcastNestedLoopJoin" in plan  # the 1-row scalar combine


def test_q87_q88_deep_joins_broadcast_dims_and_push_filters(spark, qs):
    """The TPC-H Q7/Q8-shape trees: every dimension leg arrives as a
    broadcast (at this SF), the fact table never cartesian-joins, the
    selective filters (shipdate range / part type) reach the parquet
    scans, and the only data exchanges are the final aggregate + sort —
    the join tree itself adds none. Runs at sf0.01: at sf0.001 the
    filtered result is empty and AQE collapses the whole tree to
    EmptyRelation, leaving nothing to assert on."""
    for name, pushed in (
        ("q87_volume_shipping", "l_shipdate"),
        ("q88_market_share", "p_type"),
    ):
        plan = _final_plan(qs[name](spark, "/root/testdata/sf0.01"))
        assert "CartesianProduct" not in plan and "Join Cross" not in plan, name
        assert "SortMergeJoin" not in plan, name  # all dims broadcast at this SF
        assert f"PushedFilters: [IsNotNull({pushed})" in plan, (name, plan[:2000])
        data_exchanges = [
            ln
            for ln in plan.splitlines()
            if "Exchange" in ln and "Broadcast" not in ln
        ]
        # hash exchange for the group-by + range exchange for the sort.
        assert len(data_exchanges) <= 2, (name, data_exchanges)


def test_q94_exact_k_sample_is_shuffle_free_topk(spark, sf_dir, qs):
    """ORDER BY hash LIMIT k must plan as TakeOrderedAndProject —
    per-partition heaps + bounded merge — with NO exchange anywhere: the
    100 TB sample is one narrow pass over the scan."""
    for name in ("q94_exact_k_sample", "q99_weighted_exact_k"):
        plan = _final_plan(qs[name](spark, sf_dir))
        assert "TakeOrderedAndProject" in plan, name
        assert "Exchange" not in plan, (name, plan)


def test_q93_canonical_dedup_shuffles_hash_not_text(spark, sf_dir, qs):
    """The keeper window exchanges on the uniform canonical hash over the
    narrow (id, source, hash) projection; unused columns never leave the
    scan, and the whole report is 2 hash exchanges + the output sort."""
    # Another test may have cached a table this query reads; a cached scan
    # (InMemoryTableScan) carries the full cached schema and would fail
    # the pruning assertion for reasons unrelated to this plan.
    spark.catalog.clearCache()
    plan = _final_plan(qs["q93_canonical_dedup"](spark, sf_dir))
    assert plan.count("Exchange hashpartitioning") == 2, plan
    assert plan.count("Exchange rangepartitioning") == 1, plan
    assert "n_chars" not in plan and "lang" not in plan  # pruned at the scan


def test_q95_diversity_cap_prunes_topk_map_side(spark, sf_dir, qs):
    """Assignment is a zero-join argmax projection; the per-cell cap must
    push a PARTIAL WindowGroupLimit below the exchange (each task ships at
    most m rows per cell, not its whole cell) and shuffle only the narrow
    (id, cell, sim) projection — one hash exchange total."""
    plan = _final_plan(qs["q95_diversity_cap_sample"](spark, sf_dir))
    assert "Join" not in plan and "CartesianProduct" not in plan
    assert plan.count("Exchange hashpartitioning") == 1, plan
    import re as _re

    assert _re.search(r"WindowGroupLimit .*row_number\(\), 10, Partial", plan), plan


def test_q97_pq_adc_scores_compressed_rows_map_side(spark, sf_dir, qs):
    """PQ encode must ride the scan as a projection (no join/shuffle
    before the broadcast of the query set), and the per-query top-k must
    prune map-side (partial WindowGroupLimit) so only ≤ k rows per query
    per task reach the single hash exchange."""
    plan = _final_plan(qs["q97_pq_adc_topk"](spark, sf_dir))
    assert "SortMergeJoin" not in plan and "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" in plan  # query set broadcast, corpus streams
    assert plan.count("Exchange hashpartitioning") == 1, plan
    import re as _re

    assert _re.search(r"WindowGroupLimit .*row_number\(\), 5, Partial", plan), plan


def test_q100_ivf_pq_streams_codes_through_broadcast_probe(spark, sf_dir, qs):
    """The composed index scan must stay narrow: assignment + encoding
    ride the scan as projections (no join before the probe broadcast),
    and the only hash exchange is the per-query top-k window with its
    partial WindowGroupLimit below it."""
    plan = _final_plan(qs["q100_ivf_pq_search"](spark, sf_dir))
    assert "SortMergeJoin" not in plan and "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan  # probe join keyed on cell
    assert plan.count("Exchange hashpartitioning") == 1, plan
    import re as _re

    assert _re.search(r"WindowGroupLimit .*row_number\(\), 5, Partial", plan), plan


def test_q115_sparse_cosine_candidates_join_free_and_narrow(spark, sf_dir):
    """The sparse-cosine candidate phase must be the capped join-free
    posting expansion: the ONLY joins in the whole plan are the two
    norm attaches after the pair rollup, and the text column never
    survives past the shingle projection (only ids, counts, and sums
    shuffle)."""
    from airflow_spotify_etl_spark.operators.dedup import sparse_cosine_pairs
    from airflow_spotify_etl_spark.sources.files import load_table

    docs = load_table(spark, sf_dir, "documents")
    out = sparse_cosine_pairs(docs, threshold=0.3)
    optimized = out._jdf.queryExecution().optimizedPlan().toString()
    # Exactly two joins: norm2_a and norm2_b attaches; the candidate
    # phase (postings → pair explode → rollup) has none.
    assert optimized.count("Join Inner") == 2, optimized
    # df cap present in the posting filter.
    assert "df#" in optimized or "<= 1000" in optimized, optimized
    plan = _final_plan(out)
    # No exchange carries the text column (narrow shuffles only).
    for ln in plan.splitlines():
        if "Exchange" in ln:
            assert "text" not in ln, ln


def test_q124_tpch_q3_plan_shape(spark, sf_dir, qs):
    """TPC-H Q3 through the SQL front-end must get the classic plan:
    the segment filter and BOTH date predicates pushed into their
    parquet scans, the customer side broadcast, and a partial
    aggregate before the final grouped exchange."""
    plan = _final_plan(qs["q124_sql_shipping_priority"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    pushed = [ln for ln in plan.splitlines() if "PushedFilters" in ln]
    text = "\n".join(pushed)
    assert "c_mktsegment" in text and "o_orderdate" in text and "l_shipdate" in text, text
    assert "partial_sum" in plan or "partial" in plan.lower(), plan


def test_q153_outer_join_keeps_zero_order_bucket(spark, tmp_path, qs):
    """The non-urgent predicate lives in the ON clause: a customer whose
    ONLY orders are urgent (and one with no orders at all) must still
    appear, in the c_count=0 bucket. In the WHERE the outer join would
    quietly become inner and the bucket would vanish."""
    from datetime import datetime

    from airflow_spotify_etl_spark.sources.files import SCHEMAS

    d = datetime(1999, 6, 1)
    custs = [(i, f"c{i}", 0, 0.0, "SEG") for i in range(1, 5)]
    orders = [
        # cust 1: two normal orders; cust 2: one urgent (excluded); cust 3: none
        (10, 1, "O", 1.0, d, "3-MEDIUM"),
        (11, 1, "O", 1.0, d, "3-MEDIUM"),
        (12, 2, "O", 1.0, d, "1-URGENT"),
        (13, 4, "O", 1.0, d, "2-HIGH"),
    ]
    spark.createDataFrame(custs, SCHEMAS["customer"]).write.parquet(
        str(tmp_path / "customer.parquet")
    )
    spark.createDataFrame(orders, SCHEMAS["orders"]).write.parquet(
        str(tmp_path / "orders.parquet")
    )
    out = {
        (r.c_count, r.custdist)
        for r in qs["q153_sql_order_count_histogram"](spark, str(tmp_path)).collect()
    }
    assert out == {(0, 2), (1, 1), (2, 1)}  # custs {2,3} → 0; {4} → 1; {1} → 2


def test_q154_lone_late_supplier_semantics(spark, tmp_path, qs):
    """Only the supplier whose line is the SOLE late line of a
    multi-supplier finished order counts: co-late orders, single-supplier
    orders, and non-finished orders all drop out."""
    from datetime import datetime

    from airflow_spotify_etl_spark.sources.files import SCHEMAS

    od = datetime(1999, 1, 1)
    on_time = datetime(1999, 2, 1)   # +31d
    late = datetime(1999, 4, 1)      # +90d > 60d
    sups = [(1, "s1", 0, 0.0), (2, "s2", 0, 0.0), (3, "s3", 0, 0.0)]
    nations = [(0, "N0", 0)]
    orders = [
        (100, 1, "F", 1.0, od, "3-MEDIUM"),  # s1 late, s2 on time → s1 counts
        (101, 1, "F", 1.0, od, "3-MEDIUM"),  # s1 AND s2 late → nobody
        (102, 1, "F", 1.0, od, "3-MEDIUM"),  # s3 late, sole supplier → nobody
        (103, 1, "O", 1.0, od, "3-MEDIUM"),  # s1 late but order not finished
    ]
    li = [
        (100, 1, 1, 1, 1.0, 1.0, 0.0, 0.0, "N", "O", late),
        (100, 1, 2, 2, 1.0, 1.0, 0.0, 0.0, "N", "O", on_time),
        (101, 1, 1, 1, 1.0, 1.0, 0.0, 0.0, "N", "O", late),
        (101, 1, 2, 2, 1.0, 1.0, 0.0, 0.0, "N", "O", late),
        (102, 1, 3, 1, 1.0, 1.0, 0.0, 0.0, "N", "O", late),
        (103, 1, 1, 1, 1.0, 1.0, 0.0, 0.0, "N", "O", late),
        (103, 1, 2, 2, 1.0, 1.0, 0.0, 0.0, "N", "O", on_time),
    ]
    for name, rows in [
        ("supplier", sups), ("nation", nations),
        ("orders", orders), ("lineitem", li),
    ]:
        spark.createDataFrame(rows, SCHEMAS[name]).write.parquet(
            str(tmp_path / f"{name}.parquet")
        )
    out = [
        (r.s_name, r.n_name, r.numwait)
        for r in qs["q154_sql_lone_late_supplier"](spark, str(tmp_path)).collect()
    ]
    assert out == [("s1", "N0", 1)]


def test_q155_above_average_flag_is_exact_on_boundary(spark, tmp_path, qs):
    """bal·n > sum decides membership in exact cents: a balance exactly
    EQUAL to the positive average is excluded (strict >), and negative
    balances never enter the average. Dormancy = no order on/after
    1999-01-01."""
    from datetime import datetime

    from airflow_spotify_etl_spark.sources.files import SCHEMAS

    # positive balances: 10.00, 20.00, 30.00 → avg 20.00 exactly
    custs = [
        (1, "c1", 0, 10.00, "A"),
        (2, "c2", 0, 20.00, "A"),   # == avg → excluded even though dormant
        (3, "c3", 0, 30.00, "A"),   # > avg, dormant → counted
        (4, "c4", 0, -5.00, "A"),   # negative: not in avg, never counted
        (5, "c5", 0, 30.00, "B"),   # > avg but has a recent order → excluded
    ]
    orders = [
        (10, 5, "O", 1.0, datetime(1999, 6, 1), "3-MEDIUM"),
        (11, 3, "O", 1.0, datetime(1998, 6, 1), "3-MEDIUM"),  # old → still dormant
    ]
    spark.createDataFrame(custs, SCHEMAS["customer"]).write.parquet(
        str(tmp_path / "customer.parquet")
    )
    spark.createDataFrame(orders, SCHEMAS["orders"]).write.parquet(
        str(tmp_path / "orders.parquet")
    )
    out = [
        (r.c_mktsegment, r.numcust, r.totacctbal)
        for r in qs["q155_sql_dormant_high_balance"](spark, str(tmp_path)).collect()
    ]
    assert out == [("A", 1, 30.0)]


def test_q162_mad_flag_is_exact_on_boundary(spark, tmp_path, qs):
    """|x − med| > 3·1.4826·MAD in pure integers: with median 10.00 and
    MAD 1.00, the cut sits at dev > 4.4478 — a deviation of exactly
    4.4478 (x = 14.4478 is not representable in cents; use 4.44 and
    4.45 around 4.4478·1.00) must split no/yes."""
    from datetime import datetime

    from airflow_spotify_etl_spark.sources.files import SCHEMAS

    t = datetime(2024, 1, 1)
    vals = [9.0, 10.0, 11.0, 14.44, 14.45]
    rows = [
        (i, t, 1, "t", v, "{}") for i, v in enumerate(vals)
    ]
    spark.createDataFrame(rows, SCHEMAS["events"]).write.parquet(
        str(tmp_path / "events.parquet")
    )
    out = qs["q162_mad_outliers"](spark, str(tmp_path)).collect()
    r = out[0]
    # median 11.00? sorted [9, 10, 11, 14.44, 14.45] → median 11.00;
    # deviations [2, 1, 0, 3.44, 3.45] → MAD = 2.00.
    assert (r.event_type, r.n) == ("t", 5)
    assert r.median_value == 11.0 and r.mad_value == 2.0
    # cut = 4.4478*2.00 = 8.8956 → no outliers among deviations ≤ 3.45
    assert r.n_outliers == 0


def test_q162_known_outlier_counted(spark, tmp_path, qs):
    from datetime import datetime

    from airflow_spotify_etl_spark.sources.files import SCHEMAS

    t = datetime(2024, 1, 1)
    # median 10.00, MAD 0.01 → cut 0.044478; 10.05 deviates 0.05 → outlier
    vals = [9.99, 10.0, 10.01, 10.0, 10.05]
    rows = [(i, t, 1, "t", v, "{}") for i, v in enumerate(vals)]
    spark.createDataFrame(rows, SCHEMAS["events"]).write.parquet(
        str(tmp_path / "events.parquet")
    )
    r = qs["q162_mad_outliers"](spark, str(tmp_path)).collect()[0]
    assert r.median_value == 10.0 and r.mad_value == 0.01
    assert r.n_outliers == 1


def test_q163_benford_digit_from_exact_cents(spark, tmp_path, qs):
    """Digit comes from the cents-integer string: 0.05 → '5', 12.34 →
    '1', 0.10 → '1' (cents=10) — no log10 anywhere."""
    from datetime import datetime

    from airflow_spotify_etl_spark.sources.files import SCHEMAS

    t = datetime(2024, 1, 1)
    vals = [0.05, 12.34, 0.10, 9.99, 100.00]
    rows = [(i, t, 1, "t", v, "{}") for i, v in enumerate(vals)]
    spark.createDataFrame(rows, SCHEMAS["events"]).write.parquet(
        str(tmp_path / "events.parquet")
    )
    out = {r.digit: r.n for r in qs["q163_benford_audit"](spark, str(tmp_path)).collect()}
    assert out == {5: 1, 1: 3, 9: 1}  # 12.34→1, 0.10→1, 100.00→1


def test_q164_compaction_flags(spark, tmp_path, qs):
    from airflow_spotify_etl_spark.sources.files import SCHEMAS

    rows = [
        (1, "x" * 1000, "en", "small", 1000),   # tiny → needs_compaction
        (2, "", "en", "empty", 0),              # zero bytes → neither flag
    ]
    spark.createDataFrame(rows, SCHEMAS["documents"]).write.parquet(
        str(tmp_path / "documents.parquet")
    )
    out = {r.source: r for r in qs["q164_partition_layout_audit"](spark, str(tmp_path)).collect()}
    assert out["small"].needs_compaction and not out["small"].needs_split
    assert out["small"].target_files == 1 and out["small"].avg_doc_bytes == 1000.0
    assert not out["empty"].needs_compaction and out["empty"].target_files == 0


def test_q165_patterns_respect_event_order(spark, tmp_path, qs):
    """Order matters: p-before-s is NOT a completed funnel; an error
    AFTER the purchase is not a recovery."""
    from datetime import datetime

    from airflow_spotify_etl_spark.sources.files import SCHEMAS

    def ev(i, t_min, uid, typ):
        return (i, datetime(2024, 1, 1, 0, t_min), uid, typ, 1.0, "{}")

    rows = [
        # user 1: s→v→c→p in order → funnel; no error → no recovery
        ev(1, 1, 1, "signup"), ev(2, 2, 1, "view"),
        ev(3, 3, 1, "click"), ev(4, 4, 1, "purchase"),
        # user 2: p first, then s,v,c → NOT a funnel; error after p → no recovery
        ev(5, 1, 2, "purchase"), ev(6, 2, 2, "signup"),
        ev(7, 3, 2, "view"), ev(8, 4, 2, "click"), ev(9, 5, 2, "error"),
        # user 3: e then p → recovery; never signs up → no funnel
        ev(10, 1, 3, "error"), ev(11, 2, 3, "purchase"),
        # user 4: views only → bounce
        ev(12, 1, 4, "view"),
    ]
    spark.createDataFrame(rows, SCHEMAS["events"]).write.parquet(
        str(tmp_path / "events.parquet")
    )
    out = {
        r.pattern: (r.n_users, r.n_matched)
        for r in qs["q165_sequence_patterns"](spark, str(tmp_path)).collect()
    }
    assert out == {
        "funnel_complete": (4, 1),
        "recovery_purchase": (4, 1),
        "bounce_no_purchase": (4, 1),
    }


def test_q166_weighted_median_vs_plain(spark, tmp_path, qs):
    """One heavy cheap line must drag the WEIGHTED median below the
    plain median: prices [1, 100, 101] with quantities [10, 1, 1] put
    half the 12-unit mass at price 1."""
    from datetime import datetime

    from airflow_spotify_etl_spark.sources.files import SCHEMAS

    t = datetime(2024, 1, 1)
    li = [
        (1, 1, 1, 1, 10.0, 1.00, 0.0, 0.0, "A", "O", t),
        (1, 1, 1, 2, 1.0, 100.00, 0.0, 0.0, "A", "O", t),
        (1, 1, 1, 3, 1.0, 101.00, 0.0, 0.0, "A", "O", t),
        # group B: symmetric weights → median at the middle price
        (2, 1, 1, 1, 1.0, 5.00, 0.0, 0.0, "B", "O", t),
        (2, 1, 1, 2, 1.0, 7.00, 0.0, 0.0, "B", "O", t),
        (2, 1, 1, 3, 1.0, 9.00, 0.0, 0.0, "B", "O", t),
    ]
    spark.createDataFrame(li, SCHEMAS["lineitem"]).write.parquet(
        str(tmp_path / "lineitem.parquet")
    )
    out = {
        r.l_returnflag: (r.weighted_median_price, r.total_quantity)
        for r in qs["q166_weighted_median"](spark, str(tmp_path)).collect()
    }
    assert out["A"] == (1.00, 12)   # cumw at price 1 is 10 ≥ 12/2
    assert out["B"] == (7.00, 3)


def test_q173_novelty_conservation(spark, sf_dir, qs):
    """Σ n_new == final cum_vocab == |distinct items|; day 1's novelty
    share is 1.0 by definition (everything is first-seen)."""
    from pyspark.sql import functions as F

    from airflow_spotify_etl_spark.sources.files import load_table

    rows = qs["q173_novelty_decay"](spark, sf_dir).collect()
    assert rows[0].novelty_share <= 1.0 and rows[0].n_new == rows[0].n_refs \
        or rows[0].n_new <= rows[0].n_refs
    assert sum(r.n_new for r in rows) == rows[-1].cum_vocab
    ev = load_table(spark, sf_dir, "events")
    n_items = (
        ev.select(F.get_json_object("props", "$.k").cast("bigint").alias("i"))
        .filter(F.col("i").isNotNull())
        .distinct()
        .count()
    )
    assert rows[-1].cum_vocab == n_items
    # cumulative vocab is non-decreasing
    cv = [r.cum_vocab for r in rows]
    assert cv == sorted(cv)


def test_q177_twap_ignores_burst_frequency(spark, tmp_path, qs):
    """LOCF weighting: value 10 held for 9 minutes then 20 for 1 minute
    → TWAP 11.0 regardless of how many duplicate readings land inside
    the 10-held span."""
    from datetime import datetime

    from airflow_spotify_etl_spark.sources.files import SCHEMAS

    def ev(i, minute, v):
        return (i, datetime(2024, 1, 1, 0, minute), 1, "t", v, "{}")

    # burst of 10s at t=0..3 (still worth 10 until t=9), then 20 at 9, end at 10
    rows = [ev(1, 0, 10.0), ev(2, 1, 10.0), ev(3, 2, 10.0), ev(4, 3, 10.0),
            ev(5, 9, 20.0), ev(6, 10, 0.0)]
    spark.createDataFrame(rows, SCHEMAS["events"]).write.parquet(
        str(tmp_path / "events.parquet")
    )
    r = qs["q177_time_weighted_avg"](spark, str(tmp_path)).collect()[0]
    # segments: 10*(1+1+1+6) + 20*1 over 10 minutes = (90+20)/10 = 11.0
    assert (r.user_id, r.n_segments, r.twap_value) == (1, 5, 11.0)


def test_q178_ohlc_deterministic_open_close(spark, tmp_path, qs):
    """Open is the first value by (ts, event_id), close the last — two
    events in the SAME microsecond must resolve by event_id in both
    engines (the packed key's contract)."""
    from datetime import datetime

    from airflow_spotify_etl_spark.sources.files import SCHEMAS

    t = datetime(2024, 1, 1, 12, 0, 0)
    rows = [
        (2, t, 1, "t", 5.0, "{}"),    # same instant, higher id
        (1, t, 1, "t", 3.0, "{}"),    # same instant, lower id → open
        (3, datetime(2024, 1, 1, 13), 1, "t", 9.0, "{}"),
        (4, datetime(2024, 1, 1, 14), 1, "t", 1.0, "{}"),  # close
    ]
    spark.createDataFrame(rows, SCHEMAS["events"]).write.parquet(
        str(tmp_path / "events.parquet")
    )
    r = qs["q178_ohlc_candles"](spark, str(tmp_path)).collect()[0]
    assert (r.n, r.open, r.high, r.low, r.close) == (4, 3.0, 9.0, 1.0, 1.0)


def test_q180_rfm_scores_and_tie_safe_rounding(spark, sf_dir, qs):
    """Scores live in 1..5, user counts conserve, and avg_monetary is
    the integer-half-up cent mean (no float .xx5 tie can shift it)."""
    from pyspark.sql import functions as F

    from airflow_spotify_etl_spark.sources.files import load_table

    rows = qs["q180_rfm_segments"](spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert 1 <= r.r_score <= 5 and 1 <= r.f_score <= 5 and 1 <= r.m_score <= 5
        # exact 2-decimal value
        assert abs(r.avg_monetary * 100 - round(r.avg_monetary * 100)) < 1e-9
    ev = load_table(spark, sf_dir, "events")
    n_buyers = (
        ev.filter(F.col("event_type") == "purchase")
        .select("user_id")
        .distinct()
        .count()
    )
    assert sum(r.n_users for r in rows) == n_buyers


def test_q182_chi_square_detects_planted_dependence(spark, tmp_path, qs):
    """Independent planted cells → χ² ≈ 0; a fully dependent layout
    (each type on its own day) → χ² near n·(k−1). Quantization floors
    by < 1 milli per cell."""
    from datetime import datetime, timedelta

    from airflow_spotify_etl_spark.sources.files import SCHEMAS

    base = datetime(2024, 1, 1)  # a Monday
    rows = []
    i = 0
    # independent: every type equally on Mon and Tue
    for t in ("click", "view"):
        for d in (0, 1):
            for _ in range(10):
                rows.append((i, base + timedelta(days=d), 1, t, 1.0, "{}"))
                i += 1
    spark.createDataFrame(rows, SCHEMAS["events"]).write.parquet(
        str(tmp_path / "events.parquet")
    )
    r = qs["q182_chi_square"](spark, str(tmp_path)).collect()[0]
    assert (r.n, r.n_cells, r.dof, r.chi2_milli) == (40, 4, 1, 0)

    # dependent: clicks only Monday, views only Tuesday
    import shutil

    shutil.rmtree(str(tmp_path / "events.parquet"))
    rows = []
    i = 0
    for _ in range(10):
        rows.append((i, base, 1, "click", 1.0, "{}")); i += 1
        rows.append((i, base + timedelta(days=1), 1, "view", 1.0, "{}")); i += 1
    spark.createDataFrame(rows, SCHEMAS["events"]).write.parquet(
        str(tmp_path / "events.parquet")
    )
    r = qs["q182_chi_square"](spark, str(tmp_path)).collect()[0]
    # perfect dependence in a 2x2: chi2 == n == 20 (quantization-floored)
    assert r.dof == 1 and 19.9 <= r.chi2 <= 20.0


def test_q183_copy_rings_chain_and_isolate(spark, tmp_path, qs):
    """Cross-source dup evidence chains a~b and b~c into ONE ring (the
    whole point of the closure — pairwise keep-one would miss c), d~e
    forms a second ring, and a source with no cross-source dup never
    appears. Ring label = min member source name."""
    from airflow_spotify_etl_spark.sources.files import SCHEMAS

    t1 = "alpha beta gamma delta epsilon"
    t2 = "zeta eta theta iota kappa"
    t3 = "lambda mu nu xi omicron"
    t4 = "rho sigma tau upsilon phi"
    rows = [
        (1, t1, "en", "src_a", len(t1)),
        (2, t1, "en", "src_b", len(t1)),   # a ~ b
        (3, t2, "en", "src_b", len(t2)),
        (4, t2, "en", "src_c", len(t2)),   # b ~ c  -> ring {a,b,c}
        (5, t3, "en", "src_d", len(t3)),
        (6, t3, "en", "src_e", len(t3)),   # d ~ e  -> ring {d,e}
        (7, t4, "en", "src_f", len(t4)),   # isolated: absent
    ]
    spark.createDataFrame(rows, SCHEMAS["documents"]).write.parquet(
        str(tmp_path / "documents.parquet")
    )
    out = {r.ring: r for r in qs["q183_source_copy_rings"](spark, str(tmp_path)).collect()}
    assert set(out) == {"src_a", "src_d"}
    assert out["src_a"].n_sources == 3
    assert out["src_a"].members == "src_a,src_b,src_c"
    assert out["src_d"].n_sources == 2
    assert out["src_d"].members == "src_d,src_e"


def test_q184_spearman_planted_correlations(spark, tmp_path, qs):
    """MONO: spend rank follows balance rank exactly → rho = +1.
    ANTI: reversed → rho = −1. FLAT: every spend 0 (one giant tie) →
    den=0 → rho NULL, sign from num (0). Tie-averaged doubled ranks keep
    everything integral."""
    from datetime import datetime

    from airflow_spotify_etl_spark.sources.files import SCHEMAS

    nations = [(0, "MONO", 0), (1, "ANTI", 0), (2, "FLAT", 0)]
    custs, orders, oid = [], [], 0
    for i in range(6):
        custs.append((i, f"c{i}", 0, 100.0 + i, "B"))        # MONO
        custs.append((10 + i, f"c{10+i}", 1, 100.0 + i, "B"))  # ANTI
        custs.append((20 + i, f"c{20+i}", 2, 100.0 + i, "B"))  # FLAT: no orders
        orders.append((oid, i, "O", 10.0 * (i + 1), datetime(2024, 1, 1), "1-URGENT")); oid += 1
        orders.append((oid, 10 + i, "O", 10.0 * (6 - i), datetime(2024, 1, 1), "1-URGENT")); oid += 1
    spark.createDataFrame(nations, SCHEMAS["nation"]).write.parquet(str(tmp_path / "nation.parquet"))
    spark.createDataFrame(custs, SCHEMAS["customer"]).write.parquet(str(tmp_path / "customer.parquet"))
    spark.createDataFrame(orders, SCHEMAS["orders"]).write.parquet(str(tmp_path / "orders.parquet"))
    out = {r.nation: r for r in qs["q184_spearman_corr"](spark, str(tmp_path)).collect()}
    assert (out["MONO"].rho2_micro, out["MONO"].rho_sign, out["MONO"].rho) == (1000000, 1, 1.0)
    assert (out["ANTI"].rho2_micro, out["ANTI"].rho_sign, out["ANTI"].rho) == (1000000, -1, -1.0)
    assert out["FLAT"].rho2_micro is None and out["FLAT"].rho is None


def test_q185_kappa_known_value_and_degenerate(spark, tmp_path, qs):
    """Planted 2x2 (c11=20,c10=5,c01=10,c00=15): po=.7, pe=.5 → κ=0.4
    exactly (kappa_micro=400000). Degenerate corpus (every doc in one
    cell → pe=n²) → NULL kappa."""
    from airflow_spotify_etl_spark.sources.files import SCHEMAS

    long_txt = " ".join(["w"] * 50)   # b=1
    short_txt = "w x y"               # b=0
    rows, i = [], 0
    def add(a, b, cnt):
        nonlocal i
        for _ in range(cnt):
            t = long_txt if b else short_txt
            nc = 300 if a else 10
            rows.append((i, t, "en", "s", nc)); i += 1
    add(1, 1, 20); add(1, 0, 5); add(0, 1, 10); add(0, 0, 15)
    spark.createDataFrame(rows, SCHEMAS["documents"]).write.parquet(
        str(tmp_path / "documents.parquet"))
    r = qs["q185_cohens_kappa"](spark, str(tmp_path)).collect()[0]
    assert (r.n, r.c11, r.c10, r.c01, r.c00) == (50, 20, 5, 10, 15)
    assert r.kappa_micro == 400000 and r.kappa == 0.4

    import shutil
    shutil.rmtree(str(tmp_path / "documents.parquet"))
    rows, i = [], 0
    add(1, 1, 7)   # all agree-positive: pe = n² → undefined
    spark.createDataFrame(rows, SCHEMAS["documents"]).write.parquet(
        str(tmp_path / "documents.parquet"))
    r = qs["q185_cohens_kappa"](spark, str(tmp_path)).collect()[0]
    assert r.kappa_micro is None and r.kappa is None


def test_q186_ks_planted_distances(spark, tmp_path, qs):
    """Disjoint supports (all R prices below all non-R) → D = 1.
    Identical distributions → D = 0. A year with one side empty → NULL."""
    from datetime import datetime

    from airflow_spotify_etl_spark.sources.files import SCHEMAS

    rows, k = [], 0
    def li(year, price, flag):
        nonlocal k
        rows.append((k, 1, 1, 1, 1.0, price, 0.0, 0.0, flag, "O",
                     datetime(year, 6, 1))); k += 1
    for i in range(5):
        li(2020, 10.0 + i, "R"); li(2020, 100.0 + i, "N")   # disjoint
        li(2021, 50.0 + i, "R"); li(2021, 50.0 + i, "N")    # identical
        li(2022, 10.0 + i, "N")                              # one-sided
    spark.createDataFrame(rows, SCHEMAS["lineitem"]).write.parquet(
        str(tmp_path / "lineitem.parquet"))
    out = {r.ship_year: r for r in qs["q186_ks_test"](spark, str(tmp_path)).collect()}
    assert (out[2020].ks_micro, out[2020].ks) == (1000000, 1.0)
    assert (out[2021].ks_micro, out[2021].ks) == (0, 0.0)
    assert out[2022].ks_micro is None and out[2022].n1 == 0


def test_q187_mann_whitney_dominance_and_ties(spark, tmp_path, qs):
    """DOM: every en doc longer than every other → 2U = 2·n1n2, rb=+1.
    SUB: reversed → rb=−1. TIE: all identical lengths → 2U = n1n2,
    rb=0 (the tie-half credit). ONE: no non-en docs → NULL."""
    from airflow_spotify_etl_spark.sources.files import SCHEMAS

    rows, i = [], 0
    def doc(src, lang, nc):
        nonlocal i
        rows.append((i, "t", lang, src, nc)); i += 1
    for k in range(3):
        doc("DOM", "en", 100 + k); doc("DOM", "fr", 10 + k)
        doc("SUB", "en", 10 + k); doc("SUB", "fr", 100 + k)
        doc("TIE", "en", 50); doc("TIE", "fr", 50)
        doc("ONE", "en", 10 + k)
    spark.createDataFrame(rows, SCHEMAS["documents"]).write.parquet(
        str(tmp_path / "documents.parquet"))
    out = {r.source: r for r in qs["q187_mann_whitney"](spark, str(tmp_path)).collect()}
    assert (out["DOM"].u2, out["DOM"].rb_micro, out["DOM"].rank_biserial) == (18, 1000000, 1.0)
    assert (out["SUB"].u2, out["SUB"].rank_biserial) == (0, -1.0)
    assert (out["TIE"].u2, out["TIE"].rb_micro) == (9, 0)
    assert out["ONE"].rb_micro is None


def test_q188_acf_weekly_cycle_and_zero_fill(spark, tmp_path, qs):
    """A strict 7-day cycle (counts 1..7 repeating over 35 days) →
    lag-7 acf = +1 exactly; lag-1 is negative-or-small but defined.
    Zero-fill matters: day 10 absent from events must enter as 0 —
    n_pairs counts calendar pairs, not observed pairs."""
    from datetime import datetime, timedelta

    from airflow_spotify_etl_spark.sources.files import SCHEMAS

    base = datetime(2024, 1, 1)
    rows, i = [], 0
    for day in range(35):
        if day == 10:
            continue  # absent day → zero-filled
        for _ in range((day % 7) + 1):
            rows.append((i, base + timedelta(days=day), 1, "click", 1.0, "{}")); i += 1
    spark.createDataFrame(rows, SCHEMAS["events"]).write.parquet(
        str(tmp_path / "events.parquet"))
    out = {r.lag: r for r in qs["q188_autocorrelation"](spark, str(tmp_path)).collect()}
    assert out[7].n_pairs == 28
    # day 10 (count 4 in the cycle) was zeroed, so lag-7 isn't a perfect
    # +1 — but the cycle still dominates: strongest positive lag is 7.
    assert out[7].acf_sign == 1
    assert out[7].acf == max(r.acf for r in out.values())
    assert out[1].n_pairs == 34


def test_q189_gini_known_values(spark, tmp_path, qs):
    """EVEN: equal spends → G = 0. WHALE: one customer holds everything
    → G = (n−1)/n = 0.75 for n=4. ZERO: nobody spent → NULL. Unspent
    customers count as zeros (WHALE's other three have no orders)."""
    from datetime import datetime

    from airflow_spotify_etl_spark.sources.files import SCHEMAS

    nations = [(0, "EVEN", 0), (1, "WHALE", 0), (2, "ZERO", 0)]
    custs, orders, oid = [], [], 0
    for i in range(4):
        custs.append((i, f"c{i}", 0, 0.0, "B"))
        custs.append((10 + i, f"c{10+i}", 1, 0.0, "B"))
        custs.append((20 + i, f"c{20+i}", 2, 0.0, "B"))
        orders.append((oid, i, "O", 25.0, datetime(2024, 1, 1), "1")); oid += 1
    orders.append((oid, 10, "O", 100.0, datetime(2024, 1, 1), "1")); oid += 1
    spark.createDataFrame(nations, SCHEMAS["nation"]).write.parquet(str(tmp_path / "nation.parquet"))
    spark.createDataFrame(custs, SCHEMAS["customer"]).write.parquet(str(tmp_path / "customer.parquet"))
    spark.createDataFrame(orders, SCHEMAS["orders"]).write.parquet(str(tmp_path / "orders.parquet"))
    out = {r.nation: r for r in qs["q189_gini_concentration"](spark, str(tmp_path)).collect()}
    assert (out["EVEN"].gini_micro, out["EVEN"].gini) == (0, 0.0)
    assert (out["WHALE"].gini_micro, out["WHALE"].gini) == (750000, 0.75)
    assert out["ZERO"].gini_micro is None and out["ZERO"].total_spend_cents == 0


def test_q190_cusum_matches_textbook_recursion(spark, tmp_path, qs):
    """The window closed-form must equal the literal recursion
    S_t = max(0, S_{t-1} + (x_t − mean))·D on a planted step series
    (10/day for 10 days, then 30/day for 5 days) — alarm fires inside
    the shifted regime, never before the shift."""
    from datetime import datetime, timedelta

    from airflow_spotify_etl_spark.sources.files import SCHEMAS

    base = datetime(2024, 1, 1)
    counts = [10] * 10 + [30] * 5
    rows, i = [], 0
    for day, c in enumerate(counts):
        for _ in range(c):
            rows.append((i, base + timedelta(days=day), 1, "click", 1.0, "{}")); i += 1
    spark.createDataFrame(rows, SCHEMAS["events"]).write.parquet(
        str(tmp_path / "events.parquet"))
    out = qs["q190_cusum_changepoints"](spark, str(tmp_path)).collect()
    D, T = len(counts), sum(counts)
    s, expect = 0, []
    for c in counts:
        s = max(0, s + (D * c - T))  # scaled-by-D recursion
        expect.append(s)
    assert [r.excess_scaled for r in out] == expect
    alarms = [r.alarm for r in out]
    assert not any(alarms[:10]) and any(alarms[10:])


def test_q191_association_rule_arithmetic(spark, tmp_path, qs):
    """Planted baskets with a known (A,B) rule: 3 of 4 capped baskets
    contain both A and B, A appears in 4, B in 3 → support=750000µ,
    conf(A→B)=750000µ, conf(B→A)=1000000µ, lift = 4·3·1000/(4·3) = 1000.
    An oversized basket (>100 items) must NOT contribute."""
    from datetime import datetime

    from airflow_spotify_etl_spark.sources.files import SCHEMAS

    rows, k = [], 0
    def li(order, part):
        nonlocal k
        rows.append((order, part, 1, k, 1.0, 1.0, 0.0, 0.0, "N", "O",
                     datetime(2024, 1, 1))); k += 1
    for o, parts in enumerate([[1, 2, 3], [1, 2, 4], [1, 2, 5], [1, 6, 7]]):
        for p in parts:
            li(o, p)
    for p in range(1000, 1101):  # 101-item basket: capped away
        li(99, p)
    spark.createDataFrame(rows, SCHEMAS["lineitem"]).write.parquet(
        str(tmp_path / "lineitem.parquet"))
    out = qs["q191_association_rules"](spark, str(tmp_path)).collect()
    rule = {(r.item_a, r.item_b): r for r in out}[(1, 2)]
    assert (rule.n_ab, rule.n_a, rule.n_b) == (3, 4, 3)
    assert (rule.support_micro, rule.conf_ab_micro, rule.conf_ba_micro) == (750000, 750000, 1000000)
    assert rule.lift_milli == 1000  # 4·3·1000/(4·3)
    assert not any(r.item_a >= 1000 for r in out)


def test_q192_psi_drift_detects_shifted_source(spark, tmp_path, qs):
    """A source matching the corpus mix scores ~0 PSI; a source
    concentrated in one extreme bin crosses the 0.1 'shifting'
    threshold. Exact expected value replayed in Python with the same
    smoothing and quantization."""
    import math

    from airflow_spotify_etl_spark.sources.files import SCHEMAS

    rows, i = [], 0
    # corpus: lengths spread 0..999 across two balanced sources,
    # plus a drifted source piled at the top end
    for k in range(100):
        rows.append((i, "t", "en", "bal_a", k * 10)); i += 1
        rows.append((i, "t", "en", "bal_b", k * 10)); i += 1
    for k in range(10):
        rows.append((i, "t", "en", "top_heavy", 990)); i += 1
    spark.createDataFrame(rows, SCHEMAS["documents"]).write.parquet(
        str(tmp_path / "documents.parquet"))
    out = {r.source: r for r in qs["q192_psi_drift"](spark, str(tmp_path)).collect()}
    assert not out["bal_a"].shifting and not out["bal_b"].shifting
    assert out["top_heavy"].shifting

    # replay top_heavy exactly: global bins over [0, 990]
    g = [20] * 9 + [30]        # 10 per bin per bal source ×2, +10 at top
    a = [0] * 9 + [10]
    ns, nt = 10, 210
    psi = sum(
        round(((ab + 1) / (ns + 10) - (gb + 1) / (nt + 10))
              * math.log(((ab + 1) / (ns + 10)) / ((gb + 1) / (nt + 10))) * 1e6)
        for ab, gb in zip(a, g))
    assert out["top_heavy"].psi_micro == psi


def test_q193_q5_plan_shape(spark, sf_dir, qs):
    """Q5's plan bar: region filter + date range pushed into their
    scans, dims broadcast, no cartesian anywhere despite the extra
    c_nationkey = s_nationkey cross-relation equality."""
    plan = _final_plan(qs["q193_sql_local_supplier_volume"](spark, sf_dir))
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan
    assert "EqualTo(r_name,ASIA)" in plan
    assert "IsNotNull(o_orderdate)" in plan
    assert "BroadcastHashJoin" in plan


def test_q194_q19_or_predicates_push_into_both_scans(spark, sf_dir, qs):
    """The Q19 plan bar: the disjunction is NOT expanded into unioned
    scans; each relation's OR-branch lands in ITS parquet scan
    (quantity bands on lineitem, brand/size bands on part) plus the
    extracted common conjunct p_size >= 1."""
    plan = _final_plan(qs["q194_sql_disjunctive_revenue"](spark, sf_dir))
    assert "Union" not in plan
    assert "Or(Or(And(GreaterThanOrEqual(l_quantity,1.0)" in plan
    assert "GreaterThanOrEqual(p_size,1)" in plan
    assert "Or(Or(And(EqualTo(p_brand" in plan


def test_q195_q11_membership_is_exact(spark, tmp_path, qs):
    """Planted part values 10/20/40 with mean ~23.33: only the 40-part
    clears 1.5×mean (35); the 20-part sits below 35 and must NOT leak
    in through any float mean. Boundary case: value exactly == 1.5×mean
    is excluded (strict >)."""
    from datetime import datetime

    from airflow_spotify_etl_spark.sources.files import SCHEMAS

    parts = [(1, "a", "B", "T", 1, 1.0), (2, "b", "B", "T", 1, 1.0),
             (3, "c", "B", "T", 1, 1.0)]
    li, k = [], 0
    for p, price in ((1, 10.0), (2, 20.0), (3, 40.0)):
        li.append((k, p, 1, k, 1.0, price, 0.0, 0.0, "N", "O",
                   datetime(2024, 1, 1))); k += 1
    spark.createDataFrame(parts, SCHEMAS["part"]).write.parquet(str(tmp_path / "part.parquet"))
    spark.createDataFrame(li, SCHEMAS["lineitem"]).write.parquet(str(tmp_path / "lineitem.parquet"))
    out = qs["q195_sql_important_parts"](spark, str(tmp_path)).collect()
    assert [r.p_partkey for r in out] == [3]

    # boundary: values 10, 30, 35 → mean 25, 1.5×mean = 37.5;
    # replace 35 with exactly 37.5·? use 20/20/20: all equal → none pass
    import shutil
    shutil.rmtree(str(tmp_path / "lineitem.parquet"))
    li, k = [], 0
    for p in (1, 2, 3):
        li.append((k, p, 1, k, 1.0, 20.0, 0.0, 0.0, "N", "O",
                   datetime(2024, 1, 1))); k += 1
    spark.createDataFrame(li, SCHEMAS["lineitem"]).write.parquet(str(tmp_path / "lineitem.parquet"))
    assert qs["q195_sql_important_parts"](spark, str(tmp_path)).count() == 0


def test_q196_promo_share_exact_quotient(spark, tmp_path, qs):
    """One month, promo 25.00 of 100.00 total → promo_micro = 250000
    exactly. Fractional cents survive the ·10⁴ shift: promo 0.01 of
    0.03 → 333333 (floor), not a rounded cast."""
    from datetime import datetime

    from airflow_spotify_etl_spark.sources.files import SCHEMAS

    parts = [(1, "a", "B", "PROMO", 1, 1.0), (2, "b", "B", "LARGE", 1, 1.0)]
    li = [
        (0, 1, 1, 0, 1.0, 25.0, 0.0, 0.0, "N", "O", datetime(2024, 1, 5)),
        (1, 2, 1, 1, 1.0, 75.0, 0.0, 0.0, "N", "O", datetime(2024, 1, 9)),
        (2, 1, 1, 2, 1.0, 0.01, 0.0, 0.0, "N", "O", datetime(2024, 2, 5)),
        (3, 2, 1, 3, 1.0, 0.02, 0.0, 0.0, "N", "O", datetime(2024, 2, 9)),
    ]
    spark.createDataFrame(parts, SCHEMAS["part"]).write.parquet(str(tmp_path / "part.parquet"))
    spark.createDataFrame(li, SCHEMAS["lineitem"]).write.parquet(str(tmp_path / "lineitem.parquet"))
    out = {r.ship_month: r for r in qs["q196_sql_promo_share"](spark, str(tmp_path)).collect()}
    assert out["2024-01"].promo_micro == 250000
    assert out["2024-02"].promo_micro == 333333


def test_q197_q9_like_filter_pushed_to_part_scan(spark, sf_dir, qs):
    """Q9's plan bar: the p_name LIKE filter reaches the part scan
    (StringContains pushed), no nested loop, and the fact side never
    scans p_name (column pruned to the join key + filter)."""
    plan = _final_plan(qs["q197_sql_nation_profit"](spark, sf_dir))
    assert "StringContains(p_name,a)" in plan
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan
    assert "BroadcastHashJoin" in plan


def test_q198_entropy_uniform_skewed_single(spark, tmp_path, qs):
    """Uniform 4-source mix → H = ln 4 (within the per-term micro
    quantum) and evenness ≈ 1e6. A single-source language → entropy 0,
    evenness NULL. Dominated mix sits strictly between."""
    import math

    from airflow_spotify_etl_spark.sources.files import SCHEMAS

    rows, i = [], 0
    for src in range(4):
        for _ in range(10):
            rows.append((i, "t", "uni", f"s{src}", 10)); i += 1
    for _ in range(5):
        rows.append((i, "t", "solo", "only", 10)); i += 1
    for src, cnt in (("big", 97), ("small", 3)):
        for _ in range(cnt):
            rows.append((i, "t", "skew", src, 10)); i += 1
    spark.createDataFrame(rows, SCHEMAS["documents"]).write.parquet(
        str(tmp_path / "documents.parquet"))
    out = {r.lang: r for r in qs["q198_source_entropy"](spark, str(tmp_path)).collect()}
    assert out["uni"].entropy_micro == 4 * round(0.25 * math.log(4) * 1e6)
    assert abs(out["uni"].evenness_micro - 1000000) <= 2
    assert out["solo"].entropy_micro == 0 and out["solo"].evenness_micro is None
    assert 0 < out["skew"].entropy_micro < out["uni"].entropy_micro


def test_q199_hhi_known_values(spark, tmp_path, qs):
    """MONO: single supplier → HHI = 1e6, concentrated, eff = 1.0.
    DUO: 50/50 split → HHI = 500000, eff = 2.0. SPREAD: 5 equal
    suppliers → HHI = 200000, not concentrated, eff = 5.0."""
    from datetime import datetime

    from airflow_spotify_etl_spark.sources.files import SCHEMAS

    nations = [(0, "MONO", 0), (1, "DUO", 0), (2, "SPREAD", 0)]
    sups, li, k = [], [], 0
    def sup(sk, nk): sups.append((sk, f"s{sk}", nk, 0.0))
    def line(sk, price):
        nonlocal k
        li.append((k, 1, sk, k, 1.0, price, 0.0, 0.0, "N", "O",
                   datetime(2024, 1, 1))); k += 1
    sup(1, 0); line(1, 100.0)
    sup(10, 1); sup(11, 1); line(10, 50.0); line(11, 50.0)
    for j in range(5):
        sup(20 + j, 2); line(20 + j, 20.0)
    spark.createDataFrame(nations, SCHEMAS["nation"]).write.parquet(str(tmp_path / "nation.parquet"))
    spark.createDataFrame(sups, SCHEMAS["supplier"]).write.parquet(str(tmp_path / "supplier.parquet"))
    spark.createDataFrame(li, SCHEMAS["lineitem"]).write.parquet(str(tmp_path / "lineitem.parquet"))
    out = {r.nation: r for r in qs["q199_hhi_concentration"](spark, str(tmp_path)).collect()}
    assert (out["MONO"].hhi_micro, out["MONO"].concentrated, out["MONO"].effective_suppliers) == (1000000, True, 1.0)
    assert (out["DUO"].hhi_micro, out["DUO"].effective_suppliers) == (500000, 2.0)
    assert (out["SPREAD"].hhi_micro, out["SPREAD"].concentrated, out["SPREAD"].effective_suppliers) == (200000, False, 5.0)


def test_q200_theil_decomposition_identity(spark, tmp_path, qs):
    """BETWEEN-only fixture: every customer within a nation spends the
    same, nations differ (100 vs 300) → within ≈ 0, total ≈ between,
    and total matches the hand-computed Theil. The quantization gap
    stays ≤ 1 micro. All-equal fixture → everything 0."""
    import math
    from datetime import datetime

    from airflow_spotify_etl_spark.sources.files import SCHEMAS

    nations = [(0, "LOW", 0), (1, "HIGH", 0)]
    custs, orders, oid = [], [], 0
    for i in range(10):
        custs.append((i, f"c{i}", 0, 0.0, "B"))
        orders.append((oid, i, "O", 100.0, datetime(2024, 1, 1), "1")); oid += 1
        custs.append((100 + i, f"c{100+i}", 1, 0.0, "B"))
        orders.append((oid, 100 + i, "O", 300.0, datetime(2024, 1, 1), "1")); oid += 1
    spark.createDataFrame(nations, SCHEMAS["nation"]).write.parquet(str(tmp_path / "nation.parquet"))
    spark.createDataFrame(custs, SCHEMAS["customer"]).write.parquet(str(tmp_path / "customer.parquet"))
    spark.createDataFrame(orders, SCHEMAS["orders"]).write.parquet(str(tmp_path / "orders.parquet"))
    r = qs["q200_theil_decomposition"](spark, str(tmp_path)).collect()[0]
    # T = Σ (x/S)·ln(x·N/S): shares 0.25→ln(0.5), 0.75→ln(1.5)
    expect = 0.25 * math.log(0.5) + 0.75 * math.log(1.5)
    assert r.theil_within_micro == 0
    assert abs(r.theil_total_micro - round(expect * 1e6)) <= 1
    assert abs(r.theil_total_micro - r.theil_between_micro) <= 1
    assert r.gap_micro <= 1


def test_q201_kendall_tau_planted(spark, tmp_path, qs):
    """Perfect monotone spend-follows-balance → τ = 1 (all pairs
    concordant, no off-diagonal ties). Perfect reversal → τ = −1.
    Values spread so each customer lands in a distinct decile bucket."""
    from datetime import datetime

    from airflow_spotify_etl_spark.sources.files import SCHEMAS

    def build(path, reverse):
        custs, orders = [], []
        for i in range(10):
            custs.append((i, f"c{i}", 0, 100.0 * (i + 1), "B"))
            spend = 10.0 * ((10 - i) if reverse else (i + 1))
            orders.append((i, i, "O", spend, datetime(2024, 1, 1), "1"))
        spark.createDataFrame(custs, SCHEMAS["customer"]).write.mode("overwrite").parquet(str(path / "customer.parquet"))
        spark.createDataFrame(orders, SCHEMAS["orders"]).write.mode("overwrite").parquet(str(path / "orders.parquet"))

    build(tmp_path, reverse=False)
    r = qs["q201_kendall_tau"](spark, str(tmp_path)).collect()[0]
    assert (r.concordant, r.discordant) == (45, 0)
    assert (r.tau2_micro, r.tau_sign, r.tau) == (1000000, 1, 1.0)

    build(tmp_path, reverse=True)
    r = qs["q201_kendall_tau"](spark, str(tmp_path)).collect()[0]
    assert (r.concordant, r.discordant, r.tau) == (0, 45, -1.0)


def test_q202_zipf_recovers_planted_slope(spark, tmp_path, qs):
    """Plant token frequencies f(r) = round(1000·r^{-0.8}) for ranks
    1..50 → the fitted log-log slope lands within 0.02 of −0.8, and a
    flat (all-equal) frequency corpus fits slope 0."""
    from airflow_spotify_etl_spark.sources.files import SCHEMAS

    rows, i = [], 0
    words = []
    for r in range(1, 51):
        words.extend([f"w{r:03d}"] * round(1000 * r ** -0.8))
    # chunk into docs of 200 tokens
    for j in range(0, len(words), 200):
        t = " ".join(words[j:j + 200])
        rows.append((i, t, "en", "s", len(t))); i += 1
    spark.createDataFrame(rows, SCHEMAS["documents"]).write.parquet(
        str(tmp_path / "documents.parquet"))
    r = qs["q202_zipf_slope"](spark, str(tmp_path)).collect()[0]
    assert r.n_points == 50
    assert abs(r.slope + 0.8) < 0.02

    import shutil
    shutil.rmtree(str(tmp_path / "documents.parquet"))
    flat = " ".join(f"t{k}" for k in range(30))
    spark.createDataFrame([(0, flat, "en", "s", len(flat))],
                          SCHEMAS["documents"]).write.parquet(
        str(tmp_path / "documents.parquet"))
    r = qs["q202_zipf_slope"](spark, str(tmp_path)).collect()[0]
    assert r.slope_milli == 0


def test_q203_fano_constant_vs_bursty(spark, tmp_path, qs):
    """Constant 5/day over 10 days → variance 0 → fano 0, not
    overdispersed. All 50 events on ONE day of 10 → mean 5,
    var = (10·2500−2500)/100... → fano_milli = floor(45000/50·1000/10)
    = hand value 45000·1000/50 = ... pinned numerically below. The
    zero-filled days are what create the burst signal."""
    from datetime import datetime, timedelta

    from airflow_spotify_etl_spark.sources.files import SCHEMAS

    base = datetime(2024, 1, 1)
    rows, i = [], 0
    for day in range(10):
        for _ in range(5):
            rows.append((i, base + timedelta(days=day), 1, "steady", 1.0, "{}")); i += 1
    for _ in range(50):
        rows.append((i, base, 1, "burst", 1.0, "{}")); i += 1
    spark.createDataFrame(rows, SCHEMAS["events"]).write.parquet(
        str(tmp_path / "events.parquet"))
    out = {r.event_type: r for r in qs["q203_fano_burstiness"](spark, str(tmp_path)).collect()}
    assert (out["steady"].fano_milli, out["steady"].overdispersed) == (0, False)
    # burst: D=10, S=50, Σx²=2500 → (10·2500−2500)·1000 // (10·50) = 45000
    assert (out["burst"].fano_milli, out["burst"].overdispersed) == (45000, True)
    assert out["burst"].n_days == 10  # calendar fill gave burst its 9 zeros


def test_q204_mcnemar_discordant_counting(spark, tmp_path, qs):
    """Planted paired outcomes: 6 docs where the length gate alone is
    right (b), 2 where the token gate alone is right (c), plus
    concordant filler → χ²_milli = (6−2)²·1000//8 = 2000, corrected
    (4−1)²·1000//8 = 1125. All-concordant corpus → NULL."""
    from airflow_spotify_etl_spark.sources.files import SCHEMAS

    long_txt = " ".join(["w"] * 50)   # token gate fires
    short_txt = "w x"                  # token gate doesn't
    rows, i = [], 0
    def doc(a_right, b_right, cnt):
        nonlocal i
        for _ in range(cnt):
            # truth = en. a = length-in-range, bg = long text.
            lang = "en"
            nc = 300 if a_right else 10       # a matches truth iff a_right
            t = long_txt if b_right else short_txt
            rows.append((i, t, lang, "s", nc)); i += 1
    doc(True, False, 6)    # b cell
    doc(False, True, 2)    # c cell
    doc(True, True, 10)    # concordant-right
    spark.createDataFrame(rows, SCHEMAS["documents"]).write.parquet(
        str(tmp_path / "documents.parquet"))
    r = qs["q204_mcnemar_test"](spark, str(tmp_path)).collect()[0]
    assert (r.b, r.c) == (6, 2)
    assert r.mcnemar_milli == 2000 and r.mcnemar_corrected_milli == 1125

    import shutil
    shutil.rmtree(str(tmp_path / "documents.parquet"))
    rows, i = [], 0
    doc(True, True, 5)
    spark.createDataFrame(rows, SCHEMAS["documents"]).write.parquet(
        str(tmp_path / "documents.parquet"))
    r = qs["q204_mcnemar_test"](spark, str(tmp_path)).collect()[0]
    assert r.mcnemar_milli is None


def test_q205_runs_counting_and_extremes(spark, tmp_path, qs):
    """Strict alternation (counts 1,3,1,3,...) → every move flips:
    runs = n_moves, direction = +1 (oscillation). A monotone staircase
    → a single run with z² undefined (one-sided). Hand-check the exact
    z2_milli on the alternating case."""
    from datetime import datetime, timedelta

    from airflow_spotify_etl_spark.sources.files import SCHEMAS

    base = datetime(2024, 1, 1)
    def build(counts):
        rows, i = [], 0
        for day, c in enumerate(counts):
            for _ in range(c):
                rows.append((i, base + timedelta(days=day), 1, "e", 1.0, "{}")); i += 1
        return rows

    alt = [1, 3] * 6  # 12 days, 11 moves, all flips
    spark.createDataFrame(build(alt), SCHEMAS["events"]).write.mode(
        "overwrite").parquet(str(tmp_path / "events.parquet"))
    r = qs["q205_runs_test"](spark, str(tmp_path)).collect()[0]
    assert (r.n_moves, r.runs, r.direction) == (11, 11, 1)
    n, nu, nd, R = 11, 5, 6, 11
    num = (R - 1) * n - 2 * nu * nd
    expect = num * num * (n - 1) * 1000 // (2 * nu * nd * (2 * nu * nd - n))
    assert r.z2_milli == expect

    stair = [k + 1 for k in range(12)]
    spark.createDataFrame(build(stair), SCHEMAS["events"]).write.mode(
        "overwrite").parquet(str(tmp_path / "events.parquet"))
    r = qs["q205_runs_test"](spark, str(tmp_path)).collect()[0]
    # all-up: μ = 2·n1·n2/n + 1 = 1 = R exactly → direction 0
    assert (r.runs, r.n_down, r.direction) == (1, 0, 0)
    assert r.z2_milli is None  # one-sided moves: 2·n1·n2 = 0 ≤ n


def test_q206_vocab_coverage_hand_counts(spark, tmp_path, qs):
    """Corpus 'a a a b b c d': V=4, N=7, n1=2 (c,d), n2=1 (b) →
    unseen = 2·10⁶//7 = 285714, chao1 = 4 + 4//2 = 6. A corpus with
    no doubletons exercises the bias-corrected branch: 'a a a b c'
    → n1=2, n2=0 → chao1 = 3 + 2·1//2 = 4, flag True."""
    from airflow_spotify_etl_spark.sources.files import SCHEMAS

    spark.createDataFrame([(0, "a a a b b c d", "en", "s", 13)],
                          SCHEMAS["documents"]).write.parquet(
        str(tmp_path / "documents.parquet"))
    r = qs["q206_vocab_coverage"](spark, str(tmp_path)).collect()[0]
    assert (r.vocab_size, r.n_tokens, r.singletons, r.doubletons) == (4, 7, 2, 1)
    assert (r.unseen_mass_micro, r.chao1_estimate, r.bias_corrected_variant) == (285714, 6, False)

    import shutil
    shutil.rmtree(str(tmp_path / "documents.parquet"))
    spark.createDataFrame([(0, "a a a b c", "en", "s", 9)],
                          SCHEMAS["documents"]).write.parquet(
        str(tmp_path / "documents.parquet"))
    r = qs["q206_vocab_coverage"](spark, str(tmp_path)).collect()[0]
    assert (r.chao1_estimate, r.bias_corrected_variant) == (4, True)


def test_q207_containment_catches_jaccard_blind_spot(spark, tmp_path, qs):
    """A 10-word article fully pasted into a 100-word digest:
    containment = 1.0 but Jaccard ≈ 0.08 → the q24 Jaccard tier misses
    it, q207 must emit it with direction a_in_b. A near-identical pair
    (high Jaccard) must NOT appear — it belongs to the Jaccard tier."""
    from airflow_spotify_etl_spark.sources.files import SCHEMAS

    article = " ".join(f"art{i}" for i in range(10))
    digest = article + " " + " ".join(f"fill{i}" for i in range(90))
    twin_a = " ".join(f"twin{i}" for i in range(10))
    twin_b = twin_a + " extra"
    rows = [
        (1, article, "en", "s", len(article)),
        (2, digest, "en", "s", len(digest)),
        (3, twin_a, "en", "s", len(twin_a)),
        (4, twin_b, "en", "s", len(twin_b)),
    ]
    spark.createDataFrame(rows, SCHEMAS["documents"]).write.parquet(
        str(tmp_path / "documents.parquet"))
    out = qs["q207_containment_pairs"](spark, str(tmp_path)).collect()
    pairs = {(r.doc_a, r.doc_b): r for r in out}
    assert set(pairs) == {(1, 2)}
    r = pairs[(1, 2)]
    assert r.containment_micro == 1000000 and r.direction == "a_in_b"
    assert r.na == 8  # 10 words → 8 trigrams


def test_q208_q16_anti_join_and_distinct_shape(spark, sf_dir, qs):
    """Q16's plan bar: the NOT IN subquery compiles to a broadcast
    ANTI hash join (no per-row subquery, no nested loop over facts),
    the size/type predicates push into the part scan, and a distinct
    pre-aggregation (partial on l_suppkey) precedes the final count.
    The anti-join is asserted on the PRE-AQE plan: at tiny SF the
    blacklist side can be empty and AQE's empty-relation propagation
    (correctly) deletes the LeftAnti from the final plan."""
    df = qs["q208_sql_supplier_diversity"](spark, sf_dir)
    pre = df._jdf.queryExecution().executedPlan().toString()
    assert "LeftAnti, BuildRight" in pre
    plan = _final_plan(df)
    assert "Not(EqualTo(p_type,PROMO))" in plan and "In(p_size," in plan
    assert "HashAggregate" in plan and "CartesianProduct" not in plan


def test_q209_q2_correlated_min_decorrelates(spark, sf_dir, qs):
    """Q2's plan bar: the correlated scalar subquery (per-part regional
    min price) must DECORRELATE into a grouped min aggregate joined
    back on (partkey, price) — partial_min proves map-side combine —
    with no nested-loop/cartesian re-execution per outer row, and the
    part/region restrictions pushed into their scans."""
    plan = _final_plan(qs["q209_sql_min_cost_supplier"](spark, sf_dir))
    assert "partial_min" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "EqualTo(p_type,STANDARD)" in plan
    assert "LessThanOrEqual(p_size,10)" in plan
    assert "EqualTo(r_name,EUROPE)" in plan


def test_q210_sweep_line_semantics_and_partitioned_plan(spark, tmp_path, qs):
    """Planted intervals: 3 users overlap 10:00-10:10 (peak 3), a 4th
    user's session touches (starts exactly when another's tail ends) —
    touching must NOT count as concurrent (-1 sorts before +1). A
    midnight-crossing session must appear as a segment on BOTH days.
    Plan gate: every window is keyed (user_id or epoch_day) — no
    empty-frame global window, which would serialize the sweep."""
    from datetime import datetime

    from airflow_spotify_etl_spark.sources.files import SCHEMAS

    def ev(i, dt, uid):
        return (i, dt, uid, "e", 1.0, "{}")

    rows = [
        # users 1-3: sessions covering 10:00..10:10 (+60s tail)
        ev(1, datetime(2024, 1, 1, 10, 0), 1),
        ev(2, datetime(2024, 1, 1, 10, 10), 1),
        ev(3, datetime(2024, 1, 1, 10, 5), 2),
        ev(4, datetime(2024, 1, 1, 10, 9), 2),
        ev(5, datetime(2024, 1, 1, 10, 8), 3),
        # user 4 starts exactly at user 1's session end (10:11:00 tail)
        ev(6, datetime(2024, 1, 1, 10, 11), 4),
        # user 5: midnight-crossing session (23:50 -> 00:05 next day)
        ev(7, datetime(2024, 1, 2, 23, 50), 5),
        ev(8, datetime(2024, 1, 3, 0, 5), 5),
    ]
    spark.createDataFrame(rows, SCHEMAS["events"]).write.mode(
        "overwrite").parquet(str(tmp_path / "events.parquet"))
    df = qs["q210_peak_concurrency"](spark, str(tmp_path))
    got = {r.epoch_day: (r.peak_concurrency, r.n_segments) for r in df.collect()}
    d1 = (datetime(2024, 1, 1) - datetime(1970, 1, 1)).days
    d2, d3 = d1 + 1, d1 + 2
    assert got[d1] == (3, 4)  # touching session never makes it 4
    assert got[d2][0] == 1 and got[d3][0] == 1  # midnight split: both days
    assert got[d2][1] == 1 and got[d3][1] == 1

    plan = df._jdf.queryExecution().executedPlan().toString()
    import re
    for spec in re.findall(r"windowspecdefinition\(([^)]*)\)", plan):
        assert "user_id" in spec or "epoch_day" in spec, spec


def test_q211_js_drift_closed_form_tail(spark, tmp_path, qs):
    """Two symmetric disjoint-vocab sources: js must be equal for both
    and match the hand-computed JS against the pooled corpus to within
    per-term rounding (pico quantization). Also: a source whose
    distribution IS the corpus distribution has js ~ 0."""
    import math

    from airflow_spotify_etl_spark.sources.files import SCHEMAS

    rows = [
        (1, "a a", "en", "sA", 3),
        (2, "b b", "en", "sB", 3),
    ]
    spark.createDataFrame(rows, SCHEMAS["documents"]).write.mode(
        "overwrite").parquet(str(tmp_path / "documents.parquet"))
    got = {r.source: r for r in
           qs["q211_js_source_drift"](spark, str(tmp_path)).collect()}
    # source A: p(a)=1 vs corpus q(a)=1/2; absent mass 1/2 -> tail
    expect = (0.5 * 1.0 * math.log(2 * 1.0 / 1.5)
              + 0.5 * 0.5 * math.log(2 * 0.5 / 1.5)
              + 0.5 * math.log(2.0) * 0.5)
    assert got["sA"].js_pico == got["sB"].js_pico
    assert abs(got["sA"].js_pico - round(expect * 1e12)) <= 2
    assert got["sA"].vocab == 1 and got["sA"].n_tokens == 2

    rows = [
        (1, "x y", "en", "same", 3),
        (2, "x y", "en", "other", 3),
    ]
    spark.createDataFrame(rows, SCHEMAS["documents"]).write.mode(
        "overwrite").parquet(str(tmp_path / "documents.parquet"))
    got = {r.source: r for r in
           qs["q211_js_source_drift"](spark, str(tmp_path)).collect()}
    assert got["same"].js_pico == 0 and got["other"].js_pico == 0


def test_q212_keyness_picks_planted_keyword_and_prunes_window(spark, tmp_path, qs):
    """A token that appears ONLY in source sK (20x) while both sources
    share common filler must rank #1 for sK with a hand-computed G².
    Plan gate: the per-source top-5 is a WindowGroupLimit (map-side
    rank pruning), not a full-window materialization."""
    import math

    from airflow_spotify_etl_spark.sources.files import SCHEMAS

    filler = "the and of to in " * 4  # 20 shared tokens per doc
    rows = [
        (1, filler + "zebra " * 20, "en", "sK", 1),
        (2, filler, "en", "sR", 1),
    ]
    spark.createDataFrame(rows, SCHEMAS["documents"]).write.mode(
        "overwrite").parquet(str(tmp_path / "documents.parquet"))
    df = qs["q212_keyness_loglik"](spark, str(tmp_path))
    top = {r.source: r for r in df.collect() if r.rnk == 1}
    assert top["sK"].tok == "zebra" and top["sK"].a == 20
    # G2 hand-check: a=20,g=20,n=40,nt=60 -> b=0,c=20,d=20
    a, g, n, nt = 20, 20, 40, 60
    c = n - a
    d = (nt - n) - (g - a)
    g2 = 2 * (a * math.log(a * nt / (n * g))
              + c * math.log(c * nt / (n * (nt - g)))
              + d * math.log(d * nt / ((nt - n) * (nt - g))))
    assert abs(top["sK"].g2_micro - round(g2 * 1e6)) <= 1
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "WindowGroupLimit" in plan


def test_q213_length_blocking_finds_cross_bucket_edit(spark, tmp_path, qs):
    """A doc and its 3-edit variant whose heads land in DIFFERENT
    len//8 buckets (79 vs 82 chars -> buckets 9 and 10) must still
    pair via the overlap bucket; two unrelated docs must not. Exact
    lev value asserted."""
    from airflow_spotify_etl_spark.sources.files import SCHEMAS

    base = "the quick brown fox jumps over the lazy dog and runs far away into the night aa"  # 80 chars
    edited = base[:77] + "bbbb"  # 81 chars, few edits at the tail
    other = "z" * 80
    rows = [
        (1, base, "en", "s", len(base)),
        (2, edited, "en", "s", len(edited)),
        (3, other, "en", "s", 80),
    ]
    spark.createDataFrame(rows, SCHEMAS["documents"]).write.mode(
        "overwrite").parquet(str(tmp_path / "documents.parquet"))
    rowsout = qs["q213_edit_distance_pairs"](spark, str(tmp_path)).collect()
    assert [(r.doc_a, r.doc_b) for r in rowsout] == [(1, 2)]
    import re

    def lev(a, b):
        dp = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            prev, dp[0] = dp[0], i
            for j, cb in enumerate(b, 1):
                prev, dp[j] = dp[j], min(dp[j] + 1, dp[j - 1] + 1,
                                         prev + (ca != cb))
        return dp[-1]

    ha = re.sub(r"\s+", " ", base.lower())[:80]
    hb = re.sub(r"\s+", " ", edited.lower())[:80]
    assert rowsout[0].lev == lev(ha, hb)


def test_q214_skyline_matches_naive_dominance(spark, tmp_path, qs):
    """Random 300-point cloud (seeded): the bucketed two-phase
    prefix-max frontier must equal naive O(n^2) dominance exactly —
    including duplicate frontier points and equal-price ties. Plan
    gate: the only empty-partition window runs AFTER the per-bucket
    reduction (input |buckets| rows), never over the part scan."""
    import random

    from airflow_spotify_etl_spark.sources.files import SCHEMAS

    rng = random.Random(7)
    rows = []
    for i in range(300):
        price = round(rng.uniform(100, 999), 1)
        size = rng.randint(1, 50)
        rows.append((i, f"part{i}", "Brand#1", "STANDARD", size, price))
    # planted duplicates of one frontier-ish point
    rows.append((900, "dup1", "Brand#1", "STANDARD", 50, 100.0))
    rows.append((901, "dup2", "Brand#1", "STANDARD", 50, 100.0))
    spark.createDataFrame(rows, SCHEMAS["part"]).write.mode(
        "overwrite").parquet(str(tmp_path / "part.parquet"))
    got = [(r.p_partkey, r.p_retailprice, r.p_size) for r in
           qs["q214_pareto_frontier"](spark, str(tmp_path)).collect()]
    pts = [(i, p, s) for (i, _, _, _, s, p) in rows]
    naive = sorted(
        [(i, p, s) for (i, p, s) in pts
         if not any((q < p and t >= s) or (q <= p and t > s)
                    for (_, q, t) in pts)],
        key=lambda r: (r[1], r[0]))
    assert got == naive
    assert {900, 901} <= {i for i, _, _ in got}


def test_q215_lead_lag_finds_planted_shift(spark, tmp_path, qs):
    """Purchases planted as an exact 2-day-delayed copy of a varying
    click series: r_milli must be exactly 1000 at lag +2 and lower at
    every other lag; a constant series at some lag window yields NULL
    (degenerate variance guard)."""
    from datetime import datetime, timedelta

    from airflow_spotify_etl_spark.sources.files import SCHEMAS

    base = datetime(2024, 3, 1)
    clicks = [3, 1, 4, 1, 5, 9, 2, 6, 5, 3, 5, 8]
    rows, i = [], 0
    for day, c in enumerate(clicks):
        for _ in range(c):
            rows.append((i, base + timedelta(days=day), 1, "click", 1.0, "{}"))
            i += 1
        for _ in range(clicks[day - 2] if day >= 2 else 1):
            rows.append((i, base + timedelta(days=day), 1, "purchase", 1.0, "{}"))
            i += 1
    spark.createDataFrame(rows, SCHEMAS["events"]).write.mode(
        "overwrite").parquet(str(tmp_path / "events.parquet"))
    got = {r.lag: r.r_milli for r in
           qs["q215_lead_lag_correlation"](spark, str(tmp_path)).collect()}
    assert got[2] == 1000
    assert all(v is None or v < 1000 for lag, v in got.items() if lag != 2)


def test_q216_bag_key_catches_reorder_only(spark, tmp_path, qs):
    """Planted: doc 2 is a word-reordering of doc 1 (distinct md5 AND
    distinct canonical, same bag), doc 3 differs only in case+spacing
    from doc 1 (same canonical, so the canonical tier catches it and
    reorder_only must NOT count it), doc 4 is genuinely different.
    Expect n_exact=4, n_canon=3, n_bags=2, reorder_only_dups=1 (only
    the genuine reordering). Plan gate: no pair join."""
    from airflow_spotify_etl_spark.sources.files import SCHEMAS

    rows = [
        (1, "alpha beta gamma", "en", "s", 1),
        (2, "gamma alpha beta", "en", "s", 1),
        (3, "ALPHA   Beta gamma", "en", "s", 1),
        (4, "delta epsilon zeta", "en", "s", 1),
    ]
    spark.createDataFrame(rows, SCHEMAS["documents"]).write.mode(
        "overwrite").parquet(str(tmp_path / "documents.parquet"))
    df = qs["q216_bag_of_words_dedup"](spark, str(tmp_path))
    r = df.collect()[0]
    assert (r.n_docs, r.n_exact, r.n_canon, r.n_bags,
            r.reorder_only_dups) == (4, 4, 3, 2, 1)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan


def test_q217_seasonal_index_hand_check(spark, tmp_path, qs):
    """Two full weeks where Mondays get 8 events/day and every other
    day gets 1: grand daily avg = 28/14 = 2, so Monday's index is
    exactly 8/2 = 4.0 (micro 4000000) and every other day 1/2 = 0.5
    (500000). Also checks the integer dow mapping: 2024-03-04 is a
    Monday -> dow 0."""
    from datetime import datetime, timedelta

    from airflow_spotify_etl_spark.sources.files import SCHEMAS

    base = datetime(2024, 3, 4)  # Monday
    rows, i = [], 0
    for day in range(14):
        n = 8 if day % 7 == 0 else 1
        for _ in range(n):
            rows.append((i, base + timedelta(days=day), 1, "click", 1.0, "{}"))
            i += 1
    spark.createDataFrame(rows, SCHEMAS["events"]).write.mode(
        "overwrite").parquet(str(tmp_path / "events.parquet"))
    got = {r.dow: r for r in
           qs["q217_seasonal_indices"](spark, str(tmp_path)).collect()}
    assert got[0].sum_c == 16 and got[0].n_days == 2
    assert got[0].index_micro == 4000000
    for d in range(1, 7):
        assert got[d].index_micro == 500000


def test_q218_kcore_peel_planted_graph(spark, qs, tmp_path):
    """Planted graph via the operator directly: a 4-clique (3-core)
    plus a pendant chain hanging off it. Peeling with k=3 must strip
    the chain in order (round 1 drops the chain tail's support, the
    clique survives as the fixed point) and the trajectory must show
    convergence: two equal consecutive rows."""
    from airflow_spotify_etl_spark.operators.graph import kcore_peel

    # 4-clique on 1-4; chain 4-5, 5-6
    E = [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4), (4, 5), (5, 6)]
    edges = spark.createDataFrame(E, "a long, b long")
    rows = kcore_peel(edges, k=3, rounds=4).collect()
    traj = [(r.round, r.n_vertices, r.n_edges) for r in rows]
    assert traj[0] == (0, 6, 8)
    # round 1: vertices 5 (deg 2) and 6 (deg 1) drop -> clique only
    assert traj[1] == (1, 4, 6)
    # fixed point: all later rounds identical
    assert traj[2] == (2, 4, 6) and traj[-1] == (4, 4, 6)


def test_q219_sprt_crosses_boundaries_correctly(spark, tmp_path, qs):
    """Planted conversions: 10 days at 0/10 conversions must drive the
    LLR below -ln(19) (accept_h0, exact term -10*ln(0.875)*1e6 per
    day... negative direction), and a separate run at 10/10 must
    accept_h1. Per-day term hand-checked in micro units."""
    import math
    from datetime import datetime, timedelta

    from airflow_spotify_etl_spark.sources.files import SCHEMAS

    base = datetime(2024, 5, 1)

    def build(successes_per_day):
        rows, i = [], 0
        for day in range(10):
            for u in range(10):
                rows.append((i, base + timedelta(days=day), u, "click", 1.0, "{}"))
                i += 1
                if u < successes_per_day:
                    rows.append((i, base + timedelta(days=day, hours=1), u,
                                 "purchase", 1.0, "{}"))
                    i += 1
        return rows

    spark.createDataFrame(build(0), SCHEMAS["events"]).write.mode(
        "overwrite").parquet(str(tmp_path / "events.parquet"))
    rows = qs["q219_sprt_sequential_test"](spark, str(tmp_path)).collect()
    term = round(10 * math.log(0.875) * 1e6)
    assert rows[0].llr_micro == term
    assert rows[-1].llr_micro == 10 * term
    assert rows[-1].decision == "accept_h0"
    assert any(r.decision == "accept_h0" for r in rows[:4])

    spark.createDataFrame(build(10), SCHEMAS["events"]).write.mode(
        "overwrite").parquet(str(tmp_path / "events.parquet"))
    rows = qs["q219_sprt_sequential_test"](spark, str(tmp_path)).collect()
    term1 = round(10 * math.log(1.5) * 1e6)
    assert rows[0].llr_micro == term1
    assert rows[-1].decision == "accept_h1"


def test_q220_phrase_adjacency_and_prefilter(spark, tmp_path, qs):
    """'table value table value table' has 2 adjacent matches starting
    at position 1; 'table x value' has none (adjacency, not co-
    occurrence); 'value table' has none (order matters). Plan gate:
    the token IN-filter sits below the join (only query-term postings
    shuffle) and the join is doc-keyed, not a cartesian."""
    from airflow_spotify_etl_spark.sources.files import SCHEMAS

    rows = [
        (1, "table value table value table", "en", "s", 1),
        (2, "table x value", "en", "s", 1),
        (3, "value table", "en", "s", 1),
        (4, "a table value b", "en", "s", 1),
    ]
    spark.createDataFrame(rows, SCHEMAS["documents"]).write.mode(
        "overwrite").parquet(str(tmp_path / "documents.parquet"))
    df = qs["q220_phrase_search"](spark, str(tmp_path))
    got = {r.doc_id: (r.n_matches, r.first_pos) for r in df.collect()}
    assert got == {1: (2, 1), 4: (1, 2)}
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "tok#" in plan and "IN (table,value)" in plan.replace("'", "")


def test_q221_burstiness_extremes(spark, tmp_path, qs):
    """Clockwork arrivals (constant 100-s gaps) have sigma=0 ->
    B = -1e6 exactly; a bursty train (ten 1-s gaps then one huge gap)
    must score B > 0. Exact hand-check on the clockwork case."""
    from datetime import datetime, timedelta

    from airflow_spotify_etl_spark.sources.files import SCHEMAS

    base = datetime(2024, 6, 1)
    rows = []
    i = 0
    for k in range(12):  # user 1: constant gaps
        rows.append((i, base + timedelta(seconds=100 * k), 1, "e", 1.0, "{}"))
        i += 1
    t = 0
    gaps = [1] * 10 + [100000]
    for g in [0] + gaps:  # user 2: bursty
        t += g
        rows.append((i, base + timedelta(seconds=t), 2, "e", 1.0, "{}"))
        i += 1
    spark.createDataFrame(rows, SCHEMAS["events"]).write.mode(
        "overwrite").parquet(str(tmp_path / "events.parquet"))
    got = {r.user_id: r for r in
           qs["q221_interevent_burstiness"](spark, str(tmp_path)).collect()}
    assert got[1].burstiness_micro == -1000000  # sigma = 0
    assert got[2].burstiness_micro > 500000


def test_q222_km_hand_computed_with_censoring(spark, tmp_path, qs):
    """Textbook KM: 4 users convert on days 0,0,1,3 after first click;
    2 users never convert (censored at horizon day 5), and 1 user
    purchased BEFORE ever clicking then again on day 3 after — the
    pre-click purchase must not censor them (it is not a conversion
    of this exposure). Exact micro values asserted."""
    from datetime import datetime, timedelta

    from airflow_spotify_etl_spark.sources.files import SCHEMAS

    base = datetime(2024, 7, 1)
    rows, i = [], 0
    # converters: (user, delay)
    for u, delay in [(1, 0), (2, 0), (3, 1), (4, 3)]:
        rows.append((i, base, u, "click", 1.0, "{}")); i += 1
        rows.append((i, base + timedelta(days=delay, hours=2), u,
                     "purchase", 1.0, "{}")); i += 1
    for u in (5, 6):  # censored
        rows.append((i, base, u, "click", 1.0, "{}")); i += 1
    # user 8: purchased BEFORE ever clicking, then converts on day 3
    # after the click — the pre-click purchase must NOT censor them
    rows.append((i, base - timedelta(days=2), 8, "purchase", 1.0, "{}")); i += 1
    rows.append((i, base, 8, "click", 1.0, "{}")); i += 1
    rows.append((i, base + timedelta(days=3, hours=1), 8, "purchase", 1.0,
                 "{}")); i += 1
    # horizon marker: day 5 (any event type sets dmax)
    rows.append((i, base + timedelta(days=5), 7, "view", 1.0, "{}"))
    spark.createDataFrame(rows, SCHEMAS["events"]).write.mode(
        "overwrite").parquet(str(tmp_path / "events.parquet"))
    got = {r.duration_days: r for r in
           qs["q222_kaplan_meier"](spark, str(tmp_path)).collect()}
    assert set(got) == {0, 1, 3}
    # 7 subjects now (user 8 converts at dur 3, counted as an event)
    assert (got[0].n_risk, got[0].n_events) == (7, 2)
    # S(0)=5/7, S(1)=5/7*4/5=4/7, S(3)=4/7*2/4=2/7
    assert got[0].survival_micro == 714286
    assert got[1].survival_micro == 571429
    assert (got[3].n_events, got[3].survival_micro) == (2, 285714)


def test_q223_haar_energy_hand_computed(spark, tmp_path, qs):
    """8 days of counts [4,0,4,0,4,0,4,0] (period-2 square wave):
    level-1 coefficients are all +4 -> energy 4*16=64; levels 2 and 3
    are exactly 0 (halves balance). A trailing 9th day must be
    dropped from every level (partial blocks)."""
    from datetime import datetime, timedelta

    from airflow_spotify_etl_spark.sources.files import SCHEMAS

    base = datetime(2024, 8, 5)
    rows, i = [], 0
    series = [4, 0, 4, 0, 4, 0, 4, 0, 7]  # 9th day = partial block
    for day, n in enumerate(series):
        for _ in range(n):
            rows.append((i, base + timedelta(days=day), 1, "click", 1.0, "{}"))
            i += 1
    # keep day range anchored even where counts are 0
    rows.append((0, base + timedelta(days=1, hours=1), 2, "view", 1.0, "{}"))
    spark.createDataFrame(
        [(j, *r[1:]) for j, r in enumerate(rows)], SCHEMAS["events"]
    ).write.mode("overwrite").parquet(str(tmp_path / "events.parquet"))
    got = {(r.event_type, r.lvl): r for r in
           qs["q223_haar_band_energy"](spark, str(tmp_path)).collect()}
    assert got[("click", 1)].n_blocks == 4  # day 9 partial block dropped
    assert got[("click", 1)].energy == 64
    assert got[("click", 2)].energy == 0 and got[("click", 2)].n_blocks == 2
    assert got[("click", 3)].energy == 0 and got[("click", 3)].n_blocks == 1


def test_q224_abc_matches_naive_global_cumsum(spark, tmp_path, qs):
    """Seeded revenue cloud: the bucketed two-phase prefix-SUM classes
    must match the naive global revenue-desc running-sum
    classification exactly, including revenue ties split across the
    80% boundary (tie parts share a bucket, so bucket order cannot
    disagree with value order)."""
    import random

    from airflow_spotify_etl_spark.sources.files import SCHEMAS

    from datetime import datetime

    rng = random.Random(11)
    rows, i = [], 0
    for p in range(200):
        price = float(rng.choice([50, 100, 100, 250, 1000]))  # many ties
        rows.append((i, p, 1, 1, 1.0, price, 0.0, 0.0,
                     "N", "O", datetime(2024, 1, 1)))
        i += 1
    spark.createDataFrame(rows, SCHEMAS["lineitem"]).write.mode(
        "overwrite").parquet(str(tmp_path / "lineitem.parquet"))
    got = {r.abc: (r.n_parts, r.revenue_cents2) for r in
           qs["q224_abc_classification"](spark, str(tmp_path)).collect()}
    revs = sorted(
        ((int(round(r[5] * 100)) * 100, r[1]) for r in rows),
        key=lambda t: (-t[0], t[1]))
    tot = sum(r for r, _ in revs)
    cum, naive = 0, {}
    for r, p in revs:
        cum += r
        c = "A" if cum * 100 <= tot * 80 else ("B" if cum * 100 <= tot * 95
                                               else "C")
        n, s = naive.get(c, (0, 0))
        naive[c] = (n + 1, s + r)
    assert got == naive


def test_q225_assortativity_signs(spark, tmp_path, qs):
    """A star basket graph (one order with hub part + 4 leaves, plus
    separate 2-part orders attaching leaves to fresh spokes) is
    disassortative: r < 0. A union of two disjoint same-size cliques
    (all degrees equal within each) has zero variance -> NULL."""
    from datetime import datetime

    from airflow_spotify_etl_spark.sources.files import SCHEMAS

    d = datetime(2024, 1, 1)

    def li(rows):
        out = []
        for i, (o, p) in enumerate(rows):
            out.append((o, p, 1, 1, 1.0, 10.0, 0.0, 0.0, "N", "O", d))
        return out

    # star: order 1 = {0,1,2,3,4}; orders 2-5 attach spokes {1,11},{2,12},...
    star = [(1, p) for p in range(5)] + [
        (o, p) for o, p in [(2, 1), (2, 11), (3, 2), (3, 12),
                            (4, 3), (4, 13), (5, 4), (5, 14)]]
    spark.createDataFrame(li(star), SCHEMAS["lineitem"]).write.mode(
        "overwrite").parquet(str(tmp_path / "lineitem.parquet"))
    r = qs["q225_degree_assortativity"](spark, str(tmp_path)).collect()[0]
    assert r.assortativity_milli < 0

    # two disjoint triangles: every vertex degree 2 -> zero variance
    tri = [(1, p) for p in (20, 21, 22)] + [(2, p) for p in (30, 31, 32)]
    spark.createDataFrame(li(tri), SCHEMAS["lineitem"]).write.mode(
        "overwrite").parquet(str(tmp_path / "lineitem.parquet"))
    r = qs["q225_degree_assortativity"](spark, str(tmp_path)).collect()[0]
    assert r.assortativity_milli is None and r.n == 12


def test_q226_entropy_deterministic_vs_uniform_rows(spark, tmp_path, qs):
    """User A always does click->view->click->view... (deterministic
    row: cond entropy term ln(c/cx)=0 for its transitions); user B
    alternates purchase->{click,view} evenly. The deterministic
    state's row contributes 0; the purchase row's entropy equals
    (cP/N)*ln(2) split across its two cells."""
    import math
    from datetime import datetime, timedelta

    from airflow_spotify_etl_spark.sources.files import SCHEMAS

    base = datetime(2024, 9, 1)
    rows, i = [], 0
    seqA = ["click", "view"] * 6
    for k, et in enumerate(seqA):
        rows.append((i, base + timedelta(minutes=k), 1, et, 1.0, "{}")); i += 1
    seqB = ["purchase", "click", "purchase", "view"] * 3
    for k, et in enumerate(seqB):
        rows.append((i, base + timedelta(minutes=k), 2, et, 1.0, "{}")); i += 1
    spark.createDataFrame(rows, SCHEMAS["events"]).write.mode(
        "overwrite").parquet(str(tmp_path / "events.parquet"))
    got = {r.prev: r for r in
           qs["q226_markov_conditional_entropy"](spark, str(tmp_path)).collect()}
    # view -> click always (user A) and view -> purchase (user B): 2 cells
    # purchase row: -> click x3, -> view x2 (last purchase ends seq? check masses)
    p = got["purchase"]
    n = sum(r.n_from for r in got.values())
    # purchase transitions: B: purchase->click x3, purchase->view x3
    assert p.n_next == 2 and p.n_from == 6
    expect = round(-(3 / n) * math.log(3 / 6) * 1e9) * 2
    assert abs(p.cond_entropy_nano - expect) <= 2
    # click -> view is deterministic for A but B has click->purchase
    # the fully deterministic row: none guaranteed; check zero-entropy shape
    # via a pure-deterministic fixture instead:
    rows2 = []
    i = 0
    for k, et in enumerate(["signup", "error"] * 8):
        rows2.append((i, base + timedelta(minutes=k), 3, et, 1.0, "{}")); i += 1
    spark.createDataFrame(rows2, SCHEMAS["events"]).write.mode(
        "overwrite").parquet(str(tmp_path / "events.parquet"))
    got2 = {r.prev: r for r in
            qs["q226_markov_conditional_entropy"](spark, str(tmp_path)).collect()}
    assert got2["signup"].cond_entropy_nano == 0
    assert got2["error"].cond_entropy_nano == 0


def test_q227_dyadic_decay_exact_and_recency_wins(spark, tmp_path, qs):
    """Part X: 1 order on the newest day (weight 2^40). Part Y: 100
    orders at the horizon (age 40, weight 1 each -> 100). X must rank
    first with score exactly 2^40; an order older than the horizon
    must not appear at all."""
    from datetime import datetime, timedelta

    from airflow_spotify_etl_spark.sources.files import SCHEMAS

    end = datetime(2024, 10, 31)

    def order(o, day):
        return (o, 1, "O", 100.0, day, "1-URGENT")

    orders, lines, o = [], [], 1
    orders.append(order(o, end)); lines.append((o, 100, 1, 1, 1.0, 10.0, 0.0, 0.0, "N", "O", end)); o += 1
    for _ in range(100):
        d = end - timedelta(days=40)
        orders.append(order(o, d)); lines.append((o, 200, 1, 1, 1.0, 10.0, 0.0, 0.0, "N", "O", d)); o += 1
    d_old = end - timedelta(days=41)
    orders.append(order(o, d_old)); lines.append((o, 300, 1, 1, 1.0, 10.0, 0.0, 0.0, "N", "O", d_old)); o += 1
    spark.createDataFrame(orders, SCHEMAS["orders"]).write.mode(
        "overwrite").parquet(str(tmp_path / "orders.parquet"))
    spark.createDataFrame(lines, SCHEMAS["lineitem"]).write.mode(
        "overwrite").parquet(str(tmp_path / "lineitem.parquet"))
    rows = qs["q227_trending_decay"](spark, str(tmp_path)).collect()
    assert [r.partkey for r in rows[:2]] == [100, 200]
    assert rows[0].score == 1 << 40
    assert rows[1].score == 100
    assert all(r.partkey != 300 for r in rows)


def test_q228_ltv_triangle_cumulates_per_cohort(spark, tmp_path, qs):
    """Two cohorts: day-0 cohort (2 users) purchases 10.00 on day 0
    and 5.50 on day 2; day-1 cohort (1 user) purchases 2.25 on day 3
    (age 2). Cumulative cents per cohort checked exactly; a purchase
    BEFORE signup is excluded."""
    from datetime import datetime, timedelta

    from airflow_spotify_etl_spark.sources.files import SCHEMAS

    base = datetime(2024, 11, 1)
    rows = [
        (1, base, 1, "signup", 0.0, "{}"),
        (2, base, 2, "signup", 0.0, "{}"),
        (3, base + timedelta(days=1), 3, "signup", 0.0, "{}"),
        (4, base + timedelta(hours=2), 1, "purchase", 10.0, "{}"),
        (5, base + timedelta(days=2), 2, "purchase", 5.5, "{}"),
        (6, base + timedelta(days=3), 3, "purchase", 2.25, "{}"),
        # user 3 purchase BEFORE signup day -> excluded
        (7, base, 3, "purchase", 99.0, "{}"),
    ]
    spark.createDataFrame(rows, SCHEMAS["events"]).write.mode(
        "overwrite").parquet(str(tmp_path / "events.parquet"))
    got = {(r.cohort_day, r.age_d): r for r in
           qs["q228_cohort_ltv"](spark, str(tmp_path)).collect()}
    d0 = (base - datetime(1970, 1, 1)).days
    assert got[(d0, 0)].cum_revenue_cents == 1000
    assert got[(d0, 2)].cum_revenue_cents == 1550
    assert got[(d0 + 1, 2)].cum_revenue_cents == 225
    assert got[(d0 + 1, 2)].cohort_users == 1
    assert (d0 + 1, -1) not in got and all(k[1] >= 0 for k in got)


def test_q229_markov_argmax_deterministic_tiebreak(spark, tmp_path, qs):
    """click is followed by view 3x and error 3x (tie): the predictor
    must pick 'error' (count desc, then event ASC) in both engines;
    accuracy for click = 3/6. A deterministic state scores 1e6."""
    from datetime import datetime, timedelta

    from airflow_spotify_etl_spark.sources.files import SCHEMAS

    base = datetime(2024, 12, 1)
    seq = []
    for _ in range(3):
        seq += ["click", "view", "click", "error"]
    seq += ["signup", "purchase"] * 4  # signup -> purchase always
    rows = [(i, base + timedelta(minutes=i), 1 if et in ("click", "view", "error") else 2, et, 1.0, "{}")
            for i, et in enumerate(seq)]
    spark.createDataFrame(rows, SCHEMAS["events"]).write.mode(
        "overwrite").parquet(str(tmp_path / "events.parquet"))
    got = {r.prev: r for r in
           qs["q229_markov_top1_accuracy"](spark, str(tmp_path)).collect()}
    c = got["click"]
    assert c.predicted == "error"  # tie broken by event name
    assert (c.n_transitions, c.n_correct, c.accuracy_micro) == (6, 3, 500000)
    s = got["signup"]
    assert s.predicted == "purchase" and s.accuracy_micro == 1000000


def test_q230_percolation_planted_components(spark, tmp_path, qs):
    """Operator-level: a dumbbell graph (two 4-cliques bridged through
    one cut vertex) splits into 2 components when the hub (the bridge,
    highest degree) is removed. Driven through the full q230 plan with
    a tiny hub budget via the operator pieces; also asserts the LP
    trajectory converges (last two rows equal) and the hub cut uses
    TakeOrdered, not a single-partition window."""
    from airflow_spotify_etl_spark.operators.graph import (
        label_propagation_trajectory,
    )

    # bridge vertex 10 connects cliques {1..4} and {21..24}
    E = ([(a, b) for a in (1, 2, 3, 4) for b in (1, 2, 3, 4) if a < b]
         + [(a, b) for a in (21, 22, 23, 24) for b in (21, 22, 23, 24)
            if a < b]
         + [(4, 10), (10, 21)])
    edges = spark.createDataFrame(E, "a long, b long")
    # remove the bridge by hand (deg(10)=2 is NOT max here, so filter
    # directly — the q230 plan's TakeOrdered cut is asserted below)
    residual = edges.filter((F.col("a") != 10) & (F.col("b") != 10))
    rows = label_propagation_trajectory(residual, rounds=4).collect()
    traj = [(r.round, r.n_components, r.largest_component) for r in rows]
    assert traj[0] == (0, 8, 1)          # every vertex its own label
    assert traj[-1] == (4, 2, 4)         # two 4-cliques
    assert traj[-1][1:] == traj[-2][1:]  # converged inside the budget

    # The full q230 plan checkpoints eagerly, so assert the hub cut's
    # shape on the subplan it is built from: orderBy+limit must compile
    # to TakeOrderedAndProject (distributed), not a global window.
    from airflow_spotify_etl_spark.operators.graph import copurchase_edges
    from airflow_spotify_etl_spark.sources.files import register_views

    register_views(spark, "/root/testdata/sf0.001", ["lineitem"])
    e = copurchase_edges(spark.table("lineitem"), max_basket=100)
    deg = (e.select(F.col("a").alias("v"))
           .unionAll(e.select(F.col("b").alias("v")))
           .groupBy("v").agg(F.count("*").alias("d")))
    hubs = deg.orderBy(F.col("d").desc(), F.col("v")).limit(50).select("v")
    plan = hubs._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan


def test_q231_busy_time_integral_exact(spark, tmp_path, qs):
    """One user active 10:00-10:10 (+60 s tail = 660 s busy), another
    23:50->00:05 next day (midnight split: 600 s on day 1, 360 s on
    day 2 incl. tail). busy_us and the integer micro average are
    asserted exactly; consistency with q210: avg <= peak * 1e6."""
    from datetime import datetime

    from airflow_spotify_etl_spark.sources.files import SCHEMAS

    rows = [
        (1, datetime(2024, 1, 1, 10, 0), 1, "e", 1.0, "{}"),
        (2, datetime(2024, 1, 1, 10, 10), 1, "e", 1.0, "{}"),
        (3, datetime(2024, 1, 2, 23, 50), 2, "e", 1.0, "{}"),
        (4, datetime(2024, 1, 3, 0, 5), 2, "e", 1.0, "{}"),
    ]
    spark.createDataFrame(rows, SCHEMAS["events"]).write.mode(
        "overwrite").parquet(str(tmp_path / "events.parquet"))
    got = {r.epoch_day: r for r in
           qs["q231_time_avg_concurrency"](spark, str(tmp_path)).collect()}
    d1 = (datetime(2024, 1, 1) - datetime(1970, 1, 1)).days
    assert got[d1].busy_us == 660 * 1_000_000
    assert got[d1].avg_concurrency_micro == 660 * 1_000_000 // 86400
    assert got[d1 + 1].busy_us == 600 * 1_000_000
    assert got[d1 + 2].busy_us == 360 * 1_000_000
    peaks = {r.epoch_day: r.peak_concurrency for r in
             qs["q210_peak_concurrency"](spark, str(tmp_path)).collect()}
    for day, r in got.items():
        assert r.avg_concurrency_micro <= peaks[day] * 1_000_000


def test_q232_bursty_vs_poisson_tokens(spark, tmp_path, qs):
    """100 docs: token 'spread' appears once in every doc (df=100 =
    Poisson expectation for tf=100 -> adaptation ~ 1.58e6... actually
    compute exactly); token 'burst' appears 100 times but all in ONE
    doc (df=1, maximally bursty). 'burst' must rank first with the
    exact micro value; 'spread' must score higher (less bursty)."""
    import math

    from airflow_spotify_etl_spark.sources.files import SCHEMAS

    rows = []
    for i in range(100):
        text = "spread " + ("burst " * 100 if i == 0 else "")
        rows.append((i, text.strip(), "en", "s", 1))
    spark.createDataFrame(rows, SCHEMAS["documents"]).write.mode(
        "overwrite").parquet(str(tmp_path / "documents.parquet"))
    rowsout = qs["q232_token_burstiness"](spark, str(tmp_path)).collect()
    got = {r.tok: r for r in rowsout}
    assert rowsout[0].tok == "burst"
    nd = 100
    exp_burst = round(1 / (nd * (1 - math.exp(-100 / nd))) * 1e6)
    assert got["burst"].adaptation_micro == exp_burst
    exp_spread = round(100 / (nd * (1 - math.exp(-100 / nd))) * 1e6)
    assert got["spread"].adaptation_micro == exp_spread
    assert got["burst"].adaptation_micro < got["spread"].adaptation_micro


def test_q233_anova_hand_computed(spark, tmp_path, qs):
    """2 segments x 2 orders: A={100.00, 200.00}, B={300.00, 400.00}
    (cents). SSB = 4e8 cents^2, SSW = 1e8, F = (4e8/1)/(1e8/2) = 8,
    eta^2 = 0.8 — every scaled integer asserted exactly, which also
    exercises the _floor_scaled_div limbs end-to-end."""
    from datetime import datetime

    from airflow_spotify_etl_spark.sources.files import SCHEMAS

    ts = datetime(2024, 1, 1)
    orders = [
        (1, 1, "O", 100.0, ts, "1-URGENT"),
        (2, 1, "O", 200.0, ts, "1-URGENT"),
        (3, 2, "O", 300.0, ts, "1-URGENT"),
        (4, 2, "O", 400.0, ts, "1-URGENT"),
    ]
    cust = [
        (1, "a", 0, 0.0, "AUTOMOBILE"),
        (2, "b", 0, 0.0, "BUILDING"),
    ]
    spark.createDataFrame(orders, SCHEMAS["orders"]).write.mode(
        "overwrite").parquet(str(tmp_path / "orders.parquet"))
    spark.createDataFrame(cust, SCHEMAS["customer"]).write.mode(
        "overwrite").parquet(str(tmp_path / "customer.parquet"))
    [r] = qs["q233_anova_segments"](spark, str(tmp_path)).collect()
    assert r.k == 2 and r.n == 4
    assert r.ssb_s == str(4 * 10**8 * 10**6)
    assert r.ssw_s == str(1 * 10**8 * 10**6)
    assert r.eta2_micro == 800000
    assert r.f_micro == 8_000_000
    assert r.f_stat == 8.0


def test_q234_kruskal_wallis_hand_computed(spark, tmp_path, qs):
    """Two groups X={1,2}ms Y={3,4}ms: ranks 1..4, R_X=3, R_Y=7,
    H = 12/(4*5)*(9/2+49/2) - 3*5 = 2.4 exactly (no ties, C=1).
    All scaled integers asserted: A = floor(36e6/2)+floor(196e6/2)."""
    from datetime import datetime

    from airflow_spotify_etl_spark.sources.files import SCHEMAS

    ts = datetime(2024, 1, 1)
    rows = [
        (1, ts, 1, "X", 0.001, "{}"),
        (2, ts, 1, "X", 0.002, "{}"),
        (3, ts, 2, "Y", 0.003, "{}"),
        (4, ts, 2, "Y", 0.004, "{}"),
    ]
    spark.createDataFrame(rows, SCHEMAS["events"]).write.mode(
        "overwrite").parquet(str(tmp_path / "events.parquet"))
    [r] = qs["q234_kruskal_wallis"](spark, str(tmp_path)).collect()
    assert r.k == 2 and r.n == 4
    assert r.a_s == str(18_000_000 + 98_000_000)
    assert r.tt_s == "0"
    assert r.h_micro == 2_400_000
    assert r.h_stat == 2.4


def test_q234_kruskal_wallis_tie_correction(spark, tmp_path, qs):
    """X={1,1}ms Y={2,2}ms: tied pairs get average ranks 1.5 and 3.5,
    H0 = 12/20*(4.5+24.5) - 15 = 2.4... recompute: R_X=3, R_Y=7 (same
    sums), TT = 2*(8-2) = 12, C = 1 - 12/60 = 0.8, H = H0/0.8 = 3.0."""
    from datetime import datetime

    from airflow_spotify_etl_spark.sources.files import SCHEMAS

    ts = datetime(2024, 1, 1)
    rows = [
        (1, ts, 1, "X", 0.001, "{}"),
        (2, ts, 1, "X", 0.001, "{}"),
        (3, ts, 2, "Y", 0.002, "{}"),
        (4, ts, 2, "Y", 0.002, "{}"),
    ]
    spark.createDataFrame(rows, SCHEMAS["events"]).write.mode(
        "overwrite").parquet(str(tmp_path / "events.parquet"))
    [r] = qs["q234_kruskal_wallis"](spark, str(tmp_path)).collect()
    assert r.tt_s == "12"
    assert r.h_micro == 3_000_000
    assert r.h_stat == 3.0


def test_q235_nelson_aalen_hand_computed(spark, tmp_path, qs):
    """u3 converts at dur 0 (n_risk=3), u1 at dur 2 (n_risk=2), u2 is
    censored at the day-4 horizon (set by a view-only user). Steps
    1/3 and 1/2 are floor-micro-quantized before the prefix sum; the
    Fleming-Harrington survival is exp(-H) on the integer H."""
    import math
    from datetime import datetime

    from airflow_spotify_etl_spark.sources.files import SCHEMAS

    d = lambda k: datetime(2024, 1, 1 + k)
    rows = [
        (1, d(0), 1, "click", 1.0, "{}"),
        (2, d(2), 1, "purchase", 1.0, "{}"),
        (3, d(0), 2, "click", 1.0, "{}"),
        (4, d(1), 3, "click", 1.0, "{}"),
        (5, d(1), 3, "purchase", 1.0, "{}"),
        (6, d(4), 9, "view", 1.0, "{}"),
    ]
    spark.createDataFrame(rows, SCHEMAS["events"]).write.mode(
        "overwrite").parquet(str(tmp_path / "events.parquet"))
    out = {r.duration_days: r for r in
           qs["q235_nelson_aalen"](spark, str(tmp_path)).collect()}
    assert set(out) == {0, 2}
    r0, r2 = out[0], out[2]
    assert (r0.n_risk, r0.n_events) == (3, 1)
    assert r0.hazard_step_micro == 10**6 // 3
    assert r0.cum_hazard_micro == 333333
    assert r0.var_pico == 10**12 // 9
    assert r0.survival_fh_micro == round(math.exp(-333333 / 1e6) * 1e6)
    assert (r2.n_risk, r2.n_events) == (2, 1)
    assert r2.cum_hazard_micro == 333333 + 500000
    assert r2.var_pico == 10**12 // 9 + 250 * 10**9
    assert r2.survival_fh_micro == round(math.exp(-833333 / 1e6) * 1e6)


def test_q236_flesch_hand_computed(spark, tmp_path, qs):
    """'The cat sat. It ran!' -> 5 words, 2 sentences, 5 vowel groups:
    FRE = 206.835 - 1.015*2.5 - 84.6*1 = 119.6975. A vowel-less doc
    ('tsk tsk', no [.!?]) exercises the 1-sentence floor and the
    one-syllable-per-word floor."""
    from airflow_spotify_etl_spark.sources.files import SCHEMAS

    rows = [
        (1, "The cat sat. It ran!", "en", "a", 20),
        (2, "tsk tsk", "en", "b", 7),
    ]
    spark.createDataFrame(rows, SCHEMAS["documents"]).write.mode(
        "overwrite").parquet(str(tmp_path / "documents.parquet"))
    out = {r.source: r for r in
           qs["q236_flesch_readability"](spark, str(tmp_path)).collect()}
    a, b = out["a"], out["b"]
    assert (a.words, a.sentences, a.syllables) == (5, 2, 5)
    assert a.wps_micro == 2_500_000 and a.spw_micro == 1_000_000
    assert a.fre == round(206.835 - 1.015 * 2.5 - 84.6 * 1.0, 4)
    assert a.fkgl == round(0.39 * 2.5 + 11.8 * 1.0 - 15.59, 4)
    assert (b.words, b.sentences, b.syllables) == (2, 1, 2)
    assert b.spw_micro == 1_000_000


def test_q237_kneser_ney_hand_computed(spark, tmp_path, qs):
    """Docs 'a b', 'a b', 'a c': c(a,b)=2, c(a,c)=1, c(a)=3,
    N1+(a.)=2, N1+(.b)=N1+(.c)=1, N1+(..)=2. With d=3/4:
    P(b|a) = (2-.75)/3 + .75*(2/3)*(1/2) = 2/3 -> 666666 micro;
    P(c|a) = (1-.75)/3 + .25 = 1/3 -> 333333 micro."""
    from airflow_spotify_etl_spark.sources.files import SCHEMAS

    rows = [
        (1, "a b", "en", "s", 3),
        (2, "a b", "en", "s", 3),
        (3, "a c", "en", "s", 3),
    ]
    spark.createDataFrame(rows, SCHEMAS["documents"]).write.mode(
        "overwrite").parquet(str(tmp_path / "documents.parquet"))
    out = qs["q237_kneser_ney_bigrams"](spark, str(tmp_path)).collect()
    assert [(r.prev_tok, r.next_tok, r.p_micro) for r in out] == [
        ("a", "b", 666666),
        ("a", "c", 333333),
    ]
    top = out[0]
    assert (top.c, top.cp, top.np, top.nfw, top.nbb) == (2, 3, 1, 2, 2)


def test_q238_pettitt_hand_computed(spark, tmp_path, qs):
    """Counts [1,1,3,3] over 4 consecutive days: doubled tie ranks
    R2 = [3,3,7,7], U_t = prefix(R2) - t*5 = [-2,-4,-2], so K=4 at
    t=2 (the true level shift) and p = 2*exp(-96/80)."""
    import math
    from datetime import datetime

    from airflow_spotify_etl_spark.sources.files import SCHEMAS

    rows = []
    eid = 0
    for day, cnt in enumerate([1, 1, 3, 3]):
        for _ in range(cnt):
            eid += 1
            rows.append((eid, datetime(2024, 1, 1 + day, 12), 1, "e", 1.0, "{}"))
    spark.createDataFrame(rows, SCHEMAS["events"]).write.mode(
        "overwrite").parquet(str(tmp_path / "events.parquet"))
    [r] = qs["q238_pettitt_changepoint"](spark, str(tmp_path)).collect()
    assert (r.n, r.t) == (4, 2)
    assert r.change_date.isoformat() == "2024-01-02"
    assert (r.u_stat, r.k_stat) == (-4, 4)
    assert r.p_value == round(min(2 * math.exp(-6 * 16 / (64 + 16)), 1.0), 6)


def test_q239_item_cosine_hand_computed(spark, tmp_path, qs):
    """Baskets 1-3 = {10,20}, basket 4 = {10,30}: pair (10,20) has
    n_ab=3 (kept by min_pair_count), (10,30) has 1 (dropped).
    n_10=4, n_20=3 -> cos = 3/sqrt(12), cos2_pico = 9e12 // 12.
    Also gates the per-item top-k on a PARTIAL WindowGroupLimit
    (map-side prune before the window shuffle)."""
    import math
    import re as _re

    from airflow_spotify_etl_spark.sources.files import SCHEMAS
    from datetime import datetime

    ts = datetime(2024, 1, 1)
    li = []
    for b, parts in [(1, [10, 20]), (2, [10, 20]), (3, [10, 20]),
                     (4, [10, 30])]:
        for ln, p in enumerate(parts, 1):
            li.append((b, p, 1, ln, 1.0, 1.0, 0.0, 0.0, "N", "O", ts))
    spark.createDataFrame(li, SCHEMAS["lineitem"]).write.mode(
        "overwrite").parquet(str(tmp_path / "lineitem.parquet"))
    df = qs["q239_item_cosine_recs"](spark, str(tmp_path))
    out = df.collect()
    got = {(r.item, r.rec): r for r in out}
    assert set(got) == {(10, 20), (20, 10)}
    r = got[(10, 20)]
    assert (r.rank, r.n_ab, r.n_a, r.n_b) == (1, 3, 4, 3)
    assert r.cos2_pico == 9 * 10**12 // 12
    assert r.cosine == round(math.sqrt((9 * 10**12 // 12) / 1e12), 6)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert _re.search(r"WindowGroupLimit .*row_number\(\), 3, Partial", plan), plan


def test_q240_mattr_hand_computed(spark, tmp_path, qs):
    """Doc A = 50 copies of 'xx' -> 1 window, 1 type: MATTR = 1/50.
    Doc B = 50 distinct words -> MATTR = 1. Doc C has 5 tokens (< w):
    excluded from windows but still in TTR. Exact micro assertions."""
    import itertools
    import string

    from airflow_spotify_etl_spark.sources.files import SCHEMAS

    distinct50 = [a + b for a, b in
                  itertools.product(string.ascii_lowercase, repeat=2)][:50]
    rows = [
        (1, " ".join(["xx"] * 50), "en", "a", 0),
        (2, " ".join(distinct50), "en", "b", 0),
        (3, "q q q q q", "en", "c", 0),
    ]
    spark.createDataFrame(rows, SCHEMAS["documents"]).write.mode(
        "overwrite").parquet(str(tmp_path / "documents.parquet"))
    out = {r.source: r for r in
           qs["q240_mattr_lexical_diversity"](spark, str(tmp_path)).collect()}
    a, b, c = out["a"], out["b"], out["c"]
    assert (a.windows, a.type_instances) == (1, 1)
    assert a.mattr_micro == 10**6 // 50
    assert a.ttr_micro == 10**6 // 50
    assert (b.windows, b.type_instances) == (1, 50)
    assert b.mattr_micro == 1_000_000
    assert (c.windows, c.type_instances, c.mattr_micro) == (0, 0, None)
    assert c.total_tokens == 5 and c.ttr_micro == 10**6 // 5


def test_q241_welch_hand_computed(spark, tmp_path, qs):
    """purchase={1,2,3}s vs view={5,6,7,8}s: var1=1e6 ms^2, var2=5e6/3,
    vm_i = var_i/n_i in micro — every integer mirrored in Python and
    the t/df chains recomputed bit-for-bit."""
    import math
    from datetime import datetime

    from airflow_spotify_etl_spark.sources.files import SCHEMAS

    ts = datetime(2024, 1, 1)
    rows = [(i + 1, ts, 1, "purchase", float(v), "{}")
            for i, v in enumerate([1, 2, 3])]
    rows += [(i + 10, ts, 2, "view", float(v), "{}")
             for i, v in enumerate([5, 6, 7, 8])]
    spark.createDataFrame(rows, SCHEMAS["events"]).write.mode(
        "overwrite").parquet(str(tmp_path / "events.parquet"))
    [r] = qs["q241_welch_ttest"](spark, str(tmp_path)).collect()
    vm1 = (3 * 14_000_000 - 6000**2) * 10**6 // (9 * 2)
    vm2 = (4 * 174_000_000 - 26000**2) * 10**6 // (16 * 3)
    assert (r.n1, r.n2) == (3, 4)
    assert (r.m1_micro, r.m2_micro) == (2 * 10**9, 6_500 * 10**6)
    assert (r.vm1, r.vm2) == (vm1, vm2)
    assert r.t_stat == round(
        (r.m1_micro - r.m2_micro) / 1e6 / math.sqrt((vm1 + vm2) / 1e6), 4)
    d1, d2 = vm1 * vm1 // 2, vm2 * vm2 // 3
    assert r.df_milli == (vm1 + vm2) ** 2 * 1000 // (d1 + d2)


def test_q242_bh_fdr_hand_computed(spark, tmp_path, qs):
    """Source a = 10 short docs, source b = 10 long docs: each cell
    deviates by 5 from expectation, X^2 = (100)^2/2000 * 2 = 10 for
    both sources, p = exp(-5); with m=2 both pass their BH critical
    values (0.025, 0.05) so bh_k=2 and both are discoveries. The
    zero-observed cells contribute — the grid materializes them."""
    import math

    from airflow_spotify_etl_spark.sources.files import SCHEMAS

    rows = [(i, "x", "en", "a", 100) for i in range(10)]
    rows += [(100 + i, "x", "en", "b", 3000) for i in range(10)]
    spark.createDataFrame(rows, SCHEMAS["documents"]).write.mode(
        "overwrite").parquet(str(tmp_path / "documents.parquet"))
    out = {r.source: r for r in
           qs["q242_bh_fdr_sources"](spark, str(tmp_path)).collect()}
    a, b = out["a"], out["b"]
    assert a.x2_micro == b.x2_micro == 10_000_000
    assert a.p_value == round(math.exp(-5.0), 8)
    assert {a.i, b.i} == {1, 2} and a.m == 2
    assert a.bh_k == 2 and a.discovery and b.discovery


def test_q243_mann_kendall_hand_computed(spark, tmp_path, qs):
    """Counts [1,2,4] over 3 consecutive days: all 3 pairs rise, so
    S=3, tau=1. Slopes = {1, 2, 3/2} nano-floored; lower median at
    rn = (3+1) div 2 = 2 of sorted [1e9, 1.5e9, 2e9] -> 1.5e9."""
    from datetime import datetime

    from airflow_spotify_etl_spark.sources.files import SCHEMAS

    rows = []
    eid = 0
    for day, cnt in enumerate([1, 2, 4]):
        for _ in range(cnt):
            eid += 1
            rows.append((eid, datetime(2024, 3, 1 + day, 9), 1, "e", 1.0, "{}"))
    spark.createDataFrame(rows, SCHEMAS["events"]).write.mode(
        "overwrite").parquet(str(tmp_path / "events.parquet"))
    [r] = qs["q243_mann_kendall_theil_sen"](spark, str(tmp_path)).collect()
    assert (r.n, r.n_pairs, r.s) == (3, 3, 3)
    assert r.tau_micro == 1_000_000
    assert r.sen_slope_nano == 1_500_000_000


def test_q244_dyad_census_hand_computed(spark, tmp_path, qs):
    """User 1 walks items 1->2->1 (mutual dyad {1,2}); user 2 walks
    3->4 (asymmetric). V=4, D=3 directed edges, M=1, A=1,
    null = C(4,2)-2 = 4, r = 2/3."""
    import json
    from datetime import datetime

    from airflow_spotify_etl_spark.sources.files import SCHEMAS

    def e(eid, uid, minute, item):
        return (eid, datetime(2024, 1, 1, 10, minute), uid, "view",
                1.0, json.dumps({"k": item}))

    rows = [e(1, 1, 0, 1), e(2, 1, 1, 2), e(3, 1, 2, 1),
            e(4, 2, 0, 3), e(5, 2, 1, 4)]
    spark.createDataFrame(rows, SCHEMAS["events"]).write.mode(
        "overwrite").parquet(str(tmp_path / "events.parquet"))
    [r] = qs["q244_dyad_census"](spark, str(tmp_path)).collect()
    assert (r.v, r.d_edges, r.mutual, r.asym) == (4, 3, 1, 1)
    assert r.null_dyads_s == "4"
    assert r.reciprocity_micro == 2 * 10**6 // 3


def test_q245_rbo_hand_computed(spark, tmp_path, qs):
    """3 parts whose qty ranking [1,2,3] reverses in revenue [3,2,1]:
    entry depths m = {3,2,3} so ov = [0,1,3,3,...]; rbo_atto is the
    exact dyadic sum mirrored in Python bigints."""
    from datetime import datetime

    from airflow_spotify_etl_spark.sources.files import SCHEMAS

    ts = datetime(2024, 1, 1)
    rows = [
        (1, 1, 1, 1, 100.0, 10.0, 0.0, 0.0, "N", "O", ts),
        (2, 2, 1, 1, 50.0, 500.0, 0.0, 0.0, "N", "O", ts),
        (3, 3, 1, 1, 10.0, 9000.0, 0.0, 0.0, "N", "O", ts),
    ]
    spark.createDataFrame(rows, SCHEMAS["lineitem"]).write.mode(
        "overwrite").parquet(str(tmp_path / "lineitem.parquet"))
    [r] = qs["q245_rbo_rankings"](spark, str(tmp_path)).collect()
    ov = {d: (0 if d == 1 else 1 if d == 2 else 3) for d in range(1, 51)}
    expect = sum(ov[d] * 10**18 // (d * 2**d) for d in range(1, 51))
    assert (r.overlap_10, r.overlap_50) == (3, 3)
    assert r.rbo_atto == expect
    assert r.rbo == round(expect / 1e18, 6)


def test_q246_frequent_triples_hand_computed(spark, tmp_path, qs):
    """Baskets 1,2 = {1,2,3}; basket 3 = {1,2,3,4}; basket 4 = 31
    items (over the cubic cap, dropped). Triple (1,2,3) has support 3
    of 3 capped baskets; the three (x,y,4) triples have 1 (< 2,
    dropped). Order and every column asserted."""
    from datetime import datetime

    from airflow_spotify_etl_spark.sources.files import SCHEMAS

    ts = datetime(2024, 1, 1)
    li = []
    for b, parts in [(1, [1, 2, 3]), (2, [1, 2, 3]), (3, [1, 2, 3, 4]),
                     (4, list(range(100, 131)))]:
        for ln, p in enumerate(parts, 1):
            li.append((b, p, 1, ln, 1.0, 1.0, 0.0, 0.0, "N", "O", ts))
    spark.createDataFrame(li, SCHEMAS["lineitem"]).write.mode(
        "overwrite").parquet(str(tmp_path / "lineitem.parquet"))
    out = qs["q246_frequent_triples"](spark, str(tmp_path)).collect()
    assert [(r.item_a, r.item_b, r.item_c, r.n_abc, r.n_baskets,
             r.support_micro) for r in out] == [(1, 2, 3, 3, 3, 1_000_000)]


def test_q247_hurst_hand_computed(spark, tmp_path, qs):
    """Alternating [2,0] over a 9-day calendar (events on the even
    days; day 9 anchors the zero-filled span): every m=4 block is
    [2,0,2,0] with scaled deviations [4,0,4,0] -> R=4, S2m=16,
    R/S=1; the m=8 block gives R/S=1 too. Both log2 points are 0,
    so the fitted Hurst slope is exactly 0."""
    from datetime import datetime

    from airflow_spotify_etl_spark.sources.files import SCHEMAS

    rows = []
    eid = 0
    for day in range(9):
        cnt = 2 if day % 2 == 0 else 0
        for _ in range(cnt):
            eid += 1
            rows.append((eid, datetime(2024, 5, 1 + day, 8), 1, "e",
                         1.0, "{}"))
    spark.createDataFrame(rows, SCHEMAS["events"]).write.mode(
        "overwrite").parquet(str(tmp_path / "events.parquet"))
    out = {r.m: r for r in qs["q247_hurst_rs"](spark, str(tmp_path)).collect()}
    assert set(out) == {4, 8}
    assert out[4].n_blocks == 2 and out[8].n_blocks == 1
    assert out[4].rs_mean_micro == 1_000_000
    assert out[8].rs_mean_micro == 1_000_000
    assert out[4].y_nano == 0 and out[8].y_nano == 0
    assert out[4].hurst_micro == 0 and out[4].hurst == 0.0


def test_q248_gumbel_hand_computed(spark, tmp_path, qs):
    """Two weekly maxima {3, 5} (weeks anchored at epoch-day div 7):
    mean 4, sample sd sqrt(2); beta/mu/levels recomputed bit-for-bit
    with the same double chain in Python."""
    import math
    from datetime import datetime, timedelta

    from airflow_spotify_etl_spark.sources.files import SCHEMAS

    # 2024-01-01 is epoch day 19723; align block starts to day//7
    # boundaries by just using two dates 7 days apart.
    d0 = datetime(2024, 1, 1)
    rows = []
    eid = 0
    for _ in range(3):
        eid += 1
        rows.append((eid, d0, 1, "e", 1.0, "{}"))
    for _ in range(5):
        eid += 1
        rows.append((eid, d0 + timedelta(days=7), 1, "e", 1.0, "{}"))
    spark.createDataFrame(rows, SCHEMAS["events"]).write.mode(
        "overwrite").parquet(str(tmp_path / "events.parquet"))
    [r] = qs["q248_gumbel_return_levels"](spark, str(tmp_path)).collect()
    assert (r.k, r.sum_max, r.ss_s) == (2, 8, "34")
    mean, sd = 8 / 2, math.sqrt((2 * 34 - 64) / (2.0 * 1))
    beta = sd * math.sqrt(6.0) / math.pi
    mu = mean - 0.5772156649015329 * beta
    assert r.mu == round(mu, 4) and r.beta == round(beta, 4)
    for t, col in [(4, r.level_4w), (12, r.level_12w), (52, r.level_52w)]:
        assert col == round(mu - beta * math.log(-math.log(1.0 - 1.0 / t)), 4)


def test_q249_kn_perplexity_hand_computed(spark, tmp_path, qs):
    """Same corpus as q237 ('a b','a b','a c'): P(b|a)=16/24,
    P(c|a)=8/24; the per-source total is 2*ln(16/24)+ln(8/24) in
    exact nano quanta; perplexity mirrors the same double chain."""
    import math

    from airflow_spotify_etl_spark.sources.files import SCHEMAS

    rows = [
        (1, "a b", "en", "s", 3),
        (2, "a b", "en", "s", 3),
        (3, "a c", "en", "s", 3),
    ]
    spark.createDataFrame(rows, SCHEMAS["documents"]).write.mode(
        "overwrite").parquet(str(tmp_path / "documents.parquet"))
    [r] = qs["q249_kn_perplexity"](spark, str(tmp_path)).collect()
    lnp_ab = round((math.log(16) - math.log(24)) * 1e9)
    lnp_ac = round((math.log(8) - math.log(24)) * 1e9)
    total = 2 * lnp_ab + lnp_ac
    assert (r.source, r.n_bigrams) == ("s", 3)
    # sum_lnp_nano rides DECIMAL(38,0)/HUGEINT and is emitted as a
    # STRING (round-6 overflow sweep)
    assert r.sum_lnp_nano == str(total)
    avg = int(total / 3) if total >= 0 else -((-total) // 3)
    # Spark div / DuckDB // truncate toward zero on negatives
    assert r.avg_lnp_nano == avg
    assert r.perplexity == round(math.exp(-avg / 1e9), 4)


def test_q250_wasserstein_hand_computed(spark, tmp_path, qs):
    """purchase = {1,2}s, view = {3,4}s (ms quanta): the CDF gap is
    |F_A - F_B| = {1/2 on [1000,2000), 1 on [2000,3000),
    1/2 on [3000,4000)} so W1 = 2000 ms exactly -> 2e9 micro-ms;
    normalized by the 3000 ms range -> 2/3."""
    from datetime import datetime

    from airflow_spotify_etl_spark.sources.files import SCHEMAS

    ts = datetime(2024, 1, 1)
    rows = [(1, ts, 1, "purchase", 1.0, "{}"),
            (2, ts, 1, "purchase", 2.0, "{}"),
            (3, ts, 2, "view", 3.0, "{}"),
            (4, ts, 2, "view", 4.0, "{}")]
    spark.createDataFrame(rows, SCHEMAS["events"]).write.mode(
        "overwrite").parquet(str(tmp_path / "events.parquet"))
    [r] = qs["q250_wasserstein_drift"](spark, str(tmp_path)).collect()
    assert (r.na, r.nb) == (2, 2)
    # num = sum |cumA*nb - cumB*na| * dv = |2|*1000 + |4|*1000 + |2|*1000
    assert r.num_s == str(8000)
    assert r.w1_micro == 8000 * 10**6 // 4
    assert r.w1_norm_micro == 8000 * 10**6 // (4 * 3000)


def test_q251_poisson_bootstrap_bitexact(spark, tmp_path, qs):
    """10 orders with known prices: every hash draw, weight, replicate
    mean, and the order-statistic CI are recomputed bit-for-bit in
    Python from the same md5('okey:b') construction."""
    import hashlib
    from datetime import datetime

    from airflow_spotify_etl_spark.plans.relational import _POIS1_T
    from airflow_spotify_etl_spark.sources.files import SCHEMAS

    ts = datetime(2024, 1, 1)
    prices = [100.0 * (i + 1) for i in range(10)]
    rows = [(i + 1, 1, "O", p, ts, "1-URGENT") for i, p in enumerate(prices)]
    spark.createDataFrame(rows, SCHEMAS["orders"]).write.mode(
        "overwrite").parquet(str(tmp_path / "orders.parquet"))

    def weight(okey, b):
        u = int(hashlib.md5(f"{okey}:{b}".encode()).hexdigest()[:8], 16)
        for k, t in enumerate(_POIS1_T):
            if u < t:
                return k
        return 6

    means = []
    for b in range(1, 51):
        sw = swx = 0
        for i, p in enumerate(prices):
            w = weight(i + 1, b)
            sw += w
            swx += w * round(p * 100)
        means.append(swx * 10000 // sw if sw > 0 else None)
    ordered = sorted(range(50), key=lambda i: (means[i], i + 1))
    lo, hi = means[ordered[1]], means[ordered[48]]
    point = sum(round(p * 100) for p in prices) * 10000 // 10
    [r] = qs["q251_poisson_bootstrap_ci"](spark, str(tmp_path)).collect()
    assert (r.n, r.b_count) == (10, 50)
    assert r.mean_c4 == point
    assert (r.lo_c4, r.hi_c4) == (lo, hi)


def test_q252_jackknife_hand_computed(spark, tmp_path, qs):
    """Source a = lengths {100,200}, source b = {600}: leave-out
    means 600 and 150, their squared deviations from 375 give
    jackknife SE = sqrt((1/2)*2*225^2) = 225.0 exactly."""
    from airflow_spotify_etl_spark.sources.files import SCHEMAS

    rows = [(1, "x", "en", "a", 100), (2, "x", "en", "a", 200),
            (3, "x", "en", "b", 600)]
    spark.createDataFrame(rows, SCHEMAS["documents"]).write.mode(
        "overwrite").parquet(str(tmp_path / "documents.parquet"))
    out = {r.source: r for r in
           qs["q252_jackknife_by_source"](spark, str(tmp_path)).collect()}
    a, b = out["a"], out["b"]
    assert a.mean_micro == 300 * 10**6
    assert a.loo_mean_micro == 600 * 10**6
    assert b.loo_mean_micro == 150 * 10**6
    assert a.influence_micro == 300 * 10**6
    assert b.influence_micro == -150 * 10**6
    assert a.jackknife_se == 225.0


def test_q253_segmentation_hand_computed(spark, tmp_path, qs):
    """Counts [5,5,1,1,9,9] over 6 days: the unique zero-cost
    3-segmentation is [1,2][3,4][5,6]; every boundary, sum and cost
    asserted exactly."""
    from datetime import datetime

    from airflow_spotify_etl_spark.sources.files import SCHEMAS

    rows = []
    eid = 0
    for day, cnt in enumerate([5, 5, 1, 1, 9, 9]):
        for _ in range(cnt):
            eid += 1
            rows.append((eid, datetime(2024, 7, 1 + day, 6), 1, "e",
                         1.0, "{}"))
    spark.createDataFrame(rows, SCHEMAS["events"]).write.mode(
        "overwrite").parquet(str(tmp_path / "events.parquet"))
    out = qs["q253_optimal_segmentation"](spark, str(tmp_path)).collect()
    assert [(r.seg_id, r.start_date.isoformat(), r.end_date.isoformat(),
             r.len, r.seg_sum, r.sse_micro, r.total_cost_micro)
            for r in out] == [
        (1, "2024-07-01", "2024-07-02", 2, 10, 0, 0),
        (2, "2024-07-03", "2024-07-04", 2, 2, 0, 0),
        (3, "2024-07-05", "2024-07-06", 2, 18, 0, 0),
    ]


def test_q254_burrows_delta_hand_computed(spark, tmp_path, qs):
    """Mirrored styles: a='x x x y', b='x y y y'. Both words get
    sd = 250000 micro, z = ±1000 milli, so Delta(a,b) = 2000 milli
    exactly."""
    from airflow_spotify_etl_spark.sources.files import SCHEMAS

    rows = [(1, "x x x y", "en", "a", 7), (2, "x y y y", "en", "b", 7)]
    spark.createDataFrame(rows, SCHEMAS["documents"]).write.mode(
        "overwrite").parquet(str(tmp_path / "documents.parquet"))
    [r] = qs["q254_burrows_delta"](spark, str(tmp_path)).collect()
    assert (r.sa, r.sb, r.n_words) == ("a", "b", 2)
    assert r.sum_absdz_milli == 4000
    assert r.delta_milli == 2000


def test_q255_robust_means_hand_computed(spark, tmp_path, qs):
    """One segment, values $1..$9 plus a $1000 outlier (n=10, k=1):
    the trim drops $1 and $1000, the winsorization replaces them with
    the rank-2/rank-9 values $2/$9 — every quotient exact."""
    from datetime import datetime

    from airflow_spotify_etl_spark.sources.files import SCHEMAS

    ts = datetime(2024, 1, 1)
    vals = [float(x) for x in range(1, 10)] + [1000.0]
    orders = [(i + 1, 1, "O", v, ts, "1-URGENT") for i, v in enumerate(vals)]
    cust = [(1, "a", 0, 0.0, "BUILDING")]
    spark.createDataFrame(orders, SCHEMAS["orders"]).write.mode(
        "overwrite").parquet(str(tmp_path / "orders.parquet"))
    spark.createDataFrame(cust, SCHEMAS["customer"]).write.mode(
        "overwrite").parquet(str(tmp_path / "customer.parquet"))
    [r] = qs["q255_robust_means"](spark, str(tmp_path)).collect()
    assert (r.n, r.k, r.p10_c, r.p90_c) == (10, 1, 200, 900)
    assert r.mean_c4 == 104_500 * 10**4 // 10
    assert r.trimmed_mean_c4 == 4_400 * 10**4 // 8
    assert r.winsor_mean_c4 == 5_500 * 10**4 // 10


def test_q256_mmr_python_mirror(spark, tmp_path, qs):
    """7 float32-exact vectors; the greedy MMR (rel to vec 0, 0.7/0.3,
    vec_id ties) is mirrored in Python with the same left-fold float
    arithmetic and must match pick-for-pick and score-for-score."""
    import math

    from pyspark.sql.types import (ArrayType, FloatType, IntegerType,
                                   LongType, StructField, StructType)

    vecs = {
        0: [1.0, 1.0, 0.0],
        1: [2.0, 2.0, 0.0],
        2: [2.0, 2.0, 0.0],
        3: [1.0, 0.0, 0.5],
        4: [0.0, 1.0, 0.5],
        5: [0.5, 0.5, 2.0],
        6: [1.0, 0.5, 0.25],
    }
    schema = StructType([
        StructField("vec_id", LongType()),
        StructField("embedding", ArrayType(FloatType())),
        StructField("label", IntegerType()),
    ])
    rows = [(k, v, 0) for k, v in vecs.items()]
    spark.createDataFrame(rows, schema).write.mode("overwrite").parquet(
        str(tmp_path / "embeddings.parquet"))

    def dot(a, b):
        acc = 0.0
        for x, y in zip(a, b):
            acc += x * y
        return acc

    def cos(a, b):
        return dot(a, b) / (math.sqrt(dot(a, a)) * math.sqrt(dot(b, b)))

    qv = vecs[0]
    cands = sorted(vecs)[1:]
    rel = {i: cos(qv, vecs[i]) for i in cands}
    top = sorted(cands, key=lambda i: (-rel[i], i))[:20]
    sel, expect = [], []
    first = min(top, key=lambda i: (-rel[i], i))
    sel.append(first)
    expect.append((1, first, round(0.7 * rel[first], 4)))
    for rank in range(2, 6):
        best = None
        for i in top:
            if i in sel:
                continue
            ms = max(cos(vecs[i], vecs[s]) for s in sel)
            score = 0.7 * rel[i] - 0.3 * ms
            key = (-score, i)
            if best is None or key < best[0]:
                best = (key, i, score)
        sel.append(best[1])
        expect.append((rank, best[1], round(best[2], 4)))
    got = [(r.rank, r.vec_id, r.mmr_score) for r in
           qs["q256_mmr_selection"](spark, str(tmp_path)).collect()]
    assert got == expect


def test_q257_rrf_python_mirror(spark, tmp_path, qs):
    """6 docs (each with at most ONE bm25 query term so the per-doc
    partial sum is a single float term), 4 candidate embeddings; the
    whole RRF fusion — bm25 ranks, cosine ranks, exact-integer pico
    scores — is mirrored in Python and must match row-for-row.
    Docs 5-6 have terms but no embedding (bm25-only rows); vecs 3-4
    have embeddings but no terms (dense-only rows)."""
    import math

    from pyspark.sql.types import (ArrayType, FloatType, IntegerType,
                                   LongType, StructField, StructType)
    from airflow_spotify_etl_spark.sources.files import SCHEMAS

    texts = {
        1: "spark spark spark pad pad",
        2: "vector pad pad pad",
        3: "pad pad pad pad pad pad",
        4: "pad pad",
        5: "hash hash pad",
        6: "spark pad pad pad pad pad pad pad",
    }
    doc_rows = [(i, t, "en", "s", len(t)) for i, t in texts.items()]
    spark.createDataFrame(doc_rows, SCHEMAS["documents"]).write.parquet(
        str(tmp_path / "documents.parquet"))

    vecs = {
        0: [1.0, 0.5, 0.0],
        1: [2.0, 1.0, 0.0],
        2: [1.0, 1.0, 0.5],
        3: [0.0, 1.0, 1.0],
        4: [1.0, 0.4, 0.1],
    }
    eschema = StructType([
        StructField("vec_id", LongType()),
        StructField("embedding", ArrayType(FloatType())),
        StructField("label", IntegerType()),
    ])
    spark.createDataFrame(
        [(k, v, 0) for k, v in vecs.items()], eschema
    ).write.parquet(str(tmp_path / "embeddings.parquet"))

    # --- Python mirror ---
    toks = {i: t.split() for i, t in texts.items()}
    dl = {i: len(w) for i, w in toks.items()}
    n, avgdl = float(len(dl)), sum(dl.values()) / len(dl)
    terms = ["spark", "vector", "hash"]
    tf = {(i, t): toks[i].count(t) for i in toks for t in terms
          if toks[i].count(t) > 0}
    df = {t: sum(1 for (i, t2) in tf if t2 == t) for t in terms}
    bm = {}
    for (i, t), f in tf.items():
        idf = math.log((n - df[t] + 0.5) / (df[t] + 0.5) + 1)
        part = idf * (f * 2.2 / (f + 1.2 * (1 - 0.75 + 0.75 * dl[i] / avgdl)))
        bm[i] = round(bm.get(i, 0.0) + part, 4)
    bm_order = sorted(bm, key=lambda i: (-bm[i], i))[:20]
    rb = {i: r for r, i in enumerate(bm_order, 1)}

    def dot(a, b):
        acc = 0.0
        for x, y in zip(a, b):
            acc += x * y
        return acc

    def cos(a, b):
        return dot(a, b) / (math.sqrt(dot(a, a)) * math.sqrt(dot(b, b)))

    qv = vecs[0]
    cands = [i for i in sorted(vecs) if i > 0]
    cs = {i: cos(qv, vecs[i]) for i in cands}
    de_order = sorted(cands, key=lambda i: (-cs[i], i))[:20]
    rd = {i: r for r, i in enumerate(de_order, 1)}

    fused = []
    for i in sorted(set(rb) | set(rd)):
        if i in rb and i in rd:
            num, den = 120 + rb[i] + rd[i], (60 + rb[i]) * (60 + rd[i])
        elif i in rb:
            num, den = 1, 60 + rb[i]
        else:
            num, den = 1, 60 + rd[i]
        fused.append((i, rb.get(i, 0), rd.get(i, 0),
                      (num * 10**12) // den))
    fused.sort(key=lambda r: (-r[3], r[0]))
    expect = [(k, *row) for k, row in enumerate(fused[:10], 1)]

    got = [(r.rank, r.doc_id, r.bm25_rank, r.dense_rank, r.rrf_pico)
           for r in qs["q257_rrf_hybrid_search"](spark, str(tmp_path)).collect()]
    assert got == expect
    # sanity on the planted design: both-ranker, bm25-only and
    # dense-only docs are all present in the fused list
    kinds = {(g[2] > 0, g[3] > 0) for g in got}
    assert {(True, True), (True, False), (False, True)} <= kinds


def test_q258_ndcg_python_mirror(spark, tmp_path, qs):
    """2 queries (labels 10, 20) + 8 corpus vectors with controlled
    labels; the full NDCG@10 — cosine ranks, graded gains (3 exact /
    1 adjacent / 0), nano-floored DCG terms, ideal ranking — is
    mirrored in Python and must match exactly. One query has zero
    relevant docs and must report ndcg = 0.0 via the IDCG guard."""
    import math

    from pyspark.sql.types import (ArrayType, FloatType, IntegerType,
                                   LongType, StructField, StructType)

    rows = [
        (0, [1.0, 0.0, 0.0], 10),
        (1, [0.0, 1.0, 0.0], 99),   # no corpus label equals or adjoins 99
        (5, [1.0, 0.1, 0.0], 10),   # exact match, top cosine for q0
        (6, [1.0, 0.2, 0.0], 11),   # adjacent
        (7, [0.9, 0.3, 0.1], 50),   # irrelevant
        (8, [0.0, 0.9, 0.1], 10),   # exact for q0 but ranks 1st for q1
        (9, [0.5, 0.5, 0.0], 9),    # adjacent to 10
        (10, [0.2, 0.8, 0.0], 42),
        (11, [0.1, 0.1, 1.0], 10),
        (12, [0.3, 0.2, 0.9], 11),
    ]
    schema = StructType([
        StructField("vec_id", LongType()),
        StructField("embedding", ArrayType(FloatType())),
        StructField("label", IntegerType()),
    ])
    spark.createDataFrame(rows, schema).write.parquet(
        str(tmp_path / "embeddings.parquet"))

    def dot(a, b):
        acc = 0.0
        for x, y in zip(a, b):
            acc += x * y
        return acc

    def cos(a, b):
        return dot(a, b) / (math.sqrt(dot(a, a)) * math.sqrt(dot(b, b)))

    qset = {i: (v, l) for i, v, l in rows if i < 5}
    corpus = [(i, v, l) for i, v, l in rows if i >= 5]
    expect = []
    for qid in sorted(qset):
        qv, ql = qset[qid]
        gains = {
            i: (3 if l == ql else (1 if abs(l - ql) == 1 else 0))
            for i, _, l in corpus
        }
        ret = sorted(corpus, key=lambda r: (-cos(qv, r[1]), r[0]))[:10]
        dcg = sum(
            int(math.floor(gains[i] * 1e9 / math.log2(r + 1)))
            for r, (i, _, _) in enumerate(ret, 1)
        )
        ideal = sorted(corpus, key=lambda r: (-gains[r[0]], r[0]))[:10]
        idcg = sum(
            int(math.floor(gains[i] * 1e9 / math.log2(r + 1)))
            for r, (i, _, _) in enumerate(ideal, 1)
        )
        ndcg = round(dcg / idcg, 6) if idcg > 0 else 0.0
        expect.append((qid, dcg, idcg, ndcg))

    got = [(r.query_id, r.dcg_nano, r.idcg_nano, r.ndcg_at_10)
           for r in qs["q258_ndcg_eval"](spark, str(tmp_path)).collect()]
    assert got == expect
    assert expect[1][2] == 0 and expect[1][3] == 0.0  # the zero-IDCG guard fired


def test_q259_count_min_python_mirror(spark, tmp_path, qs):
    """Small controlled vocabulary; the CMS (depth 4, width 1024,
    md5-slice hashing) is mirrored in Python with hashlib and must
    match estimate-for-estimate; CMS >= exact must hold on every row."""
    import hashlib

    from airflow_spotify_etl_spark.sources.files import SCHEMAS

    texts = {
        1: "alpha alpha alpha beta",
        2: "beta gamma gamma delta",
        3: "alpha epsilon zeta eta theta",
        4: "beta beta alpha",
    }
    doc_rows = [(i, t, "en", "s", len(t)) for i, t in texts.items()]
    spark.createDataFrame(doc_rows, SCHEMAS["documents"]).write.parquet(
        str(tmp_path / "documents.parquet"))

    toks = [w for t in texts.values() for w in t.split()]
    exact = {}
    for w in toks:
        exact[w] = exact.get(w, 0) + 1

    def bucket(row, tok):
        h = hashlib.md5(f"{row}:{tok}".encode()).hexdigest()[:8]
        return int(h, 16) % 1024

    cells = {}
    for w in toks:
        for r in range(4):
            key = (r, bucket(r, w))
            cells[key] = cells.get(key, 0) + 1

    top = sorted(exact, key=lambda w: (-exact[w], w))[:20]
    rare = sorted(exact, key=lambda w: (exact[w], w))[:5]
    probes = set(top) | set(rare)
    expect = sorted(
        (
            (w, exact[w], min(cells[(r, bucket(r, w))] for r in range(4)))
            for w in probes
        ),
        key=lambda t: (-t[1], t[0]),
    )
    expect = [(w, e, c, c - e) for w, e, c in expect]

    got = [(r.tok, r.exact_cnt, r.cms_est, r.overcount)
           for r in qs["q259_count_min_tokens"](spark, str(tmp_path)).collect()]
    assert got == expect
    assert all(row[3] >= 0 for row in got)  # CMS never underestimates


def test_q260_pav_identity(spark, qs):
    """The minimax formulation iso_i = max_{j<=i} min_{k>=i} rate(j..k)
    must equal the classic sequential pool-adjacent-violators algorithm
    run on the query's own (bin, n, n_keep) rows: floor is monotone, so
    flooring interval rates to nanos before the minimax equals flooring
    the exact PAV block rate. Also asserts monotone nondecreasing."""
    rows = qs["q260_isotonic_calibration"](
        spark, "/root/testdata/sf0.001").collect()
    assert len(rows) >= 2

    # classic PAV on (n, n_keep) in bin order
    blocks = [[r.n_keep, r.n] for r in sorted(rows, key=lambda r: r.bin)]
    i = 0
    while i < len(blocks) - 1:
        # compare rationals keep/n by cross-multiplication (exact)
        if blocks[i][0] * blocks[i + 1][1] > blocks[i + 1][0] * blocks[i][1]:
            blocks[i][0] += blocks[i + 1][0]
            blocks[i][1] += blocks[i + 1][1]
            del blocks[i + 1]
            i = max(i - 1, 0)
        else:
            i += 1
    expanded = []
    bi = iter(sorted(rows, key=lambda r: r.bin))
    for keep, n in blocks:
        acc_n = 0
        while acc_n < n:
            r = next(bi)
            acc_n += r.n
            expanded.append((keep * 10**9) // n)
        assert acc_n == n  # blocks align on bin boundaries

    got = [r.iso_nano for r in sorted(rows, key=lambda r: r.bin)]
    assert got == expanded
    assert all(a <= b for a, b in zip(got, got[1:]))  # monotone fit


def test_q261_good_turing_hand_computed(spark, tmp_path, qs):
    """Vocabulary engineered so N_1=3, N_2=2, N_3=1, N_5=1: checks the
    r+1 self-join, the left-join zero for missing N_{r+1}, and the
    exact micro floor division."""
    from airflow_spotify_etl_spark.sources.files import SCHEMAS

    # counts: a=5, b=3, c=2, d=2, e=1, f=1, g=1
    text = " ".join(["a"] * 5 + ["b"] * 3 + ["c"] * 2 + ["d"] * 2
                    + ["e", "f", "g"])
    rows = [(1, text, "en", "s", len(text))]
    spark.createDataFrame(rows, SCHEMAS["documents"]).write.parquet(
        str(tmp_path / "documents.parquet"))

    got = {r.r: (r.n_r, r.n_next, r.rstar_micro)
           for r in qs["q261_good_turing"](spark, str(tmp_path)).collect()}
    assert got == {
        1: (3, 2, (2 * 2 * 10**6) // 3),   # r*=2*N2/N1
        2: (2, 1, (3 * 1 * 10**6) // 2),   # r*=3*N3/N2
        3: (1, 0, 0),                      # N_4 = 0 -> degenerate 0
        5: (1, 0, 0),                      # N_6 = 0
    }


def test_q262_padding_hand_computed(spark, tmp_path, qs):
    """Lengths 1, 64, 65, 300, 3000 hit the 64/128/512/2048 buckets;
    the 3000-token doc is truncated (kept 2048, lost 952); the empty
    doc counts as length 0. All columns hand-verified integers."""
    from airflow_spotify_etl_spark.sources.files import SCHEMAS

    def words(n):
        return " ".join(["w"] * n)

    rows = [
        (1, words(1), "en", "s", 1),
        (2, words(64), "en", "s", 64),
        (3, words(65), "en", "s", 65),
        (4, words(300), "en", "s", 300),
        (5, words(3000), "en", "s", 3000),
        (6, "", "en", "s", 0),          # empty -> len 0 -> 64 bucket
        (7, "   ", "en", "s", 3),       # whitespace-only -> len 0
    ]
    spark.createDataFrame(rows, SCHEMAS["documents"]).write.parquet(
        str(tmp_path / "documents.parquet"))

    got = {r.bucket_cap: (r.n_docs, r.token_sum, r.tokens_kept,
                          r.trunc_loss, r.padded, r.eff_ppm)
           for r in qs["q262_length_bucket_padding"](spark, str(tmp_path)).collect()}
    assert got == {
        64:   (4, 65, 65, 0, 256, (65 * 10**6) // 256),
        128:  (1, 65, 65, 0, 128, (65 * 10**6) // 128),
        512:  (1, 300, 300, 0, 512, (300 * 10**6) // 512),
        2048: (1, 3000, 2048, 952, 2048, (2048 * 10**6) // 2048),
    }


def test_q263_pca_vs_numpy(spark, tmp_path, qs):
    """30 deterministic 6-dim vectors with a dominant direction along
    (2, 1, 0, 0, 0, 0)-ish; the integer power iteration's top component
    must align with numpy's exact top eigenvector (|cosine| > 0.999)
    and the explained share must be within 1% of the exact ratio."""
    import numpy as np
    from pyspark.sql.types import (ArrayType, FloatType, IntegerType,
                                   LongType, StructField, StructType)

    rng = [((i * 37 + 11) % 21 - 10) / 10.0 for i in range(180)]
    base = np.array([2.0, 1.0, 0.0, 0.0, 0.0, 0.0])
    vecs = []
    for r in range(30):
        t = (r - 15) / 5.0
        noise = np.array(rng[r * 6:(r + 1) * 6]) * 0.15
        vecs.append((t * base + noise).astype("float32"))

    schema = StructType([
        StructField("vec_id", LongType()),
        StructField("embedding", ArrayType(FloatType())),
        StructField("label", IntegerType()),
    ])
    spark.createDataFrame(
        [(i, [float(x) for x in v], 0) for i, v in enumerate(vecs)], schema
    ).write.parquet(str(tmp_path / "embeddings.parquet"))

    rows = qs["q263_pca_power_iteration"](spark, str(tmp_path)).collect()
    assert len(rows) == 6  # top-8 capped at d=6
    assert rows[0].rank == 1

    X = np.array([v.astype("float64") for v in vecs])
    C = np.cov(X, rowvar=False, bias=True)
    evals, evecs = np.linalg.eigh(C)
    top = evecs[:, -1]
    share_exact = evals[-1] / evals.sum()

    v = np.zeros(6)
    for r in rows:
        v[r.dim] = r.loading_micro
    v = v / np.linalg.norm(v)
    assert abs(float(np.dot(v, top))) > 0.999
    assert rows[0].dim == int(np.argmax(np.abs(top)))
    assert abs(rows[0].share_ppm / 1e6 - share_exact) < 0.01
    # sign convention: the largest-|loading| dim is positive
    assert rows[0].loading_micro > 0
    # share is constant across rows
    assert len({r.share_ppm for r in rows}) == 1


def test_q263_rejects_null_or_ragged_embeddings(spark, tmp_path, qs):
    """n counts embedding rows, so every row must be a vector of one
    width: a NULL or a shorter embedding raises instead of silently
    leaving the covariance's n short."""
    from pyspark.sql.types import (ArrayType, FloatType, IntegerType,
                                   LongType, StructField, StructType)

    schema = StructType([
        StructField("vec_id", LongType()),
        StructField("embedding", ArrayType(FloatType())),
        StructField("label", IntegerType()),
    ])
    good = [(i, [float(i), 1.0, -float(i)], 0) for i in range(6)]
    for bad in ((6, None, 0), (6, [1.0, 2.0], 0)):
        d = tmp_path / str(len(bad[1] or []))
        spark.createDataFrame(good + [bad], schema).write.parquet(
            str(d / "embeddings.parquet")
        )
        with pytest.raises(ValueError, match="one fixed width"):
            qs["q263_pca_power_iteration"](spark, str(d))


def test_q264_simpson_classic_reversal(spark, tmp_path, qs):
    """The textbook Simpson construction: cohort A beats B inside BOTH
    segments, yet pooled B beats A because A's volume concentrates in
    the low-rate segment. Both segment rows must flag reverses=True."""
    import datetime

    from airflow_spotify_etl_spark.sources.files import SCHEMAS

    # SEG1 (low-rate): A 10/100 succ, B 1/20  -> A .10 > B .05
    # SEG2 (high-rate): A 19/20 succ, B 90/100 -> A .95 > B .90
    # pooled: A 29/120 (.24) < B 91/120 (.76) -> reversal in both segs
    custs = [
        (1, "a1", 0, 100.0, "SEG1"), (2, "a2", 0, 100.0, "SEG2"),
        (3, "b1", 0, -50.0, "SEG1"), (4, "b2", 0, -50.0, "SEG2"),
    ]
    spark.createDataFrame(custs, SCHEMAS["customer"]).write.parquet(
        str(tmp_path / "customer.parquet"))

    ts = datetime.datetime(2024, 1, 1)
    ev, eid = [], 0

    def emit(user, succ, tot):
        nonlocal eid, ev
        for k in range(tot):
            et = "purchase" if k < succ else "view"
            ev.append((eid, ts, user, et, 1.0, "{}"))
            eid += 1

    emit(1, 10, 100)   # A in SEG1
    emit(2, 19, 20)    # A in SEG2
    emit(3, 1, 20)     # B in SEG1
    emit(4, 90, 100)   # B in SEG2
    # noise the join must drop: unknown user + excluded event type
    ev.append((eid, ts, 99, "purchase", 1.0, "{}"))
    ev.append((eid + 1, ts, 1, "error", 1.0, "{}"))
    spark.createDataFrame(ev, SCHEMAS["events"]).write.parquet(
        str(tmp_path / "events.parquet"))

    got = {r.segment: r for r in
           qs["q264_simpson_audit"](spark, str(tmp_path)).collect()}
    s1, s2 = got["SEG1"], got["SEG2"]
    assert (s1.a_succ, s1.a_tot, s1.b_succ, s1.b_tot) == (10, 100, 1, 20)
    assert (s2.a_succ, s2.a_tot, s2.b_succ, s2.b_tot) == (19, 20, 90, 100)
    assert s1.seg_dir == 1 and s2.seg_dir == 1      # A wins in both
    assert s1.pooled_dir == -1                       # B wins pooled
    assert s1.reverses and s2.reverses
    assert (s1.a_rate, s1.b_rate) == (0.1, 0.05)


def test_q265_scorecard_python_mirror(spark, sf_dir, qs):
    """Recompute ECE/MCE/Brier in Python from the engine's own raw
    (si, y) pairs at sf0.001 — independently re-deriving the binned
    integer reductions — and require exact equality."""
    import pyspark.sql.functions as F
    from airflow_spotify_etl_spark.operators.text import hashed_linear_score
    from airflow_spotify_etl_spark.plans.llm import q58_gopher_quality_flags
    from airflow_spotify_etl_spark.sources.files import load_table

    docs = load_table(spark, sf_dir, "documents")
    scores = hashed_linear_score(docs, n_buckets=4096).select("doc_id", "score")
    labels = q58_gopher_quality_flags(spark, sf_dir).select("doc_id", "keep")
    pairs = [
        (int(r.si), int(r.y))
        for r in scores.join(labels, "doc_id")
        .select(
            F.expr("CAST(round(score * 10000) AS BIGINT)").alias("si"),
            F.col("keep").cast("long").alias("y"),
        )
        .collect()
    ]
    assert pairs
    bins = {}
    for si, y in pairs:
        b = min(max(si // 1000, 0), 9)
        n, k, ssum, sq = bins.get(b, (0, 0, 0, 0))
        bins[b] = (n + 1, k + y, ssum + si, sq + (si - y * 10000) ** 2)
    N = sum(v[0] for v in bins.values())
    gap_sum = sum(abs(k * 10000 - ssum) for _, k, ssum, _ in bins.values())
    ece = (gap_sum * 10**6) // (N * 10**4)
    mce = max(
        (abs(k * 10000 - ssum) * 10**6) // (n * 10**4)
        for n, k, ssum, _ in bins.values()
    )
    brier = (sum(v[3] for v in bins.values()) * 10**6) // (N * 10**8)

    row = qs["q265_calibration_scorecard"](spark, sf_dir).collect()[0]
    assert (row.n_docs, row.ece_ppm, row.mce_ppm, row.brier_ppm) == (
        N, ece, mce, brier)


def test_q266_textrank_python_mirror(spark, tmp_path, qs):
    """Tiny engineered corpus; the full TextRank — adjacency pairing,
    length>=5 filter, bidirectional weighted edges, 5 damped
    iterations with dangling redistribution — is mirrored in Python
    floats and must match token-for-token at round-6."""
    from airflow_spotify_etl_spark.sources.files import SCHEMAS

    texts = {
        1: "alpha1 bravo2 alpha1 bravo2 alpha1",
        2: "bravo2 charlie3 delta4 charlie3",
        3: "delta4 echo5 x y z",          # short tokens x,y,z drop out
        4: "solo5",                        # no pairs
    }
    rows = [(i, t, "en", "s", len(t)) for i, t in texts.items()]
    spark.createDataFrame(rows, SCHEMAS["documents"]).write.parquet(
        str(tmp_path / "documents.parquet"))

    # mirror: pairs over the raw split arrays
    import re
    w = {}
    for t in texts.values():
        arr = re.split(r"\s+", t.lower())
        for i in range(len(arr) - 1):
            a, b = arr[i], arr[i + 1]
            if len(a) >= 5 and len(b) >= 5 and a != b:
                w[(a, b)] = w.get((a, b), 0) + 1
                w[(b, a)] = w.get((b, a), 0) + 1
    nodes = sorted({x for e in w for x in e})
    n = len(nodes)
    outw = {}
    for (a, _b), c in w.items():
        outw[a] = outw.get(a, 0) + c
    rank = {v: 1.0 / n for v in nodes}
    d = 0.85
    for _ in range(5):
        dang = sum(rank[v] for v in nodes if v not in outw)
        inf = {v: 0.0 for v in nodes}
        for (a, b), c in w.items():
            inf[b] += rank[a] * c / outw[a]
        rank = {v: (1 - d) / n + d * (inf[v] + dang / n) for v in nodes}
    expect = sorted(
        ((t, round(r, 6)) for t, r in rank.items()),
        key=lambda x: (-x[1], x[0]),
    )[:15]

    got = [(r.token, r.rank) for r in
           qs["q266_textrank_keywords"](spark, str(tmp_path)).collect()]
    assert got == expect
    assert "solo5" not in {t for t, _ in got}  # pairless doc contributes nothing


def test_q267_chow_vs_numpy(spark, tmp_path, qs):
    """10 days with a hard level+slope break at the midpoint; the F
    statistic must match a numpy lstsq reference to 4 decimals and be
    large; also checks the pooled-SSE decomposition signs."""
    import datetime

    import numpy as np
    from airflow_spotify_etl_spark.sources.files import SCHEMAS

    counts = [10, 13, 14, 17, 18, 118, 115, 114, 111, 110]
    rows, eid = [], 0
    for day, c in enumerate(counts):
        ts = datetime.datetime(2024, 3, 1 + day, 12, 0, 0)
        for _ in range(c):
            rows.append((eid, ts, 1, "view", 1.0, "{}"))
            eid += 1
    spark.createDataFrame(rows, SCHEMAS["events"]).write.parquet(
        str(tmp_path / "events.parquet"))

    def sse(ts_, ys_):
        A = np.vstack([np.ones(len(ts_)), ts_]).T
        coef, res, *_ = np.linalg.lstsq(A, np.array(ys_, dtype=float),
                                        rcond=None)
        pred = A @ coef
        return float(((np.array(ys_, dtype=float) - pred) ** 2).sum())

    t = list(range(1, 11))
    n, m = 10, 5
    s_p = sse(t, counts)
    s_1 = sse(t[:m], counts[:m])
    s_2 = sse(t[m:], counts[m:])
    f_ref = ((s_p - s_1 - s_2) / 2.0) / ((s_1 + s_2) / (n - 4))

    r = qs["q267_chow_break_test"](spark, str(tmp_path)).collect()[0]
    assert (r.n, r.break_t) == (10, 5)
    assert abs(r.sse_pooled - round(s_p, 4)) < 1e-3
    assert abs(r.sse_1 - round(s_1, 4)) < 1e-3
    assert abs(r.sse_2 - round(s_2, 4)) < 1e-3
    assert abs(r.f_stat - f_ref) < 0.01 and r.f_stat > 100.0


def test_q268_cochran_armitage_mirror(spark, sf_dir, qs):
    """Recompute the CA trend z from the engine's raw decile table in
    Python (scipy-textbook formula) and require 4-decimal equality
    on both z and its chi-square."""
    import math

    import pyspark.sql.functions as F
    from airflow_spotify_etl_spark.operators.text import hashed_linear_score
    from airflow_spotify_etl_spark.plans.llm import q58_gopher_quality_flags
    from airflow_spotify_etl_spark.sources.files import load_table

    docs = load_table(spark, sf_dir, "documents")
    scores = hashed_linear_score(docs, n_buckets=4096).select("doc_id", "score")
    labels = q58_gopher_quality_flags(spark, sf_dir).select("doc_id", "keep")
    pairs = [
        (int(r.w), int(r.y))
        for r in scores.join(labels, "doc_id")
        .select(
            F.least(
                F.greatest(
                    F.expr("CAST(round(score * 10000) AS BIGINT) div 1000"),
                    F.lit(0),
                ),
                F.lit(9),
            ).alias("w"),
            F.col("keep").cast("long").alias("y"),
        )
        .collect()
    ]
    N = len(pairs)
    K = sum(y for _, y in pairs)
    swn = sum(w for w, _ in pairs)
    swk = sum(w for w, y in pairs if y)
    swwn = sum(w * w for w, _ in pairs)
    z = (swk - K * swn / N) / math.sqrt(
        K * (N - K) / (N * (N - 1.0)) * (swwn - swn * swn / N)
    )
    row = qs["q268_cochran_armitage_trend"](spark, sf_dir).collect()[0]
    assert (row.n_docs, row.n_keep, row.swn, row.swk, row.swwn) == (
        N, K, swn, swk, swwn)
    assert abs(row.z_trend - round(z, 4)) < 1e-3
    assert abs(row.chi2_1df - round(z * z, 4)) < 1e-3


def test_q269_effect_sizes_hand_computed(spark, tmp_path, qs):
    """x = src0 lengths {10, 20, 20, 30}, y = src1 lengths {15, 20, 25}:
    gt/lt/ties counted by brute force; Cliff's delta negative-division
    path exercised too (y shifted above x in a second check is implied
    by the sign-split identity lt > gt here being false); d/g against
    the textbook pooled-variance formulas."""
    import itertools
    import math

    from airflow_spotify_etl_spark.sources.files import SCHEMAS

    xs, ys = [10, 20, 20, 30], [15, 20, 25]
    rows = []
    for i, v in enumerate(xs):
        rows.append((i, "t", "en", "src0", v))
    for i, v in enumerate(ys):
        rows.append((100 + i, "t", "en", "src1", v))
    rows.append((999, "t", "en", "src9", 99999))  # filtered out
    spark.createDataFrame(rows, SCHEMAS["documents"]).write.parquet(
        str(tmp_path / "documents.parquet"))

    gt = sum(1 for a, b in itertools.product(xs, ys) if a > b)
    lt = sum(1 for a, b in itertools.product(xs, ys) if a < b)
    ties = sum(1 for a, b in itertools.product(xs, ys) if a == b)
    n1, n2 = len(xs), len(ys)
    diff = gt - lt
    delta_ppm = (
        (diff * 10**6) // (n1 * n2)
        if diff >= 0
        else -(((-diff) * 10**6) // (n1 * n2))
    )
    m1, m2 = sum(xs) / n1, sum(ys) / n2
    ss1 = sum(v * v for v in xs) - sum(xs) ** 2 / n1
    ss2 = sum(v * v for v in ys) - sum(ys) ** 2 / n2
    d = (m1 - m2) / math.sqrt((ss1 + ss2) / (n1 + n2 - 2))
    g = d * (1 - 3 / (4 * (n1 + n2) - 9))

    r = qs["q269_effect_sizes"](spark, str(tmp_path)).collect()[0]
    # gt/lt/ties are pair counts: DECIMAL-widened and STRING-emitted
    # (round-6 overflow sweep)
    assert (r.n1, r.n2, r.gt, r.lt, r.ties) == (
        n1, n2, str(gt), str(lt), str(ties)
    )
    assert r.cliffs_delta_ppm == delta_ppm
    assert abs(r.cohens_d - round(d, 4)) < 1e-6
    assert abs(r.hedges_g - round(g, 4)) < 1e-6


def test_q270_davies_bouldin_python_mirror(spark, tmp_path, qs):
    """3 engineered clusters (tight / tight / spread) in 4 dims; the
    whole integer pipeline — quantized sums, milli centroids, nano
    ratios, peer argmax, DB mean — is mirrored in Python and must match
    exactly; DB index must also be within 2% of the float textbook
    value."""
    import math

    from pyspark.sql.types import (ArrayType, FloatType, IntegerType,
                                   LongType, StructField, StructType)

    clusters = {
        0: [[0.0, 0.0, 0.0, 0.1], [0.1, 0.0, 0.0, 0.0], [0.0, 0.1, 0.1, 0.0]],
        1: [[5.0, 5.0, 0.0, 0.0], [5.1, 4.9, 0.0, 0.1], [4.9, 5.1, 0.1, 0.0]],
        2: [[0.0, 0.0, 8.0, 8.0], [0.5, -0.5, 7.0, 9.0], [-0.5, 0.5, 9.0, 7.0]],
    }
    rows, vid = [], 0
    for lab, vecs in clusters.items():
        for v in vecs:
            rows.append((vid, v, lab))
            vid += 1
    schema = StructType([
        StructField("vec_id", LongType()),
        StructField("embedding", ArrayType(FloatType())),
        StructField("label", IntegerType()),
    ])
    spark.createDataFrame(rows, schema).write.parquet(
        str(tmp_path / "embeddings.parquet"))

    # float32 values here are exact in double, so round() is unambiguous
    def quant(x):
        import numpy as np
        return int(round(float(np.float32(x)) * 10000))

    stats = {}
    for lab, vecs in clusters.items():
        n = len(vecs)
        S = [sum(quant(v[d]) for v in vecs) for d in range(4)]
        Q = sum(quant(x) ** 2 for v in vecs for x in v)
        cq = [(s * 1000) // n if s >= 0 else -(((-s) * 1000) // n) for s in S]
        s_ = math.sqrt(Q / n - sum(c * c for c in cq) / 1e6)
        stats[lab] = (n, cq, s_)
    ratios = {}
    for i in stats:
        best = None
        for j in stats:
            if i == j:
                continue
            d2 = sum((a - b) ** 2 for a, b in zip(stats[i][1], stats[j][1]))
            r = int(math.floor(
                (stats[i][2] + stats[j][2]) / (math.sqrt(d2) / 1e3) * 1e9))
            if best is None or r > best[0] or (r == best[0] and j < best[1]):
                best = (r, j) if best is None or r > best[0] else (
                    best[0], min(best[1], j))
        ratios[i] = best
    db_nano = sum(r for r, _ in ratios.values()) // len(ratios)

    got = {r.label: r for r in
           qs["q270_davies_bouldin"](spark, str(tmp_path)).collect()}
    for lab, (n, cq, s_) in stats.items():
        row = got[lab]
        assert row.n == n
        assert row.scatter == round(s_, 4)
        assert (row.ratio_nano, row.peer) == ratios[lab]
        assert row.db_nano == db_nano
    # textbook float DB index within 2%
    db_float = sum(r for r, _ in ratios.values()) / len(ratios) / 1e9
    assert abs(got[0].db_nano / 1e9 - db_float) < 0.02 * db_float + 1e-9


def test_q271_silhouette_python_mirror(spark, tmp_path, qs):
    """Reuses the q270 engineered clusters; the per-point simplified
    silhouette (own vs nearest-other centroid, micro-floored pre-sum)
    is mirrored in Python exactly; tight clusters must score near 1."""
    import math

    import numpy as np
    from pyspark.sql.types import (ArrayType, FloatType, IntegerType,
                                   LongType, StructField, StructType)

    clusters = {
        0: [[0.0, 0.0, 0.0, 0.1], [0.1, 0.0, 0.0, 0.0], [0.0, 0.1, 0.1, 0.0]],
        1: [[5.0, 5.0, 0.0, 0.0], [5.1, 4.9, 0.0, 0.1], [4.9, 5.1, 0.1, 0.0]],
        2: [[0.0, 0.0, 8.0, 8.0], [0.5, -0.5, 7.0, 9.0], [-0.5, 0.5, 9.0, 7.0]],
    }
    rows, vid = [], 0
    for lab, vecs in clusters.items():
        for v in vecs:
            rows.append((vid, v, lab))
            vid += 1
    schema = StructType([
        StructField("vec_id", LongType()),
        StructField("embedding", ArrayType(FloatType())),
        StructField("label", IntegerType()),
    ])
    spark.createDataFrame(rows, schema).write.parquet(
        str(tmp_path / "embeddings.parquet"))

    def quant(x):
        return int(round(float(np.float32(x)) * 10000))

    cents = {}
    for lab, vecs in clusters.items():
        n = len(vecs)
        S = [sum(quant(v[d]) for v in vecs) for d in range(4)]
        cents[lab] = [
            (s * 1000) // n if s >= 0 else -(((-s) * 1000) // n) for s in S
        ]
    sums = {lab: [0, 0] for lab in clusters}  # n, sm_sum
    for lab, vecs in clusters.items():
        for v in vecs:
            rq = [quant(x) * 1000 for x in v]
            d2s = {
                cl: sum((a - b) ** 2 for a, b in zip(rq, cq))
                for cl, cq in cents.items()
            }
            a2 = d2s[lab]
            b2 = min(d for cl, d in d2s.items() if cl != lab)
            m = max(a2, b2)
            sm = (
                int(math.floor((math.sqrt(b2) - math.sqrt(a2))
                               / math.sqrt(m) * 1e6)) if m > 0 else 0
            )
            sums[lab][0] += 1
            sums[lab][1] += sm

    got = {r.label: r for r in
           qs["q271_silhouette_simplified"](spark, str(tmp_path)).collect()}
    for lab, (n, sm_sum) in sums.items():
        r = got[lab]
        assert (r.n, r.sm_sum) == (n, sm_sum)
        assert r.mean_silhouette == round(sm_sum / n / 1e6, 6)
        assert r.mean_silhouette > 0.8  # engineered tight separation


def test_q272_roc_auc_vs_bruteforce(spark, sf_dir, qs):
    """AUC recomputed two independent ways from the engine's raw
    (si, y) pairs at sf0.001: brute-force pair counting AND the
    rank-sum identity; both must agree with the query exactly."""
    import pyspark.sql.functions as F
    from airflow_spotify_etl_spark.operators.text import hashed_linear_score
    from airflow_spotify_etl_spark.plans.llm import q58_gopher_quality_flags
    from airflow_spotify_etl_spark.sources.files import load_table

    docs = load_table(spark, sf_dir, "documents")
    scores = hashed_linear_score(docs, n_buckets=4096).select("doc_id", "score")
    labels = q58_gopher_quality_flags(spark, sf_dir).select("doc_id", "keep")
    pairs = [
        (int(r.si), int(r.y))
        for r in scores.join(labels, "doc_id")
        .select(
            F.expr("CAST(round(score * 10000) AS BIGINT)").alias("si"),
            F.col("keep").cast("long").alias("y"),
        )
        .collect()
    ]
    pos = [s for s, y in pairs if y == 1]
    neg = [s for s, y in pairs if y == 0]
    gt = sum(1 for p in pos for n in neg if p > n)
    ties = sum(1 for p in pos for n in neg if p == n)
    auc_ppm = ((2 * gt + ties) * 10**6) // (2 * len(pos) * len(neg))

    # independent rank-sum identity: U = R_pos - n_pos(n_pos+1)/2
    ranked = sorted(pairs)
    # midranks with ties
    from itertools import groupby
    r_pos = 0.0
    idx = 1
    for _, grp in groupby(ranked, key=lambda t: t[0]):
        g = list(grp)
        mid = (idx + idx + len(g) - 1) / 2
        r_pos += mid * sum(y for _, y in g)
        idx += len(g)
    u = r_pos - len(pos) * (len(pos) + 1) / 2
    assert abs(u - (gt + ties / 2)) < 1e-6

    row = qs["q272_roc_auc"](spark, sf_dir).collect()[0]
    # gt/ties are pair counts: DECIMAL-widened and STRING-emitted
    # (round-6 overflow sweep)
    assert (row.n_pos, row.n_neg, row.gt, row.ties) == (
        len(pos), len(neg), str(gt), str(ties))
    assert row.auc_ppm == auc_ppm


def test_q273_mantel_haenszel_hand_computed(spark, tmp_path, qs):
    """Two engineered strata with known 2x2 tables; ad/bc/E/V nano
    ingredients, OR_ppm, and the CMH chi-square are recomputed in
    Python with the identical factored fixed-point and must match;
    the MH OR must sit between the two stratum ORs."""
    import datetime

    from airflow_spotify_etl_spark.sources.files import SCHEMAS

    # stratum SEG1: a=8 b=2 c=3 d=7 (A converts better, OR=9.33)
    # stratum SEG2: a=5 b=5 c=2 d=8 (OR=4.0)
    custs = [
        (1, "a1", 0, 10.0, "SEG1"), (2, "b1", 0, -10.0, "SEG1"),
        (3, "a2", 0, 10.0, "SEG2"), (4, "b2", 0, -10.0, "SEG2"),
    ]
    spark.createDataFrame(custs, SCHEMAS["customer"]).write.parquet(
        str(tmp_path / "customer.parquet"))
    tables = {  # user -> (purchases, views)
        1: (8, 2), 2: (3, 7), 3: (5, 5), 4: (2, 8),
    }
    ts = datetime.datetime(2024, 1, 1)
    rows, eid = [], 0
    for u, (p, v) in tables.items():
        for _ in range(p):
            rows.append((eid, ts, u, "purchase", 1.0, "{}")); eid += 1
        for _ in range(v):
            rows.append((eid, ts, u, "view", 1.0, "{}")); eid += 1
    spark.createDataFrame(rows, SCHEMAS["events"]).write.parquet(
        str(tmp_path / "events.parquet"))

    strata = [(8, 2, 3, 7), (5, 5, 2, 8)]
    sum_a = sum_ad = sum_bc = sum_e = sum_v = 0
    for a, b, c, d in strata:
        n = a + b + c + d
        sum_a += a
        sum_ad += (a * d * 10**9) // n
        sum_bc += (b * c * 10**9) // n
        sum_e += ((a + b) * (a + c) * 10**9) // n
        m1 = ((a + b) * (c + d) * 1000) // n
        m2 = ((a + c) * (b + d) * 1000) // n
        sum_v += (m1 * m2 * 1000) // (n - 1)
    or_ppm = (sum_ad * 10**6) // sum_bc
    chi2 = (sum_a - sum_e / 1e9) ** 2 / (sum_v / 1e9)

    r = qs["q273_mantel_haenszel"](spark, str(tmp_path)).collect()[0]
    assert (r.n_strata, r.sum_ad_nano, r.sum_bc_nano) == (2, sum_ad, sum_bc)
    assert r.or_ppm == or_ppm
    assert abs(r.mh_chi2 - round(chi2, 4)) < 1e-3
    assert 4.0 * 10**6 <= r.or_ppm <= (9.34) * 10**6  # between stratum ORs


def test_q274_jt_vs_bruteforce(spark, sf_dir, qs):
    """JT recomputed by brute-force pairwise counting over the engine's
    raw (decile, length) pairs at sf0.001, plus the textbook normal
    approximation; exact equality on gt/ties/jt2 and 4-dec z."""
    import math

    import pyspark.sql.functions as F
    from airflow_spotify_etl_spark.operators.text import hashed_linear_score
    from airflow_spotify_etl_spark.sources.files import load_table

    docs = load_table(spark, sf_dir, "documents")
    scores = hashed_linear_score(docs, n_buckets=4096).select("doc_id", "score")
    pairs = [
        (int(r.g), int(r.v))
        for r in docs.select("doc_id", F.col("n_chars").alias("v"))
        .join(scores, "doc_id")
        .select(
            F.least(
                F.greatest(
                    F.expr("CAST(round(score * 10000) AS BIGINT) div 1000"),
                    F.lit(0),
                ),
                F.lit(9),
            ).alias("g"),
            "v",
        )
        .collect()
    ]
    gt = ties = 0
    for i in range(len(pairs)):
        for j in range(len(pairs)):
            gi, vi = pairs[i]
            gj, vj = pairs[j]
            if gi < gj:
                if vi < vj:
                    gt += 1
                elif vi == vj:
                    ties += 1
    jt2 = 2 * gt + ties
    from collections import Counter
    sizes = Counter(g for g, _ in pairs)
    N = len(pairs)
    sn2 = sum(n * n for n in sizes.values())
    sn23 = sum(n * n * (2 * n + 3) for n in sizes.values())
    z = ((jt2 / 2.0) - (N * N - sn2) / 4.0) / math.sqrt(
        (N * N * (2.0 * N + 3.0) - sn23) / 72.0)

    r = qs["q274_jonckheere_terpstra"](spark, sf_dir).collect()[0]
    # gt/ties/jt2 are pair counts: DECIMAL-widened and STRING-emitted
    # (round-6 overflow sweep)
    assert (r.gt, r.ties, r.jt2, r.nn) == (str(gt), str(ties), str(jt2), N)
    assert abs(r.z_jt - round(z, 4)) < 1e-3


def test_q275_calinski_vs_sklearn_formula(spark, tmp_path, qs):
    """q270's engineered clusters: the exact-integer CH must be within
    0.5% of the float textbook variance-ratio (the fixed-point floors
    perturb sub-integer), and the well-separated design must score
    CH >> 10."""
    import numpy as np
    from pyspark.sql.types import (ArrayType, FloatType, IntegerType,
                                   LongType, StructField, StructType)

    clusters = {
        0: [[0.0, 0.0, 0.0, 0.1], [0.1, 0.0, 0.0, 0.0], [0.0, 0.1, 0.1, 0.0]],
        1: [[5.0, 5.0, 0.0, 0.0], [5.1, 4.9, 0.0, 0.1], [4.9, 5.1, 0.1, 0.0]],
        2: [[0.0, 0.0, 8.0, 8.0], [0.5, -0.5, 7.0, 9.0], [-0.5, 0.5, 9.0, 7.0]],
    }
    rows, vid = [], 0
    for lab, vecs in clusters.items():
        for v in vecs:
            rows.append((vid, v, lab))
            vid += 1
    schema = StructType([
        StructField("vec_id", LongType()),
        StructField("embedding", ArrayType(FloatType())),
        StructField("label", IntegerType()),
    ])
    spark.createDataFrame(rows, schema).write.parquet(
        str(tmp_path / "embeddings.parquet"))

    X = np.array([v for vecs in clusters.values() for v in vecs])
    y = np.array([lab for lab, vecs in clusters.items() for _ in vecs])
    g = X.mean(axis=0)
    k, N = 3, len(X)
    bcss = sum(
        (y == lab).sum() * float(((X[y == lab].mean(axis=0) - g) ** 2).sum())
        for lab in clusters
    )
    wcss = sum(
        float(((X[y == lab] - X[y == lab].mean(axis=0)) ** 2).sum())
        for lab in clusters
    )
    ch_ref = (bcss / (k - 1)) / (wcss / (N - k))

    r = qs["q275_calinski_harabasz"](spark, str(tmp_path)).collect()[0]
    assert (r.k, r.n_vectors) == (3, 9)
    # engine works in (1e4-quantized)^2 units: rescale to raw units
    assert abs(r.bcss / 1e8 - bcss) / bcss < 0.005
    assert abs(r.wcss / 1e8 - wcss) / wcss < 0.005
    assert abs(r.ch_index - ch_ref) / ch_ref < 0.005
    assert r.ch_index > 10


def test_q276_ap_vs_sklearn_semantics(spark, sf_dir, qs):
    """AP recomputed in Python from the engine's raw (si, y) pairs
    using the sklearn step definition (with nano flooring mirrored);
    exact on ap_nano, and within 2e-6 of the unfloored float AP."""
    import pyspark.sql.functions as F
    from airflow_spotify_etl_spark.operators.text import hashed_linear_score
    from airflow_spotify_etl_spark.plans.llm import q58_gopher_quality_flags
    from airflow_spotify_etl_spark.sources.files import load_table

    docs = load_table(spark, sf_dir, "documents")
    scores = hashed_linear_score(docs, n_buckets=4096).select("doc_id", "score")
    labels = q58_gopher_quality_flags(spark, sf_dir).select("doc_id", "keep")
    pairs = [
        (int(r.si), int(r.y))
        for r in scores.join(labels, "doc_id")
        .select(
            F.expr("CAST(round(score * 10000) AS BIGINT)").alias("si"),
            F.col("keep").cast("long").alias("y"),
        )
        .collect()
    ]
    from collections import defaultdict
    dom = defaultdict(lambda: [0, 0])
    for si, y in pairs:
        dom[si][y] += 1  # [cn, cp] by index y
    P = sum(v[1] for v in dom.values())
    tp = fp = 0
    ap_nano = 0
    ap_float = 0.0
    for si in sorted(dom, reverse=True):
        cn, cp = dom[si]
        tp += cp
        fp += cn
        ap_nano += (cp * tp * 10**9) // ((tp + fp) * P)
        ap_float += (cp / P) * (tp / (tp + fp))

    row = qs["q276_average_precision"](spark, sf_dir).collect()[0]
    assert (row.n_pos, row.ap_nano) == (P, ap_nano)
    assert abs(row.average_precision - ap_float) < 2e-6


def test_q277_temperature_mixing_hand_computed(spark, tmp_path, qs):
    """Token masses 10000/100/1: α=0.5 compresses the ratio from 1e4:1
    to 1e2:1; every column mirrored exactly in Python ints; weights
    must sum to ~1e6 ppm and the rare language must get boost > 1."""
    import math

    from airflow_spotify_etl_spark.sources.files import SCHEMAS

    masses = {"en": 10000, "de": 100, "zh": 1}
    rows, did = [], 0
    for lang, m in masses.items():
        # split mass across two docs to exercise the groupBy
        a, b = m // 2, m - m // 2
        for part in (a, b):
            if part:
                rows.append((did, " ".join(["w"] * part), lang, "s", part))
                did += 1
    spark.createDataFrame(rows, SCHEMAS["documents"]).write.parquet(
        str(tmp_path / "documents.parquet"))

    sw = {l: int(math.floor(math.sqrt(m) * 1e9)) for l, m in masses.items()}
    total, sw_total = sum(masses.values()), sum(sw.values())
    expect = {}
    for l, m in masses.items():
        w_ppm = (sw[l] * 10**6) // sw_total
        expect[l] = (
            m,
            (m * 10**6) // total,
            w_ppm,
            (w_ppm * total * 1000) // (10**6 * m),
        )

    got = {r.lang: (r.tokens, r.p_ppm, r.w_ppm, r.boost_milli)
           for r in qs["q277_temperature_mixing"](spark, str(tmp_path)).collect()}
    assert got == expect
    assert abs(sum(v[2] for v in got.values()) - 10**6) <= 3  # floors
    assert got["zh"][3] > 1000 and got["en"][3] < 1000  # up/down-sampling


def test_q278_fim_python_mirror(spark, tmp_path, qs):
    """The PSM reassembly is mirrored in Python with hashlib; the three
    segments must partition the original tokens (non-empty each), and
    short docs pass through unmasked."""
    import hashlib

    from airflow_spotify_etl_spark.sources.files import SCHEMAS

    texts = {
        1: "a b c d e f g h",
        2: "one two three",
        3: "just two",        # n=2 -> passthrough
        4: "solo",            # n=1 -> passthrough
        5: " ".join(f"t{i}" for i in range(30)),
    }
    rows = [(i, t, "en", "s", len(t)) for i, t in texts.items()]
    spark.createDataFrame(rows, SCHEMAS["documents"]).write.parquet(
        str(tmp_path / "documents.parquet"))

    def h(s):
        return int(hashlib.md5(s.encode()).hexdigest()[:8], 16)

    expect = {}
    for did, t in texts.items():
        arr = t.split(" ")
        n = len(arr)
        if n >= 3:
            c1 = 1 + h(f"{did}:a") % (n - 2)
            m = 1 + h(f"{did}:b") % (n - 1 - c1)
            pre, mid, suf = arr[:c1], arr[c1:c1 + m], arr[c1 + m:]
            assert pre and mid and suf
            fim = (f"<PRE> {' '.join(pre)} <SUF> {' '.join(suf)}"
                   f" <MID> {' '.join(mid)}")
            expect[did] = (n, c1, m, True, fim)
        else:
            expect[did] = (n, 0, 0, False, t)

    got = {r.doc_id: (r.n_tokens, r.c1, r.m, r.fim_applied, r.fim_text)
           for r in qs["q278_fim_transform"](spark, str(tmp_path)).collect()}
    assert got == expect


def test_q279_span_corruption_python_mirror(spark, tmp_path, qs):
    """Full Python/hashlib mirror of the greedy span rule and both
    reassemblies; verifies round-trip (masked tokens + kept tokens =
    original), sentinel numbering, and the short-doc passthrough."""
    import hashlib

    from airflow_spotify_etl_spark.sources.files import SCHEMAS

    texts = {
        1: " ".join(f"w{i}" for i in range(20)),
        2: " ".join(f"x{i}" for i in range(12)),
        3: "too short for spans",                    # n=4 -> passthrough
        4: " ".join(f"y{i}" for i in range(40)),
    }
    rows = [(i, t, "en", "s", len(t)) for i, t in texts.items()]
    spark.createDataFrame(rows, SCHEMAS["documents"]).write.parquet(
        str(tmp_path / "documents.parquet"))

    def h(s):
        return int(hashlib.md5(s.encode()).hexdigest()[:8], 16)

    expect = {}
    for did, t in texts.items():
        arr = t.split(" ")
        n = len(arr)
        if n < 12:
            expect[did] = (n, 0, False, t, "")
            continue
        cand = sorted(1 + h(f"{did}:s{k}") % (n - 2) for k in range(3))
        spans = [cand[0]]
        if cand[1] > spans[-1] + 2:
            spans.append(cand[1])
        if cand[2] > spans[-1] + 2:
            spans.append(cand[2])
        inp = []
        i = 1
        while i <= n:
            if i in spans:
                inp.append(f"<extra_id_{spans.index(i)}>")
                i += 3
            else:
                inp.append(arr[i - 1])
                i += 1
        tgt = " ".join(
            f"<extra_id_{k}> " + " ".join(arr[s - 1:s + 2])
            for k, s in enumerate(spans)
        ) + f" <extra_id_{len(spans)}>"
        expect[did] = (n, len(spans), True, " ".join(inp), tgt)

    got = {r.doc_id: (r.n_tokens, r.n_spans, r.applied, r.input_text,
                      r.target_text)
           for r in qs["q279_span_corruption"](spark, str(tmp_path)).collect()}
    assert got == expect
    # round-trip: masked + kept tokens reconstruct the original multiset
    for did, (n, ns, ap, inp, tgt) in got.items():
        if not ap:
            continue
        kept = [w for w in inp.split(" ") if not w.startswith("<extra_id_")]
        masked = [w for w in tgt.split(" ") if not w.startswith("<extra_id_")]
        assert sorted(kept + masked) == sorted(texts[did].split(" "))


def test_q280_binary_hamming_mirror(spark, tmp_path, qs):
    """Engineered vectors where sign patterns fully determine the
    Hamming ranking; packing, distances, and recall mirrored in Python
    bit-for-bit. Query 0's nearest sign-neighbors are also its exact
    cosine top matches, so recall must be 100."""
    from pyspark.sql.types import (ArrayType, FloatType, IntegerType,
                                   LongType, StructField, StructType)

    def vec(signs, mag=1.0):
        return [mag * (1.0 if s else -1.0) for s in signs]

    base = [True] * 64
    flip = lambda k: base[:64 - k] + [False] * k  # noqa: E731
    rows = [
        (0, vec(base), 0),          # query
        (5, vec(flip(1)), 0),       # hamming 1
        (6, vec(flip(2)), 0),       # hamming 2
        (7, vec(flip(3)), 0),       # hamming 3
        (8, vec(flip(10)), 0),      # hamming 10
        (9, vec(flip(32)), 0),      # hamming 32
        (10, vec(flip(64)), 0),     # hamming 64 (opposite)
    ]
    schema = StructType([
        StructField("vec_id", LongType()),
        StructField("embedding", ArrayType(FloatType())),
        StructField("label", IntegerType()),
    ])
    spark.createDataFrame(rows, schema).write.parquet(
        str(tmp_path / "embeddings.parquet"))

    def pack(v):
        h1 = sum((1 << (32 - i)) for i in range(1, 33) if v[i - 1] >= 0)
        h2 = sum((1 << (32 - i)) for i in range(1, 33) if v[i + 31] >= 0)
        return h1, h2

    q = pack(rows[0][1])
    dists = {}
    for vid, v, _ in rows[1:]:
        a, b = pack(v)
        dists[vid] = bin(a ^ q[0]).count("1") + bin(b ^ q[1]).count("1")
    top5 = sorted(dists, key=lambda k: (dists[k], k))[:5]

    got = qs["q280_binary_hamming_recall"](spark, str(tmp_path)).collect()
    assert len(got) == 1
    r = got[0]
    assert r.query_id == 0
    assert r.sum_hamming == sum(dists[v] for v in top5)
    # sign ordering == cosine ordering for these unit-magnitude vectors
    assert (r.n_hits, r.recall_pct) == (5, 100)


def test_q281_dispersion_hand_computed(spark, tmp_path, qs):
    """3 sources with engineered masses: 'even' spread proportionally
    (DP=0), 'conc' fully concentrated in one source; both values
    hand-derived via the common-denominator identity."""
    from airflow_spotify_etl_spark.sources.files import SCHEMAS

    # source masses: s1=8, s2=4, s3=4 tokens (total 16)
    # 'even' appears 4/2/2 (exactly proportional), 'conc' 0/4/0
    rows = [
        (1, "even even even even pad pad pad pad", "en", "s1", 0),
        (2, "even even conc conc", "en", "s2", 0),
        (3, "even even pad2 pad2", "en", "s3", 0),
    ]
    spark.createDataFrame(rows, SCHEMAS["documents"]).write.parquet(
        str(tmp_path / "documents.parquet"))

    got = {r.tok: (r.term_count, r.dp_ppm)
           for r in qs["q281_dispersion_dp"](spark, str(tmp_path)).collect()}

    # 'even': counts 4/2/2 of masses 8/4/4 -> proportional -> DP = 0
    assert got["even"] == (8, 0)
    # 'conc': counts 0/2/0, T_w=2, M=16; gaps: |0*16-8*2|=16,
    # |2*16-4*2|=24, |0*16-4*2|=8 -> sum 48; DP=48/(2*2*16)=0.75
    assert got["conc"] == (2, 750000)
    # pads: 'pad' 4/8 in s1 only: gaps |4*16-8*4|=32? no: t_ws=4,M=16,
    # m_s=8,T_w=4 -> |64-32|=32; s2 |0-16|=16; s3 |0-16|=16; sum 64
    # DP = 64/(2*4*16) = 0.5
    assert got["pad"] == (4, 500000)


def test_q282_nmi_endpoints_and_mirror(spark, tmp_path, qs):
    """Perfect dependence (each source carries exactly one lang) must
    give NMI within a nano-floor of 1 when marginals are uniform; the
    nano sums are also mirrored in Python exactly."""
    import math

    from airflow_spotify_etl_spark.sources.files import SCHEMAS

    rows = []
    did = 0
    # 4 sources, 4 langs, bijective mapping, 5 docs each -> NMI = 1
    for i, (lang, src) in enumerate(
        [("en", "sA"), ("de", "sB"), ("fr", "sC"), ("es", "sD")]
    ):
        for _ in range(5):
            rows.append((did, "text", lang, src, 4))
            did += 1
    spark.createDataFrame(rows, SCHEMAS["documents"]).write.parquet(
        str(tmp_path / "documents.parquet"))

    n = 20
    cells = {(la, so): 5 for la, so in
             [("en", "sA"), ("de", "sB"), ("fr", "sC"), ("es", "sD")]}
    r = {la: 5 for la in ["en", "de", "fr", "es"]}
    k = {so: 5 for so in ["sA", "sB", "sC", "sD"]}
    mi = sum(
        int(math.floor(c * math.log(n * c / (r[la] * k[so])) * 1e9))
        for (la, so), c in cells.items()
    )
    hl = sum(int(math.floor(v * math.log(n / v) * 1e9)) for v in r.values())
    hs = sum(int(math.floor(v * math.log(n / v) * 1e9)) for v in k.values())

    row = qs["q282_lang_source_nmi"](spark, str(tmp_path)).collect()[0]
    assert (row.n, row.mi_sum_nano, row.hl_sum_nano, row.hs_sum_nano) == (
        n, mi, hl, hs)
    assert abs(row.nmi - 1.0) < 1e-6


def test_q283_deletion_manifest_hand_computed(spark, tmp_path, qs):
    """Planted star with known subjects (md5 % 97 mirrored in Python):
    the manifest must count exactly the subject-owned rows across all
    four tables, including transitively-owned lineitems, and exclude
    everything else."""
    import datetime
    import hashlib

    from airflow_spotify_etl_spark.sources.files import SCHEMAS

    def is_subject(ck):
        return int(hashlib.md5(str(ck).encode()).hexdigest()[:8], 16) % 97 == 0

    custkeys = list(range(1, 300))
    subjects = [c for c in custkeys if is_subject(c)]
    assert subjects, "need at least one sampled subject in the fixture"
    custs = [(c, f"c{c}", 0, 1.0, "SEG") for c in custkeys]
    spark.createDataFrame(custs, SCHEMAS["customer"]).write.parquet(
        str(tmp_path / "customer.parquet"))

    # orders: customer c owns orders 10c and 10c+1; lineitems: 2 per order
    od = datetime.datetime(2024, 1, 1)
    orders, lineitems = [], []
    for c in custkeys[:50] + subjects:  # ensure subjects have orders
        for j in (0, 1):
            ok = 10 * c + j
            orders.append((ok, c, "O", 5.0, od, "1-URGENT"))
            for ln in (1, 2):
                lineitems.append((ok, 1, 1, ln, 1.0, 1.0, 0.0, 0.0,
                                  "N", "O", od))
    spark.createDataFrame(orders, SCHEMAS["orders"]).write.parquet(
        str(tmp_path / "orders.parquet"))
    spark.createDataFrame(lineitems, SCHEMAS["lineitem"]).write.parquet(
        str(tmp_path / "lineitem.parquet"))

    ts = datetime.datetime(2024, 1, 1)
    events = [(i, ts, custkeys[i % len(custkeys)], "view", 1.0, "{}")
              for i in range(400)]
    spark.createDataFrame(events, SCHEMAS["events"]).write.parquet(
        str(tmp_path / "events.parquet"))

    sub_orders = sorted(
        ok for ok, c, *_ in orders if c in set(subjects))
    sub_li = [l for l in lineitems if l[0] in set(sub_orders)]
    sub_ev = [e for e in events if e[2] in set(subjects)]

    got = {r.table_name: (r.n_rows, r.min_key, r.max_key)
           for r in qs["q283_deletion_manifest"](spark, str(tmp_path)).collect()}
    assert got["customer"] == (len(subjects), min(subjects), max(subjects))
    assert got["orders"] == (len(sub_orders), min(sub_orders), max(sub_orders))
    assert got["lineitem"][0] == len(sub_li)
    assert got["events"][0] == len(sub_ev)


def test_q284_fertility_hand_computed(spark, tmp_path, qs):
    """ASCII vs multibyte fixtures: UTF-8 accounting (bytes > chars for
    non-ASCII), empty-doc token zero, and the milli/ppm floors all
    hand-verified."""
    from airflow_spotify_etl_spark.sources.files import SCHEMAS

    rows = [
        (1, "abc def", "en", "s", 7),       # 2 toks, 7 chars, 7 bytes
        (2, "", "en", "s", 0),              # 0 toks
        (3, "héllo wörld", "de", "s", 11),  # 2 toks, 11 chars, 13 bytes
    ]
    spark.createDataFrame(rows, SCHEMAS["documents"]).write.parquet(
        str(tmp_path / "documents.parquet"))

    got = {r.lang: r for r in
           qs["q284_tokenizer_fertility"](spark, str(tmp_path)).collect()}
    en = got["en"]
    assert (en.n_docs, en.tokens, en.chars, en.bytes) == (2, 2, 7, 7)
    assert en.chars_per_token_milli == (7 * 1000) // 2
    assert en.multibyte_ppm == 0
    de = got["de"]
    assert (de.n_docs, de.tokens, de.chars, de.bytes) == (1, 2, 11, 13)
    assert de.bytes_per_token_milli == (13 * 1000) // 2
    assert de.multibyte_ppm == ((13 - 11) * 10**6) // 13


def test_q285_srm_hand_computed(spark, tmp_path, qs):
    """Hash assignment mirrored with hashlib; an engineered exposure
    imbalance (B-users log 9x the events) must flip the exposure-level
    SRM flag while the assignment level stays clean."""
    import datetime
    import hashlib

    from airflow_spotify_etl_spark.sources.files import SCHEMAS

    def is_a(ck):
        return int(hashlib.md5(f"ab:{ck}".encode()).hexdigest()[:8], 16) % 2 == 0

    custkeys = list(range(1, 201))
    custs = [(c, f"c{c}", 0, 1.0, "SEG") for c in custkeys]
    spark.createDataFrame(custs, SCHEMAS["customer"]).write.parquet(
        str(tmp_path / "customer.parquet"))

    ts = datetime.datetime(2024, 1, 1)
    events, eid = [], 0
    for c in custkeys:
        n = 1 if is_a(c) else 9
        for _ in range(n):
            events.append((eid, ts, c, "view", 1.0, "{}"))
            eid += 1
    spark.createDataFrame(events, SCHEMAS["events"]).write.parquet(
        str(tmp_path / "events.parquet"))

    na = sum(1 for c in custkeys if is_a(c))
    nb = len(custkeys) - na
    ea, eb = na * 1, nb * 9

    got = {(r.level, r.segment): r for r in
           qs["q285_srm_audit"](spark, str(tmp_path)).collect()}
    ra = got[("assignment", "ALL")]
    assert (ra.a, ra.b) == (na, nb)
    assert ra.chi2_1df == round((na - nb) ** 2 / (na + nb), 4)
    rseg = got[("assignment_by_segment", "SEG")]
    assert (rseg.a, rseg.b) == (na, nb)
    re_ = got[("exposure", "ALL")]
    assert (re_.a, re_.b) == (ea, eb)
    assert re_.srm_flag and not ra.srm_flag


def test_q286_cuped_vs_numpy(spark, tmp_path, qs):
    """Engineered pre/post correlation: theta and rho^2 must match
    numpy's cov/var to 6 decimals, and CUPED must cut the variance
    (var_adjusted < var_post) on the correlated fixture."""
    import datetime

    import numpy as np
    from airflow_spotify_etl_spark.sources.files import SCHEMAS

    base = datetime.datetime(2024, 1, 1)
    late = datetime.datetime(2024, 1, 11)
    rows, eid = [], 0
    pre_vals, post_vals = [], []
    for u in range(40):
        pre = 10.0 + (u % 7)          # covariate
        post = 2.0 * pre + (u % 3)    # correlated outcome
        pre_vals.append(round(pre * 100))
        post_vals.append(round(post * 100))
        rows.append((eid, base, u, "view", pre, "{}")); eid += 1
        rows.append((eid, late, u, "view", post, "{}")); eid += 1
    spark.createDataFrame(rows, SCHEMAS["events"]).write.parquet(
        str(tmp_path / "events.parquet"))

    x = np.array(pre_vals, dtype=float)
    y = np.array(post_vals, dtype=float)
    n = len(x)
    cov = n * (x * y).sum() - x.sum() * y.sum()
    vx = n * (x * x).sum() - x.sum() ** 2
    vy = n * (y * y).sum() - y.sum() ** 2
    theta = cov / vx
    rho2 = cov * cov / (vx * vy)

    r = qs["q286_cuped_adjustment"](spark, str(tmp_path)).collect()[0]
    assert r.n_users == n
    assert abs(r.theta - round(theta, 6)) < 1e-5
    assert abs(r.rho_sq - round(rho2, 6)) < 1e-5
    assert r.var_adjusted < r.var_post
    assert abs(r.mean_post - round(y.sum() / n / 100, 4)) < 1e-6


def test_q287_dedup_shift_hand_computed(spark, tmp_path, qs):
    """Corpus where a boilerplate doc repeats 5x: dedup drops 4 copies,
    shifting the token mix; JS mirrored in Python with the identical
    pico-quantized per-token chain + integer absent-mass tail."""
    import math

    from airflow_spotify_etl_spark.sources.files import SCHEMAS

    uniq = ["alpha beta gamma", "delta epsilon", "zeta eta theta iota"]
    boiler = "spam spam spam spam"
    rows = [(i, t, "en", "s", len(t)) for i, t in enumerate(uniq)]
    for k in range(5):
        rows.append((100 + k, boiler, "en", "s", len(boiler)))
    spark.createDataFrame(rows, SCHEMAS["documents"]).write.parquet(
        str(tmp_path / "documents.parquet"))

    all_toks, kept_toks = [], []
    texts = {i: t for i, t, *_ in rows}
    kept_ids = {0, 1, 2, 100}  # min doc_id per distinct text
    for i, t in texts.items():
        ws = t.split(" ")
        all_toks += ws
        if i in kept_ids:
            kept_toks += ws
    from collections import Counter
    cg, ck = Counter(all_toks), Counter(kept_toks)
    nt, nk = sum(cg.values()), sum(ck.values())
    present = 0
    gnum = 0
    for tok, k in ck.items():
        g = cg[tok]
        gnum += g
        p, q = g / nt, k / nk
        present += int(round((0.5 * p * math.log(2 * p / (p + q))
                              + 0.5 * q * math.log(2 * q / (p + q))) * 1e12))
    tail = int(round(0.5 * math.log(2.0) * (nt - gnum) / nt * 1e12))
    js_micro = (present + tail) // 10**6

    r = qs["q287_dedup_distribution_shift"](spark, str(tmp_path)).collect()[0]
    assert (r.n_docs, r.n_kept) == (8, 4)
    assert (r.corpus_tokens, r.kept_tokens) == (nt, nk)
    assert r.vocab_kept == len(ck)
    assert r.js_micro == js_micro
    assert r.js_micro > 0  # the 5x boilerplate visibly shifted the mix


def test_q288_murphy_identity(spark, sf_dir, qs):
    """The decomposition must satisfy the Murphy identity within the
    binning residual: BS = REL − RES + UNC + within-bin variance, where
    the residual is nonnegative and bounded by the max within-bin score
    spread; also mirrors REL/RES nano sums in Python exactly."""
    import math

    import pyspark.sql.functions as F
    from airflow_spotify_etl_spark.operators.text import hashed_linear_score
    from airflow_spotify_etl_spark.plans.llm import q58_gopher_quality_flags
    from airflow_spotify_etl_spark.sources.files import load_table

    docs = load_table(spark, sf_dir, "documents")
    scores = hashed_linear_score(docs, n_buckets=4096).select("doc_id", "score")
    labels = q58_gopher_quality_flags(spark, sf_dir).select("doc_id", "keep")
    pairs = [
        (int(r.si), int(r.y))
        for r in scores.join(labels, "doc_id")
        .select(
            F.expr("CAST(round(score * 10000) AS BIGINT)").alias("si"),
            F.col("keep").cast("long").alias("y"),
        )
        .collect()
    ]
    bins = {}
    for si, y in pairs:
        b = min(max(si // 1000, 0), 9)
        n, k, ssum, sq = bins.get(b, (0, 0, 0, 0))
        bins[b] = (n + 1, k + y, ssum + si, sq + (si - y * 10000) ** 2)
    N = sum(v[0] for v in bins.values())
    K = sum(v[1] for v in bins.values())
    rel = sum(
        int(math.floor(n * (ssum / (n * 1e4) - k / n) ** 2 * 1e9))
        for n, k, ssum, _ in bins.values()
    )
    res = sum(
        int(math.floor(n * (k / n - K / N) ** 2 * 1e9))
        for n, k, ssum, _ in bins.values()
    )

    r = qs["q288_murphy_decomposition"](spark, sf_dir).collect()[0]
    assert r.n_docs == N
    assert r.reliability_nano == rel // N
    assert r.resolution_nano == res // N
    assert abs(r.uncertainty - round(K / N * (1 - K / N), 6)) < 1e-9
    # Murphy identity up to within-bin variance (nonnegative residual)
    decomp = (r.reliability_nano - r.resolution_nano) / 1e9 + r.uncertainty
    brier = r.brier_ppm / 1e6
    residual = brier - decomp
    assert -2e-6 < residual < 0.02  # within-bin var of a 0.1-wide bin


def test_q289_mix_shift_identity(spark, tmp_path, qs):
    """Two engineered segments: SEG1's rate jumps (within effect),
    SEG2's share of volume collapses (mix effect); per-term Python
    mirror must match exactly and the decomposition must sum to the
    global mean delta within per-segment floor slack."""
    import datetime
    import math

    from airflow_spotify_etl_spark.sources.files import SCHEMAS

    custs = [(1, "a", 0, 1.0, "SEG1"), (2, "b", 0, 1.0, "SEG2")]
    spark.createDataFrame(custs, SCHEMAS["customer"]).write.parquet(
        str(tmp_path / "customer.parquet"))
    early = datetime.datetime(2024, 1, 1)
    late = datetime.datetime(2024, 1, 11)
    rows, eid = [], 0
    # period 1: SEG1 10 events @ 1.00, SEG2 30 events @ 2.00
    # period 2: SEG1 20 events @ 3.00, SEG2 5 events @ 2.00
    for (u, ts, n, v) in [(1, early, 10, 1.0), (2, early, 30, 2.0),
                          (1, late, 20, 3.0), (2, late, 5, 2.0)]:
        for _ in range(n):
            rows.append((eid, ts, u, "view", v, "{}")); eid += 1
    spark.createDataFrame(rows, SCHEMAS["events"]).write.parquet(
        str(tmp_path / "events.parquet"))

    cells = {"SEG1": (10, 10 * 100, 20, 20 * 300),
             "SEG2": (30, 30 * 200, 5, 5 * 200)}
    t1 = sum(v[0] for v in cells.values())
    t2 = sum(v[2] for v in cells.values())
    expect = {}
    for seg, (n1, s1, n2, s2) in cells.items():
        within = int(math.floor((n2 / t2) * (s2 / n2 - s1 / n1) * 1e9))
        mix = int(math.floor((s1 / n1) * (n2 / t2 - n1 / t1) * 1e9))
        expect[seg] = (n1, n2, round(s1 / n1 / 100, 4),
                       round(s2 / n2 / 100, 4), within, mix)

    got = {r.segment: (r.n1, r.n2, r.mean_1, r.mean_2,
                       r.within_nano, r.mix_nano)
           for r in qs["q289_mix_shift_decomposition"](
               spark, str(tmp_path)).collect()}
    assert got == expect

    m1 = sum(v[1] for v in cells.values()) / t1
    m2 = sum(v[3] for v in cells.values()) / t2
    delta_nano = (m2 - m1) * 1e9
    total = sum(w + m for *_, w, m in got.values())
    assert abs(total - delta_nano) <= 2 * len(cells)  # floor slack per term


def test_q290_isotropy_vs_bruteforce(spark, tmp_path, qs):
    """Brute-force mean pairwise cosine (over the micro-floored unit
    vectors, exactly as specified) must equal the closed form; a
    collapsed cluster (all same direction) reads ~1, an orthogonal set
    reads ~0."""
    import math

    from pyspark.sql.types import (ArrayType, FloatType, IntegerType,
                                   LongType, StructField, StructType)

    rows = [
        # label 0: collapsed — same direction, different magnitudes
        (0, [1.0, 2.0, 2.0, 0.0], 0),
        (1, [2.0, 4.0, 4.0, 0.0], 0),
        (2, [0.5, 1.0, 1.0, 0.0], 0),
        # label 1: orthogonal basis vectors
        (3, [1.0, 0.0, 0.0, 0.0], 1),
        (4, [0.0, 1.0, 0.0, 0.0], 1),
        (5, [0.0, 0.0, 1.0, 0.0], 1),
    ]
    schema = StructType([
        StructField("vec_id", LongType()),
        StructField("embedding", ArrayType(FloatType())),
        StructField("label", IntegerType()),
    ])
    spark.createDataFrame(rows, schema).write.parquet(
        str(tmp_path / "embeddings.parquet"))

    def unit_q(v):
        nrm = math.sqrt(sum(float(x) * float(x) for x in v))
        return [int(math.floor(float(x) / nrm * 1e6)) for x in v]

    got = {r.label: r for r in
           qs["q290_embedding_isotropy"](spark, str(tmp_path)).collect()}
    for lab in (0, 1):
        uqs = [unit_q(v) for i, v, l in rows if l == lab]
        n = len(uqs)
        brute = sum(
            sum(a * b for a, b in zip(uqs[i], uqs[j]))
            for i in range(n) for j in range(n) if i != j
        ) / (n * (n - 1)) / 1e12
        r = got[lab]
        assert r.n == n
        assert abs(r.mean_pairwise_cosine - round(brute, 6)) < 2e-6
    assert got[0].mean_pairwise_cosine > 0.999
    assert abs(got[1].mean_pairwise_cosine) < 1e-3


def test_q291_wilson_vs_reference(spark, tmp_path, qs):
    """Wilson bounds checked against the textbook closed form in Python
    floats (same chain); interval must bracket the rate, stay inside
    [0, 1], and be wider for the small-n segment."""
    import datetime
    import math

    from airflow_spotify_etl_spark.sources.files import SCHEMAS

    custs = [(1, "a", 0, 1.0, "BIG"), (2, "b", 0, 1.0, "SMALL")]
    spark.createDataFrame(custs, SCHEMAS["customer"]).write.parquet(
        str(tmp_path / "customer.parquet"))
    ts = datetime.datetime(2024, 1, 1)
    rows, eid = [], 0
    for u, k, n in [(1, 30, 400), (2, 1, 4)]:
        for i in range(n):
            et = "purchase" if i < k else "view"
            rows.append((eid, ts, u, et, 1.0, "{}")); eid += 1
    spark.createDataFrame(rows, SCHEMAS["events"]).write.parquet(
        str(tmp_path / "events.parquet"))

    def wilson(k, n):
        z2 = 1.96 * 1.96
        c = (k / n + z2 / (2.0 * n)) / (1.0 + z2 / n)
        h = 1.96 * math.sqrt(
            (k / n) * (1.0 - k / n) / n + z2 / (4.0 * float(n) * n)
        ) / (1.0 + z2 / n)
        return round(c - h, 4), round(c + h, 4)

    got = {r.segment: r for r in
           qs["q291_wilson_intervals"](spark, str(tmp_path)).collect()}
    for seg, (k, n) in [("BIG", (30, 400)), ("SMALL", (1, 4))]:
        lo, hi = wilson(k, n)
        r = got[seg]
        assert (r.k, r.n) == (k, n)
        assert (r.wilson_lo, r.wilson_hi) == (lo, hi)
        assert 0.0 <= r.wilson_lo <= r.rate <= r.wilson_hi <= 1.0
    assert (got["SMALL"].wilson_hi - got["SMALL"].wilson_lo) > \
           (got["BIG"].wilson_hi - got["BIG"].wilson_lo)


def test_q292_rendezvous_mirror_and_minimality(spark, tmp_path, qs):
    """hashlib mirror of the HRW scores; asserts the minimal-movement
    property (every migrated key lands on a NEW shard 8/9, none
    reshuffles among 0..7) and the expected ~2/10 movement share."""
    import hashlib

    from airflow_spotify_etl_spark.sources.files import SCHEMAS

    custkeys = list(range(1, 501))
    custs = [(c, f"c{c}", 0, 1.0, "SEG") for c in custkeys]
    spark.createDataFrame(custs, SCHEMAS["customer"]).write.parquet(
        str(tmp_path / "customer.parquet"))

    def h(s, key):
        d = hashlib.md5(f"rdv:{s}:{key}".encode()).hexdigest()[:8]
        return int(d, 16) * 16 + s

    loads = {s: [0, 0] for s in range(10)}  # [n_keys, migrated_in]
    moved = 0
    for c in custkeys:
        s8 = max(h(s, c) for s in range(8)) % 16
        s10 = max(h(s, c) for s in range(10)) % 16
        loads[s10][0] += 1
        if s8 != s10:
            moved += 1
            loads[s10][1] += 1
            assert s10 in (8, 9)  # minimal movement: only new shards win

    got = {r.shard: r for r in
           qs["q292_rendezvous_resharding"](spark, str(tmp_path)).collect()}
    for s in range(10):
        if loads[s][0] == 0:
            assert s not in got
            continue
        r = got[s]
        assert (r.n_keys_shard, r.n_migrated_in) == tuple(loads[s])
        assert r.n_keys == len(custkeys)
        assert r.moved_ppm == (moved * 10**6) // len(custkeys)
    # ~2/10 of keys move (binomial tolerance)
    assert 0.12 < moved / len(custkeys) < 0.28


def test_q293_quantile_norm_properties(spark, sf_dir, qs):
    """On real sf0.001 data: a full Python mirror of the mapping
    (within-source ranks -> ceil-quantile -> global order statistic)
    must match exactly; mapped values are pinned to genuine global
    order statistics (top rank maps to the global max)."""
    import pyspark.sql.functions as F
    from airflow_spotify_etl_spark.operators.text import hashed_linear_score
    from airflow_spotify_etl_spark.sources.files import load_table

    docs = load_table(spark, sf_dir, "documents")
    rows = [
        (int(r.doc_id), int(r.si), r.source)
        for r in hashed_linear_score(docs, n_buckets=4096)
        .select("doc_id",
                F.expr("CAST(round(score * 10000) AS BIGINT)").alias("si"))
        .join(docs.select("doc_id", "source"), "doc_id")
        .collect()
    ]
    ng = len(rows)
    glob = sorted(si for _, si, _ in rows)
    by_src = {}
    for did, si, src in rows:
        by_src.setdefault(src, []).append((si, did))
    expect = {}
    for src, vals in by_src.items():
        vals.sort()
        n_s = len(vals)
        sb = sum(si for si, _ in vals)
        sa = 0
        for r, (si, _) in enumerate(vals, 1):
            gidx = (r * ng + n_s - 1) // n_s  # ceil
            sa += glob[gidx - 1]
        expect[src] = (n_s, sb, sa)

    got = {r.source: (r.n, r.sum_before, r.sum_after)
           for r in qs["q293_quantile_normalization"](spark, sf_dir).collect()}
    assert got == expect
    # mapped values are genuine global order statistics: per-source
    # means stay inside the global value range, and the top-rank doc of
    # every source maps to the global maximum (g = ng at r = n_s)
    for src, (n_s, sb, sa) in expect.items():
        assert glob[0] <= sa / n_s <= glob[-1]
    assert all(
        max(glob[(r * ng + len(v) - 1) // len(v) - 1]
            for r in [len(v)]) == glob[-1]
        for v in by_src.values()
    )


def test_q294_neyman_hand_computed(spark, tmp_path, qs):
    """Two strata with engineered variances (one constant-length, one
    high-variance): the constant stratum's S must be 0 so Neyman gives
    it nothing despite equal size; all integers mirrored exactly."""
    import math

    from airflow_spotify_etl_spark.sources.files import SCHEMAS

    def words(n):
        return " ".join(["w"] * n)

    rows, did = [], 0
    for _ in range(10):                      # en: constant length 50
        rows.append((did, words(50), "en", "s", 50)); did += 1
    de_lens = [10, 90, 10, 90, 10, 90, 10, 90, 10, 90]
    for n in de_lens:                        # de: high variance
        rows.append((did, words(n), "de", "s", n)); did += 1
    spark.createDataFrame(rows, SCHEMAS["documents"]).write.parquet(
        str(tmp_path / "documents.parquet"))

    def stats(lens):
        nh = len(lens)
        sx, sxx = sum(lens), sum(x * x for x in lens)
        s = math.sqrt((sxx * nh - sx * sx) / (nh * nh))
        return nh, int(math.floor(s * 1e9))

    en = stats([50] * 10)
    de = stats(de_lens)
    w_total = en[0] * en[1] + de[0] * de[1]
    nt = en[0] + de[0]

    got = {r.lang: r for r in
           qs["q294_neyman_allocation"](spark, str(tmp_path)).collect()}
    assert (got["en"].n_docs, got["en"].s_nano) == en
    assert (got["de"].n_docs, got["de"].s_nano) == de
    assert got["en"].s_nano == 0 and got["en"].neyman_alloc == 0
    assert got["de"].neyman_alloc == (10000 * de[0] * de[1]) // w_total
    assert got["en"].proportional_alloc == (10000 * en[0]) // nt == 5000


def test_q295_aa_audit_python_mirror(spark, tmp_path, qs):
    """Full hashlib mirror of all 20 salted splits and Welch z's on a
    100-user fixture (exact equality on every split's z and flag)."""
    import datetime
    import hashlib
    import math

    from airflow_spotify_etl_spark.sources.files import SCHEMAS

    ts = datetime.datetime(2024, 1, 1)
    rows = [(i, ts, i % 100, "view", float(10 + (i * 7) % 50), "{}")
            for i in range(400)]
    spark.createDataFrame(rows, SCHEMAS["events"]).write.parquet(
        str(tmp_path / "events.parquet"))

    def is_a(k, u):
        # round-9 scheme: ONE digest per user, salt k = parity of hex
        # digit k (0-based) of md5('aa:' || user_id)
        return int(hashlib.md5(f"aa:{u}".encode()).hexdigest()[k],
                   16) % 2 == 0

    expect = {}
    for k in range(20):
        A, B = [], []
        for (eid, _, u, _, v, _) in rows:
            (A if is_a(k, u) else B).append(round(v * 100))
        na, nb = len(A), len(B)
        sa, sb = sum(A), sum(B)
        ssa, ssb = sum(x * x for x in A), sum(x * x for x in B)
        z = (sa / na - sb / nb) / math.sqrt(
            (ssa / na - (sa / na) ** 2) / (na - 1.0)
            + (ssb / nb - (sb / nb) ** 2) / (nb - 1.0))
        expect[k] = (na, nb, round(z, 4), abs(z) > 1.96)

    got = {r.k: (r.na, r.nb, r.z_welch, r.false_flag)
           for r in qs["q295_aa_test_audit"](spark, str(tmp_path)).collect()}
    assert got == expect
    # the fixture's values are a deterministic function of user id, so
    # arm means genuinely differ per split — this is a mirror test, not
    # a null-rate test; just require the audit isn't flagging everything
    assert sum(1 for *_, f in got.values() if f) < 20


def test_q296_loo_encoding_hand_computed(spark, tmp_path, qs):
    """Known 2x2 table: the two LOO encodings per segment and the
    leakage-free property (a purchase row's encoding excludes itself)
    hand-verified; the singleton segment is dropped by the n>=2 guard."""
    import datetime

    from airflow_spotify_etl_spark.sources.files import SCHEMAS

    custs = [(1, "a", 0, 1.0, "S1"), (2, "b", 0, 1.0, "S2"),
             (3, "c", 0, 1.0, "TINY")]
    spark.createDataFrame(custs, SCHEMAS["customer"]).write.parquet(
        str(tmp_path / "customer.parquet"))
    ts = datetime.datetime(2024, 1, 1)
    rows, eid = [], 0
    for u, k, n in [(1, 3, 10), (2, 1, 5)]:
        for i in range(n):
            et = "purchase" if i < k else "view"
            rows.append((eid, ts, u, et, 1.0, "{}")); eid += 1
    rows.append((eid, ts, 3, "purchase", 1.0, "{}"))  # TINY: n=1 -> dropped
    spark.createDataFrame(rows, SCHEMAS["events"]).write.parquet(
        str(tmp_path / "events.parquet"))

    got = {r.segment: r for r in
           qs["q296_loo_target_encoding"](spark, str(tmp_path)).collect()}
    assert set(got) == {"S1", "S2"}
    s1 = got["S1"]
    assert (s1.k, s1.n) == (3, 10)
    assert s1.enc_for_y0_ppm == (3 * 10**6) // 9
    assert s1.enc_for_y1_ppm == (2 * 10**6) // 9   # excludes own label
    assert s1.enc_for_y1_ppm < s1.enc_for_y0_ppm
    assert s1.prior_ppm == (4 * 10**6) // 15


def test_q297_transition_drift_hand_computed(spark, tmp_path, qs):
    """One user whose dynamics flip between halves (A->B chains early,
    A->A chains late): every 2-sample chi-square cell mirrored in
    Python exactly; drift must be large."""
    import datetime
    import math

    from airflow_spotify_etl_spark.sources.files import SCHEMAS

    early = datetime.datetime(2024, 1, 1)
    late = datetime.datetime(2024, 1, 21)
    rows, eid = [], 0
    # first half: A B A B ... (20 events -> 19 transitions alternating)
    for i in range(20):
        rows.append((eid, early + datetime.timedelta(minutes=i), 1,
                     "A" if i % 2 == 0 else "B", 1.0, "{}")); eid += 1
    # second half: A A A ... (20 events -> all A->A after the B->A seam)
    for i in range(20):
        rows.append((eid, late + datetime.timedelta(minutes=i), 1,
                     "A", 1.0, "{}")); eid += 1
    spark.createDataFrame(rows, SCHEMAS["events"]).write.parquet(
        str(tmp_path / "events.parquet"))

    # mirror: transitions with the same midpoint rule
    evs = sorted(rows, key=lambda r: (r[1], r[0]))
    us = [int(r[1].timestamp() * 1e6) for r in evs]
    mid = (min(us) + max(us)) // 2
    cells = {}
    for i in range(1, len(evs)):
        key = (evs[i - 1][3], evs[i][3])
        half = 0 if int(evs[i][1].timestamp() * 1e6) < mid else 1
        a, b = cells.get(key, (0, 0))
        cells[key] = (a + 1, b) if half == 0 else (a, b + 1)
    t1 = sum(a for a, _ in cells.values())
    t2 = sum(b for _, b in cells.values())
    chi_nano = sum(
        int(math.floor((a * t2 - b * t1) ** 2 / ((a + b) * t1 * t2) * 1e9))
        for a, b in cells.values()
    )

    r = qs["q297_transition_drift"](spark, str(tmp_path)).collect()[0]
    assert (r.live_cells, r.df) == (len(cells), len(cells) - 1)
    assert (r.n_first_half, r.n_second_half) == (t1, t2)
    assert r.chi2_sum_nano == chi_nano
    assert r.chi2 > 20.0  # engineered dynamics flip


def test_q298_seasonality_hand_computed(spark, tmp_path, qs):
    """Engineered grid: Monday 9am hot-spot over a uniform background;
    chi terms and deviations mirrored in Python; the hot cell must top
    the ranking with a large positive deviation."""
    import datetime
    import math

    from airflow_spotify_etl_spark.sources.files import SCHEMAS

    rows, eid = [], 0
    # uniform background: 2 events for each of Mon..Thu x hours 9..12
    base = datetime.datetime(2024, 1, 1)  # a Monday
    for d in range(4):
        for h in (9, 10, 11, 12):
            for _ in range(2):
                rows.append((eid, base + datetime.timedelta(days=d, hours=h),
                             1, "view", 1.0, "{}")); eid += 1
    # hot spot: 20 extra events Monday 9am
    for _ in range(20):
        rows.append((eid, base + datetime.timedelta(hours=9), 1, "view",
                     1.0, "{}")); eid += 1
    spark.createDataFrame(rows, SCHEMAS["events"]).write.parquet(
        str(tmp_path / "events.parquet"))

    # derive the grid exactly as the engines see the written parquet
    # (createDataFrame -> session-UTC shifts naive datetimes, so a naive
    # ts.hour mirror would be off by the local offset)
    import duckdb
    cells = {
        (int(d) + 1, int(h)): int(c)
        for d, h, c in duckdb.sql(
            f"SELECT dayofweek(ts), hour(ts), count(*) FROM "
            f"'{tmp_path}/events.parquet/*.parquet' GROUP BY 1, 2"
        ).fetchall()
    }
    r = {}
    k = {}
    for (d, h), c in cells.items():
        r[d] = r.get(d, 0) + c
        k[h] = k.get(h, 0) + c
    n = sum(cells.values())
    chi_nano = sum(
        int(math.floor((c * n - r[d] * k[h]) ** 2
                       / (r[d] * k[h] * n) * 1e9 / n))
        for (d, h), c in cells.items()
    )
    devs = {key: (c * n - r[key[0]] * k[key[1]]) / (r[key[0]] * k[key[1]])
            for key, c in cells.items()}
    hot = max(devs, key=lambda key: (abs(devs[key]), -key[0], -key[1]))

    got = qs["q298_weekday_hour_seasonality"](spark, str(tmp_path)).collect()
    assert len(got) == 10
    top = max(got, key=lambda row: row.load_vs_expected)
    assert (top.dow, top.hr) == hot  # the engineered hot spot
    assert top.load_vs_expected == round(devs[hot], 4)
    assert all(row.chi2 == round(chi_nano / 1e9, 4) for row in got)
    assert got[0].live_cells == len(cells)


def test_q315_hubness_sample_is_fixed_k_bounded(spark, sf_dir, qs):
    """The hubness audit must draw a FIXED-SIZE sample before its cosine
    self-join — a fixed-fraction draw grows the pair stream quadratically
    with the corpus (round-6 verdict's one scale defect). The fixed-k
    draw plans as TakeOrderedAndProject(limit=256), so the self-joined
    relation is ≤ k² pairs no matter the corpus size, and the reported n
    is exactly min(k, corpus)."""
    df = qs["q315_hubness_audit"](spark, sf_dir)
    plan = _final_plan(df)
    assert "TakeOrderedAndProject" in plan, "sample draw is not a top-k"
    assert "limit=256" in plan, "sample is not k-bounded at k=256"
    row = df.collect()[0]
    from airflow_spotify_etl_spark.sources.files import load_table

    corpus = load_table(spark, sf_dir, "embeddings").count()
    assert row.n == min(256, corpus)


def test_q317_scoreboard_bounds_and_tiers(spark, sf_dir, qs):
    """One row per ANN tier, hits bounded by the 5-per-query budget,
    recall_ppm the exact integer (hits*1e6) div (5*n_queries)."""
    rows = qs["q317_ann_tier_scoreboard"](spark, sf_dir).collect()
    assert [r.tier for r in rows] == [
        "hamming_1bit", "int8_sq8", "ivf_nprobe4", "mrl_trunc32",
    ]
    for r in rows:
        assert 0 <= r.hits_at_5 <= 5 * r.n_queries
        assert r.recall_ppm == (r.hits_at_5 * 1_000_000) // (5 * r.n_queries)


def test_q339_dedup_scoreboard_tiers_and_invariants(spark, sf_dir, qs):
    """One row per dedup tier in ladder order; exact tiers carry NULL
    estimator error, audit tiers carry a bounded ppm error; the MinHash
    audit's true positives cannot exceed the LSH tier's candidate-pair
    count (true-pos is a subset of the same pair stream)."""
    rows = qs["q339_dedup_tier_scoreboard"](spark, sf_dir).collect()
    assert [r.tier for r in rows] == [
        "1_exact_md5", "2_canonical", "3_bag_of_words", "4_minhash_lsh",
        "5_containment", "6_edit_distance", "7_minhash_audit",
        "8_kmv_vocab_audit",
    ]
    by = {r.tier: r for r in rows}
    for r in rows:
        assert r.n_rows >= 0 and r.n_dup_hits >= 0
    for t in ("1_exact_md5", "2_canonical", "3_bag_of_words",
              "4_minhash_lsh", "5_containment", "6_edit_distance"):
        assert by[t].est_err_ppm is None
    for t in ("7_minhash_audit", "8_kmv_vocab_audit"):
        if by[t].n_rows:
            assert 0 <= by[t].est_err_ppm <= 1_000_000
    assert by["7_minhash_audit"].n_dup_hits <= by["4_minhash_lsh"].n_rows


def test_q348_drift_scoreboard_tiers_and_bounds(spark, sf_dir, qs):
    """One row per drift metric in suite order; every arm saw data
    (n_rows > 0); the mathematically bounded metrics respect their
    bounds (TVD/Hellinger/KS <= 1e6 micro, JS <= ln2 * 1e6); all
    stats non-negative."""
    rows = qs["q348_drift_tier_scoreboard"](spark, sf_dir).collect()
    assert [r.metric for r in rows] == [
        "1_tvd_pairs", "2_hellinger_pairs", "3_js_vs_corpus",
        "4_psi_vs_corpus", "5_ks_two_sample", "6_wasserstein",
        "7_cvm_two_sample",
    ]
    by = {r.metric: r for r in rows}
    for r in rows:
        assert r.n_rows > 0
        assert r.max_stat_micro >= 0
    for m in ("1_tvd_pairs", "2_hellinger_pairs", "5_ks_two_sample"):
        assert by[m].max_stat_micro <= 1_000_000
    assert by["3_js_vs_corpus"].max_stat_micro <= 693_148


def test_q350_sketch_scoreboard_tiers_and_bounds(spark, sf_dir, qs):
    """One row per sketch in family order; every arm saw data; the
    rate-style errors (Bloom FPR) are <= 1e6; everything
    non-negative."""
    rows = qs["q350_sketch_audit_scoreboard"](spark, sf_dir).collect()
    assert [r.sketch for r in rows] == [
        "1_cms_topk", "2_hll_vocab", "3_bloom_novelty",
        "4_minhash_jaccard", "5_kmv_jaccard",
    ]
    for r in rows:
        assert r.n_rows > 0
        assert r.worst_err_ppm is None or r.worst_err_ppm >= 0
    by = {r.sketch: r for r in rows}
    assert by["3_bloom_novelty"].worst_err_ppm <= 1_000_000
    # MinHash/KMV estimate Jaccard in [0,1] -> gap <= 1e6
    assert by["4_minhash_jaccard"].worst_err_ppm <= 1_000_000
    assert by["5_kmv_jaccard"].worst_err_ppm <= 1_000_000


def test_q318_sweep_monotone_and_exact_at_probe_all(spark, sf_dir, qs):
    """Recall@5 must be non-decreasing in nprobe, and the probe-all
    point (nprobe = nlist = 16) IS brute force — recall exactly 1e6 ppm
    (both top-5s come from the same shared scored relation)."""
    rows = qs["q318_ivf_nprobe_sweep"](spark, sf_dir).collect()
    assert [r.nprobe for r in rows] == [1, 2, 4, 8, 16]
    recalls = [r.recall_ppm for r in rows]
    assert recalls == sorted(recalls)
    assert recalls[-1] == 1_000_000
    for r in rows:
        assert r.recall_ppm == (r.hits_at_5 * 1_000_000) // (5 * r.n_queries)


def test_q320_bloom_fpr_planted_occupancy(spark, tmp_path, qs):
    """High-occupancy planted corpus (20k distinct docs -> ~70% bits
    set at m=2^16, expected FPR ~ 0.7^4 ~ 25%) so the audit actually
    OBSERVES false positives; planted exact duplicates pin the truth
    join, and the Bloom no-false-negative invariant must hold exactly
    (n_missed = 0)."""
    from airflow_spotify_etl_spark.sources.files import SCHEMAS

    rows = []
    # 20k corpus docs (even ids), distinct texts
    for i in range(20000):
        rows.append((2 * i, f"corpus text {i}", "en", "srcA", 10))
    # 2000 novel delta docs (odd ids) + 50 exact duplicates of corpus
    for i in range(2000):
        rows.append((2 * i + 1, f"novel text {i}", "en", "srcA", 10))
    for i in range(50):
        rows.append((40001 + 2 * i, f"corpus text {i}", "en", "srcA", 10))
    spark.createDataFrame(rows, SCHEMAS["documents"]).write.parquet(
        str(tmp_path / "documents.parquet")
    )
    r = qs["q320_bloom_fpr_audit"](spark, str(tmp_path)).collect()[0]
    assert r.n_delta == 2050
    assert r.n_true_dup == 50
    assert r.n_missed == 0, "Bloom filter produced a false negative"
    assert r.n_false_positive > 100  # ~25% of 2000 expected
    assert r.n_bloom_positive == r.n_true_dup + r.n_false_positive
    assert r.fpr_ppm == (r.n_false_positive * 1_000_000) // 2000
    assert r.occupancy_ppm == (r.bits_set * 1_000_000) // 65536
    assert 500_000 < r.occupancy_ppm < 900_000


def test_q325_skew_audit_planted_hot_key(spark, tmp_path, qs):
    """One hot key (100 rows) among 10 singletons: max=100, p99 lands
    on the hot key (ceil(.99*11)=11 -> cum reaches 11 only at m=100),
    top-key share 909090 ppm, and the hot key's partition must carry
    >= 100 rows -> skew ratio >= 29x the mean."""
    import datetime as _dt

    from airflow_spotify_etl_spark.sources.files import SCHEMAS

    def li(ok, ln):
        return (ok, 1, 1, ln, 1.0, 10.0, 0.0, 0.0, "N", "O",
                _dt.datetime(2024, 3, 1, 12))

    rows = [li(999, i + 1) for i in range(100)]
    rows += [li(k, 1) for k in range(10)]
    spark.createDataFrame(rows, SCHEMAS["lineitem"]).write.parquet(
        str(tmp_path / "lineitem.parquet")
    )
    r = qs["q325_join_skew_audit"](spark, str(tmp_path)).collect()[0]
    assert (r.n_keys, r.n_rows, r.max_key_rows, r.p99_key_rows) == (
        11, 110, 100, 100,
    )
    assert r.top_key_ppm == (100 * 1_000_000) // 110
    assert r.max_part_rows >= 100
    assert r.skew_ratio_milli >= 29_000


def test_q327_codebook_members_have_zero_distortion(spark, tmp_path, qs):
    """If every corpus vector IS one of the 16 hash-seeded codebook
    vectors (16 corpus rows -> the hash-seeded draw IS the corpus),
    each row's own slices are codewords, the argmin picks them
    (distance 0 beats everything), and per-subspace SSE must be
    exactly 0."""
    from airflow_spotify_etl_spark.sources.files import SCHEMAS

    import numpy as np

    rng = np.random.RandomState(7)
    base = [rng.randn(64).astype("float32").tolist() for _ in range(16)]
    rows = [(5 + i, base[i], 0) for i in range(16)]
    spark.createDataFrame(rows, SCHEMAS["embeddings"]).write.parquet(
        str(tmp_path / "embeddings.parquet")
    )
    out = {r.j: r for r in qs["q327_pq_distortion"](
        spark, str(tmp_path)).collect()}
    assert set(out) == {0, 1, 2, 3}
    for j, r in out.items():
        assert r.n_vecs == 16
        assert r.sse_nano == "0"
        assert r.mse_nano == 0


def test_q328_identical_docs_have_zero_signature_error(spark, tmp_path, qs):
    """Two identical docs: every MinHash slot matches (m = 64), exact
    Jaccard is 1, the estimator error is exactly 0, and both threshold
    calls agree positive. A lone unrelated doc must not join any
    candidate pair."""
    from airflow_spotify_etl_spark.sources.files import SCHEMAS

    text = " ".join(f"tok{i}" for i in range(40))
    other = " ".join(f"zzz{i}" for i in range(40))
    docs = [
        (1, text, "en", "srcA", 40),
        (2, text, "en", "srcA", 40),
        (3, other, "en", "srcB", 40),
    ]
    spark.createDataFrame(docs, SCHEMAS["documents"]).write.parquet(
        str(tmp_path / "documents.parquet")
    )
    r = qs["q328_minhash_accuracy_audit"](spark, str(tmp_path)).collect()[0]
    assert tuple(r) == (1, 0, 0, 1, 1, 0, 0)


def test_q330_cell_balance_internal_consistency(spark, sf_dir, qs):
    """Cell masses must tile the corpus: hit + empty = 16 cells,
    imbalance = max*16*1000 div n, and max bounds min."""
    r = qs["q330_ivf_cell_balance"](spark, sf_dir).collect()[0]
    assert r.n_cells_hit + r.n_cells_empty == 16
    assert 1 <= r.min_cell_rows <= r.max_cell_rows <= r.n_vecs
    assert r.imbalance_milli == (r.max_cell_rows * 16 * 1000) // r.n_vecs
    assert r.top_cell_ppm == (r.max_cell_rows * 1_000_000) // r.n_vecs
    assert r.imbalance_milli >= 1000  # max >= mean always


def test_q336_frontier_consistency_with_q318(spark, sf_dir, qs):
    """The cost frontier must agree with the recall sweep point-for-
    point (shared construction), candidates must be monotone in
    nprobe, and probe-all work must equal n_queries x corpus size."""
    from airflow_spotify_etl_spark.sources.files import load_table

    frontier = {r.nprobe: r for r in qs["q336_ann_cost_frontier"](
        spark, sf_dir).collect()}
    sweep = {r.nprobe: r for r in qs["q318_ivf_nprobe_sweep"](
        spark, sf_dir).collect()}
    assert set(frontier) == set(sweep) == {1, 2, 4, 8, 16}
    for np_ in frontier:
        assert frontier[np_].recall_ppm == sweep[np_].recall_ppm
        assert frontier[np_].hits_at_5 == sweep[np_].hits_at_5
    cands = [frontier[n].candidates for n in (1, 2, 4, 8, 16)]
    assert cands == sorted(cands)
    corpus_n = load_table(spark, sf_dir, "embeddings").filter(
        "vec_id >= 5").count()
    assert frontier[16].candidates == frontier[16].n_queries * corpus_n


def test_q338_kmv_audit_planted_overlap(spark, tmp_path, qs):
    """Two languages, 400 distinct tokens each, 200 shared (so the
    union of 600 EXCEEDS the k=256 sketch and the estimator actually
    estimates): exact J = 200/600 = 333333 ppm; KMV at k=256 has
    std ~ J(1-J)/sqrt(k) — assert the audit's error stays inside a
    generous 5-sigma band AND that err_ppm is exactly
    |exact - est|. Identical-vocab pairs must read err 0."""
    from airflow_spotify_etl_spark.sources.files import SCHEMAS

    shared = [f"s{i}" for i in range(200)]
    a_only = [f"a{i}" for i in range(200)]
    b_only = [f"b{i}" for i in range(200)]
    docs = [
        (1, " ".join(shared + a_only), "la", "srcA", 400),
        (2, " ".join(shared + b_only), "lb", "srcA", 400),
        (3, " ".join(shared + a_only), "lc", "srcA", 400),  # lc == la vocab
    ]
    spark.createDataFrame(docs, SCHEMAS["documents"]).write.parquet(
        str(tmp_path / "documents.parquet")
    )
    got = {(r.g1, r.g2): r for r in qs["q338_kmv_accuracy_audit"](
        spark, str(tmp_path)).collect()}
    ab = got[("la", "lb")]
    assert (ab.inter, ab.union_exact, ab.exact_j_ppm) == (200, 600, 333333)
    assert ab.err_ppm == abs(ab.exact_j_ppm - ab.est_j_ppm)
    assert ab.err_ppm < 160_000  # ~5 sigma at k=256
    ac = got[("la", "lc")]
    assert (ac.exact_j_ppm, ac.est_j_ppm, ac.err_ppm) == (
        1_000_000, 1_000_000, 0,
    )
