"""Incremental rollup maintenance + new analytics operators: the merged
snapshot must equal a full recompute exactly; sampling, SCD-2, outlier, and
histogram operators verified on closed-form literal inputs."""

from __future__ import annotations

from decimal import Decimal

from pyspark.sql import functions as F

from airflow_spotify_etl_spark.operators.incremental import (
    merge_rollup,
    rollup_snapshot,
)
from airflow_spotify_etl_spark.operators.sampling import weighted_sample
from airflow_spotify_etl_spark.sources.files import load_table


def _dec(col):
    return F.col(col).cast("decimal(18,2)")


def test_incremental_merge_equals_full_recompute(spark, sf_dir):
    """merge(partials(base), partials(delta)) == partials(base ∪ delta),
    exactly — decimal sums make the combine order-independent."""
    ev = load_table(spark, sf_dir, "events").withColumn("day", F.to_date("ts"))
    cutoff = F.lit("2024-01-10").cast("date")
    keys = ["day", "event_type"]
    base = ev.filter(F.col("day") < cutoff)
    delta = ev.filter(F.col("day") >= cutoff)

    merged = merge_rollup(
        rollup_snapshot(base, keys, _dec("value")),
        rollup_snapshot(delta, keys, _dec("value")),
    )
    full = rollup_snapshot(ev, keys, _dec("value"))
    assert merged.exceptAll(full).isEmpty() and full.exceptAll(merged).isEmpty()


def test_incremental_merge_never_scans_base(spark, sf_dir):
    """The incremental path's plan must not contain a second scan of the
    base rows: merging an already-materialized snapshot with a delta reads
    the snapshot relation, not the raw history."""
    ev = load_table(spark, sf_dir, "events").withColumn("day", F.to_date("ts"))
    keys = ["day", "event_type"]
    snap = rollup_snapshot(
        ev.filter(F.col("day") < F.lit("2024-01-10").cast("date")), keys, _dec("value")
    ).localCheckpoint()  # materialized snapshot, as a real pipeline would store
    delta = ev.filter(F.col("day") >= F.lit("2024-01-10").cast("date"))
    merged = merge_rollup(snap, rollup_snapshot(delta, keys, _dec("value")))
    plan = merged._jdf.queryExecution().executedPlan().toString()
    assert plan.count("FileScan parquet") <= 1  # delta scan only


def test_merge_rollup_min_max_fold():
    """min/max states fold correctly across snapshots (not summed)."""
    from airflow_spotify_etl_spark.session import get_spark

    spark = get_spark("tests")
    rows = [("a", 1, Decimal("5.00"), Decimal("1.00"), Decimal("4.00")),
            ("a", 2, Decimal("7.00"), Decimal("0.50"), Decimal("6.00"))]
    cols = ["k", "n_events", "sum_value", "min_value", "max_value"]
    a = spark.createDataFrame([rows[0]], cols)
    b = spark.createDataFrame([rows[1]], cols)
    out = merge_rollup(a, b).collect()[0]
    assert out["n_events"] == 3
    assert out["sum_value"] == Decimal("12.00")
    assert out["min_value"] == Decimal("0.50")
    assert out["max_value"] == Decimal("6.00")


def test_weighted_sample_deterministic_and_monotone(spark, sf_dir):
    """Same salt → identical kept set; weight 0 keeps nothing; weight 1
    keeps everything; the kept set at w is a subset of the kept set at any
    higher weight (same hash, higher threshold)."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    w0 = weighted_sample(docs.withColumn("w", F.lit(0.0)), "w")
    w1 = weighted_sample(docs.withColumn("w", F.lit(1.0)), "w")
    assert w0.count() == 0
    assert w1.count() == docs.count()

    half = weighted_sample(docs.withColumn("w", F.lit(0.5)), "w")
    again = weighted_sample(docs.withColumn("w", F.lit(0.5)), "w")
    a = {r.doc_id for r in half.collect()}
    assert a == {r.doc_id for r in again.collect()}
    full = {r.doc_id for r in w1.collect()}
    assert a <= full
    # Bernoulli(0.5) over 500 docs: kept fraction within loose bounds.
    n = docs.count()
    assert 0.35 * n < len(a) < 0.65 * n


def test_scd2_intervals_tile_timeline(spark, sf_dir):
    """q65 invariants: per user, intervals are disjoint and contiguous
    (next valid_from == previous valid_to), exactly one open interval, and
    n_events sums to the user's event count."""
    from airflow_spotify_etl_spark.plans.relational import q65_scd2_intervals

    out = q65_scd2_intervals(spark, sf_dir)
    sentinel = 253402300799000000
    per_user = (
        out.groupBy("user_id")
        .agg(
            F.sum(F.col("is_current").cast("int")).alias("n_open"),
            F.sum("n_events").alias("total"),
        )
        .collect()
    )
    assert all(r.n_open == 1 for r in per_user)
    ev = load_table(spark, sf_dir, "events")
    counts = {r.user_id: r.c for r in ev.groupBy("user_id").agg(F.count("*").alias("c")).collect()}
    assert all(counts[r.user_id] == r.total for r in per_user)

    rows = out.filter(F.col("user_id") == per_user[0].user_id).collect()
    for prev, nxt in zip(rows, rows[1:]):
        assert prev["valid_to_us"] == nxt["valid_from_us"]
    assert rows[-1]["valid_to_us"] == sentinel


def test_outlier_inequality_matches_float_zscore(spark, sf_dir):
    """The division-free integer inequality flags exactly the rows a
    float z-score > 3 would (values are 2-decimal, so no boundary rows sit
    within float error of the threshold in this fixture)."""
    from airflow_spotify_etl_spark.plans.relational import q67_value_outliers

    flagged = {r.event_id for r in q67_value_outliers(spark, sf_dir).collect()}
    ev = load_table(spark, sf_dir, "events").toPandas()
    expect = set()
    for _, g in ev.groupby("event_type"):
        m, sd = g["value"].mean(), g["value"].std(ddof=1)
        expect |= set(g.loc[abs(g["value"] - m) > 3 * sd, "event_id"])
    assert flagged == expect


def test_histogram_covers_all_orders(spark, sf_dir):
    from airflow_spotify_etl_spark.plans.relational import q68_price_histogram

    rows = q68_price_histogram(spark, sf_dir).collect()
    o = load_table(spark, sf_dir, "orders")
    assert sum(r.n_orders for r in rows) == o.count()
    assert [r.bucket for r in rows] == sorted({r.bucket for r in rows})
    lo = min(r.bucket_lo for r in rows)
    hi = max(r.bucket_hi for r in rows)
    mn, mx = o.agg(F.min("o_totalprice"), F.max("o_totalprice")).collect()[0]
    assert abs(lo - mn) < 0.011 and abs(hi - mx) < 0.011


def test_quota_sample_precut_is_exact(spark, sf_dir):
    """The per-task pre-cut is Catalyst's: the stratum window's
    ``rn <= k`` plans as a Partial WindowGroupLimit below the exchange,
    with no Python worker (no MapInPandas / PythonMapInArrow node), and
    it does not change the chosen sample — the global top-k per stratum
    is a subset of the union of per-partition top-ks."""
    import re

    from airflow_spotify_etl_spark.operators.sampling import quota_sample

    docs = load_table(spark, sf_dir, "documents").repartition(7)
    df = quota_sample(docs, 5)
    fast = {(r.doc_id, r.source, r.rn) for r in df.collect()}
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert re.search(r"WindowGroupLimit .*row_number\(\), 5, Partial", plan), plan
    assert "MapInPandas" not in plan and "PythonMapInArrow" not in plan, plan
    threshold = "spark.sql.optimizer.windowGroupLimitThreshold"
    old = spark.conf.get(threshold)
    spark.conf.set(threshold, "-1")  # the plain window, no group limit
    try:
        plain_df = quota_sample(docs, 5)
        plain = {(r.doc_id, r.source, r.rn) for r in plain_df.collect()}
        assert "WindowGroupLimit" not in plain_df._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.set(threshold, old)
    assert fast == plain
    per_stratum = {}
    for _, s, _ in fast:
        per_stratum[s] = per_stratum.get(s, 0) + 1
    assert all(v == 5 for v in per_stratum.values())


def test_scd2_apply_delta_planted_hot_key(spark):
    """Skew gate for scd2_apply_delta (same planted-hot-key discipline as
    the dedup/delta-probe tests): one user carries 4,000 delta events —
    1000x the other keys — including a run that straddles the cutoff with
    an unchanged state (the open-run merge path) and mid-delta state flips.
    The incremental apply must still equal the full rebuild exactly; the
    hot key concentrates in ONE window partition, which is the inherent
    per-key sort SCD-2 requires, but nothing else in the plan may depend
    on the skewed key's size (the run-table joins stay |keys|-bounded)."""
    from airflow_spotify_etl_spark.operators.incremental import (
        scd2_apply_delta,
        scd2_runs,
    )

    rows = []
    # 200 cold users: 2 base events, 1 delta event each (state flip).
    for u in range(200):
        rows += [
            (u, 100, f"e{u}a", "view"),
            (u, 200, f"e{u}b", "view"),
            (u, 1200, f"e{u}c", "purchase"),
        ]
    # Hot user 999: base run of 'view' open at the cutoff, then 4,000 delta
    # events continuing 'view' before flipping state every 1,000 events.
    rows += [(999, t, f"h{t}", "view") for t in (100, 300, 500)]
    rows += [
        (999, 1000 + i, f"hd{i}", "view" if (i // 1000) % 2 == 0 else "click")
        for i in range(4000)
    ]
    ev = spark.createDataFrame(
        [(u, float(t), e, s) for u, t, e, s in rows],
        "user_id long, tsec double, event_id string, event_type string",
    ).select(
        "user_id",
        F.timestamp_seconds("tsec").alias("ts"),
        "event_id",
        "event_type",
    )
    cutoff = F.timestamp_seconds(F.lit(1000))
    base = scd2_runs(ev.filter(F.col("ts") < cutoff)).localCheckpoint()
    applied = scd2_apply_delta(base, ev.filter(F.col("ts") >= cutoff))
    full = scd2_runs(ev)
    assert applied.exceptAll(full).isEmpty() and full.exceptAll(applied).isEmpty()
    # The hot key's runs: the delta's first 1000-event 'view' block merges
    # into the open base run (3+1000), then click/view/click runs of 1000.
    hot = {r.run_id: (r.state, r.n_events)
           for r in applied.filter(F.col("user_id") == 999).collect()}
    assert hot[1] == ("view", 1003)
    assert hot[2] == ("click", 1000) and len(hot) == 4


def test_epoch_mixture_fractional_repeats(spark):
    from airflow_spotify_etl_spark.operators.sampling import epoch_mixture

    df = spark.createDataFrame(
        [(i, "hot" if i < 100 else ("cold" if i < 200 else "rest"))
         for i in range(300)],
        "doc_id long, source string",
    )
    out = epoch_mixture(df, {"hot": 2.5, "cold": 0.25}).collect()
    per = {}
    for r in out:
        per.setdefault(r.source, []).append((r.doc_id, r.epoch))
    # hot: every doc 2 or 3 times, ~half get the 3rd epoch.
    hot_counts = {}
    for d, e in per["hot"]:
        hot_counts[d] = max(hot_counts.get(d, 0), e)
    assert set(hot_counts.values()) <= {2, 3} and len(hot_counts) == 100
    n3 = sum(1 for v in hot_counts.values() if v == 3)
    assert 30 <= n3 <= 70  # hash-chosen ~50%
    # cold: ~25% of docs once, the rest dropped entirely.
    cold_docs = {d for d, _ in per["cold"]}
    assert 10 <= len(cold_docs) <= 40
    assert all(e == 1 for _, e in per["cold"])
    # rest: default weight 1.0 — exactly once each.
    assert len(per["rest"]) == 100 and all(e == 1 for _, e in per["rest"])
    # Deterministic across runs.
    again = epoch_mixture(df, {"hot": 2.5, "cold": 0.25}).collect()
    assert sorted((r.doc_id, r.epoch) for r in out) == sorted(
        (r.doc_id, r.epoch) for r in again
    )


def test_token_budget_select_matches_serial_greedy(spark):
    from airflow_spotify_etl_spark.operators.sampling import token_budget_select

    rows = [(i, (i * 37) % 100 + 1, float((i * 53) % 997) / 997) for i in range(500)]
    df = spark.createDataFrame(rows, "doc_id long, n_tokens long, quality_score double")
    got = {
        r.doc_id: r.cum_tokens
        for r in token_budget_select(df, budget=5000).collect()
    }
    # Serial reference greedy.
    cum, want = 0, {}
    for i, toks, score in sorted(rows, key=lambda r: (-r[2], r[0])):
        cum += toks
        if cum > 5000:
            break
        want[i] = cum
    assert got == want


def test_token_budget_select_no_global_window_over_data(spark):
    """The corpus-sized relation must flow through a Window PARTITIONED by
    _pid (range-partitioned prefix sum); the only unpartitioned window
    allowed is over the #partitions-sized offsets aggregate."""
    from airflow_spotify_etl_spark.operators.sampling import token_budget_select

    df = spark.createDataFrame(
        [(i, 10, float(i % 7)) for i in range(100)],
        "doc_id long, n_tokens long, quality_score double",
    )
    plan = token_budget_select(df, budget=400)._jdf.queryExecution(
    ).executedPlan().toString()
    data_windows = [
        ln for ln in plan.splitlines()
        if "Window" in ln and "_cum_local" in ln
    ]
    assert data_windows and all("_pid" in ln for ln in data_windows), plan


def test_gap_fill_hourly_locf_and_zero_counts(spark):
    """Planted 2-hour gap: the silent hours appear with n_events=0 and
    carry the last hourly average; a leading gap cannot exist (spine
    starts at the first event); averages are exact decimal/count."""
    from datetime import datetime

    from airflow_spotify_etl_spark.operators.incremental import gap_fill_hourly

    rows = [
        (datetime(2024, 3, 1, 10, 15), 10.0),
        (datetime(2024, 3, 1, 10, 45), 20.0),
        # hours 11 and 12 silent
        (datetime(2024, 3, 1, 13, 5), 7.0),
    ]
    ev = spark.createDataFrame(rows, "ts timestamp, value double")
    got = {r.hour_ts.hour: r for r in gap_fill_hourly(ev).collect()}
    assert sorted(got) == [10, 11, 12, 13]
    assert got[10].n_events == 2 and got[10].avg_value_locf == 15.0
    assert got[11].n_events == 0 and got[11].avg_value_locf == 15.0
    assert got[12].n_events == 0 and got[12].avg_value_locf == 15.0
    assert got[13].n_events == 1 and got[13].avg_value_locf == 7.0


def test_merge_upsert_update_insert_keep(spark):
    """MERGE contract on one pass: delta keys replace base rows, new keys
    insert, untouched base rows survive unchanged — and the three cases
    partition the output exactly."""
    from airflow_spotify_etl_spark.operators.incremental import merge_upsert

    base = spark.createDataFrame(
        [(1, "a", 10), (2, "b", 20), (3, "c", 30)], "k int, v string, n int"
    )
    delta = spark.createDataFrame(
        [(2, "B", 99), (4, "d", 40)], "k int, v string, n int"
    )
    got = {r.k: r for r in merge_upsert(base, delta, ["k"]).collect()}
    assert sorted(got) == [1, 2, 3, 4]
    assert got[1].v == "a" and got[1].n == 10          # keep
    assert got[2].v == "B" and got[2].n == 99          # update wins
    assert got[3].v == "c"                              # keep
    assert got[4].v == "d" and got[4].n == 40          # insert


def test_merge_upsert_last_writer_wins(spark):
    """A delta with several versions of one key collapses to the max
    order_col BEFORE merging (CDC tail semantics), instead of duplicating
    the key in the output."""
    from airflow_spotify_etl_spark.operators.incremental import merge_upsert

    base = spark.createDataFrame([(1, "a", 0)], "k int, v string, seq int")
    delta = spark.createDataFrame(
        [(1, "v1", 5), (1, "v2", 9), (1, "v0", 3)], "k int, v string, seq int"
    )
    out = merge_upsert(base, delta, ["k"], order_col="seq").collect()
    assert len(out) == 1
    assert out[0].v == "v2" and out[0].seq == 9


def test_merge_upsert_no_broadcast_path(spark):
    """broadcast_delta=False keeps results identical (plan-only switch for
    deltas too big to broadcast)."""
    from airflow_spotify_etl_spark.operators.incremental import merge_upsert

    base = spark.createDataFrame([(i, i * 2) for i in range(50)], "k int, n int")
    delta = spark.createDataFrame([(i, -i) for i in range(0, 100, 7)], "k int, n int")
    a = sorted(merge_upsert(base, delta, ["k"]).collect())
    b = sorted(merge_upsert(base, delta, ["k"], broadcast_delta=False).collect())
    assert a == b


def test_stats_drift_flags_planted_breakage(spark):
    """A field going NULL and an enum collapsing are flagged; a stable
    column is not; all flag decisions are integer cross-multiplies."""
    from airflow_spotify_etl_spark.operators.incremental import stats_drift

    old_rows = [(i, f"e{i % 5}", float(i)) for i in range(100)]
    # new: 'etype' collapses to ONE value, 'val' goes 50% NULL, id stable
    new_rows = [
        (i, "e0", float(i) if i % 2 == 0 else None) for i in range(100)
    ]
    schema = "id long, etype string, val double"
    old = spark.createDataFrame(old_rows, schema)
    new = spark.createDataFrame(new_rows, schema)
    out = {r.column: r for r in stats_drift(old, new, ["etype", "val", "id"]).collect()}
    assert out["etype"].distinct_drift and not out["etype"].null_drift
    assert out["etype"].distinct_ratio == 0.2
    assert out["val"].null_drift and out["val"].null_rate_delta == 0.5
    assert not out["id"].null_drift and not out["id"].distinct_drift
    assert out["id"].distinct_ratio == 1.0


def test_stats_drift_single_fused_aggregate_per_side(spark):
    """All columns' counts must come from ONE aggregate over each scan
    (the quality_report discipline) — column count must not multiply
    scans."""
    from airflow_spotify_etl_spark.operators.incremental import stats_drift

    df = spark.range(0, 50).select(
        F.col("id"), (F.col("id") % 3).alias("a"), (F.col("id") % 7).alias("b")
    )
    plan = stats_drift(df, df, ["a", "b", "id"])._jdf.queryExecution(
    ).optimizedPlan().toString()
    assert plan.count("Relation") <= 2, plan  # one scan per side, no more


def test_cdc_apply_tombstones_and_latest_wins(spark):
    from airflow_spotify_etl_spark.operators.incremental import cdc_apply

    base = spark.createDataFrame(
        [(1, "a", 10), (2, "b", 20), (3, "c", 30)], "k long, v string, p long"
    )
    cdc = spark.createDataFrame(
        [
            # key 1: update then DELETE (later) → must end deleted
            (1, "a2", 11, 5, "U"), (1, "a3", 12, 9, "D"),
            # key 2: delete then UPDATE (later) → must end updated
            (2, "b2", 21, 5, "D"), (2, "b3", 22, 9, "U"),
            # key 4: brand-new insert
            (4, "d", 40, 5, "U"),
            # key 5: delete of a key the state never had → no-op
            (5, "e", 50, 5, "D"),
        ],
        "k long, v string, p long, ord long, op string",
    )
    out = {
        r.k: (r.v, r.p)
        for r in cdc_apply(base, cdc, keys=["k"], order_col="ord").collect()
    }
    assert out == {2: ("b3", 22), 3: ("c", 30), 4: ("d", 40)}


def test_cdc_apply_rejects_malformed_op(spark):
    """A NULL or out-of-contract op must FAIL the job, not silently
    delete: before the round-6 guard, a malformed row still removed its
    base row via the key anti-join while op != 'D' evaluated NULL and
    dropped it from the upserts — the key vanished (ADVICE r5)."""
    import pytest

    from airflow_spotify_etl_spark.operators.incremental import cdc_apply

    base = spark.createDataFrame([(1, "a", 10)], "k long, v string, p long")
    for bad_op in [None, "X"]:
        cdc = spark.createDataFrame(
            [(1, "a2", 11, 5, bad_op)],
            "k long, v string, p long, ord long, op string",
        )
        with pytest.raises(Exception, match="cdc_apply: op must be one of"):
            cdc_apply(base, cdc, keys=["k"], order_col="ord").collect()


def test_cdc_apply_order_ties_are_deterministic(spark):
    """Equal order_col within a key: the tombstone outranks the update
    (safe for replayed feeds) regardless of input row order."""
    from airflow_spotify_etl_spark.operators.incremental import cdc_apply

    base = spark.createDataFrame([(9, "z", 0)], "k long, v string, p long")
    rows = [(1, "new", 1, 5, "U"), (1, "gone", 2, 5, "D")]
    for perm in (rows, rows[::-1]):
        cdc = spark.createDataFrame(
            perm, "k long, v string, p long, ord long, op string"
        )
        out = {
            r.k: r.v
            for r in cdc_apply(base, cdc, keys=["k"], order_col="ord")
            .collect()
        }
        assert out == {9: "z"}, perm  # key 1 deleted both ways
