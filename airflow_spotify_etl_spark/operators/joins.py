"""Join operators beyond plain equi-joins.

- ``asof_join``: backward as-of join (J5, SURVEY.md §2.6) — for each left
  row, the latest right row with ``right_ts <= left_ts`` per key. Spark has
  no native as-of join; this is the union+window strategy: tag both sides,
  union them, sort within key partitions, and carry the last-seen right
  payload forward with ``last(..., ignorenulls=True)``.

  Scale: ONE shuffle on the key columns and a sort within partitions —
  equivalent cost to a sort-merge join, no nested loop, no range explosion.
  Skewed keys are handled by AQE. This beats the per-group
  ``applyInPandas(pd.merge_asof)`` alternative (also provided, for pandas
  parity testing) because it stays JVM-side in whole-stage codegen.

- ``incremental_anti_append``: J4 — the dedup-before-append the reference
  lacks (its SQLite append double-inserts on re-run, spotify_etl2.py:220).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import Window as W
from pyspark.sql import functions as F

__all__ = ["asof_join", "asof_join_pandas", "incremental_anti_append", "fuzzy_self_join"]


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: list[str],
    left_ts: str,
    right_ts: str,
    right_payload: list[str],
) -> DataFrame:
    """Backward as-of join: latest right row with right_ts <= left_ts per key.

    ``right`` must carry only ``on + [right_ts] + right_payload`` columns and
    none may collide with ``left``'s names (rename before calling). At equal
    timestamps the right row is considered visible (<=, not <).
    """
    overlap = (set(right_payload) | {right_ts}) & set(left.columns)
    if overlap:
        raise ValueError(f"rename right columns colliding with left: {overlap}")
    l_tag = left.withColumn("_asof_ts", F.col(left_ts)).withColumn(
        "_is_left", F.lit(True)
    )
    r_tag = (
        right.select(*on, right_ts, *right_payload)
        .withColumn("_asof_ts", F.col(right_ts))
        .withColumn("_is_left", F.lit(False))
    )
    unioned = l_tag.unionByName(r_tag, allowMissingColumns=True)
    # Right rows sort before left rows at equal _asof_ts (False < True), so a
    # same-timestamp right row is matched by the left row.
    w = (
        W.partitionBy(*on)
        .orderBy("_asof_ts", "_is_left")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    filled = unioned
    for c in [right_ts, *right_payload]:
        filled = filled.withColumn(c, F.last(c, ignorenulls=True).over(w))
    return filled.filter("_is_left").drop("_asof_ts", "_is_left")


def asof_join_pandas(
    left: DataFrame,
    right: DataFrame,
    on: str,
    left_ts: str,
    right_ts: str,
) -> DataFrame:
    """As-of join via per-key ``applyInPandas`` + ``pd.merge_asof``.

    The slow-path fallback (SURVEY.md §2.10 policy: pandas only where
    built-ins can't express the op — here they CAN, so this exists for
    differential testing against ``asof_join``)."""
    import pandas as pd

    l_cols = left.columns
    r_cols = [c for c in right.columns if c != on]
    out_schema = ", ".join(
        f"{f.name} {f.dataType.simpleString()}"
        for f in list(left.schema) + [right.schema[c] for c in r_cols]
    )
    l_tagged = left.withColumn("_side", F.lit(0))
    r_tagged = right.withColumn("_side", F.lit(1))
    cogrouped = l_tagged.groupBy(on).cogroup(r_tagged.groupBy(on))

    def merge(lpdf: pd.DataFrame, rpdf: pd.DataFrame) -> pd.DataFrame:
        lpdf = lpdf.drop(columns=["_side"]).sort_values(left_ts)
        rpdf = rpdf.drop(columns=["_side"]).sort_values(right_ts)
        if lpdf.empty:
            return pd.DataFrame(columns=l_cols + r_cols)
        merged = pd.merge_asof(
            lpdf, rpdf.drop(columns=[on]), left_on=left_ts, right_on=right_ts,
            direction="backward",
        )
        return merged[l_cols + r_cols]

    return cogrouped.applyInPandas(merge, schema=out_schema)


def incremental_anti_append(new: DataFrame, existing: DataFrame, key: str) -> DataFrame:
    """Rows of ``new`` whose key is absent from ``existing`` (J4) — the
    idempotent-append guard. Callers pass the narrowest ``existing`` that
    can hold a replayed key: ``append_table`` reads only the key column of
    the partitions the batch touches, so the key side is as small as those
    partitions whatever the sink's depth.
    Repeated keys on the ``existing`` side cannot change an anti-join's
    result, so they are not deduplicated first (that would cost a
    shuffle)."""
    return new.join(existing.select(key), key, "left_anti")


def fuzzy_self_join(
    df: DataFrame,
    col: str,
    max_dist: int = 2,
    block_expr=None,
    max_block: int | None = 1000,
) -> DataFrame:
    """Blocked edit-distance similarity self-join: distinct values of
    ``col`` whose Levenshtein distance is ≤ ``max_dist``, candidates drawn
    only within a blocking key (entity-resolution attribute blocking — the
    quadratic verify runs per block, never across the whole relation).

    ``block_expr`` defaults to the last whitespace token (catalog-style
    'modifier noun' strings vary in the modifier). Blocks above
    ``max_block`` distinct values are DROPPED, the same skew discipline as
    the LSH band caps (operators/dedup.py): a degenerate block (one shared
    suffix across millions of values) would expand quadratically while the
    pairs it contributes are low-signal boilerplate.

    Returns (name_a, name_b, dist) with name_a < name_b. Scale: dedup
    shuffle on the value, one shuffle on the block key, per-block pair
    expansion bounded by max_block²; levenshtein is JVM-side codegen."""
    b = block_expr if block_expr is not None else F.element_at(F.split(F.col("_v"), " "), -1)
    names = (
        df.select(F.col(col).alias("_v"))
        .distinct()
        .withColumn("_blk", b)
    )
    if max_block is not None:
        names = names.withColumn(
            "_blk_n", F.count("*").over(W.partitionBy("_blk"))
        ).filter(F.col("_blk_n") <= max_block)
    left = names.select(F.col("_blk"), F.col("_v").alias("name_a"))
    right = names.select(F.col("_blk").alias("_blk_r"), F.col("_v").alias("name_b"))
    return (
        left.join(
            right,
            (F.col("_blk") == F.col("_blk_r"))
            & (F.col("name_a") < F.col("name_b")),
        )
        # Bounded form (r12): banded DP, early exit above max_dist
        # (returns -1, excluded below); kept rows carry the identical
        # exact distance, so results are byte-equal to the unbounded
        # call + filter.
        .withColumn("dist", F.levenshtein("name_a", "name_b", int(max_dist)))
        .filter((F.col("dist") >= 0) & (F.col("dist") <= max_dist))
        .select("name_a", "name_b", "dist")
    )
