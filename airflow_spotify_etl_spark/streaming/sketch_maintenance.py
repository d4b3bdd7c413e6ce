"""Streaming maintenance of MERGEABLE summaries: a weighted top-k sample,
per-group KMV sketches, and a Misra-Gries heavy-hitters table kept
current from a document stream, one bounded merge per micro-batch.

Why these compose with streaming for free: every state is MERGEABLE —

- the A-ES weighted sample (operators/sampling.weighted_exact_k_sample)
  keys every row by a deterministic hash-derived u^(1/w); the global
  top-k of a union is the top-k of (stored top-k ∪ batch top-k), so a
  micro-batch merge needs only 2k rows, never history;
- a KMV sketch (operators/sketches.kmv_group_sketch) is the bottom-k
  distinct hash set per group; union-then-recut is exactly the sketch of
  the union, so the stored state is ≤ G·k rows forever;
- Misra-Gries counters merge by item-wise sum + (m+1)-th-largest
  decrement (Agarwal et al., PODS'12), preserving the N/(m+1) error
  bound under arbitrary batch splits.

Each drain therefore costs O(batch) + O(state), with state bounded by
construction — the 100 TB ingest shape: the corpus never re-scans, and
the stored artifact a downstream query reads (the sample, the overlap
estimates) is always current. Equality with the from-scratch batch
computation is pytest-verified (two drains ≡ one batch run), the same
incremental-equals-rebuild discipline as streaming SCD-2 (q80).

Each drain replaces its store through ``streaming/drain.replace_store``:
path-existence decides "first batch" (a read failure on an existing
store must fail the batch, not silently restart state — ADVICE r3), and
the state is materialized before the swap that replaces it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .drain import drain, replace_store

__all__ = [
    "run_weighted_sample_maintenance",
    "run_kmv_maintenance",
    "run_heavy_hitters_maintenance",
]


def run_weighted_sample_maintenance(
    spark: SparkSession,
    stream: DataFrame,
    store_path: str,
    checkpoint: str,
    k: int,
    weight_col: str,
    id_col: str = "doc_id",
    salt: str = "wek",
) -> None:
    """Keep the exact-size-k A-ES weighted sample of EVERYTHING seen on
    the stream in a stored table: per micro-batch, draw the batch's
    top-k, union with the stored sample, re-cut to k. Because es_key is a
    pure function of (salt, id, weight), the merged cut equals the batch
    q99 draw over the full history — verified in tests."""
    from ..operators.sampling import weighted_exact_k_sample

    def apply_batch(bdf: DataFrame, batch_id: int) -> None:
        batch_top = weighted_exact_k_sample(bdf, k, weight_col, id_col, salt)

        def merge(stored: DataFrame | None) -> DataFrame:
            if stored is None:
                return batch_top
            return (
                stored.unionByName(batch_top)
                # an id re-sent across batches keeps ONE copy (same key
                # both times — content-addressed), not two sample slots
                .dropDuplicates([id_col])
                .orderBy(F.col("es_key").desc(), id_col)
                .limit(k)
            )

        replace_store(spark, store_path, merge)

    drain(stream, checkpoint, apply_batch)


def run_kmv_maintenance(
    spark: SparkSession,
    stream: DataFrame,
    store_path: str,
    checkpoint: str,
    group_col: str,
    value_col: str,
    k: int = 256,
) -> None:
    """Keep per-group KMV sketches of the streamed values current: per
    micro-batch, sketch the batch, union with the stored sketch rows,
    distinct on (group, h) — the same value re-streamed hashes
    identically — and re-cut each group to its k smallest. The stored
    state is ≤ groups·k narrow rows regardless of stream volume; pairwise
    overlap estimates (kmv_pair_overlap) read it directly."""
    from pyspark.sql import Window as W

    from ..operators.sketches import kmv_group_sketch

    def apply_batch(bdf: DataFrame, batch_id: int) -> None:
        batch_mins = kmv_group_sketch(bdf, group_col, value_col, k).select(
            group_col, "h"
        )

        def merge(stored: DataFrame | None) -> DataFrame:
            pool = (
                batch_mins
                if stored is None
                else stored.select(group_col, "h")
                .unionByName(batch_mins)
                .distinct()
            )
            rn = F.row_number().over(W.partitionBy(group_col).orderBy("h"))
            return pool.withColumn("rn", rn).filter(F.col("rn") <= int(k))

        replace_store(spark, store_path, merge)

    drain(stream, checkpoint, apply_batch)


def run_heavy_hitters_maintenance(
    spark: SparkSession,
    stream: DataFrame,
    store_path: str,
    checkpoint: str,
    item_col: str,
    m: int = 100,
) -> None:
    """Keep a Misra-Gries heavy-hitters summary (≤ m counters) of the
    streamed items current — the mergeable-summaries merge (Agarwal et
    al., PODS'12): sum counters item-wise, then subtract the (m+1)-th
    largest count from every counter and drop the non-positive ones.
    The classic guarantee survives merging: any item with true frequency
    > N/(m+1) is guaranteed present, and each stored count undercounts
    its true count by at most N/(m+1) (N = total items seen, tracked in
    the store's ``n_total``). State is ≤ m narrow rows forever; each
    batch costs one grouped count plus an m-row re-rank. This is the
    streaming twin of the batch ``frequent_values`` sketch."""
    from pyspark.sql import Window as W

    def apply_batch(bdf: DataFrame, batch_id: int) -> None:
        batch_counts = (
            bdf.groupBy(F.col(item_col).alias("item"))
            .agg(F.count("*").alias("cnt"))
        )
        batch_n = bdf.count()

        def merge(stored: DataFrame | None) -> DataFrame:
            if stored is None:
                prev_n = 0
                pool = batch_counts
            else:
                prev_n = stored.agg(F.max("n_total")).collect()[0][0] or 0
                pool = (
                    stored.select("item", "cnt")
                    .unionByName(batch_counts)
                    .groupBy("item")
                    .agg(F.sum("cnt").alias("cnt"))
                )
            rn = F.row_number().over(
                W.orderBy(F.col("cnt").desc(), F.col("item"))
            )
            ranked = pool.withColumn("rn", rn)
            # (m+1)-th largest count = the decrement; 0 when ≤ m counters.
            # The rank window is a single-partition sort of ≤ m + |batch
            # distinct| rows — summary-sized, not stream-sized.
            d_row = ranked.filter(F.col("rn") == m + 1).select("cnt").collect()
            d = d_row[0][0] if d_row else 0
            return (
                ranked.filter(F.col("rn") <= m)
                .select("item", (F.col("cnt") - F.lit(d)).alias("cnt"))
                .filter(F.col("cnt") > 0)
                .withColumn("n_total", F.lit(prev_n + batch_n).cast("long"))
            )

        replace_store(spark, store_path, merge)

    drain(stream, checkpoint, apply_batch)
