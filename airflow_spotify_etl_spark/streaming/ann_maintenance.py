"""Streaming ANN index maintenance: keep the stored cell-partitioned
IVF-PQ index fresh as new/updated vectors arrive, WITHOUT rebuilding it.

The batch twin is the oracle-checked q100 composition (seeding →
assignment → PQ encoding → ADC search) and the pytest-pinned stored
lifecycle (write_ann_index / search_ann_index). This module runs the
ENCODE+WRITE step per micro-batch the way a 100 TB vector lake actually
ingests:

- each batch encodes ONLY its own vectors (centroids and codebooks are
  frozen broadcast literals — re-training is a scheduled offline job,
  exactly like FAISS index maintenance) and writes them under its own
  ``batch=<id>/cell=<c>/`` partitions (``streaming/drain.write_partial``:
  a foreachBatch retry re-encodes the identical batch and overwrites
  the same directories — never appends duplicates);
- both ``batch`` and ``cell`` are partition columns, so a search's
  nprobe cells remain PARTITION FILTERS on the read — the store grows
  by batch but a query still touches nprobe/nlist of each batch dir;
- an id re-ingested in a later batch is an UPDATE: both versions exist
  in the store (append-shaped writes can't touch other batches'
  partitions), and ``latest_index_view`` / ``compact_ann_index``
  collapse to the highest batch per id — read-time for freshness,
  rewrite-time (the crash-safe rename-first swap,
  ``sinks.writers._swap_replace``) to keep search scans one-row-per-id.

At 100 TB: batches are minutes of ingest, compaction is a daily job,
and the search path reads the compacted table plus the small tail of
post-compaction batches.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from .drain import drain, write_partial

__all__ = [
    "run_ann_index_maintenance",
    "latest_index_view",
    "compact_ann_index",
]


def _apply_index_batch(
    bdf: DataFrame,
    index_path: str,
    centroids: list,
    books: list,
    batch_id: int,
    vec_col: str,
    id_col: str,
) -> None:
    """One micro-batch: collapse within-batch duplicate ids
    (deterministically — lowest content hash wins, not partition
    order), encode to (id, cell, codes), overwrite this batch's own
    partition tree."""
    from ..operators.similarity import _pq_index
    content = F.md5(
        F.concat_ws(",", F.transform(vec_col, lambda x: x.cast("string")))
    )
    w = W.partitionBy(id_col).orderBy(content.asc_nulls_last())
    firsts = (
        bdf.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )
    enc = _pq_index(firsts, centroids, books, vec_col, id_col)
    write_partial(enc, index_path, batch_id, "cell")


def run_ann_index_maintenance(
    spark: SparkSession,
    stream: DataFrame,
    index_path: str,
    centroids: list,
    books: list,
    checkpoint: str,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> None:
    """Drain ``stream`` (availableNow) through `_apply_index_batch`."""
    drain(
        stream,
        checkpoint,
        lambda bdf, batch_id: _apply_index_batch(
            bdf, index_path, centroids, books, batch_id, vec_col, id_col
        ),
    )


def latest_index_view(
    spark: SparkSession, index_path: str, id_col: str = "vec_id"
) -> DataFrame:
    """Read-time upsert semantics over the batch-partitioned store: the
    highest-batch row per id (an id re-ingested later is an update).
    ONE window on the uniform id key; at scale prefer
    ``compact_ann_index`` on a cadence and keep this view for the
    post-compaction tail."""
    idx = spark.read.parquet(index_path)
    w = W.partitionBy(id_col).orderBy(F.col("batch").desc())
    return (
        idx.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn", "batch")
    )


def compact_ann_index(
    spark: SparkSession, index_path: str, id_col: str = "vec_id"
) -> int:
    """Collapse the maintained store to one (latest) row per id and
    rewrite it as a single ``batch=0`` generation, cell-partitioned —
    restoring the one-row-per-id scan the search path wants. The rewrite
    goes through the crash-safe rename-first swap
    (``sinks.writers._swap_replace``). Returns the compacted row count."""
    from ..sinks.writers import _swap_replace

    def stage(tmp: str) -> int:
        latest = latest_index_view(spark, index_path, id_col)
        n = latest.count()
        latest.withColumn("batch", F.lit(0)).write.mode(
            "overwrite"
        ).partitionBy("batch", "cell").parquet(tmp)
        return n

    return _swap_replace(index_path, stage)
