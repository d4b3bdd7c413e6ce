"""Streaming novelty ingest: admit only never-seen-before documents from
a micro-batched stream, maintaining a batch-partitioned content-hash
store.

The batch twin is oracle-checked (plans/llm/dedup.py q96: bloom-gated exact
novelty ≡ plain anti-join); this module runs that operator per
micro-batch the way a 100 TB ingest actually does:

- the stored side is a HASH TABLE (one md5 per ever-admitted doc), not
  the corpus — the store the bloom builds from and the exact join probes
  is ~32 bytes/doc regardless of document size;
- both sinks are laid out as ``batch=<id>`` partitions and each batch
  OVERWRITES ONLY ITS OWN partition (``streaming/drain.write_partial``):
  foreachBatch is at-least-once, so a retry after a partial failure
  re-runs the batch — against a store view that EXCLUDES the batch's
  own partition — recomputes the identical novel set, and overwrites
  the same directories. Plain appends would duplicate admitted docs on
  every such retry (pytest-pinned idempotence);
- within-batch duplicates collapse first (first occurrence by id — one
  window on the uniform hash key; NULL-text rows get per-row keys, so
  they all survive, matching the batch operator's NULL-is-novel
  semantics).

At scale, bucket the hash store by a hash prefix so the per-batch exact
probe joins co-located buckets (the q81 stored-bands argument), and
rebuild the bloom from the store on a cadence rather than per batch.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from ..sinks.writers import hadoop_path
from .drain import _has_parts, drain, write_partial

__all__ = ["run_novelty_ingest"]


def _store_has_batches(store_path: str, exclude_batch: int) -> bool:
    """True iff any COMMITTED ``batch=N`` partition other than
    ``exclude_batch`` exists (a retry must not read its own partial
    output; a transient read failure on an existing store must surface,
    never be mistaken for first-batch — as in ``drain._store_exists``)."""
    fs, p = hadoop_path(store_path)
    if not fs.exists(p):
        return False
    own = f"batch={exclude_batch}"
    return any(
        _has_parts(fs, st.getPath())
        for st in fs.listStatus(p)
        if st.isDirectory()
        and st.getPath().getName().startswith("batch=")
        and st.getPath().getName() != own
    )


def _apply_novelty_batch(
    spark: SparkSession,
    bdf: DataFrame,
    store_path: str,
    novel_path: str,
    batch_id: int,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> None:
    """One micro-batch: collapse within-batch dups, screen against every
    OTHER batch's stored hashes, overwrite this batch's two partitions.
    Re-invoking with the same (batch contents, batch_id) is a no-op
    rewrite of identical data — the retry contract."""
    from ..operators.dedup import bloom_novelty_filter
    # NULL-text rows get a per-row key: NULL equals nothing, so each is
    # novel on its own — md5(NULL) would collapse them all into one.
    key = F.coalesce(
        F.md5(F.col(text_col)),
        F.concat(F.lit("\x00null:"), F.col(id_col).cast("string")),
    )
    w = W.partitionBy(key).orderBy(id_col)
    firsts = (
        bdf.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )
    if _store_has_batches(store_path, exclude_batch=batch_id):
        hashes = spark.read.parquet(store_path).filter(
            F.col("batch") != batch_id
        )
        novel = bloom_novelty_filter(
            hashes, firsts, text_col=text_col, id_col=id_col,
            corpus_hash_col="ch",
        )
    else:
        novel = firsts
    # Materialize once: both writes below consume the same computed
    # batch, and the store write must not re-trigger the probe plan
    # while the store is being written.
    novel = novel.localCheckpoint(eager=True)
    write_partial(novel, novel_path, batch_id)
    write_partial(
        novel.select(F.md5(F.col(text_col)).alias("ch")), store_path, batch_id
    )


def run_novelty_ingest(
    spark: SparkSession,
    stream: DataFrame,
    store_path: str,
    novel_path: str,
    checkpoint: str,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> None:
    """Drain ``stream`` (availableNow) through `_apply_novelty_batch`."""
    drain(
        stream,
        checkpoint,
        lambda bdf, batch_id: _apply_novelty_batch(
            spark, bdf, store_path, novel_path, batch_id, text_col, id_col
        ),
    )
