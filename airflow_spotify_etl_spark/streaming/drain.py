"""The one micro-batch drain every ``streaming/`` module runs.

The reference's pipeline 2 is a daily incremental micro-batch
(spotify_etl2.py: ``after = now-24h``, then append). Here each scheduled
run is one ``availableNow`` drain: ``foreachBatch`` hands every non-empty
micro-batch to the module's ``apply_batch``, and the checkpoint makes
the next run resume where this one stopped.

A module keeps its state in one of two store layouts:

- ``write_partial`` — mergeable partials (counts, sketches, hashes):
  each micro-batch OVERWRITES its own ``{store}/batch=<id>`` partition
  and readers merge across batches. ``foreachBatch`` is at-least-once,
  so a retry recomputes the batch and overwrites the same directory
  with identical rows; a plain append would count it twice.
- ``replace_store`` — bounded state replaced whole per batch (SCD-2
  runs, samples, sketches that re-cut to k): read the committed store,
  merge the batch in, and swap the result in rename-first
  (``sinks.writers._swap_replace``), so a crash at any point leaves a
  complete committed store on disk.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from ..sinks.writers import _recover_swap, _swap_replace, hadoop_path

__all__ = ["drain", "write_partial", "replace_store"]


def drain(
    stream: DataFrame,
    checkpoint: str,
    apply_batch: Callable[[DataFrame, int], None],
) -> None:
    """Run ``apply_batch(batch_df, batch_id)`` on every non-empty
    micro-batch of ``stream`` available now, then return."""

    def apply_nonempty(bdf: DataFrame, batch_id: int) -> None:
        if not bdf.isEmpty():
            apply_batch(bdf, batch_id)

    (
        stream.writeStream.foreachBatch(apply_nonempty)
        .outputMode("update")
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )


def write_partial(
    df: DataFrame, store_path: str, batch_id: int, *partition_cols: str
) -> None:
    """Overwrite micro-batch ``batch_id``'s own partition of the store."""
    df.write.mode("overwrite").partitionBy(*partition_cols).parquet(
        f"{store_path}/batch={batch_id}"
    )


def _has_parts(fs, path) -> bool:
    """True iff the directory holds a parquet part or a ``_SUCCESS``
    marker. An empty/aborted directory counts as absent: a prior
    overwrite that died before committing any part file left no data."""
    if not fs.exists(path):
        return False
    names = [st.getPath().getName() for st in fs.listStatus(path)]
    return any(n.endswith(".parquet") or n == "_SUCCESS" for n in names)


def _store_exists(store_path: str) -> bool:
    """True iff a previously-committed store exists at ``store_path``.

    Existence is decided by looking at the path itself through its
    Hadoop ``FileSystem`` (a directory with parquet parts), NOT by
    whether ``spark.read`` succeeds: a transient read failure (corrupt
    footer, permission/network blip, concurrent writer) must abort the
    batch and surface, never be mistaken for "first batch" — that
    mistake would overwrite the store with only the current batch and
    silently destroy all accumulated history (ADVICE r3).

    A swap that a crash interrupted is recovered first, so a store that
    sits in its backup counts as present."""
    _recover_swap(store_path)
    return _has_parts(*hadoop_path(store_path))


def replace_store(
    spark: SparkSession,
    store_path: str,
    merge: Callable[[DataFrame | None], DataFrame],
) -> None:
    """Replace the store with ``merge(stored)``, where ``stored`` is the
    committed store (``None`` before the first commit). A store that
    exists but cannot be read raises rather than being restarted."""
    stored = (
        spark.read.parquet(store_path) if _store_exists(store_path) else None
    )
    # Materialize BEFORE replacing: the merged plan reads store_path and
    # the swap replaces it.
    merged = merge(stored).localCheckpoint(eager=True)
    _swap_replace(store_path, merged.write.mode("overwrite").parquet)
