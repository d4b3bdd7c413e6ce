"""Streaming embedding-centroid maintenance: keep per-label centroid
state current as vectors arrive, and flag drift against a pinned
reference — the monitor a pipeline runs while an upstream encoder or
source mix changes under it.

q122's batch operator already designed the state to be MERGEABLE: the
per-(label, dim) sums are integer-quantized, so partials from any batch
split merge by plain addition with no float-order hazard, and per-label
counts add. The store therefore uses the batch-partial layout of
``streaming/drain.write_partial``: each micro-batch writes its own
(label, dim, qsum) + (label, n) partials under ``batch=<id>`` — the
batch operator's ``_centroid_partials`` — and retry-overwrites only
itself; a reader sums the store and reassembles it with the batch
operator's ``_centroid_rel`` into exactly the (label, svec, n) relation
the shared ``drift_between`` comparison consumes. Quantization, sums and
flag math are the oracle-checked q122 code, not a streaming
re-implementation.

Store size per batch: labels × dims bigints — independent of how many
vectors the batch carried.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .drain import drain, write_partial

__all__ = ["run_centroid_maintenance", "read_centroids", "read_drift"]


def _apply_centroid_batch(
    bdf: DataFrame,
    store_path: str,
    batch_id: int,
    vec_col: str,
    label_col: str,
    scale: int,
) -> None:
    from ..operators.similarity import _centroid_partials

    sums, n = _centroid_partials(bdf, vec_col, label_col, scale)
    write_partial(sums, f"{store_path}/sums", batch_id)
    write_partial(n, f"{store_path}/counts", batch_id)


def run_centroid_maintenance(
    spark: SparkSession,
    stream: DataFrame,
    store_path: str,
    checkpoint: str,
    vec_col: str = "embedding",
    label_col: str = "label",
    scale: int = 10_000,
) -> None:
    """Drain ``stream`` (availableNow), accumulating quantized centroid
    partials into the store."""
    drain(
        stream,
        checkpoint,
        lambda bdf, batch_id: _apply_centroid_batch(
            bdf, store_path, batch_id, vec_col, label_col, scale
        ),
    )


def read_centroids(spark: SparkSession, store_path: str) -> DataFrame:
    """Fold the stored partials into the (label, svec, n) relation —
    identical to ``operators.similarity.centroid_sums`` over the union
    of every drained vector (additive integer merge; pytest-pinned)."""
    from ..operators.similarity import _centroid_rel

    sums = (
        spark.read.parquet(f"{store_path}/sums")
        .groupBy("label", "dim")
        .agg(F.sum("qsum").alias("qsum"))
    )
    n = (
        spark.read.parquet(f"{store_path}/counts")
        .groupBy("label")
        .agg(F.sum("n").alias("n"))
    )
    return _centroid_rel(sums, n)


def read_drift(
    spark: SparkSession,
    store_path: str,
    reference: DataFrame,
    scale: int = 10_000,
    min_cosine: float = 0.98,
) -> DataFrame:
    """Drift of the maintained centroids vs a pinned (label, svec, n)
    reference (e.g. ``read_centroids`` of the store at release time, or
    ``centroid_sums`` of a blessed corpus) — the exact q122 comparison."""
    from ..operators.similarity import drift_between

    o = reference.select(
        "label", F.col("svec").alias("so"), F.col("n").alias("n_old")
    )
    nw = read_centroids(spark, store_path).select(
        "label", F.col("svec").alias("sn"), F.col("n").alias("n_new")
    )
    return drift_between(o, nw, scale, min_cosine)
