"""Streaming corpus-datasheet maintenance: keep q119's per-source "data
card" current as documents arrive, without rescanning the corpus.

q119's datasheet rolls everything up from the (source, lang, text-hash)
relation — and THAT relation is mergeable: per-batch partials
(cnt/chars/toks per key) merge by addition, and the hash keys make the
distinct-text count exact after the merge. So the store uses the
batch-partial layout of ``streaming/drain.write_partial`` — ~40 bytes
per distinct document per batch, retry-safe overwrite of a batch's own
partition — and the datasheet recompute runs on the merged store, never
the raw corpus. Cost per refresh: one sum over the store (distinct-doc
cardinality) plus the source/lang-sized rollups.

The reader is pinned (pytest) to equal the batch q119 datasheet on the
union of all drained documents — the merge is exact, not approximate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from .drain import drain, write_partial

__all__ = ["run_datasheet_maintenance", "read_datasheet"]


def _apply_datasheet_batch(
    bdf: DataFrame, store_path: str, batch_id: int
) -> None:
    partial = bdf.groupBy(
        "source", "lang", F.md5("text").alias("ch")
    ).agg(
        F.count("*").alias("cnt"),
        F.sum("n_chars").alias("chars"),
        F.sum(F.size(F.split("text", " "))).alias("toks"),
    )
    write_partial(partial, store_path, batch_id)


def run_datasheet_maintenance(
    spark: SparkSession,
    stream: DataFrame,
    store_path: str,
    checkpoint: str,
) -> None:
    """Drain ``stream`` (availableNow), accumulating per-batch
    (source, lang, hash) partials into the store."""
    drain(
        stream,
        checkpoint,
        lambda bdf, batch_id: _apply_datasheet_batch(
            bdf, store_path, batch_id
        ),
    )


def read_datasheet(spark: SparkSession, store_path: str) -> DataFrame:
    """Merge the stored partials (one additive sum per (source, lang,
    hash)) and produce exactly the q119 datasheet columns."""
    partials = spark.read.parquet(store_path)
    base = partials.groupBy("source", "lang", "ch").agg(
        F.sum("cnt").alias("cnt"),
        F.sum("chars").alias("chars"),
        F.sum("toks").alias("toks"),
    )
    per_lang = base.groupBy("source", "lang").agg(
        F.sum("cnt").alias("lang_docs")
    )
    w = W.partitionBy("source").orderBy(F.col("lang_docs").desc(), "lang")
    top = (
        per_lang.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select(
            "source",
            F.col("lang").alias("top_lang"),
            F.col("lang_docs").alias("top_lang_docs"),
        )
    )
    per_source = base.groupBy("source").agg(
        F.sum("cnt").alias("n_docs"),
        F.countDistinct("ch").alias("n_distinct_texts"),
        F.countDistinct("lang").alias("n_langs"),
        F.sum("chars").alias("total_chars"),
        F.sum("toks").alias("total_tokens"),
    )
    return per_source.join(top, "source").select(
        "source",
        "n_docs",
        "n_distinct_texts",
        F.round(
            (F.col("n_docs") - F.col("n_distinct_texts")).cast("double")
            / F.col("n_docs").cast("double"),
            4,
        ).alias("dup_rate"),
        "n_langs",
        "top_lang",
        "top_lang_docs",
        F.round(
            F.col("top_lang_docs").cast("double")
            / F.col("n_docs").cast("double"),
            4,
        ).alias("top_lang_share"),
        "total_chars",
        "total_tokens",
    )
