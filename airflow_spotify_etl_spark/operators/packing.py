"""Sequence packing (north star: training-batch assembly at 100 TB).

After filtering/dedup/mixing, an LLM data pipeline concatenates documents
into fixed-capacity training sequences ("packing"). The assignment step —
which documents land in which sequence, at which offset — is relational:

1. shard each doc by a deterministic hash (shards are the parallelism unit:
   packing needs a sequential scan, so bound the sequential part to a
   shard, never the corpus);
2. within a shard, order docs deterministically and take a running token
   total (one window over the shard partitioning — a single exchange);
3. a doc's sequence id is its START offset divided by the capacity, and
   its offset within that sequence is the remainder.

This computes the PLAN of the pack (doc → shard, seq, offset); the actual
token concatenation happens tokenizer-side reading docs in (shard, seq,
offset) order. Docs longer than the remaining room in a sequence spill
into the next one (begin_pad marks how far in they start) — the standard
greedy-contiguous scheme; drop-or-split policy is the consumer's choice.

All hashing uses the engine-portable md5 slice (operators/dedup._h32), so
the whole plan is value-checked by the DuckDB oracle (plans/llm/sampling.py q48).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from .dedup import _h32
from .text import _tokens

__all__ = ["pack_documents"]


def pack_documents(
    df: DataFrame,
    capacity: int = 2048,
    n_shards: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """(doc_id, n_tokens, shard, seq, offset) packing plan.

    ``seq`` numbers sequences within a shard; ``offset`` is the doc's token
    start inside its sequence. One narrow projection (token count + shard
    hash) and ONE window exchange on the shard key; at 1000 executors each
    shard packs independently and the window sort is bounded by shard size
    — pick n_shards >= cluster parallelism."""
    # NULL text has a NULL count, not 0, and not size(NULL), which is -1
    # with spark.sql.ansi.enabled=false.
    toks = F.when(F.col(text_col).isNotNull(), F.size(_tokens(F.col(text_col))))
    base = df.select(
        F.col(id_col).alias("doc_id"),
        toks.alias("n_tokens"),
        F.pmod(_h32(F.concat(F.lit("shard"), F.col(id_col).cast("string"))),
               F.lit(n_shards)).alias("shard"),
    )
    w = (
        W.partitionBy("shard")
        .orderBy("doc_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    start = F.sum("n_tokens").over(w) - F.col("n_tokens")
    return base.select(
        "doc_id",
        "n_tokens",
        "shard",
        F.floor(start / capacity).cast("long").alias("seq"),
        F.pmod(start, F.lit(capacity)).cast("long").alias("offset"),
    )
