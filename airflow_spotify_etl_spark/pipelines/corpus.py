"""Composed LLM-training-corpus pipeline (north star: the 100 TB use case).

Chains the engine's text/dedup tiers the way a production data pipeline
does — cheapest filter first, each stage shrinking the next stage's input:

    ingest → quality gate → repetition gate → classifier gate →
    PII redaction → language ID → exact dedup → near-dedup →
    span excision → stratified mixing → quality-weighted sampling →
    fingerprint → partitioned write → summary

Stage costs at scale (why this order):
1. quality gate      — narrow projection + filter, scan speed.
2. repetition gate   — per-doc token statistics (Gopher-style TTR /
   top-fraction cuts) as a row-local filter, no shuffle; drops templated
   mass BEFORE the dedup tiers would waste candidate work on it.
   Stages 1-2 are materialized once, in one eager checkpoint whose job is
   the build's only scan of its input; ``docs_in`` is an Observation on
   that input riding the same job. Lang-ID's fit and predict, its join
   and exact dedup all read the checkpoint, so no later stage re-derives
   the gates.
3. language ID       — explode + broadcast-join + per-doc agg.
4. exact dedup       — one skew-free shuffle on md5(text); the
   deduplicated count rides the frontier checkpoint as an Observation.
5. MinHash near-dedup— the LSH banding path; runs on the ALREADY exact-
   deduped survivors, so boilerplate mass is gone before the joins.
6. stratified mixing — deterministic hash down-sampling per language to
   the target mix; narrow filter, reproducible on any cluster.
7. fingerprint + write — narrow; partitioned by language for downstream
   pruning (per-language training mixes read only their slice).

Every stage is an operator this repo oracle-checks individually
(q18/q45/q29/q142/q20/q21/q25/q47/q23); this module is their
composition, tested end-to-end in tests/test_corpus_pipeline.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from ..operators.dedup import _checkpoint_observing
from ..operators.dedup import connected_components, exact_dedup, minhash_lsh_pairs
from ..operators.text import _STOPWORDS, _with_repetition, fit_lang_profiles, predict_lang
from ..sinks.writers import summary_record, summary_record_observed

__all__ = ["quality_filter", "repetition_filter", "run_corpus_pipeline"]


def quality_filter(
    docs: DataFrame,
    text_col: str = "text",
    min_words: int = 5,
    max_stopword_ratio: float = 0.7,
    min_alpha_ratio: float = 0.5,
) -> DataFrame:
    """Stage-1 gate: drop junk before anything expensive sees it.
    Length / stopword / alphanumeric-ratio heuristics (the q18 metrics as
    predicates) — one codegen'd projection + filter, no shuffle."""
    words = F.split(F.col(text_col), " ")
    n_words = F.size(words)
    n_chars = F.length(text_col)
    n_alpha = F.length(F.regexp_replace(F.col(text_col), "[^A-Za-z0-9]", ""))
    stop = F.array(*[F.lit(s) for s in _STOPWORDS])
    n_stop = F.size(F.filter(words, lambda x: F.array_contains(stop, x)))
    return docs.filter(
        (n_words >= min_words)
        & (n_stop / n_words <= max_stopword_ratio)
        & (n_alpha / F.greatest(n_chars, F.lit(1)) >= min_alpha_ratio)
    )


def repetition_filter(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_type_token_ratio: float = 0.05,
    max_top_token_frac: float = 0.5,
) -> DataFrame:
    """Stage-2 gate: drop template/spam mass by repetition signals
    (operators/text.repetition_metrics as predicates — the Gopher cuts).
    Runs BEFORE the dedup tiers so their band buckets never fill with the
    degenerate docs these thresholds remove. Row-local: each row is kept
    or dropped on its own text, so ``id_col`` plays no part."""
    return _with_repetition(docs, text_col).filter(
        (F.col("_type_token_ratio") >= min_type_token_ratio)
        & (F.col("_top_token_frac") <= max_top_token_frac)
    ).drop("_n_tokens", "_type_token_ratio", "_top_token_frac", "_top_bigram_frac")


def run_corpus_pipeline(
    spark: SparkSession,
    docs: DataFrame,
    out_path: str,
    near_dup_threshold: float = 0.7,
    min_words: int = 5,
    mix_rates: dict[str, float] | None = None,
    weight_col=None,
    classifier_min_score: float | None = None,
    excise_spans: bool = False,
    redact_pii_text: bool = False,
) -> dict:
    """Full corpus build; returns a K4-style summary of per-stage attrition
    (the numbers a pipeline operator actually watches)."""
    # 1-2. quality gate, then repetition gate (Gopher cuts), materialized
    # once: stages 3-4 re-read the gated docs four times. The input's row
    # count rides the checkpoint's job.
    seen = Observation()
    counted = docs.observe(seen, F.count(F.lit(1)).alias("n"))
    clean = repetition_filter(quality_filter(counted, min_words=min_words))
    clean = clean.localCheckpoint(eager=True)
    n_in = seen.get["n"]

    # 2b. model-based quality gate — the hashed linear classifier (q104):
    # a second-tier cut after the heuristic gates, before any shuffle-
    # heavy dedup work sees the low-quality mass.
    if classifier_min_score is not None:
        from ..operators.text import hashed_linear_score

        ok = hashed_linear_score(clean).filter(
            F.col("score") >= float(classifier_min_score)
        )
        clean = clean.join(ok.select("doc_id"), "doc_id", "left_semi")

    # 2c. PII redaction — scrub before anything persists or fingerprints
    # (redacted text is what dedup/fingerprint must see, or two docs
    # differing only in a phone number would not collapse).
    if redact_pii_text:
        from ..operators.text import redact_pii

        red = redact_pii(clean).select("doc_id", "text_clean")
        clean = (
            clean.join(red, "doc_id")
            .drop("text")
            .withColumnRenamed("text_clean", "text")
        )

    # 3. language ID — profiles fit on the labeled subset, predictions for
    # all docs (docs with no usable tokens surface as pred_lang=null and are
    # dropped with the junk).
    profiles = fit_lang_profiles(clean)
    langs = predict_lang(clean, profiles).select("doc_id", "pred_lang")
    clean = clean.join(langs, "doc_id", "left")

    # 4. exact dedup — keep the lowest doc_id per identical text.
    keepers = exact_dedup(clean).select(F.col("keeper").alias("doc_id"))
    uniq = clean.join(keepers, "doc_id", "left_semi")
    # Materialize once: stages 4-6 all re-read this frontier. Its row
    # count rides the checkpoint's own job.
    uniq, n_exact = _checkpoint_observing(uniq, F.count(F.lit(1)))

    # 5. near-dedup — LSH candidates + candidate-only verification on the
    # exact-deduped survivors, resolved into CLUSTERS (near-dup relations
    # chain: dropping "the higher doc of each pair" would still keep two
    # docs of one A~B~C chain); keep the minimum doc_id per component.
    near = minhash_lsh_pairs(uniq, threshold=near_dup_threshold)
    comp = connected_components(near)
    drop = comp.filter(F.col("doc_id") != F.col("component")).select("doc_id")
    final = uniq.join(drop, "doc_id", "left_anti")

    # 5b. sub-document span excision — cut repeated spans the document-
    # level tiers can't touch (shared boilerplate inside otherwise-unique
    # docs). Runs AFTER doc-level dedup so the window stream is smallest.
    if excise_spans:
        from ..operators.dedup import span_excise

        cut = span_excise(final).select("doc_id", "text_clean")
        final = (
            final.join(cut, "doc_id")
            .drop("text")
            .withColumnRenamed("text_clean", "text")
        )

    # 6. stratified mixing — down-sample strata to the target corpus mix.
    final = final.withColumn("pred_lang", F.coalesce("pred_lang", F.lit("und")))
    if mix_rates:
        from ..operators.sampling import stratified_sample

        final = stratified_sample(final, mix_rates, strata_col="pred_lang").drop(
            "bucket"
        )

    # 6b. quality-weighted downsampling — keep each doc with probability
    # given by ``weight_col`` (a Column in [0,1], e.g. a normalized q49 LM
    # score). Hash-deterministic (operators/sampling.weighted_sample), so
    # the corpus stays content-addressed end-to-end.
    if weight_col is not None:
        from ..operators.sampling import weighted_sample

        final = weighted_sample(
            final.withColumn("_w", weight_col), "_w", salt="corpusw"
        ).drop("bucket", "keep_threshold", "_w")

    # 7. fingerprint + partitioned write (by predicted language).
    canon = F.lower(F.regexp_replace(F.col("text"), "\\s+", " "))
    final = final.withColumn("fingerprint", F.md5(canon))

    # Summary stats ride the WRITE as observed metrics (zero extra pass):
    # the old read-back re-scanned the full text column just to count
    # chars — at 100 TB that second read costs as much as the write.
    # The coalesced sum keeps the empty-corpus summary at literal zeros
    # (the quietest-day rule, tests/test_empty_inputs.py). Exact-distinct
    # metrics can't be observed (Spark INVALID_OBSERVED_METRICS), but
    # n_langs is over the PARTITION column, so its read-back scans only
    # directory metadata, not data pages; the explicit schema keeps an
    # all-gates-empty corpus (zero part files) from crashing inference.
    _, stats = summary_record_observed(
        final,
        lambda obs_df: obs_df.write.mode("overwrite")
        .partitionBy("pred_lang")
        .parquet(out_path),
        n_docs=F.count(F.lit(1)),
        total_chars=F.coalesce(F.sum(F.length("text")), F.lit(0)),
    )
    out = spark.read.schema(final.schema).parquet(out_path)
    stats["n_langs"] = summary_record(
        out.select("pred_lang"), n_langs=F.countDistinct("pred_lang")
    )["n_langs"]
    return {
        "docs_in": n_in,
        "docs_after_exact_dedup": n_exact,
        "docs_out": stats["n_docs"],
        "n_langs": stats["n_langs"],
        "total_chars": stats["total_chars"],
        "output_path": out_path,
        "status": "success",
    }
