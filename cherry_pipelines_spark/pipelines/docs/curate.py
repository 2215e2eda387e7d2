"""Document-curation pipeline — the LLM-training-data counterpart of the
blockchain pipelines: the same ``source → steps → sink`` engine
(incremental id-range batches, checkpoint resume, idempotent per-batch
overwrite) driving the training-data operators end to end.

Stages (the standard curation funnel):

1. **quality gate** — repetition stats (Gopher-family) + minimum length;
   drops boilerplate/templated documents.
2. **exact dedup** — sha256 content hash, keep the lowest doc_id per
   hash *within the batch*.  Cross-batch exact dedup belongs to either
   a global pass over the curated output (``operators/dedup``) or a
   streaming ``dropDuplicates`` — a batch pipeline step must not hold
   unbounded cross-batch state.
3. **decontamination** — drop documents sharing any word n-gram with a
   benchmark set (broadcast probe, ``operators/contamination``).
4. **stratified sampling** — deterministic per-language keep rates
   (``operators/sampling``): reproducible across reruns/partitioning.

Each batch also emits a ``curation_stats`` side table (rows surviving
each stage) so yield is observable per id range without a second scan.

Scale: every stage is one of the audited operator plans (map-only
filters, doc-id-keyed explodes, broadcast probes); the pipeline adds no
driver-side state beyond the sink checkpoint.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from cherry_pipelines_spark.engine.pipeline import Pipeline
from cherry_pipelines_spark.engine.step import PyStep, TableBundle
from cherry_pipelines_spark.operators.contamination import ngram_contamination
from cherry_pipelines_spark.operators.sampling import stratified_sample
from cherry_pipelines_spark.operators.text import repetition_stats
from cherry_pipelines_spark.sinks.parquet import ParquetSink
from cherry_pipelines_spark.sources.parquet import ParquetSource, TableSpec

TABLE_NAME = "curated_docs"
STATS_TABLE = "curation_stats"

DEFAULT_RATES = {"en": 0.5, "de": 1.0, "es": 1.0, "fr": 1.0, "zh": 1.0}


def _stage_count(df: DataFrame, stage: str, spark) -> DataFrame:
    return df.groupBy().agg(F.count(F.lit(1)).cast("long").alias("n")).select(
        F.lit(stage).alias("stage"), "n"
    )


def build_pipeline(
    docs_path: str,
    benchmark_path: str,
    sink_path: str,
    min_words: int = 20,
    min_unique_frac: float = 0.3,
    max_top_word_frac: float = 0.2,
    ngram: int = 5,
    rates: dict[str, float] | None = None,
    default_rate: float = 0.0,
) -> Pipeline:
    source = ParquetSource(
        tables={
            "documents": TableSpec(path=docs_path, block_column="doc_id"),
            "benchmark": TableSpec(
                path=benchmark_path, block_column="doc_id", range_filter=False
            ),
        }
    )
    sink = ParquetSink(
        base_path=sink_path, anchor_table=TABLE_NAME, block_column="doc_id"
    )

    def curate(bundle: TableBundle, ctx) -> TableBundle:
        docs = bundle.pop("documents")
        bench = bundle.pop("benchmark")
        spark = docs.sparkSession
        stats = [_stage_count(docs, "input", spark)]

        # 1. quality gate
        rep = repetition_stats(docs)
        quality = docs.join(
            rep.filter(
                (F.col("n_words") >= min_words)
                & (F.col("unique_word_frac") >= min_unique_frac)
                & (F.col("top_word_frac") <= max_top_word_frac)
            ).select("doc_id"),
            "doc_id",
        )
        stats.append(_stage_count(quality, "quality", spark))

        # 2. exact dedup within the batch (canonical = lowest doc_id)
        hashed = quality.withColumn("_h", F.sha2(F.col("text"), 256))
        canonical = hashed.groupBy("_h").agg(F.min("doc_id").alias("doc_id"))
        deduped = hashed.join(canonical, ["_h", "doc_id"]).drop("_h")
        # the dedup subtree feeds contamination shingles, the clean join,
        # and the sampled output — batch-cache it once instead of
        # recomputing scan+quality+dedup per branch (released post-write)
        deduped = ctx.batch_cache(deduped)
        stats.append(_stage_count(deduped, "dedup", spark))

        # 3. decontamination: drop any doc overlapping the benchmark
        contam = ngram_contamination(deduped, bench, ngram=ngram)
        clean = deduped.join(
            contam.filter(F.col("n_overlap") == 0).select("doc_id"), "doc_id"
        )
        stats.append(_stage_count(clean, "decontaminated", spark))

        # 4. deterministic stratified sampling
        sampled = stratified_sample(
            clean,
            "lang",
            rates if rates is not None else DEFAULT_RATES,
            key=F.col("doc_id"),
            default_rate=default_rate,
        )
        stats.append(_stage_count(sampled, "sampled", spark))

        out = stats[0]
        for s in stats[1:]:
            out = out.unionByName(s)
        bundle[TABLE_NAME] = sampled
        bundle[STATS_TABLE] = out
        return bundle

    return Pipeline(
        TABLE_NAME, source, [PyStep(curate, name="curate_docs")], sink
    )
