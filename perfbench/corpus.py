"""LLM corpus preparation, measured as a side pass of the serving_reads
traced run.

``plans.llm_pipeline.run_llm_data_pipeline``'s call sequence runs over a
seeded document set with planted exact and near-duplicate copies, one
layer per span. Each stage's output is cached and forced with a ``noop``
write inside its span, so a span times its own stage from its cached
input, and the pipeline's per-stage ``count()`` audits (in the
``llm_pipeline`` root span) read the cache:

* ``text.pii``: PII redaction and its per-category totals;
* ``text.normalize_quality_lang``: normalization, quality score and
  language gate;
* ``text.rules``: the hard rule gates;
* ``dedup.exact``: exact dedup;
* ``text.boilerplate``: boilerplate-span removal;
* ``dedup.exact_substring``: the long-span scrub;
* ``clusters.dedup_clusters``: near-dup clusters and the canonical keep;
* ``text.decontam``: both decontamination passes;
* ``dedup.mix_split_schedule``: temperature mix, split, epoch schedule;
* ``text.chunk_pack``: chunk write and per-split packing;
* ``dedup.leakage_audit``: the split-leakage audit.

Checks: stage counts never grow; exactly the planted exact copies whose
original reached exact dedup are removed there; the clusters equal the
DuckDB twin's on the same input. Planted near-duplicate recall and merges
of unrelated documents are reported.
"""

from __future__ import annotations

import os
from collections import defaultdict

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

import gen
import oracle
from spans import Tracer

from music_streaming_etl_glue_spark.operators import text as T
from music_streaming_etl_glue_spark.operators.clusters import dedup_clusters
from music_streaming_etl_glue_spark.operators.dedup import (
    corpus_shuffle,
    dataset_split,
    dedup_apply,
    exact_substring_dedup,
    split_leakage_audit,
    temperature_mix,
)
from music_streaming_etl_glue_spark.plans.llm_pipeline import (
    QUALITY_MIN_SCORE,
    LlmPipelineResult,
)
from music_streaming_etl_glue_spark.sources.catalog import load_table

STAGES = ("input", "quality_lang", "hard_rules", "exact_dedup", "boilerplate",
          "exact_substring", "near_dedup", "decontaminated",
          "ngram_decontaminated", "temperature_mix")
#: spans of the text and dedup layers, each reported as ``<span>_s``
TEXT_SPANS = ("text.pii", "text.normalize_quality_lang", "text.rules",
              "text.boilerplate", "text.decontam", "text.chunk_pack")
DEDUP_SPANS = ("dedup.exact", "dedup.exact_substring",
               "dedup.mix_split_schedule", "dedup.leakage_audit")


def _force(df: DataFrame) -> DataFrame:
    df = df.cache()
    df.write.format("noop").mode("overwrite").save()
    return df


def _replace_text(df: DataFrame, cleaned: DataFrame) -> DataFrame:
    """``df`` with its text swapped for ``cleaned``'s non-empty
    ``clean_text``; documents cleaned down to nothing drop."""
    return df.drop("text").join(
        cleaned.filter(F.length("clean_text") > 0).withColumnRenamed(
            "clean_text", "text"),
        "doc_id",
    ).localCheckpoint()


def traced_llm_pipeline(spark, tr: Tracer, sf_dir: str, output_dir: str
                        ) -> tuple[LlmPipelineResult, dict[str, DataFrame]]:
    """``run_llm_data_pipeline``'s call sequence (default options), one
    layer per span. Also returns the frames the checks read: the input of
    exact dedup, its output, the input of near dedup and its clusters.
    They stay cached until the caller clears the cache."""
    seen: dict[str, DataFrame] = {}
    with tr.span("llm_pipeline"):
        docs = load_table(spark, sf_dir, "documents")
        counts = {"input": docs.count()}

        with tr.span("text.pii"):
            scrubbed = _force(T.redact_pii(docs))
            pii_row = scrubbed.agg(*[
                F.sum(f"n_{tag.lower()}").alias(tag.lower())
                for tag, _ in T.PII_PATTERNS
            ]).first()
            docs = _force(docs.drop("text").join(
                scrubbed.select("doc_id", F.col("redacted_text").alias("text")),
                "doc_id"))
        pii_redactions = {k: int(v or 0) for k, v in pii_row.asDict().items()}

        with tr.span("text.normalize_quality_lang"):
            normed = T.normalize_text(docs).select(
                "doc_id", F.col("norm_text").alias("text"))
            joined = docs.drop("text").join(normed, "doc_id")
            quality = T.text_quality(joined).select("doc_id", "quality_score")
            lang = T.lang_id(joined).select("doc_id", "lang_pred")
            filtered = _force(
                joined.join(quality, "doc_id").join(lang, "doc_id")
                .filter((F.col("quality_score") >= QUALITY_MIN_SCORE)
                        & (F.col("lang_pred") == "en"))
                .drop("quality_score", "lang_pred"))
        counts["quality_lang"] = filtered.count()

        with tr.span("text.rules"):
            rules = T.quality_filter_rules(filtered).select("doc_id", "keep")
            filtered = _force(filtered.join(rules, "doc_id")
                              .filter(F.col("keep")).drop("keep"))
        counts["hard_rules"] = filtered.count()
        seen["hard_rules"] = filtered

        with tr.span("dedup.exact"):
            exact = _force(dedup_apply(filtered))
        counts["exact_dedup"] = exact.count()
        seen["exact_dedup"] = exact

        with tr.span("text.boilerplate"):
            exact = _replace_text(
                exact, T.remove_boilerplate(exact).select("doc_id", "clean_text"))
        counts["boilerplate"] = exact.count()

        with tr.span("dedup.exact_substring"):
            exact = _replace_text(
                exact, exact_substring_dedup(exact).select("doc_id", "clean_text"))
        counts["exact_substring"] = exact.count()
        seen["near_input"] = exact

        with tr.span("clusters.dedup_clusters"):
            clusters = _force(dedup_clusters(exact))
            near = _force(exact.join(
                clusters.filter(F.col("doc_id") == F.col("cluster_id"))
                .select("doc_id"),
                "doc_id", "left_semi"))
        counts["near_dedup"] = near.count()
        seen["clusters"] = clusters

        with tr.span("text.decontam"):
            flags = T.contamination_flags(near).select("doc_id", "contaminated")
            clean = _force(near.join(flags, "doc_id")
                           .filter(~F.col("contaminated")).drop("contaminated"))
        counts["decontaminated"] = clean.count()
        with tr.span("text.decontam"):
            ngram = T.ngram_decontamination(clean).select("doc_id", "contaminated")
            clean = _force(
                clean.join(ngram, "doc_id", "left")
                .filter(~F.coalesce(F.col("contaminated"), F.lit(False)))
                .drop("contaminated"))
        counts["ngram_decontaminated"] = clean.count()

        with tr.span("dedup.mix_split_schedule"):
            mix = temperature_mix(clean).select("doc_id")
            clean = clean.join(mix, "doc_id", "left_semi").localCheckpoint()
        counts["temperature_mix"] = clean.count()
        with tr.span("dedup.mix_split_schedule"):
            split = _force(dataset_split(clean).select("doc_id", "split"))

        with tr.span("text.chunk_pack"):
            T.chunk_documents(clean).join(split, "doc_id").write.mode(
                "overwrite").partitionBy("split").parquet(output_dir)
            by_split = {} if counts["temperature_mix"] == 0 else {
                r["split"]: r["n"]
                for r in spark.read.parquet(output_dir).groupBy("split")
                .agg(F.count("*").alias("n")).collect()
            }
            split_docs = clean.join(split, "doc_id")
            packed = None
            for s in [r["split"] for r in split.select("split").distinct().collect()]:
                p = T.pack_chunks(
                    split_docs.filter(F.col("split") == s).drop("split")
                ).withColumn("split", F.lit(s))
                packed = p if packed is None else packed.unionByName(p)
            examples_by_split = {}
            if packed is not None:
                packed_dir = output_dir.rstrip("/") + "_packed"
                packed.write.mode("overwrite").partitionBy("split").parquet(packed_dir)
                examples_by_split = {
                    r["split"]: r["n"]
                    for r in spark.read.parquet(packed_dir).groupBy("split")
                    .agg(F.count_distinct("example_id").alias("n")).collect()
                }

        with tr.span("dedup.mix_split_schedule"):
            schedule = corpus_shuffle(clean.join(
                split.filter(F.col("split") == "train").select("doc_id"), "doc_id"))
            scheduled = schedule.count()
            if scheduled:
                schedule.write.mode("overwrite").partitionBy("shard").parquet(
                    output_dir.rstrip("/") + "_schedule")

        with tr.span("dedup.leakage_audit"):
            leaky = split_leakage_audit(clean).filter(F.col("leaky")).count()

    return LlmPipelineResult(
        stage_counts=counts,
        chunk_counts_by_split=by_split,
        output_dir=output_dir,
        packed_examples_by_split=examples_by_split,
        pii_redactions=pii_redactions,
        scheduled_train_docs=scheduled,
        leaky_eval_docs=leaky,
    ), seen


def _ids(df: DataFrame) -> set[int]:
    return {r["doc_id"] for r in df.select("doc_id").collect()}


def planted_outcomes(truth: dict, clusters: dict[int, int]) -> tuple[float, int]:
    """(recall, false merges) of the near-dedup clusters against the
    planted copies: the share of planted near-duplicate pairs reaching
    near dedup whole that share a cluster, and the merges of unrelated
    documents (per cluster, its distinct families beyond the first)."""
    pairs = [(c, b) for c, b in truth["near_of"].items()
             if c in clusters and b in clusters]
    hits = sum(clusters[c] == clusters[b] for c, b in pairs)
    family = {**{c: b for c, b in truth["near_of"].items()},
              **{c: b for c, b in truth["exact_of"].items()}}
    members = defaultdict(set)
    for doc, cluster in clusters.items():
        members[cluster].add(family.get(doc, doc))
    false_merges = sum(len(f) - 1 for f in members.values())
    return (hits / len(pairs) if pairs else 1.0), false_merges


def check_corpus(res: LlmPipelineResult, seen: dict[str, DataFrame],
                 truth: dict, work: str) -> tuple[bool, float, int]:
    """(correct, planted near-dup recall, false merges) of one traced
    corpus call."""
    seq = [res.stage_counts[s] for s in STAGES]
    monotone = list(res.stage_counts) == list(STAGES) and all(
        a >= b for a, b in zip(seq, seq[1:]))
    before = _ids(seen["hard_rules"])
    copies = {c for c, b in truth["exact_of"].items() if c in before and b in before}
    exact_ok = _ids(seen["exact_dedup"]) == before - copies

    near_path = os.path.join(work, "near_input.parquet")
    seen["near_input"].select("doc_id", "text").coalesce(1).write.mode(
        "overwrite").parquet(near_path)
    got = {r["doc_id"]: r["cluster_id"] for r in seen["clusters"].collect()}
    clusters_ok = got == oracle.dedup_clusters(os.path.join(near_path, "*.parquet"))
    recall, false_merges = planted_outcomes(truth, got)
    return monotone and exact_ok and clusters_ok, recall, false_merges


def corpus_side_pass(spark, tr: Tracer, work: str, seed: int) -> tuple[dict, dict, int, int]:
    """One traced corpus call over a seeded document set. Returns
    (per-layer metrics, detail, attempted, failed)."""
    sf = os.path.join(work, "corpus_input")
    truth = gen.write_documents(os.path.join(sf, "documents.parquet"), seed)
    try:
        res, seen = traced_llm_pipeline(spark, tr, sf, os.path.join(work, "corpus_out"))
        ok, recall, false_merges = check_corpus(res, seen, truth, work)
    finally:
        spark.catalog.clearCache()
    metrics = {
        "llm_pipeline.corpus_s": (tr.named("llm_pipeline")[-1].duration, "s"),
        "llm_pipeline.self_s": (tr.self_s("llm_pipeline"), "s"),
        "clusters.dedup_clusters_s": (tr.self_s("clusters.dedup_clusters"), "s"),
        "clusters.planted_dup_recall": (recall, "ratio"),
        "clusters.false_merges": (false_merges, "count"),
    }
    for name in TEXT_SPANS + DEDUP_SPANS:
        metrics[f"{name}_s"] = (tr.self_s(name), "s")
    for stage in STAGES:
        metrics[f"llm_pipeline.docs.{stage}"] = (res.stage_counts.get(stage, 0), "count")
    tr.collect_spark_work()
    for layer in ("text", "dedup", "clusters", "llm_pipeline"):
        for what, count in tr.layer_work(layer).items():
            metrics[f"{layer}.{what}"] = (count, "count")
    detail = {
        "inputs": {k: v for k, v in truth.items() if k not in ("exact_of", "near_of")},
        "stage_counts": res.stage_counts,
    }
    return metrics, detail, 1, int(not ok)
