"""Drift check: each traced call sequence produces what the untraced
pipeline call produces, and the traced reads return the same rows."""

from __future__ import annotations

import os

import corpus
import gen
import ingest
import oracle
import workloads
from spans import Tracer

from music_streaming_etl_glue_spark.plans.llm_pipeline import run_llm_data_pipeline
from music_streaming_etl_glue_spark.plans.pipeline import (
    run_batch_pipeline,
    run_incremental_pipeline,
)
from music_streaming_etl_glue_spark.sources import kv_sink
from music_streaming_etl_glue_spark.operators import similarity

SPEC = gen.EventSpec(n_events=3_000, n_users=150, n_tracks=60)


def test_traced_batch_matches_untraced(spark, tmp_path):
    sf = str(tmp_path / "input")
    gen.write_star(sf, 5, SPEC)
    untraced = run_batch_pipeline(
        spark, sf, str(tmp_path / "out"), batch_ts=workloads.BATCH_TS,
        kv_writer_factory=kv_sink.local_dir_backend(str(tmp_path / "kv")))
    tr = Tracer(spark.sparkContext)
    traced = workloads.traced_batch_pipeline(
        spark, tr, sf, str(tmp_path / "out_t"), str(tmp_path / "kv_t"))

    assert traced.kpi_rows == untraced.kpi_rows
    assert traced.serving_rows == untraced.serving_rows
    assert traced.serving_qa == untraced.serving_qa
    assert tr.count("serving.items", "items") == untraced.serving_rows
    assert tr.count("kv_sink.kv_write", "items") == untraced.serving_rows
    assert tr.count("catalog.scan", "rows") == SPEC.n_events + SPEC.n_users + gen.N_NATIONS
    expected = oracle.kpi_oracle(sf)
    assert oracle.kpi_mismatches(expected, str(tmp_path / "out_t")) == []

    tr.collect_spark_work()
    assert tr.layer_work("kpis")["spark_jobs"] >= 5
    metrics = workloads.per_layer_metrics(tr, {}, 1)
    assert [name for name in metrics] == [n for n, _ in workloads.PER_LAYER]


def test_traced_reads_match_untraced(spark, tmp_path):
    sf = str(tmp_path / "input")
    gen.write_star(sf, 6, SPEC)
    emb = str(tmp_path / "embeddings.parquet")
    vecs = gen.write_embeddings(emb, 6, 300)
    serving_dir = str(tmp_path / "serving_items")
    workloads.build_serving_table(spark, sf, serving_dir)
    kv_sink.write_serving_gsi_genre_date(
        spark.read.parquet(serving_dir), str(tmp_path / "gsi"))
    embeddings = spark.read.parquet(emb)
    similarity.write_ivfpq_layout(embeddings, str(tmp_path / "ivfpq"))
    store = workloads.Store(spark, serving_dir, str(tmp_path / "gsi"),
                            str(tmp_path / "ivfpq"), embeddings)
    schedule = workloads.request_schedule(6, serving_dir, 300, n_blocks=1)
    assert {r.kind for r in schedule} == set(workloads.BLOCK)

    tr = Tracer(spark.sparkContext)
    ref = oracle.ServingOracle(serving_dir)
    for i, req in enumerate(schedule):
        rows = store.serve(req)
        assert oracle.row_bag(store.serve_traced(tr, req, i)) == oracle.row_bag(rows)
        if req.kind == "similar":
            ok, recall = oracle.check_similar(rows, vecs, req.args[0], workloads.TOP_K)
            assert ok and 0 < recall <= 1
        else:
            want = ref.get(*req.args) if req.kind == "get" else ref.range(*req.args)
            assert oracle.row_bag(rows) == want
    ref.close()
    gets = [r for r in schedule if r.kind == "get"]
    assert len(tr.named("kv_sink.get_exec")) == len(gets)
    assert all(s.request is not None for s in tr.spans)


def test_traced_incremental_matches_untraced(spark, tmp_path):
    staging, dims = str(tmp_path / "staging"), str(tmp_path / "dims")
    stats = gen.write_micro_batches(staging, dims, 7, SPEC)
    runs = {}
    for mode in ("untraced", "traced"):
        incoming, work = str(tmp_path / mode / "incoming"), str(tmp_path / mode / "work")
        os.makedirs(incoming)
        tr = Tracer(spark.sparkContext)
        for i in range(gen.N_BATCHES):
            ingest.land(staging, incoming, f"batch-{i:03d}.parquet")
            if mode == "untraced":
                res = run_incremental_pipeline(
                    spark, incoming, dims, work, batch_ts=workloads.BATCH_TS)
            else:
                res = ingest.traced_incremental(
                    spark, tr, incoming, dims, work, workloads.BATCH_TS)
            runs.setdefault(mode, []).append(res)

    for u, t in zip(runs["untraced"], runs["traced"]):
        assert [os.path.basename(f) for f in t.new_files] == [
            os.path.basename(f) for f in u.new_files]
        assert t.fact_rows == u.fact_rows
        assert t.kpi.kpi_rows == u.kpi.kpi_rows
        assert t.kpi.serving_rows == u.kpi.serving_rows
        assert len(t.archived) == len(u.archived) == 1
    assert runs["traced"][-1].fact_rows == sum(stats["batch_events"]) == SPEC.n_events
    expected = oracle.kpi_oracle(dims, os.path.join(staging, "*.parquet"))
    assert oracle.kpi_mismatches(expected, runs["traced"][-1].kpi.output_dir) == []
    assert len(tr.named("incremental.discover")) == gen.N_BATCHES


def test_traced_corpus_matches_untraced(spark, tmp_path):
    sf = str(tmp_path / "docs")
    truth = gen.write_documents(os.path.join(sf, "documents.parquet"), 8)
    untraced = run_llm_data_pipeline(spark, sf, str(tmp_path / "llm"))
    tr = Tracer(spark.sparkContext)
    traced, seen = corpus.traced_llm_pipeline(spark, tr, sf, str(tmp_path / "llm_t"))

    assert traced.stage_counts == untraced.stage_counts
    assert traced.chunk_counts_by_split == untraced.chunk_counts_by_split
    assert traced.packed_examples_by_split == untraced.packed_examples_by_split
    assert traced.scheduled_train_docs == untraced.scheduled_train_docs
    assert traced.leaky_eval_docs == untraced.leaky_eval_docs
    assert traced.pii_redactions == untraced.pii_redactions
    assert traced.stage_counts["input"] == truth["docs"]
    ok, recall, _ = corpus.check_corpus(traced, seen, truth, str(tmp_path))
    spark.catalog.clearCache()
    assert ok and 0 < recall <= 1
    assert {s.layer for s in tr.spans} == {"llm_pipeline", "text", "dedup", "clusters"}


def test_planted_outcomes_counts_recall_and_false_merges():
    truth = {"near_of": {10: 1, 11: 2}, "exact_of": {12: 3}}
    clusters = {1: 1, 10: 1, 2: 2, 11: 11, 3: 3, 4: 3}
    recall, false_merges = corpus.planted_outcomes(truth, clusters)
    assert recall == 0.5 and false_merges == 1
