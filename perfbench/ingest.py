"""Incremental ingest, measured as a side pass of the kpi_batch traced run.

Micro-batch files land one at a time in an incoming directory. After each
one lands, ``plans.pipeline.run_incremental_pipeline``'s call sequence runs
one layer per span, forced only by the pipeline's own writes and actions:

* ``incremental.discover``: ``probes.list_files`` + ``FileLedger.new_files``;
* ``incremental.append``: read the new files, append them to the fact
  table, mark them processed;
* ``incremental.rebuild``: enrich, the five KPI tables with their
  read-back counts, the serving items' QA gate and the serving parquet
  rewrite, all from the accumulated facts;
* ``probes.archive``: move the consumed files under ``archived/``;
* ``incremental`` (the root): orchestration, and the fact-row count.

Freshness is the time from a file landing until the call returns with
the serving table showing that batch. The final outputs are checked
against the DuckDB KPI twins over every batch file.
"""

from __future__ import annotations

import os
import shutil
import statistics
import time

import gen
import oracle
from spans import Tracer

from music_streaming_etl_glue_spark.operators import kpis as K
from music_streaming_etl_glue_spark.operators.enrich import enrich_events
from music_streaming_etl_glue_spark.operators.serving import serving_items
from music_streaming_etl_glue_spark.plans.incremental import FileLedger
from music_streaming_etl_glue_spark.plans.pipeline import (
    IncrementalResult,
    PipelineResult,
)
from music_streaming_etl_glue_spark.plans.quality import assert_serving_quality
from music_streaming_etl_glue_spark.sources.catalog import (
    _ensure_session_confs,
    convert_nanos_ts,
    load_table,
)
from music_streaming_etl_glue_spark.sources.kv_sink import write_serving_parquet
from music_streaming_etl_glue_spark.sources.probes import archive_files, list_files

INGEST_EVENTS = gen.EventSpec(n_events=10_000, n_users=500, n_tracks=200)


def traced_incremental(spark, tr: Tracer, incoming_dir: str, dims_dir: str,
                       work_dir: str, batch_ts: str) -> IncrementalResult:
    """``run_incremental_pipeline``'s call sequence, one layer per span."""
    fact_dir = os.path.join(work_dir, "fact")
    out_dir = os.path.join(work_dir, "kpis")
    serving_dir = os.path.join(out_dir, "serving_items")
    _ensure_session_confs(spark)
    os.makedirs(work_dir, exist_ok=True)
    with tr.span("incremental"):
        with tr.span("incremental.discover") as sp:
            ledger = FileLedger(os.path.join(work_dir, "processed_files.json"))
            new_files = ledger.new_files(
                list_files(spark, incoming_dir, suffix=".parquet"))
            sp.counts["files"] = len(new_files)
        if new_files:
            with tr.span("incremental.append"):
                batch = convert_nanos_ts(spark.read.parquet(*new_files), "ts")
                batch.write.mode("append").parquet(fact_dir)
                ledger.mark_processed(new_files)
        with tr.span("incremental.rebuild"):
            events = spark.read.parquet(fact_dir)
            enriched = enrich_events(
                events, load_table(spark, dims_dir, "customer"),
                load_table(spark, dims_dir, "nation")).cache()
            kpi_rows = {}
            for name in oracle.KPI_SQL:
                df = getattr(K, name)(enriched)
                path = os.path.join(out_dir, name)
                writer = df.write.mode("overwrite")
                if "date" in df.columns:
                    writer = writer.partitionBy("date")
                writer.parquet(path)
                kpi_rows[name] = spark.read.parquet(path).count()
            items = serving_items(enriched, batch_ts, materialize=False)
            assert_serving_quality(items)
            write_serving_parquet(items, serving_dir)
            serving_rows = spark.read.parquet(serving_dir).count()
            enriched.unpersist()
        with tr.span("probes.archive"):
            archived = archive_files(
                spark, new_files, os.path.join(work_dir, "archived"), batch_ts)
        fact_rows = events.count()
    return IncrementalResult(
        new_files, fact_rows, PipelineResult(kpi_rows, serving_rows, out_dir),
        archived)


def land(staging_dir: str, incoming_dir: str, name: str) -> None:
    """Copy one staged file into ``incoming_dir`` under a hidden name
    (listing skips it), then rename it into place in one step."""
    hidden = os.path.join(incoming_dir, f".{name}")
    shutil.copy(os.path.join(staging_dir, name), hidden)
    os.rename(hidden, os.path.join(incoming_dir, name))


def ingest_side_pass(spark, tr: Tracer, work: str, seed: int,
                     batch_ts: str) -> tuple[dict, dict, int, int]:
    """Land the micro-batch files one at a time, each followed by
    one traced incremental call. Returns (per-layer metrics, detail,
    attempted, failed); every call is one operation."""
    staging, dims = os.path.join(work, "staging"), os.path.join(work, "dims")
    incoming, work_dir = os.path.join(work, "incoming"), os.path.join(work, "ingest")
    stats = gen.write_micro_batches(staging, dims, seed, INGEST_EVENTS)
    os.makedirs(incoming, exist_ok=True)
    fresh, wrong, expected_rows = [], [], 0
    for i, n_events in enumerate(stats["batch_events"]):
        name = f"batch-{i:03d}.parquet"
        land(staging, incoming, name)
        t = time.perf_counter()
        res = traced_incremental(spark, tr, incoming, dims, work_dir, batch_ts)
        fresh.append(time.perf_counter() - t)
        expected_rows += n_events
        # the serving table must show this batch: its facts are in, its
        # file is consumed and archived
        wrong.append(
            [os.path.basename(f) for f in res.new_files] != [name]
            or len(res.archived) != 1
            or res.fact_rows != expected_rows
            or res.kpi.serving_rows != sum(res.kpi.kpi_rows.values()))
    expected = oracle.kpi_oracle(dims, os.path.join(staging, "*.parquet"))
    wrong[-1] = wrong[-1] or bool(oracle.kpi_mismatches(expected, res.kpi.output_dir))

    n = len(fresh)
    metrics = {
        "incremental.discover_s": (tr.self_s("incremental.discover") / n, "s"),
        "incremental.append_s": (tr.self_s("incremental.append") / n, "s"),
        "incremental.rebuild_s": (tr.self_s("incremental.rebuild") / n, "s"),
        "incremental.self_s": (tr.self_s("incremental") / n, "s"),
        "incremental.fact_rows": (res.fact_rows, "count"),
        "incremental.freshness_p50_s": (statistics.median(fresh), "s"),
        "incremental.freshness_max_s": (max(fresh), "s"),
        "probes.archive_s": (tr.self_s("probes.archive") / n, "s"),
    }
    tr.collect_spark_work()
    for layer in ("incremental", "probes"):
        for what, count in tr.layer_work(layer).items():
            metrics[f"{layer}.{what}"] = (count / n, "count")
    detail = {"inputs": stats, "freshness_s": fresh}
    return metrics, detail, len(wrong), sum(wrong)
