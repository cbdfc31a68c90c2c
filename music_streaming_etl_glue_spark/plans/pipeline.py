"""End-to-end batch pipeline: validate → enrich → KPIs → serve.

Replaces the reference's Airflow DAG + three Glue jobs
(``/root/reference/dags/music_streaming_pipeline.py``) with a plain Python
orchestration over lazy DataFrame plans. Key differences, all
deliberate (SURVEY §4):

* **Compute once.** The enriched frame is cached once and fanned out to
  the KPI queries, and each KPI frame is persisted once and fanned out to
  every sink: its own parquet table, the serving parquet and the KV
  backend. The serving items are projections of the persisted KPI rows
  (the reference's *serve* job likewise loads what *compute* wrote), so
  no aggregate or window runs twice in one run — the reference rebuilds
  the 3-way join for every KPI table and every logging ``count()``.
* KPI outputs are written ``partitionBy(date)`` where a date key exists,
  hash-repartitioned on ``date`` first so each ``date=`` directory holds
  one file; downstream reads get partition pruning without a small-file
  fan-out. The reference writes flat directories.
* Written row counts come from the parquet footers (no read-back job)
  and must equal the rows observed during the write itself.
* Fact writes append, dimension/KPI writes overwrite — same contract as
  the reference (``validate_data.py:316-318``).
* Serving-item shaping happens in the plan (no collect), and the KV write
  is the distributed ``foreachPartition`` sink.
"""

from __future__ import annotations

import contextlib
import glob
import os
import time
import uuid
from dataclasses import dataclass
from typing import Any, Callable

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from music_streaming_etl_glue_spark.operators import kpis as K
from music_streaming_etl_glue_spark.operators.enrich import enrich_events
from music_streaming_etl_glue_spark.operators.serving import items_from_kpis
from music_streaming_etl_glue_spark.plans.lakehouse import _file_rows
from music_streaming_etl_glue_spark.plans.quality import (
    assert_serving_quality,
    observed_write_metrics,
)
from music_streaming_etl_glue_spark.sources.catalog import load_table
from music_streaming_etl_glue_spark.sources.kv_sink import (
    write_kv,
    write_serving_parquet,
)


# Orchestration-resilience contract of the reference DAG
# (``/root/reference/dags/constants.py:47-49``, asserted by its own
# ``tests/dags/test_dag_example.py:70-83``): every task retries at least
# twice, and at most three pipeline runs execute concurrently.
PIPELINE_RETRIES = 2
RETRY_BACKOFF_S = 0.5
MAX_ACTIVE_RUNS = 3


def run_stage_with_retry(
    stage: Callable[[], Any],
    retries: int = PIPELINE_RETRIES,
    backoff_s: float = RETRY_BACKOFF_S,
) -> Any:
    """Execute one pipeline stage with bounded retries + exponential
    backoff. Stages here are idempotent (overwrite-mode writes, pure
    counts), so a retried stage cannot double-apply — the precondition
    that makes task-level retry safe.

    CONTRACT for kv-sink stages: a retried ``write_kv`` replays the
    whole ``foreachPartition``, re-sending batches that already
    committed before the failure — safe ONLY against idempotent/upsert
    backends (DynamoDB put-item overwrites by key; the local dir backend
    commits whole partition files by rename). Wrapping a non-idempotent
    writer_factory (e.g. an append-only log) in this retry double-writes;
    give such a backend its own exactly-once dedup keyed on
    (id, timestamp) instead."""
    attempt = 0
    while True:
        try:
            return stage()
        except Exception:
            if attempt >= retries:
                raise
            time.sleep(backoff_s * (2**attempt))
            attempt += 1


@contextlib.contextmanager
def run_concurrency_guard(work_dir: str, max_active: int = MAX_ACTIVE_RUNS):
    """Cap concurrent pipeline runs against one workspace (the reference
    DAG's ``max_active_runs``): each active run holds a slot file; a run
    beyond the cap fails fast instead of stacking overlapping writes.
    Both batch pipelines acquire this around their writes.

    Acquisition is create-then-rank, not check-then-create: the run FIRST
    drops its (monotonic-timestamp-named) token, then keeps the slot only
    if the token ranks within the first ``max_active`` by name — two
    simultaneous arrivals at one free slot race the filename order, not a
    stale directory count, so the cap cannot be silently exceeded.
    Crash-leaked slots are reclaimed by their age at next acquisition."""
    slots = os.path.join(work_dir, "_active_runs")
    os.makedirs(slots, exist_ok=True)
    now = time.time()
    for name in os.listdir(slots):  # reap slots older than 1 day (crashes)
        p = os.path.join(slots, name)
        try:
            if now - os.path.getmtime(p) > 86_400:
                os.remove(p)
        except OSError:
            pass
    token_name = f"{time.time_ns():020d}-{uuid.uuid4().hex}.slot"
    token = os.path.join(slots, token_name)
    open(token, "w").close()
    try:
        holders = sorted(os.listdir(slots))
        if holders.index(token_name) >= max_active:
            raise RuntimeError(
                f"pipeline concurrency cap reached ({max_active} active runs)"
            )
    except RuntimeError:
        os.remove(token)
        raise
    try:
        yield
    finally:
        try:
            os.remove(token)
        except OSError:
            pass


@dataclass
class PipelineResult:
    kpi_rows: dict[str, int]
    serving_rows: int
    output_dir: str
    #: QA counters observed DURING the serving write (no extra scan);
    #: keys: n_items, negative_metrics, malformed_timestamps, malformed_ids
    serving_qa: dict[str, int] | None = None


@dataclass
class IncrementalResult:
    new_files: list[str]
    fact_rows: int
    kpi: PipelineResult | None
    archived: list[str]


def run_batch_pipeline(
    spark: SparkSession,
    sf_dir: str,
    output_dir: str,
    batch_ts: str = "2026-01-01T00:00:00",
    kv_writer_factory: Callable[[], Callable[[list[dict[str, Any]]], None]]
    | None = None,
) -> PipelineResult:
    """Full run against a testdata directory; writes parquet KPI tables +
    the serving table (and optionally a KV backend) under ``output_dir``.
    At most ``MAX_ACTIVE_RUNS`` concurrent runs per output dir."""
    with run_concurrency_guard(output_dir):
        return _run_batch_pipeline(
            spark, sf_dir, output_dir, batch_ts, kv_writer_factory
        )


def _run_batch_pipeline(
    spark: SparkSession,
    sf_dir: str,
    output_dir: str,
    batch_ts: str,
    kv_writer_factory: Callable[[], Callable[[list[dict[str, Any]]], None]]
    | None,
) -> PipelineResult:
    events = load_table(spark, sf_dir, "events")
    customer = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")

    enriched = enrich_events(events, customer, nation).cache()
    try:
        result = _write_outputs(
            spark, enriched, output_dir, batch_ts, kv_writer_factory
        )
    finally:
        enriched.unpersist()
    # provenance stamp: which engine code produced these outputs
    # (verify_engine_fingerprint checks it before serving/extending)
    record_engine_fingerprint(output_dir)
    return result


def _write_outputs(
    spark: SparkSession,
    enriched: DataFrame,
    out_dir: str,
    batch_ts: str,
    kv_writer_factory: Callable[[], Callable[[list[dict[str, Any]]], None]]
    | None = None,
    qa_gate: bool = False,
) -> PipelineResult:
    """Every output of one run, each KPI computed once: persist the five
    KPI frames, write each as its parquet table, shape the serving items
    from the persisted rows, and write them to the serving parquet and
    (given a ``kv_writer_factory``) the KV backend. ``qa_gate`` raises on
    any serving-quality violation before the serving write; the QA
    counters are observed during that write either way.

    Every written row count is summed from the parquet footers and must
    equal the rows the write itself observed. The persisted frames are
    released before returning, also when a stage raises."""
    width = spark.sparkContext.defaultParallelism
    # persisted in dict order: genre_daily_metrics before genre_top_genres,
    # whose cached plan then reads the daily rows from the cache
    frames = {name: df.persist() for name, df in K.kpi_tables(enriched).items()}
    try:
        kpi_rows: dict[str, int] = {}
        for name, df in frames.items():
            path = os.path.join(out_dir, name)

            # each attempt observes its own count: a failed attempt's
            # observation holds only the tasks that finished
            def write_kpi(df: DataFrame = df, path: str = path) -> int:
                obs = Observation()
                _write_kpi(
                    df.observe(obs, F.count(F.lit(1)).alias("rows")), path, width
                )
                return obs.get["rows"]

            kpi_rows[name] = _footer_rows(path, run_stage_with_retry(write_kpi))

        items = items_from_kpis(frames, batch_ts).coalesce(width)
        if qa_gate:
            assert_serving_quality(items)
        serving_dir = os.path.join(out_dir, "serving_items")

        # QA counters ride the write action itself (DataFrame.observe) —
        # the counters cost zero extra passes over the serving frame.
        def write_serving() -> dict[str, int]:
            observed_items, qa_obs = observed_write_metrics(items)
            write_serving_parquet(observed_items, serving_dir)
            return {k: int(v or 0) for k, v in qa_obs.get.items()}

        serving_qa = run_stage_with_retry(write_serving)
        serving_rows = _footer_rows(serving_dir, serving_qa["n_items"])
        if kv_writer_factory is not None:
            run_stage_with_retry(lambda: write_kv(items, kv_writer_factory))
    finally:
        # dependents first: genre_top_genres is cached over genre_daily
        for df in reversed(list(frames.values())):
            df.unpersist()
    return PipelineResult(kpi_rows, serving_rows, out_dir, serving_qa)


def _write_kpi(df: DataFrame, path: str, width: int) -> None:
    """Overwrite one KPI table. A table with a ``date`` key is written
    ``partitionBy(date)`` after a hash repartition on it: every row of one
    date lands in one task, so each ``date=`` directory gets one file."""
    writer = df.write
    if "date" in df.columns:
        writer = df.repartition(width, "date").write.partitionBy("date")
    writer.mode("overwrite").parquet(path)


def _footer_rows(path: str, observed: int) -> int:
    """Rows of the parquet files under ``path``, summed from their footers
    (no Spark job); raises unless that equals ``observed``, the row count
    seen while the files were written."""
    written = sum(
        _file_rows(f)
        for f in glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True)
    )
    if written != observed:
        raise RuntimeError(
            f"{path}: parquet footers hold {written} rows, "
            f"the write observed {observed}"
        )
    return written


def run_incremental_pipeline(
    spark: SparkSession,
    incoming_dir: str,
    dims_dir: str,
    work_dir: str,
    batch_ts: str = "2026-01-01T00:00:00",
    archive: bool = True,
    qa_gate: bool = True,
) -> IncrementalResult:
    """The reference DAG end-to-end, engine-native: discover new fact
    files (ledger diff), append them to the validated fact table, rebuild
    the KPI + serving outputs from the accumulated facts, QA-gate the
    serving items, archive the consumed inputs, update the ledger.

    Ledger update happens *after* the append so a crash mid-run re-reads
    (at-least-once on the fact table, like the reference); the streaming
    twin (``streaming/file_pipeline.py``) upgrades this to exactly-once.
    """
    from music_streaming_etl_glue_spark.sources.catalog import (
        _ensure_session_confs,
    )

    _ensure_session_confs(spark)  # raw batch reads hit nanos timestamps
    os.makedirs(work_dir, exist_ok=True)
    with contextlib.ExitStack() as stack:
        stack.enter_context(run_concurrency_guard(work_dir))
        return _run_incremental(
            spark, incoming_dir, dims_dir, work_dir, batch_ts, archive, qa_gate
        )


def _run_incremental(
    spark: SparkSession,
    incoming_dir: str,
    dims_dir: str,
    work_dir: str,
    batch_ts: str,
    archive: bool,
    qa_gate: bool,
) -> IncrementalResult:
    from music_streaming_etl_glue_spark.plans.incremental import FileLedger
    from music_streaming_etl_glue_spark.sources.probes import (
        archive_files,
        list_files,
    )

    fact_dir = os.path.join(work_dir, "fact")
    out_dir = os.path.join(work_dir, "kpis")
    ledger = FileLedger(os.path.join(work_dir, "processed_files.json"))

    discovered = list_files(spark, incoming_dir, suffix=".parquet")
    new_files = ledger.new_files(discovered)
    if new_files:
        from music_streaming_etl_glue_spark.sources.catalog import (
            convert_nanos_ts,
        )

        batch = convert_nanos_ts(spark.read.parquet(*new_files), "ts")
        batch.write.mode("append").parquet(fact_dir)
        ledger.mark_processed(new_files)

    if not os.path.exists(fact_dir):
        return IncrementalResult([], 0, None, [])

    events = spark.read.parquet(fact_dir)
    customer = load_table(spark, dims_dir, "customer")
    nation = load_table(spark, dims_dir, "nation")
    enriched = enrich_events(events, customer, nation).cache()
    try:
        kpi = _write_outputs(spark, enriched, out_dir, batch_ts, qa_gate=qa_gate)
    finally:
        enriched.unpersist()

    archived: list[str] = []
    if archive and new_files:
        archived = archive_files(
            spark, new_files, os.path.join(work_dir, "archived"), batch_ts
        )

    return IncrementalResult(
        new_files=new_files,
        fact_rows=events.count(),
        kpi=kpi,
        archived=archived,
    )


# ---------------------------------------------------------------------------
# Engine-code fingerprint: the analog of the reference DAG's deployed-script
# equality verification (dags/music_streaming_pipeline.py:220-299, which
# byte-compares uploaded Glue scripts against local sources before running).
# Here the pipeline records a content fingerprint of the engine package next
# to its outputs; a consumer verifies the running code matches what produced
# the data before serving or re-deriving from it.
# ---------------------------------------------------------------------------

FINGERPRINT_FILE = "_ENGINE_FINGERPRINT.json"


def engine_fingerprint() -> dict[str, str]:
    """md5 per source module of the engine package (repo-relative path ->
    hex digest), deterministic across hosts: sorted walk, bytes hashed."""
    import hashlib

    import music_streaming_etl_glue_spark as pkg

    root = os.path.dirname(os.path.abspath(pkg.__file__))
    out: dict[str, str] = {}
    for dirpath, dirnames, filenames in os.walk(root):
        dirnames.sort()
        if "__pycache__" in dirpath:
            continue
        for fn in sorted(filenames):
            if not fn.endswith(".py"):
                continue
            full = os.path.join(dirpath, fn)
            rel = os.path.relpath(full, os.path.dirname(root))
            with open(full, "rb") as fh:
                out[rel.replace(os.sep, "/")] = hashlib.md5(
                    fh.read()
                ).hexdigest()
    return out


def record_engine_fingerprint(output_dir: str) -> str:
    """Write the current engine fingerprint beside pipeline outputs."""
    import json

    os.makedirs(output_dir, exist_ok=True)
    path = os.path.join(output_dir, FINGERPRINT_FILE)
    with open(path, "w", encoding="utf-8") as fh:
        json.dump(engine_fingerprint(), fh, indent=1, sort_keys=True)
    return path


def verify_engine_fingerprint(output_dir: str) -> None:
    """Raise if the running engine code differs from the code that
    produced ``output_dir`` (lists the drifted/added/removed modules) —
    run before serving from or incrementally extending old outputs."""
    import json

    path = os.path.join(output_dir, FINGERPRINT_FILE)
    with open(path, encoding="utf-8") as fh:
        recorded = json.load(fh)
    current = engine_fingerprint()
    drift = sorted(
        set(recorded) ^ set(current)
        | {m for m in set(recorded) & set(current) if recorded[m] != current[m]}
    )
    if drift:
        raise RuntimeError(
            "engine code differs from the code that produced "
            f"{output_dir}: {', '.join(drift)}"
        )
