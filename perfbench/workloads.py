"""The benchmark's workloads, each driven through the engine's public
functions.

``kpi_batch``: one ``plans.pipeline.run_batch_pipeline`` call per
operation, from input files until the KPI parquet, the serving table and
the KV directory are all complete.

``serving_reads``: one closed-loop client issuing point gets, genre/date
range reads and similar-item queries against a serving table, GSI layout
and IVF-PQ index built during set-up.

The two stress disjoint layers: batch compute (catalog, enrich, kpis,
serving, quality, the kv_sink writes) against per-request planning and
job launch on the read path (kv_sink reads, similarity). A change to one
side is predicted to leave the other workload unchanged.

A traced run ends with a side pass over layers neither timed path
reaches, checked like the rest: kpi_batch lands micro-batch files for the
incremental pipeline (``ingest.py``: incremental, probes), serving_reads
prepares a small LLM corpus (``corpus.py``: text, dedup, clusters,
llm_pipeline). Side passes run after the timed region and only in
traced runs, so they add no end-to-end metric.

Untraced runs pay what users pay: the pipeline's own writes, and
``collect()`` for reads. Traced runs alternate an untraced operation with
a traced one; the traced one drives the same call sequence one public
function at a time, forcing each layer with the consumer's write or a
``noop`` write (never ``count()``, which lets Catalyst prune the columns
nobody reads).
"""

from __future__ import annotations

import os
import statistics
import sys
import time
import traceback
from dataclasses import dataclass, field
from typing import Any, Callable

import numpy as np
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

import corpus
import gen
import ingest
import oracle
from stats import summary
from spans import Tracer

from music_streaming_etl_glue_spark.operators import kpis as K
from music_streaming_etl_glue_spark.operators import similarity
from music_streaming_etl_glue_spark.operators.enrich import enrich_events
from music_streaming_etl_glue_spark.operators.serving import serving_items
from music_streaming_etl_glue_spark.plans.pipeline import (
    PipelineResult,
    record_engine_fingerprint,
    run_batch_pipeline,
)
from music_streaming_etl_glue_spark.plans.quality import observed_write_metrics
from music_streaming_etl_glue_spark.sources import kv_sink
from music_streaming_etl_glue_spark.sources.catalog import load_table

BATCH_TS = "2026-01-01T00:00:00"
#: set-up steps cheap enough to repeat; setup_s takes their median
SETUP_REPEATS = 3

KPI_EVENTS = gen.EventSpec(n_events=50_000, n_users=2_500, n_tracks=1_000)
#: warm-up input: same plans, a tenth of the rows; two passes over it get
#: the JIT closer to steady state than one full-size pass
KPI_WARMUP_EVENTS = gen.EventSpec(n_events=5_000, n_users=250, n_tracks=100)
KPI_WARMUP_PASSES = 2
SERVING_EVENTS = gen.EventSpec(n_events=20_000, n_users=1_000, n_tracks=400)
N_VECS = 1_500
TOP_K = 10
#: one block of the closed-loop schedule, in a fixed order so every time
#: window holds the same mix: 32 point gets, a genre/date range read every
#: sixth request (7) and one similar-item query mid-block
BLOCK = tuple(
    "similar" if i == 20 else "range" if i % 6 == 3 else "get"
    for i in range(40))
KINDS = ("get", "range", "similar")
#: warm-up requests: the first of a block up to its similar-item query
WARMUP_REQUESTS = 21
RANGE_MAX_DAYS = 7


def now() -> float:
    return time.perf_counter()


@dataclass
class Context:
    spark: Any
    work: str
    seed: int
    seconds: float
    session_s: float
    tracer: Tracer | None = None

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)


@dataclass
class Outcome:
    attempted: int
    failed: int
    #: name -> (value, unit)
    metrics: dict[str, tuple[float, str]]
    detail: dict = field(default_factory=dict)
    #: traced operations (pipeline calls, request blocks) in a traced run
    traced_ops: int = 1


def timed(fn: Callable[[], Any]) -> tuple[float, Any]:
    t = now()
    out = fn()
    return now() - t, out


def median_timed(fn: Callable[[], Any]) -> tuple[float, Any]:
    runs = [timed(fn) for _ in range(SETUP_REPEATS)]
    return statistics.median(r[0] for r in runs), runs[-1][1]


def report_failure(what: str) -> None:
    print(f"perfbench: {what} failed:", file=sys.stderr)
    traceback.print_exc(file=sys.stderr)


def side_pass(what: str, fn: Callable, *args) -> tuple[dict, dict | None, int, int]:
    """Run one traced run's side pass: (metrics, detail, attempted,
    failed). A side pass that raises counts as one failed operation, and
    its layers read 0."""
    try:
        return fn(*args)
    except Exception:
        report_failure(what)
        return {}, None, 1, 1


def noop_write(df: DataFrame, *aggs) -> dict[str, int]:
    """Force ``df`` with a ``noop`` write; return observed aggregates."""
    obs = Observation()
    df.observe(obs, F.count(F.lit(1)).alias("rows"), *aggs).write.format(
        "noop").mode("overwrite").save()
    return {k: int(v or 0) for k, v in obs.get.items()}


# ---------------------------------------------------------------------------
# kpi_batch
# ---------------------------------------------------------------------------

def counting_backend(sc, out_dir: str):
    """``kv_sink.local_dir_backend`` plus accumulators of the batches and
    items it receives."""
    inner = kv_sink.local_dir_backend(out_dir)
    batches, items = sc.accumulator(0), sc.accumulator(0)

    def factory():
        write = inner()

        def write_batch(batch):
            batches.add(1)
            items.add(len(batch))
            write(batch)

        write_batch.finalize = write.finalize
        return write_batch

    return factory, batches, items


def traced_batch_pipeline(spark, tr: Tracer, sf_dir: str, out_dir: str,
                          kv_dir: str) -> PipelineResult:
    """``run_batch_pipeline``'s call sequence, one layer per span:

    * ``catalog.scan``: the three input tables, forced by a ``noop`` write;
    * ``enrich``: the enriched frame, cached and forced;
    * ``kpis.<table>``: one KPI table's parquet write (its read-back count
      is orchestration, in the ``pipeline`` root span);
    * ``serving.items``: the serving items, cached and forced;
    * ``quality.qa``: the QA counters observed over a ``noop`` pass of the
      cached items (the pipeline observes them during the parquet write);
    * ``kv_sink.parquet_write`` / ``kv_sink.kv_write``: the serving parquet
      and KV writes of the cached items;
    * ``pipeline`` (the root): read-back counts and the fingerprint.

    Caching the items makes each later span time only its own work; the
    untraced pipeline recomputes them from the cached enriched frame for
    each of its two writes."""
    with tr.span("pipeline"):
        with tr.span("catalog.scan") as sp:
            tables = {t: load_table(spark, sf_dir, t)
                      for t in ("events", "customer", "nation")}
            sp.counts["rows"] = sum(noop_write(df)["rows"] for df in tables.values())
        with tr.span("enrich") as sp:
            enriched = enrich_events(
                tables["events"], tables["customer"], tables["nation"]).cache()
            seen = noop_write(enriched, F.sum(
                F.col("user_name").isNull().cast("long")).alias("unmatched"))
            sp.counts.update(rows=seen["rows"], unmatched=seen["unmatched"])
        frames = {
            "user_kpis": K.user_kpis(enriched),
            "genre_daily_metrics": K.genre_daily_metrics(enriched),
            "genre_top_songs": K.genre_top_songs(enriched),
            "genre_top_genres": K.genre_top_genres(enriched),
            "trending_tracks": K.trending_tracks(enriched),
        }
        kpi_rows = {}
        for name, df in frames.items():
            path = os.path.join(out_dir, name)
            with tr.span(f"kpis.{name}"):
                writer = df.write.mode("overwrite")
                if "date" in df.columns:
                    writer = writer.partitionBy("date")
                writer.parquet(path)
            kpi_rows[name] = spark.read.parquet(path).count()
        with tr.span("serving.items") as sp:
            items = serving_items(enriched, BATCH_TS, materialize=False).cache()
            sp.counts["items"] = noop_write(items)["rows"]
        with tr.span("quality.qa") as sp:
            observed, qa = observed_write_metrics(items)
            observed.write.format("noop").mode("overwrite").save()
            serving_qa = {k: int(v) for k, v in qa.get.items()}
            sp.counts["violations"] = sum(
                v for k, v in serving_qa.items() if k != "n_items")
        serving_dir = os.path.join(out_dir, "serving_items")
        with tr.span("kv_sink.parquet_write"):
            kv_sink.write_serving_parquet(items, serving_dir)
        serving_rows = spark.read.parquet(serving_dir).count()
        with tr.span("kv_sink.kv_write") as sp:
            factory, batches, n_items = counting_backend(spark.sparkContext, kv_dir)
            kv_sink.write_kv(items, factory)
            sp.counts.update(batches=batches.value, items=n_items.value)
        items.unpersist()
        enriched.unpersist()
        record_engine_fingerprint(out_dir)
    return PipelineResult(kpi_rows, serving_rows, out_dir, serving_qa)


def _batch_ok(res: PipelineResult | None, want_rows: dict[str, int]) -> bool:
    return (
        res is not None
        and res.kpi_rows == want_rows
        and res.serving_rows == sum(want_rows.values())
        and not any(v for k, v in (res.serving_qa or {}).items() if k != "n_items")
    )


def _kv_ok(kv_dir: str, serving_rows: int) -> bool:
    ids = [item["id"] for item in kv_sink.read_kv_dir(kv_dir)]
    return len(ids) == serving_rows == len(set(ids))


def kpi_batch(ctx: Context, rss) -> Outcome:
    spark, spec = ctx.spark, KPI_EVENTS
    sf = ctx.path("input")
    warm_sf = ctx.path("warmup_input")

    def generate():
        gen.write_star(warm_sf, ctx.seed + 1, KPI_WARMUP_EVENTS)
        return gen.write_star(sf, ctx.seed, spec)

    gen_s, stats = median_timed(generate)
    t_setup = now()

    def call(tag: str, sf_dir: str = sf) -> PipelineResult:
        return run_batch_pipeline(
            spark, sf_dir, ctx.path(f"out_{tag}"), batch_ts=BATCH_TS,
            kv_writer_factory=kv_sink.local_dir_backend(ctx.path(f"kv_{tag}")))

    warm_s, _ = timed(lambda: [call("warmup", warm_sf)
                               for _ in range(KPI_WARMUP_PASSES)])
    setup_s = ctx.session_s + gen_s + now() - t_setup

    lat, results, traced = [], [], []
    rss.start()
    t0 = now()
    while True:
        t = now()
        try:
            res = call("run")
        except Exception:
            report_failure("run_batch_pipeline")
            res = None
        lat.append(now() - t)
        results.append(res)
        if ctx.tracer is not None:
            t = now()
            try:
                tres = traced_batch_pipeline(
                    spark, ctx.tracer, sf, ctx.path("out_traced"),
                    ctx.path("kv_traced"))
            except Exception:
                report_failure("traced pipeline")
                tres = None
            traced.append((now() - t, tres))
        if now() - t0 >= ctx.seconds:
            break
    wall = now() - t0
    peak_mb = rss.stop()

    expected = oracle.kpi_oracle(sf)
    want_rows = {k: sum(bag.values()) for k, (_, bag) in expected.items()}
    wrong = [not _batch_ok(r, want_rows) for r in results]
    if results[-1] is not None:
        mismatched = oracle.kpi_mismatches(expected, ctx.path("out_run"))
        kv_ok = _kv_ok(ctx.path("kv_run"), results[-1].serving_rows)
        wrong[-1] = wrong[-1] or bool(mismatched) or not kv_ok
    # drift: the traced decomposition must produce the untraced result
    wrong += [not _batch_ok(tres, want_rows) for _, tres in traced]
    attempted, failed = len(wrong), sum(wrong)

    lat_sum = summary(lat)
    detail = {
        "inputs": stats,
        "latency_samples": len(lat),
        "kpi_batch_s": lat_sum,
        "failed_ops_ratio": failed / attempted,
        "setup": {"session_s": ctx.session_s, "generate_s": gen_s,
                  "warmup_s": warm_s},
    }
    metrics = {
        "setup_s": (setup_s, "s"),
        "latency_p50_ms": (lat_sum["p50"] * 1e3, "ms"),
        "latency_tail_ms": (lat_sum["tail"] * 1e3, "ms"),
        "throughput_per_s": (spec.n_events * len(lat) / sum(lat), "1/s"),
        "peak_rss_mb": (peak_mb, "MB"),
    }
    detail["wall_s"] = wall
    if ctx.tracer is not None:
        metrics = batch_layers(ctx, traced, lat)
        side, detail["ingest"], n, bad = side_pass(
            "incremental side pass", ingest.ingest_side_pass,
            spark, ctx.tracer, ctx.path("ingest_side"), ctx.seed, BATCH_TS)
        metrics.update(side)
        attempted, failed = attempted + n, failed + bad
    return Outcome(attempted, failed, metrics, detail, len(traced))


def batch_layers(ctx: Context, traced, lat) -> dict:
    """Per-layer metrics of the traced pipeline calls, per call."""
    tr = ctx.tracer
    tr.collect_spark_work()
    n = len(traced)
    m = {
        "session.start_s": (ctx.session_s, "s"),
        "catalog.scan_s": (tr.self_s("catalog.scan") / n, "s"),
        "catalog.rows_read": (tr.count("catalog.scan", "rows") / n, "count"),
        "enrich.s": (tr.self_s("enrich") / n, "s"),
        "enrich.rows": (tr.count("enrich", "rows") / n, "count"),
        "enrich.unmatched_rows": (tr.count("enrich", "unmatched") / n, "count"),
    }
    for name in oracle.KPI_SQL:
        m[f"kpis.{name}_s"] = (tr.self_s(f"kpis.{name}") / n, "s")
    m.update({
        "kpis.rows_out": (
            sum(sum(r.kpi_rows.values()) for _, r in traced if r) / n, "count"),
        "serving.items_s": (tr.self_s("serving.items") / n, "s"),
        "serving.items": (tr.count("serving.items", "items") / n, "count"),
        "quality.qa_s": (tr.self_s("quality.qa") / n, "s"),
        "quality.violations": (tr.count("quality.qa", "violations") / n, "count"),
        "kv_sink.parquet_write_s": (tr.self_s("kv_sink.parquet_write") / n, "s"),
        "kv_sink.kv_write_s": (tr.self_s("kv_sink.kv_write") / n, "s"),
        "kv_sink.kv_batches": (tr.count("kv_sink.kv_write", "batches") / n, "count"),
        "kv_sink.kv_items": (tr.count("kv_sink.kv_write", "items") / n, "count"),
        "pipeline.self_s": (tr.self_s("pipeline") / n, "s"),
        "trace.overhead_ms": (
            (statistics.mean(t for t, _ in traced) - statistics.mean(lat)) * 1e3,
            "ms"),
    })
    return m


# ---------------------------------------------------------------------------
# serving_reads
# ---------------------------------------------------------------------------

@dataclass(frozen=True)
class Request:
    kind: str
    args: tuple


def _day(offset: int) -> str:
    return time.strftime(
        "%Y-%m-%d", time.gmtime(gen.EPOCH_US // 1_000_000 + offset * 86_400))


def request_schedule(seed: int, serving_dir: str, n_vecs: int,
                     n_blocks: int) -> list[Request]:
    """``n_blocks`` repetitions of BLOCK.
    Gets pick a kpi_type, then a Zipf-popular id of that type; range reads
    a genre and a window of up to RANGE_MAX_DAYS days; similar-item
    queries a Zipf-popular vector."""
    rng = np.random.default_rng([seed, 1])
    table = pq.read_table(serving_dir, columns=["id", "kpi_type"])
    by_type: dict[str, list[str]] = {}
    for item_id, kpi_type in zip(table.column("id").to_pylist(),
                                 table.column("kpi_type").to_pylist()):
        by_type.setdefault(str(kpi_type), []).append(item_id)
    types = sorted(by_type)
    ranked = {t: [ids[i] for i in rng.permutation(len(ids))]
              for t, ids in ((t, sorted(by_type[t])) for t in types)}
    vec_rank = rng.permutation(n_vecs)
    out = []
    for _ in range(n_blocks):
        for kind in BLOCK:
            if kind == "get":
                t = types[rng.integers(len(types))]
                ids = ranked[t]
                out.append(Request(kind, (ids[gen.bounded_zipf(rng, len(ids), 1)[0]], t)))
            elif kind == "range":
                d0 = int(rng.integers(0, gen.DAYS))
                d1 = min(d0 + int(rng.integers(0, RANGE_MAX_DAYS)),
                         gen.DAYS - 1)
                out.append(Request(kind, (
                    gen.GENRES[rng.integers(len(gen.GENRES))], _day(d0), _day(d1))))
            else:
                out.append(Request(kind, (int(vec_rank[gen.bounded_zipf(rng, n_vecs, 1)[0]]),)))
    return out


def build_serving_table(spark, sf_dir: str, serving_dir: str) -> None:
    """The serving table alone: the pipeline's enrich → serving items →
    serving parquet path, without the KPI tables."""
    tables = [load_table(spark, sf_dir, t) for t in ("events", "customer", "nation")]
    kv_sink.write_serving_parquet(
        serving_items(enrich_events(*tables), BATCH_TS), serving_dir)


@dataclass
class Store:
    spark: Any
    serving_dir: str
    gsi_dir: str
    index_dir: str
    embeddings: DataFrame

    def plan(self, req: Request) -> DataFrame:
        if req.kind == "get":
            return kv_sink.serving_lookup(self.spark, self.serving_dir, *req.args)
        if req.kind == "range":
            return kv_sink.serving_gsi_lookup(self.spark, self.gsi_dir, *req.args)
        return similarity.ann_topk_ivfpq(
            self.spark, self.embeddings, self.index_dir, k=TOP_K,
            query_vec_id=req.args[0])

    def serve(self, req: Request) -> list:
        return self.plan(req).collect()

    def serve_traced(self, tr: Tracer, req: Request, rid: int) -> list:
        layer = "similarity" if req.kind == "similar" else "kv_sink"
        prefix = "similarity." if req.kind == "similar" else f"kv_sink.{req.kind}_"
        with tr.span(f"{layer}.request", request=rid):
            with tr.span(f"{prefix}plan"):
                df = self.plan(req)
            with tr.span(f"{prefix}exec") as sp:
                rows = df.collect()
                sp.counts["rows"] = len(rows)
        return rows


def serving_reads(ctx: Context, rss) -> Outcome:
    spark = ctx.spark
    sf, emb_path = ctx.path("input"), ctx.path("embeddings.parquet")

    def generate():
        stats = gen.write_star(sf, ctx.seed, SERVING_EVENTS)
        vecs = gen.write_embeddings(emb_path, ctx.seed, N_VECS)
        return stats, vecs

    gen_s, (stats, vecs) = median_timed(generate)
    t_setup = now()
    serving_dir = ctx.path("serving_items")
    table_s, _ = timed(lambda: build_serving_table(spark, sf, serving_dir))
    gsi_s, _ = timed(lambda: kv_sink.write_serving_gsi_genre_date(
        spark.read.parquet(serving_dir), ctx.path("gsi")))
    embeddings = spark.read.parquet(emb_path)
    index_s, _ = timed(lambda: similarity.write_ivfpq_layout(
        embeddings, ctx.path("ivfpq")))
    store = Store(spark, serving_dir, ctx.path("gsi"), ctx.path("ivfpq"), embeddings)

    schedule = request_schedule(ctx.seed, serving_dir, N_VECS, n_blocks=64)
    block = len(BLOCK)
    warm = request_schedule(ctx.seed + 1, serving_dir, N_VECS, 1)[:WARMUP_REQUESTS]
    warm_s, _ = timed(lambda: [store.serve(r) for r in warm])
    setup_s = ctx.session_s + gen_s + now() - t_setup

    done: list[tuple[Request, float, list | None]] = []
    traced: list[tuple[float, float]] = []  # (untraced, traced) block walls

    def run_one(req: Request, fn) -> None:
        t = now()
        try:
            rows = fn(req)
        except Exception:
            report_failure(f"{req.kind} read")
            rows = None
        done.append((req, now() - t, rows))

    rss.start()
    t0 = now()
    if ctx.tracer is not None:
        # alternate one untraced and one traced pass over the same block
        first = schedule[:block]
        while not traced or now() - t0 < ctx.seconds:
            tu, _ = timed(lambda: [run_one(r, store.serve) for r in first])
            tt, _ = timed(lambda: [
                run_one(r, lambda q, i=i: store.serve_traced(ctx.tracer, q, i))
                for i, r in enumerate(first)])
            traced.append((tu, tt))
    else:
        for req in schedule:
            run_one(req, store.serve)
            if now() - t0 >= ctx.seconds:
                break
    wall = now() - t0
    peak_mb = rss.stop()

    ref = oracle.ServingOracle(serving_dir)
    failed, recalls = 0, []
    for req, _, rows in done:
        if rows is None:
            failed += 1
        elif req.kind == "similar":
            ok, recall = oracle.check_similar(rows, vecs, req.args[0], TOP_K)
            recalls.append(recall)
            failed += not ok
        else:
            want = ref.get(*req.args) if req.kind == "get" else ref.range(*req.args)
            failed += oracle.row_bag(rows) != want
    ref.close()

    by_kind = {k: summary([d for r, d, _ in done if r.kind == k])
               for k in KINDS if any(r.kind == k for r, _, _ in done)}
    detail = {
        "inputs": {**stats, "vectors": N_VECS},
        "client": "closed loop, 1 client",
        "latency_samples": by_kind["get"]["n"],
        "get_ms": _ms(by_kind.get("get")),
        "range_ms": _ms(by_kind.get("range")),
        "similar_ms": _ms(by_kind.get("similar")),
        "reads_per_s": len(done) / wall,
        "recall_at_k": statistics.mean(recalls) if recalls else None,
        "failed_ops_ratio": failed / len(done),
        "setup": {"session_s": ctx.session_s, "generate_s": gen_s,
                  "serving_table_s": table_s, "gsi_s": gsi_s,
                  "index_build_s": index_s, "warmup_s": warm_s},
        "wall_s": wall,
    }
    # latency is the point get's, the bulk of the traffic; throughput
    # counts every request kind
    metrics = {
        "setup_s": (setup_s, "s"),
        "latency_p50_ms": (by_kind["get"]["p50"] * 1e3, "ms"),
        "latency_tail_ms": (by_kind["get"]["tail"] * 1e3, "ms"),
        "throughput_per_s": (len(done) / wall, "1/s"),
        "peak_rss_mb": (peak_mb, "MB"),
    }
    attempted = len(done)
    if ctx.tracer is not None:
        metrics = serving_layers(ctx, traced, recalls, index_s, block)
        side, detail["corpus"], n, bad = side_pass(
            "LLM corpus side pass", corpus.corpus_side_pass,
            spark, ctx.tracer, ctx.path("corpus_side"), ctx.seed)
        metrics.update(side)
        attempted, failed = attempted + n, failed + bad
    return Outcome(attempted, failed, metrics, detail, len(traced))


def _ms(s: dict | None) -> dict | None:
    if s is None:
        return None
    return {**s, "p50": s["p50"] * 1e3, "tail": s["tail"] * 1e3}


def serving_layers(ctx: Context, traced, recalls, index_s: float,
                   block: int) -> dict:
    """Per-layer metrics of the traced blocks: medians of per-request
    plan/exec times, per-block counts."""
    tr = ctx.tracer
    tr.collect_spark_work()
    n = len(traced)

    def med_ms(name: str) -> float:
        spans = tr.named(name)
        return statistics.median(s.self_s for s in spans) * 1e3 if spans else 0.0

    rows = sum(tr.count(f"kv_sink.{k}_exec", "rows") for k in ("get", "range"))
    return {
        "session.start_s": (ctx.session_s, "s"),
        "kv_sink.get_plan_ms": (med_ms("kv_sink.get_plan"), "ms"),
        "kv_sink.get_exec_ms": (med_ms("kv_sink.get_exec"), "ms"),
        "kv_sink.range_plan_ms": (med_ms("kv_sink.range_plan"), "ms"),
        "kv_sink.range_exec_ms": (med_ms("kv_sink.range_exec"), "ms"),
        "kv_sink.rows_returned": (rows / n, "count"),
        "similarity.plan_ms": (med_ms("similarity.plan"), "ms"),
        "similarity.exec_ms": (med_ms("similarity.exec"), "ms"),
        "similarity.recall_at_k": (
            statistics.mean(recalls) if recalls else 0.0, "ratio"),
        "similarity.index_build_s": (index_s, "s"),
        "trace.overhead_ms": (
            statistics.mean(t - u for u, t in traced) / block * 1e3, "ms"),
    }


WORKLOADS = {"kpi_batch": kpi_batch, "serving_reads": serving_reads}


#: end-to-end metrics every untraced run prints: (name, unit)
END_TO_END = (
    ("setup_s", "s"),
    ("latency_p50_ms", "ms"),
    ("latency_tail_ms", "ms"),
    ("throughput_per_s", "1/s"),
    ("peak_rss_mb", "MB"),
)
#: layers (engine modules) whose Spark work every traced run counts
LAYERS = ("catalog", "enrich", "kpis", "serving", "quality", "kv_sink",
          "similarity", "pipeline", "incremental", "probes", "text", "dedup",
          "clusters", "llm_pipeline")
#: per-layer metrics every traced run prints; 0 where the workload does
#: not reach the layer
PER_LAYER = (
    ("session.start_s", "s"),
    ("catalog.scan_s", "s"),
    ("catalog.rows_read", "count"),
    ("enrich.s", "s"),
    ("enrich.rows", "count"),
    ("enrich.unmatched_rows", "count"),
    *((f"kpis.{name}_s", "s") for name in oracle.KPI_SQL),
    ("kpis.rows_out", "count"),
    ("serving.items_s", "s"),
    ("serving.items", "count"),
    ("quality.qa_s", "s"),
    ("quality.violations", "count"),
    ("kv_sink.parquet_write_s", "s"),
    ("kv_sink.kv_write_s", "s"),
    ("kv_sink.kv_batches", "count"),
    ("kv_sink.kv_items", "count"),
    ("kv_sink.get_plan_ms", "ms"),
    ("kv_sink.get_exec_ms", "ms"),
    ("kv_sink.range_plan_ms", "ms"),
    ("kv_sink.range_exec_ms", "ms"),
    ("kv_sink.rows_returned", "count"),
    ("similarity.plan_ms", "ms"),
    ("similarity.exec_ms", "ms"),
    ("similarity.recall_at_k", "ratio"),
    ("similarity.index_build_s", "s"),
    ("pipeline.self_s", "s"),
    ("trace.overhead_ms", "ms"),
    ("incremental.discover_s", "s"),
    ("incremental.append_s", "s"),
    ("incremental.rebuild_s", "s"),
    ("incremental.self_s", "s"),
    ("incremental.fact_rows", "count"),
    ("incremental.freshness_p50_s", "s"),
    ("incremental.freshness_max_s", "s"),
    ("probes.archive_s", "s"),
    *((f"{name}_s", "s") for name in corpus.TEXT_SPANS + corpus.DEDUP_SPANS),
    ("clusters.dedup_clusters_s", "s"),
    ("clusters.planted_dup_recall", "ratio"),
    ("clusters.false_merges", "count"),
    ("llm_pipeline.self_s", "s"),
    ("llm_pipeline.corpus_s", "s"),
    *((f"llm_pipeline.docs.{stage}", "count") for stage in corpus.STAGES),
    *((f"{layer}.{what}", "count") for layer in LAYERS
      for what in ("spark_jobs", "spark_tasks", "failed_tasks")),
)


def per_layer_metrics(tr: Tracer, partial: dict, ops: int) -> dict:
    """Every PER_LAYER metric: the workload's values, Spark work per
    traced operation, 0 for layers the workload does not reach."""
    out = {}
    for layer in LAYERS:
        for what, n in tr.layer_work(layer).items():
            partial.setdefault(f"{layer}.{what}", (n / ops, "count"))
    for name, unit in PER_LAYER:
        out[name] = partial.get(name, (0.0, unit))
    return out
