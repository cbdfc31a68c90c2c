"""End-to-end batch pipeline: validate → enrich → KPIs → serving outputs."""

from __future__ import annotations

import os
import time
from collections import Counter
from types import SimpleNamespace

import pytest
from pyspark.sql import functions as F

from music_streaming_etl_glue_spark.operators import kpis as K
from music_streaming_etl_glue_spark.operators.serving import SERVING_ITEMS_SQL
from music_streaming_etl_glue_spark.plans import pipeline
from music_streaming_etl_glue_spark.plans.pipeline import (
    run_batch_pipeline,
    run_incremental_pipeline,
)
from music_streaming_etl_glue_spark.sources.kv_sink import (
    local_dir_backend,
    read_kv_dir,
)
from tests.conftest import SF_SMOKE
from tests.oracle_util import assert_matches_oracle, duckdb_con

KPI_ORACLE_SQL = {
    "user_kpis": K.USER_KPIS_SQL,
    "genre_daily_metrics": K.GENRE_DAILY_SQL,
    "genre_top_songs": K.GENRE_TOP_SONGS_SQL,
    "genre_top_genres": K.GENRE_TOP_GENRES_SQL,
    "trending_tracks": K.TRENDING_SQL,
}
DATE_PARTITIONED = ("genre_daily_metrics", "genre_top_songs", "genre_top_genres")


def _persisted_rdds(spark) -> set[int]:
    """Ids of the persisted RDDs. Compare sets, not counts: the context
    cleaner may release RDDs that earlier tests left behind meanwhile."""
    return set(spark.sparkContext._jsc.getPersistentRDDs().keys())


def _plan_nodes(plan) -> list[str]:
    """Node names of a physical plan. A cached relation is a leaf here:
    the plan that filled the cache is not walked."""
    names = [plan.nodeName()]
    if names[0] == "AdaptiveSparkPlan":
        return names + _plan_nodes(plan.executedPlan())
    children = plan.children()
    for i in range(children.size()):
        names += _plan_nodes(children.apply(i))
    return names


@pytest.fixture(scope="module")
def batch_run(spark, tmp_path_factory):
    """One batch run at SF_SMOKE, with the physical plan of the serving
    items it writes and the persisted RDD ids before and after."""
    root = tmp_path_factory.mktemp("batch_run")
    out, kv = str(root / "out"), str(root / "kv")
    seen = {}
    write = pipeline.write_serving_parquet

    def capture(items, path):
        seen["plan"] = items._jdf.queryExecution().executedPlan()
        write(items, path)

    before = _persisted_rdds(spark)
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(pipeline, "write_serving_parquet", capture)
        res = run_batch_pipeline(
            spark, SF_SMOKE, out, kv_writer_factory=local_dir_backend(kv)
        )
    return SimpleNamespace(
        res=res, out=out, kv=kv, plan=_plan_nodes(seen["plan"]),
        persisted=(before, _persisted_rdds(spark)),
    )


def test_batch_pipeline_end_to_end(spark, tmp_path):
    kv_dir = str(tmp_path / "kv")
    res = run_batch_pipeline(
        spark,
        SF_SMOKE,
        str(tmp_path / "out"),
        kv_writer_factory=local_dir_backend(kv_dir),
    )
    assert set(res.kpi_rows) == {
        "user_kpis",
        "genre_daily_metrics",
        "genre_top_songs",
        "genre_top_genres",
        "trending_tracks",
    }
    assert all(n > 0 for n in res.kpi_rows.values())
    assert res.serving_rows == sum(
        (
            res.kpi_rows["user_kpis"],
            res.kpi_rows["genre_daily_metrics"],
            res.kpi_rows["genre_top_songs"],
            res.kpi_rows["genre_top_genres"],
            res.kpi_rows["trending_tracks"],
        )
    )
    # KV backend saw every serving item exactly once
    assert len(list(read_kv_dir(kv_dir))) == res.serving_rows
    # QA counters were observed during the serving write (no extra scan)
    assert res.serving_qa is not None
    assert res.serving_qa["n_items"] == res.serving_rows
    assert res.serving_qa["negative_metrics"] == 0
    assert res.serving_qa["malformed_timestamps"] == 0
    assert res.serving_qa["malformed_ids"] == 0
    # date-partitioned layout on disk for partition pruning
    parts = list((tmp_path / "out" / "genre_daily_metrics").glob("date=*"))
    assert len(parts) > 1

    # point lookup against the serving table (partition-pruned + pushed)
    from music_streaming_etl_glue_spark.sources.kv_sink import serving_lookup

    serving_path = str(tmp_path / "out" / "serving_items")
    any_user = spark.read.parquet(serving_path).filter("kpi_type = 'user'").head()
    hit = serving_lookup(spark, serving_path, any_user["id"], kpi_type="user")
    assert hit.count() == 1
    plan = hit._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [IsNotNull(id), EqualTo(id," in plan


def test_batch_pipeline_outputs_match_oracle(spark, batch_run):
    """Every written table equals its DuckDB twin; the KV backend holds
    exactly the serving ids, each once."""
    con = duckdb_con(SF_SMOKE)
    for name, sql in KPI_ORACLE_SQL.items():
        table = spark.read.parquet(os.path.join(batch_run.out, name))
        assert_matches_oracle(table, con, sql)
    serving = spark.read.parquet(os.path.join(batch_run.out, "serving_items"))
    assert_matches_oracle(serving, con, SERVING_ITEMS_SQL)
    con.close()

    kv_ids = [item["id"] for item in read_kv_dir(batch_run.kv)]
    serving_ids = [r.id for r in serving.select("id").collect()]
    assert len(kv_ids) == len(set(kv_ids)) == batch_run.res.serving_rows
    assert sorted(kv_ids) == sorted(serving_ids)


def test_batch_pipeline_layout_and_plan(batch_run):
    """One file per date= directory; serving items shaped from the
    persisted KPI frames (no KPI recomputed); nothing left persisted."""
    for name in DATE_PARTITIONED:
        table = os.path.join(batch_run.out, name)
        dates = [d for d in os.listdir(table) if d.startswith("date=")]
        assert len(dates) > 1
        for d in dates:
            files = [f for f in os.listdir(os.path.join(table, d))
                     if f.endswith(".parquet")]
            assert len(files) == 1, (name, d, files)

    plan = batch_run.plan
    assert plan.count("InMemoryTableScan") == 5, plan
    assert not [n for n in plan if "Window" in n or "Aggregate" in n
                or n.startswith("Scan")], plan

    before, after = batch_run.persisted
    assert after <= before


def test_failing_kv_backend_releases_persisted_frames(spark, tmp_path):
    def failing_factory():
        def write_batch(batch):
            raise RuntimeError("kv backend down")

        return write_batch

    before = _persisted_rdds(spark)
    with pytest.raises(Exception, match="kv backend down"):
        run_batch_pipeline(
            spark, SF_SMOKE, str(tmp_path / "out"),
            kv_writer_factory=failing_factory,
        )
    assert _persisted_rdds(spark) <= before


def test_failed_write_attempt_is_recounted_on_retry(spark, batch_run, tmp_path):
    """A KPI or serving write whose first attempt fails after the other
    tasks wrote their rows is retried; the retry's own observed count,
    not the failed attempt's partial one, is checked against the footers."""

    @F.udf("boolean")
    def fail_partition_zero(pid):
        if pid == 0:
            time.sleep(1)  # the other tasks finish first
            raise RuntimeError("transient write failure")
        return True

    attempts = Counter()

    def first_attempt_fails(write):
        def flaky(df, path, *args):
            attempts[path] += 1
            if attempts[path] == 1:
                df = df.filter(fail_partition_zero(F.spark_partition_id()))
            write(df, path, *args)

        return flaky

    out = str(tmp_path / "out")
    with pytest.MonkeyPatch.context() as mp:
        for name in ("_write_kpi", "write_serving_parquet"):
            mp.setattr(pipeline, name, first_attempt_fails(getattr(pipeline, name)))
        res = run_batch_pipeline(spark, SF_SMOKE, out)

    assert len(attempts) == 6 and set(attempts.values()) == {2}, attempts
    assert res.kpi_rows == batch_run.res.kpi_rows
    assert res.serving_rows == batch_run.res.serving_rows
    assert res.serving_qa == batch_run.res.serving_qa


def test_footer_rows_must_match_observed_count(tmp_path):
    import pyarrow as pa
    import pyarrow.parquet as pq

    table = tmp_path / "t"
    (table / "date=2024-01-01").mkdir(parents=True)
    pq.write_table(pa.table({"x": [1, 2, 3]}),
                   table / "date=2024-01-01" / "part-0.parquet")
    assert pipeline._footer_rows(str(table), 3) == 3
    with pytest.raises(RuntimeError, match="footers hold 3 rows"):
        pipeline._footer_rows(str(table), 4)


def test_incremental_pipeline_lifecycle(spark, tmp_path):
    import shutil

    incoming = tmp_path / "incoming"
    incoming.mkdir()
    work = str(tmp_path / "work")

    # batch 1 lands
    shutil.copy(f"{SF_SMOKE}/events.parquet", incoming / "b1.parquet")
    persisted = _persisted_rdds(spark)
    r1 = run_incremental_pipeline(spark, str(incoming), SF_SMOKE, work)
    assert _persisted_rdds(spark) <= persisted
    assert len(r1.new_files) == 1
    n1 = r1.fact_rows
    assert n1 > 0 and r1.kpi is not None
    # consumed input was archived out of incoming
    assert not (incoming / "b1.parquet").exists()
    assert len(r1.archived) == 1

    # no new files → nothing ingested, KPIs still rebuilt from history
    r2 = run_incremental_pipeline(spark, str(incoming), SF_SMOKE, work)
    assert r2.new_files == [] and r2.fact_rows == n1

    # batch 2 lands → facts accumulate (append), KPIs reflect the union
    shutil.copy(f"{SF_SMOKE}/events.parquet", incoming / "b2.parquet")
    r3 = run_incremental_pipeline(spark, str(incoming), SF_SMOKE, work)
    assert r3.fact_rows == 2 * n1
    assert (
        r3.kpi.kpi_rows["user_kpis"] == r1.kpi.kpi_rows["user_kpis"]
    )  # same users, doubled plays


def test_stage_retry_recovers_from_transient_failure():
    from music_streaming_etl_glue_spark.plans.pipeline import run_stage_with_retry

    calls = []

    def flaky():
        calls.append(1)
        if len(calls) < 2:
            raise RuntimeError("transient")
        return "ok"

    assert run_stage_with_retry(flaky, retries=2, backoff_s=0.001) == "ok"
    assert len(calls) == 2  # failed once, succeeded on the retry


def test_stage_retry_exhaustion_reraises():
    import pytest

    from music_streaming_etl_glue_spark.plans.pipeline import run_stage_with_retry

    def always_fails():
        raise RuntimeError("permanent")

    with pytest.raises(RuntimeError, match="permanent"):
        run_stage_with_retry(always_fails, retries=2, backoff_s=0.001)


def test_concurrency_guard_caps_active_runs(tmp_path):
    import pytest

    from music_streaming_etl_glue_spark.plans.pipeline import run_concurrency_guard

    wd = str(tmp_path)
    with run_concurrency_guard(wd, max_active=2):
        with run_concurrency_guard(wd, max_active=2):
            with pytest.raises(RuntimeError, match="concurrency cap"):
                with run_concurrency_guard(wd, max_active=2):
                    pass
    # slots released on exit → a new run acquires freely
    with run_concurrency_guard(wd, max_active=2):
        pass


def test_engine_fingerprint_roundtrip(tmp_path):
    """The pipeline's provenance stamp verifies clean and detects drift
    — the engine-side analog of the reference DAG's deployed-script
    equality check (dags/music_streaming_pipeline.py:220-299)."""
    import json

    import pytest

    from music_streaming_etl_glue_spark.plans.pipeline import (
        FINGERPRINT_FILE,
        record_engine_fingerprint,
        verify_engine_fingerprint,
    )

    out = str(tmp_path / "out")
    path = record_engine_fingerprint(out)
    assert path.endswith(FINGERPRINT_FILE)
    verify_engine_fingerprint(out)  # same code -> clean

    stamped = json.load(open(path))
    assert any(m.endswith("operators/kpis.py") for m in stamped)
    victim = next(iter(sorted(stamped)))
    stamped[victim] = "0" * 32
    json.dump(stamped, open(path, "w"))
    with pytest.raises(RuntimeError, match=victim):
        verify_engine_fingerprint(out)
