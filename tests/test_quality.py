"""Serving-table QA checks (reference's manual DynamoDB audits, automated)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from music_streaming_etl_glue_spark.operators.enrich import enrich_events
from music_streaming_etl_glue_spark.operators.serving import serving_items
from music_streaming_etl_glue_spark.plans.quality import (
    assert_serving_quality,
    qa_serving_items,
)
from music_streaming_etl_glue_spark.sources.catalog import load_table
from tests.conftest import SF_SMOKE


@pytest.fixture(scope="module")
def items(spark):
    enriched = enrich_events(
        load_table(spark, SF_SMOKE, "events"),
        load_table(spark, SF_SMOKE, "customer"),
        load_table(spark, SF_SMOKE, "nation"),
    )
    cached = serving_items(enriched).cache()
    yield cached
    cached.unpersist()


def test_pipeline_output_is_clean(items):
    assert_serving_quality(items)
    qa = {r.kpi_type: r for r in qa_serving_items(items).collect()}
    assert set(qa) == {
        "user", "genre_daily", "genre_top_songs", "genre_top_genres", "trending",
    }
    assert all(r.n_items > 0 for r in qa.values())


def test_qa_flags_injected_violations(spark, items):
    corrupted = items.withColumn(
        "listen_count",
        F.when(F.col("kpi_type") == "genre_daily", F.lit(None)).otherwise(
            F.col("listen_count")
        ),
    ).withColumn(
        "plays_last_24h",
        F.when(F.col("kpi_type") == "trending", F.lit(-5)).otherwise(
            F.col("plays_last_24h")
        ),
    )
    qa = {r.kpi_type: r for r in qa_serving_items(corrupted).collect()}
    assert qa["genre_daily"].missing_attrs == qa["genre_daily"].n_items
    assert qa["trending"].negative_metrics == qa["trending"].n_items
    assert qa["user"].missing_attrs == 0
    with pytest.raises(ValueError, match="serving quality violations"):
        assert_serving_quality(corrupted)


def test_observed_metrics_ride_the_write_action(spark, tmp_path):
    """observe()-based QA: metrics must appear after the write action with
    the same counts the standalone auditor computes — and no extra scan
    job is needed to get them."""
    from music_streaming_etl_glue_spark.operators.enrich import enrich_events
    from music_streaming_etl_glue_spark.operators.serving import serving_items
    from music_streaming_etl_glue_spark.plans.quality import (
        observed_write_metrics,
        qa_serving_items,
    )
    from music_streaming_etl_glue_spark.sources.catalog import load_table
    from tests.conftest import SF_SMOKE

    enriched = enrich_events(
        load_table(spark, SF_SMOKE, "events"),
        load_table(spark, SF_SMOKE, "customer"),
        load_table(spark, SF_SMOKE, "nation"),
    )
    items = serving_items(enriched)
    observed, obs = observed_write_metrics(items)
    observed.write.mode("overwrite").parquet(str(tmp_path / "serving"))

    got = obs.get
    audited = qa_serving_items(items).collect()
    assert got["n_items"] == sum(r.n_items for r in audited)
    assert got["negative_metrics"] == sum(r.negative_metrics for r in audited)
    assert got["malformed_timestamps"] == sum(
        r.malformed_timestamps for r in audited
    )
    assert got["malformed_ids"] == sum(r.malformed_ids for r in audited)
    assert got["n_items"] > 0


def test_psi_drift_detects_planted_shift(spark):
    """PSI ≈ 0 when the two snapshots share a distribution; a planted
    mean shift pushes the summed PSI past the 0.25 alert line, and every
    psi_term is finite even for bins one side leaves empty."""
    import math

    from music_streaming_etl_glue_spark.plans.quality import (
        PSI_ALERT,
        psi_drift,
    )

    base = [(i, (i * 37 % 100) / 10.0) for i in range(400)]
    same = spark.createDataFrame(base, "id long, v double")
    psi_same = sum(
        r.psi_term for r in psi_drift(same, same, "v").collect()
    )
    assert abs(psi_same) < 1e-9

    shifted = spark.createDataFrame(
        [(i, v + 8.0) for i, v in base], "id long, v double"
    )
    terms = psi_drift(same, shifted, "v").collect()
    assert all(math.isfinite(r.psi_term) for r in terms)
    assert sum(r.psi_term for r in terms) > PSI_ALERT
