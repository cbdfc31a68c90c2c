"""Physical-plan guards for the round-2 operators: pushdown, pruning,
broadcast, partial top-k, and no-nested-loop promises must be visible in
the executed plans."""

from __future__ import annotations

from music_streaming_etl_glue_spark.operators.behavior import (
    events_rollup,
    track_cooccurrence,
)
from music_streaming_etl_glue_spark.operators.enrich import enrich_events
from music_streaming_etl_glue_spark.operators.relational import (
    brand_supplier_counts,
    shipping_priority,
    small_quantity_revenue,
)
from music_streaming_etl_glue_spark.operators.similarity import knn_join
from music_streaming_etl_glue_spark.sources.catalog import load_table
from tests.conftest import SF_SMOKE


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _enriched(spark):
    return enrich_events(
        load_table(spark, SF_SMOKE, "events"),
        load_table(spark, SF_SMOKE, "customer"),
        load_table(spark, SF_SMOKE, "nation"),
    )


def test_shipping_priority_pushdown_and_partial_topk(spark):
    plan = _plan(
        shipping_priority(
            load_table(spark, SF_SMOKE, "customer"),
            load_table(spark, SF_SMOKE, "orders"),
            load_table(spark, SF_SMOKE, "lineitem"),
        )
    )
    # filters reach the parquet scans
    assert "GreaterThan(l_shipdate" in plan
    assert "LessThan(o_orderdate" in plan
    assert "EqualTo(c_mktsegment,BUILDING)" in plan
    # lineitem scan is column-pruned to the 4 needed columns
    assert (
        "struct<l_orderkey:bigint,l_extendedprice:double,"
        "l_discount:double,l_shipdate" in plan
    )
    # top-k is a distributed partial top-k, not a global sort
    assert "TakeOrderedAndProject" in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_brand_supplier_counts_broadcasts_and_prunes(spark):
    plan = _plan(
        brand_supplier_counts(
            load_table(spark, SF_SMOKE, "lineitem"),
            load_table(spark, SF_SMOKE, "part"),
            load_table(spark, SF_SMOKE, "supplier"),
        )
    )
    # anti-join against bad suppliers and the part dim both broadcast
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan
    # lineitem reads only the two join columns
    assert "struct<l_partkey:bigint,l_suppkey:bigint>" in plan


def test_small_quantity_revenue_single_fact_exchange(spark):
    plan = _plan(
        small_quantity_revenue(
            load_table(spark, SF_SMOKE, "lineitem"),
            load_table(spark, SF_SMOKE, "part"),
        )
    )
    assert "EqualTo(p_brand,Brand#23)" in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_knn_join_broadcasts_queries_no_vector_shuffle(spark):
    # r14: the n×Q scoring runs as one vectorized Arrow pass per data
    # partition against the plain-broadcast query block (no join
    # operator at all); the ranking tail is unchanged
    plan = _plan(knn_join(load_table(spark, SF_SMOKE, "embeddings")))
    assert "MapInPandas" in plan or "mapInPandas" in plan
    assert "SortMergeJoin" not in plan and "CartesianProduct" not in plan
    # the only row movement is the compact (query_id, score) ranking —
    # never a hash exchange carrying the embedding arrays
    for line in plan.splitlines():
        if "Exchange hashpartitioning" in line:
            assert "vec#" not in line and "embedding#" not in line


def test_events_rollup_scans_raw_once(spark):
    plan = _plan(events_rollup(load_table(spark, SF_SMOKE, "events")))
    # the hierarchical cascade materializes the hourly aggregate and
    # re-reads IT for the coarser resolutions: at most one parquet scan
    # of the raw events in the whole three-resolution plan (the
    # checkpointed hourly level shows up as ExistingRDD branches)
    assert plan.count("FileScan parquet") <= 1
    assert "ExistingRDD" in plan


def test_track_cooccurrence_no_nested_loop(spark):
    plan = _plan(track_cooccurrence(_enriched(spark)))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "TakeOrderedAndProject" in plan


def test_forecast_revenue_change_full_pushdown(spark):
    """Q6 is the pushdown litmus: every predicate must reach the parquet
    scan, the projection must prune to the 4 referenced columns, and the
    aggregate must be a two-stage partial sum (no shuffle before the
    partial)."""
    from music_streaming_etl_glue_spark.operators.relational import (
        forecast_revenue_change,
    )

    plan = _plan(forecast_revenue_change(load_table(spark, SF_SMOKE, "lineitem")))
    # predicates reach the scan (the printed PushedFilters list is
    # truncated, so assert on its head + the full Filter node)
    assert "PushedFilters: [IsNotNull(l_shipdate)" in plan
    assert "(l_shipdate" in plan and "(l_quantity" in plan
    # column pruning: the read schema carries exactly the 4 referenced cols
    assert (
        "ReadSchema: struct<l_quantity:double,l_extendedprice:double,"
        "l_discount:double,l_shipdate" in plan
    )
    assert "partial_" in plan  # map-side partial aggregation
    assert "Exchange hashpartitioning" not in plan  # scalar agg: single exchange


def test_order_priority_checking_semi_join(spark):
    """The Q4 EXISTS must plan as a semi join (no count-inflating inner
    join), with the quarter filter pushed to the orders scan."""
    from music_streaming_etl_glue_spark.operators.relational import (
        order_priority_checking,
    )

    plan = _plan(
        order_priority_checking(
            load_table(spark, SF_SMOKE, "orders"),
            load_table(spark, SF_SMOKE, "lineitem"),
        )
    )
    assert "LeftSemi" in plan
    assert "GreaterThanOrEqual(o_orderdate" in plan
    # lineitem pruned to the two columns the semi-join condition needs
    assert "l_shipdate" in plan and "l_extendedprice" not in plan


def test_disjunctive_revenue_single_scan_broadcast(spark):
    """Q19's OR-of-ANDs must stay one broadcast hash join over ONE
    lineitem scan — not a union of three scans, not a nested loop."""
    from music_streaming_etl_glue_spark.operators.relational import (
        disjunctive_revenue,
    )

    plan = _plan(
        disjunctive_revenue(
            load_table(spark, SF_SMOKE, "lineitem"),
            load_table(spark, SF_SMOKE, "part"),
        )
    )
    assert "BroadcastHashJoin" in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert plan.count("Scan parquet") == 2  # one lineitem + one part


def test_pq_adc_scans_codes_only(spark, tmp_path):
    """The cached ADC probe must read the packed code column from the PQ
    index and touch the raw embeddings table ONLY for the pushed-down
    query-vector point lookup."""
    from music_streaming_etl_glue_spark.operators.similarity import (
        ann_topk_pq_cached,
    )

    embs = load_table(spark, SF_SMOKE, "embeddings")
    plan = _plan(ann_topk_pq_cached(spark, embs, str(tmp_path / "pq")))
    # the index scan reads (vec_id, codes) — never the embedding column
    assert "codes:array<bigint>" in plan
    # the only embeddings-table access is the query point lookup
    assert plan.count("EqualTo(vec_id,0)") >= 1
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_ivfpq_similar_items_prunes_cells_and_scans_codes(spark, tmp_path):
    """The IVF-PQ funnel behind similar-item reads: the index scan is
    pruned to the probed ``assigned_label=`` cells and reads the packed
    code column, the ADC lookup table joins by broadcast on (s, code),
    and no join degrades to a nested loop."""
    import re

    from music_streaming_etl_glue_spark.operators.similarity import (
        ann_topk_ivfpq,
    )

    embs = load_table(spark, SF_SMOKE, "embeddings")
    plan = _plan(ann_topk_ivfpq(spark, embs, str(tmp_path / "ivfpq")))
    scans = [
        line for line in plan.splitlines() if "PartitionFilters:" in line
    ]
    assert any(
        re.search(r"PartitionFilters: \[[^\]]*assigned_label", line)
        and "codes:array<bigint>" in line
        for line in scans
    ), scans
    assert re.search(r"BroadcastHashJoin \[s#\d+L?, code#\d+L?\]", plan)
    assert "CartesianProduct" not in plan


def test_triangle_census_no_cartesian(spark):
    from music_streaming_etl_glue_spark.operators.clusters import (
        triangle_stats,
    )

    edges = spark.createDataFrame(
        [(0, 1), (1, 2), (0, 2)], "src bigint, dst bigint"
    )
    plan = _plan(triangle_stats(edges))
    # both triangle joins are keyed shuffles, not nested loops
    assert "CartesianProduct" not in plan


def test_decay_scores_single_aggregate_no_window(spark):
    from music_streaming_etl_glue_spark.operators.behavior import (
        track_decay_scores,
    )

    plan = _plan(track_decay_scores(_enriched(spark)))
    # stateless decayed sum: partial-agg before the exchange, no Window
    # over raw plays, top-k via TakeOrderedAndProject
    assert "Window" not in plan
    assert "TakeOrderedAndProject" in plan


def test_catalog_wide_plan_invariants(spark, catalog_dfs):
    """Sweep EVERY catalog query's physical plan for the two engine-wide
    bans: CartesianProduct (an unkeyed join that went quadratic) and
    BatchEvalPython (a row-at-a-time Python UDF in the plan — Python is
    allowed only Arrow-batched: ArrowEvalPython / FlatMapGroupsInPandas /
    MapInPandas / FlatMapCoGroupsInPandas). Catches a regression in ANY
    query the moment it is introduced, not when its runtime blows up.

    cosine_pairs is exempt from the Cartesian ban: it is the guarded
    O(n²) correctness baseline and its pair join is deliberately
    unkeyed (a<b only)."""
    cartesian_ok = {"cosine_pairs"}
    offenders = {}
    for name, df in catalog_dfs.items():
        plan = _plan(df)
        bad = []
        if "CartesianProduct" in plan and name not in cartesian_ok:
            bad.append("CartesianProduct")
        if "BatchEvalPython" in plan:
            bad.append("BatchEvalPython")
        if bad:
            offenders[name] = bad
    assert not offenders, offenders
