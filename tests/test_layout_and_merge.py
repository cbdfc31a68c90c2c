"""Bucketed co-located joins (no-shuffle plan), salted aggregation,
upsert/SCD2 emulation."""

from __future__ import annotations

from pyspark.sql import functions as F

from music_streaming_etl_glue_spark.plans.layout import (
    bucketed_join_plan,
    salted_agg,
    write_bucketed,
)
from music_streaming_etl_glue_spark.plans.merge import scd2_apply, upsert
from music_streaming_etl_glue_spark.sources.catalog import load_table
from tests.conftest import SF_SMOKE


def test_bucketed_join_elides_shuffle(spark, tmp_path):
    orders = load_table(spark, SF_SMOKE, "orders")
    lineitem = load_table(spark, SF_SMOKE, "lineitem").withColumnRenamed(
        "l_orderkey", "o_orderkey"
    )
    write_bucketed(
        orders, "b_orders", "o_orderkey", n_buckets=8, path=str(tmp_path / "o")
    )
    write_bucketed(
        lineitem, "b_lineitem", "o_orderkey", n_buckets=8, path=str(tmp_path / "l")
    )
    joined = bucketed_join_plan(
        spark, "b_orders", "b_lineitem", "o_orderkey", force_merge=True
    )
    plan = joined._jdf.queryExecution().executedPlan().toString()
    # bucket-local sort-merge join: no shuffle exchange on either side
    assert "SortMergeJoin" in plan
    assert "Exchange hashpartitioning" not in plan, (
        f"bucketed join still shuffles:\n{plan[:600]}"
    )
    assert joined.count() == lineitem.count()
    spark.sql("DROP TABLE b_orders")
    spark.sql("DROP TABLE b_lineitem")


def test_salted_agg_matches_plain(spark):
    events = load_table(spark, SF_SMOKE, "events")
    plain = {
        (r.event_type): (r["count_value"], round(r["sum_value"], 6))
        for r in events.groupBy("event_type")
        .agg(
            F.count("value").alias("count_value"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("sum_value"),
        )
        .collect()
    }
    salted = {
        (r.event_type): (r["count_value"], round(r["sum_value"], 6))
        for r in salted_agg(
            events.withColumn("value", F.col("value").cast("decimal(18,2)")),
            ["event_type"],
            {"value": "sum"},
        )
        .join(
            salted_agg(events, ["event_type"], {"value": "count"}),
            "event_type",
        )
        .select(
            "event_type",
            F.col("sum_value").cast("double").alias("sum_value"),
            "count_value",
        )
        .collect()
    }
    assert plain == salted


def test_salted_agg_rejects_non_algebraic(spark):
    import pytest

    events = load_table(spark, SF_SMOKE, "events")
    with pytest.raises(ValueError, match="salted_agg supports"):
        salted_agg(events, ["event_type"], {"value": "avg"})


def test_upsert_last_write_wins(spark):
    target = spark.createDataFrame(
        [(1, "a", 1), (2, "b", 1), (3, "c", 1)], "id long, v string, ver int"
    )
    updates = spark.createDataFrame(
        [(2, "B", 2), (4, "d", 2)], "id long, v string, ver int"
    )
    out = {r.id: (r.v, r.ver) for r in upsert(target, updates, ["id"]).collect()}
    assert out == {1: ("a", 1), 2: ("B", 2), 3: ("c", 1), 4: ("d", 2)}


def test_scd2_versions(spark):
    OPEN = "9999-12-31 00:00:00"
    dim = spark.createDataFrame(
        [(1, "x", "2024-01-01", OPEN), (2, "y", "2024-01-01", OPEN)],
        "id long, attr string, valid_from string, valid_to string",
    )
    changes = spark.createDataFrame(
        [(1, "x2", "2024-06-01")], "id long, attr string, eff string"
    )
    out = scd2_apply(dim, changes, "id", "eff").collect()
    rows = {(r.id, r.attr): (r.valid_from, r.valid_to) for r in out}
    assert rows[(1, "x")] == ("2024-01-01", "2024-06-01")  # closed
    assert rows[(1, "x2")] == ("2024-06-01", OPEN)  # new open version
    assert rows[(2, "y")] == ("2024-01-01", OPEN)  # untouched
    assert len(out) == 3


def test_scd2_multiple_changes_per_key_in_one_batch(spark):
    OPEN = "9999-12-31 00:00:00"
    dim = spark.createDataFrame(
        [(1, "x", "2024-01-01", OPEN)],
        "id long, attr string, valid_from string, valid_to string",
    )
    changes = spark.createDataFrame(
        [(1, "x2", "2024-03-01"), (1, "x3", "2024-06-01")],
        "id long, attr string, eff string",
    )
    out = scd2_apply(dim, changes, "id", "eff").collect()
    rows = {(r.id, r.attr): (r.valid_from, r.valid_to) for r in out}
    assert rows[(1, "x")] == ("2024-01-01", "2024-03-01")  # closed at FIRST change
    assert rows[(1, "x2")] == ("2024-03-01", "2024-06-01")  # closed by next change
    assert rows[(1, "x3")] == ("2024-06-01", OPEN)  # only latest stays open
    assert len(out) == 3  # no duplicated/overlapping versions
    open_rows = [r for r in out if r.valid_to == OPEN]
    assert len(open_rows) == 1


def test_compact_parquet_merges_files_and_preserves_rows(spark, tmp_path):
    from music_streaming_etl_glue_spark.plans.layout import compact_parquet
    from music_streaming_etl_glue_spark.sources.catalog import load_table
    from tests.conftest import SF_SMOKE

    path = str(tmp_path / "frag")
    ev = load_table(spark, SF_SMOKE, "events")
    ev.repartition(37).write.parquet(path)
    n_parts_before = len(list((tmp_path / "frag").glob("part-*")))
    assert n_parts_before == 37

    n = compact_parquet(spark, path, target_files=4)
    assert n == ev.count()
    n_parts_after = len(list((tmp_path / "frag").glob("part-*")))
    assert n_parts_after <= 4
    assert spark.read.parquet(path).count() == n


def test_compact_parquet_heals_table_parked_by_crash(spark, tmp_path):
    """A hard crash mid-swap leaves the table parked at
    ``__compact_old`` and a stray ``__compact_tmp``: the next run must
    restore the table, compact it, and leave neither dir behind."""
    import os

    from music_streaming_etl_glue_spark.plans.layout import compact_parquet

    path = str(tmp_path / "frag")
    ev = load_table(spark, SF_SMOKE, "events")
    ev.repartition(7).write.parquet(path)
    os.rename(path, path + "__compact_old")
    os.makedirs(path + "__compact_tmp")

    assert compact_parquet(spark, path, target_files=2) == ev.count()
    assert spark.read.parquet(path).count() == ev.count()
    assert sorted(os.listdir(tmp_path)) == ["frag"]


def test_parquet_schema_evolution_merge(spark, tmp_path):
    """Appended data with a NEW column must be readable as one table via
    mergeSchema, with old rows null in the new column — the additive
    schema-evolution contract a long-lived fact table needs."""
    from pyspark.sql import functions as F

    path = str(tmp_path / "fact")
    spark.range(10).select(F.col("id"), F.lit("a").alias("v")).write.parquet(
        path
    )
    spark.range(10, 20).select(
        F.col("id"), F.lit("b").alias("v"), F.lit(1.5).alias("extra")
    ).write.mode("append").parquet(path)

    merged = spark.read.option("mergeSchema", "true").parquet(path)
    assert set(merged.columns) == {"id", "v", "extra"}
    assert merged.count() == 20
    assert merged.filter(F.col("extra").isNull()).count() == 10


def test_scd2_random_batches_match_python_reference(spark):
    """Randomized SCD2: apply random change batches over random keys and
    compare against a straightforward Python interval builder. Invariants
    checked per key: exactly one open version, no overlapping validity,
    chronological chaining."""
    import random

    from pyspark.sql import functions as F

    rng = random.Random(42)
    OPEN = "9999-12-31 00:00:00"
    for _ in range(5):
        keys = list(range(1, rng.randint(2, 5)))
        dim_rows = [(k, f"v{k}_0", "2024-01-01", OPEN) for k in keys]
        dim = spark.createDataFrame(
            dim_rows, "id long, attr string, valid_from string, valid_to string"
        )
        # random distinct-timestamp changes per key
        changes_rows = []
        for k in keys:
            n = rng.randint(0, 3)
            days = rng.sample(range(32, 300), n)
            for i, d in enumerate(sorted(days)):
                ts = f"2024-01-01 00:00:{0:02d}"  # placeholder, replaced below
                ts = f"2024-{(d // 28) + 2:02d}-{(d % 28) + 1:02d}"
                changes_rows.append((k, f"v{k}_{i + 1}", ts))
        if not changes_rows:
            changes_rows = [(keys[0], f"v{keys[0]}_1", "2024-06-01")]
        changes = spark.createDataFrame(
            changes_rows, "id long, attr string, eff string"
        )

        out = scd2_apply(dim, changes, "id", "eff").collect()

        # python reference: per key, versions chained by effective ts
        by_key: dict[int, list] = {}
        for k, attr, eff in changes_rows:
            by_key.setdefault(k, []).append((eff, attr))
        expected = {}
        for k in keys:
            chain = sorted(by_key.get(k, []))
            versions = []
            first_close = chain[0][0] if chain else OPEN
            versions.append((f"v{k}_0", "2024-01-01", first_close))
            for i, (eff, attr) in enumerate(chain):
                close = chain[i + 1][0] if i + 1 < len(chain) else OPEN
                versions.append((attr, eff, close))
            expected[k] = sorted(versions)
        got: dict[int, list] = {}
        for r in out:
            got.setdefault(r.id, []).append((r.attr, r.valid_from, r.valid_to))
        for k in keys:
            assert sorted(got[k]) == expected[k], (k, got[k], expected[k])
            opens = [v for v in got[k] if v[2] == OPEN]
            assert len(opens) == 1


def test_zorder_key_interleaves_known_values(spark):
    from music_streaming_etl_glue_spark.plans.layout import zorder_key

    df = spark.createDataFrame(
        [(0.0, 0.0), (255.0, 255.0), (255.0, 0.0)], "x double, y double"
    )
    rows = (
        df.select(
            zorder_key(["x", "y"], [0.0, 0.0], [255.0, 255.0], bits=8).alias("z")
        )
        .collect()
    )
    zs = [r.z for r in rows]
    # (0,0) -> 0; (max,max) -> all 16 bits set; (max,0) -> even bits only
    assert zs[0] == 0
    assert zs[1] == (1 << 16) - 1
    assert zs[2] == sum(1 << (2 * b) for b in range(8))


def test_zorder_clusters_both_columns(spark, tmp_path):
    """Files written under z-order keep tight min/max ranges on BOTH key
    columns; a plain sort by x leaves y ranges spanning the full domain
    (no skipping possible for y predicates). The assertion measures the
    mean normalized per-file range of y both ways."""
    import glob

    from music_streaming_etl_glue_spark.plans.layout import write_zordered
    from music_streaming_etl_glue_spark.sources.catalog import load_table
    from tests.conftest import SF_SMOKE

    events = load_table(spark, SF_SMOKE, "events").select(
        F.col("user_id").cast("double").alias("x"), F.col("value").alias("y")
    ).filter(F.col("y").isNotNull())
    zpath, spath = str(tmp_path / "z"), str(tmp_path / "s")
    write_zordered(events, zpath, ["x", "y"], n_files=16)
    events.repartitionByRange(16, "x").sortWithinPartitions(
        "x"
    ).write.parquet(spath)

    def mean_y_range(path):
        lo = events.agg(F.min("y")).collect()[0][0]
        hi = events.agg(F.max("y")).collect()[0][0]
        spans = []
        for f in glob.glob(path + "/part-*.parquet"):
            pdf = spark.read.parquet(f).agg(
                F.min("y").alias("lo"), F.max("y").alias("hi")
            ).collect()[0]
            if pdf.lo is not None:
                spans.append((pdf.hi - pdf.lo) / (hi - lo))
        return sum(spans) / len(spans)

    z_span, s_span = mean_y_range(zpath), mean_y_range(spath)
    # z-order: y ranges shrink materially; x-sort leaves them ~full-domain
    assert z_span < 0.7 * s_span, (z_span, s_span)


def test_row_group_stats_prove_skipping_on_zordered_write(spark, tmp_path):
    """The footer-level audit must agree with the layout claim: a point
    range predicate on a z-ordered column provably skips most rows via
    row-group min/max, while a randomly-ordered write skips ~none."""
    from music_streaming_etl_glue_spark.plans.layout import (
        row_group_stats,
        skipping_fraction,
        write_zordered,
    )
    from music_streaming_etl_glue_spark.sources.catalog import load_table
    from tests.conftest import SF_SMOKE

    events = (
        load_table(spark, SF_SMOKE, "events")
        .select(
            F.col("user_id").cast("double").alias("x"),
            F.col("value").alias("y"),
        )
        .filter(F.col("y").isNotNull())
    )
    zpath, rpath = str(tmp_path / "z"), str(tmp_path / "r")
    write_zordered(events, zpath, ["x", "y"], n_files=16)
    events.repartition(16).write.parquet(rpath)

    zstats = row_group_stats(zpath, "x")
    rstats = row_group_stats(rpath, "x")
    assert sum(s["rows"] for s in zstats) == sum(s["rows"] for s in rstats)

    lo = events.agg(F.min("x")).collect()[0][0]
    hi = events.agg(F.max("x")).collect()[0][0]
    width = (hi - lo) / 10
    z_skip = skipping_fraction(zstats, lo, lo + width)
    r_skip = skipping_fraction(rstats, lo, lo + width)
    # clustered layout: most rows provably skippable for a 10% x-range;
    # random layout: every row group straddles the domain, nothing skips
    assert z_skip > 0.5, z_skip
    assert r_skip < 0.1, r_skip


def test_apply_changelog_cdc_semantics(spark):
    """Inserts, updates, deletes, same-batch insert-then-delete, and
    delete-then-reinsert all resolve by highest seq per key; untouched
    base rows carry over."""
    from music_streaming_etl_glue_spark.plans.merge import apply_changelog

    base = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], "id long, v string"
    )
    log = spark.createDataFrame(
        [
            (2, "b2", "u", 1),      # update 2
            (3, None, "d", 1),      # delete 3
            (4, "d1", "i", 1),      # insert then delete 4 -> gone
            (4, None, "d", 2),
            (5, None, "d", 1),      # delete then reinsert 5 -> present
            (5, "e2", "i", 2),
        ],
        "id long, v string, op string, seq long",
    )
    got = {
        r.id: r.v for r in apply_changelog(base, log, ["id"]).collect()
    }
    assert got == {1: "a", 2: "b2", 5: "e2"}


def test_nested_order_layout_roundtrip(spark, tmp_path):
    """Denormalized write path: orders with embedded line arrays written
    to parquet, read back, and exploded — the flat relation is recovered
    exactly (the array-of-struct column is a faithful physical layout,
    not just a query-time convenience)."""
    from music_streaming_etl_glue_spark.sources.catalog import load_table
    from tests.conftest import SF_SMOKE

    li = load_table(spark, SF_SMOKE, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_partkey", "l_quantity"
    )
    nested = li.groupBy("l_orderkey").agg(
        F.array_sort(
            F.collect_list(
                F.struct("l_linenumber", "l_partkey", "l_quantity")
            )
        ).alias("lines")
    )
    path = str(tmp_path / "orders_nested")
    nested.write.parquet(path)

    back = (
        spark.read.parquet(path)
        .select("l_orderkey", F.explode("lines").alias("ln"))
        .select("l_orderkey", "ln.*")
    )
    a = sorted(map(tuple, back.collect()))
    b = sorted(map(tuple, li.collect()))
    assert a == b
