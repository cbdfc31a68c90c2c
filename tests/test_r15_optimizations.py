"""r15 optimization equivalence pins.

Each r15 rewrite claims identical output to the shape it replaced;
these tests pin the claim on small synthetic frames so a later edit
that breaks it fails here, not at the driver gate.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from music_streaming_etl_glue_spark.operators import clusters as cl
from music_streaming_etl_glue_spark.operators import dedup as dd
from music_streaming_etl_glue_spark.operators.width import spread_width


def _rowset(df):
    return sorted(tuple(r) for r in df.collect())


def test_winnow_arrow_matches_jvm_minima(spark):
    """The Arrow sliding-window winnow == the JVM slice/array_min form
    it replaced, as a row SET (order is unspecified on both sides):
    same docs, same distinct minima, short docs (< w+k-1 chars) emit
    nothing."""
    rows = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "the quick brown fox jumps over the lazy dog"),  # exact dup
        (3, "aaaaaaaaaaaaaaaaaaaa"),  # constant text -> one k-gram value
        (4, "short"),  # < k chars: no k-grams at all
        (5, "elevenchars"),  # exactly w+k-1=11 chars: one window
        (6, None),  # null text
        (7, "abcdefghij"),  # 3 k-grams < w: no window
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = dd.winnowing_fingerprints(docs)

    # the pre-r15 JVM formulation, inlined
    k, w = dd.WINNOW_K, dd.WINNOW_W
    txt = F.col("text")
    n_kgrams = F.length(txt) - (k - 1)
    empty = F.array().cast("array<bigint>")
    hashes = F.when(
        n_kgrams >= 1,
        F.transform(
            F.sequence(F.lit(1), F.greatest(n_kgrams, F.lit(1))),
            lambda i: F.conv(
                F.substring(F.md5(txt.substr(i, F.lit(k))), 1, 15), 16, 10
            ).cast("long"),
        ),
    ).otherwise(empty)
    with_hashes = docs.select("doc_id", hashes.alias("__hashes"))
    h = F.col("__hashes")
    n_windows = F.size(h) - (w - 1)
    winnowed = F.array_distinct(
        F.when(
            n_windows >= 1,
            F.transform(
                F.sequence(F.lit(1), F.greatest(n_windows, F.lit(1))),
                lambda j: F.array_min(F.slice(h, j, w)),
            ),
        ).otherwise(empty)
    )
    want = with_hashes.select("doc_id", F.explode(winnowed).alias("fp"))
    assert _rowset(got) == _rowset(want)
    # doc 5 has exactly one window; docs 4/6/7 none
    per_doc = dict(
        (r["doc_id"], r["n"])
        for r in got.groupBy("doc_id").agg(F.count("*").alias("n")).collect()
    )
    assert per_doc.get(5) == 1
    assert 4 not in per_doc and 6 not in per_doc and 7 not in per_doc


def test_winnow_skips_null_doc_id(spark):
    """A NULL doc_id row yields no fingerprints and does not fail the
    Arrow kernel: the frame's fingerprints equal those of its non-null
    rows alone."""
    rows = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (None, "a document that lost its id somewhere upstream"),
        (3, "elevenchars"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    non_null = docs.filter(F.col("doc_id").isNotNull())
    got = _rowset(dd.winnowing_fingerprints(docs))
    assert got == _rowset(dd.winnowing_fingerprints(non_null))
    assert {r[0] for r in got} == {1, 3}


def test_winnow_plan_uses_arrow_not_pickled_rows(spark):
    docs = spark.createDataFrame(
        [(1, "the quick brown fox")], "doc_id long, text string"
    )
    plan = (
        docs.sparkSession._jvm.PythonSQLUtils.explainString(
            dd.winnowing_fingerprints(docs)._jdf.queryExecution(),
            "formatted",
        )
    )
    assert "MapInPandas" in plan
    assert "BatchEvalPython" not in plan


def test_cc_min_init_matches_reference_labels(spark):
    """connected_components with the r15 min-neighbor init still lands
    every vertex on its component minimum — chain, clique, singleton,
    and an isolated edge."""
    edges = spark.createDataFrame(
        # chain 1-2-3-4, clique {10,11,12}, isolated edge (20,21)
        [(1, 2), (2, 3), (3, 4), (10, 11), (10, 12), (11, 12), (20, 21)],
        "src long, dst long",
    )
    vertices = spark.createDataFrame(
        [(i,) for i in [1, 2, 3, 4, 10, 11, 12, 20, 21, 99]], "id long"
    )
    got = {
        r["id"]: r["cluster_id"]
        for r in cl.connected_components(vertices, edges).collect()
    }
    assert got == {
        1: 1, 2: 1, 3: 1, 4: 1,
        10: 10, 11: 10, 12: 10,
        20: 20, 21: 20,
        99: 99,  # singleton labels itself
    }


def test_two_phase_without_intermediate_dedup_matches(spark):
    """connected_components_two_phase (r15: no intermediate large-star
    dedup) still converges to exact min labels on a long chain — the
    graph shape the kernel exists for."""
    n = 24
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(n)], "src long, dst long"
    )
    vertices = spark.createDataFrame([(i,) for i in range(n + 1)], "id long")
    stats: dict = {}
    got = {
        r["id"]: r["cluster_id"]
        for r in cl.connected_components_two_phase(
            vertices, edges, stats=stats
        ).collect()
    }
    assert got == {i: 0 for i in range(n + 1)}
    assert stats["rounds"] <= 8  # O(log n), not diameter


def test_prefix_verify_smaller_side_is_exact(spark):
    """jaccard/containment prefix miners with the r15 smaller-side probe
    == the naive exact pair scans on an asymmetric-size corpus (one doc
    contained in a much larger one, plus near-dups both ways round)."""
    rows = [
        (1, "a b c d e f g h i j"),
        (2, "a b c d e f g h i x"),  # near-dup of 1
        (3, "a b c d"),  # small doc contained in 4
        (4, "a b c d q r s t u v w x y z aa bb cc dd ee ff"),
        (5, "zz yy xx ww"),  # unrelated
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got_j = _rowset(
        dd.jaccard_pairs_prefix(docs, threshold=0.5).select(
            "doc_id_a", "doc_id_b", F.round("jaccard", 9)
        )
    )
    want_j = _rowset(
        dd.ngram_jaccard_pairs(docs, threshold=0.5).select(
            "doc_id_a", "doc_id_b", F.round("jaccard", 9)
        )
    )
    assert got_j == want_j and len(got_j) > 0
    got_c = _rowset(
        dd.containment_pairs_prefix(docs, threshold=0.6).select(
            "contained_doc", "container_doc", F.round("containment", 9)
        )
    )
    want_c = _rowset(
        dd.containment_pairs(docs, threshold=0.6).select(
            "contained_doc", "container_doc", F.round("containment", 9)
        )
    )
    assert got_c == want_c and len(got_c) > 0


def test_spread_width_clamps_and_falls_back(spark, tmp_path):
    par = spark.sparkContext.defaultParallelism
    # file-backed relations carry a size estimate -> narrow on tiny data
    p = str(tmp_path / "tiny.parquet")
    spark.range(0, 10).write.parquet(p)
    tiny_file = spark.read.parquet(p)
    assert spread_width(tiny_file, rows_per_task=1024) == 1
    # ...and clamp at full parallelism however small rows_per_task is
    assert spread_width(tiny_file, rows_per_task=0) <= par
    # RDD-backed / checkpointed plans have no stats -> fall back WIDE
    # (the scale-safe side: a wrong "narrow" serializes a real stage)
    tiny_rdd = spark.createDataFrame([(i,) for i in range(10)], "id long")
    assert spread_width(tiny_rdd, rows_per_task=1024) == par
    unknown = tiny_rdd.localCheckpoint(eager=False).join(
        tiny_rdd.select(F.col("id").alias("id2")), F.expr("id != id2")
    )
    assert spread_width(unknown, rows_per_task=1) == par
