"""Deduplication operators over the ``documents`` table: exact, word-shingle
Jaccard, MinHash+LSH, and SimHash — the training-data-pipeline dedup
toolkit, built entirely from JVM-side expressions (split/slice/md5/bit ops)
so everything stays inside whole-stage codegen.

Scale design (100 TB):
* Exact dedup = one hash-aggregate shuffle on md5(text) — embarrassingly
  parallel; AQE handles the (rare) hot hash.
* Shingle/LSH paths shuffle on the shingle/bucket key, never all-pairs:
  candidate generation is |bands| rows per doc, and only candidates pay the
  verification join. An optional document-frequency cap drops
  ultra-common shingles (stopword-shingle skew) before the join.
* All hashing is md5-derived and engine-portable, so every operator here
  has a DuckDB oracle twin (hex strings compare lexicographically the same
  in both engines; 15 hex chars = 60 bits fits BIGINT exactly).

Determinism note: md5 is used as a *deterministic* hash family (seeded by
band/row index), not for security.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from music_streaming_etl_glue_spark.functions.ranks import rank_post_limit
from music_streaming_etl_glue_spark.operators.width import spread_width

SHINGLE_N = 3
MINHASH_K = 6
MINHASH_BANDS = 3  # rows-per-band r = K / BANDS = 2 → s-curve @ ~0.58
JACCARD_THRESHOLD = 0.5
SIMHASH_BITS = 60
SIMHASH_BAND_BITS = 15
SIMHASH_MAX_HAMMING = 2


# ---------------------------------------------------------------------------
# word shingles (shared by jaccard + minhash)
# ---------------------------------------------------------------------------

def _shingle_array(n: int = SHINGLE_N, toks: Column | None = None) -> Column:
    """Distinct word n-shingles of ``text`` (empty for docs < n tokens).

    Pass a BOUND column as ``toks`` whenever the caller can project the
    token array first: referencing the split expression from the
    per-position slice lambda inlines the whole O(|text|) split into
    every shingle's evaluation — O(|text|²) per row (the winnowing
    lesson; measured 13.6 s → 1.1 s on 200 × 4k-token docs)."""
    if toks is None:
        toks = F.split(F.col("text"), " ")
    sh = F.transform(
        F.sequence(F.lit(1), F.size(toks) - (n - 1)),
        lambda i: F.concat_ws(" ", F.slice(toks, i, n)),
    )
    return F.array_distinct(
        F.when(F.size(toks) >= n, sh).otherwise(F.array().cast("array<string>"))
    )


def _spread(documents: DataFrame, rows_per_task: int = 1024) -> DataFrame:
    """Spread a (often single-file) document scan across the cores before
    the explode stage — the shingle fan-out inherits the scan's partition
    count, and one input file would serialize the whole stage.

    r15 (guide §2.5 — partition to the data, not the cluster constant):
    the width is size-adaptive, ``est_rows / rows_per_task`` clamped to
    [1, defaultParallelism], instead of an unconditional
    ``defaultParallelism`` that imposed 32-task stages on kilobyte test
    relations (the r14 driver measured the suite 18% faster at 8 cores
    than 32 purely on that fixed cost). ``rows_per_task`` reflects the
    per-row cost of the stage this spread feeds; anything ≥
    par×rows_per_task rows still fans out to full cluster width."""
    w = spread_width(documents, rows_per_task)
    if w <= 1:
        return documents
    return documents if documents.rdd.getNumPartitions() >= w else documents.repartition(w)


def shingles(documents: DataFrame, n: int = SHINGLE_N) -> DataFrame:
    """(doc_id, shingle) exploded distinct shingle sets. The token array
    lands as a bound column between two projections so the per-position
    lambda never re-evaluates the split (see :func:`_shingle_array`)."""
    with_toks = _spread(documents).select(
        "doc_id", F.split(F.col("text"), " ").alias("__toks")
    )
    return with_toks.select(
        "doc_id",
        F.explode(_shingle_array(n, F.col("__toks"))).alias("shingle"),
    )


def _shingles_cte(n: int = SHINGLE_N, source: str = "documents") -> str:
    return f"""
    SELECT doc_id,
           unnest(list_distinct(list_transform(
               generate_series(1, len(string_split(text, ' ')) - {n - 1}),
               i -> array_to_string((string_split(text, ' '))[i:i + {n - 1}], ' ')
           ))) AS shingle
    FROM {source}
    WHERE len(string_split(text, ' ')) >= {n}
    """


# ---------------------------------------------------------------------------
# exact dedup
# ---------------------------------------------------------------------------

def dedup_exact(documents: DataFrame) -> DataFrame:
    """Hash-groupBy exact dedup: one row per distinct text, with the
    canonical (minimum) doc_id and the duplicate count."""
    return documents.groupBy(F.md5("text").alias("text_hash")).agg(
        F.min("doc_id").alias("canonical_doc_id"),
        F.count("*").alias("dup_count"),
    )


DEDUP_EXACT_SQL = """
SELECT md5(text) AS text_hash,
       min(doc_id) AS canonical_doc_id,
       count(*) AS dup_count
FROM documents
GROUP BY md5(text)
"""


def dedup_normalized(documents: DataFrame) -> DataFrame:
    """Exact dedup on the order/multiplicity-invariant token-set form
    (catches shuffled near-dups that raw hashing misses)."""
    toks = F.split(F.col("text"), " ")
    norm = F.md5(F.concat_ws(" ", F.array_sort(F.array_distinct(toks))))
    return documents.groupBy(norm.alias("norm_hash")).agg(
        F.min("doc_id").alias("canonical_doc_id"),
        F.count("*").alias("dup_count"),
    )


DEDUP_NORMALIZED_SQL = """
SELECT md5(array_to_string(list_sort(list_distinct(string_split(text, ' '))), ' '))
           AS norm_hash,
       min(doc_id) AS canonical_doc_id,
       count(*) AS dup_count
FROM documents
GROUP BY 1
"""


def dedup_apply(documents: DataFrame) -> DataFrame:
    """Materialize the deduplicated corpus: keep each text's canonical
    (minimum-doc_id) row. Window-based keep-first — one shuffle on the
    hash, no join back to the source."""
    w = Window.partitionBy(F.md5("text")).orderBy(F.col("doc_id").asc())
    return (
        documents.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


DEDUP_APPLY_SQL = """
SELECT doc_id, text, lang, source, n_chars
FROM (
    SELECT *, row_number() OVER (PARTITION BY md5(text)
                                 ORDER BY doc_id ASC) AS rn
    FROM documents
) WHERE rn = 1
"""


def soft_dedup_weights(documents: DataFrame) -> DataFrame:
    """Soft deduplication: keep EVERY row, downweight duplicates instead
    of dropping them (the SoftDeDup idea — reweighting preserves the
    n-gram distribution hard removal distorts). Per-document sampling
    weight = 1 / dup_count of its exact text hash, so each distinct text
    contributes total mass 1 regardless of multiplicity; ``weighted_chars``
    is the document's effective size under that weight (the number a
    token-budget planner sums instead of raw ``n_chars``).

    Plan: one window count over the md5(text) hash — the same single
    hash-shuffle as :func:`dedup_apply`, no join back, no second pass.
    At 100 TB this is exact-dedup cost with none of exact dedup's
    distribution shift."""
    w = Window.partitionBy(F.md5("text"))
    dup = F.count("*").over(w)
    weight = F.round(F.lit(1.0) / dup.cast("double"), 9)
    return documents.select(
        "doc_id",
        "source",
        dup.alias("dup_count"),
        weight.alias("weight"),
        F.round(F.col("n_chars").cast("double") / dup.cast("double"), 9).alias(
            "weighted_chars"
        ),
    )


SOFT_DEDUP_WEIGHTS_SQL = """
SELECT doc_id,
       source,
       count(*) OVER (PARTITION BY md5(text)) AS dup_count,
       round(1.0::DOUBLE / count(*) OVER (PARTITION BY md5(text)), 9) AS weight,
       round(n_chars::DOUBLE / count(*) OVER (PARTITION BY md5(text)), 9)
           AS weighted_chars
FROM documents
"""


# ---------------------------------------------------------------------------
# deterministic dataset split (train/val/test)
# ---------------------------------------------------------------------------

SPLIT_FRACTIONS = (("train", 0.8), ("val", 0.1), ("test", 0.1))


def _hash_bucket(col: str, mod: int) -> F.Column:
    """Deterministic engine-portable bucket: first 15 hex digits of
    md5(key) (< 2^60, fits a signed 64-bit int) mod ``mod``. The ONE
    definition shared by every sampling/splitting operator — identical to
    DuckDB's ``('0x' || substr(md5(key::VARCHAR), 1, 15))::BIGINT % mod``."""
    return (
        F.conv(F.substring(F.md5(F.col(col).cast("string")), 1, 15), 16, 10)
        .cast("long")
        % mod
    )


def dataset_split(documents: DataFrame) -> DataFrame:
    """Stable train/val/test assignment by content-independent key hash:
    bucket = md5(doc_id) mod 1000 → fraction ranges. Adding or removing
    other rows never moves an existing row between splits (the property
    random `randomSplit` lacks), and the assignment reproduces anywhere
    md5 exists."""
    bucket = _hash_bucket("doc_id", 1000)
    edges = []
    acc = 0.0
    for name, frac in SPLIT_FRACTIONS:
        acc += frac
        edges.append((name, int(round(acc * 1000))))
    expr = None
    for name, hi in edges:
        expr = (
            F.when(bucket < hi, F.lit(name))
            if expr is None
            else expr.when(bucket < hi, F.lit(name))
        )
    return documents.select(
        "doc_id", expr.alias("split"), bucket.alias("split_bucket")
    )


DATASET_SPLIT_SQL = """
WITH b AS (
    SELECT doc_id,
           ('0x' || substr(md5(doc_id::VARCHAR), 1, 15))::BIGINT % 1000 AS split_bucket
    FROM documents
)
SELECT doc_id,
       CASE WHEN split_bucket < 800 THEN 'train'
            WHEN split_bucket < 900 THEN 'val'
            ELSE 'test' END AS split,
       split_bucket
FROM b
"""


def split_leakage_audit(
    documents: DataFrame, n: int = SHINGLE_N
) -> DataFrame:
    """Train→eval leakage audit over :func:`dataset_split`: for every
    val/test document, whether its exact text appears in the train split
    (``exact_leak``) and how many of its distinct word ``n``-shingles the
    train split contains anywhere (``shared_shingles``). Hash-based
    splitting prevents doc_id leakage but NOT content leakage — exact and
    near-duplicates of a training document landing in eval silently
    inflate every metric computed on it; this is the audit a pipeline
    runs between splitting and publishing an eval set.

    Scale shape: the eval side is the smaller one (~20% of the corpus),
    but its exploded shingle relation is many times the text size — a
    HARD broadcast hint would bypass autoBroadcastJoinThreshold and OOM
    the driver at corpus scale. The joins are left unhinted so AQE
    broadcasts the eval side while it fits and falls back to a shuffle
    join when it doesn't; per-eval-doc counts are one hash aggregate
    keyed by doc_id either way."""
    split = dataset_split(documents).select("doc_id", "split")
    docs = documents.join(split, "doc_id")
    train = docs.filter(F.col("split") == "train")
    eval_docs = docs.filter(F.col("split") != "train")

    eval_hashes = eval_docs.select(
        "doc_id", "split", F.md5("text").alias("text_hash")
    )
    train_hashes = train.select(F.md5("text").alias("text_hash")).distinct()
    exact = (
        train_hashes.join(eval_hashes, "text_hash")
        .select("doc_id")
        .distinct()
        .withColumn("exact_leak", F.lit(True))
    )

    eval_sh = shingles(eval_docs.select("doc_id", "text"), n)
    train_sh = shingles(train.select("doc_id", "text"), n).select(
        "shingle"
    ).distinct()
    shared = (
        train_sh.join(eval_sh, "shingle")
        .groupBy("doc_id")
        .agg(F.count("*").alias("shared_shingles"))
    )

    return (
        eval_hashes.select("doc_id", "split")
        .join(exact, "doc_id", "left")
        .join(shared, "doc_id", "left")
        .select(
            "doc_id",
            "split",
            F.coalesce("exact_leak", F.lit(False)).alias("exact_leak"),
            F.coalesce("shared_shingles", F.lit(0))
            .cast("long")
            .alias("shared_shingles"),
            (
                F.coalesce("exact_leak", F.lit(False))
                | (F.coalesce("shared_shingles", F.lit(0)) > 0)
            ).alias("leaky"),
        )
    )


SPLIT_LEAKAGE_AUDIT_SQL = f"""
WITH split AS ({DATASET_SPLIT_SQL}),
docs AS (
    SELECT d.doc_id, d.text, s.split
    FROM documents d JOIN split s USING (doc_id)
),
train_hashes AS (
    SELECT DISTINCT md5(text) AS text_hash FROM docs WHERE split = 'train'
),
eval_docs AS (SELECT * FROM docs WHERE split != 'train'),
exact AS (
    SELECT DISTINCT e.doc_id
    FROM eval_docs e JOIN train_hashes t ON md5(e.text) = t.text_hash
),
sh AS ({_shingles_cte(SHINGLE_N)}),
train_sh AS (
    SELECT DISTINCT sh.shingle
    FROM sh JOIN docs USING (doc_id) WHERE docs.split = 'train'
),
shared AS (
    SELECT sh.doc_id, count(*) AS shared_shingles
    FROM sh
    JOIN docs USING (doc_id)
    JOIN train_sh t ON sh.shingle = t.shingle
    WHERE docs.split != 'train'
    GROUP BY sh.doc_id
),
base AS (
    SELECT e.doc_id, e.split,
           e.doc_id IN (SELECT doc_id FROM exact) AS exact_leak,
           COALESCE(s.shared_shingles, 0)::BIGINT AS shared_shingles
    FROM eval_docs e LEFT JOIN shared s USING (doc_id)
)
SELECT doc_id, split, exact_leak, shared_shingles,
       exact_leak OR shared_shingles > 0 AS leaky
FROM base
"""


# ---------------------------------------------------------------------------
# n-gram Jaccard near-dup pairs (exact, shingle-join based)
# ---------------------------------------------------------------------------

def ngram_jaccard_pairs(
    documents: DataFrame,
    n: int = SHINGLE_N,
    threshold: float = JACCARD_THRESHOLD,
    max_shingle_df: int | None = None,
    shingle_frame: DataFrame | None = None,
) -> DataFrame:
    """All document pairs with word-``n``-shingle Jaccard >= threshold.

    Exact (no approximation): co-group on the shingle key, count
    intersections, derive |A ∪ B| from per-doc set sizes. The shuffle key
    is the shingle, so cost is Σ df(shingle)² — ``max_shingle_df`` drops
    shingles more frequent than the cap (skew guard at scale; off by
    default to keep oracle parity). ``shingle_frame`` lets a caller feed
    an already-materialized (doc_id, shingle) relation.
    """
    sh = shingle_frame if shingle_frame is not None else shingles(documents, n)
    if max_shingle_df is not None:
        keep = (
            sh.groupBy("shingle")
            .count()
            .filter(F.col("count") <= max_shingle_df)
            .select("shingle")
        )
        sh = sh.join(F.broadcast(keep), "shingle")
    # sh feeds the sizes aggregate and BOTH self-join sides — materialize
    # once instead of recomputing the explode+split plan three times
    sh = sh.localCheckpoint(eager=False)
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("set_size"))
    a, b = sh.alias("a"), sh.alias("b")
    inter = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_id_a"),
            F.col("b.doc_id").alias("doc_id_b"),
        )
        .agg(F.count("*").alias("inter"))
    )
    sa = sizes.select(
        F.col("doc_id").alias("doc_id_a"), F.col("set_size").alias("size_a")
    )
    sb = sizes.select(
        F.col("doc_id").alias("doc_id_b"), F.col("set_size").alias("size_b")
    )
    jaccard = F.col("inter").cast("double") / (
        F.col("size_a") + F.col("size_b") - F.col("inter")
    )
    return (
        inter.join(sa, "doc_id_a")
        .join(sb, "doc_id_b")
        .select("doc_id_a", "doc_id_b", jaccard.alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


WINNOW_K = 8   # char k-gram width
WINNOW_W = 4   # winnowing window (guarantee length = w + k - 1 = 11 chars)
WINNOW_OVERLAP_THRESHOLD = 0.5


def winnowing_fingerprints(
    documents: DataFrame, k: int = WINNOW_K, w: int = WINNOW_W
) -> DataFrame:
    """Winnowed character-k-gram fingerprints (Schleimer/Wilkerson/Aiken,
    the MOSS scheme): hash every k-char gram, keep the MINIMUM hash of
    each w-wide window. Guarantees: any substring two documents share of
    length ≥ w+k−1 contributes at least one shared fingerprint, while the
    expected fingerprint density is only 2/(w+1) — a ~2.5× sparser
    relation than word shingles with a detection guarantee shingles don't
    give for partial overlaps.

    Pure array expressions (transform/sequence/slice/array_min) over a
    narrow scan — no shuffle, no Python; the output is the slim
    (doc_id, fp) relation that pair mining joins on."""
    # NB: Spark's sequence(1, 0) is the DESCENDING [1, 0], not empty —
    # every range here is guarded or the short-doc case walks off the
    # string (and slice(…, 0, w) throws)
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
    # the hash array MUST land as a bound column between two projections:
    # referencing the expression object directly from the window lambda
    # inlines the whole ~|text| md5 chain into every window's slice, and
    # the per-row cost goes |text|² (measured 47 s → 1.7 s at sf0.1).
    # CollapseProject keeps the split (non-cheap expr, multiple refs).
    # per-row work here is the |text|-long md5 chain — far heavier than a
    # shingle split, and winnowing is the one pair miner measured to keep
    # scaling with cores (r14 low/high ratio 1.87) — so it spreads at a
    # 4× smaller rows-per-task than the default shingle lanes
    # a NULL doc_id has no document to attribute fingerprints to (like a
    # NULL text, it yields none); dropping it here also keeps doc_id a
    # non-null int64 on the Arrow side instead of float64 with NaN
    with_hashes = (
        _spread(documents, rows_per_task=256)
        .filter(F.col("doc_id").isNotNull())
        .select("doc_id", hashes.alias("__hashes"))
    )
    # r15 (guide §4.2, VERDICT r14 item #4): the per-window minima move
    # to ONE vectorized Arrow pass. The JVM form ran an interpreted
    # slice+array_min per window — O(|hashes|·w) allocations per row —
    # where numpy's sliding_window_view computes every window minimum in
    # one C pass and pd.unique dedups exactly like array_distinct.
    # Values are bit-identical (int64 minima of the same int64 arrays;
    # multiset equality pinned in tests/test_r15_optimizations.py); the
    # md5 k-gram chain deliberately STAYS in the JVM, where the hash is
    # native — only (doc_id, array<long>) crosses the boundary, A/B'd
    # 0.92 s (JVM minima) vs 0.54 s (Arrow) warm at sf0.1.
    import numpy as np
    import pandas as pd

    def winnow_batches(batches):
        for pdf in batches:
            ids_out, fps_out = [], []
            for doc_id, hs in zip(pdf["doc_id"], pdf["__hashes"]):
                a = np.asarray(hs, dtype=np.int64)
                # < w hashes ⇒ no window (the JVM form's n_windows >= 1)
                if len(a) >= w:
                    mins = np.lib.stride_tricks.sliding_window_view(
                        a, w
                    ).min(axis=1)
                    fps = pd.unique(mins)
                    ids_out.append(
                        np.full(len(fps), doc_id, dtype=np.int64)
                    )
                    fps_out.append(fps)
            if ids_out:
                yield pd.DataFrame(
                    {
                        "doc_id": np.concatenate(ids_out),
                        "fp": np.concatenate(fps_out),
                    }
                )

    return with_hashes.mapInPandas(winnow_batches, "doc_id long, fp long")


def _winnow_fp_cte(k: int = WINNOW_K, w: int = WINNOW_W) -> str:
    return f"""kg AS (
    SELECT doc_id,
           list_transform(
               generate_series(1, greatest(length(text) - {k - 1}, 0)),
               i -> ('0x' || substr(md5(substr(text, i, {k})), 1, 15))::BIGINT
           ) AS hashes
    FROM documents
),
winnow AS (
    SELECT doc_id,
           unnest(list_distinct(list_transform(
               generate_series(1, greatest(len(hashes) - {w - 1}, 0)),
               j -> list_min(hashes[j:j + {w - 1}])
           ))) AS fp
    FROM kg
)"""


WINNOWING_FINGERPRINTS_SQL = f"""
WITH {_winnow_fp_cte()}
SELECT doc_id, fp FROM winnow
"""


def winnow_near_dups(
    documents: DataFrame,
    k: int = WINNOW_K,
    w: int = WINNOW_W,
    threshold: float = WINNOW_OVERLAP_THRESHOLD,
) -> DataFrame:
    """Near-dup pairs by winnowed-fingerprint overlap, normalized by the
    SMALLER document's fingerprint count (containment-style, so
    doc-in-doc cases surface too): the sparse-relation twin of the
    shingle pair miners — same co-group join shape, but on a fingerprint
    stream that is 2/(w+1) the density of the k-gram stream, so the
    Σ df² join cost drops quadratically in the density while the w+k−1
    guarantee bounds what sparsification can miss. A raw shared count is
    NOT the measure (on boilerplate-heavy corpora nearly all pairs share
    a few fingerprints — measured p50 0.09 / p99 0.24 / near-dups ≥ 0.5
    on the synthetic corpus): the overlap fraction is what separates."""
    fps = winnowing_fingerprints(documents, k, w).localCheckpoint(
        eager=False
    )
    sizes = fps.groupBy("doc_id").agg(F.count("*").alias("n_fps"))
    a, b = fps.alias("a"), fps.alias("b")
    shared = (
        a.join(
            b,
            (F.col("a.fp") == F.col("b.fp"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_id_a"),
            F.col("b.doc_id").alias("doc_id_b"),
        )
        .agg(F.count("*").alias("shared_fps"))
    )
    overlap = F.col("shared_fps").cast("double") / F.least(
        F.col("na"), F.col("nb")
    )
    return (
        shared.join(
            sizes.select(
                F.col("doc_id").alias("doc_id_a"),
                F.col("n_fps").alias("na"),
            ),
            "doc_id_a",
        )
        .join(
            sizes.select(
                F.col("doc_id").alias("doc_id_b"),
                F.col("n_fps").alias("nb"),
            ),
            "doc_id_b",
        )
        .select(
            "doc_id_a", "doc_id_b", "shared_fps", overlap.alias("overlap")
        )
        .filter(F.col("overlap") >= threshold)
    )


WINNOW_NEAR_DUPS_SQL = f"""
WITH {_winnow_fp_cte()},
sizes AS (SELECT doc_id, count(*) AS n_fps FROM winnow GROUP BY doc_id),
shared AS (
    SELECT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b,
           count(*) AS shared_fps
    FROM winnow a JOIN winnow b
      ON a.fp = b.fp AND a.doc_id < b.doc_id
    GROUP BY a.doc_id, b.doc_id
)
SELECT s.doc_id_a, s.doc_id_b, s.shared_fps,
       s.shared_fps::DOUBLE / least(sa.n_fps, sb.n_fps) AS overlap
FROM shared s
JOIN sizes sa ON sa.doc_id = s.doc_id_a
JOIN sizes sb ON sb.doc_id = s.doc_id_b
WHERE s.shared_fps::DOUBLE / least(sa.n_fps, sb.n_fps)
      >= {WINNOW_OVERLAP_THRESHOLD}
"""


CONTAINMENT_THRESHOLD = 0.8


def containment_pairs(
    documents: DataFrame,
    n: int = SHINGLE_N,
    threshold: float = CONTAINMENT_THRESHOLD,
    max_shingle_df: int | None = None,
) -> DataFrame:
    """Directional shingle containment C(A→B) = |A∩B| / |A|: every
    ordered pair where at least ``threshold`` of the contained document's
    shingles appear in the container. This is the doc-in-doc rung
    symmetric Jaccard structurally misses — a tweet quoted inside a long
    article has J ≈ |tweet|/|article| ≈ 0 but containment ≈ 1, and
    quote-amplified duplication is a major real-corpus dup mode.

    Same exact co-group shape as :func:`ngram_jaccard_pairs` (shingle-key
    shuffle, Σ df² — ``max_shingle_df`` is the identical hot-shingle skew
    cap, off by default for oracle parity, ON via
    :data:`PIPELINE_MAX_SHINGLE_DF` in production); the unordered
    intersection relation fans into the two ordered containments with
    pure column math, so directionality costs nothing extra. Sizes are
    computed after the cap, keeping containment internally consistent
    over the filtered shingle sets."""
    sh = shingles(documents, n)
    if max_shingle_df is not None:
        keep = (
            sh.groupBy("shingle")
            .count()
            .filter(F.col("count") <= max_shingle_df)
            .select("shingle")
        )
        sh = sh.join(F.broadcast(keep), "shingle")
    sh = sh.localCheckpoint(eager=False)
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("set_size"))
    a, b = sh.alias("a"), sh.alias("b")
    inter = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_id_a"),
            F.col("b.doc_id").alias("doc_id_b"),
        )
        .agg(F.count("*").alias("inter"))
    )
    base = inter.join(
        sizes.select(
            F.col("doc_id").alias("doc_id_a"),
            F.col("set_size").alias("size_a"),
        ),
        "doc_id_a",
    ).join(
        sizes.select(
            F.col("doc_id").alias("doc_id_b"),
            F.col("set_size").alias("size_b"),
        ),
        "doc_id_b",
    )
    c_ab = base.select(
        F.col("doc_id_a").alias("contained_doc"),
        F.col("doc_id_b").alias("container_doc"),
        (F.col("inter").cast("double") / F.col("size_a")).alias(
            "containment"
        ),
    )
    c_ba = base.select(
        F.col("doc_id_b").alias("contained_doc"),
        F.col("doc_id_a").alias("container_doc"),
        (F.col("inter").cast("double") / F.col("size_b")).alias(
            "containment"
        ),
    )
    return c_ab.unionByName(c_ba).filter(
        F.col("containment") >= threshold
    )


def containment_pairs_prefix(
    documents: DataFrame,
    n: int = SHINGLE_N,
    threshold: float = CONTAINMENT_THRESHOLD,
    candidate_stats: dict | None = None,
) -> DataFrame:
    """:func:`containment_pairs` with prefix filtering — same exact
    output (shared oracle), candidate volume driven by rare shingles.

    The containment bound is one-sided: C(A→B) ≥ t needs |A∩B| ≥
    ⌈t·|A|⌉, and A's non-prefix suffix under the df-ascending total
    order holds only ⌈t·|A|⌉ − 1 shingles — so every qualifying pair
    shares at least one shingle from the CONTAINED doc's first
    |A| − ⌈t·|A|⌉ + 1. The container needs no prefix (a tweet quoted in
    an article must match the tweet's rare shingles, wherever they sit
    in the article), so candidates join each doc's prefix against the
    FULL shingle stream: Σ df_prefix(s)·df(s) — hot boilerplate
    shingles fall out of prefixes exactly as in
    :func:`jaccard_pairs_prefix`, and there is no length filter because
    containment imposes none. Survivors verify with the exact
    intersection count over full sets; both directions filter from the
    one unordered relation. τ·|x| rounds to 9 dp before the ceil for
    the same ulp reason documented there."""
    sh = shingles(documents, n).localCheckpoint(eager=False)
    dfreq = sh.groupBy("shingle").agg(F.count("*").alias("df"))
    ranked = sh.join(dfreq, "shingle")
    pos_w = Window.partitionBy("doc_id").orderBy(
        F.col("df").asc(), F.col("shingle").asc()
    )
    size_w = Window.partitionBy("doc_id")
    prefix_len = (
        F.col("set_size")
        - F.ceil(F.round(F.lit(threshold) * F.col("set_size"), 9))
        + F.lit(1)
    )
    par = documents.sparkSession.sparkContext.defaultParallelism
    prefixes = (
        ranked.withColumn("pos", F.row_number().over(pos_w))
        .withColumn("set_size", F.count("*").over(size_w))
        .filter(F.col("pos") <= prefix_len)
        .select("doc_id", "shingle")
    )
    p, f = prefixes.alias("p"), sh.alias("f")
    cand = (
        p.join(
            f,
            (F.col("p.shingle") == F.col("f.shingle"))
            & (F.col("p.doc_id") != F.col("f.doc_id")),
        )
        .select(
            F.least(F.col("p.doc_id"), F.col("f.doc_id")).alias("doc_id_a"),
            F.greatest(F.col("p.doc_id"), F.col("f.doc_id")).alias(
                "doc_id_b"
            ),
        )
        .distinct()
        # wide lanes for the broadcast verify probe (see
        # jaccard_pairs_prefix) — AQE would hand it ~1 partition
        .repartition(par, "doc_id_a")
        .localCheckpoint(eager=False)
    )
    if candidate_stats is not None:
        candidate_stats["candidates"] = cand.count()
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("set_size"))
    # r15 (§2.3 — stream fewer rows; same rewrite as jaccard_pairs_prefix):
    # sizes attach to the slim candidate relation FIRST (two broadcast
    # joins over |candidates| rows), each pair explodes its SMALLER set
    # and probes the other — Σ min(|a|,|b|) intermediate rows instead of
    # Σ|a|, identical counts (intersection is symmetric), and the old
    # post-aggregate size joins disappear because the sizes ride along.
    # (no broadcast hint: sizes is per-document — corpus-scale at 100 TB
    # — so the strategy is left to AQE's runtime stats, which broadcast
    # it at bench scale)
    cand_sz = cand.join(
        sizes.select(
            F.col("doc_id").alias("doc_id_a"),
            F.col("set_size").alias("size_a"),
        ),
        "doc_id_a",
    ).join(
        sizes.select(
            F.col("doc_id").alias("doc_id_b"),
            F.col("set_size").alias("size_b"),
        ),
        "doc_id_b",
    )
    probe_is_a = F.col("size_a") <= F.col("size_b")
    cand_sided = cand_sz.select(
        "doc_id_a",
        "doc_id_b",
        "size_a",
        "size_b",
        F.when(probe_is_a, F.col("doc_id_a"))
        .otherwise(F.col("doc_id_b"))
        .alias("__probe_doc"),
        F.when(probe_is_a, F.col("doc_id_b"))
        .otherwise(F.col("doc_id_a"))
        .alias("__other_doc"),
    )
    shp = sh.select(F.col("doc_id").alias("__probe_doc"), "shingle")
    sho = sh.select(F.col("doc_id").alias("__other_doc"), "shingle")
    base = (
        cand_sided.join(shp, "__probe_doc")
        .join(sho, ["__other_doc", "shingle"])
        .groupBy("doc_id_a", "doc_id_b", "size_a", "size_b")
        .agg(F.count("*").alias("inter"))
    )
    c_ab = base.select(
        F.col("doc_id_a").alias("contained_doc"),
        F.col("doc_id_b").alias("container_doc"),
        (F.col("inter").cast("double") / F.col("size_a")).alias(
            "containment"
        ),
    )
    c_ba = base.select(
        F.col("doc_id_b").alias("contained_doc"),
        F.col("doc_id_a").alias("container_doc"),
        (F.col("inter").cast("double") / F.col("size_b")).alias(
            "containment"
        ),
    )
    return c_ab.unionByName(c_ba).filter(
        F.col("containment") >= threshold
    )


CONTAINMENT_PAIRS_SQL = f"""
WITH sh AS ({_shingles_cte(SHINGLE_N)}),
sizes AS (SELECT doc_id, count(*) AS set_size FROM sh GROUP BY doc_id),
inter AS (
    SELECT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b, count(*) AS inter
    FROM sh a JOIN sh b
      ON a.shingle = b.shingle AND a.doc_id < b.doc_id
    GROUP BY a.doc_id, b.doc_id
),
base AS (
    SELECT i.doc_id_a, i.doc_id_b, i.inter,
           sa.set_size AS size_a, sb.set_size AS size_b
    FROM inter i
    JOIN sizes sa ON sa.doc_id = i.doc_id_a
    JOIN sizes sb ON sb.doc_id = i.doc_id_b
),
directed AS (
    SELECT doc_id_a AS contained_doc, doc_id_b AS container_doc,
           inter::DOUBLE / size_a AS containment
    FROM base
    UNION ALL
    SELECT doc_id_b, doc_id_a, inter::DOUBLE / size_b FROM base
)
SELECT contained_doc, container_doc, containment
FROM directed WHERE containment >= {CONTAINMENT_THRESHOLD}
"""


# ---------------------------------------------------------------------------
# Zipf-vocabulary corpus twin (prefix-filter design-regime fixture)
# ---------------------------------------------------------------------------

#: the testdata documents draw from a ~120-word near-uniform-df vocabulary
#: — the AllPairs/PPJoin prefix filter's WORST case (every shingle is
#: equally common, so prefixes prune nothing; VERDICT r7 "What's wrong"
#: item 2). Real corpora are Zipf. This twin redraws every token of the
#: documents table from a ZIPF_VOCAB-word vocabulary with rank-r weight
#: ⌊ZIPF_WEIGHT_K/r⌋ (harmonic ≈ 1/r), deterministically and ENGINE-
#: PORTABLY: token (doc_id, pos) hashes via the _hash_bucket md5 recipe
#: into the cumulative weight table, so Spark and DuckDB synthesize the
#: byte-identical corpus and every downstream pair query stays
#: hash-oracled. Doc lengths (and therefore shingle-set sizes) are
#: preserved from the source corpus.
#: planted near-duplicates: every doc with doc_id % ZIPF_DUP_MOD ==
#: ZIPF_DUP_RES redraws from its BASE doc's (doc_id − ZIPF_DUP_RES)
#: token stream, except positions pos % ZIPF_EDIT_MOD == ZIPF_EDIT_RES,
#: which are salted with the dup's own id — ~3% token edits, so the
#: fixture contains real ≥-threshold Jaccard/containment pairs for the
#: verification stage (an iid redraw would emit zero pairs and bench
#: only candidate generation).
ZIPF_VOCAB = 200
ZIPF_WEIGHT_K = 1000
ZIPF_DUP_MOD = 10
ZIPF_DUP_RES = 7
ZIPF_EDIT_MOD = 29
ZIPF_EDIT_RES = 4
#: corpus fan-out: each source doc seeds ZIPF_FANOUT independent Zipf
#: docs (id = doc_id·F + j). The prefix filter's fixed stages (df
#: aggregate, per-doc window, verification join) only pay off once the
#: naive join's Σdf² dominates — at the stock 5k docs the naive join's
#: ~2M candidates cost less than those stages, so the crossover needs
#: the corpus the filter is FOR. 4× puts Σdf² ≈ 30M at sf0.1 while the
#: prefix candidate count stays ~10³ (measured 639 pre-fan-out).
ZIPF_FANOUT = 4


def _zipf_lookup() -> list:
    """Direct rank-lookup table: entry h of the T-sized table (T =
    Σ⌊K/r⌋ ≈ K·ln V ≈ 6.6k) is the rank whose cumulative-weight slot
    contains h — an O(1) ``element_at`` per token. (The first cut
    counted bounds below h with a higher-order array filter: Catalyst
    interprets those lambdas per element, and 270k tokens × 400 bounds
    = 108M interpreted evals dominated the whole fixture at 10+ s.)
    Pure integer arithmetic, no float CDF to drift between engines."""
    lookup: list[int] = []
    for r in range(1, ZIPF_VOCAB + 1):
        lookup.extend([r] * (ZIPF_WEIGHT_K // r))
    return lookup


def zipf_documents(documents: DataFrame) -> DataFrame:
    """(doc_id, text): the documents table with every token redrawn from
    the Zipf vocabulary (word ``w<r>``), lengths preserved. The rank
    lookup is one O(1) ``element_at`` against a literal lookup table.

    r14 (guide §2.4 — remove shuffles outright): the redraw is a PURE
    PER-DOC function of (doc_id, token_count), so the whole synthesis
    now runs as one narrow projection — token positions come from
    ``transform(sequence(0, n_tokens-1))`` instead of a posexplode, and
    the text reassembles with an in-row ``concat_ws`` instead of the
    explode → groupBy(doc_id) → collect_list → array_sort round trip.
    That removes BOTH shuffles (the ~|tokens| exchange carrying every
    drawn word and the reassembly sort) — at 100 TB the explode shape
    shuffled the entire synthetic corpus once just to put rows back in
    the order they started in. Token-hash math is unchanged
    (md5(key_id:pos) → lookup), so the corpus is byte-identical and the
    DuckDB twin needs no change."""
    lookup = _zipf_lookup()
    total = len(lookup)
    fanned = (
        # per-row work is ZIPF_FANOUT × |tokens| md5 draws — far heavier
        # than a shingle split, so spread at 4× the default density
        _spread(documents, rows_per_task=256)
        .filter(F.col("text").isNotNull())
        .select(
            "doc_id",
            F.explode(
                F.sequence(F.lit(0), F.lit(ZIPF_FANOUT - 1))
            ).alias("j"),
            F.size(F.split("text", " ")).alias("n_toks"),
        )
        .select(
            (F.col("doc_id") * ZIPF_FANOUT + F.col("j")).alias("doc_id"),
            "n_toks",
        )
    )

    def word_at(pos):
        copies_base = (F.col("doc_id") % ZIPF_DUP_MOD == ZIPF_DUP_RES) & (
            pos % ZIPF_EDIT_MOD != ZIPF_EDIT_RES
        )
        key_id = F.when(
            copies_base, F.col("doc_id") - ZIPF_DUP_RES
        ).otherwise(F.col("doc_id"))
        h = (
            F.conv(
                F.substring(F.md5(F.concat_ws(":", key_id, pos)), 1, 15),
                16,
                10,
            ).cast("long")
            % total
        )
        return F.concat(
            F.lit("w"), F.element_at(F.lit(lookup), (h + 1).cast("int"))
        )

    # localCheckpoint: text here is a deep expression tree (concat_ws ∘
    # transform ∘ md5-rank-lookup); left as lineage, downstream shingle
    # lambdas inline it PER SHINGLE — the O(|text|²) collapse
    # _shingle_array documents, one level up (measured:
    # shingles-on-lineage 22 s vs 1 s checkpointed at sf0.1). The corpus
    # twin is |documents|-sized, so the materialization is the cheap
    # side of that trade at any scale.
    return fanned.select(
        "doc_id",
        F.concat_ws(
            " ",
            F.transform(
                F.sequence(F.lit(0), F.col("n_toks") - 1), word_at
            ),
        ).alias("text"),
    ).localCheckpoint(eager=False)


def _zipf_lookup_sql() -> str:
    return "[" + ", ".join(str(r) for r in _zipf_lookup()) + "]"


ZIPF_DOCUMENTS_SQL_BODY = f"""
    SELECT doc_id, string_agg('w' || r, ' ' ORDER BY pos) AS text
    FROM (
        SELECT doc_id, pos,
               list_extract({_zipf_lookup_sql()},
                       1 + ('0x' || substr(md5(
                                  (CASE WHEN doc_id % {ZIPF_DUP_MOD}
                                             = {ZIPF_DUP_RES}
                                         AND pos % {ZIPF_EDIT_MOD}
                                             != {ZIPF_EDIT_RES}
                                        THEN doc_id - {ZIPF_DUP_RES}
                                        ELSE doc_id END)::VARCHAR || ':'
                                  || pos::VARCHAR), 1, 15))::BIGINT
                                  % {len(_zipf_lookup())}) AS r
        FROM (
            SELECT doc_id * {ZIPF_FANOUT} + t.j AS doc_id,
                   unnest(generate_series(
                       0, len(string_split(text, ' ')) - 1)) AS pos
            -- schema-qualified: when this body shadows the view as a
            -- CTE named "documents" (with_zipf_documents), the bare
            -- name would be a circular reference
            FROM main.documents, range(0, {ZIPF_FANOUT}) t(j)
            WHERE text IS NOT NULL
        )
    )
    GROUP BY doc_id
"""

ZIPF_DOCUMENTS_SQL = f"SELECT doc_id, text FROM ({ZIPF_DOCUMENTS_SQL_BODY})"


def with_zipf_documents(sql: str) -> str:
    """Rebind a ``FROM documents`` oracle onto the Zipf corpus twin by
    shadowing the view with a CTE — the SAME pair-query SQL then oracles
    both fixtures."""
    stripped = sql.lstrip()
    assert stripped.startswith("WITH "), "expected a WITH-led oracle"
    return sql.replace(
        "WITH ", f"WITH documents AS ({ZIPF_DOCUMENTS_SQL_BODY}), ", 1
    )


# Documented default skew cap for pipeline (non-oracle) use: the shingle
# join's shuffle cost is Σ df(shingle)², so one stopword-phrase shingle
# appearing in 1M docs alone contributes 10¹² candidate pairs. Shingles
# this frequent carry ~no near-dup signal (they are corpus boilerplate);
# dropping them bounds every shingle group while leaving real duplicate
# pairs intact. Sizes are recomputed after the cap, so Jaccard stays
# internally consistent over the filtered shingle sets.
PIPELINE_MAX_SHINGLE_DF = 10_000


def ngram_jaccard_pairs_pipeline(
    documents: DataFrame,
    n: int = SHINGLE_N,
    threshold: float = JACCARD_THRESHOLD,
    max_shingle_df: int = PIPELINE_MAX_SHINGLE_DF,
) -> DataFrame:
    """Production entry point for exact Jaccard pairs: identical to
    :func:`ngram_jaccard_pairs` but the hot-shingle cap is ON by default —
    at 100 TB an uncapped run is one hot key away from a stuck reducer.
    The bare function keeps the cap off for bit-exact oracle parity."""
    return ngram_jaccard_pairs(
        documents, n=n, threshold=threshold, max_shingle_df=max_shingle_df
    )


def jaccard_pairs_prefix(
    documents: DataFrame,
    n: int = SHINGLE_N,
    threshold: float = JACCARD_THRESHOLD,
    candidate_stats: dict | None = None,
) -> DataFrame:
    """:func:`ngram_jaccard_pairs` with AllPairs/PPJoin-style PREFIX
    FILTERING (Bayardo et al., "Scaling Up All Pairs Similarity Search";
    Xiao et al., PPJoin) — same exact output, different candidate set.

    The exact join's shuffle cost is Σ df(shingle)² over EVERY shingle.
    Prefix filtering orders each doc's shingles by ascending global
    document frequency (rarest first, shingle text as tie-break) and
    keeps only the first ``|x| − ⌈τ·|x|⌉ + 1`` as join keys: any pair
    with Jaccard ≥ τ must share at least one PREFIX shingle under a
    common total order, so joining prefixes loses nothing — but frequent
    (boilerplate) shingles sit at the END of the order and mostly drop
    out of the join. A length filter (τ·|x| ≤ |y|) prunes cross-size
    candidates the threshold already excludes. Survivors are verified
    with an exact intersection count over the FULL shingle sets, so the
    result is bit-identical to the naive join (shared oracle) while the
    candidate volume falls from Σ df² to Σ df_prefix² — at 100 TB this
    is the difference between the join being driven by corpus
    boilerplate and being driven by rare content.

    Pass ``candidate_stats`` to receive {"candidates": k} — the measured
    candidate-pair count (used by the reduction test/bench audit).
    """
    sh = shingles(documents, n).localCheckpoint(eager=False)
    dfreq = sh.groupBy("shingle").agg(F.count("*").alias("df"))

    # position and set size from ONE doc-keyed window pass (row_number and
    # count share the partition, so Catalyst plans a single shuffle+sort —
    # no separate sizes join on this path)
    ranked = sh.join(dfreq, "shingle")
    pos_w = Window.partitionBy("doc_id").orderBy(
        F.col("df").asc(), F.col("shingle").asc()
    )
    size_w = Window.partitionBy("doc_id")
    # round τ·|x| to 9 decimals before ceiling: the float product can
    # land an ulp ABOVE the exact rational (0.07·100 → 7.000000000000001,
    # ceil 8 not 7), silently shortening the prefix and dropping
    # qualifying pairs — which would break the bit-identical-to-naive
    # guarantee. 9 decimals is far below any real τ granularity and far
    # above double error at any feasible set size.
    prefix_len = (
        F.col("set_size")
        - F.ceil(F.round(F.lit(threshold) * F.col("set_size"), 9))
        + F.lit(1)
    )
    par = documents.sparkSession.sparkContext.defaultParallelism
    prefixes = (
        ranked.withColumn("pos", F.row_number().over(pos_w))
        .withColumn("set_size", F.count("*").over(size_w))
        .filter(F.col("pos") <= prefix_len)
        .select("doc_id", "shingle", "set_size")
    )

    a, b = prefixes.alias("a"), prefixes.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.doc_id") < F.col("b.doc_id"))
            # length filter: τ·|x| ≤ |y| in both directions (products
            # rounded like prefix_len — an ulp-high float τ·|x| would
            # falsely exclude the |y| = ⌈τ·|x|⌉ boundary case)
            & (
                F.col("b.set_size")
                >= F.round(F.lit(threshold) * F.col("a.set_size"), 9)
            )
            & (
                F.col("a.set_size")
                >= F.round(F.lit(threshold) * F.col("b.set_size"), 9)
            ),
        )
        .select(
            F.col("a.doc_id").alias("doc_id_a"),
            F.col("b.doc_id").alias("doc_id_b"),
            # set sizes ride along with the pair, so the final Jaccard
            # needs no extra join back to a sizes relation
            F.col("a.set_size").alias("size_a"),
            F.col("b.set_size").alias("size_b"),
        )
        .distinct()
        # the verify probe joins are broadcast (sha/shb build sides), so
        # the probe stage inherits THIS relation's partition count; left
        # to AQE the distinct's output coalesces to ~1 partition and the
        # ×|shingle set| probe fan-out serializes. Slim relation, wide
        # lanes.
        .repartition(par, "doc_id_a")
        .localCheckpoint(eager=False)
    )
    if candidate_stats is not None:
        candidate_stats["candidates"] = cand.count()

    # exact verification over the full sets, restricted to candidates.
    # r15 (§2.3 — stream fewer rows): the intersection is symmetric, so
    # each pair explodes the SMALLER set and probes the other — the
    # verify pipeline's intermediate drops from Σ|set_a| to
    # Σ min(|set_a|, |set_b|) rows (measured 21.1M → ~12M at sf0.1,
    # where the fused probe+aggregate was 1.6 min of task time), while
    # the grouping keys and counts are unchanged.
    probe_is_a = F.col("size_a") <= F.col("size_b")
    cand_sided = cand.select(
        "doc_id_a",
        "doc_id_b",
        "size_a",
        "size_b",
        F.when(probe_is_a, F.col("doc_id_a"))
        .otherwise(F.col("doc_id_b"))
        .alias("__probe_doc"),
        F.when(probe_is_a, F.col("doc_id_b"))
        .otherwise(F.col("doc_id_a"))
        .alias("__other_doc"),
    )
    shp = sh.select(F.col("doc_id").alias("__probe_doc"), "shingle")
    sho = sh.select(F.col("doc_id").alias("__other_doc"), "shingle")
    inter = (
        cand_sided.join(shp, "__probe_doc")
        # composite-key equi-join: Catalyst hashes on (doc, shingle),
        # so the probe cost is Σ|candidate sets|, never a per-pair scan
        .join(sho, ["__other_doc", "shingle"])
        .groupBy("doc_id_a", "doc_id_b", "size_a", "size_b")
        .agg(F.count("*").alias("inter"))
    )
    jaccard = F.col("inter").cast("double") / (
        F.col("size_a") + F.col("size_b") - F.col("inter")
    )
    return inter.select(
        "doc_id_a", "doc_id_b", jaccard.alias("jaccard")
    ).filter(F.col("jaccard") >= threshold)


NGRAM_JACCARD_SQL = f"""
WITH sh AS ({_shingles_cte()}),
sizes AS (SELECT doc_id, count(*) AS set_size FROM sh GROUP BY doc_id),
inter AS (
    SELECT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b, count(*) AS inter
    FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
    GROUP BY 1, 2
)
SELECT doc_id_a, doc_id_b,
       inter::DOUBLE / (sa.set_size + sb.set_size - inter) AS jaccard
FROM inter
JOIN sizes sa ON sa.doc_id = doc_id_a
JOIN sizes sb ON sb.doc_id = doc_id_b
WHERE inter::DOUBLE / (sa.set_size + sb.set_size - inter) >= {JACCARD_THRESHOLD}
"""


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------

def minhash_signatures(
    documents: DataFrame,
    k: int = MINHASH_K,
    shingle_frame: DataFrame | None = None,
) -> DataFrame:
    """k-permutation MinHash signature per doc. Hash family = md5 seeded by
    the row index; min over hex strings ≡ min over the 128-bit value.

    ``shingle_frame`` lets a caller pass an already-materialized
    (doc_id, shingle) relation (see :func:`minhash_dedup_pairs`) — the
    hash family lives HERE only, so the banded join can never drift from
    the signatures the oracle checks."""
    sh = shingle_frame if shingle_frame is not None else shingles(documents)
    aggs = [
        F.min(F.md5(F.concat_ws("|", F.lit(str(j)), F.col("shingle")))).alias(
            f"h{j}"
        )
        for j in range(k)
    ]
    return sh.groupBy("doc_id").agg(*aggs)


def _minhash_sig_cte(k: int = MINHASH_K) -> str:
    cols = ",\n           ".join(
        f"min(md5(concat_ws('|', '{j}', shingle))) AS h{j}" for j in range(k)
    )
    return f"SELECT doc_id,\n           {cols}\n    FROM sh GROUP BY doc_id"


MINHASH_SIGNATURES_SQL = f"""
WITH sh AS ({_shingles_cte()})
{_minhash_sig_cte()}
"""


def _banded_candidates(
    sigs: DataFrame, k: int, bands: int
) -> DataFrame:
    """The banded-LSH candidate pairs (doc_id_a < doc_id_b) of a MinHash
    signature frame — THE one definition of the deployed banding, shared
    by :func:`minhash_dedup_pairs` (production) and
    :func:`minhash_blocking_audit` (its recall/reduction meter), so the
    audit can never drift into measuring a different blocking than the
    one production runs."""
    r = k // bands
    band_structs = [
        F.struct(
            F.lit(b).alias("band"),
            F.md5(
                F.concat_ws("|", *[F.col(f"h{b * r + i}") for i in range(r)])
            ).alias("band_hash"),
        )
        for b in range(bands)
    ]
    buckets = sigs.select(
        "doc_id", F.explode(F.array(*band_structs)).alias("bb")
    ).select("doc_id", "bb.band", "bb.band_hash")
    x, y = buckets.alias("x"), buckets.alias("y")
    return (
        x.join(
            y,
            (F.col("x.band") == F.col("y.band"))
            & (F.col("x.band_hash") == F.col("y.band_hash"))
            & (F.col("x.doc_id") < F.col("y.doc_id")),
        )
        .select(
            F.col("x.doc_id").alias("doc_id_a"),
            F.col("y.doc_id").alias("doc_id_b"),
        )
        .distinct()
    )


def _band_selects_sql(k: int, bands: int) -> str:
    """The SQL twin of :func:`_banded_candidates`'s band explosion —
    one generator for both the dedup and audit oracles."""
    r = k // bands
    return "\n    UNION ALL\n".join(
        f"    SELECT doc_id, {b} AS band, md5(concat_ws('|', "
        + ", ".join(f"h{b * r + i}" for i in range(r))
        + ")) AS band_hash FROM sigs"
        for b in range(bands)
    )


def minhash_dedup_pairs(
    documents: DataFrame,
    k: int = MINHASH_K,
    bands: int = MINHASH_BANDS,
    threshold: float = JACCARD_THRESHOLD,
) -> DataFrame:
    """LSH near-dup pairs: band the MinHash signature, bucket-join on
    (band, band_hash), then verify candidates with the exact shingle
    Jaccard. Only candidate pairs (≈ docs sharing a band) pay the
    verification join — the 100 TB path."""
    # One materialized shingle stream feeds everything downstream (the
    # signature aggregate, the per-doc sizes, and BOTH sides of the
    # verification join) — without it the explode+split plan runs 4×.
    sh = shingles(documents).localCheckpoint(eager=False)
    sigs = minhash_signatures(documents, k, shingle_frame=sh)
    candidates = _banded_candidates(sigs, k, bands)
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("set_size"))
    inter = (
        candidates.join(sh.alias("sa"), F.col("doc_id_a") == F.col("sa.doc_id"))
        .join(
            sh.alias("sb"),
            (F.col("doc_id_b") == F.col("sb.doc_id"))
            & (F.col("sa.shingle") == F.col("sb.shingle")),
        )
        .groupBy("doc_id_a", "doc_id_b")
        .agg(F.count("*").alias("inter"))
    )
    sa = sizes.select(
        F.col("doc_id").alias("doc_id_a"), F.col("set_size").alias("size_a")
    )
    sb = sizes.select(
        F.col("doc_id").alias("doc_id_b"), F.col("set_size").alias("size_b")
    )
    jaccard = F.col("inter").cast("double") / (
        F.col("size_a") + F.col("size_b") - F.col("inter")
    )
    return (
        inter.join(sa, "doc_id_a")
        .join(sb, "doc_id_b")
        .select("doc_id_a", "doc_id_b", jaccard.alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


def _minhash_dedup_sql(
    k: int = MINHASH_K, bands: int = MINHASH_BANDS, threshold: float = JACCARD_THRESHOLD
) -> str:
    band_selects = _band_selects_sql(k, bands)
    return f"""
WITH sh AS ({_shingles_cte()}),
sigs AS ({_minhash_sig_cte(k)}),
buckets AS (
{band_selects}
),
candidates AS (
    SELECT DISTINCT x.doc_id AS doc_id_a, y.doc_id AS doc_id_b
    FROM buckets x JOIN buckets y
      ON x.band = y.band AND x.band_hash = y.band_hash AND x.doc_id < y.doc_id
),
sizes AS (SELECT doc_id, count(*) AS set_size FROM sh GROUP BY doc_id),
inter AS (
    SELECT c.doc_id_a, c.doc_id_b, count(*) AS inter
    FROM candidates c
    JOIN sh sa ON sa.doc_id = c.doc_id_a
    JOIN sh sb ON sb.doc_id = c.doc_id_b AND sb.shingle = sa.shingle
    GROUP BY 1, 2
)
SELECT doc_id_a, doc_id_b,
       inter::DOUBLE / (sa.set_size + sb.set_size - inter) AS jaccard
FROM inter
JOIN sizes sa ON sa.doc_id = doc_id_a
JOIN sizes sb ON sb.doc_id = doc_id_b
WHERE inter::DOUBLE / (sa.set_size + sb.set_size - inter) >= {threshold}
"""


MINHASH_DEDUP_SQL = _minhash_dedup_sql()


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------

def simhash_fingerprints(documents: DataFrame, bits: int = SIMHASH_BITS) -> DataFrame:
    """60-bit SimHash over distinct whitespace tokens: per bit, sum +1/-1
    across token hashes (md5 → 60-bit int), bit set iff sum > 0."""
    toks = _spread(documents).select(
        "doc_id",
        F.explode(F.array_distinct(F.split(F.col("text"), " "))).alias("tok"),
    ).withColumn(
        "th", F.conv(F.substring(F.md5("tok"), 1, 15), 16, 10).cast("long")
    )
    bit_aggs = [
        F.sum(
            F.when(F.shiftright(F.col("th"), b).bitwiseAND(F.lit(1)) == 1, 1)
            .otherwise(-1)
        ).alias(f"s{b}")
        for b in range(bits)
    ]
    sums = toks.groupBy("doc_id").agg(*bit_aggs)
    sig: Column = F.lit(0).cast("long")
    for b in range(bits):
        sig = sig + F.when(F.col(f"s{b}") > 0, F.lit(1 << b)).otherwise(F.lit(0))
    return sums.select("doc_id", sig.alias("simhash"))


def _simhash_sql(bits: int = SIMHASH_BITS) -> str:
    bit_sums = ",\n           ".join(
        f"SUM(CASE WHEN (th >> {b}) & 1 = 1 THEN 1 ELSE -1 END) AS s{b}"
        for b in range(bits)
    )
    sig = " + ".join(
        f"(CASE WHEN s{b} > 0 THEN {1 << b} ELSE 0 END)" for b in range(bits)
    )
    return f"""
WITH toks AS (
    SELECT doc_id,
           ('0x' || substr(md5(tok), 1, 15))::BIGINT AS th
    FROM (SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS tok
          FROM documents)
),
sums AS (
    SELECT doc_id,
           {bit_sums}
    FROM toks GROUP BY doc_id
)
SELECT doc_id, ({sig})::BIGINT AS simhash FROM sums
"""


SIMHASH_SQL = _simhash_sql()


def simhash_near_dups(
    documents: DataFrame,
    max_hamming: int = SIMHASH_MAX_HAMMING,
    band_bits: int = SIMHASH_BAND_BITS,
    bits: int = SIMHASH_BITS,
) -> DataFrame:
    """Near-dup pairs by SimHash Hamming distance, LSH-bucketed on
    ``bits/band_bits`` bit-bands (a pair within ``max_hamming`` ≤ bands-1
    bit flips must collide on ≥1 band), verified with bit_count(xor)."""
    # The banded self-join is a diamond: without materialization each join
    # side recomputes the 60-aggregate fingerprint plan (no ReusedExchange
    # across a self-join's broadcast+stream sides). A lazy localCheckpoint
    # computes the tiny (doc_id, simhash) table once and both sides read it
    # — ~2× on the whole query, and the materialized set is one row per doc.
    sigs = simhash_fingerprints(documents, bits).localCheckpoint(eager=False)
    n_bands = bits // band_bits
    mask = (1 << band_bits) - 1
    band_structs = [
        F.struct(
            F.lit(b).alias("band"),
            F.shiftright(F.col("simhash"), b * band_bits)
            .bitwiseAND(F.lit(mask))
            .alias("band_val"),
        )
        for b in range(n_bands)
    ]
    buckets = sigs.select(
        "doc_id", "simhash", F.explode(F.array(*band_structs)).alias("bb")
    ).select("doc_id", "simhash", "bb.band", "bb.band_val")
    x, y = buckets.alias("x"), buckets.alias("y")
    hamming = F.bit_count(
        F.col("x.simhash").bitwiseXOR(F.col("y.simhash"))
    )
    return (
        x.join(
            y,
            (F.col("x.band") == F.col("y.band"))
            & (F.col("x.band_val") == F.col("y.band_val"))
            & (F.col("x.doc_id") < F.col("y.doc_id")),
        )
        .select(
            F.col("x.doc_id").alias("doc_id_a"),
            F.col("y.doc_id").alias("doc_id_b"),
            hamming.cast("long").alias("hamming"),
        )
        # filter before distinct: the Hamming cut discards most candidate
        # rows, so the dedup shuffle only carries survivors
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )


def _simhash_near_dups_sql(
    max_hamming: int = SIMHASH_MAX_HAMMING,
    band_bits: int = SIMHASH_BAND_BITS,
    bits: int = SIMHASH_BITS,
) -> str:
    n_bands = bits // band_bits
    mask = (1 << band_bits) - 1
    band_selects = "\n    UNION ALL\n".join(
        f"    SELECT doc_id, simhash, {b} AS band,"
        f" (simhash >> {b * band_bits}) & {mask} AS band_val FROM sigs"
        for b in range(n_bands)
    )
    return f"""
WITH sigs AS ({_simhash_sql(bits)}),
buckets AS (
{band_selects}
)
SELECT DISTINCT x.doc_id AS doc_id_a, y.doc_id AS doc_id_b,
       bit_count(xor(x.simhash, y.simhash))::BIGINT AS hamming
FROM buckets x JOIN buckets y
  ON x.band = y.band AND x.band_val = y.band_val AND x.doc_id < y.doc_id
WHERE bit_count(xor(x.simhash, y.simhash)) <= {max_hamming}
"""


SIMHASH_NEAR_DUPS_SQL = _simhash_near_dups_sql()


# ---------------------------------------------------------------------------
# deterministic stratified sampling (per-stratum downsampling for curation)
# ---------------------------------------------------------------------------

STRATA_FRACTIONS = (
    ("click", 0.5),
    ("error", 1.0),
    ("purchase", 1.0),
    ("signup", 0.1),
    ("view", 0.25),
)


def stratified_sample(
    events: DataFrame,
    fractions: tuple[tuple[str, float], ...] = STRATA_FRACTIONS,
) -> DataFrame:
    """Deterministic per-stratum sampling: keep a fixed fraction of each
    event_type, selected by key hash (the :func:`_hash_bucket` scheme
    shared with :func:`dataset_split`) — rerunning, re-partitioning, or
    appending rows never changes which existing rows are kept, the
    reproducibility ``DataFrame.sample`` cannot give. Strata absent from
    ``fractions`` are dropped (lookup misses filter out as null). One
    narrow filter on the scan, no shuffle.

    Fractions are honored to 4 decimal places; the threshold is ROUNDED
    (not truncated) on both engines so a float like 0.57*10000 =
    5699.999… maps to 5700 in Spark and the oracle alike."""
    bucket = _hash_bucket("event_id", 10_000)
    frac_map = F.create_map(
        *[F.lit(x) for name_frac in fractions for x in name_frac]
    )
    threshold = F.round(frac_map[F.col("event_type")] * 10_000, 0).cast("long")
    return (
        events.withColumn("sample_bucket", bucket)
        .filter(F.col("sample_bucket") < threshold)
        .select("event_id", "event_type", "sample_bucket")
    )


_STRATA_CASE = "\n           ".join(
    f"WHEN '{name}' THEN {int(round(frac * 10_000))}"
    for name, frac in STRATA_FRACTIONS
)

STRATIFIED_SAMPLE_SQL = f"""
WITH b AS (
    SELECT event_id, event_type,
           ('0x' || substr(md5(event_id::VARCHAR), 1, 15))::BIGINT % 10000
               AS sample_bucket
    FROM events
)
SELECT event_id, event_type, sample_bucket
FROM b
WHERE sample_bucket < CASE event_type
           {_STRATA_CASE}
           ELSE -1 END
"""


# ---------------------------------------------------------------------------
# weighted sampling + source rebalancing (training-data mixture tools)
# ---------------------------------------------------------------------------

WEIGHTED_SAMPLE_N = 100
#: 2^60 — the md5-derived 60-bit hash mapped into (0, 1]; an exact power
#: of two, so the division is the same double on every engine.
_U_DENOM = float(1 << 60)

#: Target mixture shares (exact binary fractions → the share × budget
#: products are the same doubles everywhere). Sources not listed are
#: dropped — rebalancing is also a source filter.
REBALANCE_TARGETS = (("src0", 0.5), ("src1", 0.25), ("src2", 0.25))


def weighted_sample(
    documents: DataFrame, n: int = WEIGHTED_SAMPLE_N
) -> DataFrame:
    """Weighted sampling without replacement, deterministic (Efraimidis–
    Spirakis A-ES): each doc draws u = md5-uniform ∈ (0,1], gets key =
    u^(1/weight), and the top-n keys win — inclusion probability is
    proportional to weight (here ``n_chars``: longer docs more likely),
    yet reruns, repartitions, and appends never reshuffle existing draws.

    One narrow scan computes the keys; the top-n is orderBy+limit
    (TakeOrderedAndProject partial top-k) — no global sort, no RNG state.
    """
    u = (
        _hash_bucket("doc_id", 1 << 60) + 1
    ).cast("double") / F.lit(_U_DENOM)
    key = F.pow(u, F.lit(1.0) / F.col("n_chars"))
    keyed = documents.select(
        "doc_id", "source", "n_chars", key.alias("sample_key")
    )
    top = keyed.orderBy(
        F.col("sample_key").desc(), F.col("doc_id").asc()
    ).limit(n)
    return rank_post_limit(
        top, "sample_rank", F.col("sample_key").desc(), F.col("doc_id").asc()
    ).select("doc_id", "source", "n_chars", "sample_rank")


WEIGHTED_SAMPLE_SQL = f"""
WITH keyed AS (
    SELECT doc_id, source, n_chars,
           pow(
               ((('0x' || substr(md5(doc_id::VARCHAR), 1, 15))::BIGINT
                 % {1 << 60}) + 1)::DOUBLE / {_U_DENOM!r},
               1.0 / n_chars
           ) AS sample_key
    FROM documents
)
SELECT doc_id, source, n_chars,
       row_number() OVER (ORDER BY sample_key DESC, doc_id ASC) AS sample_rank
FROM keyed
ORDER BY sample_key DESC, doc_id ASC
LIMIT {WEIGHTED_SAMPLE_N}
"""


def rebalance_sources(
    documents: DataFrame,
    targets: tuple[tuple[str, float], ...] = REBALANCE_TARGETS,
) -> DataFrame:
    """Downsample sources to a target mixture (the pre-training data-mix
    step): budget T = min over sources of count/share (the largest total
    for which every share is satisfiable without upsampling), then each
    source keeps its floor(share·T) lowest-md5 docs.

    EXACT quotas need each source's total md5 order, but NOT a single
    full-width sort per source: the md5 key is range-bucketed by its
    2-hex-char prefix (256 contiguous key ranges), ranks are computed
    per (source, bucket) — sources × 256 parallel sorts of n/256 rows —
    and the global rank is bucket offset + local rank, with offsets from
    a tiny (sources × 256)-row cumulative count broadcast back. Buckets
    whose offset already exceeds the quota are pruned BEFORE the sort,
    so only ~quota rows per source are ever ordered. Same output, same
    oracle as the round-2 per-source-window form it replaced.

    Unlisted sources drop out in the broadcast join. For fully
    shuffle-less approximate quotas see
    :func:`rebalance_sources_fractional`.
    """
    key = F.md5(F.col("doc_id").cast("string"))
    tagged = documents.join(
        F.broadcast(
            documents.sparkSession.createDataFrame(
                list(targets), "source string, share double"
            )
        ),
        "source",
    ).withColumn("__b", F.substring(key, 1, 2))
    # ONE metadata aggregate feeds everything: per-(source, bucket) counts
    # roll up to per-source counts (budget/quota) and prefix-sum to bucket
    # offsets. Tiny (≤ sources × 256 rows) but consumed three ways —
    # materialize once or the document scan behind it reruns.
    bcounts = (
        tagged.groupBy("source", "share", "__b")
        .agg(F.count("*").alias("bc"))
        .localCheckpoint(eager=False)
    )
    counts = bcounts.groupBy("source", "share").agg(
        F.sum("bc").alias("src_count")
    )
    budget = counts.agg(
        F.min(F.col("src_count").cast("double") / F.col("share")).alias("t")
    )
    quotas = counts.crossJoin(F.broadcast(budget)).select(
        "source",
        F.floor(F.col("share") * F.col("t")).cast("long").alias("quota"),
    )
    # cumulative rows before each bucket in md5-prefix order (the window
    # runs over ≤ 256 rows per source — metadata, not data)
    w_off = (
        Window.partitionBy("source")
        .orderBy("__b")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = (
        bcounts.withColumn("off", F.coalesce(F.sum("bc").over(w_off), F.lit(0)))
        .join(quotas, "source")
        .select("source", "__b", "off", "quota")
    )
    w = Window.partitionBy("source", "__b").orderBy(key, F.col("doc_id"))
    return (
        tagged.join(F.broadcast(offsets), ["source", "__b"])
        # bucket-level pruning: a bucket starting at or past the quota
        # cannot contribute — drop it before paying its sort
        .filter(F.col("off") < F.col("quota"))
        .withColumn(
            "src_rank",
            (F.col("off") + F.row_number().over(w)).cast("long"),
        )
        .filter(F.col("src_rank") <= F.col("quota"))
        .select("doc_id", "source", "src_rank", "quota")
    )


REBALANCE_SOURCES_SQL = f"""
WITH shares(source, share) AS (
    VALUES {", ".join(f"('{n}', {s!r})" for n, s in REBALANCE_TARGETS)}
),
counts AS (
    SELECT d.source, s.share, COUNT(*) AS src_count
    FROM documents d JOIN shares s ON d.source = s.source
    GROUP BY d.source, s.share
),
budget AS (
    SELECT MIN(src_count::DOUBLE / share) AS t FROM counts
),
quotas AS (
    SELECT source, CAST(floor(share * t) AS BIGINT) AS quota
    FROM counts, budget
),
ranked AS (
    SELECT d.doc_id, d.source, q.quota,
           row_number() OVER (PARTITION BY d.source
                              ORDER BY md5(d.doc_id::VARCHAR), d.doc_id)
               AS src_rank
    FROM documents d JOIN quotas q ON d.source = q.source
)
SELECT doc_id, source, src_rank, quota
FROM ranked WHERE src_rank <= quota
"""


def chunk_dedup(documents: DataFrame) -> DataFrame:
    """Chunk-level exact dedup: chunk the corpus (overlapping token
    windows), then hash-groupBy the chunk text — the dedup granularity
    that catches pages sharing boilerplate paragraphs whole-document
    hashing misses. Canonical = lexicographically-first (doc_id,
    chunk_id); provenance survives for the pack stage."""
    from music_streaming_etl_glue_spark.operators.text import chunk_documents

    chunks = chunk_documents(documents)
    return chunks.groupBy(F.md5("chunk_text").alias("chunk_hash")).agg(
        F.min(F.struct("doc_id", "chunk_id")).alias("c"),
        F.count("*").alias("dup_count"),
    ).select(
        "chunk_hash",
        F.col("c.doc_id").alias("canonical_doc_id"),
        F.col("c.chunk_id").alias("canonical_chunk_id"),
        "dup_count",
    )


def _chunk_dedup_sql() -> str:
    from music_streaming_etl_glue_spark.operators.text import (
        CHUNK_DOCUMENTS_SQL,
    )

    return f"""
WITH chunks AS ({CHUNK_DOCUMENTS_SQL}),
keyed AS (
    SELECT md5(chunk_text) AS chunk_hash, doc_id, chunk_id FROM chunks
),
ranked AS (
    SELECT chunk_hash, doc_id, chunk_id,
           row_number() OVER (PARTITION BY chunk_hash
                              ORDER BY doc_id, chunk_id) AS rn,
           COUNT(*) OVER (PARTITION BY chunk_hash) AS dup_count
    FROM keyed
)
SELECT chunk_hash, doc_id AS canonical_doc_id,
       chunk_id AS canonical_chunk_id, dup_count
FROM ranked WHERE rn = 1
"""


CHUNK_DEDUP_SQL = _chunk_dedup_sql()


# ---------------------------------------------------------------------------
# fuzzy dedup: LSH candidates verified by relative edit distance
# ---------------------------------------------------------------------------

EDIT_DISTANCE_MAX_REL = 0.2


def fuzzy_dedup_pairs(
    documents: DataFrame,
    max_rel_distance: float = EDIT_DISTANCE_MAX_REL,
) -> DataFrame:
    """Character-level near-dup pairs: MinHash-LSH candidate generation,
    verified by RELATIVE Levenshtein distance (edit distance / longer
    length ≤ threshold) instead of shingle Jaccard — the verifier to use
    when small in-place edits matter more than token overlap (typo-level
    duplicates, template fills).

    Only the bucketed candidates pay the O(len²) edit-distance kernel,
    and the distance itself is an exact integer — portable across
    engines with no rounding discipline needed. The text join-back is two
    broadcast-friendly key lookups against the candidate set (tiny next
    to the corpus)."""
    pairs = minhash_dedup_pairs(documents, threshold=0.0).select(
        "doc_id_a", "doc_id_b"
    )
    docs = documents.select("doc_id", "text")
    a = docs.select(
        F.col("doc_id").alias("doc_id_a"), F.col("text").alias("text_a")
    )
    b = docs.select(
        F.col("doc_id").alias("doc_id_b"), F.col("text").alias("text_b")
    )
    dist = F.levenshtein("text_a", "text_b")
    longer = F.greatest(F.length("text_a"), F.length("text_b"))
    return (
        pairs.join(a, "doc_id_a")
        .join(b, "doc_id_b")
        .select(
            "doc_id_a",
            "doc_id_b",
            dist.cast("long").alias("edit_distance"),
            longer.cast("long").alias("longer_len"),
        )
        .filter(
            F.col("edit_distance")
            <= F.lit(max_rel_distance) * F.col("longer_len")
        )
    )


def _fuzzy_dedup_sql(max_rel: float = EDIT_DISTANCE_MAX_REL) -> str:
    candidates = _minhash_dedup_sql(threshold=0.0)
    return f"""
WITH pairs AS ({candidates})
SELECT p.doc_id_a, p.doc_id_b,
       levenshtein(da.text, db.text)::BIGINT AS edit_distance,
       GREATEST(length(da.text), length(db.text))::BIGINT AS longer_len
FROM pairs p
JOIN documents da ON da.doc_id = p.doc_id_a
JOIN documents db ON db.doc_id = p.doc_id_b
WHERE levenshtein(da.text, db.text)
      <= {max_rel!r} * GREATEST(length(da.text), length(db.text))
"""


FUZZY_DEDUP_SQL = _fuzzy_dedup_sql()


def rebalance_sources_fractional(
    documents: DataFrame,
    targets: tuple[tuple[str, float], ...] = REBALANCE_TARGETS,
) -> DataFrame:
    """The 100 TB form of :func:`rebalance_sources`: same budget math,
    but each source keeps docs whose md5 bucket falls under its keep
    FRACTION (quota/count) instead of its exact rank — a narrow per-row
    filter after a broadcast join, no per-source total order, no hot
    task. Kept counts land within hash-uniformity noise of the quota;
    membership is deterministic and append-stable like every hash
    selection here."""
    counts = (
        documents.join(
            F.broadcast(
                documents.sparkSession.createDataFrame(
                    list(targets), "source string, share double"
                )
            ),
            "source",
        )
        .groupBy("source", "share")
        .agg(F.count("*").alias("src_count"))
        .localCheckpoint(eager=False)
    )
    budget = counts.agg(
        F.min(F.col("src_count").cast("double") / F.col("share")).alias("t")
    )
    thresholds = F.broadcast(
        counts.crossJoin(F.broadcast(budget)).select(
            "source",
            F.round(
                F.col("share") * F.col("t")
                / F.col("src_count") * 10_000,
                0,
            ).cast("long").alias("keep_threshold"),
        )
    )
    bucket = _hash_bucket("doc_id", 10_000)
    return (
        documents.join(thresholds, "source")
        .withColumn("sample_bucket", bucket)
        .filter(F.col("sample_bucket") < F.col("keep_threshold"))
        .select("doc_id", "source", "sample_bucket", "keep_threshold")
    )


REBALANCE_FRACTIONAL_SQL = f"""
WITH shares(source, share) AS (
    VALUES {", ".join(f"('{n}', {s!r})" for n, s in REBALANCE_TARGETS)}
),
counts AS (
    SELECT d.source, s.share, COUNT(*) AS src_count
    FROM documents d JOIN shares s ON d.source = s.source
    GROUP BY d.source, s.share
),
budget AS (
    SELECT MIN(src_count::DOUBLE / share) AS t FROM counts
),
thresholds AS (
    SELECT source,
           CAST(round(share * t / src_count * 10000, 0) AS BIGINT)
               AS keep_threshold
    FROM counts, budget
)
SELECT d.doc_id, d.source,
       ('0x' || substr(md5(d.doc_id::VARCHAR), 1, 15))::BIGINT % 10000
           AS sample_bucket,
       th.keep_threshold
FROM documents d JOIN thresholds th ON d.source = th.source
WHERE ('0x' || substr(md5(d.doc_id::VARCHAR), 1, 15))::BIGINT % 10000
      < th.keep_threshold
"""


def dedup_funnel(documents: DataFrame) -> DataFrame:
    """The dedup ladder as one auditable funnel: surviving-document
    count per rung (input → exact → normalized → near-dup clusters),
    each rung re-derived from its individually-oracled operator.
    Monotone by construction — every rung only merges groups — so the
    funnel doubles as a ladder-coherence check the driver stamps in one
    row set. Four scalar aggregates unioned; the document scan backs
    all of them and nothing else shuffles."""
    from music_streaming_etl_glue_spark.operators.clusters import (
        dedup_clusters,
    )

    def one(order: int, stage: str, df: DataFrame) -> DataFrame:
        return df.agg(
            F.lit(order).cast("long").alias("stage_order"),
            F.lit(stage).alias("stage"),
            F.count("*").cast("long").alias("n_surviving"),
        )

    rungs = [
        one(0, "input", documents),
        one(1, "exact", dedup_exact(documents)),
        one(2, "normalized", dedup_normalized(documents)),
        one(
            3,
            "near_dup_clusters",
            dedup_clusters(documents)
            .select("cluster_id")
            .distinct(),
        ),
    ]
    out = rungs[0]
    for r in rungs[1:]:
        out = out.unionByName(r)
    return out


DEDUP_FUNNEL_SQL = f"""
SELECT 0::BIGINT AS stage_order, 'input' AS stage,
       COUNT(*)::BIGINT AS n_surviving FROM documents
UNION ALL
SELECT 1, 'exact', COUNT(*)::BIGINT FROM ({DEDUP_EXACT_SQL})
UNION ALL
SELECT 2, 'normalized', COUNT(*)::BIGINT FROM ({DEDUP_NORMALIZED_SQL})
UNION ALL
SELECT 3, 'near_dup_clusters', COUNT(DISTINCT cluster_id)::BIGINT
FROM ({{DEDUP_CLUSTERS_SQL}})
"""


# ---------------------------------------------------------------------------
# incremental dedup: new batch against the already-ingested corpus
# ---------------------------------------------------------------------------

INCREMENTAL_CORPUS_MOD = 5  # doc_id % mod == 0 -> "already ingested"


def _incremental_flags(
    documents: DataFrame,
    k: int = MINHASH_K,
    bands: int = MINHASH_BANDS,
    threshold: float = JACCARD_THRESHOLD,
) -> DataFrame:
    """Append-only ingestion dedup: flag each NEW document against the
    EXISTING corpus — exact (md5 of text seen before) and near
    (MinHash-band collision with a corpus doc, verified by exact shingle
    Jaccard ≥ threshold). ``keep`` is the admit decision. Kernel form:
    ``documents`` carries a boolean ``__corpus`` tag and UNIQUE doc_ids;
    the public wrappers (:func:`dedup_incremental`,
    :func:`dedup_against_corpus`) provide the tagging.

    This is the ASYMMETRIC form of :func:`minhash_dedup_pairs`: the
    bucket join is batch-side × corpus-side only, so no batch-batch or
    corpus-corpus candidates are ever generated — at 100 TB the corpus
    side of the join is the persisted (band, band_hash, doc_id) index
    maintained across ingests (plus the md5 fingerprint index for the
    exact rung), and each ingest touches only its own buckets. The
    streaming twin of the same contract is
    ``dropDuplicatesWithinWatermark`` in streaming/file_pipeline."""
    is_corpus = F.col("__corpus")
    sh = shingles(documents).localCheckpoint(eager=False)
    sigs = minhash_signatures(documents, k, shingle_frame=sh)
    r = k // bands
    band_structs = [
        F.struct(
            F.lit(b).alias("band"),
            F.md5(
                F.concat_ws("|", *[F.col(f"h{b * r + i}") for i in range(r)])
            ).alias("band_hash"),
        )
        for b in range(bands)
    ]
    buckets = sigs.select(
        "doc_id", F.explode(F.array(*band_structs)).alias("bb")
    ).select("doc_id", "bb.band", "bb.band_hash")
    tags = documents.select("doc_id", is_corpus.alias("__c"))
    buckets = buckets.join(tags, "doc_id")
    bx = buckets.filter(~F.col("__c")).alias("x")
    by = buckets.filter(F.col("__c")).alias("y")
    candidates = (
        bx.join(
            by,
            (F.col("x.band") == F.col("y.band"))
            & (F.col("x.band_hash") == F.col("y.band_hash")),
        )
        .select(
            F.col("x.doc_id").alias("new_doc"),
            F.col("y.doc_id").alias("corpus_doc"),
        )
        .distinct()
    )
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("set_size"))
    inter = (
        candidates.join(sh.alias("sa"), F.col("new_doc") == F.col("sa.doc_id"))
        .join(
            sh.alias("sb"),
            (F.col("corpus_doc") == F.col("sb.doc_id"))
            & (F.col("sa.shingle") == F.col("sb.shingle")),
        )
        .groupBy("new_doc", "corpus_doc")
        .agg(F.count("*").alias("inter"))
    )
    jaccard = F.col("inter").cast("double") / (
        F.col("size_a") + F.col("size_b") - F.col("inter")
    )
    near = (
        inter.join(
            sizes.select(
                F.col("doc_id").alias("new_doc"),
                F.col("set_size").alias("size_a"),
            ),
            "new_doc",
        )
        .join(
            sizes.select(
                F.col("doc_id").alias("corpus_doc"),
                F.col("set_size").alias("size_b"),
            ),
            "corpus_doc",
        )
        .filter(jaccard >= threshold)
        .select("new_doc")
        .distinct()
        .withColumn("near_dup", F.lit(True))
    )
    corpus_hashes = (
        documents.filter(is_corpus)
        .select(F.md5("text").alias("text_hash"))
        .distinct()
        .withColumn("exact_dup", F.lit(True))
    )
    batch = documents.filter(~is_corpus).withColumn(
        "text_hash", F.md5("text")
    )
    return (
        batch.join(corpus_hashes, "text_hash", "left")
        .join(near, batch["doc_id"] == near["new_doc"], "left")
        .select(
            "doc_id",
            F.coalesce("exact_dup", F.lit(False)).alias("exact_dup"),
            F.coalesce("near_dup", F.lit(False)).alias("near_dup"),
            (
                F.coalesce("exact_dup", F.lit(False))
                | F.coalesce("near_dup", F.lit(False))
            ).alias("dup"),
        )
        .select(
            "doc_id",
            "exact_dup",
            "near_dup",
            (~F.col("dup")).alias("keep"),
        )
    )


def dedup_incremental(
    documents: DataFrame,
    corpus_mod: int = INCREMENTAL_CORPUS_MOD,
    k: int = MINHASH_K,
    bands: int = MINHASH_BANDS,
    threshold: float = JACCARD_THRESHOLD,
) -> DataFrame:
    """Catalog form of the asymmetric ingest dedup: the deterministic
    testdata split (doc_id % corpus_mod == 0 plays the already-ingested
    corpus) feeds :func:`_incremental_flags`. Production callers with
    two real relations use :func:`dedup_against_corpus`."""
    tagged = documents.withColumn(
        "__corpus", (F.col("doc_id") % corpus_mod) == 0
    )
    return _incremental_flags(tagged, k, bands, threshold)


def dedup_against_corpus(
    batch: DataFrame,
    corpus: DataFrame,
    k: int = MINHASH_K,
    bands: int = MINHASH_BANDS,
    threshold: float = JACCARD_THRESHOLD,
) -> DataFrame:
    """Two-relation form: flag each ``batch`` doc against ``corpus``
    (exact md5 + banded-MinHash near rungs, batch×corpus candidates
    only). doc_ids may overlap between the relations (a changed doc
    keeps its id across snapshots): batch ids are offset into a disjoint
    uid space for the kernel and mapped back on output."""
    offset = (
        corpus.agg(F.coalesce(F.max("doc_id"), F.lit(0)).alias("m"))
        .collect()[0]
        .m
        + 1
    )
    tagged = corpus.select("doc_id", "text").withColumn(
        "__corpus", F.lit(True)
    ).unionByName(
        batch.select(
            (F.col("doc_id") + offset).alias("doc_id"), "text"
        ).withColumn("__corpus", F.lit(False))
    )
    out = _incremental_flags(tagged, k, bands, threshold)
    return out.select(
        (F.col("doc_id") - offset).alias("doc_id"),
        "exact_dup",
        "near_dup",
        "keep",
    )


def _dedup_incremental_sql(
    corpus_mod: int = INCREMENTAL_CORPUS_MOD,
    k: int = MINHASH_K,
    bands: int = MINHASH_BANDS,
    threshold: float = JACCARD_THRESHOLD,
) -> str:
    r = k // bands
    band_selects = "\n    UNION ALL\n".join(
        f"    SELECT doc_id, {b} AS band, md5(concat_ws('|', "
        + ", ".join(f"h{b * r + i}" for i in range(r))
        + ")) AS band_hash FROM sigs"
        for b in range(bands)
    )
    return f"""
WITH sh AS ({_shingles_cte()}),
sigs AS ({_minhash_sig_cte(k)}),
buckets AS (
{band_selects}
),
candidates AS (
    SELECT DISTINCT x.doc_id AS new_doc, y.doc_id AS corpus_doc
    FROM buckets x JOIN buckets y
      ON x.band = y.band AND x.band_hash = y.band_hash
    WHERE x.doc_id % {corpus_mod} != 0 AND y.doc_id % {corpus_mod} = 0
),
sizes AS (SELECT doc_id, count(*) AS set_size FROM sh GROUP BY doc_id),
inter AS (
    SELECT c.new_doc, c.corpus_doc, count(*) AS inter
    FROM candidates c
    JOIN sh sa ON sa.doc_id = c.new_doc
    JOIN sh sb ON sb.doc_id = c.corpus_doc AND sb.shingle = sa.shingle
    GROUP BY 1, 2
),
near AS (
    SELECT DISTINCT new_doc
    FROM inter
    JOIN sizes sa ON sa.doc_id = new_doc
    JOIN sizes sb ON sb.doc_id = corpus_doc
    WHERE inter::DOUBLE / (sa.set_size + sb.set_size - inter) >= {threshold}
),
corpus_hashes AS (
    SELECT DISTINCT md5(text) AS text_hash FROM documents
    WHERE doc_id % {corpus_mod} = 0
)
SELECT d.doc_id,
       ch.text_hash IS NOT NULL AS exact_dup,
       n.new_doc IS NOT NULL AS near_dup,
       NOT (ch.text_hash IS NOT NULL OR n.new_doc IS NOT NULL) AS keep
FROM documents d
LEFT JOIN corpus_hashes ch ON ch.text_hash = md5(d.text)
LEFT JOIN near n ON n.new_doc = d.doc_id
WHERE d.doc_id % {corpus_mod} != 0
"""


DEDUP_INCREMENTAL_SQL = _dedup_incremental_sql()


def _dedup_scrub_sql(
    cur_sql: str,
    batch_ids_sql: str,
    k: int = MINHASH_K,
    bands: int = MINHASH_BANDS,
    threshold: float = JACCARD_THRESHOLD,
    n: int = SHINGLE_N,
) -> str:
    """DuckDB twin generator for :func:`dedup_against_corpus` over an
    arbitrary fixture: ``cur_sql`` defines the CURRENT table relation
    (doc_id, text) and ``batch_ids_sql`` the changed/added doc_ids to
    scrub; the kernel (shingles → md5 MinHash → banded candidates →
    exact-Jaccard verify, plus md5 exact-dup probe) is byte-identical to
    :func:`_dedup_incremental_sql`'s — only the batch/corpus membership
    predicate differs (id set instead of the ``doc_id % mod`` split)."""
    r = k // bands
    band_selects = "\n    UNION ALL\n".join(
        f"    SELECT doc_id, {b} AS band, md5(concat_ws('|', "
        + ", ".join(f"h{b * r + i}" for i in range(r))
        + ")) AS band_hash FROM sigs"
        for b in range(bands)
    )
    return f"""
WITH cur AS ({cur_sql}),
batch_ids AS ({batch_ids_sql}),
sh AS ({_shingles_cte(n, source="cur")}),
sigs AS ({_minhash_sig_cte(k)}),
buckets AS (
{band_selects}
),
candidates AS (
    SELECT DISTINCT x.doc_id AS new_doc, y.doc_id AS corpus_doc
    FROM buckets x JOIN buckets y
      ON x.band = y.band AND x.band_hash = y.band_hash
    WHERE x.doc_id IN (SELECT doc_id FROM batch_ids)
      AND y.doc_id NOT IN (SELECT doc_id FROM batch_ids)
),
sizes AS (SELECT doc_id, count(*) AS set_size FROM sh GROUP BY doc_id),
inter AS (
    SELECT c.new_doc, c.corpus_doc, count(*) AS inter
    FROM candidates c
    JOIN sh sa ON sa.doc_id = c.new_doc
    JOIN sh sb ON sb.doc_id = c.corpus_doc AND sb.shingle = sa.shingle
    GROUP BY 1, 2
),
near AS (
    SELECT DISTINCT new_doc
    FROM inter
    JOIN sizes sa ON sa.doc_id = new_doc
    JOIN sizes sb ON sb.doc_id = corpus_doc
    WHERE inter::DOUBLE / (sa.set_size + sb.set_size - inter) >= {threshold}
),
corpus_hashes AS (
    SELECT DISTINCT md5(text) AS text_hash FROM cur
    WHERE doc_id NOT IN (SELECT doc_id FROM batch_ids)
)
SELECT d.doc_id,
       ch.text_hash IS NOT NULL AS exact_dup,
       n.new_doc IS NOT NULL AS near_dup,
       NOT (ch.text_hash IS NOT NULL OR n.new_doc IS NOT NULL) AS keep
FROM cur d
LEFT JOIN corpus_hashes ch ON ch.text_hash = md5(d.text)
LEFT JOIN near n ON n.new_doc = d.doc_id
WHERE d.doc_id IN (SELECT doc_id FROM batch_ids)
"""


# ---------------------------------------------------------------------------
# temperature-based source mixing
# ---------------------------------------------------------------------------

#: Default mixing temperature (alpha) and corpus sample fraction. alpha=1
#: reproduces the natural distribution; alpha->0 flattens toward uniform
#: (the multilingual-sampling rule of mT5/XLM-R, applied to sources).
TEMPERATURE_ALPHA = 0.5
TEMPERATURE_SAMPLE_FRAC = 0.5


def temperature_mix(
    documents: DataFrame,
    alpha: float = TEMPERATURE_ALPHA,
    sample_frac: float = TEMPERATURE_SAMPLE_FRAC,
) -> DataFrame:
    """Temperature-based source mixing: sample ``sample_frac`` of the
    corpus with per-source quotas proportional to count^alpha —
    upweighting small sources relative to their natural share (alpha<1),
    without replacement (quotas cap at the source's size).

    Unlike :func:`rebalance_sources` (static target shares), the mixture
    here is DERIVED from the observed counts, so the quota math rides the
    same single metadata aggregate that feeds the rank machinery: per-
    (source, md5-prefix-bucket) counts roll up to per-source counts ->
    weights -> quotas, and prefix-sum to bucket offsets for the two-level
    exact rank (256 parallel sorts per source; quota-pruned pre-sort —
    no one-task-per-source bound at 100 TB). Selection key is
    (md5(doc_id), doc_id): stable under append, partitioning-invariant.

    The 1e-9 inside floor() is applied identically in the oracle: quota
    boundaries hit exact-integer doubles when counts are perfect squares,
    and both engines must round the same ulp the same way.
    """
    key = F.md5(F.col("doc_id").cast("string"))
    tagged = documents.withColumn("__b", F.substring(key, 1, 2))
    bcounts = (
        tagged.groupBy("source", "__b")
        .agg(F.count("*").alias("bc"))
        .localCheckpoint(eager=False)
    )
    counts = bcounts.groupBy("source").agg(F.sum("bc").alias("n"))
    tot = counts.agg(
        F.sum("n").alias("total_n"),
        F.sum(F.pow(F.col("n").cast("double"), F.lit(alpha))).alias("sum_wt"),
    )
    quotas = counts.crossJoin(F.broadcast(tot)).select(
        "source",
        F.least(
            F.col("n"),
            F.floor(
                F.lit(sample_frac)
                * F.col("total_n")
                * F.pow(F.col("n").cast("double"), F.lit(alpha))
                / F.col("sum_wt")
                + F.lit(1e-9)
            ).cast("long"),
        ).alias("quota"),
    )
    w_off = (
        Window.partitionBy("source")
        .orderBy("__b")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = (
        bcounts.withColumn("off", F.coalesce(F.sum("bc").over(w_off), F.lit(0)))
        .join(quotas, "source")
        .select("source", "__b", "off", "quota")
    )
    w = Window.partitionBy("source", "__b").orderBy(key, F.col("doc_id"))
    return (
        tagged.join(F.broadcast(offsets), ["source", "__b"])
        .filter(F.col("off") < F.col("quota"))
        .withColumn(
            "src_rank", (F.col("off") + F.row_number().over(w)).cast("long")
        )
        .filter(F.col("src_rank") <= F.col("quota"))
        .select("doc_id", "source", "src_rank", "quota")
    )


TEMPERATURE_MIX_SQL = f"""
WITH counts AS (
    SELECT source, count(*) AS n FROM documents GROUP BY source
),
tot AS (
    SELECT sum(n) AS total_n,
           sum(pow(n, {TEMPERATURE_ALPHA})) AS sum_wt
    FROM counts
),
quotas AS (
    SELECT source,
           least(n, CAST(floor({TEMPERATURE_SAMPLE_FRAC} * total_n
                              * pow(n, {TEMPERATURE_ALPHA}) / sum_wt
                              + 1e-9) AS BIGINT)) AS quota
    FROM counts, tot
),
ranked AS (
    SELECT d.doc_id, d.source, q.quota,
           row_number() OVER (PARTITION BY d.source
                              ORDER BY md5(d.doc_id::VARCHAR), d.doc_id)
               AS src_rank
    FROM documents d JOIN quotas q USING (source)
)
SELECT doc_id, source, src_rank, quota
FROM ranked WHERE src_rank <= quota
"""


# ---------------------------------------------------------------------------
# deterministic corpus shuffle (training-order randomization)
# ---------------------------------------------------------------------------

SHUFFLE_SHARDS = 16


def corpus_shuffle(
    documents: DataFrame, shards: int = SHUFFLE_SHARDS
) -> DataFrame:
    """(doc_id, shard, pos): a STABLE pseudorandom training order.
    Training wants documents decorrelated from ingest order (source runs,
    crawl batches); ``orderBy(rand())`` re-rolls every run and needs a
    global sort. Instead: shard = md5-bucket (the write fan-out — one
    shuffle, no global sort), pos = rank of the full md5 key within the
    shard (each shard sorts independently in parallel — the same sort a
    sharded writer pays anyway). Rerunning, appending, or re-reading
    never moves a document between shards or reorders existing
    documents RELATIVE to each other (absolute positions shift as new
    rows interleave — the test pins the relative-order contract), so an
    interrupted epoch resumes mid-shard deterministically against the
    same snapshot."""
    key = F.md5(F.col("doc_id").cast("string"))
    w = Window.partitionBy("shard").orderBy("shuffle_key", "doc_id")
    return (
        documents.select(
            "doc_id",
            _hash_bucket("doc_id", shards).alias("shard"),
            key.alias("shuffle_key"),
        )
        .withColumn("pos", F.row_number().over(w).cast("long"))
        .select("doc_id", "shard", "pos")
    )


CORPUS_SHUFFLE_SQL = f"""
WITH keyed AS (
    SELECT doc_id,
           ('0x' || substr(md5(doc_id::VARCHAR), 1, 15))::BIGINT
               % {SHUFFLE_SHARDS} AS shard,
           md5(doc_id::VARCHAR) AS shuffle_key
    FROM documents
)
SELECT doc_id, shard,
       row_number() OVER (PARTITION BY shard
                          ORDER BY shuffle_key, doc_id) AS pos
FROM keyed
"""


# ---------------------------------------------------------------------------
# token-budget subsampling (cap each source's token contribution)
# ---------------------------------------------------------------------------

TOKEN_BUDGET_PER_SOURCE = 600


def token_budget_sample(
    documents: DataFrame, budget: int = TOKEN_BUDGET_PER_SOURCE
) -> DataFrame:
    """Keep a stable pseudorandom subset of each source whose cumulative
    whitespace-token count stays within ``budget`` — the mixture knob
    expressed in TOKENS (what the training run actually consumes) rather
    than documents (what :func:`rebalance_sources` counts). Docs enter
    in md5-lottery order, so the kept set is append-stable: new corpus
    rows only ever compete for the tail of the budget, never evict an
    earlier winner. One window pass per source (running sum), no joins.

    Greedy-prefix semantics: a document is kept iff the running total
    INCLUDING it fits the budget; the first overflowing doc is dropped
    but later smaller docs may still fit (knapsack-free, deterministic,
    and what sampling-by-token implementations actually ship)."""
    n_tokens = F.size(F.split(F.col("text"), " ")).cast("long")
    key = F.md5(F.col("doc_id").cast("string"))
    w = (
        Window.partitionBy("source")
        .orderBy("lottery", "doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        documents.select(
            "doc_id",
            "source",
            n_tokens.alias("n_tokens"),
            key.alias("lottery"),
        )
        .withColumn("cum_tokens", F.sum("n_tokens").over(w))
        .filter(F.col("cum_tokens") <= budget)
        .select("doc_id", "source", "n_tokens", "cum_tokens")
    )


TOKEN_BUDGET_SAMPLE_SQL = f"""
WITH keyed AS (
    SELECT doc_id, source,
           len(string_split(text, ' '))::BIGINT AS n_tokens,
           md5(doc_id::VARCHAR) AS lottery
    FROM documents
),
cum AS (
    SELECT doc_id, source, n_tokens,
           SUM(n_tokens) OVER (PARTITION BY source
                               ORDER BY lottery, doc_id
                               ROWS UNBOUNDED PRECEDING) AS cum_tokens
    FROM keyed
)
SELECT doc_id, source, n_tokens, cum_tokens::BIGINT AS cum_tokens
FROM cum WHERE cum_tokens <= {TOKEN_BUDGET_PER_SOURCE}
"""


# ---------------------------------------------------------------------------
# proportional source interleaving (deterministic epoch schedule)
# ---------------------------------------------------------------------------

INTERLEAVE_BATCH_SIZE = 32


def interleave_sources(
    documents: DataFrame, batch_size: int = INTERLEAVE_BATCH_SIZE
) -> DataFrame:
    """(doc_id, source, global_rank, batch_id): a deterministic epoch
    schedule that consumes every source at a PROPORTIONAL pace — item p
    of a source with n docs sits at key p/n (fraction of the source
    consumed), so all sources finish together and every training-batch
    prefix holds each source ∝ its size (stride scheduling).

    The scale trick: the global rank of key p/n is COMPUTED, not sorted.
    For each other source (n' docs), the count of its items with
    strictly smaller key is ``min(n', (p·n'−1) div n)`` — integer
    arithmetic (cross-multiplied comparison, no float keys, no float
    ties), summed over the ~|sources| broadcast count list with one
    ``aggregate`` HOF; key ties break by source name (same closed form).
    So the schedule costs one per-source window (the md5-lottery local
    order) plus a narrow map — NO global sort, NO single-partition
    window, at any corpus size. int64-exact while p·n' < 2^63 (remainder-subtracted decimal division, not double).
    """
    counts = documents.groupBy("source").agg(F.count("*").alias("n"))
    arr_df = counts.agg(
        F.collect_list(
            F.struct(F.col("source").alias("s"), F.col("n").alias("n2"))
        ).alias("__sources")
    )
    key = F.md5(F.col("doc_id").cast("string"))
    w = Window.partitionBy("source").orderBy(key, F.col("doc_id"))
    pos = (
        documents.select("doc_id", "source")
        .withColumn("p", F.row_number().over(w).cast("long"))
        .join(F.broadcast(counts), "source")
        .crossJoin(F.broadcast(arr_df))
    )
    rank = interleave_rank_expr().alias("global_rank")
    # NOTE: no orderBy — the rank COLUMN is the schedule; materializing
    # rows in rank order would reintroduce the global sort the closed
    # form exists to avoid (write partitioned by batch_id instead)
    return pos.select("doc_id", "source", rank).withColumn(
        "batch_id",
        ((F.col("global_rank") - 1) / batch_size).cast("long"),
    )


def _interleave_idiv(a: Column, b: Column) -> Column:
    # exact integer floor-div for non-negative a over the FULL int64
    # range: subtract the remainder, then divide as decimal(38,0)
    # (a double division is only exact below 2^53)
    num = (a - F.pmod(a, b)).cast("decimal(38,0)")
    return (num / b.cast("decimal(38,0)")).cast("long")


def interleave_rank_expr() -> Column:
    """The closed-form stride-schedule rank as a pure column expression
    over (p, n, source, __sources[(s, n2)...]) — factored out of
    :func:`interleave_sources` so the int64-boundary arithmetic is
    directly property-testable on crafted rows (real 2^63-adjacent
    counts can't be materialized as actual corpora)."""
    smaller = F.aggregate(
        F.col("__sources"),
        F.lit(0).cast("long"),
        lambda acc, x: acc
        + F.least(
            x["n2"], _interleave_idiv(F.col("p") * x["n2"] - 1, F.col("n"))
        ),
    )
    ties_before = F.aggregate(
        F.col("__sources"),
        F.lit(0).cast("long"),
        lambda acc, x: acc
        + F.when(
            (x["s"] < F.col("source"))
            & (F.pmod(F.col("p") * x["n2"], F.col("n")) == 0)
            & (_interleave_idiv(F.col("p") * x["n2"], F.col("n")) >= 1)
            & (_interleave_idiv(F.col("p") * x["n2"], F.col("n")) <= x["n2"]),
            F.lit(1).cast("long"),
        ).otherwise(F.lit(0).cast("long")),
    )
    return smaller + ties_before + F.lit(1)


INTERLEAVE_SOURCES_SQL = f"""
WITH counts AS (SELECT source, COUNT(*) AS n FROM documents GROUP BY 1),
pos AS (
    SELECT doc_id, source,
           row_number() OVER (PARTITION BY source
                              ORDER BY md5(doc_id::VARCHAR), doc_id) AS p
    FROM documents
),
pj AS (SELECT doc_id, pos.source, p, n FROM pos JOIN counts USING (source)),
ranked AS (
    SELECT pj.doc_id, pj.source,
           (SUM(LEAST(c2.n, (pj.p * c2.n - 1) // pj.n))
            + SUM(CASE WHEN c2.source < pj.source
                        AND (pj.p * c2.n) % pj.n = 0
                        AND (pj.p * c2.n) // pj.n BETWEEN 1 AND c2.n
                       THEN 1 ELSE 0 END)
            + 1)::BIGINT AS global_rank
    FROM pj CROSS JOIN counts c2
    GROUP BY pj.doc_id, pj.source
)
SELECT doc_id, source, global_rank,
       ((global_rank - 1) // {INTERLEAVE_BATCH_SIZE})::BIGINT AS batch_id
FROM ranked
"""


# ---------------------------------------------------------------------------
# relational Bloom filter: ingest-time exact-dup prefilter
# ---------------------------------------------------------------------------

#: 2^20 bits / 64 = 16,384 words — a ~128 KB filter relation. Size the
#: bits ~10× the corpus-hash cardinality for a ~1% false-positive rate
#: (fp ≈ (1 − e^{−kn/m})^k); false positives only cost extra rows in the
#: exact confirm join, never a wrong answer.
BLOOM_BITS = 1 << 20
BLOOM_HASHES = 3


def _bloom_probes(key: str, bits: int, hashes: int) -> Column:
    """Array of (word, mask) probe positions for one key column —
    xxhash64 with per-probe seeds, folded into 64-bit words so the
    filter is a plain (word → bitmap) relation. Built as a SQL
    expression because ``shiftleft``'s python wrapper only takes a
    literal shift count."""
    items = ", ".join(
        f"named_struct("
        f"'word', CAST(floor(pmod(xxhash64({key}, {seed}), {bits}) / 64)"
        f" AS BIGINT), "
        f"'mask', shiftleft(CAST(1 AS BIGINT),"
        f" CAST(pmod(xxhash64({key}, {seed}), {bits}) % 64 AS INT)))"
        for seed in range(hashes)
    )
    return F.expr(f"array({items})")


def bloom_build(keys: DataFrame, key_col: str = "text_hash",
                bits: int = BLOOM_BITS,
                hashes: int = BLOOM_HASHES) -> DataFrame:
    """Bloom filter AS A RELATION: one row per non-empty 64-bit word,
    ``bit_or`` of every member key's probe masks. Spark's internal
    ``bloom_filter_agg`` isn't in the public function registry, and a
    driver-side ``df.stat.bloomFilter`` collects to one machine; this
    relational form builds with one hash aggregate keyed by word index
    (map-side partial OR), is ≤ bits/64 rows regardless of corpus size,
    broadcasts, and persists as ordinary parquet for reuse across
    ingest batches."""
    return (
        keys.select(
            F.explode(_bloom_probes(key_col, bits, hashes)).alias("p")
        )
        .groupBy(F.col("p.word").alias("word"))
        .agg(F.expr("bit_or(p.mask)").alias("bitmap"))
    )


def bloom_probe(
    batch: DataFrame,
    bloom: DataFrame,
    key_col: str = "text_hash",
    id_col: str = "doc_id",
    bits: int = BLOOM_BITS,
    hashes: int = BLOOM_HASHES,
) -> DataFrame:
    """Membership prefilter: a batch row is a CANDIDATE iff every probe
    bit is set in the filter. Probes explode to (id, word, mask), the
    tiny word relation broadcast-joins in, and a per-id count compares
    hits to the probe count — no driver round-trip, no UDF. Guaranteed
    no false negatives (the bitmap is the OR of all member masks), so
    dropping non-candidates before an exact join is sound."""
    probes = batch.select(
        F.col(id_col),
        F.explode(_bloom_probes(key_col, bits, hashes)).alias("p"),
    ).select(
        id_col,
        F.col("p.word").alias("pword"),
        F.col("p.mask").alias("pmask"),
    )
    hit = (
        F.col("bitmap").isNotNull()
        & (F.col("pmask").bitwiseAND(F.col("bitmap")) != 0)
    )
    return (
        probes.join(
            F.broadcast(bloom), F.col("pword") == F.col("word"), "left"
        )
        .groupBy(id_col)
        .agg(
            (F.sum(hit.cast("int")) == F.lit(hashes)).alias(
                "bloom_candidate"
            )
        )
    )


def dedup_incremental_bloom(
    documents: DataFrame,
    corpus_mod: int = INCREMENTAL_CORPUS_MOD,
    bits: int = BLOOM_BITS,
    hashes: int = BLOOM_HASHES,
) -> DataFrame:
    """Exact-dup ingest flagging with a Bloom prefilter: the corpus's
    text-hash set is folded into the ~128 KB word/bitmap relation, every
    batch doc probes it broadcast-side, and ONLY bloom candidates reach
    the exact confirm join. Output is identical to the plain exact
    anti-join (`exact_dup`, `keep` per batch doc) — the filter is a
    plan-level accelerator, not a semantics change, so the DuckDB twin
    is the straightforward exact SQL.

    100 TB shape: the common case (new, unseen content) never shuffles —
    it dies at the broadcast probe; the exact join's shuffle volume is
    (true dups + ~1% false positives), proportional to the dup rate
    rather than the batch size. The built filter relation is the
    cross-batch artifact a streaming ingest would persist and reuse.
    """
    corpus_hashes = (
        documents.filter(F.col("doc_id") % corpus_mod == 0)
        .select(F.md5("text").alias("text_hash"))
        .distinct()
    )
    batch = documents.filter(F.col("doc_id") % corpus_mod != 0).select(
        "doc_id", F.md5("text").alias("text_hash")
    )
    bloom = bloom_build(corpus_hashes, bits=bits, hashes=hashes)
    flags = bloom_probe(batch, bloom, bits=bits, hashes=hashes)
    candidates = batch.join(flags, "doc_id").filter("bloom_candidate")
    confirmed = (
        candidates.join(corpus_hashes, "text_hash", "left_semi")
        .select("doc_id")
        .withColumn("exact_dup", F.lit(True))
    )
    return batch.join(confirmed, "doc_id", "left").select(
        "doc_id",
        F.coalesce("exact_dup", F.lit(False)).alias("exact_dup"),
        (~F.coalesce("exact_dup", F.lit(False))).alias("keep"),
    )


DEDUP_INCREMENTAL_BLOOM_SQL = f"""
WITH corpus_hashes AS (
    SELECT DISTINCT md5(text) AS text_hash FROM documents
    WHERE doc_id % {INCREMENTAL_CORPUS_MOD} = 0
)
SELECT d.doc_id,
       ch.text_hash IS NOT NULL AS exact_dup,
       ch.text_hash IS NULL AS keep
FROM (SELECT doc_id, md5(text) AS text_hash FROM documents
      WHERE doc_id % {INCREMENTAL_CORPUS_MOD} != 0) d
LEFT JOIN corpus_hashes ch ON ch.text_hash = d.text_hash
"""


# ---------------------------------------------------------------------------
# Neyman-allocation stratified sampling (variance-optimal quotas)
# ---------------------------------------------------------------------------

NEYMAN_BUDGET = 500


def neyman_sample(
    events: DataFrame, budget: int = NEYMAN_BUDGET
) -> DataFrame:
    """Variance-optimal stratified sampling: the ``budget`` is allocated
    across event-type strata ∝ N_s·σ_s (Neyman allocation — minimizes
    the variance of the estimated mean of ``value`` under a fixed total
    sample size), then each stratum's quota is filled in md5-lottery
    order. Equal-fraction sampling over-samples big uniform strata and
    starves small volatile ones; this is the estimator-aware fix.

    Determinism discipline: σ_s comes from exact decimal sums
    (Σv, Σv², n → population σ via one IEEE expression), never an
    engine ``stddev`` whose last-ulp behavior differs; quotas round
    from those; membership is the md5-rank prefix per stratum — so the
    kept set is a pure function of the data, identical in both engines
    and stable under repartitioning. One stats aggregate (broadcast
    back) + one per-stratum rank window over rows already filtered to
    strata with nonzero quotas; at 100 TB apply the md5-prefix
    two-level rank (`rebalance_sources`) if a single stratum outgrows
    its sort."""
    v = F.col("value").cast("decimal(28,6)")
    stats = (
        events.filter(F.col("value").isNotNull())
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n_s"),
            F.sum(v).cast("double").alias("s1"),
            F.sum(v * v).cast("double").alias("s2"),
        )
        .withColumn(
            "sigma",
            F.sqrt(
                F.greatest(
                    F.col("s2") / F.col("n_s")
                    - (F.col("s1") / F.col("n_s"))
                    * (F.col("s1") / F.col("n_s")),
                    F.lit(0.0),
                )
            ),
        )
        .withColumn("weight", F.col("n_s") * F.col("sigma"))
    )
    total_w = F.broadcast(
        stats.agg(F.sum("weight").alias("tw"))
    )
    quotas = F.broadcast(
        stats.crossJoin(total_w).select(
            "event_type",
            F.round(F.lit(budget) * F.col("weight") / F.col("tw"), 0)
            .cast("long")
            .alias("quota"),
        )
    )
    w = Window.partitionBy("event_type").orderBy(
        _hash_bucket("event_id", 1_000_000_000), F.col("event_id")
    )
    return (
        events.filter(F.col("value").isNotNull())
        .join(quotas, "event_type")
        .filter(F.col("quota") > 0)
        .withColumn("__r", F.row_number().over(w))
        .filter(F.col("__r") <= F.col("quota"))
        .select("event_id", "event_type", "value")
    )


NEYMAN_SAMPLE_SQL = f"""
WITH stats AS (
    SELECT event_type, COUNT(*) AS n_s,
           CAST(SUM(CAST(value AS DECIMAL(28,6))) AS DOUBLE) AS s1,
           CAST(SUM(CAST(value AS DECIMAL(28,6))
                    * CAST(value AS DECIMAL(28,6))) AS DOUBLE) AS s2
    FROM events WHERE value IS NOT NULL
    GROUP BY event_type
),
weighted AS (
    SELECT event_type, n_s,
           n_s * sqrt(GREATEST(s2 / n_s - (s1 / n_s) * (s1 / n_s), 0.0))
               AS weight
    FROM stats
),
quotas AS (
    SELECT event_type,
           CAST(round({NEYMAN_BUDGET} * weight
                      / (SELECT SUM(weight) FROM weighted), 0) AS BIGINT)
               AS quota
    FROM weighted
),
ranked AS (
    SELECT e.event_id, e.event_type, e.value, q.quota,
           row_number() OVER (
               PARTITION BY e.event_type
               ORDER BY ('0x' || substr(md5(e.event_id::VARCHAR), 1, 15))::BIGINT
                        % 1000000000,
                        e.event_id
           ) AS r
    FROM events e JOIN quotas q USING (event_type)
    WHERE e.value IS NOT NULL AND q.quota > 0
)
SELECT event_id, event_type, value FROM ranked WHERE r <= quota
"""


# ---------------------------------------------------------------------------
# exact substring dedup (the ExactSubstr pass of Lee et al. 2022,
# "Deduplicating Training Data Makes Language Models Better") — any token
# span of length >= EXACT_SUBSTR_K that occurs more than once in the corpus
# keeps its FIRST occurrence (corpus order = (doc_id, pos)) and loses every
# later one. remove_boilerplate handles the short-frequent-gram regime
# (n=3, df>=5); this rung is the long-span regime (K=20, >=2 occurrences,
# including later repeats inside the same document), with maximal-span
# merging so the inventory reports human-auditable spans, not K-gram
# confetti.
#
# Spark-first shape: a suffix array is a single-machine construct; the
# distributed equivalent is the K-window rolling relation — any shared
# substring of length L >= K contributes exactly L-K+1 shared K-windows,
# so merging the flagged windows back into maximal intervals reproduces
# the maximal shared spans. One shuffle on the gram hash ranks
# occurrences; one doc_id window merges intervals. Nothing all-pairs.
# Hot boilerplate grams skew the gram partition — run remove_boilerplate
# first (or AQE skew-split absorbs moderate heat); the rank window is the
# only place a hot key concentrates.
# ---------------------------------------------------------------------------

EXACT_SUBSTR_K = 20


def _kgram_occurrences(documents: DataFrame, k: int) -> DataFrame:
    """(doc_id, pos, gh): md5 of every width-k token window — the
    positional-shingle generator at dedup grain (hashed: K=20 windows
    are long strings; 32-hex keys keep the gram shuffle narrow)."""
    toks = F.split(F.col("text"), " ")
    nt = F.size(toks)
    starts = F.when(nt >= k, F.sequence(F.lit(0), nt - k)).otherwise(
        F.array().cast("array<int>")
    )
    return documents.select(
        "doc_id",
        F.posexplode(
            F.transform(
                starts,
                lambda s: F.md5(F.concat_ws(" ", F.slice(toks, s + 1, k))),
            )
        ).alias("pos", "gh"),
    ).withColumn("pos", F.col("pos").cast("long"))


def _dup_windows(documents: DataFrame, k: int) -> DataFrame:
    """(doc_id, pos) of every K-window occurrence that is NOT the first
    occurrence of its gram in corpus order — the positions the dedup
    removes. One gram-key shuffle; count >= 2 gates before rank so
    singleton grams (the vast majority) never rank."""
    occ = _kgram_occurrences(documents, k)
    w = Window.partitionBy("gh")
    wo = w.orderBy("doc_id", "pos")
    return (
        occ.select(
            "doc_id",
            "pos",
            F.count("*").over(w).alias("n_occ"),
            F.row_number().over(wo).alias("rn"),
        )
        .filter((F.col("n_occ") >= 2) & (F.col("rn") >= 2))
        .select("doc_id", "pos")
    )


def _merge_spans(positions: DataFrame, k: int) -> DataFrame:
    """(doc_id, span_start, span_end, span_len): maximal merge of the
    width-k windows at ``positions`` — gaps-and-islands over one doc_id
    window (an island breaks where a start clears the running max end
    by more than adjacency)."""
    wp = Window.partitionBy("doc_id").orderBy("pos")
    prev_end = F.max(F.col("pos") + k - 1).over(
        wp.rowsBetween(Window.unboundedPreceding, -1)
    )
    marked = positions.select(
        "doc_id",
        "pos",
        F.when(
            F.col("pos") > F.coalesce(prev_end, F.lit(-1)) + 1, 1
        ).otherwise(0).alias("newgrp"),
    )
    grouped = marked.select(
        "doc_id", "pos", F.sum("newgrp").over(wp).alias("gid")
    )
    return grouped.groupBy("doc_id", "gid").agg(
        F.min("pos").alias("span_start"),
        (F.max("pos") + k - 1).alias("span_end"),
        (F.max("pos") - F.min("pos") + k).alias("span_len"),
    ).select("doc_id", "span_start", "span_end", "span_len")


def exact_substring_spans(
    documents: DataFrame, k: int = EXACT_SUBSTR_K
) -> DataFrame:
    """The removal inventory: per document, the maximal token spans a
    keep-first exact-substring dedup at width ``k`` would drop
    (every span is a >= k-token substring whose text occurred earlier
    in corpus order). Audit rung — :func:`exact_substring_dedup` is the
    apply rung that rebuilds the cleaned text."""
    return _merge_spans(_dup_windows(documents, k), k)


def exact_substring_dedup(
    documents: DataFrame, k: int = EXACT_SUBSTR_K
) -> DataFrame:
    """Apply rung: (doc_id, n_tokens, n_removed, clean_text) with every
    later-occurrence span removed and the survivors rejoined in order.
    Span lists are per-doc tiny (bounded by n_tokens/k islands), so the
    rebuild is the remove_boilerplate filter-with-index shape: no second
    wide shuffle, docs with nothing to drop pass through the left join."""
    return _apply_spans(documents, exact_substring_spans(documents, k))


def _apply_spans(documents: DataFrame, span_rows: DataFrame) -> DataFrame:
    """Scrub ``documents`` of the (doc_id, span_start, span_end) token
    intervals in ``span_rows`` — the shared rebuild under
    :func:`exact_substring_dedup` and the streaming scrub handler."""
    toks = F.split(F.col("text"), " ")
    nt = F.size(toks).cast("long")
    spans = (
        span_rows
        .groupBy("doc_id")
        .agg(
            F.collect_list(F.struct("span_start", "span_end")).alias("spans")
        )
    )
    sp = F.coalesce(
        F.col("spans"),
        F.array().cast("array<struct<span_start:long,span_end:long>>"),
    )
    kept = F.filter(
        toks,
        lambda t, i: ~F.exists(
            sp,
            lambda s: (i.cast("long") >= s["span_start"])
            & (i.cast("long") <= s["span_end"]),
        ),
    )
    return documents.join(spans, "doc_id", "left").select(
        "doc_id",
        nt.alias("n_tokens"),
        (nt - F.size(kept).cast("long")).alias("n_removed"),
        F.concat_ws(" ", kept).alias("clean_text"),
    )


_EXACT_SUBSTR_SPANS_CTE = f"""
t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
occ AS (
    SELECT doc_id, u.i::BIGINT AS pos,
           md5(array_to_string(toks[u.i + 1 : u.i + {EXACT_SUBSTR_K}], ' '))
               AS gh
    FROM t, unnest(range(0, greatest(len(toks) - {EXACT_SUBSTR_K} + 1, 0)))
        AS u(i)
),
dup AS (
    SELECT doc_id, pos FROM (
        SELECT doc_id, pos,
               count(*) OVER (PARTITION BY gh) AS n_occ,
               row_number() OVER (PARTITION BY gh ORDER BY doc_id, pos)
                   AS rn
        FROM occ
    ) WHERE n_occ >= 2 AND rn >= 2
),
marked AS (
    SELECT doc_id, pos,
           CASE WHEN pos > coalesce(
                    max(pos + {EXACT_SUBSTR_K} - 1) OVER (
                        PARTITION BY doc_id ORDER BY pos
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                    ), -1) + 1
                THEN 1 ELSE 0 END AS newgrp
    FROM dup
),
grouped AS (
    SELECT doc_id, pos,
           sum(newgrp) OVER (PARTITION BY doc_id ORDER BY pos) AS gid
    FROM marked
),
spans AS (
    SELECT doc_id,
           min(pos)::BIGINT AS span_start,
           (max(pos) + {EXACT_SUBSTR_K} - 1)::BIGINT AS span_end,
           (max(pos) - min(pos) + {EXACT_SUBSTR_K})::BIGINT AS span_len
    FROM grouped GROUP BY doc_id, gid
)"""

EXACT_SUBSTRING_SPANS_SQL = f"""
WITH {_EXACT_SUBSTR_SPANS_CTE}
SELECT doc_id, span_start, span_end, span_len FROM spans
"""

EXACT_SUBSTRING_DEDUP_SQL = f"""
WITH {_EXACT_SUBSTR_SPANS_CTE},
pos AS (
    SELECT doc_id, u.i::BIGINT AS p, toks[u.i + 1] AS tok,
           len(toks)::BIGINT AS n_tokens
    FROM t, unnest(range(0, len(toks))) AS u(i)
),
kept AS (
    SELECT p.doc_id, p.p, p.tok
    FROM pos p
    WHERE NOT EXISTS (
        SELECT 1 FROM spans s
        WHERE s.doc_id = p.doc_id
          AND p.p BETWEEN s.span_start AND s.span_end
    )
),
agg AS (
    SELECT doc_id, count(*)::BIGINT AS n_kept,
           string_agg(tok, ' ' ORDER BY p) AS clean_text
    FROM kept GROUP BY doc_id
)
-- a doc whose text is entirely a later occurrence keeps an empty row
-- (the Spark side's left join does the same)
SELECT t.doc_id, len(t.toks)::BIGINT AS n_tokens,
       (len(t.toks) - coalesce(a.n_kept, 0))::BIGINT AS n_removed,
       coalesce(a.clean_text, '') AS clean_text
FROM t LEFT JOIN agg a USING (doc_id)
"""


def exact_substring_incremental(
    documents: DataFrame,
    corpus_mod: int = INCREMENTAL_CORPUS_MOD,
    k: int = EXACT_SUBSTR_K,
) -> DataFrame:
    """Batch-incremental ExactSubstr: scrub only the NEW slice against
    the already-ingested corpus' gram set plus earlier-in-batch
    occurrences — the batch twin of the streaming
    ``ingest_substring_scrubbed`` rung, on the same deterministic
    testdata split as :func:`dedup_incremental` (``doc_id % corpus_mod
    == 0`` plays the corpus). The corpus contributes ONE distinct-hash
    relation; its text is never rescanned per batch and its documents
    are never rewritten (keep-first: the corpus, being earlier, always
    wins). Output is the new slice's (doc_id, n_tokens, n_removed,
    clean_text)."""
    is_corpus = (F.col("doc_id") % corpus_mod) == 0
    return exact_substring_against_corpus(
        documents.filter(~is_corpus), documents.filter(is_corpus), k
    )


def exact_substring_against_corpus(
    batch: DataFrame, corpus: DataFrame, k: int = EXACT_SUBSTR_K
) -> DataFrame:
    """Two-relation ExactSubstr scrub — the kernel
    :func:`exact_substring_incremental` (fixture split) and the lake
    change-feed scrubber (``plans.lake_scrub``) share: remove from each
    ``batch`` doc every >= ``k``-token span that occurs in the corpus
    gram set (the corpus, being already ingested, always wins) or more
    than once within the batch (keep-first). The corpus contributes ONE
    distinct-hash relation; its text is never rewritten. Output is the
    batch's (doc_id, n_tokens, n_removed, clean_text)."""
    corpus_grams = _kgram_occurrences(corpus, k).select("gh").distinct()
    occ = _kgram_occurrences(batch, k)
    w = Window.partitionBy("gh")
    wo = w.orderBy("doc_id", "pos")
    dup_within = (
        occ.select(
            "doc_id",
            "pos",
            F.count("*").over(w).alias("n_occ"),
            F.row_number().over(wo).alias("rn"),
        )
        .filter((F.col("n_occ") >= 2) & (F.col("rn") >= 2))
        .select("doc_id", "pos")
    )
    dup_corpus = occ.join(corpus_grams, "gh", "left_semi").select(
        "doc_id", "pos"
    )
    dups = dup_within.unionByName(dup_corpus).distinct()
    return _apply_spans(batch, _merge_spans(dups, k))


EXACT_SUBSTRING_INCREMENTAL_SQL = f"""
WITH t AS (
    SELECT doc_id, string_split(text, ' ') AS toks,
           doc_id % {INCREMENTAL_CORPUS_MOD} = 0 AS is_corpus
    FROM documents
),
occ AS (
    SELECT doc_id, is_corpus, u.i::BIGINT AS pos,
           md5(array_to_string(toks[u.i + 1 : u.i + {EXACT_SUBSTR_K}], ' '))
               AS gh
    FROM t, unnest(range(0, greatest(len(toks) - {EXACT_SUBSTR_K} + 1, 0)))
        AS u(i)
),
cg AS (SELECT DISTINCT gh FROM occ WHERE is_corpus),
no AS (SELECT doc_id, pos, gh FROM occ WHERE NOT is_corpus),
dup AS (
    SELECT doc_id, pos FROM (
        SELECT doc_id, pos,
               count(*) OVER (PARTITION BY gh) AS n_occ,
               row_number() OVER (PARTITION BY gh ORDER BY doc_id, pos)
                   AS rn
        FROM no
    ) WHERE n_occ >= 2 AND rn >= 2
    UNION
    SELECT doc_id, pos FROM no WHERE gh IN (SELECT gh FROM cg)
),
marked AS (
    SELECT doc_id, pos,
           CASE WHEN pos > coalesce(
                    max(pos + {EXACT_SUBSTR_K} - 1) OVER (
                        PARTITION BY doc_id ORDER BY pos
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                    ), -1) + 1
                THEN 1 ELSE 0 END AS newgrp
    FROM dup
),
grouped AS (
    SELECT doc_id, pos,
           sum(newgrp) OVER (PARTITION BY doc_id ORDER BY pos) AS gid
    FROM marked
),
spans AS (
    SELECT doc_id,
           min(pos)::BIGINT AS span_start,
           (max(pos) + {EXACT_SUBSTR_K} - 1)::BIGINT AS span_end
    FROM grouped GROUP BY doc_id, gid
),
pos AS (
    SELECT doc_id, u.i::BIGINT AS p, toks[u.i + 1] AS tok
    FROM t, unnest(range(0, len(toks))) AS u(i)
    WHERE NOT is_corpus
),
kept AS (
    SELECT p.doc_id, p.p, p.tok
    FROM pos p
    WHERE NOT EXISTS (
        SELECT 1 FROM spans s
        WHERE s.doc_id = p.doc_id
          AND p.p BETWEEN s.span_start AND s.span_end
    )
),
agg AS (
    SELECT doc_id, count(*)::BIGINT AS n_kept,
           string_agg(tok, ' ' ORDER BY p) AS clean_text
    FROM kept GROUP BY doc_id
)
SELECT t.doc_id, len(t.toks)::BIGINT AS n_tokens,
       (len(t.toks) - coalesce(a.n_kept, 0))::BIGINT AS n_removed,
       coalesce(a.clean_text, '') AS clean_text
FROM t LEFT JOIN agg a USING (doc_id)
WHERE NOT t.is_corpus
"""


# ---------------------------------------------------------------------------
# corpus forensics by source (curation audits over the dedup primitives)
# ---------------------------------------------------------------------------

def source_overlap_matrix(documents: DataFrame) -> DataFrame:
    """Cross-source CONTENT overlap: for every source pair, the count of
    shared distinct word shingles and the shingle-set Jaccard — the
    forensics a curator runs when two crawls/feeds are suspected of
    carrying the same underlying content (``source_divergence`` compares
    token DISTRIBUTIONS; this catches verbatim overlap those histograms
    can miss).

    Shape: one distinct (source, shingle) relation (hash-agg), a
    shingle-keyed self-join restricted to source_a < source_b (per-key
    fan-out ≤ sources², a constant), and a broadcast of the |sources|-row
    size table. Nothing is ever joined at document grain."""
    with_toks = _spread(documents).select(
        "source", F.split(F.col("text"), " ").alias("__toks")
    )
    src_shingles = (
        with_toks.select(
            "source",
            F.explode(
                _shingle_array(SHINGLE_N, F.col("__toks"))
            ).alias("shingle"),
        )
        .distinct()
    )
    sizes = F.broadcast(
        src_shingles.groupBy("source").agg(F.count("*").alias("n_shingles"))
    )
    a = src_shingles.alias("a")
    b = src_shingles.alias("b")
    inter = (
        a.join(b, "shingle")
        .filter(F.col("a.source") < F.col("b.source"))
        .groupBy(
            F.col("a.source").alias("source_a"),
            F.col("b.source").alias("source_b"),
        )
        .agg(F.count("*").alias("shared_shingles"))
    )
    return (
        inter.join(
            sizes.withColumnRenamed("source", "source_a").withColumnRenamed(
                "n_shingles", "n_a"
            ),
            "source_a",
        )
        .join(
            sizes.withColumnRenamed("source", "source_b").withColumnRenamed(
                "n_shingles", "n_b"
            ),
            "source_b",
        )
        .select(
            "source_a",
            "source_b",
            "shared_shingles",
            F.round(
                F.col("shared_shingles").cast("double")
                / (F.col("n_a") + F.col("n_b") - F.col("shared_shingles")),
                6,
            ).alias("jaccard"),
        )
    )


SOURCE_OVERLAP_MATRIX_SQL = f"""
WITH src_shingles AS (
    SELECT DISTINCT source, shingle FROM (
        SELECT source,
               unnest(list_transform(
                   generate_series(1, len(string_split(text, ' ')) - {SHINGLE_N - 1}),
                   i -> array_to_string(
                       (string_split(text, ' '))[i:i + {SHINGLE_N - 1}], ' ')
               )) AS shingle
        FROM documents
    )
),
sizes AS (
    SELECT source, count(*) AS n_shingles FROM src_shingles GROUP BY source
),
inter AS (
    SELECT a.source AS source_a, b.source AS source_b,
           count(*) AS shared_shingles
    FROM src_shingles a JOIN src_shingles b USING (shingle)
    WHERE a.source < b.source
    GROUP BY 1, 2
)
SELECT i.source_a, i.source_b, i.shared_shingles,
       round(i.shared_shingles::DOUBLE
             / (sa.n_shingles + sb.n_shingles - i.shared_shingles), 6)
           AS jaccard
FROM inter i
JOIN sizes sa ON sa.source = i.source_a
JOIN sizes sb ON sb.source = i.source_b
"""


def near_dup_rate_by_source(documents: DataFrame) -> DataFrame:
    """Dup pollution per source: how many of each source's documents sit
    in a normalized-duplicate group (the ``dedup_normalized`` key), and
    how many of those groups SPAN sources — the audit that tells a
    curator which feed is re-serving content and whether the duplication
    is internal to a feed or cross-feed syndication.

    Shape: one hash-agg over the normalized hash (group size + distinct
    sources), joined back on its own key, then one |sources|-row
    rollup — the exact-dedup shuffle shape with a second tiny agg."""
    toks = F.split(F.col("text"), " ")
    norm = F.md5(F.concat_ws(" ", F.array_sort(F.array_distinct(toks))))
    keyed = documents.select("doc_id", "source", norm.alias("norm_hash"))
    groups = keyed.groupBy("norm_hash").agg(
        F.count("*").alias("group_size"),
        F.size(F.collect_set("source")).alias("n_sources"),
    )
    return (
        keyed.join(groups, "norm_hash")
        .groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(F.when(F.col("group_size") > 1, 1).otherwise(0))
            .cast("long")
            .alias("n_dup_docs"),
            F.sum(
                F.when(
                    (F.col("group_size") > 1) & (F.col("n_sources") > 1), 1
                ).otherwise(0)
            )
            .cast("long")
            .alias("n_cross_source_dup_docs"),
        )
        .select(
            "source",
            "n_docs",
            "n_dup_docs",
            F.round(
                F.col("n_dup_docs").cast("double") / F.col("n_docs"), 6
            ).alias("dup_rate"),
            "n_cross_source_dup_docs",
        )
    )


NEAR_DUP_RATE_BY_SOURCE_SQL = """
WITH keyed AS (
    SELECT doc_id, source,
           md5(array_to_string(
               list_sort(list_distinct(string_split(text, ' '))), ' '))
               AS norm_hash
    FROM documents
),
groups AS (
    SELECT norm_hash, count(*) AS group_size,
           count(DISTINCT source) AS n_sources
    FROM keyed GROUP BY norm_hash
)
SELECT k.source,
       count(*) AS n_docs,
       SUM((g.group_size > 1)::INT)::BIGINT AS n_dup_docs,
       round(SUM((g.group_size > 1)::INT)::DOUBLE / count(*), 6) AS dup_rate,
       SUM((g.group_size > 1 AND g.n_sources > 1)::INT)::BIGINT
           AS n_cross_source_dup_docs
FROM keyed k JOIN groups g USING (norm_hash)
GROUP BY k.source
"""


# ---------------------------------------------------------------------------
# LSH blocking audit (the dedup twin of the ANN recall audits)
# ---------------------------------------------------------------------------

def minhash_blocking_audit(
    documents: DataFrame,
    k: int = MINHASH_K,
    bands: int = MINHASH_BANDS,
    threshold: float = JACCARD_THRESHOLD,
) -> DataFrame:
    """One-row audit of the MinHash BANDING itself: pair recall (what
    fraction of the exact Jaccard-≥-threshold pairs the banded buckets
    surface as candidates) and reduction ratio (what fraction of all
    C(n,2) pairs the blocking never has to look at). The dial every
    banded-LSH deployment tunes (bands↑ → recall↑, reduction↓) — the
    same measured discipline ``knn_recall_audit`` applies to ANN,
    pointed at the dedup blocking layer. Ground truth is the exact
    shingle-keyed pair join (:func:`ngram_jaccard_pairs` — never
    all-pairs), so the audit is itself oracle-checkable.

    Shape: the candidate set is the SAME banded bucket join
    ``minhash_dedup_pairs`` runs (built from the same signature
    aggregate), three 1-row count aggregates, broadcast cross-composed.
    """
    # ONE materialized shingle stream feeds the signature aggregate AND
    # the exact ground-truth join — the audit never shingles twice
    sh = shingles(documents).localCheckpoint(eager=False)
    sigs = minhash_signatures(documents, k, shingle_frame=sh)
    candidates = _banded_candidates(sigs, k, bands)
    truth = ngram_jaccard_pairs(
        documents, threshold=threshold, shingle_frame=sh
    ).select("doc_id_a", "doc_id_b")
    n_cand = F.broadcast(
        candidates.agg(F.count("*").cast("long").alias("n_candidates"))
    )
    n_true = F.broadcast(
        truth.agg(F.count("*").cast("long").alias("n_true_pairs"))
    )
    n_hit = F.broadcast(
        truth.join(candidates, ["doc_id_a", "doc_id_b"], "left_semi").agg(
            F.count("*").cast("long").alias("n_candidate_hits")
        )
    )
    n_docs = F.broadcast(
        documents.agg(F.count("*").cast("long").alias("n_docs"))
    )
    all_pairs = F.col("n_docs") * (F.col("n_docs") - 1) / 2
    recall = F.when(F.col("n_true_pairs") == 0, F.lit(1.0)).otherwise(
        F.col("n_candidate_hits").cast("double") / F.col("n_true_pairs")
    )
    return (
        n_true.crossJoin(n_cand)
        .crossJoin(n_hit)
        .crossJoin(n_docs)
        .select(
            "n_true_pairs",
            "n_candidates",
            "n_candidate_hits",
            F.round(recall, 6).alias("pair_recall"),
            F.round(
                F.lit(1.0) - F.col("n_candidates").cast("double") / all_pairs,
                6,
            ).alias("reduction_ratio"),
        )
    )


def _minhash_blocking_audit_sql(
    k: int = MINHASH_K,
    bands: int = MINHASH_BANDS,
) -> str:
    band_selects = _band_selects_sql(k, bands)
    return f"""
WITH sh AS ({_shingles_cte()}),
sigs AS ({_minhash_sig_cte(k)}),
buckets AS (
{band_selects}
),
candidates AS (
    SELECT DISTINCT x.doc_id AS doc_id_a, y.doc_id AS doc_id_b
    FROM buckets x JOIN buckets y
      ON x.band = y.band AND x.band_hash = y.band_hash AND x.doc_id < y.doc_id
),
truth AS (
    SELECT doc_id_a, doc_id_b FROM ({NGRAM_JACCARD_SQL})
),
n_cand AS (SELECT count(*)::BIGINT AS n_candidates FROM candidates),
n_true AS (SELECT count(*)::BIGINT AS n_true_pairs FROM truth),
n_hit AS (
    SELECT count(*)::BIGINT AS n_candidate_hits
    FROM truth t SEMI JOIN candidates c
      ON t.doc_id_a = c.doc_id_a AND t.doc_id_b = c.doc_id_b
),
n_docs AS (SELECT count(*)::BIGINT AS n_docs FROM documents)
SELECT n_true_pairs, n_candidates, n_candidate_hits,
       round(CASE WHEN n_true_pairs = 0 THEN 1.0
                  ELSE n_candidate_hits::DOUBLE / n_true_pairs END, 6)
           AS pair_recall,
       round(1.0 - n_candidates::DOUBLE / (n_docs * (n_docs - 1) / 2), 6)
           AS reduction_ratio
FROM n_true, n_cand, n_hit, n_docs
"""


MINHASH_BLOCKING_AUDIT_SQL = _minhash_blocking_audit_sql()
