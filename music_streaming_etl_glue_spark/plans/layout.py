"""Physical-layout utilities for the 100 TB path: bucketed tables for
shuffle-free co-located joins, and salted two-phase aggregation for
skewed keys.

The reference never manages layout (flat unpartitioned writes,
``validate_data.py:316-318``); at cluster scale join/agg shuffle placement
is the dominant cost, so the engine makes both first-class.

It also holds the one crash-safe directory-replacement protocol every
on-disk index, state dir and compacted table uses:
``_build_layout_atomic`` publishes a dir once, ``_swap_dir`` replaces a
live dir by park + rename-in, and ``_heal_dir`` repairs what a hard
crash between those renames left behind.
"""

from __future__ import annotations

import os
import shutil
import uuid

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def write_bucketed(
    df: DataFrame,
    table: str,
    key: str,
    n_buckets: int = 32,
    sort: bool = True,
    path: str | None = None,
) -> None:
    """Persist hash-bucketed (and bucket-sorted) by the join key. Two
    tables bucketed the same way join with NO shuffle on either side —
    the bucketing metadata lets Catalyst elide both Exchanges.

    ``path`` makes it an external table (bucketing requires the catalog,
    but the files can live anywhere)."""
    writer = df.write.mode("overwrite").bucketBy(n_buckets, key)
    if sort:
        writer = writer.sortBy(key)
    if path is not None:
        writer = writer.option("path", path)
    writer.format("parquet").saveAsTable(table)


def bucketed_join_plan(
    spark, left_table: str, right_table: str, key: str, force_merge: bool = False
) -> DataFrame:
    """Join two same-bucketed tables on their bucket key. With
    ``force_merge`` a sort-merge join is hinted — on matching buckets it
    runs with zero shuffle exchanges (bucket-local merge)."""
    left = spark.table(left_table)
    if force_merge:
        left = left.hint("merge")
    return left.join(spark.table(right_table), key)


def salted_agg(
    df: DataFrame,
    keys: list[str],
    aggs: dict[str, str],
    salt_buckets: int = 16,
) -> DataFrame:
    """Skew-safe aggregation: pre-aggregate on (keys + salt), then reduce
    to (keys). A hot key's rows spread over ``salt_buckets`` partial
    groups instead of hammering one reducer.

    ``aggs`` maps column -> 'sum' | 'count' | 'max' | 'min' (algebraic
    functions whose two-phase split is exact).
    """
    allowed = {"sum", "count", "max", "min"}
    bad = {fn for fn in aggs.values() if fn not in allowed}
    if bad:
        raise ValueError(f"salted_agg supports {sorted(allowed)}, got {sorted(bad)}")

    # salt must split rows of the SAME key across reducers, so it cannot be
    # a function of the keys alone — but it MUST be deterministic per row:
    # a nondeterministic salt (e.g. monotonically_increasing_id) re-salts
    # rows differently when a failed map task recomputes, double-counting
    # some partials and dropping others. Hash of the full row is stable
    # under recomputation; identical duplicate rows co-salting is the
    # accepted trade.
    salt = F.pmod(F.xxhash64(*[F.col(c) for c in df.columns]), F.lit(salt_buckets))
    partial_aggs: list[Column] = []
    final_aggs: list[Column] = []
    for col, fn in aggs.items():
        p = f"__p_{fn}_{col}"
        if fn == "count":
            partial_aggs.append(F.count(col).alias(p))
            final_aggs.append(F.sum(p).alias(f"{fn}_{col}"))
        elif fn == "sum":
            partial_aggs.append(F.sum(col).alias(p))
            final_aggs.append(F.sum(p).alias(f"{fn}_{col}"))
        elif fn == "max":
            partial_aggs.append(F.max(col).alias(p))
            final_aggs.append(F.max(p).alias(f"{fn}_{col}"))
        else:
            partial_aggs.append(F.min(col).alias(p))
            final_aggs.append(F.min(p).alias(f"{fn}_{col}"))

    partial = df.withColumn("__salt", salt).groupBy(*keys, "__salt").agg(*partial_aggs)
    return partial.groupBy(*keys).agg(*final_aggs)


SKEW_TOP_N = 5
SKEW_SALT_CAP = 64


def join_skew_report(
    df: DataFrame, key: str, top_n: int = SKEW_TOP_N
) -> DataFrame:
    """Skew diagnostic for a prospective join/agg key: the ``top_n``
    heaviest keys with their row share, plus the global skew ratio
    (max key count / mean key count) and the salt-bucket factor
    :func:`salted_agg` should be called with —
    ``ceil(skew_ratio)`` clamped to [1, 64] (beyond ~64 partials the
    second-phase reduction dominates). This is the measurement step that
    decides between a plain shuffle, a salted two-phase agg, and an AQE
    skew-join hint BEFORE the 100 TB shuffle runs — on a key histogram
    (one hash-agg over the slim key column), not the full fact table.

    Ceil runs on the 9dp-ROUNDED ratio so the recommendation can't flip
    across engines on 1-ulp float drift (the dedup.py prefix-ceil
    lesson)."""
    counts = df.groupBy(F.col(key).alias("key")).agg(
        F.count("*").alias("key_rows")
    )
    stats = F.broadcast(
        counts.agg(
            F.max("key_rows").alias("__max"),
            F.sum("key_rows").alias("__total"),
            F.count("*").alias("__nkeys"),
        )
    )
    skew = F.round(
        F.col("__max").cast("double")
        / (F.col("__total").cast("double") / F.col("__nkeys").cast("double")),
        9,
    )
    salt = F.least(
        F.greatest(F.ceil(F.round(skew, 9)), F.lit(1)),
        F.lit(SKEW_SALT_CAP),
    ).cast("long")
    top = (
        counts.crossJoin(stats)
        .orderBy(F.col("key_rows").desc(), F.col("key").asc())
        .limit(top_n)
    )
    from music_streaming_etl_glue_spark.functions.ranks import rank_post_limit

    ranked = rank_post_limit(
        top, "hot_rank", F.col("key_rows").desc(), F.col("key").asc()
    )
    return ranked.select(
        "hot_rank",
        F.col("key").cast("string").alias("key"),
        "key_rows",
        F.round(
            F.col("key_rows").cast("double") / F.col("__total").cast("double"), 9
        ).alias("row_share"),
        skew.alias("skew_ratio"),
        salt.alias("recommended_salt"),
    )


JOIN_SKEW_REPORT_SQL = f"""
WITH counts AS (
    SELECT user_id AS key, count(*) AS key_rows FROM events GROUP BY 1
),
stats AS (
    SELECT max(key_rows) AS mx, sum(key_rows) AS total, count(*) AS nkeys
    FROM counts
),
ranked AS (
    SELECT c.key, c.key_rows, s.mx, s.total, s.nkeys,
           row_number() OVER (ORDER BY c.key_rows DESC, c.key ASC) AS hot_rank
    FROM counts c CROSS JOIN stats s
)
SELECT hot_rank,
       key::VARCHAR AS key,
       key_rows,
       round(key_rows::DOUBLE / total, 9) AS row_share,
       round(mx::DOUBLE / (total::DOUBLE / nkeys), 9) AS skew_ratio,
       least(greatest(ceil(round(mx::DOUBLE / (total::DOUBLE / nkeys), 9)),
                      1), {SKEW_SALT_CAP})::BIGINT AS recommended_salt
FROM ranked
WHERE hot_rank <= {SKEW_TOP_N}
"""


# ---------------------------------------------------------------------------
# crash-safe directory publish / swap / heal (module docstring)
# ---------------------------------------------------------------------------


def _build_layout_atomic(build_fn, path: str) -> None:
    """Build an on-disk layout exactly once, concurrency-safe: write
    into a unique temp dir, then atomically rename into place. If
    another process won the race (rename target exists), its committed
    layout is used and ours is discarded — no process ever reads a
    half-written layout."""
    if os.path.exists(os.path.join(path, "_SUCCESS")):
        return
    tmp = f"{path}.build-{os.getpid()}-{uuid.uuid4().hex[:8]}"
    build_fn(tmp)
    try:
        os.rename(tmp, path)
    except OSError:
        shutil.rmtree(tmp, ignore_errors=True)


def _swap_dir(live: str, new: str, parked: str) -> None:
    """Replace the dir ``live`` with ``new``: park ``live`` at
    ``parked``, rename ``new`` in, then drop the parked copy. A missing
    ``live`` is not parked; a missing ``new`` leaves ``live`` absent (a
    rewrite that emptied it). If the rename-in raises, the parked copy
    is renamed back before the error propagates. POSIX has no atomic
    directory exchange, so a hard crash between the two renames leaves
    ``live`` missing: the caller runs :func:`_heal_dir` before its next
    read, and ``parked`` must be a name that heal finds."""
    was_live = os.path.exists(live)
    if was_live:
        os.rename(live, parked)
    try:
        if os.path.exists(new):
            os.rename(new, live)
    except BaseException:
        if was_live:
            os.rename(parked, live)
        raise
    if was_live:
        shutil.rmtree(parked, ignore_errors=True)


def _heal_dir(live: str, parked, debris=()) -> None:
    """Repair a :func:`_swap_dir` that a hard crash interrupted.
    ``parked`` lists the parked copies of ``live``, oldest first. If
    ``live`` is missing the crash hit between the two renames, so the
    newest parked copy is restored; if ``live`` exists the crash hit
    after the swap. Either way every other parked copy is superseded and
    removed, and so is every ``debris`` path (an unfinished build)."""
    parked = list(parked)
    if parked and not os.path.exists(live):
        os.rename(parked.pop(), live)
    for stale in (*parked, *debris):
        shutil.rmtree(stale, ignore_errors=True)


def compact_parquet(spark, path: str, target_files: int) -> int:
    """Small-files compaction: rewrite a parquet directory into
    ``target_files`` files (the maintenance job every streaming/append
    sink eventually needs — thousands of per-epoch files turn scan
    planning and open() overhead into the bottleneck long before data
    volume does).

    Rewrites into the sibling ``__compact_tmp`` dir, verifies the row
    count, then swaps it in with :func:`_swap_dir` (the table parks at
    ``__compact_old``). Readers racing the swap can see a missing path
    for the instant between the renames — run compaction in the table's
    maintenance window, or use ``plans.lakehouse`` (this engine's
    snapshot-committed table format, same design as Delta/Iceberg) when
    readers are truly concurrent: its ``compact`` commits the rewrite as
    a new snapshot and never mutates a file a reader can resolve. Crash
    recovery is self-healing: a parked table or stale tmp dir from an
    interrupted run is restored or removed on the next invocation.
    ``coalesce`` (not ``repartition``) avoids a shuffle — file
    boundaries just merge. Returns the verified row count.
    """
    old = path.rstrip("/") + "__compact_old"
    tmp = path.rstrip("/") + "__compact_tmp"
    _heal_dir(path, [old] if os.path.exists(old) else [], debris=[tmp])

    df = spark.read.parquet(path)
    n_before = df.count()
    df.coalesce(target_files).write.mode("overwrite").parquet(tmp)
    n_after = spark.read.parquet(tmp).count()
    if n_after != n_before:
        shutil.rmtree(tmp, ignore_errors=True)
        raise RuntimeError(
            f"compaction row drift: {n_before} -> {n_after}; aborted"
        )
    _swap_dir(path, tmp, old)
    return n_after


ZORDER_BITS = 8  # 8 bits/dim -> 65,536 z-cells for a 2-column key


def zorder_key(
    cols: list[Column | str],
    mins: list[float],
    maxs: list[float],
    bits: int = ZORDER_BITS,
) -> Column:
    """Morton (Z-order) interleave of N quantized columns — the
    multi-dimensional clustering key for data skipping: sort/range-
    partition a table by this key and every column of the key gets tight
    per-file min/max ranges, so parquet footer pruning works for
    predicates on ANY of them (a single-column sort gives this for one
    column and destroys it for the rest).

    ``mins``/``maxs`` are the per-column domain bounds used for
    quantization — at 100 TB these come from one tiny agg over the
    incoming batch (or table stats) and are baked into the write plan as
    literals; nothing here shuffles beyond the write's own range
    partitioning. Pure integer expressions, no UDF."""
    if not (len(cols) == len(mins) == len(maxs)):
        raise ValueError("cols, mins, maxs must align")
    n = len(cols)
    quantized = []
    for c, lo, hi in zip(cols, mins, maxs):
        col = F.col(c) if isinstance(c, str) else c
        span = (hi - lo) or 1.0
        q = F.floor(
            (col.cast("double") - F.lit(float(lo)))
            / F.lit(float(span))
            * F.lit((1 << bits) - 1)
        ).cast("long")
        quantized.append(F.greatest(F.lit(0), F.least(q, F.lit((1 << bits) - 1))))
    key = F.lit(0).cast("long")
    for b in range(bits):
        for i, q in enumerate(quantized):
            bit = F.shiftright(q, b).bitwiseAND(F.lit(1))
            key = key.bitwiseOR(F.shiftleft(bit, b * n + i).cast("long"))
    return key


def write_zordered(
    df: DataFrame,
    path: str,
    cols: list[str],
    bits: int = ZORDER_BITS,
    n_files: int | None = None,
) -> None:
    """Write ``df`` clustered by the Z-order of ``cols``: one metadata
    agg for the domain bounds, then range-partition + sort by the Morton
    key so file boundaries follow the space-filling curve. Readers
    filtering on any clustered column skip most files via parquet
    row-group stats — no index structure to maintain."""
    bounds = df.agg(
        *[F.min(F.col(c).cast("double")).alias(f"lo_{c}") for c in cols],
        *[F.max(F.col(c).cast("double")).alias(f"hi_{c}") for c in cols],
    ).collect()[0]
    mins = [bounds[f"lo_{c}"] for c in cols]
    maxs = [bounds[f"hi_{c}"] for c in cols]
    keyed = df.withColumn("__z", zorder_key(list(cols), mins, maxs, bits))
    parted = (
        keyed.repartitionByRange(n_files, "__z")
        if n_files
        else keyed.repartitionByRange("__z")
    )
    parted.sortWithinPartitions("__z").drop("__z").write.mode(
        "overwrite"
    ).parquet(path)


# ---------------------------------------------------------------------------
# row-group skipping audit (measure what the layout actually buys)
# ---------------------------------------------------------------------------

def row_group_stats(path: str, column: str) -> list[dict]:
    """Per-row-group (min, max, rows) of ``column`` across every parquet
    file under ``path`` — read from footers only (pyarrow, driver-side,
    bytes-of-metadata not data). The ground truth behind "clustered
    writes enable data skipping"."""
    import os

    import pyarrow.parquet as pq

    out: list[dict] = []
    for root, _dirs, files in os.walk(path):
        for fname in sorted(files):
            if not fname.endswith(".parquet"):
                continue
            meta = pq.ParquetFile(os.path.join(root, fname)).metadata
            names = {meta.schema.column(i).name: i for i in range(meta.num_columns)}
            ci = names[column]
            for rg in range(meta.num_row_groups):
                st = meta.row_group(rg).column(ci).statistics
                # a footer can carry a statistics object WITHOUT min/max
                # (writers may drop them for huge binary values or
                # unordered types) — st.min would then raise, so gate on
                # has_min_max and report "no stats" the same as st=None
                has = st is not None and st.has_min_max
                out.append(
                    {
                        "file": fname,
                        "row_group": rg,
                        "rows": meta.row_group(rg).num_rows,
                        "min": st.min if has else None,
                        "max": st.max if has else None,
                    }
                )
    return out


def skipping_fraction(
    stats: list[dict], lo, hi
) -> float:
    """Fraction of rows whose row-group [min, max] does NOT intersect
    [lo, hi] — exactly the rows a stats-pruning reader never touches for
    that predicate. 0.0 when footers carry no stats (nothing provable)."""
    total = sum(s["rows"] for s in stats)
    if not total:
        return 0.0
    skipped = sum(
        s["rows"]
        for s in stats
        if s["min"] is not None and (s["min"] > hi or s["max"] < lo)
    )
    return skipped / total
