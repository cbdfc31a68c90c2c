"""Post-load data-quality checks on the serving table.

The reference documents these as *manual* DynamoDB scan/query checks
(``/root/reference/docs/dynamodb-queries.md:103-185``): items with missing
attributes, out-of-range metric values, malformed timestamps. Here they are
one declarative pass over the serving frame — a single aggregate, so the
QA cost is a scan even at serving-table scale.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: Required attributes per item family (reference item shapes,
#: ``load_dynamodb.py:229-343``). Deliberately EXCLUDES dimension-sourced
#: attributes (user_name, user_country): the enrichment uses LEFT joins,
#: so a fact row with no dimension match legitimately carries nulls there
#: (reference semantics, SURVEY §2.3) — that is data lineage, not a
#: serving-layer defect, and must not trip the pipeline gate.
REQUIRED_ATTRS = {
    "user": ("total_songs_played", "total_listening_time_minutes"),
    "genre_daily": ("date", "track_genre", "listen_count", "unique_listeners"),
    "genre_top_songs": ("date", "track_genre", "track_id", "play_count", "rank"),
    "genre_top_genres": ("date", "track_genre", "listen_count", "rank"),
    "trending": ("track_id", "plays_last_24h", "unique_listeners"),
}

_TS_RE = r"^\d{4}-\d{2}-\d{2}T\d{2}:\d{2}:\d{2}$"
_ID_RE = r"^[A-Z_]+_"

#: metrics that must never be negative, whichever family carries them
_NON_NEGATIVE_METRICS = (
    "total_songs_played",
    "total_listening_time_minutes",
    "listen_count",
    "unique_listeners",
    "play_count",
    "plays_last_24h",
    "rank",
)


def _missing_attr_expr() -> Column:
    """Per-family missing-required-attribute predicate."""
    missing_attr = F.lit(False)
    for family, attrs in REQUIRED_ATTRS.items():
        fam_missing = F.lit(False)
        for a in attrs:
            fam_missing = fam_missing | F.col(a).isNull()
        missing_attr = F.when(
            F.col("kpi_type") == family, fam_missing
        ).otherwise(missing_attr)
    return missing_attr


def _qa_counters() -> list[Column]:
    """The QA counters as named aggregate columns, shared by the
    standalone auditor (``.agg``) and the write-time metrics
    (``.observe``). rlike(NULL) is NULL and sum() skips NULLs, so the
    timestamp/id checks coalesce to True: a NULL counts as malformed
    instead of failing open."""
    negative = F.lit(False)
    for m in _NON_NEGATIVE_METRICS:
        negative = negative | (F.col(m) < 0)
    flags = {
        "missing_attrs": _missing_attr_expr(),
        "negative_metrics": F.coalesce(negative, F.lit(False)),
        "malformed_timestamps": F.coalesce(
            ~F.col("timestamp").rlike(_TS_RE), F.lit(True)
        ),
        "malformed_ids": F.coalesce(~F.col("id").rlike(_ID_RE), F.lit(True)),
    }
    return [F.count(F.lit(1)).alias("n_items")] + [
        F.sum(flag.cast("long")).alias(name) for name, flag in flags.items()
    ]


def qa_serving_items(items: DataFrame) -> DataFrame:
    """One row per kpi_type with violation counts: missing required
    attributes, negative metrics, malformed item ids / timestamps."""
    return items.groupBy("kpi_type").agg(*_qa_counters())


def assert_serving_quality(items: DataFrame) -> None:
    """Raise if any violation count is non-zero (pipeline gate)."""
    bad = (
        qa_serving_items(items)
        .filter(
            (F.col("missing_attrs") > 0)
            | (F.col("negative_metrics") > 0)
            | (F.col("malformed_timestamps") > 0)
            | (F.col("malformed_ids") > 0)
        )
        .collect()
    )
    if bad:
        raise ValueError(f"serving quality violations: {[r.asDict() for r in bad]}")


def observed_write_metrics(items: DataFrame) -> tuple[DataFrame, "Observation"]:
    """Attach free-riding QA metrics to the serving frame via
    ``DataFrame.observe``: the counters are collected DURING whatever
    action consumes the returned frame (the serving write), so the
    quality gate costs ZERO extra passes — unlike :func:`qa_serving_items`,
    which is its own scan. Use this form inside the batch pipeline; keep
    the standalone auditor for ad-hoc checks of already-written tables.

    The counters are the auditor's own (:func:`_qa_counters`), summed
    over all kpi types.

    Returns (frame_to_write, observation); read ``observation.get`` after
    the action completes.
    """
    from pyspark.sql import Observation

    obs = Observation("serving_qa")
    return items.observe(obs, *_qa_counters()), obs


# ---------------------------------------------------------------------------
# distribution drift (PSI) between two snapshots of a numeric column
# ---------------------------------------------------------------------------

PSI_BINS = 10
#: conventional PSI reading: < 0.1 stable, 0.1–0.25 moderate shift,
#: > 0.25 significant — the alerting threshold a refresh gate uses
PSI_ALERT = 0.25


def psi_drift(
    old: DataFrame,
    new: DataFrame,
    column: str,
    bins: int = PSI_BINS,
) -> DataFrame:
    """Population Stability Index of ``column`` between two snapshots:
    equal-width bins over the OLD snapshot's [min, max] (the baseline
    defines the grid; new values outside it clamp into the edge bins),
    per-bin population shares compared as Σ (p_new − p_old)·ln(p_new /
    p_old) with add-half-count smoothing so an empty bin cannot produce
    ±∞. One aggregate per side + a bins-sized join — the audit costs two
    column-pruned scans at any snapshot size.

    Returns one row per bin (bin, share_old, share_new, psi_term) plus
    the caller sums ``psi_term`` for the scalar; keeping the per-bin
    relation makes the drift attributable (WHICH part of the
    distribution moved), not just detectable."""
    stats = old.agg(
        F.min(F.col(column).cast("double")).alias("lo"),
        F.max(F.col(column).cast("double")).alias("hi"),
    )

    def binned(df: DataFrame, alias: str) -> DataFrame:
        width = (F.col("hi") - F.col("lo")) / bins
        v = F.col(column).cast("double")
        # degenerate one-point baseline (hi == lo): the grid has no
        # width, and (v − lo)/0 is NaN → floor → NULL → every bin drops
        # and the gate reports ~0 drift — a silent false negative. Bin
        # by side instead: below the point → 0, at it → middle bin,
        # above → top bin, so drift in either direction is detected and
        # an unchanged snapshot still scores 0.
        point_bin = (
            F.when(v > F.col("hi"), F.lit(bins - 1))
            .when(v < F.col("lo"), F.lit(0))
            .otherwise(F.lit(bins // 2))
        )
        raw = F.when(F.col("hi") == F.col("lo"), point_bin).otherwise(
            F.floor((v - F.col("lo")) / width)
        )
        b = F.least(F.greatest(raw, F.lit(0)), F.lit(bins - 1)).cast("long")
        return (
            df.filter(F.col(column).isNotNull())
            .crossJoin(F.broadcast(stats))
            .select(b.alias("bin"))
            .groupBy("bin")
            .agg(F.count("*").alias(f"n_{alias}"))
        )

    o, n = binned(old, "old"), binned(new, "new")
    grid = old.sparkSession.range(bins).select(
        F.col("id").cast("long").alias("bin")
    )
    # smoothing: add 0.5 count to every bin on both sides
    joined = (
        grid.join(o, "bin", "left")
        .join(n, "bin", "left")
        .select(
            "bin",
            F.coalesce("n_old", F.lit(0)).alias("n_old"),
            F.coalesce("n_new", F.lit(0)).alias("n_new"),
        )
    )
    totals = joined.agg(
        F.sum("n_old").cast("double").alias("t_old"),
        F.sum("n_new").cast("double").alias("t_new"),
    )
    p = (F.col("n_old") + 0.5) / (F.col("t_old") + 0.5 * bins)
    q = (F.col("n_new") + 0.5) / (F.col("t_new") + 0.5 * bins)
    return (
        joined.crossJoin(F.broadcast(totals))
        .select(
            "bin",
            F.round(p, 9).alias("share_old"),
            F.round(q, 9).alias("share_new"),
            F.round((q - p) * F.log(q / p), 9).alias("psi_term"),
        )
        .orderBy("bin")
    )


def events_value_drift(events: DataFrame, bins: int = PSI_BINS) -> DataFrame:
    """Catalog wiring: PSI of ``value`` between the first and second half
    of the events timeline (median-ts split — a deterministic 'yesterday
    vs today' stand-in)."""
    # epoch seconds incl. microseconds, matching DuckDB's epoch(ts):
    # unix_micros needs TIMESTAMP (session is UTC, so the NTZ cast is
    # value-preserving — repo-wide precedent)
    secs = F.unix_micros(F.col("ts").cast("timestamp")) / F.lit(1e6)
    mid = events.agg(F.expr(
        "percentile(unix_micros(CAST(ts AS TIMESTAMP)) / 1e6, 0.5)"
    ).alias("mid"))
    tagged = events.crossJoin(F.broadcast(mid))
    old = tagged.filter(secs <= F.col("mid"))
    new = tagged.filter(secs > F.col("mid"))
    return psi_drift(old, new, "value", bins)


EVENTS_VALUE_DRIFT_SQL = f"""
WITH mid AS (
    SELECT quantile_cont(epoch(ts), 0.5) AS mid FROM events
),
old_side AS (
    SELECT value FROM events, mid WHERE epoch(ts) <= mid AND value IS NOT NULL
),
new_side AS (
    SELECT value FROM events, mid WHERE epoch(ts) > mid AND value IS NOT NULL
),
stats AS (SELECT MIN(value) AS lo, MAX(value) AS hi FROM old_side),
grid AS (SELECT i AS bin FROM generate_series(0, {PSI_BINS - 1}) t(i)),
-- degenerate one-point baseline (hi = lo): mirror the Spark side's
-- side-binning (below the point -> 0, at it -> middle bin, above -> top
-- bin) so the twins stay bit-identical when the baseline is constant
ob AS (
    SELECT CASE WHEN hi = lo THEN
               CASE WHEN value > hi THEN {PSI_BINS - 1}
                    WHEN value < lo THEN 0
                    ELSE {PSI_BINS // 2} END
           ELSE LEAST(GREATEST(
                    FLOOR((value - lo) / ((hi - lo) / {PSI_BINS})), 0),
                {PSI_BINS - 1})
           END::BIGINT AS bin, COUNT(*) AS n_old
    FROM old_side, stats GROUP BY 1
),
nb AS (
    SELECT CASE WHEN hi = lo THEN
               CASE WHEN value > hi THEN {PSI_BINS - 1}
                    WHEN value < lo THEN 0
                    ELSE {PSI_BINS // 2} END
           ELSE LEAST(GREATEST(
                    FLOOR((value - lo) / ((hi - lo) / {PSI_BINS})), 0),
                {PSI_BINS - 1})
           END::BIGINT AS bin, COUNT(*) AS n_new
    FROM new_side, stats GROUP BY 1
),
j AS (
    SELECT g.bin, COALESCE(n_old, 0) AS n_old, COALESCE(n_new, 0) AS n_new
    FROM grid g LEFT JOIN ob ON g.bin = ob.bin LEFT JOIN nb ON g.bin = nb.bin
),
t AS (SELECT SUM(n_old)::DOUBLE AS t_old, SUM(n_new)::DOUBLE AS t_new FROM j)
SELECT bin,
       round((n_old + 0.5) / (t_old + 0.5 * {PSI_BINS}), 9) AS share_old,
       round((n_new + 0.5) / (t_new + 0.5 * {PSI_BINS}), 9) AS share_new,
       round(((n_new + 0.5) / (t_new + 0.5 * {PSI_BINS})
              - (n_old + 0.5) / (t_old + 0.5 * {PSI_BINS}))
             * ln(((n_new + 0.5) / (t_new + 0.5 * {PSI_BINS}))
                  / ((n_old + 0.5) / (t_old + 0.5 * {PSI_BINS}))), 9)
           AS psi_term
FROM j, t
ORDER BY bin
"""
