"""Serving-layer item shaping: KPI tables → key-value items.

Reference (``/root/reference/scripts/load_dynamodb.py:184-343``) collects
every KPI table to the driver and shapes dict items in Python loops. Here
each shaping is a projection (distributed, codegen'd), and the five item
families union into one sparse wide frame — the layout of the reference's
DynamoDB table (composite string ``id`` + ``timestamp`` sort key + GSI
keys, ``create_dynamodb_table.py:20-50``).

``batch_ts`` — the reference stamps items with wall-clock ``datetime.now()``
(load_dynamodb.py:226), which is unreproducible; we take it as a parameter.
"""

from __future__ import annotations

from collections.abc import Mapping

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from music_streaming_etl_glue_spark.functions.serving_keys import (
    composite_key,
    iso_date,
)
from music_streaming_etl_glue_spark.operators import kpis as K

#: Deterministic default batch timestamp for oracle-checked query entries.
DEFAULT_BATCH_TS = "2026-01-01T00:00:00"


def user_items(user_kpis: DataFrame, batch_ts: str) -> DataFrame:
    return user_kpis.select(
        composite_key("USER", "user_id").alias("id"),
        F.lit(batch_ts).alias("timestamp"),
        F.col("kpi_type"),
        F.col("user_name"),
        F.col("user_country"),
        F.col("total_songs_played"),
        F.col("total_listening_time_minutes"),
        F.col("avg_listening_time_minutes"),
    )


def genre_daily_items(genre_daily: DataFrame, batch_ts: str) -> DataFrame:
    return genre_daily.select(
        composite_key("GENRE_DAILY", "track_genre", iso_date("date")).alias("id"),
        F.lit(batch_ts).alias("timestamp"),
        F.lit("genre_daily").alias("kpi_type"),
        iso_date("date").alias("date"),
        F.col("track_genre"),
        F.col("listen_count"),
        F.col("unique_listeners"),
        F.col("total_listening_time_minutes"),
    )


def top_songs_items(top_songs: DataFrame, batch_ts: str) -> DataFrame:
    return top_songs.select(
        composite_key(
            "GENRE_TOP_SONGS", "track_genre", iso_date("date"), "track_id"
        ).alias("id"),
        F.lit(batch_ts).alias("timestamp"),
        F.lit("genre_top_songs").alias("kpi_type"),
        iso_date("date").alias("date"),
        F.col("track_genre"),
        F.col("track_id"),
        F.col("play_count"),
        F.col("rank"),
    )


def top_genres_items(top_genres: DataFrame, batch_ts: str) -> DataFrame:
    return top_genres.select(
        composite_key("GENRE_TOP", "track_genre", iso_date("date")).alias("id"),
        F.lit(batch_ts).alias("timestamp"),
        F.lit("genre_top_genres").alias("kpi_type"),
        iso_date("date").alias("date"),
        F.col("track_genre"),
        F.col("listen_count"),
        F.col("rank"),
    )


def trending_items(trending: DataFrame, batch_ts: str) -> DataFrame:
    # Reference key is TRENDING_<track> (load_dynamodb.py:329) — unique there
    # because genre is a track attribute. In this data model genre is an
    # event dimension, so the key includes it to stay collision-free.
    return trending.select(
        composite_key("TRENDING", "track_id", "track_genre").alias("id"),
        F.lit(batch_ts).alias("timestamp"),
        F.col("kpi_type"),
        F.col("track_id"),
        F.col("track_genre"),
        F.col("plays_last_24h"),
        F.col("total_listening_time_minutes"),
        F.col("unique_listeners"),
    )


def items_from_kpis(kpis: Mapping[str, DataFrame], batch_ts: str) -> DataFrame:
    """All five KPI item families unioned by name into the sparse serving
    layout (U1 union; missing attributes null, as in a KV table).

    ``kpis`` maps the KPI table names of :func:`kpis.kpi_tables` to their
    frames. Each family is a projection of its table, so over persisted
    KPI frames the items cost a scan of the cached rows — no aggregate or
    window runs again."""
    frames = [
        user_items(kpis["user_kpis"], batch_ts),
        genre_daily_items(kpis["genre_daily_metrics"], batch_ts),
        top_songs_items(kpis["genre_top_songs"], batch_ts),
        top_genres_items(kpis["genre_top_genres"], batch_ts),
        trending_items(kpis["trending_tracks"], batch_ts),
    ]
    out = frames[0]
    for f in frames[1:]:
        out = out.unionByName(f, allowMissingColumns=True)
    return out


def serving_items(
    enriched: DataFrame,
    batch_ts: str = DEFAULT_BATCH_TS,
    materialize: bool = False,
) -> DataFrame:
    """The serving items computed straight from the enriched frame:
    :func:`items_from_kpis` over :func:`kpis.kpi_tables` (the daily
    aggregate is built once and shared by its two consumers).

    Every KPI aggregate and window runs inside this plan, once per action
    on it. A caller that also writes the KPI tables should persist those
    frames and shape the items from them with :func:`items_from_kpis`
    instead, as the batch pipeline does: each KPI is then computed once
    per run, however many sinks consume the items.

    ``materialize`` computes the enriched input once via a lazy
    ``localCheckpoint`` instead of re-running it for each of the five
    branches. Default OFF: enriched is a shuffle-free scan + broadcast
    join, and re-running that pipelined plan per branch measures faster
    than a materialization barrier. Flip it on when the input plan is
    expensive (shuffles, UDFs) and the caller has not cached it."""
    if materialize:
        enriched = enriched.localCheckpoint(eager=False)
    return items_from_kpis(K.kpi_tables(enriched), batch_ts)


# ---------------------------------------------------------------------------
# Secondary access path twin of the reference's GenreDateIndex GSI
# (create_dynamodb_table.py:40-48: genre HASH, date RANGE, projection ALL).
# DynamoDB GSIs are sparse — only items carrying BOTH key attributes are
# indexed — so the filter keeps the three item families that have
# (track_genre, date) and drops user/trending items, exactly like the GSI.
# ---------------------------------------------------------------------------

GSI_GENRE = "click"
GSI_DATE_FROM = "2024-01-05"
GSI_DATE_TO = "2024-01-12"


def serving_by_genre_date(
    enriched: DataFrame,
    genre: str = GSI_GENRE,
    date_from: str = GSI_DATE_FROM,
    date_to: str = GSI_DATE_TO,
    batch_ts: str = DEFAULT_BATCH_TS,
) -> DataFrame:
    """Range lookup on the genre→date secondary index: all KPI items of one
    genre within a date window (the reference's GenreDateIndex Query).

    Logical form of the physical layout in
    ``kv_sink.write_serving_gsi_genre_date`` — there the same predicate
    prunes to one ``track_genre=`` directory and a contiguous ``date=``
    range instead of filtering a full scan. ISO dates compare correctly as
    strings, so ``between`` is the range-key condition.
    """
    items = serving_items(enriched, batch_ts)
    return items.filter(
        F.col("track_genre").isNotNull()
        & F.col("date").isNotNull()
        & (F.col("track_genre") == genre)
        & F.col("date").between(date_from, date_to)
    )


SERVING_ITEMS_SQL = f"""
WITH user_kpis AS ({K.USER_KPIS_SQL}),
genre_daily AS ({K.GENRE_DAILY_SQL}),
top_songs AS ({K.GENRE_TOP_SONGS_SQL}),
top_genres AS ({K.GENRE_TOP_GENRES_SQL}),
trending AS ({K.TRENDING_SQL})
SELECT concat_ws('_', 'USER', user_id) AS id,
       '{DEFAULT_BATCH_TS}' AS timestamp,
       kpi_type, user_name, user_country, total_songs_played,
       total_listening_time_minutes, avg_listening_time_minutes
FROM user_kpis
UNION ALL BY NAME
SELECT concat_ws('_', 'GENRE_DAILY', track_genre, strftime(date, '%Y-%m-%d')) AS id,
       '{DEFAULT_BATCH_TS}' AS timestamp,
       'genre_daily' AS kpi_type, strftime(date, '%Y-%m-%d') AS date,
       track_genre, listen_count, unique_listeners, total_listening_time_minutes
FROM genre_daily
UNION ALL BY NAME
SELECT concat_ws('_', 'GENRE_TOP_SONGS', track_genre, strftime(date, '%Y-%m-%d'), track_id) AS id,
       '{DEFAULT_BATCH_TS}' AS timestamp,
       'genre_top_songs' AS kpi_type, strftime(date, '%Y-%m-%d') AS date,
       track_genre, track_id, play_count, rank
FROM top_songs
UNION ALL BY NAME
SELECT concat_ws('_', 'GENRE_TOP', track_genre, strftime(date, '%Y-%m-%d')) AS id,
       '{DEFAULT_BATCH_TS}' AS timestamp,
       'genre_top_genres' AS kpi_type, strftime(date, '%Y-%m-%d') AS date,
       track_genre, listen_count, rank
FROM top_genres
UNION ALL BY NAME
SELECT concat_ws('_', 'TRENDING', track_id, track_genre) AS id,
       '{DEFAULT_BATCH_TS}' AS timestamp,
       kpi_type, track_id, track_genre, plays_last_24h,
       total_listening_time_minutes, unique_listeners
FROM trending
"""


SERVING_BY_GENRE_DATE_SQL = f"""
WITH items AS ({SERVING_ITEMS_SQL})
SELECT * FROM items
WHERE track_genre IS NOT NULL AND date IS NOT NULL
  AND track_genre = '{GSI_GENRE}'
  AND date BETWEEN '{GSI_DATE_FROM}' AND '{GSI_DATE_TO}'
"""


# ---------------------------------------------------------------------------
# Secondary access path twin of the reference's KpiTypeIndex GSI
# (create_dynamodb_table.py:27-37: kpi_type HASH, timestamp RANGE).
# Every item carries both attributes, so this index is dense.
# ---------------------------------------------------------------------------

GSI_KPI_TYPE = "genre_top_songs"


def serving_by_kpi_type(
    enriched: DataFrame,
    kpi_type: str = GSI_KPI_TYPE,
    batch_ts: str = DEFAULT_BATCH_TS,
) -> DataFrame:
    """Hash lookup on the kpi_type→timestamp secondary index: one item
    family, every batch timestamp (the reference's KpiTypeIndex Query —
    "give me all genre_top_songs items"). Physically this predicate is
    partition pruning on the ``kpi_type=`` directory of the serving
    parquet written by ``kv_sink.write_serving_local`` — one directory
    read, zero scan of the other four families."""
    items = serving_items(enriched, batch_ts)
    return items.filter(F.col("kpi_type") == kpi_type)


SERVING_BY_KPI_TYPE_SQL = f"""
WITH items AS ({SERVING_ITEMS_SQL})
SELECT * FROM items WHERE kpi_type = '{GSI_KPI_TYPE}'
"""


# ---------------------------------------------------------------------------
# Primary-key point lookup — the serving twin of DynamoDB GetItem/Query on
# (id HASH, timestamp RANGE), the access path the reference's manual QA
# examples exercise (docs/dynamodb-queries.md:103-185).
# ---------------------------------------------------------------------------

def serving_lookup(
    enriched: DataFrame,
    item_id: str | None = None,
    batch_ts: str = DEFAULT_BATCH_TS,
) -> DataFrame:
    """Point lookup by primary key: the item rows for one ``id`` (all
    ``timestamp`` versions — DynamoDB Query on the hash key; add a
    timestamp filter for GetItem). With ``item_id=None`` the key is the
    lexicographically first 'user' item — a deterministic probe both
    engines can derive, so the lookup itself is oracle-checkable.

    Against the physically laid-out serving store this is the
    ``read_kv_dir`` + key-filter path; here the logical form documents
    the predicate: an equality on ``id`` that a partitioned/point-indexed
    backend serves without a scan."""
    items = serving_items(enriched, batch_ts)
    if item_id is not None:
        return items.filter(F.col("id") == item_id)
    probe = F.broadcast(
        items.filter(F.col("kpi_type") == "user")
        .agg(F.min("id").alias("probe_id"))
    )
    # the probe id is a 'user' item BY CONSTRUCTION, so the lookup also
    # carries kpi_type = 'user': Catalyst constant-folds that equality
    # into each union branch and eliminates the four non-user branches
    # (each of which would otherwise re-aggregate the enriched frame) —
    # same rows, one branch evaluated instead of five
    return (
        items.filter(F.col("kpi_type") == "user")
        .crossJoin(probe)
        .filter(F.col("id") == F.col("probe_id"))
        .drop("probe_id")
    )


SERVING_LOOKUP_SQL = f"""
WITH items AS ({SERVING_ITEMS_SQL}),
probe AS (SELECT min(id) AS probe_id FROM items WHERE kpi_type = 'user')
SELECT items.* FROM items, probe WHERE id = probe_id
"""
