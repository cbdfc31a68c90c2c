"""Star-schema enrichment: fact left-joined to its dimensions.

Reference semantics (``/root/reference/scripts/compute_kpis.py:252-303``):
alias-project each input to disambiguate join keys (P1), parse the event
timestamp (F1), chain two LEFT equi-joins fact->dim (J1, J2), then project
the 10-column wide schema with a computed ``listening_time`` (P2, P3).

Our mapping onto the testdata star schema (TESTDATA.md):

====================  =========================================
reference             this engine
====================  =========================================
streams fact          ``events`` (ts, user_id, event_type, value, props)
track_id              ``props.k`` extracted from the JSON props column
track_genre           ``event_type``
songs dim             (genre carried on the fact; no track dim in testdata)
users dim             ``customer`` left-joined to ``nation``
listening_time        ``value`` (minutes-style double measure)
====================  =========================================

Scale notes:
* Dimensions are explicitly ``broadcast()`` — customer/nation stay small
  relative to the fact even at 100 TB of events; a shuffle join on user_id
  would be the single largest avoidable shuffle in the pipeline.
* The JSON extraction (``get_json_object``) is a JVM-side expression inside
  whole-stage codegen — no Python boundary.
* No ``collect``/driver loops anywhere; the result is a lazy plan the
  KPI queries fan out from (callers should ``.cache()`` when fanning out —
  the reference recomputes the join per KPI, its biggest perf bug, SURVEY §4).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: Columns of the enriched wide table (reference ``compute_kpis.py:290-301``).
ENRICHED_COLUMNS = (
    "user_id",
    "user_name",
    "user_country",
    "track_id",
    "track_genre",
    "timestamp",
    "listening_time",
)


def enrich_events(
    events: DataFrame,
    customer: DataFrame,
    nation: DataFrame,
) -> DataFrame:
    """events ⟕ customer ⟕ nation → enriched listen-event wide table.

    LEFT joins preserve fact rows with no dimension match (null user_name /
    user_country), matching the reference's unmatched-stream behavior.
    """
    # P1: disambiguating projections before the join.
    fact = events.select(
        F.col("user_id").alias("stream_user_id"),
        F.get_json_object("props", "$.k").cast("long").alias("track_id"),
        F.col("event_type").alias("track_genre"),
        F.col("ts").alias("timestamp"),
        F.col("value").alias("listening_time"),
    )
    users = F.broadcast(
        customer.select(
            F.col("c_custkey").alias("user_user_id"),
            F.col("c_name").alias("user_name"),
            F.col("c_nationkey").alias("user_nationkey"),
        )
    )
    nations = F.broadcast(
        nation.select(
            F.col("n_nationkey").alias("nation_key"),
            F.col("n_name").alias("user_country"),
        )
    )

    # J1/J2: chained left equi-joins (Catalyst → BroadcastHashJoin).
    joined = fact.join(
        users, fact["stream_user_id"] == users["user_user_id"], "left"
    ).join(nations, F.col("user_nationkey") == nations["nation_key"], "left")

    # P2/P3: final wide projection.
    return joined.select(
        F.col("stream_user_id").alias("user_id"),
        "user_name",
        "user_country",
        "track_id",
        "track_genre",
        "timestamp",
        "listening_time",
    )


# DuckDB-oracle twin of the enrichment (kept adjacent so query and oracle
# can't drift apart).
ENRICH_SQL = """
SELECT
    e.user_id                                   AS user_id,
    c.c_name                                    AS user_name,
    n.n_name                                    AS user_country,
    CAST(json_extract_string(e.props, '$.k') AS BIGINT) AS track_id,
    e.event_type                                AS track_genre,
    e.ts                                        AS timestamp,
    e.value                                     AS listening_time
FROM events e
LEFT JOIN customer c ON e.user_id = c.c_custkey
LEFT JOIN nation n ON c.c_nationkey = n.n_nationkey
"""


def event_props_variant(events: DataFrame) -> DataFrame:
    """Semi-structured props via the VARIANT type (Spark 4): parse once,
    extract typed fields with ``variant_get`` — the shredding-friendly
    path for ragged JSON at scale (vs. per-field ``get_json_object``
    re-parses). Output matches the string-path extraction exactly."""
    v = F.parse_json(F.col("props"))
    return events.select(
        "event_id",
        F.variant_get(v, "$.k", "bigint").alias("track_id"),
        F.lit("k").alias("field"),
    )


EVENT_PROPS_VARIANT_SQL = """
SELECT event_id,
       CAST(json_extract_string(props, '$.k') AS BIGINT) AS track_id,
       'k' AS field
FROM events
"""
