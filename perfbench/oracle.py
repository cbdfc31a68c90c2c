"""Correctness checks, run outside the timed region.

KPI outputs are compared with the DuckDB twins kept beside the engine's
queries (``operators.kpis.*_SQL`` over ``operators.enrich.ENRICH_SQL``),
run on the generated files. Serving reads are compared with DuckDB over
the serving parquet. Similar-item results are compared with an exact
numpy cosine top-k. Near-duplicate clusters are compared with the DuckDB
twin of ``operators.clusters.dedup_clusters``.
"""

from __future__ import annotations

import datetime as dt
import os
from collections import Counter

import duckdb
import numpy as np

from music_streaming_etl_glue_spark.operators import kpis as K
from music_streaming_etl_glue_spark.operators.clusters import DEDUP_CLUSTERS_SQL

KPI_SQL = {
    "user_kpis": K.USER_KPIS_SQL,
    "genre_daily_metrics": K.GENRE_DAILY_SQL,
    "genre_top_songs": K.GENRE_TOP_SONGS_SQL,
    "genre_top_genres": K.GENRE_TOP_GENRES_SQL,
    "trending_tracks": K.TRENDING_SQL,
}


def canon(value):
    """Engine-neutral form of one cell: dates as ISO strings, doubles
    rounded to 9 digits (both engines sum through a decimal)."""
    if isinstance(value, float):
        return round(value, 9)
    if isinstance(value, (dt.date, dt.datetime)):
        return value.isoformat()
    return value


def _bag(rows) -> Counter:
    return Counter(tuple(canon(v) for v in r) for r in rows)


def _scan(path: str) -> str:
    return f"read_parquet('{path}/**/*.parquet', hive_partitioning=true)"


def star_connection(sf_dir: str, events: str | None = None) -> duckdb.DuckDBPyConnection:
    """DuckDB views over ``sf_dir``'s events, customer and nation files;
    ``events`` replaces the events file with another path or glob."""
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for table in ("events", "customer", "nation"):
        path = os.path.join(sf_dir, f"{table}.parquet")
        if table == "events" and events is not None:
            path = events
        con.execute(f"CREATE VIEW {table} AS SELECT * FROM read_parquet('{path}')")
    return con


def kpi_oracle(sf_dir: str, events: str | None = None) -> dict[str, tuple[list[str], Counter]]:
    """Expected rows of every KPI table: (columns, bag of rows)."""
    con = star_connection(sf_dir, events)
    out = {}
    for name, sql in KPI_SQL.items():
        cur = con.execute(sql)
        cols = [d[0] for d in cur.description]
        out[name] = (cols, _bag(cur.fetchall()))
    con.close()
    return out


def kpi_mismatches(expected: dict, out_dir: str) -> list[str]:
    """Names of the KPI tables under ``out_dir`` whose rows differ from
    the oracle's."""
    con = duckdb.connect()
    bad = []
    for name, (cols, want) in expected.items():
        got = _bag(con.execute(
            f"SELECT {', '.join(cols)} FROM {_scan(os.path.join(out_dir, name))}"
        ).fetchall())
        if got != want:
            bad.append(name)
    con.close()
    return bad


class ServingOracle:
    """DuckDB over the primary serving parquet; answers the same get and
    range reads the engine serves."""

    def __init__(self, serving_dir: str):
        self.con = duckdb.connect()
        self.con.execute(f"CREATE VIEW serving AS SELECT * FROM {_scan(serving_dir)}")

    def _rows(self, where: str, params: list) -> Counter:
        cur = self.con.execute(f"SELECT * FROM serving WHERE {where}", params)
        cols = [d[0] for d in cur.description]
        return Counter(
            tuple(sorted((c, canon(v)) for c, v in zip(cols, r)))
            for r in cur.fetchall()
        )

    def get(self, item_id: str, kpi_type: str) -> Counter:
        return self._rows("id = ? AND kpi_type = ?", [item_id, kpi_type])

    def range(self, genre: str, d0: str, d1: str) -> Counter:
        return self._rows(
            "track_genre = ? AND date IS NOT NULL AND date BETWEEN ? AND ?",
            [genre, d0, d1])

    def close(self) -> None:
        self.con.close()


def row_bag(rows) -> Counter:
    """Spark rows in the ServingOracle's form."""
    return Counter(
        tuple(sorted((c, canon(v)) for c, v in r.asDict().items()))
        for r in rows
    )


def exact_topk(vecs: np.ndarray, query: int, k: int) -> tuple[np.ndarray, np.ndarray]:
    """Exact cosine top-k of ``query`` (itself excluded): (ids, sims)."""
    unit = vecs.astype(np.float64)
    unit /= np.linalg.norm(unit, axis=1, keepdims=True)
    sims = unit @ unit[query]
    sims[query] = -np.inf
    order = np.lexsort((np.arange(sims.size), -sims))[:k]
    return order, sims


def check_similar(rows, vecs: np.ndarray, query: int, k: int) -> tuple[bool, float]:
    """(correct, recall@k) of one similar-item answer: k distinct ids
    other than the query, ranked by similarity, each similarity equal to
    the exact cosine; recall against the exact top-k."""
    ids = [r["vec_id"] for r in rows]
    sims = [r["similarity"] for r in rows]
    truth, exact = exact_topk(vecs, query, k)
    ok = (
        len(ids) == k
        and len(set(ids)) == k
        and query not in ids
        and all(a >= b for a, b in zip(sims, sims[1:]))
        and all(abs(s - exact[i]) <= 1e-5 for i, s in zip(ids, sims))
    )
    return ok, len(set(ids) & set(truth.tolist())) / k


def dedup_clusters(documents_path: str) -> dict[int, int]:
    """doc_id -> cluster_id from the DuckDB twin of ``dedup_clusters``
    over a (doc_id, text) parquet file."""
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM read_parquet('{documents_path}')")
    out = {int(d): int(c) for d, c in con.execute(
        f"SELECT doc_id, cluster_id FROM ({DEDUP_CLUSTERS_SQL})").fetchall()}
    con.close()
    return out
