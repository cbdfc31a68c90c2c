"""Seeded, single-process input generator for the benchmark workloads.

Every table is drawn from ``numpy.random.default_rng(seed)`` and written
with pyarrow, so one seed always gives the same bytes. The engine only
ever sees the parquet files written here.

Popularity (tracks, users, serving keys) is a bounded Zipf drawn by
inverse CDF over the whole catalogue. Capping an unbounded draw
(``np.minimum(rng.zipf(s), cap)``) piles the whole tail onto the cap id
and makes an artificial hot key.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

GENRES = (
    "pop", "rock", "jazz", "hiphop", "classical", "electronic", "country",
    "latin",
)
#: 2024-01-01T00:00:00Z in microseconds
EPOCH_US = 1_704_067_200 * 1_000_000
DAY_US = 86_400 * 1_000_000
N_NATIONS = 25
DAYS = 30
#: share of events whose user id has no customer row
UNMATCHED_SHARE = 0.03
ZIPF_S = 1.0
N_LABELS = 16
LABEL_NOISE = 0.6
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
EMBED_DIMS = 64


def bounded_zipf(rng: np.random.Generator, n_items: int, size: int) -> np.ndarray:
    """Ranks in ``[0, n_items)`` with P(rank r) ∝ 1 / (r + 1)^ZIPF_S, drawn
    by inverse CDF over the whole catalogue (no cap, no pile-up)."""
    cdf = np.cumsum(1.0 / np.arange(1, n_items + 1, dtype=np.float64) ** ZIPF_S)
    cdf /= cdf[-1]
    return np.minimum(np.searchsorted(cdf, rng.random(size), side="right"),
                      n_items - 1)


def top_share(ids: np.ndarray, frac: float = 0.0) -> float:
    """Share of draws landing on the most popular id (``frac`` = 0) or on
    the most popular ``frac`` of distinct ids."""
    counts = np.sort(np.unique(ids, return_counts=True)[1])[::-1]
    top = max(1, int(round(frac * counts.size))) if frac else 1
    return float(counts[:top].sum() / counts.sum())


def _write(table: pa.Table, path: str) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path, compression="snappy")


# ---------------------------------------------------------------------------
# listen events + user / nation dimensions
# ---------------------------------------------------------------------------

@dataclass(frozen=True)
class EventSpec:
    n_events: int
    n_users: int
    n_tracks: int


def dimension_tables(rng: np.random.Generator, n_users: int) -> dict[str, pa.Table]:
    customer = pa.table({
        "c_custkey": pa.array(np.arange(n_users, dtype=np.int64)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_users)]),
        "c_nationkey": pa.array(
            rng.integers(0, N_NATIONS, n_users).astype(np.int32)),
        "c_acctbal": pa.array(np.round(rng.uniform(-999, 9999, n_users), 2)),
        "c_mktsegment": pa.array(
            [SEGMENTS[i] for i in rng.integers(0, len(SEGMENTS), n_users)]),
    })
    nation = pa.table({
        "n_nationkey": pa.array(np.arange(N_NATIONS, dtype=np.int32)),
        "n_name": pa.array([f"NATION_{i}" for i in range(N_NATIONS)]),
        "n_regionkey": pa.array((np.arange(N_NATIONS) % 5).astype(np.int32)),
    })
    return {"customer": customer, "nation": nation}


def listen_events(rng: np.random.Generator, spec: EventSpec) -> tuple[pa.Table, dict]:
    """Listen-event fact in the engine's ``events`` layout: the track id
    rides in ``props`` as ``{"k": <track>}`` and the genre in
    ``event_type``. Track and user popularity are bounded Zipf; a share of
    events carries user ids with no customer row (unmatched in enrich)."""
    n = spec.n_events
    track_of_rank = rng.permutation(spec.n_tracks)
    user_of_rank = rng.permutation(spec.n_users)
    genre_of_track = rng.integers(0, len(GENRES), spec.n_tracks)
    tracks = track_of_rank[bounded_zipf(rng, spec.n_tracks, n)]
    users = user_of_rank[bounded_zipf(rng, spec.n_users, n)]
    users = users.astype(np.int64)
    unmatched = rng.random(n) < UNMATCHED_SHARE
    users[unmatched] = spec.n_users + rng.integers(
        0, max(1, spec.n_users // 10), int(unmatched.sum()))
    ts = EPOCH_US + rng.integers(0, DAYS * DAY_US, n)
    minutes = np.round(np.maximum(rng.gamma(2.0, 1.6, n), 0.01), 2)
    table = pa.table({
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "ts": pa.array(ts, type=pa.timestamp("us")),
        "user_id": pa.array(users),
        "event_type": pa.array([GENRES[g] for g in genre_of_track[tracks]]),
        "value": pa.array(minutes),
        "props": pa.array([f'{{"k": {t}}}' for t in tracks.tolist()]),
    })
    stats = {
        "events": n,
        "users": spec.n_users,
        "tracks": spec.n_tracks,
        "days": DAYS,
        "hot_track_share": round(top_share(tracks), 4),
        "hot_1pct_tracks_share": round(top_share(tracks, 0.01), 4),
        "hot_user_share": round(top_share(users[~unmatched]), 4),
        "unmatched_share": round(float(unmatched.mean()), 4),
    }
    return table, stats


def write_star(out_dir: str, seed: int, spec: EventSpec) -> dict:
    """events + customer + nation under ``out_dir`` (catalog layout)."""
    rng = np.random.default_rng(seed)
    events, stats = listen_events(rng, spec)
    _write(events, os.path.join(out_dir, "events.parquet"))
    for name, table in dimension_tables(rng, spec.n_users).items():
        _write(table, os.path.join(out_dir, f"{name}.parquet"))
    return stats


# ---------------------------------------------------------------------------
# embeddings (similar-item reads)
# ---------------------------------------------------------------------------

def write_embeddings(path: str, seed: int, n_vecs: int) -> np.ndarray:
    """Clustered unit vectors in the engine's ``embeddings`` layout
    (vec_id, embedding float[64], label). Returns the float32 matrix the
    exact top-k reference is computed from."""
    rng = np.random.default_rng(seed)
    centers = rng.normal(size=(N_LABELS, EMBED_DIMS))
    labels = rng.integers(0, N_LABELS, n_vecs)
    vecs = centers[labels] + LABEL_NOISE * rng.normal(size=(n_vecs, EMBED_DIMS))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    _write(pa.table({
        "vec_id": pa.array(np.arange(n_vecs, dtype=np.int64)),
        "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
        "label": pa.array(labels.astype(np.int32)),
    }), path)
    return vecs


# ---------------------------------------------------------------------------
# micro-batch files (incremental ingest)
# ---------------------------------------------------------------------------

#: share of a batch's events that arrive one batch late
LATE_SHARE = 0.03
#: micro-batch files per stream: the first creates the fact table, the
#: second appends to it
N_BATCHES = 2


def write_micro_batches(staging_dir: str, dims_dir: str, seed: int,
                        spec: EventSpec) -> dict:
    """A time-ordered listen-event stream cut into N_BATCHES files
    ``batch-000.parquet`` … under ``staging_dir``, plus the customer and
    nation dimensions under ``dims_dir``. A LATE_SHARE of each batch's
    events lands in the next file instead, inside an earlier file's time
    range."""
    rng = np.random.default_rng([seed, 2])
    events, stats = listen_events(rng, spec)
    order = np.argsort(events.column("ts").to_numpy(), kind="stable")
    events = events.take(order)
    batch = np.arange(spec.n_events) * N_BATCHES // spec.n_events
    late = (rng.random(spec.n_events) < LATE_SHARE) & (batch < N_BATCHES - 1)
    batch = batch + late
    for i in range(N_BATCHES):
        _write(events.filter(pa.array(batch == i)),
               os.path.join(staging_dir, f"batch-{i:03d}.parquet"))
    for name, table in dimension_tables(rng, spec.n_users).items():
        _write(table, os.path.join(dims_dir, f"{name}.parquet"))
    stats.update(
        batches=N_BATCHES,
        batch_events=np.bincount(batch, minlength=N_BATCHES).tolist(),
        late_share=round(float(late.mean()), 4),
    )
    return stats


# ---------------------------------------------------------------------------
# documents (LLM corpus)
# ---------------------------------------------------------------------------

#: the testdata corpus' vocabulary: English stopwords + technical words
STOP_WORDS = ("the", "a", "of", "and", "to", "in", "is", "it")
CONTENT_WORDS = (
    "spark", "window", "merge", "table", "column", "vector", "stream",
    "value", "data", "small", "join", "filter", "big", "group", "hash",
    "customer", "sort", "order", "slow", "line", "part", "fast", "row",
    "agg", "key", "query", "scan", "batch",
)
#: words of the non-English documents (no English stopword among them)
FOREIGN_WORDS = (
    "der", "die", "das", "und", "nicht", "mit", "sich", "auf", "eine",
    "los", "que", "por", "para", "con", "une", "les", "des", "est", "pas",
    "sur", "nous", "vous", "dans", "avec",
)
#: base documents, before the planted copies
N_BASE_DOCS = 300
STOP_SHARE = 0.15
N_SOURCES = 10
#: shares of the base corpus: non-English (dropped by the language gate),
#: too short (dropped by the word-count rule), carrying an e-mail address
FOREIGN_SHARE = 0.15
SHORT_SHARE = 0.05
PII_SHARE = 0.05
#: planted copies, as shares of the base corpus: exact copies, and
#: near-duplicate copies with one word replaced every NEAR_DUP_EVERY words
#: (so no copied span reaches the 20-token exact-substring scrub)
EXACT_DUP_SHARE = 0.05
NEAR_DUP_SHARE = 0.08
NEAR_DUP_EVERY = 16


def _english(rng: np.random.Generator, n_tokens: int) -> list[str]:
    stop = rng.random(n_tokens) < STOP_SHARE
    words = np.where(
        stop,
        np.array(STOP_WORDS)[rng.integers(0, len(STOP_WORDS), n_tokens)],
        np.array(CONTENT_WORDS)[rng.integers(0, len(CONTENT_WORDS), n_tokens)])
    return words.tolist()


def _near_copy(rng: np.random.Generator, words: list[str]) -> list[str]:
    out = list(words)
    for i in range(NEAR_DUP_EVERY // 2, len(out), NEAR_DUP_EVERY):
        choices = [w for w in CONTENT_WORDS if w != out[i]]
        out[i] = choices[rng.integers(len(choices))]
    return out


def write_documents(path: str, seed: int) -> dict:
    """A ``documents`` table (doc_id, text, lang, source, n_chars) of
    N_BASE_DOCS base documents followed by planted exact and near-duplicate
    copies of English base documents. Returns the ground truth: which
    doc_id copies which, plus the corpus shares."""
    rng = np.random.default_rng([seed, 3])
    texts, langs = [], []
    n_base = N_BASE_DOCS
    kind = rng.random(n_base)
    for i in range(n_base):
        if kind[i] < FOREIGN_SHARE:
            n = int(rng.integers(30, 90))
            texts.append(np.array(FOREIGN_WORDS)[
                rng.integers(0, len(FOREIGN_WORDS), n)].tolist())
            langs.append("de")
            continue
        short = kind[i] < FOREIGN_SHARE + SHORT_SHARE
        words = _english(rng, int(rng.integers(8, 16) if short else rng.integers(30, 90)))
        if rng.random() < PII_SHARE:
            words.insert(int(rng.integers(len(words))), f"user{i}@example.com")
        texts.append(words)
        langs.append("en")
    english = [i for i in range(n_base)
               if langs[i] == "en" and len(texts[i]) >= 30]
    picks = rng.permutation(english)
    n_exact = int(round(EXACT_DUP_SHARE * n_base))
    n_near = int(round(NEAR_DUP_SHARE * n_base))
    exact_of, near_of = {}, {}
    for base in picks[:n_exact].tolist():
        exact_of[len(texts)] = base
        texts.append(texts[base])
        langs.append("en")
    for base in picks[n_exact:n_exact + n_near].tolist():
        near_of[len(texts)] = base
        texts.append(_near_copy(rng, texts[base]))
        langs.append("en")
    joined = [" ".join(words) for words in texts]
    _write(pa.table({
        "doc_id": pa.array(np.arange(len(joined), dtype=np.int64)),
        "text": pa.array(joined),
        "lang": pa.array(langs),
        "source": pa.array(
            [f"src{s}" for s in rng.integers(0, N_SOURCES, len(joined))]),
        "n_chars": pa.array([len(t) for t in joined], type=pa.int64()),
    }), path)
    return {
        "docs": len(joined),
        "base_docs": n_base,
        "exact_copies": n_exact,
        "near_copies": n_near,
        "foreign_share": round(float((kind < FOREIGN_SHARE).mean()), 4),
        "exact_of": exact_of,
        "near_of": near_of,
    }
