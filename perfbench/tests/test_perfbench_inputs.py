"""Seeded inputs: same seed, same bytes; another seed, other bytes."""

from __future__ import annotations

import hashlib
import os

import numpy as np

import gen

SPEC = gen.EventSpec(n_events=2_000, n_users=100, n_tracks=50)


def _digest(root: str) -> dict[str, str]:
    out = {}
    for dirpath, _, files in os.walk(root):
        for name in sorted(files):
            path = os.path.join(dirpath, name)
            with open(path, "rb") as fh:
                out[os.path.relpath(path, root)] = hashlib.sha256(fh.read()).hexdigest()
    return out


def _inputs(root, seed: int) -> dict[str, str]:
    gen.write_star(str(root / "star"), seed, SPEC)
    gen.write_embeddings(str(root / "embeddings.parquet"), seed, 200)
    return _digest(str(root))


def test_same_seed_same_bytes(tmp_path):
    assert _inputs(tmp_path / "a", 7) == _inputs(tmp_path / "b", 7)


def test_other_seed_other_bytes(tmp_path):
    a, b = _inputs(tmp_path / "a", 7), _inputs(tmp_path / "b", 8)
    assert a.keys() == b.keys()
    # the nation dimension is fixed; every drawn table differs
    assert [k for k in a if a[k] == b[k]] == [os.path.join("star", "nation.parquet")]


def test_bounded_zipf_has_no_cap_pile_up():
    rng = np.random.default_rng(0)
    ranks = gen.bounded_zipf(rng, 1_000, 200_000)
    assert ranks.min() == 0 and ranks.max() < 1_000
    counts = np.bincount(ranks, minlength=1_000)
    # P(rank r) ∝ 1/(r+1): the last rank gets about 1/1000 of the first
    assert counts[-1] < counts[0] / 100
    assert abs(counts[0] / counts[1] - 2.0) < 0.1


def test_stats_record_skew_and_unmatched_users():
    _, stats = gen.listen_events(np.random.default_rng(3), SPEC)
    assert stats["events"] == SPEC.n_events
    assert 0 < stats["hot_track_share"] <= stats["hot_1pct_tracks_share"] < 1
    assert 0.01 < stats["unmatched_share"] < 0.06


def test_micro_batches_are_seeded_and_carry_late_events(tmp_path):
    spec = gen.EventSpec(n_events=4_000, n_users=100, n_tracks=50)
    a = gen.write_micro_batches(str(tmp_path / "a"), str(tmp_path / "a_dims"), 7, spec)
    gen.write_micro_batches(str(tmp_path / "b"), str(tmp_path / "b_dims"), 7, spec)
    assert _digest(str(tmp_path / "a")) == _digest(str(tmp_path / "b"))
    assert sum(a["batch_events"]) == spec.n_events
    assert len(a["batch_events"]) == gen.N_BATCHES
    assert 0.005 < a["late_share"] < 0.06


def test_documents_are_seeded_with_known_copies(tmp_path):
    import pyarrow.parquet as pq

    a = gen.write_documents(str(tmp_path / "a" / "documents.parquet"), 7)
    gen.write_documents(str(tmp_path / "b" / "documents.parquet"), 7)
    assert _digest(str(tmp_path / "a")) == _digest(str(tmp_path / "b"))
    texts = pq.read_table(str(tmp_path / "a" / "documents.parquet")).column("text").to_pylist()
    assert len(texts) == a["docs"] == gen.N_BASE_DOCS + a["exact_copies"] + a["near_copies"]
    assert all(texts[c] == texts[b] for c, b in a["exact_of"].items())
    for c, b in a["near_of"].items():
        copy, base = texts[c].split(), texts[b].split()
        assert len(copy) == len(base) and copy != base
        # no copied run of 20 words survives (the exact-substring scrub)
        run = longest = 0
        for x, y in zip(copy, base):
            run = run + 1 if x == y else 0
            longest = max(longest, run)
        assert longest < 20
