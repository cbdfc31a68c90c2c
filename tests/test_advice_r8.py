"""Regression tests for the four round-8 ADVICE.md items:

1. (high) ``ingest_bloom_deduplicated`` replay safety: a foreachBatch
   retry AFTER the Bloom state committed used to anti-join the batch
   against its own already-landed epoch partition and overwrite the
   epoch with an EMPTY frame — silent data loss. The confirmation
   corpus now excludes the current epoch, so a replay converges to the
   same landed state.
2. (medium) ``rewrite_ivfpq_cells`` swapped cells with
   rmtree(dst)+rename(src, dst); a crash between the two permanently
   deleted the cell while the layout's _SUCCESS still validated the
   cache. The swap-aside pattern must restore the live cell when the
   rename-in fails.
3. (low) 8×8-bit aHash banding only guaranteed recall to Hamming 7
   while the default radius advertised 12. The 13-band (12×5 + 1×4)
   scheme makes radius-12 recall pigeonhole-exact.
4. (low) ``_round_half_up`` matches DuckDB's binary-value rounding;
   Spark's own F.round uses decimal-string HALF_UP and differs at
   2.675 — the docstring (and this pin) keep the two attributions
   straight.
"""

from __future__ import annotations

import os

import duckdb
import numpy as np
import pytest
from pyspark.sql import functions as F


def _doc_rows(pairs):
    return [
        (i, text, "en", "s0", len(text)) for i, text in pairs
    ]


DOC_COLS = ["doc_id", "text", "lang", "source", "n_chars"]


def test_bloom_ingest_epoch_replay_keeps_landed_docs(spark, tmp_path):
    """Re-invoking the batch handler with the SAME epoch_id (the
    foreachBatch retry after a crash between the Bloom rename and the
    checkpoint commit) must leave the landed corpus unchanged — the
    pre-fix behavior rewrote the replayed epoch partition empty."""
    from music_streaming_etl_glue_spark.streaming.file_pipeline import (
        _bloom_dedup_batch_handler,
    )

    out = str(tmp_path / "clean")
    state = str(tmp_path / "state")
    os.makedirs(state)
    handler = _bloom_dedup_batch_handler(spark, out, state)

    b0 = spark.createDataFrame(
        _doc_rows([(0, "alpha beta gamma"), (1, "delta epsilon zeta")]),
        DOC_COLS,
    )
    # epoch 1 plants one cross-epoch dup (must drop) and one new doc
    b1 = spark.createDataFrame(
        _doc_rows([(10, "alpha beta gamma"), (11, "eta theta iota")]),
        DOC_COLS,
    )
    handler(b0, 0)
    handler(b1, 1)

    def landed():
        return {
            (r.doc_id, r.text)
            for r in spark.read.parquet(out).select("doc_id", "text").collect()
        }

    before = landed()
    assert before == {
        (0, "alpha beta gamma"),
        (1, "delta epsilon zeta"),
        (11, "eta theta iota"),
    }

    # Replay BOTH epochs (worst case: every doc is a Bloom candidate
    # because the filter already committed). Each must converge.
    handler(b1, 1)
    assert landed() == before, "epoch-1 replay lost landed documents"
    handler(b0, 0)
    assert landed() == before, "epoch-0 replay lost landed documents"


def test_bloom_ingest_heals_filter_parked_by_crash_mid_swap(spark, tmp_path):
    """A hard crash between parking ``state/bloom`` and renaming the new
    filter in leaves no live filter. The next epoch must restore the
    parked one before probing: otherwise it admits a cross-epoch dup and
    then deletes the parked filter, losing every earlier epoch's hashes."""
    from music_streaming_etl_glue_spark.streaming.file_pipeline import (
        _bloom_dedup_batch_handler,
    )

    out = str(tmp_path / "clean")
    state = str(tmp_path / "state")
    os.makedirs(state)
    handler = _bloom_dedup_batch_handler(spark, out, state)
    handler(
        spark.createDataFrame(
            _doc_rows([(0, "alpha beta gamma"), (1, "delta epsilon zeta")]),
            DOC_COLS,
        ),
        0,
    )
    bloom = os.path.join(state, "bloom")
    os.rename(bloom, bloom + ".old-1")  # the crash window of epoch 1

    handler(
        spark.createDataFrame(
            _doc_rows([(10, "alpha beta gamma"), (11, "eta theta iota")]),
            DOC_COLS,
        ),
        1,
    )
    landed = sorted(
        r.doc_id for r in spark.read.parquet(out).select("doc_id").collect()
    )
    assert landed == [0, 1, 11], "cross-epoch dup landed after the crash"
    assert os.listdir(state) == ["bloom"]


def test_ivfpq_cell_swap_survives_crash_mid_swap(spark, tmp_path):
    """Force the rename-in of one touched cell to fail: the live cell
    directory must still be present and fully readable afterwards (the
    parked copy is restored before the error propagates), and a retry
    of the same delete must then succeed."""
    from music_streaming_etl_glue_spark.operators.similarity import (
        rewrite_ivfpq_cells,
        write_ivfpq_layout,
    )

    from tests.conftest import SF_SMOKE

    emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
    path = str(tmp_path / "ivfpq")
    write_ivfpq_layout(emb, path)
    all_ids = {
        r.vec_id for r in spark.read.parquet(path).select("vec_id").collect()
    }
    assert {3, 17} <= all_ids

    drop = spark.createDataFrame([(3,), (17,)], ["vec_id"])

    real_rename = os.rename
    fired = []

    def failing_rename(src, dst):
        # fail the FIRST rename INTO the live layout (the swap-in step)
        # only — the handler's restore rename targets the same dst and
        # must go through
        if (
            not fired
            and "assigned_label=" in os.path.basename(dst)
            and dst.startswith(path + os.sep)
            and src.startswith(path + ".rewrite")
        ):
            fired.append(dst)
            raise OSError("injected crash mid-swap")
        real_rename(src, dst)

    os.rename = failing_rename
    try:
        with pytest.raises(OSError, match="injected crash"):
            rewrite_ivfpq_cells(spark, path, drop)
    finally:
        os.rename = real_rename

    # the live layout must still serve EVERY pre-delete row
    survivors = {
        r.vec_id for r in spark.read.parquet(path).select("vec_id").collect()
    }
    assert survivors == all_ids, "crash mid-swap lost live cell rows"

    # and the retry completes the delete cleanly
    touched = rewrite_ivfpq_cells(spark, path, drop)
    assert touched
    after = {
        r.vec_id for r in spark.read.parquet(path).select("vec_id").collect()
    }
    assert after == all_ids - {3, 17}
    # no parked .old-* debris left behind
    assert not [p for p in os.listdir(path) if p.startswith(".old-")]


def test_ahash_banding_pigeonhole_exact_at_radius_12(spark):
    """Adversarial worst case for the old 8×8-bit banding: 12 flips in
    12 DISTINCT 5-bit bands (bits 0,5,10,…,55) — every one of the old
    8-bit bands is touched (bit 56+ none, but bits 0..55 cover bands
    0-6 and 55 is in band 6; use 8,16,… to be exhaustive). With 13
    bands, band 12 (bits 60-63) is intact, so the pair MUST surface.
    Also pins the exact-parity of the band specs between the Spark
    expression and the DuckDB twin's CASE arithmetic."""
    from music_streaming_etl_glue_spark.operators.multimodal import (
        AHASH_BAND_SPECS,
        AHASH_BANDS,
        AHASH_MAX_HAMMING,
        _ahash_band_pairs,
    )

    assert AHASH_BANDS == 13
    assert sum(bin(m).count("1") for _, m in AHASH_BAND_SPECS) == 64
    offs = [o for o, _ in AHASH_BAND_SPECS]
    assert offs == [5 * b for b in range(13)]

    base = 0x0123456789ABCDEF
    # 12 flips, one per 5-bit band 0..11: touches bits 0,5,...,55 —
    # under the OLD 8-bit banding these hit all 8 bands (0,5 in band 0;
    # 10,15 in band 1; … 50,55 in band 6; plus bit 40,45 in band 5…),
    # i.e. bands 0-6; add no bit in 56-63 so old band 7 was intact —
    # strengthen: flip 12 bits spread over old-bands 0-7 AND new-bands
    # 0-11: bits 0,5,10,15,20,25,30,35,40,45,50,55 touch old bands 0-6;
    # bit 58 would be a 13th flip. The guarantee under test is the NEW
    # one: ≤12 flips always leave one of 13 bands intact.
    flips = [5 * b for b in range(12)]
    other = base
    for bit in flips:
        other ^= 1 << bit
    ham = bin(base ^ other).count("1")
    assert ham == 12 == AHASH_MAX_HAMMING

    def signed(v):
        return v - (1 << 64) if v >= 1 << 63 else v

    fp = spark.createDataFrame(
        [(0, signed(base)), (1, signed(other))], ["doc_id", "ahash"]
    )
    pairs = _ahash_band_pairs(fp, AHASH_MAX_HAMMING).collect()
    assert len(pairs) == 1 and pairs[0].hamming == 12

    # boundary: 13 flips, one per band → NO intact band → not emitted
    # (and correctly outside the advertised radius anyway)
    worst = base
    for off, mask in AHASH_BAND_SPECS:
        worst ^= 1 << off
    fp13 = spark.createDataFrame(
        [(0, signed(base)), (1, signed(worst))], ["doc_id", "ahash"]
    )
    assert _ahash_band_pairs(fp13, 64).collect() == []


def test_ahash_band_specs_match_duckdb_case_arithmetic():
    """The SQL twin derives (offset, mask) as (b*5, b==12 ? 15 : 31);
    pin that against AHASH_BAND_SPECS so the two can't drift."""
    from music_streaming_etl_glue_spark.operators.multimodal import (
        AHASH_BAND_SPECS,
        AHASH_BANDS,
    )

    con = duckdb.connect()
    rows = con.execute(
        f"""
        SELECT b, b * 5 AS off,
               CASE WHEN b = {AHASH_BANDS - 1} THEN 15 ELSE 31 END AS mask
        FROM range(0, {AHASH_BANDS}) t(b) ORDER BY b
        """
    ).fetchall()
    assert [(off, mask) for _, off, mask in rows] == AHASH_BAND_SPECS


def test_round_half_up_matches_duckdb_scaled_float_rounding():
    """_round_half_up's only contract is bit-identity with DuckDB
    round() on doubles (both scale by 10^d in float64 first — so BOTH
    say 2.68 for 2.675 despite the binary value being 2.67499…, a
    scaling artifact the docstring now attributes correctly). Sweep a
    dense grid of boundary-adjacent values to pin the identity."""
    from music_streaming_etl_glue_spark.operators.similarity import (
        _round_half_up,
    )

    con = duckdb.connect()
    vals = [2.675, -2.675, 0.0000005, 1.0000005, -1.0000005, 0.123456749,
            0.49999999999999994, -0.49999999999999994]
    # dense boundary sweep: k·1e-6 ± half-ulp-ish jitter around .5
    vals += [k * 1e-6 + j * 5e-7 for k in range(0, 50, 7)
             for j in (-1, 0, 1)]
    for v in vals:
        digits = 2 if abs(v) > 1.5 else 6
        (duck,) = con.execute(
            "SELECT round(?::DOUBLE, ?)", [v, digits]
        ).fetchone()
        ours = float(_round_half_up(np.array([v]), digits)[0])
        assert ours == duck, (v, ours, duck)
    # the scaling artifact the docstring documents: DuckDB and the
    # helper agree on 2.68 (2.675·100 == 267.5 exactly in float64)
    assert float(_round_half_up(np.array([2.675]), 2)[0]) == 2.68
