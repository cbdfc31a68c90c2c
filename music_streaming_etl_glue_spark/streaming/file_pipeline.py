"""Checkpointed incremental file ingestion.

The reference discovers new fact files by diffing an S3 listing against a
JSON ledger it maintains by hand
(``/root/reference/dags/music_streaming_pipeline.py:302-350, 433-482``).
Structured Streaming's file source + checkpoint gives the same
exactly-once file tracking natively; ``Trigger.AvailableNow`` turns it
into a batch-increment run (process everything new, then stop) — the same
cadence as the reference's scheduled DAG, minus the bookkeeping code.
"""

from __future__ import annotations

import glob
import os
import time

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from music_streaming_etl_glue_spark.plans.layout import (
    _build_layout_atomic,
    _heal_dir,
    _swap_dir,
)
from music_streaming_etl_glue_spark.sources.catalog import convert_nanos_ts

def _events_file_schema(ts_type: T.DataType) -> T.StructType:
    return T.StructType(
        [
            T.StructField("event_id", T.LongType(), True),
            T.StructField("ts", ts_type, True),
            T.StructField("user_id", T.LongType(), True),
            T.StructField("event_type", T.StringType(), True),
            T.StructField("value", T.DoubleType(), True),
            T.StructField("props", T.StringType(), True),
        ]
    )


#: Declared schema for events files whose ``ts`` is parquet
#: TIMESTAMP(NANOS) — surfaced as long nanoseconds under ``nanosAsLong``
#: (see sources/catalog.py). Kept for callers with known-nanos inputs.
EVENTS_FILE_SCHEMA = _events_file_schema(T.LongType())


def stream_events(spark: SparkSession, input_dir: str) -> DataFrame:
    """File-source stream of listen events.

    A stream needs a DECLARED schema, and the right declaration for
    ``ts`` depends on how the files were written: TIMESTAMP(NANOS) must
    be declared long (``nanosAsLong``) and divided down, while
    TIMESTAMP(MICROS) files must be declared timestamp — declaring long
    over a micros file makes Spark silently cast and every event lands
    in 1970. So the schema is taken from a one-time driver-side footer
    peek of the files already in ``input_dir`` (empty dir → timestamp,
    today's writer layout); batch reads infer per-file and never hit
    this."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    try:
        inferred = spark.read.parquet(input_dir).schema["ts"].dataType
    except Exception:
        inferred = T.TimestampNTZType()
    raw = (
        spark.readStream.schema(_events_file_schema(inferred))
        .option("maxFilesPerTrigger", 16)
        .parquet(input_dir)
    )
    raw = convert_nanos_ts(raw, "ts")
    # watermarks demand TIMESTAMP (not NTZ); the session runs UTC, so the
    # cast is value-preserving and batch twins compare equal
    return raw.withColumn("ts", raw["ts"].cast("timestamp"))


def _idempotent_epoch_writer(output_dir: str):
    """foreachBatch sink that overwrites an epoch-keyed partition instead
    of blind-appending: a replayed epoch (failure between the write and
    the checkpoint commit, or a foreachBatch retry) rewrites the same
    partition rather than duplicating rows — this is what upgrades the
    file-source's at-least-once foreachBatch contract to exactly-once."""

    def write(df: DataFrame, epoch_id: int) -> None:
        df.write.mode("overwrite").parquet(f"{output_dir}/epoch={epoch_id}")

    return write


def ingest_deduplicated(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    key: str = "event_id",
    watermark: str = "1 hour",
) -> None:
    """Batch-increment ingestion with streaming deduplication on ``key``:
    replayed/duplicated events are dropped across micro-batches.
    ``dropDuplicatesWithinWatermark`` is what actually bounds the dedup
    state (a plain ``dropDuplicates([key])`` keeps one entry per key
    forever even under a watermark); duplicates arriving later than the
    watermark horizon are out of contract. The reference has no duplicate
    handling at all — replayed files double-count."""
    stream = (
        stream_events(spark, input_dir)
        .withWatermark("ts", watermark)
        .dropDuplicatesWithinWatermark([key])
    )
    q = (
        stream.writeStream.trigger(availableNow=True)
        .option("checkpointLocation", checkpoint_dir)
        .foreachBatch(_idempotent_epoch_writer(output_dir))
        .start()
    )
    q.awaitTermination()


def ingest_available_now(
    spark: SparkSession, input_dir: str, output_dir: str, checkpoint_dir: str
) -> int:
    """One batch-increment run: land every not-yet-processed file in the
    validated parquet fact table, exactly once, then stop.

    Exactly-once = checkpointed file tracking (no reprocessing across
    runs) + idempotent epoch-partitioned writes (no duplicates when an
    epoch replays after a failure mid-commit).

    Returns the number of micro-batches executed (0 → nothing new)."""
    stream = stream_events(spark, input_dir)
    batches = 0
    epoch_writer = _idempotent_epoch_writer(output_dir)

    def count_batches(df: DataFrame, epoch_id: int) -> None:
        nonlocal batches
        batches += 1
        epoch_writer(df, epoch_id)

    q = (
        stream.writeStream.trigger(availableNow=True)
        .option("checkpointLocation", checkpoint_dir)
        .foreachBatch(count_batches)
        .start()
    )
    q.awaitTermination()
    return batches


#: group-entry count above which the epoch committer triggers the
#: metadata-only rewrite_manifests pass — 64 tiny per-epoch groups
#: merge into ~1 full group in one O(groups) JSON pass, keeping the
#: version manifest's entry count bounded for arbitrarily long streams
_GROUP_REWRITE_TRIGGER = 64


def _lake_epoch_committer(
    table_dir: str,
    txn_prefix: str = "epoch",
    auto_compact_files: int | None = None,
    compact_target: int = 8,
    bloom_cols: list[str] | None = None,
):
    """foreachBatch sink that lands each micro-batch as a lakehouse
    snapshot commit (``plans.lakehouse.commit_append``) keyed by the
    epoch id: a replayed epoch (foreachBatch retry, or a crash between
    the write and the checkpoint commit) finds its ``txn_key`` in the
    manifest log and no-ops — the same exactly-once upgrade as
    :func:`_idempotent_epoch_writer`, but with snapshot isolation for
    concurrent readers and time travel across epochs (one snapshot per
    landed micro-batch) instead of an epoch-partitioned directory.

    ``auto_compact_files`` bounds the small-files accumulation every
    per-epoch committer suffers: when the landed snapshot's file count
    exceeds it, the sink opportunistically compacts to
    ``compact_target`` files in the same trigger (race-safe — a
    :class:`~...lakehouse.ConcurrentCommitError` from a racing writer
    just skips this round's compaction; the next epoch retries). NOTE:
    compaction is a non-append commit, so a downstream change-feed
    stream of this table must run with ``skip_rewrites=true``.

    Independently of file compaction, the sink bounds MANIFEST-LIST
    fragmentation on format-2 tables: each epoch's append packs a fresh
    (tiny) group manifest, so a long-running stream would grow one
    group entry per epoch and planning would degenerate back to
    O(epochs). When the group-entry count exceeds
    ``_GROUP_REWRITE_TRIGGER``, the sink runs the metadata-only
    :func:`~...lakehouse.rewrite_manifests` (zero data I/O,
    file-set-preserving — downstream change feeds pass through it
    without ``skip_rewrites``)."""
    from music_streaming_etl_glue_spark.plans import lakehouse

    def write(df: DataFrame, epoch_id: int) -> None:
        lakehouse.commit_append(
            df,
            table_dir,
            txn_key=f"{txn_prefix}-{epoch_id}",
            # per-epoch bloom side files: streamed tables get the same
            # keyed-delete pruning appends get (compaction re-lands
            # them for its output, so the feature survives the
            # auto-compact below)
            bloom_cols=bloom_cols,
        )
        v = lakehouse.current_version(table_dir)
        man = lakehouse._load_manifest(table_dir, v, resolve=False)
        if len(man.get("groups", ())) > _GROUP_REWRITE_TRIGGER:
            try:
                lakehouse.rewrite_manifests(table_dir)
            except lakehouse.ConcurrentCommitError:
                pass  # a racer advanced the table; rewrite next epoch
        if auto_compact_files is None:
            return
        n_files = lakehouse.manifest_n_files(man)
        if n_files > auto_compact_files:
            try:
                lakehouse.compact(
                    df.sparkSession, table_dir, compact_target
                )
            except lakehouse.ConcurrentCommitError:
                pass  # a racer advanced the table; compact next epoch

    return write


def ingest_lake_committed(
    spark: SparkSession,
    input_dir: str,
    table_dir: str,
    checkpoint_dir: str,
) -> int:
    """One batch-increment run landing new event files as lakehouse
    snapshot commits, exactly once; returns the micro-batch count.
    Readers see each epoch atomically (never a half-landed file set) and
    can time-travel to any prior epoch's snapshot."""
    batches = 0
    committer = _lake_epoch_committer(table_dir)

    def handle(df: DataFrame, epoch_id: int) -> None:
        nonlocal batches
        batches += 1
        committer(df, epoch_id)

    q = (
        stream_events(spark, input_dir)
        .writeStream.trigger(availableNow=True)
        .option("checkpointLocation", checkpoint_dir)
        .foreachBatch(handle)
        .start()
    )
    q.awaitTermination()
    return batches


DOCUMENTS_FILE_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), True),
        T.StructField("text", T.StringType(), True),
        T.StructField("lang", T.StringType(), True),
        T.StructField("source", T.StringType(), True),
        T.StructField("n_chars", T.LongType(), True),
    ]
)


def stream_documents(
    spark: SparkSession, input_dir: str, files_per_trigger: int = 16
) -> DataFrame:
    """File-source stream of documents (the training-data landing zone):
    each micro-batch is a set of newly-landed parquet files. An
    ``ingest_ts`` processing-time column is attached at read — documents
    carry no event time, and the near-dedup state bound needs one."""
    from pyspark.sql import functions as F

    raw = (
        spark.readStream.schema(DOCUMENTS_FILE_SCHEMA)
        .option("maxFilesPerTrigger", files_per_trigger)
        .parquet(input_dir)
    )
    return raw.withColumn("ingest_ts", F.current_timestamp())


def ingest_near_deduplicated(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    watermark: str = "1 hour",
) -> None:
    """Streaming NEAR-duplicate dedup — the dedup ladder's streaming
    rung: documents whose normalized token-set fingerprint
    (``text.fingerprints``: order- and duplication-invariant, the
    ladder's 'normalized' tier) was already admitted within the
    watermark horizon are dropped in-stream; only the fingerprint (not
    the document) is held in state, and
    ``dropDuplicatesWithinWatermark`` expires it past the horizon —
    bounded state at any throughput. Batch twins
    (``dedup.dedup_normalized`` …) dedup the corpus at rest; this keeps
    an APPEND-ONLY landing zone clean as files arrive, with the same
    epoch-idempotent exactly-once sink as ``ingest_deduplicated``.
    Cross-horizon duplicates are out of contract (re-run the batch
    ladder for full-history dedup)."""
    from music_streaming_etl_glue_spark.operators.text import (
        normalized_fingerprint,
    )

    stream = (
        stream_documents(spark, input_dir)
        .withColumn("normalized_fp", normalized_fingerprint())
        .withWatermark("ingest_ts", watermark)
        .dropDuplicatesWithinWatermark(["normalized_fp"])
        .drop("ingest_ts")
    )
    q = (
        stream.writeStream.trigger(availableNow=True)
        .option("checkpointLocation", checkpoint_dir)
        .foreachBatch(_idempotent_epoch_writer(output_dir))
        .start()
    )
    q.awaitTermination()


def _bloom_dedup_batch_handler(
    spark: SparkSession,
    output_dir: str,
    state_dir: str,
    bits: int | None = None,
    hashes: int | None = None,
):
    """Build the per-micro-batch handler for
    :func:`ingest_bloom_deduplicated` (module-level so the replay test
    can re-invoke it with the SAME epoch_id, simulating a foreachBatch
    retry after a crash anywhere between the epoch write, the Bloom
    rename and the checkpoint commit)."""
    import os

    from music_streaming_etl_glue_spark.operators.dedup import (
        BLOOM_BITS,
        BLOOM_HASHES,
        bloom_build,
        bloom_probe,
    )

    bits = BLOOM_BITS if bits is None else bits
    hashes = BLOOM_HASHES if hashes is None else hashes
    bloom_path = os.path.join(state_dir, "bloom")
    epoch_writer = _idempotent_epoch_writer(output_dir)

    def dedup_and_land(batch_df: DataFrame, epoch_id: int) -> None:
        # a hard crash mid-swap leaves the filter parked: restore it
        # before the probe, or the replay admits every duplicate
        _heal_dir(
            bloom_path,
            sorted(glob.glob(f"{bloom_path}.old-*")),
            debris=glob.glob(f"{bloom_path}.epoch-*"),
        )
        w = Window.partitionBy("text_hash").orderBy("doc_id")
        batch = (
            batch_df.drop("ingest_ts")
            .withColumn("text_hash", F.md5("text"))
            .withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .drop("__rn")
            .localCheckpoint()
        )
        if os.path.exists(bloom_path):
            bloom = spark.read.parquet(bloom_path)
            flags = bloom_probe(batch, bloom, bits=bits, hashes=hashes)
            flagged = batch.join(flags, "doc_id").localCheckpoint()
            clean = flagged.filter(~F.col("bloom_candidate")).drop(
                "bloom_candidate"
            )
            candidates = flagged.filter("bloom_candidate").drop(
                "bloom_candidate"
            )
            if candidates.limit(1).count():
                # Confirmation corpus = every LANDED epoch EXCEPT this
                # one (ADVICE r8, high): on a foreachBatch retry after
                # the Bloom state committed, the whole batch flags as
                # candidates — if the corpus read saw the batch's own
                # already-written epoch=N partition, every doc would
                # anti-join away and the idempotent writer would
                # overwrite epoch=N with an EMPTY frame, silently losing
                # the landed documents while the Bloom still marks them
                # seen. Excluding the current epoch makes the replay
                # converge: survivors re-admit, the partition rewrites
                # with identical content, and the Bloom OR-fold is
                # idempotent. The ``epoch`` column is discovered from
                # the ``epoch=N`` partition directories the idempotent
                # writer lays down.
                corpus_hashes = (
                    spark.read.parquet(output_dir)
                    .filter(F.col("epoch") != F.lit(epoch_id))
                    .select(F.md5("text").alias("text_hash"))
                    .distinct()
                )
                admitted = clean.unionByName(
                    candidates.join(corpus_hashes, "text_hash", "left_anti")
                )
            else:
                admitted = clean
        else:
            bloom = None
            admitted = batch
        admitted = admitted.localCheckpoint()
        epoch_writer(admitted.drop("text_hash"), epoch_id)
        new_words = bloom_build(
            admitted.select("text_hash"), bits=bits, hashes=hashes
        )
        merged = (
            bloom.unionByName(new_words)
            .groupBy("word")
            .agg(F.expr("bit_or(bitmap)").alias("bitmap"))
            if bloom is not None
            else new_words
        )
        # read-then-replace: write beside, swap into place (the next
        # epoch reads this path; a crash mid-write must not corrupt it)
        tmp = f"{bloom_path}.epoch-{epoch_id}"
        merged.coalesce(1).write.mode("overwrite").parquet(tmp)
        _swap_dir(bloom_path, tmp, f"{bloom_path}.old-{epoch_id}")

    return dedup_and_land


def ingest_bloom_deduplicated(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    state_dir: str,
    bits: int | None = None,
    hashes: int | None = None,
    files_per_trigger: int = 16,
) -> None:
    """Streaming EXACT-dedup ingest with the ``dedup_incremental_bloom``
    probe-mask discipline (VERDICT r7 item #8) — the batch family's
    streaming twin. Unlike ``ingest_deduplicated``'s
    dropDuplicatesWithinWatermark (whose per-key state grows with the
    horizon and whose contract EXPIRES past it), this keeps no
    streaming state at all and its dedup horizon is the whole corpus:

    * the cross-batch artifact is the persisted Bloom relation at
      ``state_dir`` — ≤ bits/64 (word, bitmap) rows (~128 KB at the
      default 2²⁰ bits) no matter how many documents ever landed;
    * each micro-batch probes it broadcast-side; docs the filter has
      never seen admit WITHOUT touching the corpus (the common case —
      new content never pays a corpus read);
    * only Bloom candidates (true dups + ~FP-rate of the batch) are
      confirmed with an anti-join against the LANDED corpus's text
      hashes — EXCLUDING the current epoch's own partition, so a
      foreachBatch retry that replays an already-landed epoch re-admits
      its documents instead of anti-joining them against themselves
      (ADVICE r8) — false positives cost a read, never a wrongly
      dropped document; survivors are exactly the first-occurrence set;
    * the admitted hashes are OR-folded into the filter and the epoch
      lands via the idempotent partition writer. Both per-epoch effects
      are replay-safe: OR is idempotent and the epoch partition
      overwrites, so a foreachBatch retry converges to the same state.

    Within a batch, the first occurrence (lowest doc_id) of a text
    wins — the same tie Spark's batch ``dedup_exact`` canonicalizes."""
    q = (
        stream_documents(spark, input_dir, files_per_trigger)
        .writeStream.trigger(availableNow=True)
        .option("checkpointLocation", checkpoint_dir)
        .foreachBatch(
            _bloom_dedup_batch_handler(
                spark, output_dir, state_dir, bits=bits, hashes=hashes
            )
        )
        .start()
    )
    q.awaitTermination()


def _fingerprint_dedup_batch_handler(
    spark: SparkSession,
    output_dir: str,
    state_dir: str,
    fingerprint_fn,
    max_hamming: int,
):
    """Per-micro-batch NEAR-dedup handler, parameterized by the
    modality's fingerprint kernel (image aHash, audio waveform
    fingerprint, any future (doc_id, 64-bit hash) producer) — the
    within-batch drop, replay-safe cross-batch banded join, and
    epoch-partitioned fingerprint state are modality-independent.
    Module-level for the same replay-test reason as
    :func:`_bloom_dedup_batch_handler`. ``fingerprint_fn`` maps a
    documents frame to (doc_id, ahash)."""
    import os

    from music_streaming_etl_glue_spark.operators.multimodal import (
        _mih_pairs,
        mih_cross_matches,
    )

    fp_dir = os.path.join(state_dir, "fp")
    epoch_writer = _idempotent_epoch_writer(output_dir)

    def dedup_and_land(batch_df: DataFrame, epoch_id: int) -> None:
        batch = batch_df.drop("ingest_ts").localCheckpoint()
        fp = fingerprint_fn(batch).localCheckpoint()
        # within-batch: a doc near a smaller-id doc in the SAME batch
        # drops (first-occurrence-wins, the streaming contract; on
        # chain-free near-dup graphs this equals the batch CC survivor
        # set — a chained family may keep one extra representative,
        # the standard price of greedy streaming near-dedup). Candidate
        # generator is the MIH kernel since r10 (VERDICT r9 item #2) —
        # identical matches, 16-bit band buckets that stay sparse as
        # the landed corpus grows.
        within_drops = _mih_pairs(fp, max_hamming).select(
            F.col("doc_id_b").alias("doc_id")
        ).distinct()
        survivors_fp = fp.join(within_drops, "doc_id", "left_anti")
        # cross-batch: MIH ball-probe join against the LANDED
        # fingerprint state, EXCLUDING this epoch's own partition so a
        # foreachBatch retry re-admits instead of self-anti-joining
        # (the r8 ADVICE replay bug, applied here from day one)
        if os.path.exists(fp_dir):
            landed = spark.read.parquet(fp_dir).filter(
                F.col("epoch") != F.lit(epoch_id)
            ).select("doc_id", "ahash")
            cross = mih_cross_matches(survivors_fp, landed, max_hamming)
            survivors_fp = survivors_fp.join(cross, "doc_id", "left_anti")
        survivors_fp = survivors_fp.localCheckpoint()
        epoch_writer(batch.join(survivors_fp.select("doc_id"), "doc_id"),
                     epoch_id)
        # fingerprint state: 16 bytes/doc, epoch-partitioned and
        # idempotently overwritten — the replay-safe cross-batch index
        survivors_fp.write.mode("overwrite").parquet(
            os.path.join(fp_dir, f"epoch={epoch_id}")
        )

    return dedup_and_land


def _image_dedup_batch_handler(
    spark: SparkSession,
    output_dir: str,
    state_dir: str,
    max_hamming: int | None = None,
):
    from music_streaming_etl_glue_spark.operators.multimodal import (
        AHASH_MAX_HAMMING,
        image_ahash,
    )

    return _fingerprint_dedup_batch_handler(
        spark,
        output_dir,
        state_dir,
        image_ahash,
        AHASH_MAX_HAMMING if max_hamming is None else max_hamming,
    )


def _audio_dedup_batch_handler(
    spark: SparkSession,
    output_dir: str,
    state_dir: str,
    max_hamming: int | None = None,
):
    from music_streaming_etl_glue_spark.operators.multimodal import (
        AUDIO_FP_MAX_HAMMING,
        audio_fingerprint,
    )

    def fp(docs: DataFrame) -> DataFrame:
        return audio_fingerprint(docs).select(
            "doc_id", F.col("afp").alias("ahash")
        )

    return _fingerprint_dedup_batch_handler(
        spark,
        output_dir,
        state_dir,
        fp,
        AUDIO_FP_MAX_HAMMING if max_hamming is None else max_hamming,
    )


def _video_dedup_batch_handler(
    spark: SparkSession,
    output_dir: str,
    state_dir: str,
    min_shared: int | None = None,
    frame_hash_fn=None,
    max_df: int | None = None,
):
    """Per-micro-batch handler for :func:`ingest_video_deduplicated`.
    Video's near-dup signal is SET overlap of per-frame hashes (≥
    ``min_shared`` distinct shared frames), not a single 64-bit
    fingerprint, so the cross-batch state is the (doc_id, fhash)
    relation — still bytes-per-frame, never the clips — and both the
    within-batch and cross-batch drops are one hash-keyed join + a
    per-PAIR distinct count (a probe drops only if some SINGLE other
    clip shares ≥ ``min_shared`` hashes with it, exactly the batch
    ``video_near_dups`` semantics — ADVICE r9 fixed the cross-batch
    side, which previously pooled shared hashes across the whole landed
    corpus). Same replay-safe epoch discipline as the image/audio
    handlers. ``frame_hash_fn`` (documents → (doc_id, fhash) rows)
    defaults to the real decode+aHash lane; tests inject handcrafted
    hash sets to pin the pair semantics."""
    import os

    from music_streaming_etl_glue_spark.operators.multimodal import (
        VIDEO_FHASH_MAX_DF,
        VIDEO_MIN_SHARED_FRAMES,
        _frame_hash_pairs,
        video_frame_hashes,
    )

    min_shared = (
        VIDEO_MIN_SHARED_FRAMES if min_shared is None else min_shared
    )
    max_df = VIDEO_FHASH_MAX_DF if max_df is None else max_df
    if frame_hash_fn is None:
        frame_hash_fn = video_frame_hashes
    fp_dir = os.path.join(state_dir, "fp")
    epoch_writer = _idempotent_epoch_writer(output_dir)

    def dedup_and_land(batch_df: DataFrame, epoch_id: int) -> None:
        batch = batch_df.drop("ingest_ts").localCheckpoint()
        fh = (
            frame_hash_fn(batch)
            .select("doc_id", "fhash")
            .distinct()
            .localCheckpoint()
        )
        landed = None
        if os.path.exists(fp_dir):
            landed = spark.read.parquet(fp_dir).filter(
                F.col("epoch") != F.lit(epoch_id)
            ).select("doc_id", "fhash").distinct().localCheckpoint()
        # frequent-frame-hash guard (VERDICT r9 item #4, streaming
        # form): df is measured over the full horizon seen so far
        # (landed state ∪ this batch — disjoint doc sets, the replay
        # epoch being excluded above), so a boilerplate card that went
        # hot in earlier epochs stays excluded for every later probe.
        # Hot hashes leave the JOIN relations only; the persisted state
        # keeps every hash (hotness is horizon-dependent, state is not).
        horizon = (
            fh.select("fhash") if landed is None
            else fh.select("fhash").unionAll(landed.select("fhash"))
        )
        hot = (
            horizon.groupBy("fhash")
            .agg(F.count("*").alias("df"))
            .filter(F.col("df") > max_df)
            .select("fhash")
        )
        fh_eff = fh.join(hot, "fhash", "left_anti")
        drops = _frame_hash_pairs(fh_eff, min_shared).select(
            F.col("doc_id_b").alias("doc_id")
        )
        if landed is not None:
            # PER-PAIR shared-frame count, mirroring batch
            # video_near_dups exactly (ADVICE r9, medium: the old form
            # dropped doc_id from the landed read and counted a probe's
            # shared hashes against the WHOLE landed corpus — a unique
            # clip sharing 1 frame each with N different landed clips
            # was wrongly dropped). doc_id stays on the landed state
            # read; the threshold applies per (probe, landed) pair.
            survivors_eff = fh_eff.join(drops, "doc_id", "left_anti")
            landed_eff = landed.join(hot, "fhash", "left_anti").select(
                F.col("doc_id").alias("l_doc_id"), "fhash"
            )
            cross_drops = (
                survivors_eff.join(landed_eff, "fhash")
                .groupBy("doc_id", "l_doc_id")
                .agg(F.count("*").alias("n_shared"))
                .filter(F.col("n_shared") >= min_shared)
                .select("doc_id")
            )
            drops = drops.unionAll(cross_drops)
        survivors_fh = fh.join(
            drops.distinct(), "doc_id", "left_anti"
        ).localCheckpoint()
        epoch_writer(
            batch.join(survivors_fh.select("doc_id").distinct(), "doc_id"),
            epoch_id,
        )
        survivors_fh.write.mode("overwrite").parquet(
            os.path.join(fp_dir, f"epoch={epoch_id}")
        )

    return dedup_and_land


def ingest_video_deduplicated(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    state_dir: str,
    min_shared: int | None = None,
    files_per_trigger: int = 16,
    max_df: int | None = None,
) -> None:
    """Streaming NEAR-dup VIDEO ingest — the third modality's streaming
    rung: each micro-batch decodes its clips' frames through the
    container's seek index, aHashes them, drops clips sharing ≥
    ``min_shared`` distinct frame hashes with some SINGLE other clip —
    within the batch or among the LANDED clips (epoch-partitioned
    frame-hash state, replay-safe) — so a re-cut re-upload of an
    already-landed clip drops in-stream. Frame hashes held by more than
    ``max_df`` clips across the seen horizon (boilerplate cards) are
    excluded from matching — the hot-key guard that keeps the landed
    join sub-quadratic on real corpora. State is 16 bytes per landed
    FRAME — frames outnumber clips by the clip length, but the relation
    is still the index, never the payload."""
    q = (
        stream_documents(spark, input_dir, files_per_trigger)
        .writeStream.trigger(availableNow=True)
        .option("checkpointLocation", checkpoint_dir)
        .foreachBatch(
            _video_dedup_batch_handler(
                spark, output_dir, state_dir, min_shared=min_shared,
                max_df=max_df,
            )
        )
        .start()
    )
    q.awaitTermination()


def _parked_name(live: str, suffix: str) -> str:
    """The dot-prefixed sibling a state dir parks at during a swap."""
    return os.path.join(
        os.path.dirname(live), f".old-{os.path.basename(live)}-{suffix}"
    )


def _restore_or_clear_parked(live: str) -> None:
    """:func:`_heal_dir` for a state dir swapped by :func:`_swap_in_dir`:
    its parked ``.old-<name>-<ns>`` siblings, newest last by name, and
    any ``<live>.build-*`` temp dir a crash during build_fn left."""
    _heal_dir(
        live,
        sorted(glob.glob(_parked_name(live, "*"))),
        debris=glob.glob(f"{live}.build-*"),
    )


def _swap_in_dir(live: str, build_fn) -> None:
    """Replace a state dir: build into a temp sibling, then
    :func:`_swap_dir` it in. A crash at any point heals on the next
    :func:`_restore_or_clear_parked`."""
    ns = time.time_ns()
    tmp = f"{live}.build-{ns}"
    build_fn(tmp)
    _swap_dir(live, tmp, _parked_name(live, ns))


def _semantic_dedup_batch_handler(
    spark: SparkSession,
    output_dir: str,
    state_dir: str,
    dims: int | None = None,
    threshold: float | None = None,
    max_mean_sq_drift: float = 1.0,
):
    """Per-micro-batch SEMANTIC near-dedup handler — the embedding tier
    of the dedup ladder in streaming form (the exact tier streams via
    Bloom, the normalized tier via dropDuplicatesWithinWatermark, the
    perceptual tiers via the MIH handlers; this closes the
    exact→normalized→…→embedding ladder for the landing zone). A batch
    doc drops when its centered hashed-vector cosine with a LANDED doc
    or a smaller-id batch doc reaches ``threshold`` — the same banded
    sign-LSH mining + exact verification as batch
    ``text_semantic_pairs``.

    Scale design — the centering mean is a PINNED ARTIFACT, like the PQ
    codebook or a shipped tokenizer: it pins to the first epoch's
    horizon mean, every later epoch centers and signs ONLY ITS OWN
    BATCH under it, and the landed corpus contributes just its
    persisted (vec_id, band, band_hash) bucket relation (3 ints/row) to
    the candidate join — never a re-center/re-sign pass. Landed VECTORS
    are read only to verify the exact cosine of bucket-colliding
    candidates. A drift gate guards the pin (the
    ``retrain_ivfpq_layout`` pattern): per epoch the horizon mean is
    folded from the slim per-epoch (dim, Σ, n) sums state, and when its
    squared distance from the pinned mean exceeds
    ``max_mean_sq_drift``, the landed bucket state rebuilds under the
    new mean FIRST and the mean re-pins LAST — the one O(landed) pass
    the gate exists to justify; both swaps are park-rename atomic with
    crash self-heal, and the pin swap is the commit point (a crash
    between the swaps leaves drift high, so the next epoch redoes the
    re-sign instead of mining against stale signatures).

    Identical texts center to identical vectors under ANY mean (cosine
    exactly 1), so the dup signal is pin-robust; only
    threshold-borderline pairs can differ from the corpus-mean batch
    ladder. All state is epoch-partitioned and idempotently
    overwritten, and every state read excludes the current epoch so a
    foreachBatch retry re-admits instead of self-anti-joining."""
    import os

    from music_streaming_etl_glue_spark.operators.similarity import (
        LSH_BANDS,
        LSH_BITS,
        lsh_band_buckets,
    )
    from music_streaming_etl_glue_spark.operators.text import (
        HASH_VEC_DIMS,
        TEXT_PAIR_THRESHOLD,
        hashed_doc_vectors,
    )

    dims = HASH_VEC_DIMS if dims is None else dims
    threshold = TEXT_PAIR_THRESHOLD if threshold is None else threshold
    vec_dir = os.path.join(state_dir, "vecs")
    bkt_dir = os.path.join(state_dir, "buckets")
    sums_dir = os.path.join(state_dir, "sums")
    mean_dir = os.path.join(state_dir, "mean")
    epoch_writer = _idempotent_epoch_writer(output_dir)

    def _read_state(path: str, epoch_id: int):
        if not os.path.exists(path):
            return None
        return spark.read.parquet(path).filter(
            F.col("epoch") != F.lit(epoch_id)
        )

    def _center(vecs, mu: list):
        mean_lit = F.array(*[F.lit(float(m)) for m in mu])
        centered = vecs.select(
            "vec_id",
            F.zip_with(
                F.col("embedding"), mean_lit, lambda a, b: a - b
            ).alias("embedding"),
        )
        sq = F.aggregate(
            F.transform(F.col("embedding"), lambda x: x * x),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        return centered.withColumn("norm", F.sqrt(sq)).filter(
            F.col("norm") > 0
        )

    def _verify_drops(cand, side_a, side_b):
        """cand (vec_id_a, vec_id_b) + centered sides with norms →
        batch doc_ids whose exact cosine reaches the threshold."""
        sim = F.aggregate(
            F.zip_with(F.col("va"), F.col("vb"), lambda a, b: a * b),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ) / (F.col("na") * F.col("nb"))
        return (
            cand.join(
                side_a.select(
                    F.col("vec_id").alias("vec_id_a"),
                    F.col("embedding").alias("va"),
                    F.col("norm").alias("na"),
                ),
                "vec_id_a",
            )
            .join(
                side_b.select(
                    F.col("vec_id").alias("vec_id_b"),
                    F.col("embedding").alias("vb"),
                    F.col("norm").alias("nb"),
                ),
                "vec_id_b",
            )
            .filter(sim >= threshold)
        )

    def dedup_and_land(batch_df: DataFrame, epoch_id: int) -> None:
        batch = batch_df.drop("ingest_ts").localCheckpoint()
        vecs = hashed_doc_vectors(batch, dims).select(
            F.col("doc_id").alias("vec_id"), "embedding"
        ).localCheckpoint()
        # horizon mean from the slim sums state (64 rows/epoch), never
        # a rescan of landed vectors
        batch_sums = (
            vecs.select(F.posexplode("embedding").alias("d", "x"))
            .groupBy("d")
            .agg(F.sum("x").alias("s"), F.count("*").alias("n"))
        )
        landed_sums = _read_state(sums_dir, epoch_id)
        horizon = batch_sums if landed_sums is None else (
            batch_sums.unionByName(landed_sums.select("d", "s", "n"))
            .groupBy("d")
            .agg(F.sum("s").alias("s"), F.sum("n").alias("n"))
        )
        mu_h = [0.0] * dims
        for r in horizon.collect():  # dims rows — bounded metadata
            mu_h[int(r.d)] = float(r.s) / float(r.n)
        # pinned mean artifact: heal interrupted swaps, first-pin, gate
        _restore_or_clear_parked(mean_dir)
        _restore_or_clear_parked(bkt_dir)
        if not os.path.exists(mean_dir):
            _swap_in_dir(
                mean_dir,
                lambda tmp: spark.createDataFrame(
                    [(d, m) for d, m in enumerate(mu_h)], "d long, m double"
                ).coalesce(1).write.parquet(tmp),
            )
        mu_pin = [0.0] * dims
        for r in spark.read.parquet(mean_dir).collect():
            mu_pin[int(r.d)] = float(r.m)
        drift = sum((a - b) ** 2 for a, b in zip(mu_pin, mu_h))
        if drift > max_mean_sq_drift:
            # crash-safe ordering: rebuild + swap the bucket state FIRST
            # (signed under the NEW mean), swap the mean pin LAST — the
            # pin is the commit point. A crash between the swaps leaves
            # pin=old with drift still high, so the next epoch simply
            # redoes the re-sign; the reverse order would read drift≈0
            # against stale signatures forever (silent under-dedup).
            landed_vecs_all = _read_state(vec_dir, epoch_id)
            if landed_vecs_all is not None:
                # the one O(landed) re-sign the gate justifies
                relanded = landed_vecs_all.select(
                    "vec_id", "embedding", "epoch"
                ).localCheckpoint()
                rebuilt = lsh_band_buckets(
                    _center(relanded, mu_h).select("vec_id", "embedding"),
                    LSH_BANDS,
                    LSH_BITS,
                ).join(relanded.select("vec_id", "epoch"), "vec_id")
                _swap_in_dir(
                    bkt_dir,
                    lambda tmp: rebuilt.write.partitionBy("epoch")
                    .parquet(tmp),
                )
            mu_pin = mu_h
            _swap_in_dir(
                mean_dir,
                lambda tmp: spark.createDataFrame(
                    [(d, m) for d, m in enumerate(mu_pin)],
                    "d long, m double",
                ).coalesce(1).write.parquet(tmp),
            )
        centered_b = _center(vecs, mu_pin).localCheckpoint()
        bkts_b = lsh_band_buckets(
            centered_b.select("vec_id", "embedding"), LSH_BANDS, LSH_BITS
        ).localCheckpoint()
        # within-batch: bucket self-join on the batch's OWN signatures,
        # exact-cosine verify, smaller id wins
        x, y = bkts_b.alias("x"), bkts_b.alias("y")
        cand_within = (
            x.join(
                y,
                (F.col("x.band") == F.col("y.band"))
                & (F.col("x.band_hash") == F.col("y.band_hash"))
                & (F.col("x.vec_id") < F.col("y.vec_id")),
            )
            .select(
                F.col("x.vec_id").alias("vec_id_a"),
                F.col("y.vec_id").alias("vec_id_b"),
            )
            .distinct()
        )
        drops = _verify_drops(cand_within, centered_b, centered_b).select(
            F.col("vec_id_b").alias("doc_id")
        )
        landed_bkts = _read_state(bkt_dir, epoch_id)
        if landed_bkts is not None:
            # cross-batch: batch signatures probe the PERSISTED landed
            # bucket relation; only colliding landed vectors are read
            # (and centered) for verification
            lb = landed_bkts.select(
                F.col("vec_id").alias("l_vec_id"), "band", "band_hash"
            )
            cand_cross = (
                bkts_b.join(lb, ["band", "band_hash"])
                .select(
                    F.col("vec_id").alias("vec_id_a"),
                    F.col("l_vec_id").alias("vec_id_b"),
                )
                .distinct()
            )
            landed_hit = _read_state(vec_dir, epoch_id).join(
                cand_cross.select(
                    F.col("vec_id_b").alias("vec_id")
                ).distinct(),
                "vec_id",
            )
            drops = drops.unionAll(
                _verify_drops(
                    cand_cross, centered_b, _center(landed_hit, mu_pin)
                ).select(F.col("vec_id_a").alias("doc_id"))
            )
        drops = drops.distinct()
        survivors = vecs.join(
            drops, vecs["vec_id"] == drops["doc_id"], "left_anti"
        ).localCheckpoint()
        epoch_writer(
            batch.join(
                survivors.select(F.col("vec_id").alias("doc_id")), "doc_id"
            ),
            epoch_id,
        )
        survivors.write.mode("overwrite").parquet(
            os.path.join(vec_dir, f"epoch={epoch_id}")
        )
        bkts_b.join(
            survivors.select("vec_id"), "vec_id"
        ).write.mode("overwrite").parquet(
            os.path.join(bkt_dir, f"epoch={epoch_id}")
        )
        (
            survivors.select(F.posexplode("embedding").alias("d", "x"))
            .groupBy("d")
            .agg(F.sum("x").alias("s"), F.count("*").alias("n"))
            .write.mode("overwrite")
            .parquet(os.path.join(sums_dir, f"epoch={epoch_id}"))
        )

    return dedup_and_land


def ingest_semantic_deduplicated(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    state_dir: str,
    dims: int | None = None,
    threshold: float | None = None,
    files_per_trigger: int = 16,
    max_mean_sq_drift: float = 1.0,
) -> None:
    """Streaming SEMANTIC near-dedup ingest — the embedding tier of the
    dedup ladder as a landing-zone stream: each micro-batch hashes its
    documents into integer feature vectors, centers them under the
    PINNED corpus-mean artifact (drift-gated re-pin — see
    :func:`_semantic_dedup_batch_handler`), signs only its own batch,
    and drops docs whose exact verified cosine with any landed doc (or
    a smaller-id batch doc) reaches the threshold — candidates come
    from the batch signatures probing the PERSISTED landed bucket
    state, so per-epoch work scales with the batch, not the corpus. A
    reworded / token-reordered re-upload of an already-landed document
    drops in-stream with corpus-wide horizon — the tier the normalized
    fingerprint (exact token-set match) cannot catch."""
    q = (
        stream_documents(spark, input_dir, files_per_trigger)
        .writeStream.trigger(availableNow=True)
        .option("checkpointLocation", checkpoint_dir)
        .foreachBatch(
            _semantic_dedup_batch_handler(
                spark, output_dir, state_dir, dims=dims,
                threshold=threshold, max_mean_sq_drift=max_mean_sq_drift,
            )
        )
        .start()
    )
    q.awaitTermination()


def ingest_audio_deduplicated(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    state_dir: str,
    max_hamming: int | None = None,
    files_per_trigger: int = 16,
) -> None:
    """Streaming NEAR-dup AUDIO ingest — the audio twin of
    :func:`ingest_image_deduplicated`: each micro-batch decodes its
    clips through the real WAV codec, fingerprints the waveforms in the
    Arrow lane, and drops within-batch and cross-batch near-dups via
    the shared banded-join discipline with epoch-partitioned
    fingerprint state (16 bytes per landed clip, replay-safe). A
    re-gained re-upload of an already-landed recording drops in-stream
    with corpus-wide horizon."""
    q = (
        stream_documents(spark, input_dir, files_per_trigger)
        .writeStream.trigger(availableNow=True)
        .option("checkpointLocation", checkpoint_dir)
        .foreachBatch(
            _audio_dedup_batch_handler(
                spark, output_dir, state_dir, max_hamming=max_hamming
            )
        )
        .start()
    )
    q.awaitTermination()


def ingest_image_deduplicated(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    state_dir: str,
    max_hamming: int | None = None,
    files_per_trigger: int = 16,
) -> None:
    """Streaming NEAR-dup image ingest (VERDICT r8 item #8): each
    micro-batch decodes its images through the real BMP codec, aHashes
    them in the Arrow lane, drops within-batch near-dups, then drops
    docs whose fingerprint is within ``max_hamming`` bits of ANY landed
    image via the same 13-band pigeonhole join the batch rung uses —
    so cross-batch duplicate images drop in-stream with corpus-wide
    horizon and no watermark expiry.

    Why this is NOT the text rung's Bloom mask: a Bloom over the band
    join keys saturates immediately (5-bit bands have 32 possible
    values each — after ~200 distinct images every (band, val) key is
    present, so every probe would flag), and a Bloom over exact hashes
    can only rule out Hamming-0 dups, which the banded join finds
    anyway. The correct bounded cross-batch state for banded Hamming
    dedup is the fingerprint relation itself: 16 bytes per landed
    image (doc_id, ahash), epoch-partitioned for replay safety —
    payloads are never re-read or shuffled, and the per-batch cost is
    one slim broadcast-sized band join, not a corpus decode."""
    q = (
        stream_documents(spark, input_dir, files_per_trigger)
        .writeStream.trigger(availableNow=True)
        .option("checkpointLocation", checkpoint_dir)
        .foreachBatch(
            _image_dedup_batch_handler(
                spark, output_dir, state_dir, max_hamming=max_hamming
            )
        )
        .start()
    )
    q.awaitTermination()


def stream_enriched(
    spark: SparkSession,
    input_dir: str,
    customer: DataFrame,
    nation: DataFrame,
) -> DataFrame:
    """Stream-static enrichment: the flagship star join
    (:func:`..operators.enrich.enrich_events`) applied to the event
    STREAM — each micro-batch left-joins the static dimension frames,
    which Spark re-resolves per batch (so a dim refresh is picked up on
    the next trigger without restarting the query). The dims ride the
    same explicit ``broadcast()`` as the batch twin: a stream-static
    broadcast join keeps the stream side shuffle-free, which is the
    whole latency story at production rates. The batch and stream
    plans share ONE implementation, so enrichment semantics cannot
    drift between the nightly job and the live path."""
    from music_streaming_etl_glue_spark.operators.enrich import (
        enrich_events,
    )

    return enrich_events(stream_events(spark, input_dir), customer, nation)


def stream_kpi_maintenance(
    spark: SparkSession,
    input_dir: str,
    customer: DataFrame,
    nation: DataFrame,
    state_path: str,
    checkpoint_dir: str,
):
    """Streaming incremental KPI maintenance: each micro-batch of events
    is enriched (stream-static broadcast join), reduced to mergeable
    (date, genre) partials, and MERGED into the persisted KPI partial
    table (``plans.incremental.merge_genre_daily`` — additive counters +
    HLL sketch union). The lambda-architecture collapse: the nightly
    recompute, the incremental batch merge, and the live stream all run
    the SAME partial/merge code, so they cannot disagree. State on disk
    is O(date × genre), never event-scale; the checkpoint makes
    reprocessing resume-safe (an epoch replay re-merges the same batch —
    counts would double, so the writer records applied epoch ids next to
    the state and skips replays, the foreachBatch idempotence contract).

    Returns the started StreamingQuery (AvailableNow trigger)."""
    import json
    import os

    from music_streaming_etl_glue_spark.operators.enrich import enrich_events
    from music_streaming_etl_glue_spark.plans.incremental import (
        genre_daily_partials,
        merge_genre_daily,
    )

    applied_path = os.path.join(checkpoint_dir, "applied_epochs.json")

    def merge_batch(batch_df: DataFrame, epoch_id: int) -> None:
        applied = set()
        if os.path.exists(applied_path):
            with open(applied_path) as fh:
                applied = set(json.load(fh))
        if epoch_id in applied:
            return
        enriched = enrich_events(batch_df, customer, nation)
        merge_genre_daily(spark, genre_daily_partials(enriched), state_path)
        applied.add(epoch_id)
        tmp = applied_path + ".tmp"
        with open(tmp, "w") as fh:
            json.dump(sorted(applied), fh)
        os.replace(tmp, applied_path)

    os.makedirs(checkpoint_dir, exist_ok=True)
    return (
        stream_events(spark, input_dir)
        .writeStream.foreachBatch(merge_batch)
        .option("checkpointLocation", os.path.join(checkpoint_dir, "ck"))
        .trigger(availableNow=True)
        .start()
    )


# ---------------------------------------------------------------------------
# streaming ANN index maintenance (r11): the IVF-PQ serving index stays
# fresh as the corpus streams in — the streaming twin of
# similarity.refresh_ivfpq_layout, with the replay safety that batch path
# (mode="append") cannot give a foreachBatch retry.
# ---------------------------------------------------------------------------

EMBEDDINGS_FILE_SCHEMA = "vec_id long, embedding array<double>, label long"


def stream_embeddings(
    spark: SparkSession, input_dir: str, files_per_trigger: int = 16
) -> DataFrame:
    """File-source stream of embedding batches (the vector landing
    zone): each micro-batch is a set of newly-landed parquet files in
    the embeddings-table shape."""
    return (
        spark.readStream.schema(EMBEDDINGS_FILE_SCHEMA)
        .option("maxFilesPerTrigger", files_per_trigger)
        .parquet(input_dir)
    )


def _ann_ingest_batch_handler(
    spark: SparkSession,
    index_dir: str,
    state_dir: str,
):
    """Per-micro-batch IVF-PQ index maintenance. The first batch TRAINS
    and pins the artifacts (centroids + PQ codebook — the shipped-
    tokenizer discipline every append path here follows); every batch,
    including a replay of the first, then encodes ITSELF under the
    pinned artifacts and lands its packed codes via dynamic partition
    overwrite of exactly its own ``(assigned_label, epoch)``
    partitions — a foreachBatch retry rewrites the same bytes instead
    of double-appending (the failure mode of the batch path's
    ``mode("append")``), and the standing corpus' code files are never
    touched.

    Raw vectors land epoch-partitioned at ``state_dir/vecs`` (the
    rerank + retrain source of truth), and a per-epoch drift row
    (mean squared reconstruction error of the batch under the PINNED
    codebook) lands at ``state_dir/drift`` — when it trips a budget,
    the operator to run is the batch
    :func:`..operators.similarity.retrain_ivfpq_lake`, whose
    audit-gated cutover is one registry commit. Scale: per-epoch
    work is O(batch) encode (centroids ~cells rows, codebook M·K rows,
    both broadcast-sized); nothing rescans the landed corpus."""
    import os

    from music_streaming_etl_glue_spark.operators.similarity import (
        _centroid_arrays,
        _ivfpq_encode,
        _pq_codebook,
        _read_centroids,
        _read_codebook,
        _write_artifacts,
        label_centroids,
        pq_reconstruction_error,
    )

    vec_dir = os.path.join(state_dir, "vecs")
    drift_dir = os.path.join(state_dir, "drift")

    def _pin_artifacts(batch: DataFrame) -> None:
        def build(tmp: str) -> None:
            cents = _centroid_arrays(label_centroids(batch)).localCheckpoint()
            cb = _pq_codebook(batch).localCheckpoint()
            _write_artifacts(tmp, centroids=cents, codebook=cb)
            # root marker: partition discovery ignores underscore paths,
            # and _build_layout_atomic's once-only check needs it at root
            with open(os.path.join(tmp, "_SUCCESS"), "w"):
                pass

        _build_layout_atomic(build, index_dir)

    def index_batch(batch_df: DataFrame, epoch_id: int) -> None:
        batch = batch_df.localCheckpoint()
        # 1. raw vectors: idempotent epoch overwrite (rerank/retrain read)
        batch.write.mode("overwrite").parquet(
            os.path.join(vec_dir, f"epoch={epoch_id}")
        )
        # 2. first batch pins the artifacts (atomic, race/replay-safe)
        _pin_artifacts(batch)
        cb = _read_codebook(spark, index_dir)
        # 3. encode THIS batch under the pinned artifacts, then 4. land
        # codes: dynamic overwrite of exactly this epoch's
        # (assigned_label, epoch) partitions — replay rewrites, never
        # double-appends; other epochs' files are never listed
        (
            _ivfpq_encode(batch, _read_centroids(spark, index_dir), cb)
            .withColumn("epoch", F.lit(epoch_id))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("assigned_label", "epoch")
            .parquet(index_dir)
        )
        # 5. drift signal: batch reconstruction error under the pin
        err = pq_reconstruction_error(batch, codebook=cb).agg(
            F.avg("sq_err").alias("mean_sq_err"),
            F.count("*").cast("long").alias("n_vectors"),
        )
        err.write.mode("overwrite").parquet(
            os.path.join(drift_dir, f"epoch={epoch_id}")
        )

    return index_batch


def ingest_ann_indexed(
    spark: SparkSession,
    input_dir: str,
    index_dir: str,
    checkpoint_dir: str,
    state_dir: str,
    files_per_trigger: int = 16,
) -> None:
    """Streaming ANN index ingest: embedding batches land and the
    IVF-PQ serving index absorbs each micro-batch incrementally —
    train-once pinned artifacts, O(batch) encode per epoch,
    replay-idempotent epoch partitions, per-epoch codebook-drift
    metrics. The served index is readable by the whole existing funnel
    (``ann_topk_ivfpq`` / ``knn_join_ivfpq``) at any epoch boundary."""
    q = (
        stream_embeddings(spark, input_dir, files_per_trigger)
        .writeStream.trigger(availableNow=True)
        .option("checkpointLocation", checkpoint_dir)
        .foreachBatch(_ann_ingest_batch_handler(spark, index_dir, state_dir))
        .start()
    )
    q.awaitTermination()


# ---------------------------------------------------------------------------
# streaming exact-substring scrub (r11): the ExactSubstr pass (Lee et al.
# 2022, operators.dedup.exact_substring_dedup) as a landing-zone rung —
# every >= K-token span already seen (landed epochs OR earlier in this
# batch) is scrubbed before the document lands.
# ---------------------------------------------------------------------------


def _substring_scrub_batch_handler(
    spark: SparkSession,
    output_dir: str,
    state_dir: str,
    k: int | None = None,
):
    """Per-micro-batch exact-substring scrub. Cross-batch state is the
    DISTINCT gram-hash relation of every landed batch's RAW text
    (epoch-partitioned; raw, not scrubbed — a span whose first
    occurrence was itself scrubbed as a later copy is still 'seen', so
    a third upload drops too, which is exactly keep-first). A batch
    window drops when its hash exists in the landed state or an earlier
    (doc_id, pos) occurrence within the batch; flagged windows merge to
    maximal spans and the scrub rebuild is the shared batch kernel
    (:func:`..operators.dedup._apply_spans`), so when batches arrive in
    corpus order the landed union is BIT-IDENTICAL to the batch
    operator over the full corpus (pytest-pinned).

    Scale: the state is one 32-hex row per distinct landed K-window —
    the same order as the tokenized corpus itself, which is what exact
    substring dedup fundamentally indexes (a suffix array is no
    smaller); the per-batch probe is one semi-join of the batch's gram
    relation against it, epoch-pruned and never rescanning landed text.
    All state reads exclude the current epoch so a foreachBatch retry
    re-lands instead of self-anti-joining."""
    import os

    from music_streaming_etl_glue_spark.operators.dedup import (
        EXACT_SUBSTR_K,
        _apply_spans,
        _kgram_occurrences,
        _merge_spans,
    )
    from pyspark.sql.window import Window

    k = EXACT_SUBSTR_K if k is None else k
    gram_dir = os.path.join(state_dir, "grams")
    epoch_writer = _idempotent_epoch_writer(output_dir)

    def scrub_and_land(batch_df: DataFrame, epoch_id: int) -> None:
        batch = batch_df.drop("ingest_ts").localCheckpoint()
        occ = _kgram_occurrences(batch, k).localCheckpoint()
        # within-batch: every occurrence after the first of its gram
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
        dups = dup_within
        if os.path.exists(gram_dir):
            # keep-FIRST needs epoch-ordered horizon: a replayed epoch
            # must scrub only against EARLIER epochs (not merely exclude
            # itself) or the first occurrence loses to its own later copy
            landed = spark.read.parquet(gram_dir).filter(
                F.col("epoch") < F.lit(epoch_id)
            )
            dup_landed = occ.join(
                landed.select("gh"), "gh", "left_semi"
            ).select("doc_id", "pos")
            dups = dups.unionByName(dup_landed).distinct()
        spans = _merge_spans(dups, k)
        epoch_writer(_apply_spans(batch, spans), epoch_id)
        occ.select("gh").distinct().write.mode("overwrite").parquet(
            os.path.join(gram_dir, f"epoch={epoch_id}")
        )

    return scrub_and_land


def ingest_substring_scrubbed(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    state_dir: str,
    k: int | None = None,
    files_per_trigger: int = 16,
) -> None:
    """Streaming ExactSubstr scrub ingest: documents land with every
    >= K-token span the corpus has already seen removed (keep-first,
    corpus-wide horizon) — the long-span rung of the landing-zone
    dedup ladder, converging bit-identically to the batch
    ``exact_substring_dedup`` when batches arrive in corpus order."""
    q = (
        stream_documents(spark, input_dir, files_per_trigger)
        .writeStream.trigger(availableNow=True)
        .option("checkpointLocation", checkpoint_dir)
        .foreachBatch(
            _substring_scrub_batch_handler(
                spark, output_dir, state_dir, k=k
            )
        )
        .start()
    )
    q.awaitTermination()


def scrub_lake_changefeed(
    spark: SparkSession,
    table_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    state_dir: str,
    k: int | None = None,
) -> None:
    """:func:`ingest_substring_scrubbed` fed by the LAKE CHANGE FEED
    instead of the file landing zone (VERDICT r11 item #6, streaming
    half): offsets are manifest versions, each micro-batch is one
    commit range's appended delta (format-2 tables: a group-reference
    diff — the base is never read), and the scrub/state kernel is the
    IDENTICAL ``_substring_scrub_batch_handler`` the landing-zone rung
    uses — so an upstream producer landing docs as lake commits
    (txn-keyed streaming epochs, batch appends) gets each doc scrubbed
    exactly once, replay-safe through the source checkpoint AND the
    handler's epoch-ordered state.

    Non-append commits in the feed raise (the change-feed contract);
    after a MERGE / CoW delete / compaction, re-scrub the affected docs
    with the batch ``plans.lake_scrub.scrub_lake_changes`` (keyed diff)
    and restart this stream from a fresh checkpoint."""
    from music_streaming_etl_glue_spark.sources.lake_source import register

    register(spark)
    q = (
        spark.readStream.format("lake")
        .option("table", table_dir)
        .load()
        .writeStream.trigger(availableNow=True)
        .option("checkpointLocation", checkpoint_dir)
        .foreachBatch(
            _substring_scrub_batch_handler(
                spark, output_dir, state_dir, k=k
            )
        )
        .start()
    )
    q.awaitTermination()
