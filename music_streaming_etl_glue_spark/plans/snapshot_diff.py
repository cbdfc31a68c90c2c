"""Snapshot diff: audit what changed between two versions of a table.

The reference overwrites its serving data blindly (full-refresh Glue
jobs); when a refresh produces surprising numbers there is no way to ask
"what actually changed since yesterday". This operator is that answer as
one relational pass: a keyed full-outer join of two snapshots comparing
a content hash, classifying every key as ``added`` / ``removed`` /
``changed`` / ``unchanged``.

Scale: one shuffle per side on the key, then a single full-outer hash
join — no row comparison beyond the md5 of the compared columns, so the
shuffled payload is (key, hash), never the row body. At 100 TB both
sides prune to (key, hash) projections at the scan. ``unchanged`` rows
are usually the overwhelming majority; downstream consumers filter them
out early, and Catalyst pushes that filter into the join's output.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def dataset_diff(
    old: DataFrame,
    new: DataFrame,
    key: str,
    compare_cols: list[str],
) -> DataFrame:
    """(key, status) for every key in either snapshot, with the compared
    columns' md5 on each side. ``concat_ws`` with a unit separator keeps
    the hash injective for typical text (no column collision), and NULLs
    hash as the empty segment on BOTH sides — a NULL→NULL column is
    ``unchanged``, NULL→value is ``changed``."""
    sep = "\x1f"  # unit separator: keeps multi-column hashes injective

    def hashed(df: DataFrame, alias: str) -> DataFrame:
        cols = [F.coalesce(F.col(c).cast("string"), F.lit("")) for c in compare_cols]
        return df.select(
            F.col(key),
            F.md5(F.concat_ws(sep, *cols)).alias(f"{alias}_hash"),
        )

    o = hashed(old, "old")
    n = hashed(new, "new")
    status = (
        F.when(F.col("old_hash").isNull(), F.lit("added"))
        .when(F.col("new_hash").isNull(), F.lit("removed"))
        .when(F.col("old_hash") == F.col("new_hash"), F.lit("unchanged"))
        .otherwise(F.lit("changed"))
    )
    return o.join(n, key, "full_outer").select(
        key, status.alias("status"), "old_hash", "new_hash"
    )


def diff_summary(diff: DataFrame) -> DataFrame:
    """status → count rollup of a :func:`dataset_diff` — the one-line
    audit a refresh job logs before promoting a snapshot."""
    return diff.groupBy("status").agg(F.count("*").alias("n")).orderBy("status")


# ---------------------------------------------------------------------------
# catalog wiring: diff the documents table against a deterministic
# "next snapshot" twin (drop every 97th doc, rewrite every 89th) so the
# operator is exercised — and oracle-checked — from one sf directory.
# ---------------------------------------------------------------------------

DIFF_DROP_MOD = 97
DIFF_EDIT_MOD = 89


def perturbed_documents(documents: DataFrame) -> DataFrame:
    """The synthetic 'new snapshot': doc_id % 97 == 0 rows deleted,
    doc_id % 89 == 0 rows text-rewritten (uppercased), plus a shifted
    copy of the lowest doc_id appended as id max+1 (one guaranteed
    ``added`` row)."""
    kept = documents.filter(F.col("doc_id") % DIFF_DROP_MOD != 0)
    edited = kept.withColumn(
        "text",
        F.when(
            F.col("doc_id") % DIFF_EDIT_MOD == 0, F.upper(F.col("text"))
        ).otherwise(F.col("text")),
    )
    mx = documents.agg(F.max("doc_id").alias("mx"))
    added = (
        documents.orderBy("doc_id")
        .limit(1)
        .crossJoin(F.broadcast(mx))
        .select(
            (F.col("mx") + 1).alias("doc_id"),
            *[c for c in documents.columns if c != "doc_id"],
        )
    )
    return edited.unionByName(added)


def documents_diff_summary(documents: DataFrame) -> DataFrame:
    d = dataset_diff(
        documents, perturbed_documents(documents), "doc_id", ["text"]
    )
    return diff_summary(d)


DOCUMENTS_DIFF_SUMMARY_SQL = f"""
WITH old_h AS (
    SELECT doc_id, md5(COALESCE(text, '')) AS old_hash FROM documents
),
new_snap AS (
    SELECT doc_id,
           CASE WHEN doc_id % {DIFF_EDIT_MOD} = 0 THEN upper(text)
                ELSE text END AS text
    FROM documents WHERE doc_id % {DIFF_DROP_MOD} != 0
    UNION ALL
    (SELECT (SELECT MAX(doc_id) FROM documents) + 1, text
     FROM documents ORDER BY doc_id LIMIT 1)
),
new_h AS (
    SELECT doc_id, md5(COALESCE(text, '')) AS new_hash FROM new_snap
),
d AS (
    SELECT CASE
        WHEN o.old_hash IS NULL THEN 'added'
        WHEN n.new_hash IS NULL THEN 'removed'
        WHEN o.old_hash = n.new_hash THEN 'unchanged'
        ELSE 'changed' END AS status
    FROM old_h o FULL OUTER JOIN new_h n USING (doc_id)
)
SELECT status, COUNT(*)::BIGINT AS n FROM d GROUP BY status ORDER BY status
"""


# ---------------------------------------------------------------------------
# incremental corpus update (diff → asymmetric dedup → admitted set)
# ---------------------------------------------------------------------------

def incremental_corpus_update(
    old: DataFrame, new: DataFrame
) -> tuple[DataFrame, dict]:
    """The composite an append-only training corpus actually runs per
    refresh: snapshot-diff the incoming crawl against the current corpus,
    push ONLY added/changed docs through the asymmetric dedup (exact +
    MinHash-banded, batch×corpus candidates only), and return
    (next_corpus, audit) where next_corpus = carried-over docs + admitted
    fresh docs and audit counts every decision.

    Scale: the diff shuffles (key, hash) projections; the dedup touches
    only the fresh slice against the corpus index — a refresh costs
    O(diff + fresh×bucket), never a full re-dedup of the corpus.
    """
    from music_streaming_etl_glue_spark.operators.dedup import (
        dedup_against_corpus,
    )

    d = dataset_diff(old, new, "doc_id", ["text"]).localCheckpoint(
        eager=False
    )
    fresh_ids = d.filter(
        F.col("status").isin("added", "changed")
    ).select("doc_id")
    carried = old.join(
        d.filter(F.col("status") == "unchanged").select("doc_id"), "doc_id"
    )
    fresh = new.join(fresh_ids, "doc_id")
    flags = dedup_against_corpus(fresh, carried)
    admitted = fresh.join(
        flags.filter(F.col("keep")).select("doc_id"), "doc_id"
    )
    audit = {
        s: n
        for s, n in (
            (r.status, r.n) for r in diff_summary(d).collect()
        )
    }
    audit["fresh"] = fresh.count()
    audit["admitted"] = admitted.count()
    audit["rejected_dup"] = audit["fresh"] - audit["admitted"]
    return carried.unionByName(admitted), audit


def incremental_index_update(
    spark, old: DataFrame, new: DataFrame, path: str
) -> dict:
    """The embedding-side twin of :func:`incremental_corpus_update`:
    snapshot-diff the embeddings table and refresh the persisted IVF-PQ
    index at ``path`` — building it from ``old`` on first call, then
    applying the FULL diff with the EXISTING (pinned) codebook and
    centroids:

    * ``removed`` and ``changed`` old rows are dropped by rewriting
      ONLY the cell partitions that contain them
      (similarity.rewrite_ivfpq_cells — the plans.merge
      touched-partition discipline; untouched cells' files stay
      byte-identical);
    * ``added`` and ``changed`` new rows are encoded against the pinned
      artifacts and appended (similarity.refresh_ivfpq_layout).

    Training never reruns: the index after any refresh equals
    encode(new corpus) under the ORIGINAL codebook/centroids, so a
    refresh costs O(diff) encode + O(touched cells) rewrite — never a
    retrain, never a corpus re-encode. (Retraining is a quality
    decision, taken when the codebook drift gate trips, not a
    correctness one.) Order matters: drops run BEFORE appends so a
    changed vector re-encoded into one of its old cells is not swept
    away by its own tombstone.

    Returns the diff audit plus ``encoded`` (vectors appended),
    ``dropped`` (old rows removed) and ``cells_rewritten``.
    """
    from music_streaming_etl_glue_spark.operators.similarity import (
        _build_layout_atomic,
        refresh_ivfpq_layout,
        rewrite_ivfpq_cells,
        write_ivfpq_layout,
    )

    _build_layout_atomic(lambda tmp: write_ivfpq_layout(old, tmp), path)
    d = dataset_diff(old, new, "vec_id", ["embedding"]).localCheckpoint(
        eager=False
    )
    audit = {r.status: r.n for r in diff_summary(d).collect()}
    n_dropped = audit.get("removed", 0) + audit.get("changed", 0)
    if n_dropped:
        drop_ids = d.filter(
            F.col("status").isin("removed", "changed")
        ).select("vec_id")
        audit["cells_rewritten"] = len(
            rewrite_ivfpq_cells(spark, path, drop_ids)
        )
    else:
        audit["cells_rewritten"] = 0
    n_fresh = audit.get("added", 0) + audit.get("changed", 0)
    if n_fresh:
        fresh = new.join(
            d.filter(F.col("status").isin("added", "changed")).select(
                "vec_id"
            ),
            "vec_id",
        )
        refresh_ivfpq_layout(spark, fresh, path)
    audit["encoded"] = n_fresh
    audit["dropped"] = n_dropped
    return audit
