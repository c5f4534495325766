"""Streaming keyed upsert sink: foreachBatch + MERGE semantics.

The reference blind-appends re-delivered data and relies on a batch
window dedup downstream (process_openaq_raw.py:253-255). The
streaming-native alternative materializes a KEYED TABLE that converges
to last-writer-wins per key as micro-batches arrive — CDC apply, the
missing half of §2.9 next to dedup-in-watermark.

Mechanics: ``foreachBatch`` gives each micro-batch as a normal batch
DataFrame; the batch is first reduced to one row per key (greatest
``ts_col``, exact ties broken by the md5 of the whole row), then MERGEd
over the current snapshot with :func:`operators.merge.merge_upsert`.

Snapshot storage is the engine's versioned table layer
(operators/versioned.py — manifest-committed immutable ``v=<N>``
directories), so the streaming table gets the SAME guarantees as the
batch marts: atomic manifest publication, pinned-version time travel,
and a change data feed between any two committed versions
(``snapshot_changes``). foreachBatch is at-least-once, so each commit
carries ``txn_id=f"batch-{batch_id}"`` — the manifest's idempotent-txn
dedupe (Delta's txnAppId/txnVersion contract) makes a replayed
micro-batch a no-op instead of a duplicate version. Old versions are
vacuumed down to the last two (current + previous for readers
mid-swap).

Scale: per batch this is ONE window shuffle over the micro-batch (small)
plus ONE merge join against the snapshot; the snapshot never shuffles
on more than the merge key. State lives in storage, not executor
memory — unbounded key cardinality is fine.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from openaq_data_pipeline_engineering_spark.operators import versioned
from openaq_data_pipeline_engineering_spark.operators.cow import (
    commit_rewrite,
    touched_files_by_keys,
)
from openaq_data_pipeline_engineering_spark.operators.dedup import dedup_first
from openaq_data_pipeline_engineering_spark.operators.merge import merge_upsert


def read_snapshot(spark: SparkSession, target_dir: str) -> DataFrame | None:
    """Current keyed snapshot, or None before the first batch."""
    try:
        return versioned.read_snapshot(spark, target_dir)
    except FileNotFoundError:
        return None


def upsert_batch(
    batch: DataFrame,
    batch_id: int,
    target_dir: str,
    keys: list[str],
    ts_col: str,
    txn_app_id: str = "batch",
) -> None:
    """foreachBatch body: collapse, merge over snapshot, commit the
    next version (idempotent per (txn_app_id, batch_id)), vacuum to the
    last two.

    ``txn_app_id`` scopes the dedupe exactly like Delta's txnAppId:
    batch ids restart at 0 whenever a stream's CHECKPOINT is deleted,
    and the dedupe window is unbounded by design (vacuum keeps txn
    entries), so REPROCESSING a source into the same target_dir with
    the same app id silently no-ops every replayed batch. Deliberate
    reprocessing must use a NEW txn_app_id (or vacuum with
    txn_keep_last to retire old entries) — same contract as Delta.
    """
    spark = batch.sparkSession
    # One row per key: greatest ts wins; the md5 of the WHOLE ROW breaks
    # exact (key, ts) ties deterministically (layout-independent, unlike
    # first() — and unlike an md5 of the key columns, which is constant
    # within the partition and therefore discriminates nothing when two
    # deliveries share the key AND timestamp but differ in payload).
    delta = dedup_first(
        batch,
        keys,
        [F.desc(ts_col), F.md5(F.to_json(F.struct(*batch.columns)))],
    )
    # Read-modify-write under the optimistic guard (cow.commit_rewrite):
    # the merge result is computed FROM a pinned version, so the commit
    # is conditional on the table still being there. One stream's
    # micro-batches are serial, but a SECOND writer on the same target
    # (another stream, a batch MERGE, an OPTIMIZE) landing between this
    # read and commit would otherwise be silently erased. On conflict:
    # re-read, re-merge, retry; the txn_id still dedupes a REPLAY of
    # this same batch at any point. No conflict rescan: keyed batches
    # serialize and retry.
    # FILE-GRANULAR commit: the merge runs over ONLY the files whose
    # keys the batch touches, found by one broadcast left-semi join of
    # the base version on the collapsed batch's key set. Every other
    # file is carried as a fileset sidecar entry. Per-batch write I/O
    # is O(touched files + batch).
    commit_rewrite(
        spark,
        target_dir,
        lambda target: (
            delta if target is None else merge_upsert(target, delta, keys)
        ),
        discover=lambda vdir: touched_files_by_keys(spark, vdir, delta, keys),
        txn_id=f"{txn_app_id}-{batch_id}",
    )
    # Committed-version retention only; orphan reclamation keeps its
    # 24h grace (a concurrent writer may own a fresh uncommitted dir).
    # Txn dedupe entries are NOT retired with the data (vacuum's
    # default keeps them all): a micro-batch replay arriving later
    # than keep_last commits still dedupes instead of re-merging
    # stale data as a new version. A live shallow clone of the sink
    # table pauses retention (vacuum refuses all-or-nothing); that is
    # maintenance policy, not a reason to fail the stream.
    try:
        versioned.vacuum_snapshots(target_dir, keep_last=2)
    except versioned.VacuumBlockedByCloneError:
        pass  # clones pin history; retention resumes when they go


def run_stream_upsert(
    stream: DataFrame,
    checkpoint_dir: str,
    target_dir: str,
    keys: list[str],
    ts_col: str,
    txn_app_id: str = "batch",
):
    """Run the stream to completion (AvailableNow) upserting into
    ``target_dir``; returns the finished StreamingQuery. See
    :func:`upsert_batch` for the ``txn_app_id`` reprocessing contract
    (new app id when deleting the checkpoint to reprocess)."""
    q = (
        stream.writeStream.foreachBatch(
            lambda df, bid: upsert_batch(
                df, bid, target_dir, keys, ts_col, txn_app_id
            )
        )
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return q
