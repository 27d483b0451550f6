"""Idempotent foreachBatch MERGE sink.

The exactly-once contract downstream of a streaming query is earned,
not given: Structured Streaming delivers micro-batches AT LEAST once
(a crash between sink write and checkpoint commit re-runs the batch),
so a sink must make re-applying a batch a no-op. The standard recipe
(Spark docs, "foreachBatch idempotent writes") is the one implemented
here:

1. MERGE each batch into the target by key (update matched, insert
   unmatched) — so re-applied rows overwrite themselves, and
2. record the last committed batchId with the snapshot and skip any
   batch at-or-below it — so a re-delivered batch is not applied at
   all (protects even against non-key-preserving re-deliveries).

The target is a plain parquet snapshot swapped atomically via
write-to-tmp + rename. That swap is the single-writer stand-in for a
table format's transactional commit; on a cluster the same
``foreachBatch`` body would call Delta/Iceberg MERGE INTO and inherit
their log-based atomicity. The MERGE itself is the d09 plan — one
co-partitioned outer join on the key — so at 100 TB the snapshot
would be bucketed on the key (s06) and the per-batch merge shuffles
only the (small) batch side.
"""

from __future__ import annotations

import json
import os
import shutil

from pyspark.sql import DataFrame, SparkSession


def _meta_path(path: str) -> str:
    return path + ".meta.json"


def last_committed_batch(path: str) -> int:
    """The highest batchId already merged into the snapshot at
    ``path`` (-1 if the snapshot does not exist yet)."""
    try:
        with open(_meta_path(path)) as f:
            return int(json.load(f)["last_batch_id"])
    except (OSError, ValueError, KeyError):
        return -1


def merge_batch_into_snapshot(
    spark: SparkSession,
    batch_df: DataFrame,
    path: str,
    keys: list,
    batch_id: int,
) -> bool:
    """Apply one micro-batch to the parquet snapshot at ``path`` with
    MERGE semantics: rows whose key matches are REPLACED by the batch
    row, unmatched target rows are kept, unmatched batch rows are
    inserted. Returns False (no-op) when ``batch_id`` was already
    committed — the idempotency half of exactly-once. Batches must be
    unique per key (true for any append-mode aggregation; a changelog
    feed compacts per key upstream, cf. latest_per_key).
    """
    _recover_snapshot(path)
    if batch_id <= last_committed_batch(path):
        return False
    if os.path.isdir(path):
        target = spark.read.parquet(path)
        # anti-join keeps target rows whose key the batch does not
        # touch; the batch contributes every one of its rows
        merged = target.join(
            batch_df.select(*keys).distinct(), on=keys, how="left_anti"
        ).unionByName(batch_df)
    else:
        merged = batch_df
    tmp = path + ".tmp"
    old = path + ".old"
    merged.write.mode("overwrite").parquet(tmp)
    # crash-safe swap (a table format's commit log does this
    # transactionally on a cluster): move the live snapshot aside,
    # promote tmp, then drop the old copy. A crash between any two
    # steps leaves at least one full snapshot on disk — at ``path``
    # or at ``path + '.old'`` — and _recover_snapshot() promotes the
    # survivor before the next merge reads, so the redelivered batch
    # merges into real prior state instead of rebuilding from itself.
    if os.path.isdir(old):
        shutil.rmtree(old)
    if os.path.isdir(path):
        os.rename(path, old)
    os.rename(tmp, path)
    with open(_meta_path(path), "w") as f:
        json.dump({"last_batch_id": int(batch_id)}, f)
    if os.path.isdir(old):
        shutil.rmtree(old)
    return True


def _recover_snapshot(path: str) -> None:
    """Repair a snapshot directory after a crash mid-swap.

    merge_batch_into_snapshot's swap sequence guarantees that at every
    instant either ``path`` or ``path + '.old'`` holds a complete
    snapshot. If only ``.old`` survives (crash after the move-aside,
    before the promote), restore it; the interrupted batch was never
    recorded in .meta.json so it will be re-merged. If both exist,
    ``path`` is the newer complete copy — drop the stale ``.old``. A
    leftover ``.tmp`` is always safe to discard (its batch re-runs).
    """
    old = path + ".old"
    tmp = path + ".tmp"
    if os.path.isdir(old):
        if os.path.isdir(path):
            shutil.rmtree(old)
        else:
            os.rename(old, path)
    if os.path.isdir(tmp):
        shutil.rmtree(tmp)


def run_to_merge_snapshot(
    stream_df: DataFrame,
    path: str,
    keys: list,
) -> None:
    """Drain a bounded stream through the idempotent MERGE sink: each
    micro-batch upserts into the parquet snapshot at ``path`` keyed by
    ``keys``, skipping already-committed batchIds. availableNow
    processes the backlog and stops (same contract as run_to_memory).
    """
    from .windows import batch_shuffle_partitions

    spark = stream_df.sparkSession

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        merge_batch_into_snapshot(spark, batch_df, path, keys, batch_id)

    with batch_shuffle_partitions(spark):
        q = (
            stream_df.writeStream.foreachBatch(apply_batch)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        from .windows import (
            _await_capturing_plans,
            _capture_state_metrics,
        )

        plans = _await_capturing_plans(q)
        _capture_state_metrics(q, os.path.basename(path), plans)
