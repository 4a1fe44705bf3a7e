"""foreachBatch sink committing micro-batches to a snapshot table —
exactly-once appends under at-least-once streaming execution.

The upsert sink (streaming/upsert.py) gets idempotence from an
anti-join against the live table; the WAP ingest stages + audits.
This sink gets it from the TABLE FORMAT: each micro-batch stages its
files (invisible until referenced) and commits one manifest carrying
its ``batch_id``. A replayed batch — foreachBatch retries after a
write-success/checkpoint-fail — finds its batch_id already in the
manifest chain and no-ops, so rows land exactly once without any
read-side dedup work. Concurrent readers keep whatever snapshot they
resolved (isolation), and downstream consumers can poll
``current_version`` to incrementally process only new commits.

At scale this is the standard streaming-lakehouse shape (Delta/Iceberg
streaming writes): commit cost is one manifest write per batch —
O(files in batch), independent of table size — and the data files
never rewrite.
"""

from __future__ import annotations

import shutil
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

from ..sources import snapshot_table as st
from .drain import drain

__all__ = ["committed_batch_ids", "batch_high_water", "is_batch_committed",
           "snapshot_batch_writer", "run_stream_to_snapshot"]


def committed_batch_ids(root: str) -> set[int]:
    """batch_ids present anywhere in the retained manifest chain."""
    out = set()
    for v in st.snapshot_versions(root):
        m = st.read_manifest(root, v)
        if "batch_id" in m:
            out.add(m["batch_id"])
    return out


def batch_high_water(root: str) -> int:
    """Max batch_id ever committed, carried FORWARD in each sink
    manifest as ``batch_hwm`` — so it survives ``vacuum()`` dropping
    the manifest that recorded the batch. Without it, a late
    foreachBatch replay of a vacuumed batch_id would re-commit and
    silently duplicate rows (streaming batch_ids are monotone per
    query, so ≤-hwm means already-landed). Returns -1 for a table no
    sink has written."""
    hwm = -1
    for v in st.snapshot_versions(root):
        m = st.read_manifest(root, v)
        hwm = max(hwm, m.get("batch_hwm", -1), m.get("batch_id", -1))
    return hwm


def is_batch_committed(root: str, batch_id: int) -> bool:
    return batch_id in committed_batch_ids(root) or (
        batch_id <= batch_high_water(root)
    )


def snapshot_batch_writer(root: str, max_retries: int = 5):
    """A foreachBatch function appending each micro-batch to the
    snapshot table at ``root`` exactly once (replays no-op on the
    recorded batch_id)."""

    def write(batch_df: DataFrame, batch_id: int) -> None:
        if is_batch_committed(root, batch_id):
            return  # replayed batch: its commit already landed
        files = st.stage_files(batch_df, root)
        for _ in range(max_retries):
            # another writer (or an interleaved batch of this query)
            # may advance the head between the check and the commit —
            # re-check under each retry so a replay can't double-land
            if is_batch_committed(root, batch_id):
                shutil.rmtree(Path(files[0]).parent, ignore_errors=True)
                return
            try:
                st._commit(
                    root, files, "append", st.current_version(root),
                    extra={
                        "batch_id": batch_id,
                        # carried-forward high-water mark: survives
                        # vacuum of the manifest that recorded batch_id
                        "batch_hwm": max(batch_high_water(root), batch_id),
                    },
                )
                return
            except st.CommitConflict:
                continue
        raise st.CommitConflict(
            f"batch {batch_id} could not commit to {root}"
        )

    return write


def run_stream_to_snapshot(
    spark: SparkSession,
    source_dir: str,
    schema,
    out_root: str,
    checkpoint_dir: str,
) -> int:
    """Drain a file-source stream into a snapshot table with
    availableNow, returning the committed table version. Checkpointing
    dedups FILES at the source; the batch_id manifests dedup BATCHES
    at the sink — together exactly-once rows under at-least-once
    execution."""
    stream = (
        spark.readStream.schema(schema)
        .option("recursiveFileLookup", "true")
        .parquet(source_dir)
    )
    drain(stream, snapshot_batch_writer(out_root), checkpoint_dir)
    return st.current_version(out_root)
