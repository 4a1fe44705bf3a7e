"""foreachBatch sink committing micro-batches to a snapshot table —
exactly-once appends under at-least-once streaming execution.

The upsert sink (streaming/upsert.py) gets idempotence from an
anti-join against the live table; the WAP ingest stages + audits.
This sink gets it from the TABLE FORMAT: each micro-batch stages its
files (invisible until referenced) and commits one manifest carrying
its ``batch_id``. Each commit also sets the table-level ``batch_hwm``
high-water mark, which every later commit (compaction, repack, merge)
inherits, so vacuum cannot drop it. A replayed batch — foreachBatch
retries after a write-success/checkpoint-fail — finds its batch_id at
or below the head's high-water mark and no-ops, so rows land exactly
once without any read-side dedup work. Concurrent readers keep
whatever snapshot they resolved (isolation), and downstream consumers
can poll ``current_version`` to incrementally process only new
commits.

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


def _high_water(root: str, version: int) -> int:
    if version == 0:
        return -1
    return st.read_manifest(root, version).get("batch_hwm", -1)


def batch_high_water(root: str) -> int:
    """Max batch_id ever committed, read from the head manifest alone:
    ``batch_hwm`` is a table-level field every later commit inherits,
    so it survives ``vacuum()`` dropping the manifest that recorded
    the batch and any maintenance commit in between. Returns -1 for a
    table no sink has written."""
    return _high_water(root, st.current_version(root))


def is_batch_committed(root: str, batch_id: int) -> bool:
    """Streaming batch_ids are monotone per query, so every committed
    id is at most the high-water mark: ≤ hwm means already landed."""
    return batch_id <= batch_high_water(root)


def snapshot_batch_writer(root: str):
    """A foreachBatch function appending each micro-batch to the
    snapshot table at ``root`` exactly once (replays no-op on the
    recorded high-water mark)."""

    def write(batch_df: DataFrame, batch_id: int) -> None:
        if is_batch_committed(root, batch_id):
            return  # replayed batch: its commit already landed
        files = st.stage_files(batch_df, root)

        def attempt(parent: int):
            # another writer (or an interleaved batch of this query)
            # may advance the head between the check and the commit —
            # re-check against each head so a replay can't double-land
            if batch_id <= _high_water(root, parent):
                shutil.rmtree(Path(files[0]).parent, ignore_errors=True)
                return None
            extra = {"batch_id": batch_id, "batch_hwm": batch_id}
            return files, "append", extra, None

        st.transact(root, attempt)

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
