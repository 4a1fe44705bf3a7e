"""Bounded drains: the exactly-once foreachBatch sink and its lifecycle.

Every bounded streaming ingest lands rows the same way: drain all
available input with ``trigger(availableNow=True)`` through
``foreachBatch``, and write each micro-batch to its own
``batch-%08d`` subdir with overwrite. Checkpointing makes redelivered
FILES no-ops at the source; the batch_id-keyed overwrite makes a
retried BATCH replace its own output — together, exactly-once rows
under at-least-once execution.

Scratch state lives under ``SCRATCH_ROOT`` (``<repo>/.scratch``), one
fresh ``<kind>/<sf basename>/<uuid12>`` dir per run so concurrent
drains never share a checkpoint.
"""

from __future__ import annotations

import atexit
import os
import shutil
import uuid
from typing import Callable

from pyspark.sql import DataFrame, SparkSession

__all__ = [
    "SCRATCH_ROOT",
    "scratch_dir",
    "reap_at_exit",
    "write_batch",
    "drain",
    "read_back",
]

SCRATCH_ROOT = os.path.join(
    os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))),
    ".scratch",
)


def scratch_dir(kind: str, sf_dir: str) -> str:
    """A fresh per-run dir ``SCRATCH_ROOT/<kind>/<sf basename>/<uuid12>``
    (not created)."""
    return os.path.join(
        SCRATCH_ROOT,
        kind,
        os.path.basename(sf_dir.rstrip("/")),
        uuid.uuid4().hex[:12],
    )


def reap_at_exit(path: str) -> None:
    """Delete a scratch dir at interpreter exit: a frame returned over
    it reads it lazily for the rest of the session, so an eager delete
    would leave the frame scanning a missing source."""
    atexit.register(shutil.rmtree, path, ignore_errors=True)


def write_batch(df: DataFrame, out_path: str, batch_id: int) -> None:
    """foreachBatch is at-least-once per batch: a retry after the
    write but before the checkpoint commit re-runs this batch_id.
    Writing each batch to its own batch_id-keyed subdir with overwrite
    makes the retry REPLACE its own output instead of appending
    duplicate rows."""
    df.write.mode("overwrite").parquet(
        os.path.join(out_path, f"batch-{batch_id:08d}")
    )


def drain(
    stream: DataFrame,
    on_batch: Callable[[DataFrame, int], None],
    ckpt: str,
) -> None:
    """Run ``on_batch`` over every micro-batch of the input available
    now, checkpointed at ``ckpt``; returns when the input is drained."""
    q = (
        stream.writeStream.foreachBatch(on_batch)
        .trigger(availableNow=True)
        .option("checkpointLocation", ckpt)
        .start()
    )
    q.awaitTermination()


def read_back(
    spark: SparkSession, root: str, ckpt: str, out_path: str
) -> DataFrame:
    """The landed batches under ``out_path`` as a distributed frame — no
    driver collect/rebuild round-trip. The checkpoint is deleted now
    (the drain is complete); ``root`` must outlive this call since the
    returned frame scans it lazily, so it is reaped at process exit."""
    shutil.rmtree(ckpt, ignore_errors=True)
    reap_at_exit(root)
    return spark.read.option("recursiveFileLookup", "true").parquet(out_path)
