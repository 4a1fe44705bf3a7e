"""foreachBatch upsert sink: exactly-once warehouse loads from an
at-least-once stream.

Structured Streaming's file sink is append-only; redelivered input or
a restarted query duplicates rows. The standard fix is ``foreachBatch``
with a MERGE-style upsert: dedupe the batch on the key, anti-join
against the existing table, append only genuinely new keys. Every
batch write is then idempotent — replaying the whole stream against a
populated table is a no-op — which is the property checkpoint recovery
relies on. On a lakehouse table format this body becomes a real MERGE
INTO; on plain parquet the anti-join plays that role.
"""

from __future__ import annotations

from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

from .drain import drain
from .rollups import (
    duplicated_stream_source_dir,
    read_events_stream,
)

__all__ = ["run_upsert_ingest"]


def run_upsert_ingest(
    spark: SparkSession,
    sf_dir: str,
    table_path: str,
    key: str = "event_id",
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Drain the (deliberately duplicated) events landing dir into
    ``table_path`` via foreachBatch upsert; returns the final table.
    Pass a FRESH ``checkpoint_dir`` to simulate full redelivery (with
    the same checkpoint, the source itself skips processed files and
    the upsert path isn't exercised)."""

    def upsert(batch_df: DataFrame, batch_id: int) -> None:
        batch = batch_df.dropDuplicates([key])
        if Path(table_path).is_dir():
            existing = batch_df.sparkSession.read.parquet(table_path).select(key)
            batch = batch.join(existing, key, "left_anti")
        batch.write.mode("append").parquet(table_path)

    ev = read_events_stream(
        spark, sf_dir, duplicated_stream_source_dir(sf_dir, "events")
    )
    drain(
        ev,
        upsert,
        checkpoint_dir
        or str(Path(table_path).with_name(Path(table_path).name + "_ckpt")),
    )
    return spark.read.parquet(table_path)


def run_cdc_merge_orders(
    spark: SparkSession,
    sf_dir: str,
    scratch_root: str,
):
    """Ordered CDC apply via foreachBatch MERGE INTO a snapshot table —
    the real-MERGE form the module docstring promises once a
    transactional format exists (it does: sources/snapshot_table.py).

    A deterministic three-batch CDC feed over orders lands as one
    parquet file per batch (mtimes pinned so the file source replays
    them IN ORDER under maxFilesPerTrigger=1 — CDC order is
    semantics, not an optimization):

    - batch 0: upsert every 5th key repriced +5
    - batch 1: delete every 7th key
    - batch 2: upsert every 11th key repriced +11 (re-inserting any
      key batch 1 deleted — the delete-then-reinsert order is what the
      oracle pins)

    Each micro-batch applies as one ``merge_snapshot`` (file-pruned
    copy-on-write; the ``_op`` column rides as the delete predicate
    and is dropped on write). Content is idempotent under redelivery —
    replaying a batch re-replaces rows with identical values — and
    every batch is an atomic manifest commit, so readers never observe
    a half-applied batch.

    Returns (final snapshot DataFrame, committed version count).
    """
    import glob
    import os
    import shutil

    from pyspark.sql import functions as F
    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StringType,
        StructField,
        StructType,
    )

    from ..catalog import load_table
    from ..sources import snapshot_table as st

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    table_root = os.path.join(scratch_root, "table")
    st.write_snapshot(orders.repartition(8, "o_orderkey"), table_root)

    land = os.path.join(scratch_root, "cdc_land")
    os.makedirs(land, exist_ok=True)
    k = F.col("o_orderkey")
    batches = [
        orders.filter(k % 5 == 0)
        .withColumn("o_totalprice", F.col("o_totalprice") + 5)
        .withColumn("_op", F.lit("upsert")),
        orders.filter(k % 7 == 0).withColumn("_op", F.lit("delete")),
        orders.filter(k % 11 == 0)
        .withColumn("o_totalprice", F.col("o_totalprice") + 11)
        .withColumn("_op", F.lit("upsert")),
    ]
    for i, b in enumerate(batches):
        tmp = os.path.join(scratch_root, f"_stage_{i}")
        b.coalesce(1).write.mode("overwrite").parquet(tmp)
        part = glob.glob(os.path.join(tmp, "part-*.parquet"))[0]
        dst = os.path.join(land, f"batch_{i}.parquet")
        shutil.move(part, dst)
        os.utime(dst, (1_700_000_000 + i, 1_700_000_000 + i))
        shutil.rmtree(tmp, ignore_errors=True)

    schema = StructType(
        [
            StructField("o_orderkey", LongType()),
            StructField("o_orderstatus", StringType()),
            StructField("o_totalprice", DoubleType()),
            StructField("_op", StringType()),
        ]
    )

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        st.merge_snapshot(
            batch_df.sparkSession,
            table_root,
            batch_df,
            ["o_orderkey"],
            delete_predicate="_op = 'delete'",
        )

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(land)
    )
    drain(stream, apply_batch, os.path.join(scratch_root, "ckpt"))
    return (
        st.read_snapshot(spark, table_root),
        len(st.snapshot_versions(table_root)),
    )
