"""Warehouse writer — reference load.py re-expressed Spark-first.

The reference uploads a CSV and issues a BigQuery load job with
append/truncate disposition and a fixed schema (load.py:67-110), after
copying the raw input to a backup prefix (load.py:50-64). The Spark
analog is a partitioned parquet warehouse table written with the
matching save mode; `backup` is a filesystem copy of the raw input.
Paths are URIs — the same code targets local disks, HDFS, or object
stores (gs://, s3a://) purely through Hadoop filesystem connectors; no
cloud SDK in the data path.
"""

from __future__ import annotations

import shutil
from pathlib import Path
from typing import Literal

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

WriteDisposition = Literal["append", "truncate"]


class LoadError(Exception):
    """Reference-parity failure type (load.py:14)."""


def load_to_warehouse(
    df: DataFrame,
    table_path: str,
    disposition: WriteDisposition = "append",
    partition_by: tuple[str, ...] = (),
) -> None:
    """Write the transformed frame as the warehouse table. ``append``
    matches WRITE_APPEND, ``truncate`` WRITE_TRUNCATE (load.py:86-90).
    Partitioning by a date column keeps per-day pruning effective at
    scale."""
    if disposition not in ("append", "truncate"):
        raise LoadError(f"Invalid write disposition: {disposition}")
    mode = "append" if disposition == "append" else "overwrite"
    writer = df.write.mode(mode)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(table_path)


def overwrite_partitions(
    df: DataFrame,
    table_path: str,
    partition_by: tuple[str, ...],
) -> None:
    """Dynamic partition overwrite: replace ONLY the hive partitions
    present in ``df``, leaving every other partition untouched — the
    idempotent daily-reload primitive (re-running a day's batch
    replaces that day, never truncates the table or duplicates rows
    like plain overwrite/append would).

    Uses Spark's ``partitionOverwriteMode=dynamic``; the conf is set
    per-write and restored, so surrounding jobs keep their static
    semantics. At 100 TB this is the difference between rewriting one
    day (~1/365th) and rewriting the table."""
    spark = df.sparkSession
    key = "spark.sql.sources.partitionOverwriteMode"
    before = spark.conf.get(key, None)
    spark.conf.set(key, "dynamic")
    try:
        (
            df.write.mode("overwrite")
            .partitionBy(*partition_by)
            .parquet(table_path)
        )
    finally:
        if before is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, before)


def backup_raw(source_path: str, backup_dir: str, run_timestamp: str) -> str:
    """Copy the raw input aside before loading (load.py:50-64 parity).
    Local-path implementation; on a real cluster this is a same-store
    server-side copy."""
    src = Path(source_path)
    dest_dir = Path(backup_dir)
    dest_dir.mkdir(parents=True, exist_ok=True)
    dest = dest_dir / f"original_{run_timestamp}{src.suffix}"
    if src.is_dir():
        shutil.copytree(src, dest, dirs_exist_ok=True)
    else:
        shutil.copy2(src, dest)
    return str(dest)


def save_csv(df: DataFrame, out_dir: str, run_timestamp: str) -> str:
    """Timestamped CSV export (transform.py:66-72 parity), written
    distributed (a directory of part files, not a single driver-side
    file — coalescing 100 TB to one file is the classic anti-pattern)."""
    path = f"{out_dir.rstrip('/')}/traffic_data_{run_timestamp}.csv"
    df.write.mode("overwrite").option("header", "true").csv(path)
    return path


def read_warehouse(
    spark: SparkSession, table_path: str, merge_schema: bool = False
) -> DataFrame:
    """Read the warehouse table. ``merge_schema=True`` unions the
    schemas of all part files (schema evolution: columns added by
    later appends surface as NULL for older files). Off by default —
    footer-merging costs one extra pass over file metadata, which on
    a 100 TB table is millions of footers; flip it on only for tables
    that actually evolve."""
    reader = spark.read
    if merge_schema:
        reader = reader.option("mergeSchema", "true")
    return reader.parquet(table_path)


def dedupe_warehouse(df: DataFrame, key_cols: tuple[str, ...]) -> DataFrame:
    """Idempotent-append compaction: keep the newest created_at per
    key (see plans/etl.py:etl_append_dedup for the oracle-checked
    semantics)."""
    from pyspark.sql import Window

    w = Window.partitionBy(*key_cols).orderBy(F.col("created_at").desc())
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def write_zordered(
    df: DataFrame,
    table_path: str,
    zorder_by: tuple[str, ...],
    n_files: int = 8,
    bits: int = 16,
) -> None:
    """Write ``df`` clustered on the Z-order key of ``zorder_by`` —
    range-partitioned then sorted within files, so min/max stats stay
    narrow for EVERY listed column and scans filtering any of them
    prune files. Columns must already be small non-negative ints
    (bucketize/rank first)."""
    from ..functions.zorder import zorder_key

    (
        df.withColumn("__z", zorder_key(*zorder_by, bits=bits))
        .repartitionByRange(n_files, "__z")
        .sortWithinPartitions("__z")
        .drop("__z")
        .write.mode("overwrite")
        .parquet(table_path)
    )


def _swap_in(root: Path, staging: Path) -> None:
    """Replace ``root`` with ``staging`` (local rename swap; on an
    object store this is a manifest/metastore pointer swap)."""
    old = root.with_name(root.name + ".__swap_old__")
    root.rename(old)
    staging.rename(root)
    shutil.rmtree(old)


def write_audit_publish(
    df: DataFrame,
    table_path: str,
    rules: dict,
    unique_keys: tuple[str, ...] = (),
) -> dict:
    """Write-audit-publish on a manifest-pointer table
    (sources/snapshot_table.py): stage the write as unreferenced files,
    run the declarative DQ expectations against the STAGED FILES (what
    was actually written, not the input plan — a lost task or codec
    bug shows up here), and only then publish them as the next table
    VERSION through ``snapshot_table.transact``, like every snapshot
    write. On any failed expectation the staged files are discarded
    and the live table is left untouched — readers never observe a
    half-written or rule-violating table, concurrent readers keep their
    resolved snapshot, and concurrent writers race on the manifest
    create and retry. Read with ``snapshot_table.read_snapshot``.

    ``rules`` maps rule name → violation predicate (operators/quality
    contract); ``unique_keys`` adds a key-uniqueness expectation.
    Returns {published, n_rows, report} (+``version`` when published);
    callers gate downstream jobs on ``published`` rather than catching
    exceptions."""
    from ..operators.quality import expect, expect_unique
    from . import snapshot_table as st

    staged_files = st.stage_files(df, table_path)
    staged = df.sparkSession.read.parquet(*staged_files)

    report_df = expect(staged, rules)
    if unique_keys:
        report_df = report_df.unionByName(
            expect_unique(
                staged, list(unique_keys), "unique_" + "_".join(unique_keys)
            )
        )
    report = [r.asDict() for r in report_df.collect()]
    n_rows = report[0]["n_rows"] if report else staged.count()
    published = all(r["passed"] for r in report)
    out = {"published": published, "n_rows": n_rows, "report": report}
    if published:
        # an overwrite declares its own schema rather than inheriting
        # the replaced table's
        extra = {"schema": df.schema.jsonValue()}
        out["version"], _ = st.transact(
            table_path,
            lambda parent: (staged_files, "overwrite", extra, None),
        )
    else:
        # abort: staged files were never referenced by a manifest —
        # removing them is invisible to every reader
        shutil.rmtree(Path(staged_files[0]).parent, ignore_errors=True)
    return out


def delete_rows(spark: SparkSession, table_path: str, predicate: str) -> dict:
    """Targeted delete by rewrite (retention enforcement / GDPR
    right-to-erasure on a manifest-pointer table): keep everything NOT
    matching ``predicate`` and commit the rewrite as a new version. The
    predicate is a SQL boolean expression; because the keep-filter is
    declarative it pushes to the scan. In-flight readers keep their
    snapshot, and the pre-delete version stays time-travel-readable
    until vacuumed (the audit trail a GDPR workflow wants to control
    explicitly). The delete is conflict-checked: it reads one version,
    filters it and commits over that same version, so a write landing
    in between makes it re-read the new head instead of being
    overwritten. Returns {rows_before, rows_deleted, rows_after,
    version}."""
    from . import snapshot_table as st

    def attempt(parent: int):
        df = st.read_snapshot(spark, table_path, parent)
        # Keep rows where the predicate is NOT TRUE — three-valued
        # logic: NOT(NULL) is NULL, so filter("NOT (pred)") would
        # silently DROP any row where the predicate evaluates NULL
        # (e.g. `user_id = 5` against a NULL user_id). A delete must
        # only remove rows that match.
        keep = df.filter(~F.coalesce(F.expr(predicate), F.lit(False)))
        files = st.stage_files(keep, table_path)
        extra = {"schema": keep.schema.jsonValue()}
        return files, "overwrite", extra, df.count()

    version, rows_before = st.transact(table_path, attempt)
    rows_after = st.read_snapshot(spark, table_path, version).count()
    return {
        "rows_before": rows_before,
        "rows_deleted": rows_before - rows_after,
        "rows_after": rows_after,
        "version": version,
    }


def compact_table(
    spark: SparkSession,
    table_path: str,
    target_file_bytes: int = 128 * 1024 * 1024,
    partition_by: tuple[str, ...] = (),
    sort_within_by: tuple[str, ...] = (),
) -> dict:
    """Small-file compaction (the OPTIMIZE step of a streaming-append
    warehouse): rewrite the table so data files are ~``target_file_bytes``
    each, preserving hive partitioning and optionally clustering rows
    within files (``sort_within_by``) so min/max stats prune row groups.

    Streaming sinks and frequent small appends leave thousands of tiny
    files; at 100 TB that turns every scan into metadata + open-cost
    hell. Compaction is one read + one write sized from the actual
    byte count — no shuffle unless re-partitioning demands it.

    Local-filesystem swap (staging dir + rename); on an object store
    the same rewrite lands behind a manifest/metastore pointer swap.
    Returns {files_before, files_after, bytes_total}.
    """
    root = Path(table_path)
    data_files = [
        p for p in root.rglob("*.parquet") if not p.name.startswith(("_", "."))
    ]
    bytes_total = sum(p.stat().st_size for p in data_files)
    n_out = max(1, -(-bytes_total // target_file_bytes))  # ceil

    df = spark.read.parquet(table_path)
    if partition_by:
        # one file per (partition × slice): repartition on the partition
        # columns so each hive dir is written by few tasks, not all
        df = df.repartition(int(n_out), *[F.col(c) for c in partition_by])
    else:
        df = df.repartition(int(n_out))
    if sort_within_by:
        df = df.sortWithinPartitions(*sort_within_by)

    staging = root.with_name(root.name + ".__compact_staging__")
    writer = df.write.mode("overwrite")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(str(staging))

    _swap_in(root, staging)

    files_after = len(
        [p for p in root.rglob("*.parquet") if not p.name.startswith(("_", "."))]
    )
    return {
        "files_before": len(data_files),
        "files_after": files_after,
        "bytes_total": bytes_total,
    }


def write_sorted_table(
    df: DataFrame,
    table_path: str,
    key_col: str,
    n_files: int = 8,
) -> DataFrame:
    """TOTAL-ORDER export: range-partition on ``key_col`` (one sampled
    range exchange — Spark's RangePartitioner, the same machinery as
    a distributed sort) then sort within partitions, so the table is
    globally sorted across files: every file holds a contiguous,
    disjoint key range and is internally ordered. Downstream consumers
    get merge-join inputs, binary-searchable runs, and parquet min/max
    file pruning on the key for free — without any reader-side sort.

    Returns a per-file MANIFEST frame (file, key_min, key_max, n_rows)
    computed in one pass over the written table; callers persist it
    next to the data as the range index."""
    spark = df.sparkSession
    (
        df.repartitionByRange(n_files, key_col)
        .sortWithinPartitions(key_col)
        .write.mode("overwrite")
        .parquet(table_path)
    )
    out = spark.read.parquet(table_path)
    return (
        out.groupBy(F.input_file_name().alias("file"))
        .agg(
            F.min(key_col).alias("key_min"),
            F.max(key_col).alias("key_max"),
            F.count(F.lit(1)).alias("n_rows"),
        )
    )


def write_training_shards(
    df: DataFrame,
    out_dir: str,
    id_col: str = "doc_id",
    n_shards: int = 32,
) -> DataFrame:
    """Materialize the deterministic training-shard layout: shard =
    md5(id) mod ``n_shards`` (the same content-independent assignment
    ``export_training_shards`` reports on), written as one partition
    directory per shard with exactly one file each.

    The repartition and the partitionBy use the SAME key, so the write
    adds no second shuffle beyond the single hash exchange — and each
    output task owns exactly one shard, so a shard is one parquet file
    a downstream dataloader can stream sequentially. Any worker can
    recompute any row's shard with no coordination; re-exports are
    byte-stable.

    Returns the written frame re-read from ``out_dir`` (schema now
    carries shard_id as a partition column)."""
    from ..functions.texthash import md5_long

    spark = df.sparkSession
    sharded = df.withColumn(
        "shard_id",
        (md5_long(F.col(id_col).cast("string")) % n_shards).cast("int"),
    )
    (
        sharded.repartition(n_shards, "shard_id")
        .write.mode("overwrite")
        .partitionBy("shard_id")
        .parquet(out_dir)
    )
    return spark.read.parquet(out_dir)


def write_split_datasets(
    df: DataFrame,
    out_dir: str,
    text_col: str = "text",
    fractions: tuple[int, int] = (80, 10),
) -> DataFrame:
    """Materialize the leakage-safe train/val/test layout: the split
    bucket is hashed from the CONTENT fingerprint (md5 of normalized
    text), so identical documents always land in the same split — the
    invariant ``plans/documents.py:leakage_safe_split`` reports on.
    ``fractions`` = (train%, val%); test gets the remainder.

    One hash exchange keyed on (split, 32-way content-hash salt), so
    each split's data spreads over ~32 writer tasks instead of
    funneling 80% of the corpus through a single train reducer —
    the same fan-out discipline as ``write_training_shards``.
    Partition dirs ``split=train|val|test`` are the layout a
    dataloader mounts directly.  Map-side the assignment is pure
    per-row hashing — any worker recomputes any row's split with no
    coordination, and re-exports are byte-stable.

    Returns the written frame re-read from ``out_dir`` (split becomes
    a partition column)."""
    from ..functions.texthash import md5_long, normalize_text

    train_pct, val_pct = fractions
    if not (0 < train_pct and 0 <= val_pct and train_pct + val_pct < 100):
        raise ValueError(
            f"fractions must satisfy 0 < train, 0 <= val, "
            f"train + val < 100; got {fractions}"
        )
    spark = df.sparkSession
    fp_long = md5_long(F.md5(normalize_text(text_col)))
    b = fp_long % 100
    split = (
        F.when(b < train_pct, F.lit("train"))
        .when(b < train_pct + val_pct, F.lit("val"))
        .otherwise(F.lit("test"))
    )
    # 32-way salt from the same hash, jointly uniform with the bucket
    salt = F.floor((fp_long % 3200) / 100).cast("int")
    (
        df.withColumn("split", split)
        .repartition(96, F.col("split"), salt)
        .write.mode("overwrite")
        .partitionBy("split")
        .parquet(out_dir)
    )
    return spark.read.parquet(out_dir)
