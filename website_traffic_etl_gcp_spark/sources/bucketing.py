"""Bucketed tables: shuffle-free co-located joins, and the one
register-or-build path for the persisted indexes.

At 100 TB the orders⋈lineitem join is the dominant shuffle in every
revenue query. Writing both tables bucketed by the join key (same
bucket count) lets Spark plan a SortMergeJoin with NO Exchange on
either side — the co-location is established once at write time and
amortized over every subsequent join. This module owns the bucketed
layout; tests/test_bucketing.py asserts the exchange-free plan.

The persisted indexes (operators/dedup_index.py, operators/ann_index.py,
streaming/embed_ingest.py) are EXTERNAL bucketed tables under one
shared root (``$WTES_INDEX_DIR``, default ``$TMPDIR/wtes_dedup_index``;
a real deployment points it at durable storage), named by
``index_table_name`` from a hash of the corpus state
(``catalog.state_key``). ``publish_bucketed`` is their only
register-or-build step: a table the session already has is used as
is, a location another process published is registered, and anything
else is built to a tmp dir and renamed into place, first writer wins.
The frame comes as a zero-argument builder that only the build branch
calls, so eager work (codebook training, codebook collects) never
runs for a published table. Names are content-keyed and locations
immutable, so this is build once, probe many across processes with
no staleness.
"""

from __future__ import annotations

import os
import shutil
import tempfile
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import state_key

# bucket count of every persisted index — publish and register must
# agree, or Spark misreads the per-file bucket ids — and the default
# for managed bucketed tables
DEFAULT_BUCKETS = 8


def index_table_name(kind: str, corpus_key: str) -> str:
    """Stable per-(kind, corpus-STATE) table name: the corpus key (e.g.
    the sf_dir path) is folded with its file-stat stamp, so distinct
    or regenerated corpora never share a table."""
    return f"wtes_{kind}_idx_{state_key(corpus_key)[:10]}"


def index_path(name: str) -> str:
    """Location of a persisted index artifact under the shared root."""
    root = os.environ.get(
        "WTES_INDEX_DIR",
        os.path.join(tempfile.gettempdir(), "wtes_dedup_index"),
    )
    return os.path.abspath(os.path.join(root, name))


def is_published(path: str) -> bool:
    """A location counts as published only when the whole directory
    landed via the atomic rename in ``publish_bucketed`` — the
    ``_SUCCESS`` marker rides inside the renamed dir, so a half-built
    or crashed write is never mistaken for a live table."""
    return os.path.isfile(os.path.join(path, "_SUCCESS"))


def _fsync_dir(path: str) -> None:
    try:
        fd = os.open(path, os.O_RDONLY)
        try:
            os.fsync(fd)
        finally:
            os.close(fd)
    except OSError:
        pass  # fsync of a directory is best-effort on some filesystems


def _bucketed_writer(
    df: DataFrame, bucket_col: str, n_buckets: int, sort_col: str | None
):
    """Repartition on the bucket column before a bucketed write so
    each writer task holds exactly one bucket's rows. Without this the
    write emits (writer tasks × buckets) files — the measured bands
    index at sf0.1 was 2048 files for 17 MB, and its probe-side scan
    spent ~0.75 s of a 10k-row read on per-file open overhead (guide
    §6's small-files problem, paid on EVERY probe). repartition(n,
    col) and bucketBy(n, col) share the same pmod(murmur3) routing, so
    the shuffle aligns rows exactly one bucket per task; layout-only —
    bytes, rows and bucket ids are unchanged."""
    writer = (
        df.repartition(n_buckets, F.col(bucket_col))
        .write.mode("overwrite")
        .format("parquet")
        .bucketBy(n_buckets, bucket_col)
    )
    return writer.sortBy(sort_col) if sort_col else writer


def publish_bucketed(
    spark: SparkSession,
    build: Callable[[], DataFrame],
    table_name: str,
    key_col: str,
) -> None:
    """Register-or-build the persisted index ``table_name``, bucketed
    and sorted on ``key_col``, at ``index_path(table_name)``.

    The session already has the table → done. Another process already
    published the location → register it. Otherwise call ``build`` and
    write its frame into ``<path>.tmp.<pid>``, then atomically rename
    it into ``path`` — never rmtree a live location. If another process
    published first (the rename fails because the destination exists),
    its content wins and ours is discarded: names are content-keyed, so
    concurrent builders produce identical bytes and first-writer-wins
    is safe."""
    if spark.catalog.tableExists(table_name):
        return
    path = index_path(table_name)
    if not is_published(path):
        tmp_path = f"{path}.tmp.{os.getpid()}"
        tmp_table = f"{table_name}__build_{os.getpid()}"
        spark.sql(f"DROP TABLE IF EXISTS `{tmp_table}`")
        shutil.rmtree(tmp_path, ignore_errors=True)  # own leftovers only
        writer = _bucketed_writer(build(), key_col, DEFAULT_BUCKETS, key_col)
        writer.option("path", tmp_path).saveAsTable(tmp_table)
        # external table: dropping the catalog entry keeps the files
        spark.sql(f"DROP TABLE IF EXISTS `{tmp_table}`")
        os.makedirs(os.path.dirname(path), exist_ok=True)
        try:
            os.rename(tmp_path, path)
            _fsync_dir(os.path.dirname(path))
        except OSError:
            # lost the publish race — the winner's identical content
            # is already live; discard our build
            shutil.rmtree(tmp_path, ignore_errors=True)
    # register: schema from the parquet footers; Spark recovers per-file
    # bucket ids from the ``_000NN`` filename component, so the spec
    # must be the one the files were written with
    schema = spark.read.parquet(path).schema
    cols = ", ".join(
        f"`{f.name}` {f.dataType.simpleString()}" for f in schema.fields
    )
    spark.sql(
        f"CREATE TABLE `{table_name}` ({cols}) USING PARQUET "
        f"CLUSTERED BY (`{key_col}`) SORTED BY (`{key_col}` ASC) "
        f"INTO {DEFAULT_BUCKETS} BUCKETS LOCATION '{path}'"
    )


def write_bucketed(
    df: DataFrame,
    table_name: str,
    bucket_col: str,
    n_buckets: int = DEFAULT_BUCKETS,
    sort_col: str | None = None,
) -> None:
    """Persist as a managed bucketed (and optionally sorted) table,
    with plain overwrite semantics. Bucket count must match across
    tables meant to co-join."""
    spark = df.sparkSession
    spark.sql(f"DROP TABLE IF EXISTS {table_name}")
    # a crashed previous write can orphan the managed location
    wh = spark.conf.get("spark.sql.warehouse.dir", "")
    if wh.startswith("file:"):
        wh = wh[len("file:"):]
    if wh:
        shutil.rmtree(f"{wh.rstrip('/')}/{table_name}", ignore_errors=True)
    _bucketed_writer(df, bucket_col, n_buckets, sort_col).saveAsTable(
        table_name
    )


def bucketed_join(
    spark: SparkSession, left_table: str, right_table: str, left_key: str,
    right_key: str,
) -> DataFrame:
    left = spark.table(left_table)
    right = spark.table(right_table)
    return left.join(right, left[left_key] == right[right_key])
