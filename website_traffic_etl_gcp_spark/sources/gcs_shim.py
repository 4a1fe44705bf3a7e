"""``gs://`` object-store adapter — reference-parity for the GCS/
BigQuery surface, with no hard dependency on the Google SDKs.

What maps to what (reference extract.py:18-53, load.py:17-110):

- ``download_object`` ↔ ``storage.Client().bucket(b).blob(p)
  .download_to_filename(...)`` (extract.py:download_from_gcs),
  including the blob-existence precheck and the temp-file contract.
- ``upload_object`` ↔ ``blob.upload_from_filename`` +
  local-file cleanup (load.py:upload_to_gcs).
- ``copy_object`` ↔ ``bucket.copy_blob`` server-side copy
  (load.py:copy_within_gcs).
- ``load_csv_to_warehouse`` ↔ ``bigquery.Client()
  .load_table_from_uri(...)`` with the reference's CSV schema
  (time TIMESTAMP, traffic FLOAT64, created_at TIMESTAMP),
  skip_leading_rows=1 and the append/truncate write disposition
  (load.py:load_to_bigquery) — re-expressed as a Spark CSV read +
  ``writers.load_to_warehouse``, the same warehouse-table write the
  reference ETL job loads through.

Client resolution, in order:

1. an explicit ``client=`` argument (any object with the
   ``google-cloud-storage`` surface: ``client.bucket(name)`` →
   ``bucket.blob(path)`` → ``blob.exists() / download_to_filename /
   upload_from_filename``, ``bucket.copy_blob``) — this is what unit
   tests pass as a mock;
2. the real ``google.cloud.storage.Client`` when the SDK is
   importable (import-try — never a hard dependency);
3. the LOCAL MIRROR path adapter: when ``SPARK_GRAFT_GS_MIRROR`` is
   set, ``gs://bucket/path`` resolves to
   ``$SPARK_GRAFT_GS_MIRROR/bucket/path`` on the local filesystem —
   the config-pluggable adapter that lets the full reference pipeline
   (download XLS → transform → load) run end to end in an air-gapped
   environment.

For DISTRIBUTED reads (``spark.read.parquet("gs://...")``) none of
this is needed: Spark resolves ``gs://`` through the Hadoop GCS
connector when its jar is on the classpath; this module covers the
reference's driver-side object operations, which are control-plane
(one XLS file, one CSV hand-off), not data-plane.
"""

from __future__ import annotations

import logging
import os
import shutil
import tempfile
from pathlib import Path

from .writers import WriteDisposition, load_to_warehouse

logger = logging.getLogger("website_traffic_etl_gcp_spark")

__all__ = [
    "ObjectStoreError",
    "parse_gs_uri",
    "resolve_client",
    "download_object",
    "upload_object",
    "copy_object",
    "load_csv_to_warehouse",
    "LocalMirrorClient",
]


class ObjectStoreError(Exception):
    """Raised when an object-store operation fails (the shim's
    analogue of the reference's ExtractionError/LoadError)."""


def parse_gs_uri(uri: str) -> tuple[str, str]:
    """``gs://bucket/a/b.xls`` → ``("bucket", "a/b.xls")``."""
    if not uri.startswith("gs://"):
        raise ObjectStoreError(f"not a gs:// URI: {uri!r}")
    rest = uri[len("gs://"):]
    bucket, _, blob = rest.partition("/")
    if not bucket or not blob:
        raise ObjectStoreError(f"gs:// URI needs bucket and object: {uri!r}")
    return bucket, blob


# ---- local-mirror client (the path adapter) ------------------------------


class _MirrorBlob:
    def __init__(self, path: Path):
        self._path = path

    def exists(self) -> bool:
        return self._path.is_file()

    def download_to_filename(self, filename: str) -> None:
        shutil.copyfile(self._path, filename)

    def upload_from_filename(self, filename: str) -> None:
        self._path.parent.mkdir(parents=True, exist_ok=True)
        shutil.copyfile(filename, self._path)


class _MirrorBucket:
    def __init__(self, root: Path):
        self._root = root

    def blob(self, path: str) -> _MirrorBlob:
        return _MirrorBlob(self._root / path)

    def copy_blob(
        self, blob: _MirrorBlob, dest_bucket: "_MirrorBucket", dest_path: str
    ) -> None:
        if not blob.exists():
            raise ObjectStoreError(f"source object missing: {blob._path}")
        dst = dest_bucket._root / dest_path
        dst.parent.mkdir(parents=True, exist_ok=True)
        shutil.copyfile(blob._path, dst)


class LocalMirrorClient:
    """``storage.Client``-shaped adapter over a local directory tree:
    ``gs://bucket/path`` ↔ ``<root>/bucket/path``. Selected
    automatically when ``SPARK_GRAFT_GS_MIRROR`` is set."""

    def __init__(self, root: str):
        self._root = Path(root)

    def bucket(self, name: str) -> _MirrorBucket:
        return _MirrorBucket(self._root / name)


def resolve_client(client=None):
    """Explicit client > real SDK (import-try) > local mirror. Only an
    absent SDK falls through to the mirror: an installed SDK whose
    ``storage.Client()`` fails (e.g. missing credentials) raises."""
    if client is not None:
        return client
    try:  # no hard dependency: absent SDK is an expected state
        from google.cloud import storage  # type: ignore
    except ImportError:
        pass
    else:
        return storage.Client()
    mirror = os.environ.get("SPARK_GRAFT_GS_MIRROR")
    if mirror:
        return LocalMirrorClient(mirror)
    raise ObjectStoreError(
        "no gs:// client available: pass client=, install "
        "google-cloud-storage (and authenticate), or set "
        "SPARK_GRAFT_GS_MIRROR to a local mirror root"
    )


# ---- object operations (reference extract.py / load.py parity) -----------


def download_object(uri: str, client=None) -> Path:
    """Download ``gs://bucket/path`` to a temp file, preserving the
    source extension (reference extract.py:download_from_gcs)."""
    bucket_name, blob_path = parse_gs_uri(uri)
    c = resolve_client(client)
    blob = c.bucket(bucket_name).blob(blob_path)
    if not blob.exists():
        raise ObjectStoreError(f"File not found: {uri}")
    suffix = Path(blob_path).suffix
    tmp = tempfile.NamedTemporaryFile(suffix=suffix, delete=False)
    tmp.close()
    try:
        blob.download_to_filename(tmp.name)
    except Exception as e:
        os.unlink(tmp.name)
        raise ObjectStoreError(f"Download failed: {e}") from e
    logger.info("downloaded %s -> %s", uri, tmp.name)
    return Path(tmp.name)


def upload_object(local_path: Path, uri: str, client=None) -> str:
    """Upload a local file to ``gs://bucket/path`` and remove the
    local copy (reference load.py:upload_to_gcs). Returns the URI."""
    bucket_name, blob_path = parse_gs_uri(uri)
    c = resolve_client(client)
    try:
        c.bucket(bucket_name).blob(blob_path).upload_from_filename(
            str(local_path)
        )
    except Exception as e:
        raise ObjectStoreError(f"Upload failed: {e}") from e
    try:
        Path(local_path).unlink()
    except OSError:
        pass
    logger.info("uploaded %s", uri)
    return uri


def copy_object(src_uri: str, dest_uri: str, client=None) -> str:
    """Server-side copy within a bucket (reference
    load.py:copy_within_gcs). Returns the destination URI."""
    src_bucket, src_path = parse_gs_uri(src_uri)
    dst_bucket, dst_path = parse_gs_uri(dest_uri)
    if src_bucket != dst_bucket:
        raise ObjectStoreError(
            "copy_object mirrors the reference's same-bucket copy; "
            f"got {src_bucket!r} -> {dst_bucket!r}"
        )
    c = resolve_client(client)
    bucket = c.bucket(src_bucket)
    try:
        bucket.copy_blob(bucket.blob(src_path), bucket, dst_path)
    except ObjectStoreError:
        raise
    except Exception as e:
        raise ObjectStoreError(f"Copy failed: {e}") from e
    return dest_uri


# ---- warehouse load (reference load.py:load_to_bigquery parity) ----------

_TRAFFIC_CSV_SCHEMA = (
    "time timestamp, traffic double, created_at timestamp"
)


def load_csv_to_warehouse(
    spark,
    csv_uri: str,
    table_path: str,
    disposition: WriteDisposition = "append",
    client=None,
) -> int:
    """The BigQuery load re-expressed Spark-side: read the hand-off
    CSV with the reference's exact schema (header skipped, REQUIRED
    columns enforced by a null check) and write it to the warehouse
    table at ``table_path`` through ``writers.load_to_warehouse``
    under the reference's append/truncate disposition. Returns the
    loaded row count, like ``load_job.output_rows``.

    ``csv_uri`` may be a local path (read directly — the distributed
    path when the file landed on shared storage) or ``gs://`` (control-
    plane download through the client shim first)."""
    from pyspark.sql import functions as F

    path = csv_uri
    cleanup = None
    if csv_uri.startswith("gs://"):
        local = download_object(csv_uri, client=client)
        path, cleanup = str(local), local
    try:
        df = (
            spark.read.schema(_TRAFFIC_CSV_SCHEMA)
            .option("header", "true")  # skip_leading_rows=1
            .csv(path)
        )
        # REQUIRED mode: a null in any column is a malformed load
        bad = df.filter(
            F.col("time").isNull()
            | F.col("traffic").isNull()
            | F.col("created_at").isNull()
        ).limit(1).count()
        if bad:
            raise ObjectStoreError(
                f"CSV {csv_uri} has nulls in REQUIRED columns"
            )
        load_to_warehouse(df, table_path, disposition)
        return df.count()
    finally:
        if cleanup is not None:
            cleanup.unlink(missing_ok=True)
