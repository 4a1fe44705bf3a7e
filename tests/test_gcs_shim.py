"""The gs:// adapter (sources/gcs_shim.py): mocked-client parity with
the reference's GCS/BigQuery surface (extract.py:18-53,
load.py:17-110), the SPARK_GRAFT_GS_MIRROR local path adapter, and
the Spark-side CSV→warehouse load — all with no Google SDK
installed."""

from __future__ import annotations

import os
import sys
from pathlib import Path

import pytest

from website_traffic_etl_gcp_spark.sources import gcs_shim as gs


class _FakeBlob:
    """Duck-typed google.cloud.storage.Blob: the exact four methods
    the shim (and the reference) touch."""

    def __init__(self, store: dict, key: str):
        self.store, self.key = store, key

    def exists(self) -> bool:
        return self.key in self.store

    def download_to_filename(self, filename: str) -> None:
        Path(filename).write_bytes(self.store[self.key])

    def upload_from_filename(self, filename: str) -> None:
        self.store[self.key] = Path(filename).read_bytes()


class _FakeBucket:
    def __init__(self, store: dict, name: str):
        self.store, self.name = store, name

    def _k(self, path: str) -> str:
        return f"{self.name}/{path}"

    def blob(self, path: str) -> _FakeBlob:
        return _FakeBlob(self.store, self._k(path))

    def copy_blob(self, blob, dest_bucket, dest_path: str) -> None:
        self.store[dest_bucket._k(dest_path)] = self.store[blob.key]


class _FakeClient:
    """storage.Client stand-in backed by a dict."""

    def __init__(self):
        self.store: dict[str, bytes] = {}

    def bucket(self, name: str) -> _FakeBucket:
        return _FakeBucket(self.store, name)


def test_parse_gs_uri():
    assert gs.parse_gs_uri("gs://b/a/c.xls") == ("b", "a/c.xls")
    for bad in ("s3://b/x", "gs://", "gs://bucketonly", "/local/path"):
        with pytest.raises(gs.ObjectStoreError):
            gs.parse_gs_uri(bad)


def test_download_upload_copy_with_mock_client(tmp_path):
    client = _FakeClient()
    client.store["raw/drop/traffic.xls"] = b"xls-bytes"

    # download: temp file preserves the source extension
    local = gs.download_object("gs://raw/drop/traffic.xls", client=client)
    try:
        assert local.suffix == ".xls"
        assert local.read_bytes() == b"xls-bytes"
    finally:
        local.unlink()

    # missing object → the reference's file-not-found contract
    with pytest.raises(gs.ObjectStoreError, match="File not found"):
        gs.download_object("gs://raw/missing.xls", client=client)

    # upload: object lands, local copy removed (load.py cleanup)
    src = tmp_path / "out.csv"
    src.write_bytes(b"time,traffic\n")
    uri = gs.upload_object(src, "gs://raw/stage/out.csv", client=client)
    assert uri == "gs://raw/stage/out.csv"
    assert client.store["raw/stage/out.csv"] == b"time,traffic\n"
    assert not src.exists()

    # server-side copy within the bucket
    gs.copy_object(
        "gs://raw/stage/out.csv", "gs://raw/archive/out.csv", client=client
    )
    assert client.store["raw/archive/out.csv"] == b"time,traffic\n"
    with pytest.raises(gs.ObjectStoreError, match="same-bucket"):
        gs.copy_object("gs://a/x", "gs://b/x", client=client)


def test_local_mirror_adapter(tmp_path, monkeypatch):
    """SPARK_GRAFT_GS_MIRROR maps gs://bucket/path to a local tree —
    the air-gapped path adapter."""
    mirror = tmp_path / "mirror"
    (mirror / "landing" / "in").mkdir(parents=True)
    (mirror / "landing" / "in" / "f.xls").write_bytes(b"payload")
    monkeypatch.setenv("SPARK_GRAFT_GS_MIRROR", str(mirror))

    local = gs.download_object("gs://landing/in/f.xls")
    try:
        assert local.read_bytes() == b"payload"
    finally:
        local.unlink()

    up = tmp_path / "u.csv"
    up.write_bytes(b"x")
    gs.upload_object(up, "gs://landing/out/u.csv")
    assert (mirror / "landing" / "out" / "u.csv").read_bytes() == b"x"

    gs.copy_object("gs://landing/out/u.csv", "gs://landing/archive/u.csv")
    assert (mirror / "landing" / "archive" / "u.csv").exists()


def test_no_client_no_mirror_fails_with_guidance(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_GS_MIRROR", raising=False)
    with pytest.raises(gs.ObjectStoreError, match="SPARK_GRAFT_GS_MIRROR"):
        gs.download_object("gs://b/x.csv")


def test_sdk_client_failure_raises_instead_of_mirror(tmp_path, monkeypatch):
    """An installed SDK whose ``storage.Client()`` fails (missing
    credentials, say) must raise where it fails, not switch silently
    to the local mirror."""
    import types

    class CredentialsError(Exception):
        pass

    def failing_client():
        raise CredentialsError("no default credentials")

    google = types.ModuleType("google")
    cloud = types.ModuleType("google.cloud")
    storage = types.ModuleType("google.cloud.storage")
    storage.Client = failing_client
    cloud.storage = storage
    google.cloud = cloud
    monkeypatch.setitem(sys.modules, "google", google)
    monkeypatch.setitem(sys.modules, "google.cloud", cloud)
    monkeypatch.setitem(sys.modules, "google.cloud.storage", storage)
    monkeypatch.setenv("SPARK_GRAFT_GS_MIRROR", str(tmp_path / "mirror"))

    with pytest.raises(CredentialsError, match="no default credentials"):
        gs.resolve_client()


def test_load_csv_to_warehouse_dispositions(spark, tmp_path):
    """The BigQuery load re-expressed: header skipped, reference
    schema, append vs truncate disposition, REQUIRED-null rejection."""
    from website_traffic_etl_gcp_spark.sources import writers

    csv = tmp_path / "t.csv"
    csv.write_text(
        "time,traffic,created_at\n"
        "2024-01-01 00:00:00,1.5,2026-01-01 00:00:00\n"
        "2024-01-01 01:00:00,2.5,2026-01-01 00:00:00\n"
    )
    table = str(tmp_path / "warehouse")
    n = gs.load_csv_to_warehouse(spark, str(csv), table, "append")
    assert n == 2
    gs.load_csv_to_warehouse(spark, str(csv), table, "append")
    assert writers.read_warehouse(spark, table).count() == 4
    n = gs.load_csv_to_warehouse(spark, str(csv), table, "truncate")
    assert n == 2 and writers.read_warehouse(spark, table).count() == 2

    bad = tmp_path / "bad.csv"
    bad.write_text("time,traffic,created_at\n,1.0,\n")
    with pytest.raises(gs.ObjectStoreError, match="REQUIRED"):
        gs.load_csv_to_warehouse(spark, str(bad), table)
    with pytest.raises(writers.LoadError, match="disposition"):
        gs.load_csv_to_warehouse(spark, str(csv), table, "replace")
    # neither failed load touched the table
    assert writers.read_warehouse(spark, table).count() == 2


def test_load_csv_via_mirror_uri(spark, tmp_path, monkeypatch):
    """End-to-end reference shape: the CSV hand-off lives at a gs://
    URI (mirror-resolved), load downloads then warehouses it."""
    from website_traffic_etl_gcp_spark.sources import writers

    mirror = tmp_path / "m"
    (mirror / "stage").mkdir(parents=True)
    (mirror / "stage" / "h.csv").write_text(
        "time,traffic,created_at\n"
        "2024-02-02 10:00:00,9.0,2026-01-01 00:00:00\n"
    )
    monkeypatch.setenv("SPARK_GRAFT_GS_MIRROR", str(mirror))
    table = str(tmp_path / "warehouse")
    n = gs.load_csv_to_warehouse(spark, "gs://stage/h.csv", table, "truncate")
    assert n == 1
    row = writers.read_warehouse(spark, table).collect()[0]
    assert float(row["traffic"]) == 9.0
