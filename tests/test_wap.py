"""Write-audit-publish (sources/writers.py:write_audit_publish):
the staged write only becomes the live table when every expectation
passes against the staged files; a failed audit discards staging and
leaves the live table untouched. The table is a manifest-pointer
snapshot table, read back with ``snapshot_table.read_snapshot``."""

from __future__ import annotations

from pyspark.sql import functions as F

from website_traffic_etl_gcp_spark.sources import snapshot_table as st
from website_traffic_etl_gcp_spark.sources.writers import (
    write_audit_publish,
)


def _rules():
    # built per-test: Column exprs need an active SparkContext, which
    # doesn't exist at collection time
    return {
        "id_not_null": F.col("id").isNull(),
        "v_non_negative": F.col("v").isNotNull() & (F.col("v") < 0),
    }


def _mk(spark, rows):
    return spark.createDataFrame(rows, "id bigint, v double")


def test_wap_publishes_clean_write(spark, tmp_path):
    path = str(tmp_path / "tbl")
    out = write_audit_publish(
        _mk(spark, [(1, 1.0), (2, 2.0)]), path, _rules(), unique_keys=("id",)
    )
    assert out["published"] is True
    assert out["n_rows"] == 2
    assert {r["rule"] for r in out["report"]} == {
        "id_not_null",
        "v_non_negative",
        "unique_id",
    }
    assert all(r["passed"] for r in out["report"])
    assert out["version"] == 1
    assert st.read_snapshot(spark, path).count() == 2
    assert st.snapshot_versions(path) == [1]


def test_wap_aborts_and_preserves_live_table(spark, tmp_path):
    path = str(tmp_path / "tbl")
    write_audit_publish(_mk(spark, [(1, 1.0)]), path, _rules())
    # violating batch: null id AND duplicate key — must NOT publish
    out = write_audit_publish(
        _mk(spark, [(None, 1.0), (2, 2.0), (2, 3.0)]),
        path,
        _rules(),
        unique_keys=("id",),
    )
    assert out["published"] is False
    failed = {r["rule"] for r in out["report"] if not r["passed"]}
    assert failed == {"id_not_null", "unique_id"}
    assert "version" not in out
    live = st.read_snapshot(spark, path).collect()
    assert [(r["id"], r["v"]) for r in live] == [(1, 1.0)]
    # the aborted write committed no version
    assert st.snapshot_versions(path) == [1]


def test_wap_swap_replaces_existing(spark, tmp_path):
    path = str(tmp_path / "tbl")
    write_audit_publish(_mk(spark, [(1, 1.0)]), path, _rules())
    out = write_audit_publish(
        _mk(spark, [(7, 7.0), (8, 8.0)]), path, _rules()
    )
    assert out["published"] is True
    got = sorted(
        (r["id"], r["v"]) for r in st.read_snapshot(spark, path).collect()
    )
    assert got == [(7, 7.0), (8, 8.0)]
    # the replacement is the next version; the old one stays readable
    assert st.snapshot_versions(path) == [1, 2]
    assert st.read_snapshot(spark, path, version=1).count() == 1


def test_wap_audit_runs_on_staged_files(spark, tmp_path):
    """The audit reads the staged parquet back (not the input plan):
    a float that survives the parquet round-trip intact proves the
    staged frame is the audited one — and a fresh-table publish
    commits the table's first version."""
    path = str(tmp_path / "fresh")
    out = write_audit_publish(_mk(spark, [(5, 0.25)]), path, _rules())
    assert out["published"] is True
    assert st.read_snapshot(spark, path).collect()[0]["v"] == 0.25
    assert st.snapshot_versions(path) == [1]
