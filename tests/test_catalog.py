"""Catalog reads: each table's schema is inferred once per table
version, while every load still returns a fresh relation."""

from __future__ import annotations

import uuid

from pyspark.sql import functions as F

from website_traffic_etl_gcp_spark.catalog import load_table, table_path

from .conftest import SF_DIR


def _jobs_in_group(spark, fn) -> int:
    """Spark jobs that ``fn()`` submits, counted by a fresh job group."""
    sc = spark.sparkContext
    group = f"test-catalog-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group, False)
    try:
        fn()
    finally:
        sc._jsc.clearJobGroup()
    return len(sc.statusTracker().getJobIdsForGroup(group))


def _write_region(spark, sf_dir: str, lo: int, hi: int, extra: bool = False):
    df = spark.range(lo, hi).select(
        F.col("id").alias("r_regionkey"),
        F.concat(F.lit("r"), F.col("id").cast("string")).alias("r_name"),
    )
    if extra:
        df = df.withColumn("r_comment", F.lit("new"))
    df.write.mode("overwrite").parquet(table_path(sf_dir, "region"))


def test_second_load_of_unchanged_table_submits_no_job(spark, tmp_path):
    sf_dir = str(tmp_path)
    _write_region(spark, sf_dir, 0, 5)
    first = _jobs_in_group(spark, lambda: load_table(spark, sf_dir, "region"))
    assert first >= 1  # the footer inference of a table not seen before
    assert _jobs_in_group(spark, lambda: load_table(spark, sf_dir, "region")) == 0


def test_rewritten_table_is_inferred_again(spark, tmp_path):
    sf_dir = str(tmp_path)
    _write_region(spark, sf_dir, 0, 5)
    assert load_table(spark, sf_dir, "region").count() == 5

    _write_region(spark, sf_dir, 10, 17, extra=True)
    df = load_table(spark, sf_dir, "region")
    assert df.columns == ["r_regionkey", "r_name", "r_comment"]
    rows = df.orderBy("r_regionkey").collect()
    assert [r["r_regionkey"] for r in rows] == list(range(10, 17))
    assert {r["r_comment"] for r in rows} == {"new"}


def test_two_loads_of_one_table_self_join(spark):
    a = load_table(spark, SF_DIR, "nation")
    b = load_table(spark, SF_DIR, "nation")
    joined = a.join(b, a["n_regionkey"] == b["n_regionkey"]).select(
        a["n_nationkey"].alias("left_key"), b["n_nationkey"].alias("right_key")
    )
    n = a.count()
    pairs = joined.collect()
    assert len(pairs) > n  # nations share regions: more pairs than rows
    assert sum(r["left_key"] == r["right_key"] for r in pairs) == n


def test_events_ts_reads_as_timestamp(spark):
    for _ in range(2):  # the inferring load and the cached one
        assert dict(load_table(spark, SF_DIR, "events").dtypes)["ts"] == "timestamp"
