"""Small-file compaction: fewer files, identical data, partition
pruning preserved."""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from website_traffic_etl_gcp_spark.catalog import load_table
from website_traffic_etl_gcp_spark.sources.writers import compact_table

from .conftest import SF_DIR


def _content_key(df):
    # order-insensitive content signature: count + per-column checksums
    return df.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.crc32(F.col("event_id").cast("string"))).alias("c1"),
        F.sum(F.crc32(F.col("event_type"))).alias("c2"),
    ).collect()[0]


def test_compact_reduces_files_preserves_data(spark, tmp_path):
    ev = load_table(spark, SF_DIR, "events").select(
        "event_id", "user_id", "event_type"
    )
    path = str(tmp_path / "tbl")
    ev.repartition(32).write.parquet(path)  # simulate small-file debris

    before = _content_key(spark.read.parquet(path))
    stats = compact_table(spark, path, target_file_bytes=1 << 30)
    after = _content_key(spark.read.parquet(path))

    assert stats["files_before"] == 32
    assert stats["files_after"] < stats["files_before"]
    assert stats["files_after"] == 1  # tiny table → single target file
    assert before == after


def test_compact_partitioned_keeps_pruning(spark, tmp_path):
    ev = (
        load_table(spark, SF_DIR, "events")
        .withColumn("event_date", F.to_date("ts"))
        .select("event_id", "user_id", "event_type", "event_date")
    )
    path = str(tmp_path / "ptbl")
    ev.repartition(8).write.partitionBy("event_date").parquet(path)

    stats = compact_table(
        spark,
        path,
        target_file_bytes=1 << 30,
        partition_by=("event_date",),
        sort_within_by=("user_id",),
    )
    assert stats["files_after"] < stats["files_before"]

    # hive layout survived and partition pruning still applies
    one_day = ev.select(F.min("event_date")).collect()[0][0]
    pruned = spark.read.parquet(path).filter(F.col("event_date") == F.lit(one_day))
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan
    assert pruned.count() == ev.filter(F.col("event_date") == F.lit(one_day)).count()


def test_delete_rows_predicate(spark, tmp_path):
    from website_traffic_etl_gcp_spark.sources import snapshot_table as st
    from website_traffic_etl_gcp_spark.sources.writers import delete_rows

    ev = load_table(spark, SF_DIR, "events").select(
        "event_id", "user_id", "event_type"
    )
    path = str(tmp_path / "del_tbl")
    st.write_snapshot(ev, path)
    victim = ev.select("user_id").first()["user_id"]
    n_victim = ev.filter(F.col("user_id") == victim).count()
    n_total = ev.count()

    stats = delete_rows(spark, path, f"user_id = {victim}")
    assert stats == {
        "rows_before": n_total,
        "rows_deleted": n_victim,
        "rows_after": n_total - n_victim,
        "version": 2,
    }
    back = st.read_snapshot(spark, path)
    assert back.filter(F.col("user_id") == victim).count() == 0
    # untouched users keep every row
    assert back.count() == n_total - n_victim


def test_delete_rows_null_predicate_keeps_null_rows(spark, tmp_path):
    """Three-valued logic: `user_id = 5` evaluates NULL on a NULL
    user_id — a delete must treat that as NOT matching, never as a
    silent extra deletion (this is a GDPR/retention rewrite)."""
    from website_traffic_etl_gcp_spark.sources import snapshot_table as st
    from website_traffic_etl_gcp_spark.sources.writers import delete_rows

    rows = [(1, 5), (2, 5), (3, 7), (4, None), (5, None)]
    df = spark.createDataFrame(rows, "event_id long, user_id long")
    path = str(tmp_path / "null_del_tbl")
    st.write_snapshot(df, path)

    stats = delete_rows(spark, path, "user_id = 5")
    assert stats == {
        "rows_before": 5, "rows_deleted": 2, "rows_after": 3, "version": 2,
    }
    back = st.read_snapshot(spark, path)
    # the NULL-keyed rows survived
    assert back.filter(F.col("user_id").isNull()).count() == 2
    assert {r["event_id"] for r in back.collect()} == {3, 4, 5}


def test_schema_evolution_merge(spark, tmp_path):
    from website_traffic_etl_gcp_spark.sources.writers import read_warehouse

    tbl = str(tmp_path / "evolving")
    ev = load_table(spark, SF_DIR, "events")
    # v1 writes two columns; a later producer appends a third
    ev.select("event_id", "user_id").write.parquet(tbl)
    ev.select("event_id", "user_id", "event_type").write.mode("append").parquet(tbl)

    merged = read_warehouse(spark, tbl, merge_schema=True)
    assert set(merged.columns) == {"event_id", "user_id", "event_type"}
    n = ev.count()
    assert merged.count() == 2 * n
    # old files surface the new column as NULL; new files carry values
    assert merged.filter(F.col("event_type").isNull()).count() == n
    assert merged.filter(F.col("event_type").isNotNull()).count() == n


def test_dynamic_partition_overwrite(spark, tmp_path):
    """Re-loading one day replaces exactly that day's partition: other
    partitions keep their data, and the reloaded day has no dup rows."""
    from website_traffic_etl_gcp_spark.sources.writers import (
        load_to_warehouse,
        overwrite_partitions,
    )

    ev = load_table(spark, SF_DIR, "events").select(
        "event_id", "user_id", F.to_date("ts").alias("event_date")
    )
    tbl = str(tmp_path / "dyn_tbl")
    load_to_warehouse(ev, tbl, "truncate", partition_by=("event_date",))
    days = sorted(
        r["event_date"] for r in ev.select("event_date").distinct().collect()
    )
    assert len(days) >= 2
    reload_day, other_day = days[0], days[1]

    # the corrected day: same rows minus one victim event
    day_rows = ev.filter(F.col("event_date") == F.lit(reload_day))
    victim = day_rows.select("event_id").first()["event_id"]
    corrected = day_rows.filter(F.col("event_id") != victim)
    overwrite_partitions(corrected, tbl, ("event_date",))

    back = spark.read.parquet(tbl)
    n_other_before = ev.filter(F.col("event_date") == F.lit(other_day)).count()
    assert (
        back.filter(F.col("event_date") == F.lit(other_day)).count()
        == n_other_before
    ), "untouched partition was clobbered"
    got_day = back.filter(F.col("event_date") == F.lit(reload_day))
    assert got_day.count() == day_rows.count() - 1
    assert got_day.filter(F.col("event_id") == victim).count() == 0
    # total = everything except the one deleted event
    assert back.count() == ev.count() - 1


def test_write_training_shards_layout_and_determinism(spark, tmp_path):
    """The shard writer produces one directory per (non-empty) shard
    with exactly ONE parquet file each, assignment = md5(doc_id) mod n
    (recomputable by any worker), and a second export is identical."""
    import hashlib
    from pathlib import Path

    from website_traffic_etl_gcp_spark.sources.writers import (
        write_training_shards,
    )

    docs = load_table(spark, SF_DIR, "documents").select("doc_id", "text")
    n_in = docs.count()
    out = str(tmp_path / "shards")
    back = write_training_shards(docs, out, n_shards=8)
    assert back.count() == n_in

    shard_dirs = sorted(
        p for p in Path(out).iterdir() if p.name.startswith("shard_id=")
    )
    assert shard_dirs, "no shard directories written"
    for d in shard_dirs:
        files = [f for f in d.iterdir() if f.suffix == ".parquet"]
        assert len(files) == 1, f"{d.name}: {len(files)} files, want 1"

    def expect_shard(doc_id: int) -> int:
        h = int(hashlib.md5(str(doc_id).encode()).hexdigest()[:15], 16)
        return h % 8

    for r in back.select("doc_id", "shard_id").collect():
        assert r["shard_id"] == expect_shard(r["doc_id"])

    # re-export reproduces the exact same membership
    out2 = str(tmp_path / "shards2")
    back2 = write_training_shards(docs, out2, n_shards=8)
    a = {(r["doc_id"], r["shard_id"]) for r in back.select("doc_id", "shard_id").collect()}
    b = {(r["doc_id"], r["shard_id"]) for r in back2.select("doc_id", "shard_id").collect()}
    assert a == b


def test_write_sorted_table_total_order(spark, tmp_path):
    ev = load_table(spark, SF_DIR, "events").select("event_id", "user_id")
    path = str(tmp_path / "sorted")
    from website_traffic_etl_gcp_spark.sources.writers import write_sorted_table

    manifest = write_sorted_table(ev, path, "event_id", n_files=4).collect()

    # all rows survive, manifest covers them
    n_src = ev.count()
    assert sum(r.n_rows for r in manifest) == n_src
    # per-file key ranges are DISJOINT → the table is globally sorted
    ranges = sorted((r.key_min, r.key_max) for r in manifest)
    for (a_lo, a_hi), (b_lo, b_hi) in zip(ranges, ranges[1:]):
        assert a_hi < b_lo, f"overlapping file ranges {(a_lo, a_hi)} {(b_lo, b_hi)}"
    # each file is internally sorted
    out = spark.read.parquet(path)
    unsorted = (
        out.withColumn("f", F.input_file_name())
        .withColumn(
            "prev",
            F.lag("event_id").over(
                Window.partitionBy("f").orderBy(
                    F.monotonically_increasing_id()
                )
            ),
        )
        .filter(F.col("prev") > F.col("event_id"))
        .count()
    )
    assert unsorted == 0
