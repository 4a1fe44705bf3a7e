"""Lakehouse capability queries — the snapshot table format and the
XLS ingest path exercised END TO END under the driver's oracle gate,
not just in unit tests.

Both queries build a small scratch artifact (a snapshot table / a set
of .xls drop files) from the events table deterministically, run the
REAL distributed machinery over it (manifest commits + snapshot reads;
mapInPandas BIFF8 decode + the reference transform), and return frames
a SQL oracle recomputes from the same events rows.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, StringType, StructField, StructType

from ..catalog import load_table
from ..streaming.drain import reap_at_exit, scratch_dir
from .registry import register

# slice density for the XLS fixture: 1 row in 199 of events — big
# enough to span multiple drop files, small enough that the
# driver-side fixture GENERATION step (not the measured decode path)
# stays trivially bounded (~5k rows at sf1)
XLS_STRIDE = 199
XLS_ROWS_PER_FILE = 500
# HARD bound on the driver-side fixture slice: the collect() below is
# the one driver-memory-proportional step in this plan, so it must
# not grow with SF. 25k rows (~50 .xls drop files) is first hit
# around sf50; beyond that the fixture stays fixed-size (the oracle
# applies the identical ORDER BY event_id LIMIT, so parity holds)
XLS_FIXTURE_MAX_ROWS = 25_000
# the two columns of a drop-file sheet, as read_xls_many decodes them
_XLS_SCHEMA = StructType(
    [StructField("time", StringType()), StructField("traffic", DoubleType())]
)


def _write_xls_drop(spark: SparkSession, sf_dir: str, out_dir: str) -> list[str]:
    """Write the deterministic 1/XLS_STRIDE events slice as .xls drop
    files of XLS_ROWS_PER_FILE rows under ``out_dir``, times rendered
    day-first; returns their paths. This fixture GENERATION is a
    bounded driver step: the collect is capped at XLS_FIXTURE_MAX_ROWS
    so it does not scale with SF (the oracles apply the identical
    ORDER BY + LIMIT)."""
    from ..sources.xls_minimal import write_xls

    slice_rows = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("event_id") % XLS_STRIDE == 0)
        .select(
            "event_id",
            F.date_format("ts", "dd/MM/yyyy HH:mm:ss").alias("t"),
            F.col("value").cast("double").alias("v"),
        )
        .orderBy("event_id")
        .limit(XLS_FIXTURE_MAX_ROWS)
        .collect()
    )
    os.makedirs(out_dir, exist_ok=True)
    paths = []
    for i in range(0, len(slice_rows), XLS_ROWS_PER_FILE):
        chunk = slice_rows[i:i + XLS_ROWS_PER_FILE]
        p = os.path.join(out_dir, f"drop_{i // XLS_ROWS_PER_FILE:05d}.xls")
        write_xls(p, ["Time", "Traffic"], [[r["t"], r["v"]] for r in chunk])
        paths.append(p)
    return paths


@register(
    "snapshot_history_audit",
    oracle="""
    SELECT 1 AS version, 'append' AS op,
           CAST(COUNT(*) FILTER (event_id % 3 = 0) AS BIGINT) AS n_rows
    FROM events
    UNION ALL
    SELECT 2, 'append',
           CAST(COUNT(*) FILTER (event_id % 3 <= 1) AS BIGINT)
    FROM events
    UNION ALL
    SELECT 3, 'append', CAST(COUNT(*) AS BIGINT) FROM events
    UNION ALL
    SELECT 4, 'delete',
           CAST(COUNT(*) - COUNT(*) FILTER (event_type = 'error')
                AS BIGINT)
    FROM events
    """,
    tags=("lakehouse", "sources"),
    doc="Snapshot-table history audit: commits the events table into a "
    "manifest-pointer snapshot table (sources/snapshot_table.py) as "
    "three deterministic appends (event_id thirds) plus a snapshot "
    "delete of event_type='error', then reads EVERY retained version "
    "via time travel and reports (version, op, n_rows). Exercises the "
    "full transactional surface — atomic manifest commits, append "
    "file-list chaining, NULL-safe delete-by-rewrite, version "
    "isolation — under the driver's SQL oracle: each version's count "
    "is recomputable from events alone. Commit cost is O(files per "
    "commit) and manifests carry paths, never data, so the audit "
    "shape is identical at 100 TB.",
)
def snapshot_history_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources import snapshot_table as st
    from ..sources.writers import delete_rows

    ev = load_table(spark, sf_dir, "events")
    root = scratch_dir("snap_audit", sf_dir)
    try:
        ops = []
        for third in range(3):
            st.write_snapshot(
                ev.filter(F.col("event_id") % 3 == third), root, mode="append"
            )
            ops.append("append")
        delete_rows(spark, root, "event_type = 'error'")
        ops.append("delete")
        rows = [
            (v, ops[v - 1], st.read_snapshot(spark, root, v).count())
            for v in st.snapshot_versions(root)
        ]
    finally:
        # the result is scalar metadata (no lineage into the scratch
        # table), so the scratch reaps immediately
        shutil.rmtree(root, ignore_errors=True)
    return spark.createDataFrame(
        rows, "version int, op string, n_rows bigint"
    )


@register(
    "snapshot_merge_orders",
    oracle="""
    WITH final AS (
        SELECT o_orderkey, o_orderstatus, o_totalprice
        FROM orders WHERE o_orderkey % 4 IN (1, 3)
        UNION ALL
        SELECT o_orderkey, o_orderstatus, o_totalprice + 10
        FROM orders
        WHERE o_orderkey % 2 = 0 AND o_orderstatus <> 'F'
    )
    SELECT o_orderstatus,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
                AS BIGINT) AS sum_price_cents
    FROM final GROUP BY o_orderstatus ORDER BY o_orderstatus
    """,
    tags=("lakehouse", "sources", "cdc"),
    doc="MERGE INTO on the snapshot table — the file-pruned "
    "copy-on-write shape of the open table formats "
    "(sources/snapshot_table.py:merge_snapshot): a target snapshot of "
    "orders (keys % 4 != 0, committed across multiple data files) "
    "takes a CDC batch of every even key repriced +10, with "
    "delete_predicate o_orderstatus='F' — matched F-rows delete, "
    "other matches replace, unmatched non-F rows insert. Only files "
    "CONTAINING a matched key are rewritten (the touched-file semi- "
    "join ships (key, path), never row bodies; untouched manifest "
    "entries carry forward verbatim — at 100 TB a 0.1%-of-keys merge "
    "rewrites ~0.1% of files), and the commit is the same O(files) "
    "atomic manifest as every write. The oracle recomputes the merged "
    "table's per-status counts and exact cent-scale sums from orders "
    "alone.",
)
def snapshot_merge_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources import snapshot_table as st

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    root = scratch_dir("snap_merge", sf_dir)
    try:
        st.write_snapshot(
            orders.filter(F.col("o_orderkey") % 4 != 0)
            .repartition(8, "o_orderkey"),
            root,
        )
        source = orders.filter(F.col("o_orderkey") % 2 == 0).withColumn(
            "o_totalprice", F.col("o_totalprice") + 10
        )
        st.merge_snapshot(
            spark, root, source, ["o_orderkey"],
            delete_predicate="o_orderstatus = 'F'",
        )
        rows = (
            st.read_snapshot(spark, root)
            .groupBy("o_orderstatus")
            .agg(
                F.count(F.lit(1)).cast("bigint").alias("n_orders"),
                F.sum(
                    F.floor(F.col("o_totalprice") * 100 + 0.5).cast("bigint")
                ).cast("bigint").alias("sum_price_cents"),
            )
            .orderBy("o_orderstatus")
            .collect()  # scalar rollup — materialize before the scratch reaps
        )
    finally:
        shutil.rmtree(root, ignore_errors=True)
    return spark.createDataFrame(
        rows, "o_orderstatus string, n_orders bigint, sum_price_cents bigint"
    )


@register(
    "snapshot_incremental_read",
    oracle="""
    SELECT 2 AS from_version, 3 AS to_version,
           CAST(COUNT(*) FILTER (event_id % 3 = 2) AS BIGINT)
               AS n_new_rows,
           CAST(COUNT(*) FILTER (event_id % 3 = 2
                                 AND event_type = 'purchase')
               AS BIGINT) AS n_new_purchases
    FROM events
    """,
    tags=("lakehouse", "sources", "cdc"),
    doc="Incremental consumption of an append-only snapshot table — "
    "the CDC-READ side of the lakehouse "
    "(sources/snapshot_table.py:read_increment): events commit as "
    "three appends (event_id thirds); a consumer that checkpointed "
    "version 2 reads ONLY the files version 3 added (the third "
    "third) — an O(new files) manifest diff, table-size independent, "
    "the same file-set delta a streaming source performs per batch. "
    "Non-append commits between the versions raise instead of "
    "silently dropping retractions. Oracle recomputes the increment's "
    "row and per-type counts from events alone.",
)
def snapshot_incremental_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources import snapshot_table as st

    ev = load_table(spark, sf_dir, "events")
    root = scratch_dir("snap_incr", sf_dir)
    try:
        for third in range(3):
            st.write_snapshot(
                ev.filter(F.col("event_id") % 3 == third), root,
                mode="append",
            )
        inc = st.read_increment(spark, root, from_version=2, to_version=3)
        rows = inc.agg(
            F.count(F.lit(1)).cast("bigint").alias("n_new_rows"),
            F.sum(
                (F.col("event_type") == "purchase").cast("bigint")
            ).cast("bigint").alias("n_new_purchases"),
        ).collect()  # scalar rollup — materialize before the scratch reaps
    finally:
        shutil.rmtree(root, ignore_errors=True)
    return spark.createDataFrame(
        [(2, 3, rows[0]["n_new_rows"], rows[0]["n_new_purchases"])],
        "from_version int, to_version int, n_new_rows bigint, "
        "n_new_purchases bigint",
    )


@register(
    "xls_extract_transform",
    oracle=f"""
    SELECT strftime(ts, '%Y-%m-%d %H:%M:%S') AS time,
           CAST(value AS DOUBLE) AS traffic,
           '2026-01-01 00:00:00' AS created_at
    FROM (
        SELECT ts, value FROM events
        WHERE event_id % {XLS_STRIDE} = 0
        ORDER BY event_id LIMIT {XLS_FIXTURE_MAX_ROWS}
    )
    """,
    tags=("lakehouse", "sources", "etl"),
    doc="XLS drop-zone ingest end to end (reference extract.py:55-80 → "
    "transform.py:55-63): a deterministic 1/"
    f"{XLS_STRIDE} slice of events is written as multiple real .xls "
    "workbooks (the vendored BIFF8 writer, sources/xls_minimal.py), "
    "decoded DISTRIBUTED via read_xls_many's mapInPandas (one file "
    "per task, each executor reads its own bytes — the drop-zone "
    "layout at scale), then run through the reference day-first "
    "transform. The oracle recomputes the round trip from events "
    "directly: dd/MM/yyyy HH:mm:ss strings written to cells parse "
    "back to the same ISO timestamps. Fixture GENERATION is a "
    "bounded driver step (the sampled slice); the measured decode + "
    "transform path is fully distributed.",
)
def xls_extract_transform(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import traffic as traffic_ops
    from ..sources.readers import read_xls_many
    from .etl import FIXED_TS

    root = scratch_dir("xls_drop", sf_dir)
    paths = _write_xls_drop(spark, sf_dir, root)
    # the returned frame decodes the files lazily — scratch reaps at
    # process exit, not here
    reap_at_exit(root)
    raw = read_xls_many(spark, paths, _XLS_SCHEMA)
    return traffic_ops.transform(raw, fixed_ts=FIXED_TS)


@register(
    "etl_gcs_end_to_end",
    oracle=f"""
    SELECT CAST(strftime(ts, '%Y-%m-%d %H:%M:%S') AS TIMESTAMP) AS time,
           CAST(value AS DOUBLE) AS traffic,
           CAST('2026-01-01 00:00:00' AS TIMESTAMP) AS created_at
    FROM (
        SELECT ts, value FROM events
        WHERE event_id % {XLS_STRIDE} = 0
        ORDER BY event_id LIMIT {XLS_FIXTURE_MAX_ROWS}
    )
    """,
    tags=("lakehouse", "sources", "etl"),
    doc="The reference's ENTIRE pipeline as one query — extract "
    "(download .xls drop files from a gs:// bucket, reference "
    "extract.py:18-53), transform (day-first parse + created_at, "
    "transform.py), load (the BigQuery CSV load re-expressed as a "
    "Spark warehouse load with schema, header skip and write "
    "disposition, load.py:67-110) — through the gs:// adapter "
    "(sources/gcs_shim.py) with the SPARK_GRAFT_GS_MIRROR-style "
    "local-mirror client, exactly what an air-gapped parity run "
    "uses. The returned frame is the WAREHOUSE TABLE read back, so "
    "the oracle pins the loaded result after the full E-T-L loop "
    "(object download, distributed BIFF8 decode, transform, CSV "
    "hand-off upload, typed warehouse load), not an intermediate. "
    "Object ops are driver-side control-plane (as in the reference); "
    "decode, transform, the CSV hand-off write, and the load are all "
    "distributed — no corpus-width collect() anywhere in the body.",
)
def etl_gcs_end_to_end(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import traffic as traffic_ops
    from ..sources import gcs_shim as gs
    from ..sources.readers import read_xls_many
    from ..sources.writers import read_warehouse
    from .etl import FIXED_TS

    root = scratch_dir("gcs_mirror", sf_dir)
    os.makedirs(root, exist_ok=True)
    reap_at_exit(root)
    client = gs.LocalMirrorClient(root)

    # EXTRACT: land drop files in the bucket, then pull them through
    # the object-store adapter exactly as the reference does
    staging = os.path.join(root, "_local")
    uris = []
    for p in _write_xls_drop(spark, sf_dir, staging):
        uri = f"gs://landing/in/{os.path.basename(p)}"
        gs.upload_object(p, uri, client=client)
        uris.append(uri)
    local_xls = [str(gs.download_object(u, client=client)) for u in uris]

    # TRANSFORM: distributed BIFF8 decode + the reference transform
    out = traffic_ops.transform(
        read_xls_many(spark, local_xls, _XLS_SCHEMA), fixed_ts=FIXED_TS
    )

    # LOAD: CSV hand-off into the bucket, then the warehouse load.
    # The hand-off CSV is written by the EXECUTORS (coalesced to the
    # reference's one-file contract) — the only driver-side step left
    # is the object-store move of the finished part file, the same
    # control-plane op the reference's upload_to_gcs performs.
    csv_stage = os.path.join(staging, "handoff_csv")
    (
        out.select("time", "traffic", "created_at")
        .coalesce(1)
        .write.mode("overwrite")
        .option("header", "true")
        .option("timestampFormat", "yyyy-MM-dd HH:mm:ss")
        .csv(csv_stage)
    )
    part = next(
        os.path.join(csv_stage, f)
        for f in sorted(os.listdir(csv_stage))
        if f.startswith("part-") and f.endswith(".csv")
    )
    csv_uri = "gs://landing/stage/handoff.csv"
    gs.upload_object(part, csv_uri, client=client)
    table_path = os.path.join(root, "warehouse", "traffic")
    gs.load_csv_to_warehouse(
        spark, csv_uri, table_path, disposition="truncate", client=client
    )
    return read_warehouse(spark, table_path)


@register(
    "snapshot_schema_evolution",
    oracle="""
    SELECT CAST(COUNT(*) AS BIGINT)                         AS n_rows,
           CAST(COUNT(*) FILTER (event_id % 2 = 0)
               AS BIGINT)                                   AS n_legacy_rows,
           CAST(COUNT(*) FILTER (event_id % 2 = 1)
               AS BIGINT)                                   AS n_evolved_rows,
           CAST(SUM(CASE WHEN event_id % 2 = 1
                         THEN LENGTH(event_type) END)
               AS BIGINT)                                   AS type_len_sum,
           3 AS v1_n_cols, 4 AS head_n_cols,
           TRUE AS type_conflict_rejected
    FROM events
    """,
    tags=("lakehouse", "sources", "schema-evolution"),
    doc="Additive schema evolution on the snapshot table format "
    "(sources/snapshot_table.py:write_snapshot / _merge_schema): even "
    "events commit as the narrow 3-column table, odd events append "
    "WITH a new type_len column — the manifest-declared schema widens, "
    "legacy rows read back as typed NULLs in the new column, time "
    "travel to v1 still shows the narrow schema, and a same-name "
    "type-conflict append (type_len as string) is REJECTED before any "
    "file is staged. Oracle recomputes the NULL/typed split and the "
    "evolved column's sum from events alone; the schema-shape columns "
    "pin the evolution semantics as constants.",
)
def snapshot_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources import snapshot_table as st

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "event_type", "value"
    )
    root = scratch_dir("snap_evo", sf_dir)
    try:
        st.write_snapshot(
            ev.filter(F.col("event_id") % 2 == 0), root, mode="append"
        )
        st.write_snapshot(
            ev.filter(F.col("event_id") % 2 == 1).withColumn(
                "type_len", F.length("event_type").cast("bigint")
            ),
            root,
            mode="append",
        )
        bad = spark.createDataFrame(
            [(0, "x", 0.0, "oops")],
            "event_id bigint, event_type string, value double, "
            "type_len string",
        )
        try:
            st.write_snapshot(bad, root, mode="append")
            rejected = False
        except st.SchemaEvolutionError:
            rejected = True
        head = st.read_snapshot(spark, root)
        agg = head.agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.sum(F.col("type_len").isNull().cast("bigint"))
            .cast("bigint").alias("n_legacy_rows"),
            F.sum(F.col("type_len").isNotNull().cast("bigint"))
            .cast("bigint").alias("n_evolved_rows"),
            F.sum("type_len").cast("bigint").alias("type_len_sum"),
        ).collect()[0]
        v1_n_cols = len(st.read_snapshot(spark, root, version=1).columns)
        head_n_cols = len(head.columns)
    finally:
        shutil.rmtree(root, ignore_errors=True)
    return spark.createDataFrame(
        [
            (
                agg["n_rows"], agg["n_legacy_rows"],
                agg["n_evolved_rows"], agg["type_len_sum"],
                v1_n_cols, head_n_cols, rejected,
            )
        ],
        "n_rows bigint, n_legacy_rows bigint, n_evolved_rows bigint, "
        "type_len_sum bigint, v1_n_cols int, head_n_cols int, "
        "type_conflict_rejected boolean",
    )


@register(
    "snapshot_zonemap_prune",
    oracle="""
    WITH b AS (
        SELECT CAST(FLOOR(MAX(o_orderkey) / 4) AS BIGINT) AS lo,
               CAST(FLOOR(MAX(o_orderkey) / 2) AS BIGINT) AS hi
        FROM orders
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE)
               AS total_price,
           TRUE AS pruned
    FROM orders, b
    WHERE o_orderkey BETWEEN b.lo AND b.hi
    """,
    tags=("lakehouse", "sources", "data-skipping"),
    doc="Manifest zone-map file skipping (round 9, "
    "sources/snapshot_table.py:_file_zone_map/read_snapshot_pruned — "
    "the Delta add-file-stats model): orders land range-clustered "
    "into a snapshot table whose commit footer-scans each new file "
    "once and records per-file min/max; a quartile o_orderkey range "
    "query then scans ONLY the overlapping files (the `pruned` "
    "column asserts files_read < files_total) with the exact "
    "predicate still applied on rows, so stats can only affect "
    "performance, never results. At 100 TB this is the difference "
    "between touching a handful of files and scanning the table. "
    "Oracle recomputes the range aggregate from orders directly.",
)
def snapshot_zonemap_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources import snapshot_table as st

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", F.col("o_totalprice").cast("decimal(12,2)").alias("o_totalprice")
    )
    mx = orders.agg(F.max("o_orderkey").alias("m")).collect()[0]["m"]
    lo, hi = mx // 4, mx // 2
    root = scratch_dir("snap_zonemap", sf_dir)
    try:
        st.write_snapshot(orders.repartitionByRange(8, "o_orderkey"), root)
        pruned, info = st.read_snapshot_pruned(
            spark, root, "o_orderkey", lo, hi
        )
        agg = pruned.agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.sum("o_totalprice").cast("double").alias("total_price"),
        ).collect()[0]
    finally:
        shutil.rmtree(root, ignore_errors=True)
    return spark.createDataFrame(
        [
            (
                agg["n_rows"],
                agg["total_price"],
                info["files_read"] < info["files_total"],
            )
        ],
        "n_rows bigint, total_price double, pruned boolean",
    )


@register(
    "snapshot_zorder_prune",
    oracle="""
    SELECT CAST(COUNT(*) FILTER (hour(ts) BETWEEN 6 AND 8) AS BIGINT)
               AS hr_rows,
           CAST(SUM(CAST(value AS DECIMAL(18,2)))
                    FILTER (hour(ts) BETWEEN 6 AND 8) AS DOUBLE)
               AS hr_value_sum,
           CAST(COUNT(*) FILTER (CAST(FLOOR(value) AS INT) % 8 = 3)
               AS BIGINT) AS vb_rows,
           TRUE AS hr_pruned,
           TRUE AS vb_pruned
    FROM events
    """,
    tags=("lakehouse", "sources", "data-skipping"),
    doc="MULTI-dimensional data skipping (round 9): events land in a "
    "snapshot table clustered on the Z-order (Morton) key of "
    "(hour-of-day, value-bucket) — functions/zorder.py interleaves "
    "the bits in codegen, so file min/max stats stay narrow on BOTH "
    "columns — then two independent range reads each prune files via "
    "the manifest zone maps: one on the hour band, one on the value "
    "bucket. A single-column sort would prune only its own column; "
    "the hr_pruned/vb_pruned verdicts assert files_read < "
    "files_total on each dimension, with the exact predicates still "
    "applied on rows. Oracle recomputes both aggregates from events "
    "directly (sources/snapshot_table.py:read_snapshot_pruned, "
    "sources/writers.py:write_zordered shape).",
)
def snapshot_zorder_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.zorder import zorder_key
    from ..sources import snapshot_table as st

    ev = load_table(spark, sf_dir, "events").select(
        F.hour("ts").alias("hr"),
        (F.floor("value").cast("int") % 8).alias("vb"),
        F.col("value").cast("decimal(18,2)").alias("value"),
    )
    clustered = (
        ev.withColumn("__z", zorder_key("hr", "vb", bits=5))
        .repartitionByRange(16, "__z")
        .sortWithinPartitions("__z")
        .drop("__z")
    )
    root = scratch_dir("snap_zorder", sf_dir)
    try:
        st.write_snapshot(clustered, root)
        hr_df, hr_info = st.read_snapshot_pruned(spark, root, "hr", 6, 8)
        hr_agg = hr_df.agg(
            F.count(F.lit(1)).cast("bigint").alias("hr_rows"),
            F.sum("value").cast("double").alias("hr_value_sum"),
        ).collect()[0]
        vb_df, vb_info = st.read_snapshot_pruned(spark, root, "vb", 3, 3)
        vb_rows = vb_df.count()
    finally:
        shutil.rmtree(root, ignore_errors=True)
    return spark.createDataFrame(
        [
            (
                hr_agg["hr_rows"],
                hr_agg["hr_value_sum"],
                vb_rows,
                hr_info["files_read"] < hr_info["files_total"],
                vb_info["files_read"] < vb_info["files_total"],
            )
        ],
        "hr_rows bigint, hr_value_sum double, vb_rows bigint, "
        "hr_pruned boolean, vb_pruned boolean",
    )
