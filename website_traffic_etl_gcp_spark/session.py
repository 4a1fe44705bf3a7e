"""Tuned SparkSession factory.

Single place where execution knobs live so every entrypoint (tests,
bench, driver contract, CLI) runs with the same posture:

- AQE on: runtime shuffle coalescing + skew-join splitting means the
  static ``shuffle.partitions`` only needs to be an upper bound.
- UTC session timezone: deterministic timestamp semantics regardless of
  host tz (the reference stamps UTC, transform.py:34).
- Arrow on: every pandas interchange (mapInPandas, pandas UDFs,
  applyInPandas) moves columnar batches, not pickled rows.
- Generated-class cache sized to the working set: a query mix that is
  run again reuses its compiled whole-stage-codegen classes instead of
  compiling them anew on every pass.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Runtime-settable confs the query surface depends on for CORRECTNESS —
# not just performance. Externally built sessions (a grading driver, a
# notebook, spark-submit with someone else's conf file) won't have run
# get_spark(), so every entry point that touches data re-asserts these
# via ensure_runtime_confs():
#
# - nanosAsLong: testdata's events.ts is parquet TIMESTAMP(NANOS,false),
#   which Spark cannot represent natively; without the conf the scan
#   throws PARQUET_TYPE_ILLEGAL before any repo-side fallback can run.
# - UTC session timezone: timestamp collection and date_format strings
#   are session-tz dependent; the reference stamps UTC (transform.py:34)
#   and the DuckDB oracles assume it.
RUNTIME_CONFS: dict[str, str] = {
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.sql.session.timeZone": "UTC",
}


def ensure_runtime_confs(spark: SparkSession) -> None:
    """Assert the correctness-bearing runtime confs on ``spark``.

    Safe to call per-query: reads are local, sets are no-ops once
    applied. This is what makes the repo work under a vanilla
    ``SparkSession.builder.getOrCreate()`` it didn't build itself.
    """
    for key, value in RUNTIME_CONFS.items():
        if spark.conf.get(key, None) != value:
            spark.conf.set(key, value)


def get_spark(app_name: str = "website-traffic-etl-spark") -> SparkSession:
    """Build (or reuse) the tuned session.

    ``SPARK_GRAFT_CPUS`` sizes local parallelism; on a real cluster the
    master/resource settings come from spark-submit and everything here
    still applies.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # AQE coalescing can only SHRINK from the initial reducer
        # count, never widen it: with the static 32 alone, a 10×-data
        # stage keeps 32 oversized partitions and spills (measured as
        # the superlinear tail of the sf1→sf10 decade). Fan the initial
        # count out 8× and let AQE coalesce small stages back down —
        # small-SF plans end at the same width, big-SF stages get the
        # parallelism the data actually needs. On a real cluster this
        # is the same doctrine with thousands of initial partitions.
        .config(
            "spark.sql.adaptive.coalescePartitions.initialPartitionNum",
            str(int(cpus) * 8),
        )
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # The ten-query warehouse mix generates 164 whole-stage-codegen
        # classes; the default cap of 100 makes the LRU cache miss on
        # every class of a cyclic pass (~158 Janino recompiles and JIT
        # warm-ups per pass). Static conf: set before the session exists.
        .config("spark.sql.codegen.cache.maxEntries", "1000")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # testdata's events.ts is parquet TIMESTAMP(NANOS); read as int64
        # ns-since-epoch and convert in the catalog (Spark has no ns type)
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        # managed-table root (bucketed warehouse layouts) — static conf,
        # must be set before the session exists
        .config(
            "spark.sql.warehouse.dir",
            os.environ.get(
                "SPARK_GRAFT_WAREHOUSE_DIR",
                os.path.join(
                    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                    ".scratch",
                    "spark-warehouse",
                ),
            ),
        )
    )
    return builder.getOrCreate()
