"""End-to-end ETL run — reference __main__.py:25-74 re-expressed as one
Spark job graph.

Extract (distributed read + schema validation) → Transform (the
oracle-checked operators/traffic.py pipeline, with quarantine instead
of abort) → Load (backup raw, export processed CSV, write the
warehouse table with the configured disposition). One SparkSession,
no driver-side data movement; every artifact the reference produces
has a distributed analog.
"""

from __future__ import annotations

import logging
from datetime import datetime, timezone

from pyspark.sql import DataFrame, SparkSession

from .config import PipelineConfig
from .operators import traffic as traffic_ops
from .sources import readers, writers

logger = logging.getLogger("website_traffic_etl_gcp_spark")


def extract(spark: SparkSession, config: PipelineConfig) -> DataFrame:
    """Read the raw landing data. CSV with the raw (time, traffic)
    string layout by default; many-file XLS drop-zones go through
    readers.read_xls_many, which decodes with the vendored BIFF8
    reader."""
    from pyspark.sql.types import StringType, StructField, StructType

    schema = StructType(
        [StructField("time", StringType()), StructField("traffic", StringType())]
    )
    df = readers.read_csv(spark, config.input_path, schema)
    return readers.validate_traffic_columns(df)


def run_etl(
    spark: SparkSession, config: PipelineConfig, run_timestamp: str | None = None
) -> dict[str, int]:
    """Returns row counts {loaded, quarantined} (reference logs the
    loaded count, __main__.py:70)."""
    now = datetime.now(timezone.utc)
    ts = run_timestamp or now.strftime("%Y%m%d_%H%M%S")
    fixed_created = now.strftime("%Y-%m-%d %H:%M:%S")

    logger.info("=== EXTRACT ===")
    raw = extract(spark, config)

    logger.info("=== TRANSFORM ===")
    parsed = traffic_ops.parse(raw, fixed_created).persist()
    valid = traffic_ops.valid_rows(parsed)
    rejects = traffic_ops.rejected_rows(parsed)

    logger.info("=== LOAD ===")
    try:
        writers.backup_raw(config.input_path, config.backup_dir, ts)
        writers.save_csv(valid, config.processed_dir, ts)
        writers.load_to_warehouse(
            valid, config.warehouse_path, disposition=config.write_disposition
        )
        n_quarantined = rejects.count()
        if n_quarantined:
            writers.load_to_warehouse(
                rejects, f"{config.warehouse_path.rstrip('/')}_rejects", "append"
            )
        # Rows loaded by THIS job (reference load.py:110 reports
        # load_job.output_rows) — not the cumulative warehouse count,
        # which under append disposition includes every prior run's rows.
        n_loaded = valid.count()
    finally:
        parsed.unpersist()
    logger.info("=== COMPLETE: %d rows loaded ===", n_loaded)
    return {"loaded": n_loaded, "quarantined": n_quarantined}
