"""Streaming DQ quarantine router — the arrival-path twin of the
batch expectations gate (plans/events.py:dq_events_expectations).

Production shape: events land as files; every micro-batch is split
ROW-LOCALLY by the shared violation predicates
(operators/quality.py:event_row_rules — one rule set, two paths, no
drift) into a CLEAN table and a QUARANTINE table that keeps the
violating rows together with which rule fired. Routing is a pure map
(one scan, no shuffle); both sides land through the batch_id-keyed
overwrite sink (streaming/drain.py:write_batch), so a foreachBatch
retry replaces its own output — exactly-once tables under
at-least-once execution.

Only row-local rules route here: key uniqueness needs cross-batch
state and stays in the batch gate / the upsert sink's dedupe. The
returned report is computed FROM THE PERSISTED TABLES (clean counts,
per-rule violation counts over quarantine), so the oracle check
proves the files on disk — not just the in-memory split — match the
declarative rules.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import table_schema
from ..operators.quality import event_row_rules
from .drain import drain, scratch_dir, write_batch
from .rollups import stream_source_dir

__all__ = ["run_streaming_dq_router"]


def run_streaming_dq_router(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Drain the events landing dir, routing each micro-batch's rows
    to clean/quarantine by the shared row-local rules. Returns the
    long-form DQ report recomputed from the persisted tables:
    (rule, n_violations, n_rows, passed) per rule plus an
    ``any_violation`` row counting quarantined rows — identical to
    evaluating the rules over the whole table in batch, so one SQL
    oracle checks the full streaming path end to end."""
    rules = event_row_rules()
    any_violation = None
    for pred in rules.values():
        any_violation = pred if any_violation is None else (any_violation | pred)

    root = scratch_dir("stream_dq_router", sf_dir)
    clean_path = os.path.join(root, "clean")
    quar_path = os.path.join(root, "quarantine")
    ckpt = os.path.join(root, "ckpt")

    def route(batch_df: DataFrame, batch_id: int) -> None:
        bad = F.coalesce(any_violation, F.lit(False))
        # one scan per side; the violating side keeps which rules fired
        fired = F.array_compact(
            F.array(
                *[
                    F.when(F.coalesce(pred, F.lit(False)), F.lit(name))
                    for name, pred in rules.items()
                ]
            )
        )
        write_batch(batch_df.filter(~bad), clean_path, batch_id)
        write_batch(
            batch_df.filter(bad).withColumn("violated_rules", fired),
            quar_path,
            batch_id,
        )

    schema = table_schema(spark, sf_dir, "events")
    # recursiveFileLookup: the landing entry may be a DIRECTORY of
    # part files (the derived sf1 tables) rather than a single parquet
    # file (the shipped test SFs); the file stream must find both
    stream = (
        spark.readStream.schema(schema)
        .option("recursiveFileLookup", "true")
        .parquet(stream_source_dir(sf_dir, "events"))
    )
    try:
        drain(stream, route, ckpt)
        opts = {"recursiveFileLookup": "true"}
        clean = spark.read.options(**opts).parquet(clean_path)
        quar = spark.read.options(**opts).parquet(quar_path)
        n_clean = clean.count()
        aggs = [F.count(F.lit(1)).cast("bigint").alias("__q")]
        for name in rules:
            aggs.append(
                F.sum(
                    F.array_contains(F.col("violated_rules"), name).cast(
                        "bigint"
                    )
                ).alias(name)
            )
        qrow = quar.agg(*aggs).collect()[0]
        n_quar = qrow["__q"]
        n_rows = n_clean + n_quar
        out = [
            (name, int(qrow[name] or 0), n_rows, int(qrow[name] or 0) == 0)
            for name in rules
        ]
        out.append(("any_violation", n_quar, n_rows, n_quar == 0))
        return spark.createDataFrame(
            out,
            "rule string, n_violations bigint, n_rows bigint, "
            "passed boolean",
        )
    finally:
        shutil.rmtree(root, ignore_errors=True)
