"""Distributed readers (reference extract.py re-expressed Spark-first).

The reference downloads one XLS to a temp file and reads it with
pandas (extract.py:18-80). Here every format is a distributed source:
- parquet: the native path (catalog.py).
- CSV: explicit schemas required — schema inference is a full
  extra pass over 100 TB and non-deterministic under dirty data.
- XLS: no JVM codec for it; a *many-files* layout is decoded in
  parallel via mapInPandas (one file per task row), which is how a
  spreadsheet drop-zone actually looks at scale. One decoder on every
  host: the vendored pure-Python BIFF8 reader (xls_minimal.py), so the
  path runs on real bytes whether or not an Excel engine is installed.

Validation mirrors extract.py:69-77 (required columns, non-empty) but
returns problems as data, not exceptions, where possible.
"""

from __future__ import annotations

from collections.abc import Iterator

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

REQUIRED_TRAFFIC_COLUMNS = frozenset({"time", "traffic"})


class ExtractionError(Exception):
    """Reference-parity failure type (extract.py:14)."""


def read_csv(
    spark: SparkSession, path: str, schema: StructType, header: bool = True
) -> DataFrame:
    return (
        spark.read.schema(schema)
        .option("header", str(header).lower())
        .option("mode", "PERMISSIVE")
        .csv(path)
    )


def read_orc(
    spark: SparkSession, path: str, schema: StructType | None = None
) -> DataFrame:
    """ORC source (JVM-native, columnar, predicate-pushdown-capable —
    the other warehouse interchange format besides parquet). Schema is
    optional: ORC files carry their own types, so unlike CSV no
    inference pass is needed; pass one to assert/prune columns."""
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    return reader.orc(path)


def validate_traffic_columns(df: DataFrame) -> DataFrame:
    """Reference extract.py:69-74: required columns must exist (case-
    insensitive). Raises ExtractionError like the reference — a schema
    problem is a config error, not a data error, so fail-fast is right
    even at scale."""
    actual = {c.lower() for c in df.columns}
    missing = REQUIRED_TRAFFIC_COLUMNS - actual
    if missing:
        raise ExtractionError(
            f"Missing columns: {missing}. Found: {list(df.columns)}"
        )
    return df


def read_xls_many(
    spark: SparkSession, paths: list[str], schema: StructType
) -> DataFrame:
    """Distributed XLS decode: parallelize the file list, one file per
    row, decode inside mapInPandas so each executor reads its own
    files with the vendored BIFF8 reader (``xls_minimal.read_xls``,
    which ships to executors with the package). Legacy .xls only, like
    the reference extract.py:60."""
    files_df = spark.createDataFrame([(p,) for p in paths], ["path"])

    def decode(it: Iterator) -> Iterator:
        import pandas as pd

        from .xls_minimal import read_xls

        for pdf in it:
            for path in pdf["path"]:
                header, rows = read_xls(path)
                out = pd.DataFrame(rows, columns=header)
                out.columns = [str(c).lower() for c in out.columns]
                yield out[[f.name for f in schema.fields]]

    return files_df.mapInPandas(decode, schema)
