"""Table catalog: load the warehouse tables and register temp views.

All queries address tables by these names; loading goes through
``spark.read.parquet`` so Catalyst keeps predicate pushdown and column
pruning intact (verified in tests via ``.explain``).

Each table's parquet schema is inferred once per table version
(``table_schema``), not once per read: inference is a one-task Spark
job over a footer, and the warehouse mix loads 23 tables per pass.
Only the schema is cached. Every ``load_table`` call still returns a
fresh relation with fresh attribute ids, so a query may join a table
to itself.
"""

from __future__ import annotations

import hashlib
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from .session import ensure_runtime_confs

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Dimensions that are tiny at ANY scale factor (TPC-H fixes them at 5/25
# rows); always safe — and correct — to broadcast.
FIXED_SIZE_DIMS = frozenset({"region", "nation"})


def table_path(sf_dir: str, name: str) -> str:
    return f"{sf_dir.rstrip('/')}/{name}.parquet"


def state_key(path: str) -> str:
    """Freshness stamp of a table or corpus on disk: an md5 over its
    absolute path and every file's (relpath, size, mtime_ns). A
    single-file table is stamped like a directory of one file, so a
    rewrite in place changes the stamp either way; anything that is not
    on disk hashes as the plain key string. Content-keyed names (the
    persisted indexes, the quality model) and the bus seal all use it,
    so a regenerated input never reads state derived from the old one."""
    if os.path.isfile(path):
        files = [path]
    elif os.path.isdir(path):
        files = []
        for root, dirs, names in os.walk(path):
            dirs.sort()
            files.extend(os.path.join(root, n) for n in sorted(names))
    else:
        return hashlib.md5(path.encode()).hexdigest()
    parts = [os.path.abspath(path)]
    for f in files:
        try:
            st = os.stat(f)
        except FileNotFoundError:
            continue  # removed mid-walk
        parts.append(f"{os.path.relpath(f, path)}:{st.st_size}:{st.st_mtime_ns}")
    return hashlib.md5("|".join(parts).encode()).hexdigest()


# abs table path -> (state_key of the path, its parquet schema). One
# entry per path; a rewritten table has a new state_key and is inferred
# again.
_SCHEMAS: dict[str, tuple[str, StructType]] = {}


def table_schema(spark: SparkSession, sf_dir: str, name: str) -> StructType:
    """The parquet file schema of table ``name`` (``events.ts`` is bigint
    nanoseconds under nanosAsLong), inferred once per table version."""
    # The session may not be one we built (grading drivers, notebooks):
    # re-assert the runtime confs the reads/semantics depend on, notably
    # nanosAsLong — without it the events scan throws PARQUET_TYPE_ILLEGAL
    # before the dtype fallback in load_table ever runs.
    ensure_runtime_confs(spark)
    path = table_path(sf_dir, name)
    abs_path = os.path.abspath(path)
    # stamped before the read: a rewrite that lands during inference
    # leaves a stale stamp, so the next call infers again
    key = state_key(abs_path)
    cached = _SCHEMAS.get(abs_path)
    if cached is not None and cached[0] == key:
        return cached[1]
    schema = spark.read.parquet(path).schema
    _SCHEMAS[abs_path] = (key, schema)
    return schema


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; known: {TABLES}")
    schema = table_schema(spark, sf_dir, name)
    df = spark.read.schema(schema).parquet(table_path(sf_dir, name))
    if name == "events":
        df = fold_events_ts(df)
    return df


def fold_events_ts(df: DataFrame) -> DataFrame:
    """``events.ts`` as a microsecond TimestampType, whatever the
    producer wrote: the batch read (``load_table``) and the stream read
    (``streaming.rollups.read_events_stream``) both go through here."""
    if dict(df.dtypes)["ts"] == "bigint":
        # ts arrives as int64 nanoseconds (nanosAsLong); truncate to
        # the microsecond precision every other engine (and pandas)
        # uses. Integer `div` — float division loses precision > 2^53.
        return df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    # a producer that writes real timestamps (µs/ntz) needs no nano
    # fold — only a session-tz cast for ntz files
    return df.withColumn("ts", F.col("ts").cast("timestamp"))
