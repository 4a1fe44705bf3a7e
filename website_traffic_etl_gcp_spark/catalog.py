"""Table catalog: load the warehouse tables and register temp views.

All queries address tables by these names; loading goes through
``spark.read.parquet`` so Catalyst keeps predicate pushdown and column
pruning intact (verified in tests via ``.explain``).
"""

from __future__ import annotations

import hashlib
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

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


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; known: {TABLES}")
    # The session may not be one we built (grading drivers, notebooks):
    # re-assert the runtime confs the reads/semantics depend on, notably
    # nanosAsLong — without it the events scan throws PARQUET_TYPE_ILLEGAL
    # before the dtype fallback below ever runs.
    ensure_runtime_confs(spark)
    df = spark.read.parquet(table_path(sf_dir, name))
    if name == "events":
        ts_type = dict(df.dtypes)["ts"]
        if ts_type == "bigint":
            # ts arrives as int64 nanoseconds (nanosAsLong); truncate to
            # the microsecond precision every other engine (and pandas)
            # uses. Integer `div` — float division loses precision > 2^53.
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        else:
            # a producer that writes real timestamps (µs/ntz) needs no
            # nano fold — only a session-tz cast for ntz files
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def load_tables(
    spark: SparkSession, sf_dir: str, names: tuple[str, ...] = TABLES
) -> dict[str, DataFrame]:
    """Load ``names`` and register each as a temp view (for spark.sql)."""
    out: dict[str, DataFrame] = {}
    for name in names:
        df = load_table(spark, sf_dir, name)
        df.createOrReplaceTempView(name)
        out[name] = df
    return out
