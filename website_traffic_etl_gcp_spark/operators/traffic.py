"""Reference-parity traffic transform, Spark-first.

Reference semantics (transform.py:16-63): lowercase column names; parse
``time`` from day-first strings to ISO ``%Y-%m-%d %H:%M:%S``; add a UTC
``created_at``; validate (required columns present, no null time/traffic,
numeric traffic); project to ``[time, traffic, created_at]``.

Differences by design (100 TB posture):
- Unparseable/invalid rows are *quarantined* (routed to a reject output)
  instead of raising — a single bad cell must not kill a cluster job.
  The reference's fail-fast signal stays visible as the quarantined
  count ``pipeline.run_etl`` returns; a missing required column still
  raises ``TransformationError``.
- ``created_at`` is injectable so runs are reproducible/testable; default
  is the real current UTC timestamp, matching the reference.

``parse`` is the one chain both outputs derive from; ``valid_rows`` and
``rejected_rows`` project a parsed frame, and ``transform`` and
``quarantine`` compose them with ``parse`` for a raw frame.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.datetimes import iso_str, parse_dayfirst

OUTPUT_COLUMNS = ("time", "traffic", "created_at")


class TransformationError(Exception):
    """Raised when the landing frame lacks a required column."""


def normalize_columns(df: DataFrame) -> DataFrame:
    """Lowercase all column names (reference transform.py:57)."""
    return df.toDF(*[c.lower() for c in df.columns])


def parse_time_column(df: DataFrame) -> DataFrame:
    """Day-first raw string → ISO string; invalid rows get NULL time
    (caught by validate/quarantine downstream). Accepts the same
    day-first variants the reference's pandas dayfirst parse does:
    full timestamps, two-digit years, and date-only values."""
    return df.withColumn("time", iso_str(parse_dayfirst(F.col("time"))))


def add_created_at(df: DataFrame, fixed_ts: str | None = None) -> DataFrame:
    """UTC load stamp (reference transform.py:31-35). ``fixed_ts`` pins
    the value for reproducible runs; default matches the reference
    (single stamp for the whole batch, not per-row)."""
    stamp = (
        F.lit(fixed_ts)
        if fixed_ts is not None
        else F.date_format(F.current_timestamp(), "yyyy-MM-dd HH:mm:ss")
    )
    return df.withColumn("created_at", stamp)


def parse(df: DataFrame, fixed_ts: str | None) -> DataFrame:
    """The chain both outputs derive from: normalize, required-column
    check, day-first parse (the raw value kept as ``time_raw``), stamp,
    numeric cast. Invalid rows keep a NULL ``time`` or ``traffic``.
    ``pipeline.run_etl`` persists this frame, so every output of a
    batch reads one parse of each row."""
    df = normalize_columns(df)
    missing = {"time", "traffic"} - set(df.columns)
    if missing:
        raise TransformationError(f"Missing columns: {missing}")
    df = df.withColumn("time_raw", F.col("time"))
    df = parse_time_column(df)
    df = add_created_at(df, fixed_ts)
    # try_cast: ANSI mode would abort the whole job on one malformed
    # cell; non-castable traffic → NULL → quarantined instead.
    return df.withColumn("traffic", F.col("traffic").try_cast("double"))


def _invalid() -> Column:
    """The reference's validation rule: a NULL parsed time or traffic."""
    return F.col("time").isNull() | F.col("traffic").isNull()


def valid_rows(parsed: DataFrame) -> DataFrame:
    """The valid projection of a ``parse`` frame: rows passing the
    reference's validation rules, as ``OUTPUT_COLUMNS``."""
    return parsed.filter(~_invalid()).select(*OUTPUT_COLUMNS)


def rejected_rows(parsed: DataFrame) -> DataFrame:
    """The reject projection of a ``parse`` frame: rows the reference
    would have aborted on, with the raw time and a reason."""
    return parsed.filter(_invalid()).select(
        F.col("time_raw"),
        F.col("traffic"),
        F.when(F.col("time").isNull(), F.lit("unparseable_time"))
        .otherwise(F.lit("null_traffic"))
        .alias("reject_reason"),
    )


def transform(df: DataFrame, fixed_ts: str | None = None) -> DataFrame:
    """Full reference transform pipeline; returns the valid projection."""
    return valid_rows(parse(df, fixed_ts))


def quarantine(df: DataFrame, fixed_ts: str | None = None) -> DataFrame:
    """The reject stream: rows the reference would have aborted on."""
    return rejected_rows(parse(df, fixed_ts))
