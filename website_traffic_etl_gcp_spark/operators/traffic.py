"""Reference-parity traffic transform, Spark-first.

Reference semantics (transform.py:16-63): lowercase column names; parse
``time`` from day-first strings to ISO ``%Y-%m-%d %H:%M:%S``; add a UTC
``created_at``; validate (required columns present, no null time/traffic,
numeric traffic); project to ``[time, traffic, created_at]``.

Differences by design (100 TB posture):
- Unparseable/invalid rows are *quarantined* (routed to a reject output)
  instead of raising — a single bad cell must not kill a cluster job.
  ``strict=True`` restores the reference's fail-fast contract.
- ``created_at`` is injectable so runs are reproducible/testable; default
  is the real current UTC timestamp, matching the reference.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.datetimes import iso_str, parse_dayfirst

OUTPUT_COLUMNS = ("time", "traffic", "created_at")


class TransformationError(Exception):
    """Raised in strict mode when validation fails (reference parity)."""


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


def _split(df: DataFrame, fixed_ts: str | None) -> tuple[DataFrame, DataFrame]:
    """(valid, quarantined) rows of ``parse`` on the reference's
    validation rules."""
    df = parse(df, fixed_ts)
    bad = F.col("time").isNull() | F.col("traffic").isNull()
    return df.filter(~bad), df.filter(bad)


def transform(
    df: DataFrame,
    fixed_ts: str | None = None,
    strict: bool = False,
) -> DataFrame:
    """Full reference transform pipeline; returns the valid projection.

    With ``strict=True``, any invalid row aborts (reference behavior,
    transform.py:24-25/44-50) — note this forces an eager count.
    """
    valid, quarantined = _split(df, fixed_ts)
    if strict and quarantined.limit(1).count() > 0:
        raise TransformationError("Failed to parse some time values")
    return valid.select(*OUTPUT_COLUMNS)


def quarantine(df: DataFrame, fixed_ts: str | None = None) -> DataFrame:
    """The reject stream: rows the reference would have aborted on."""
    _, bad = _split(df, fixed_ts)
    return bad.select(
        F.col("time_raw"),
        F.col("traffic"),
        F.when(F.col("time").isNull(), F.lit("unparseable_time"))
        .otherwise(F.lit("null_traffic"))
        .alias("reject_reason"),
    )
