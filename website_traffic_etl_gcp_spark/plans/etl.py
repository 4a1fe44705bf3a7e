"""§2A — Reference ETL parity queries.

The reference's input table ``(time, traffic)`` is derived from the
``events`` table (``ts`` rendered as the reference's day-first raw
strings, ``value`` as traffic) so these queries exercise the exact
transform semantics of reference transform.py:16-63 on driver testdata.
A deterministic slice of rows (event_id % 97 == 0) is corrupted to an
impossible date to exercise the quarantine path on both engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load_table
from ..functions.datetimes import DAYFIRST_PATTERNS
from ..functions.money import dec, dec_sum
from ..operators import traffic as traffic_ops
from ..sources.writers import dedupe_warehouse
from .registry import register

FIXED_TS = "2026-01-01 00:00:00"
FIXED_TS_2 = "2026-01-02 00:00:00"

# --- shared derivation of the reference's raw input frame ---------------

_RAW_SQL = """
    SELECT
        CASE WHEN event_id % 97 = 0 THEN '31/02/2024 00:00:00'
             ELSE strftime(ts, '%d/%m/%Y %H:%M:%S') END AS time,
        value AS traffic
    FROM events
"""


def _pivot_yy(parse: str) -> str:
    return f"CASE WHEN year({parse}) < 2000 THEN {parse} + INTERVAL 100 YEAR ELSE {parse} END"


# DuckDB analog of functions/datetimes.py parse_dayfirst (same four
# day-first patterns, first match wins). Each pattern is guarded by the
# shape regex that guards it on the Spark side (DAYFIRST_PATTERNS),
# because DuckDB's %Y accepts 2-digit years (as year 0024) and its
# LIST-form try_strptime is lenient (rolls 31/02 over to 02/03) — only
# the guarded single-format calls reproduce Java's strict whole-string
# parse. The CASE on year(...) reproduces Java's `yy` base-2000 pivot
# (00-99 → 2000-2099) against DuckDB's C-style 69-99 → 1900s. The
# DuckDB parses are listed one per DAYFIRST_PATTERNS entry, in order.
_DUCK_PARSES = (
    "try_strptime(time, '%d/%m/%Y %H:%M:%S')",
    _pivot_yy("try_strptime(time, '%d/%m/%y %H:%M:%S')"),
    "try_strptime(time, '%d/%m/%Y')",
    _pivot_yy("try_strptime(time, '%d/%m/%y')"),
)
_PARSE_SQL = "COALESCE(\n{}\n)".format(
    ",\n".join(
        f"    CASE WHEN regexp_full_match(time, '{shape}') THEN {parse} END"
        for (_, shape), parse in zip(DAYFIRST_PATTERNS, _DUCK_PARSES, strict=True)
    )
)

_TRANSFORMED_SQL = f"""
    SELECT
        strftime({_PARSE_SQL}, '%Y-%m-%d %H:%M:%S') AS time,
        CAST(traffic AS DOUBLE) AS traffic,
        '{FIXED_TS}' AS created_at
    FROM ({_RAW_SQL})
    WHERE {_PARSE_SQL} IS NOT NULL
      AND traffic IS NOT NULL
"""


def raw_traffic_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events → the reference's raw XLS shape: day-first ``time`` strings
    + numeric ``traffic`` (upper-cased names to exercise normalize)."""
    ev = load_table(spark, sf_dir, "events")
    time_raw = F.when(
        F.col("event_id") % 97 == 0, F.lit("31/02/2024 00:00:00")
    ).otherwise(F.date_format("ts", "dd/MM/yyyy HH:mm:ss"))
    return ev.select(time_raw.alias("TIME"), F.col("value").alias("TRAFFIC"))


def transformed(spark: SparkSession, sf_dir: str, fixed_ts: str = FIXED_TS) -> DataFrame:
    return traffic_ops.transform(raw_traffic_frame(spark, sf_dir), fixed_ts=fixed_ts)


# --- queries ------------------------------------------------------------


@register(
    "etl_traffic_transform",
    oracle=_TRANSFORMED_SQL,
    tags=("etl",),
    doc="Full reference transform (parse day-first → ISO, created_at, "
    "validate, project). Reference transform.py:55-63.",
)
def etl_traffic_transform(spark: SparkSession, sf_dir: str) -> DataFrame:
    return transformed(spark, sf_dir)


@register(
    "etl_traffic_quarantine",
    oracle=f"""
    SELECT time AS time_raw, traffic,
           'unparseable_time' AS reject_reason
    FROM ({_RAW_SQL})
    WHERE {_PARSE_SQL} IS NULL
    """,
    tags=("etl",),
    doc="Reject stream: rows the reference aborts on (transform.py:24-25) "
    "are quarantined instead — fail-fast is wrong at cluster scale.",
)
def etl_traffic_quarantine(spark: SparkSession, sf_dir: str) -> DataFrame:
    return traffic_ops.quarantine(raw_traffic_frame(spark, sf_dir), fixed_ts=FIXED_TS)


@register(
    "etl_traffic_hourly",
    oracle=f"""
    SELECT substr(time, 1, 13) || ':00:00' AS hour,
           CAST(SUM(CAST(traffic AS DECIMAL(18,2))) AS DOUBLE) AS traffic_sum,
           COUNT(*) AS n_rows
    FROM ({_TRANSFORMED_SQL})
    GROUP BY 1
    """,
    tags=("etl",),
    doc="Warehouse rollup: traffic per hour over the loaded table.",
)
def etl_traffic_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = transformed(spark, sf_dir)
    return t.groupBy(
        F.concat(F.substring("time", 1, 13), F.lit(":00:00")).alias("hour")
    ).agg(
        dec_sum("traffic").alias("traffic_sum"),
        F.count(F.lit(1)).alias("n_rows"),
    )


@register(
    "etl_traffic_daily_rolling",
    oracle=f"""
    WITH daily AS (
        SELECT substr(time, 1, 10) AS day,
               SUM(CAST(traffic AS DECIMAL(18,2))) AS d_sum,
               COUNT(*) AS d_n
        FROM ({_TRANSFORMED_SQL})
        GROUP BY 1
    )
    SELECT day,
           CAST(d_sum AS DOUBLE) AS traffic_sum,
           d_n AS n_rows,
           CAST(SUM(d_sum) OVER w AS DOUBLE)
               / CAST(SUM(d_n) OVER w AS DOUBLE) AS rolling_7d_avg
    FROM daily
    WINDOW w AS (ORDER BY day ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
    """,
    tags=("etl", "window"),
    doc="Daily rollup + 7-day rolling average. Global window is safe: it "
    "runs over the already-aggregated per-day frame (≤366 rows/year of "
    "data), not the raw events.",
)
def etl_traffic_daily_rolling(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = transformed(spark, sf_dir)
    daily = t.groupBy(F.substring("time", 1, 10).alias("day")).agg(
        F.sum(dec("traffic")).alias("d_sum"),
        F.count(F.lit(1)).alias("d_n"),
    )
    w = Window.orderBy("day").rowsBetween(-6, 0)
    return daily.select(
        "day",
        F.col("d_sum").cast("double").alias("traffic_sum"),
        F.col("d_n").alias("n_rows"),
        (
            F.sum("d_sum").over(w).cast("double")
            / F.sum("d_n").over(w).cast("double")
        ).alias("rolling_7d_avg"),
    )


@register(
    "etl_append_dedup",
    oracle=f"""
    WITH loads AS (
        SELECT * FROM ({_TRANSFORMED_SQL})
        UNION ALL
        SELECT * REPLACE ('{FIXED_TS_2}' AS created_at) FROM ({_TRANSFORMED_SQL})
    ),
    ranked AS (
        SELECT *, ROW_NUMBER() OVER (
            PARTITION BY time, traffic ORDER BY created_at DESC
        ) AS rn
        FROM loads
    )
    SELECT time, traffic, created_at FROM ranked WHERE rn = 1
    """,
    tags=("etl", "window"),
    doc="Append-mode idempotency (reference load.py write_disposition= "
    "append): re-loading the same batch keeps only the newest "
    "created_at per (time, traffic) key via a keyed window.",
)
def etl_append_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    b1 = transformed(spark, sf_dir, fixed_ts=FIXED_TS)
    b2 = transformed(spark, sf_dir, fixed_ts=FIXED_TS_2)
    return dedupe_warehouse(b1.unionByName(b2), ("time", "traffic"))


@register(
    "incremental_hourly_rollup",
    oracle="""
    SELECT strftime(ts, '%Y-%m-%d %H:00:00') AS hour,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS value_sum
    FROM events GROUP BY 1
    """,
    tags=("etl", "incremental"),
    doc="Incremental view maintenance: the standing hourly rollup is "
    "maintained by MERGING partial aggregates — base (events before "
    "the cutover) + delta (events after) are each rolled up "
    "independently, then combined with a groupBy SUM over the union "
    "of partials. Counts and decimal sums are mergeable, so the "
    "nightly batch never rescans the base table; its cost is "
    "O(delta) + O(distinct groups). The oracle is the FULL rollup — "
    "a hash match proves merge(base, delta) == recompute(all).",
)
def incremental_hourly_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    cutover = F.lit("2024-01-16").cast("timestamp")  # mid-range split

    def partial(df):
        return df.groupBy(
            F.date_format(F.date_trunc("hour", "ts"), "yyyy-MM-dd HH:mm:ss")
            .alias("hour")
        ).agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(dec("value", 2)).alias("v_dec"),
        )

    base = partial(ev.filter(F.col("ts") < cutover))
    delta = partial(ev.filter(F.col("ts") >= cutover))
    return (
        base.unionByName(delta)
        .groupBy("hour")
        .agg(
            F.sum("n_events").alias("n_events"),
            F.sum("v_dec").cast("double").alias("value_sum"),
        )
    )
