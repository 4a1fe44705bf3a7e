"""§2C — Event / website-traffic analytics over the ``events`` table.

All timestamps are emitted as formatted strings (µs precision) so
comparison is representation-exact across engines; rates/averages use
the deterministic exact-int→double division pattern."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load_table
from ..functions.money import dec, dec_sum
from ..operators import rangejoin as rj
from ..operators.sessionize import DEFAULT_GAP_SECONDS, sessionize
from .registry import register

_TS_FMT_SQL = "%Y-%m-%d %H:%M:%S.%f"


def _ev(spark, sf_dir) -> DataFrame:
    return load_table(spark, sf_dir, "events")


@register(
    "sessionize_events",
    oracle=f"""
    WITH tagged AS (
        SELECT user_id, ts, value,
               CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
                         OR epoch_us(ts) - lag(epoch_us(ts)) OVER w
                            > {DEFAULT_GAP_SECONDS} * 1000000
                    THEN 1 ELSE 0 END AS is_new
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    numbered AS (
        SELECT *, CAST(SUM(is_new) OVER (
            PARTITION BY user_id ORDER BY ts
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
        ) AS BIGINT) AS session_id
        FROM tagged
    )
    SELECT user_id, session_id,
           strftime(MIN(ts), '{_TS_FMT_SQL}') AS session_start,
           strftime(MAX(ts), '{_TS_FMT_SQL}') AS session_end,
           CAST(MAX(epoch_us(ts)) - MIN(epoch_us(ts)) AS DOUBLE) / 1000000.0
               AS duration_s,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS value_sum
    FROM numbered
    GROUP BY user_id, session_id
    """,
    tags=("events", "window"),
    doc="30-minute-gap sessionization: lag → boundary flag → running "
    "sum, one shuffle on user_id. See operators/sessionize.py.",
)
def sessionize_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sessionize(_ev(spark, sf_dir))


@register(
    "funnel_conversion",
    oracle="""
    WITH s AS (
        SELECT user_id, MIN(ts) AS signup_ts FROM events
        WHERE event_type = 'signup' GROUP BY user_id
    ),
    v AS (
        SELECT e.user_id, MIN(e.ts) AS view_ts
        FROM events e JOIN s ON e.user_id = s.user_id
        WHERE e.event_type = 'view' AND e.ts > s.signup_ts
        GROUP BY e.user_id
    ),
    p AS (
        SELECT e.user_id, MIN(e.ts) AS purchase_ts
        FROM events e JOIN v ON e.user_id = v.user_id
        WHERE e.event_type = 'purchase' AND e.ts > v.view_ts
        GROUP BY e.user_id
    )
    SELECT (SELECT COUNT(*) FROM s) AS n_signup,
           (SELECT COUNT(*) FROM v) AS n_signup_then_view,
           (SELECT COUNT(*) FROM p) AS n_full_funnel
    """,
    tags=("events",),
    doc="Ordered signup→view→purchase funnel: per-stage first-timestamp "
    "aggregation + join, strictly increasing timestamps between stages.",
)
def funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _ev(spark, sf_dir)
    s = (
        ev.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("ts").alias("signup_ts"))
    )
    v = (
        ev.filter(F.col("event_type") == "view")
        .join(s, "user_id")
        .filter(F.col("ts") > F.col("signup_ts"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("view_ts"))
    )
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .join(v, "user_id")
        .filter(F.col("ts") > F.col("view_ts"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("purchase_ts"))
    )
    # 1-row aggregates: broadcast both sides so the combines are
    # BroadcastNestedLoopJoins by construction, never shuffled NLJs
    return (
        s.agg(F.count(F.lit(1)).alias("n_signup"))
        .crossJoin(F.broadcast(v.agg(F.count(F.lit(1)).alias("n_signup_then_view"))))
        .crossJoin(F.broadcast(p.agg(F.count(F.lit(1)).alias("n_full_funnel"))))
    )


@register(
    "daily_active_users",
    oracle="""
    SELECT strftime(ts, '%Y-%m-%d') AS day,
           COUNT(DISTINCT user_id) AS dau,
           COUNT(*) AS n_events
    FROM events GROUP BY 1
    """,
    tags=("events",),
    doc="DAU + daily event volume.",
)
def daily_active_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _ev(spark, sf_dir)
        .groupBy(F.date_format("ts", "yyyy-MM-dd").alias("day"))
        .agg(
            F.countDistinct("user_id").alias("dau"),
            F.count(F.lit(1)).alias("n_events"),
        )
    )


@register(
    "retention_cohorts",
    oracle="""
    WITH firsts AS (
        SELECT user_id, MIN(CAST(ts AS DATE)) AS cohort_day
        FROM events GROUP BY user_id
    )
    SELECT strftime(f.cohort_day, '%Y-%m-%d') AS cohort_day,
           datediff('day', f.cohort_day, CAST(e.ts AS DATE)) AS day_offset,
           COUNT(DISTINCT e.user_id) AS active_users
    FROM events e JOIN firsts f ON e.user_id = f.user_id
    GROUP BY 1, 2
    """,
    tags=("events",),
    doc="First-seen-day cohorts × day-offset retention (long form).",
)
def retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _ev(spark, sf_dir)
    firsts = ev.groupBy("user_id").agg(
        F.min(F.col("ts").cast("date")).alias("cohort_day")
    )
    return (
        ev.join(firsts, "user_id")
        .groupBy(
            F.date_format("cohort_day", "yyyy-MM-dd").alias("cohort_day"),
            F.datediff(F.col("ts").cast("date"), F.col("cohort_day"))
            .cast("bigint")
            .alias("day_offset"),
        )
        .agg(F.countDistinct("user_id").alias("active_users"))
    )


@register(
    "event_type_hourly",
    oracle="""
    SELECT strftime(ts, '%Y-%m-%d %H:00:00') AS hour,
           COUNT(*) FILTER (event_type = 'view')     AS n_view,
           COUNT(*) FILTER (event_type = 'click')    AS n_click,
           COUNT(*) FILTER (event_type = 'purchase') AS n_purchase,
           COUNT(*) FILTER (event_type = 'signup')   AS n_signup,
           COUNT(*) FILTER (event_type = 'error')    AS n_error,
           COUNT(*) AS n_total
    FROM events GROUP BY 1
    """,
    tags=("events",),
    doc="Hourly counts per event type — pivot expressed as conditional "
    "aggregation (single pass, map-side combinable, unlike pivot-on-"
    "collected-values).",
)
def event_type_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    def cnt(t: str):
        return F.count(F.when(F.col("event_type") == t, 1)).alias(f"n_{t}")

    return (
        _ev(spark, sf_dir)
        .groupBy(F.date_format("ts", "yyyy-MM-dd HH:00:00").alias("hour"))
        .agg(
            cnt("view"), cnt("click"), cnt("purchase"), cnt("signup"),
            cnt("error"), F.count(F.lit(1)).alias("n_total"),
        )
    )


@register(
    "top_users_by_purchase",
    oracle="""
    SELECT user_id,
           COUNT(*) AS purchase_cnt,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS purchase_value
    FROM events
    WHERE event_type = 'purchase'
    GROUP BY user_id
    ORDER BY SUM(CAST(value AS DECIMAL(18,2))) DESC, user_id
    LIMIT 20
    """,
    tags=("events",),
    doc="Top-20 purchasers by exact decimal value (deterministic order).",
)
def top_users_by_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _ev(spark, sf_dir)
        .filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("purchase_cnt"),
            F.sum(dec("value")).alias("val_dec"),
        )
        .orderBy(F.col("val_dec").desc(), F.col("user_id"))
        .limit(20)
        .select(
            "user_id", "purchase_cnt",
            F.col("val_dec").cast("double").alias("purchase_value"),
        )
    )


@register(
    "error_rate_hourly",
    oracle="""
    SELECT strftime(ts, '%Y-%m-%d %H:00:00') AS hour,
           COUNT(*) FILTER (event_type = 'error') AS n_error,
           COUNT(*) AS n_total,
           CAST(COUNT(*) FILTER (event_type = 'error') AS DOUBLE)
               / CAST(COUNT(*) AS DOUBLE) AS error_rate
    FROM events GROUP BY 1
    """,
    tags=("events",),
    doc="Hourly error share (int→double division: deterministic).",
)
def error_rate_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    n_err = F.count(F.when(F.col("event_type") == "error", 1))
    n_tot = F.count(F.lit(1))
    return (
        _ev(spark, sf_dir)
        .groupBy(F.date_format("ts", "yyyy-MM-dd HH:00:00").alias("hour"))
        .agg(
            n_err.alias("n_error"),
            n_tot.alias("n_total"),
            (n_err.cast("double") / n_tot.cast("double")).alias("error_rate"),
        )
    )


@register(
    "props_json_extract",
    oracle="""
    SELECT CAST(json_extract_string(props, '$.k') AS INT) % 10 AS k_bucket,
           COUNT(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS value_sum
    FROM events GROUP BY 1
    """,
    tags=("events",),
    doc="Semi-structured props: JSON path extraction stays JVM-side "
    "(get_json_object), bucketed aggregation over the extracted key.",
)
def props_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    k = F.get_json_object("props", "$.k").cast("int")
    return (
        _ev(spark, sf_dir)
        .groupBy((k % 10).alias("k_bucket"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            dec_sum("value").alias("value_sum"),
        )
    )


@register(
    "rolling_7d_event_volume",
    oracle="""
    WITH daily AS (
        SELECT strftime(ts, '%Y-%m-%d') AS day, COUNT(*) AS n
        FROM events GROUP BY 1
    )
    SELECT day, n,
           CAST(SUM(n) OVER w AS BIGINT) AS rolling_7d_sum,
           CAST(SUM(n) OVER w AS DOUBLE) / CAST(COUNT(*) OVER w AS DOUBLE)
               AS rolling_7d_avg
    FROM daily
    WINDOW w AS (ORDER BY day ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
    """,
    tags=("events", "window"),
    doc="Daily volume + 7-day rolling sum/avg over the aggregated "
    "per-day frame.",
)
def rolling_7d_event_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    daily = (
        _ev(spark, sf_dir)
        .groupBy(F.date_format("ts", "yyyy-MM-dd").alias("day"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    w = Window.orderBy("day").rowsBetween(-6, 0)
    return daily.select(
        "day",
        "n",
        F.sum("n").over(w).alias("rolling_7d_sum"),
        (
            F.sum("n").over(w).cast("double")
            / F.count(F.lit(1)).over(w).cast("double")
        ).alias("rolling_7d_avg"),
    )


@register(
    "pre_purchase_activity",
    oracle=f"""
    SELECT p.event_id, p.user_id,
           strftime(p.ts, '{_TS_FMT_SQL}') AS purchase_ts,
           COUNT(e.user_id) AS n_prior_events,
           CAST(COALESCE(SUM(CAST(e.value AS DECIMAL(18,2))), 0) AS DOUBLE)
               AS prior_value_sum
    FROM events p
    LEFT JOIN events e
      ON e.user_id = p.user_id
     AND e.ts >= p.ts - INTERVAL 30 MINUTE
     AND e.ts <  p.ts
    WHERE p.event_type = 'purchase'
    GROUP BY p.event_id, p.user_id, p.ts
    """,
    tags=("events", "rangejoin"),
    doc="Range (interval) join: per purchase, count + value of the "
    "same user's events in the preceding 30 minutes. Implemented with "
    "the bucketed interval join — points quantized to one time bucket, "
    "intervals exploded to the ~2 buckets they cover, equi-join on "
    "(user_id, bucket), exact refine after — so the plan is a plain "
    "shuffled equi-join with constant fan-out, never a per-key cross "
    "product. operators/rangejoin.py:bucketed_range_join.",
)
def pre_purchase_activity(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _ev(spark, sf_dir)
    purchases = (
        ev.filter(F.col("event_type") == "purchase")
        .select("event_id", "user_id", "ts")
        .withColumn("lo", F.col("ts") - F.expr("INTERVAL 30 MINUTES"))
        .withColumn("hi", F.col("ts"))
    )
    points = ev.select("user_id", F.col("ts").alias("ets"), "value")
    matched = rj.bucketed_range_join(
        points,
        purchases,
        point_ts="ets",
        lo_col="lo",
        hi_col="hi",
        keys=("user_id",),
        bucket_seconds=1800,
    )
    agg = matched.groupBy("event_id").agg(
        F.count(F.lit(1)).alias("n_prior"),
        F.sum(dec("value", 2)).alias("v_dec"),
    )
    return (
        purchases.join(agg, "event_id", "left")
        .select(
            "event_id",
            "user_id",
            F.date_format("ts", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias(
                "purchase_ts"
            ),
            F.coalesce(F.col("n_prior"), F.lit(0)).alias("n_prior_events"),
            F.coalesce(F.col("v_dec"), F.lit(0).cast("decimal(18,2)"))
            .cast("double")
            .alias("prior_value_sum"),
        )
    )


@register(
    "session_window_rollup",
    oracle=f"""
    WITH tagged AS (
        SELECT user_id, ts, value,
               CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
                         OR epoch_us(ts) - lag(epoch_us(ts)) OVER w
                            >= {DEFAULT_GAP_SECONDS} * 1000000
                    THEN 1 ELSE 0 END AS is_new
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    numbered AS (
        SELECT *, SUM(is_new) OVER (
            PARTITION BY user_id ORDER BY ts
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
        ) AS session_id
        FROM tagged
    )
    SELECT user_id,
           strftime(MIN(ts), '{_TS_FMT_SQL}') AS session_start,
           strftime(MAX(ts) + INTERVAL {DEFAULT_GAP_SECONDS} SECOND,
                    '{_TS_FMT_SQL}') AS session_end,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS value_sum
    FROM numbered
    GROUP BY user_id, session_id
    """,
    tags=("events", "window"),
    doc="Gap sessions via Spark's NATIVE session_window aggregation "
    "(merging-window state, one groupBy — the same operator works "
    "unchanged under readStream). Semantics differ from the lag-based "
    "sessionize_events at the exact-gap boundary: session_window ends "
    "are exclusive, so a gap of exactly 30min starts a new session "
    "(oracle uses >=), and session_end = last event + gap.",
)
def session_window_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _ev(spark, sf_dir)
    fmt = "yyyy-MM-dd HH:mm:ss.SSSSSS"
    return (
        ev.groupBy(
            "user_id",
            F.session_window("ts", f"{DEFAULT_GAP_SECONDS} seconds").alias("sw"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(dec("value", 2)).cast("double").alias("value_sum"),
        )
        .select(
            "user_id",
            F.date_format("sw.start", fmt).alias("session_start"),
            F.date_format("sw.end", fmt).alias("session_end"),
            "n_events",
            "value_sum",
        )
    )


@register(
    "daily_volume_anomaly",
    oracle="""
    WITH daily AS (
        SELECT strftime(ts, '%Y-%m-%d') AS day, COUNT(*) AS n
        FROM events GROUP BY 1
    ),
    stats AS (
        SELECT day, n,
               SUM(n)   OVER w AS s1,
               SUM(n*n) OVER w AS s2,
               COUNT(*) OVER w AS k
        FROM daily
        WINDOW w AS (ORDER BY day ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING)
    )
    SELECT day, n,
           CAST(s1 AS DOUBLE) / CAST(k AS DOUBLE) AS trailing_mean,
           (CAST(n AS DOUBLE) - CAST(s1 AS DOUBLE) / CAST(k AS DOUBLE))
             / sqrt((CAST(s2 AS DOUBLE)
                     - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE)
                       / CAST(k AS DOUBLE)) / CAST(k AS DOUBLE))
             AS zscore
    FROM stats
    WHERE k = 7
      AND CAST(s2 AS DOUBLE) * CAST(k AS DOUBLE)
          > CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE)
    """,
    tags=("events", "window"),
    doc="Volume anomaly detection: z-score of each day's event count "
    "against the trailing 7-day window (excluding itself). All "
    "moments are exact integer sums (counts and squared counts) "
    "converted once to double — and IEEE sqrt is correctly rounded — "
    "so the score is bit-identical across engines. Zero-variance "
    "windows are excluded rather than divided by zero.",
)
def daily_volume_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    daily = (
        _ev(spark, sf_dir)
        .groupBy(F.date_format("ts", "yyyy-MM-dd").alias("day"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    w = Window.orderBy("day").rowsBetween(-7, -1)
    stats = daily.select(
        "day",
        "n",
        F.sum("n").over(w).alias("s1"),
        F.sum(F.col("n") * F.col("n")).over(w).alias("s2"),
        F.count(F.lit(1)).over(w).alias("k"),
    )
    s1d = F.col("s1").cast("double")
    s2d = F.col("s2").cast("double")
    kd = F.col("k").cast("double")
    mean = s1d / kd
    var = (s2d - s1d * s1d / kd) / kd
    return (
        stats.filter(
            (F.col("k") == 7) & (s2d * kd > s1d * s1d)
        )
        .select(
            "day",
            "n",
            mean.alias("trailing_mean"),
            ((F.col("n").cast("double") - mean) / F.sqrt(var)).alias("zscore"),
        )
    )


@register(
    "dq_events_expectations",
    oracle="""
    WITH n AS (SELECT COUNT(*) AS n_rows FROM events),
    rules AS (
        SELECT 'event_id_not_null' AS rule,
               COUNT(*) FILTER (event_id IS NULL) AS n_violations
        FROM events
        UNION ALL
        SELECT 'value_non_negative',
               COUNT(*) FILTER (value IS NOT NULL AND value < 0)
        FROM events
        UNION ALL
        SELECT 'event_type_in_domain',
               COUNT(*) FILTER (event_type NOT IN
                   ('view', 'click', 'purchase', 'signup', 'error'))
        FROM events
        UNION ALL
        SELECT 'ts_in_range',
               COUNT(*) FILTER (ts < TIMESTAMP '2020-01-01'
                                OR ts >= TIMESTAMP '2030-01-01')
        FROM events
        UNION ALL
        SELECT 'event_id_unique',
               COALESCE((SELECT SUM(c) FROM (
                   SELECT COUNT(*) AS c FROM events
                   GROUP BY event_id HAVING COUNT(*) > 1)), 0)
    )
    SELECT rule, CAST(n_violations AS BIGINT) AS n_violations,
           n.n_rows, n_violations = 0 AS passed
    FROM rules, n
    """,
    tags=("events", "quality"),
    doc="Data-quality gate over events: null checks, range checks, "
    "domain membership, and key uniqueness as a declarative rule "
    "list. All predicate rules evaluate in ONE scan (conditional "
    "counts in a single aggregation); the uniqueness rule is its own "
    "groupBy and unions into the same long-form report. "
    "operators/quality.py:expect/expect_unique.",
)
def dq_events_expectations(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.quality import event_row_rules, expect, expect_unique

    ev = _ev(spark, sf_dir)
    rules = event_row_rules()
    return expect(ev, rules).unionByName(
        expect_unique(ev, ["event_id"], "event_id_unique")
    )


@register(
    "value_histogram_by_type",
    oracle="""
    WITH stats AS (
        SELECT MIN(value) AS lo, MAX(value) AS hi FROM events
        WHERE value IS NOT NULL
    )
    SELECT event_type,
           CAST(LEAST(FLOOR((value - lo) / ((hi - lo) / 20.0)), 19)
                AS BIGINT) AS bucket,
           COUNT(*) AS n
    FROM events, stats
    WHERE value IS NOT NULL
    GROUP BY 1, 2
    """,
    tags=("events",),
    doc="Equi-width histogram (20 buckets over the global value range) "
    "per event type: one broadcast scalar (min, max) + one map-side "
    "bucketing pass + one groupBy. Floor-bucketing (no rounding) and "
    "a LEAST clamp for the max value keep bucket assignment "
    "bit-identical across engines.",
)
def value_histogram_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _ev(spark, sf_dir).filter(F.col("value").isNotNull())
    stats = ev.agg(
        F.min("value").alias("lo"), F.max("value").alias("hi")
    )
    width = (F.col("hi") - F.col("lo")) / 20.0
    bucket = F.least(
        F.floor((F.col("value") - F.col("lo")) / width), F.lit(19)
    ).cast("bigint")
    return (
        ev.crossJoin(F.broadcast(stats))
        .groupBy("event_type", bucket.alias("bucket"))
        .agg(F.count(F.lit(1)).alias("n"))
    )


@register(
    "event_transition_matrix",
    oracle="""
    WITH seq AS (
        SELECT user_id, event_type,
               lead(event_type) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
               ) AS next_type
        FROM events
    ),
    trans AS (
        SELECT event_type AS from_type, next_type AS to_type,
               COUNT(*) AS n
        FROM seq WHERE next_type IS NOT NULL
        GROUP BY 1, 2
    ),
    totals AS (SELECT from_type, SUM(n) AS n_from FROM trans GROUP BY 1)
    SELECT t.from_type, t.to_type, t.n,
           CAST(t.n AS DOUBLE) / CAST(tt.n_from AS DOUBLE) AS p
    FROM trans t JOIN totals tt USING (from_type)
    """,
    tags=("events", "window"),
    doc="Behavioral Markov matrix: P(next event type | current) from "
    "per-user event sequences (lead window ordered by ts with "
    "event_id tie-break). One shuffle on user_id for the sequence, "
    "one tiny groupBy for the matrix — the transition table feeding "
    "next-action models and funnel diagnostics.",
)
def event_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _ev(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "event_type", F.lead("event_type").over(w).alias("next_type")
    ).filter(F.col("next_type").isNotNull())
    trans = seq.groupBy(
        F.col("event_type").alias("from_type"), F.col("next_type").alias("to_type")
    ).agg(F.count(F.lit(1)).alias("n"))
    totals = trans.groupBy("from_type").agg(F.sum("n").alias("n_from"))
    return trans.join(totals, "from_type").select(
        "from_type",
        "to_type",
        "n",
        (F.col("n").cast("double") / F.col("n_from").cast("double")).alias("p"),
    )


@register(
    "session_path_signatures",
    oracle=f"""
    WITH tagged AS (
        SELECT user_id, event_id, ts, event_type,
               CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
                         OR epoch_us(ts) - lag(epoch_us(ts)) OVER w
                            > {DEFAULT_GAP_SECONDS} * 1000000
                    THEN 1 ELSE 0 END AS is_new
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    numbered AS (
        SELECT *, CAST(SUM(is_new) OVER (
            PARTITION BY user_id ORDER BY ts, event_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
        ) AS BIGINT) AS session_id
        FROM tagged
    ),
    ranked AS (
        SELECT user_id, session_id, event_type,
               ROW_NUMBER() OVER (
                   PARTITION BY user_id, session_id ORDER BY ts, event_id
               ) AS rn
        FROM numbered
    ),
    paths AS (
        SELECT user_id, session_id,
               concat_ws('>',
                   MAX(CASE WHEN rn = 1 THEN event_type END),
                   MAX(CASE WHEN rn = 2 THEN event_type END),
                   MAX(CASE WHEN rn = 3 THEN event_type END)) AS path
        FROM ranked WHERE rn <= 3
        GROUP BY 1, 2
    )
    SELECT path, COUNT(*) AS n_sessions
    FROM paths GROUP BY path
    """,
    tags=("events", "window"),
    doc="Session path signatures: the first three event types of every "
    "session (gap-rule sessionization) concatenated into a journey "
    "signature, counted across sessions — the entry-path view behind "
    "funnel design. Composes with_session_id with one more window on "
    "the SAME (user_id) partitioning plus a signature groupBy; "
    "shorter sessions produce shorter paths (NULL steps skipped "
    "identically by both engines' concat_ws). "
    "operators/sessionize.py:with_session_id.",
)
def session_path_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    from ..operators.sessionize import with_session_id

    ev = _ev(spark, sf_dir).select("user_id", "event_id", "ts", "event_type")
    tagged = with_session_id(ev)
    w = W.partitionBy("user_id", "session_id").orderBy("ts", "event_id")
    ranked = tagged.withColumn("rn", F.row_number().over(w)).filter(
        F.col("rn") <= 3
    )
    step = lambda i: F.max(F.when(F.col("rn") == i, F.col("event_type")))
    paths = ranked.groupBy("user_id", "session_id").agg(
        F.concat_ws(">", step(1), step(2), step(3)).alias("path")
    )
    return paths.groupBy("path").agg(F.count(F.lit(1)).alias("n_sessions"))


@register(
    "session_bounce_rate",
    oracle=f"""
    WITH tagged AS (
        SELECT user_id, ts,
               CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
                         OR epoch_us(ts) - lag(epoch_us(ts)) OVER w
                            > {DEFAULT_GAP_SECONDS} * 1000000
                    THEN 1 ELSE 0 END AS is_new
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    numbered AS (
        SELECT *, CAST(SUM(is_new) OVER (
            PARTITION BY user_id ORDER BY ts
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
        ) AS BIGINT) AS session_id
        FROM tagged
    ),
    sess AS (
        SELECT user_id, session_id,
               strftime(MIN(ts), '%Y-%m-%d') AS day,
               COUNT(*) AS n_events
        FROM numbered GROUP BY 1, 2
    )
    SELECT day,
           CAST(COUNT(*) AS BIGINT) AS n_sessions,
           CAST(SUM(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_bounces,
           CAST(SUM(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) AS DOUBLE)
               / CAST(COUNT(*) AS DOUBLE) AS bounce_rate,
           CAST(SUM(n_events) AS BIGINT) AS n_events_total
    FROM sess GROUP BY 1
    """,
    tags=("events", "window"),
    doc="Daily bounce rate — the canonical website-traffic KPI: a "
    "session is a bounce when it contains exactly one event; sessions "
    "attribute to the day they start. Built on the same 30-min-gap "
    "sessionization as sessionize_events (one user_id shuffle), then "
    "one day-keyed rollup; the rate is exact-int counts divided once "
    "at the end (engine-deterministic).",
)
def session_bounce_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    sess = sessionize(_ev(spark, sf_dir))
    day = F.substring("session_start", 1, 10)
    bounce = (F.col("n_events") == 1).cast("bigint")
    return (
        sess.select(day.alias("day"), bounce.alias("is_bounce"), "n_events")
        .groupBy("day")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_sessions"),
            F.sum("is_bounce").cast("bigint").alias("n_bounces"),
            (
                F.sum("is_bounce").cast("double")
                / F.count(F.lit(1)).cast("double")
            ).alias("bounce_rate"),
            F.sum("n_events").cast("bigint").alias("n_events_total"),
        )
    )
