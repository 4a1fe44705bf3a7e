"""§2 extensions — advanced engine capabilities beyond the core suites:
multi-level rollups, as-of joins, skew-proof salted aggregation,
deterministic discrete quantiles, anti-joins, window gap analysis, and
sketch-based approximate aggregates."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load_table
from ..functions.money import dec
from .registry import register

_SQL_REV = (
    "CAST(l_extendedprice AS DECIMAL(12,2))"
    " * (1 - CAST(l_discount AS DECIMAL(4,2)))"
)

SALT_BUCKETS = 16
N_USERS_MOD = 150  # maps o_custkey into the events user_id space


def _rev() -> F.Column:
    ext = F.col("l_extendedprice").cast("decimal(12,2)")
    disc = F.col("l_discount").cast("decimal(4,2)")
    return ext * (F.lit(1) - disc)


@register(
    "revenue_rollup_nation_year",
    oracle=f"""
    SELECT COALESCE(n_name, 'ALL') AS n_name,
           COALESCE(CAST(order_year AS VARCHAR), 'ALL') AS order_year,
           revenue, n_items
    FROM (
        SELECT n.n_name, year(o.o_orderdate) AS order_year,
               CAST(SUM({_SQL_REV}) AS DOUBLE) AS revenue,
               COUNT(*) AS n_items
        FROM nation n
        JOIN customer c ON c.c_nationkey = n.n_nationkey
        JOIN orders o   ON o.o_custkey = c.c_custkey
        JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        GROUP BY ROLLUP(n.n_name, year(o.o_orderdate))
    )
    """,
    tags=("relational", "rollup"),
    doc="Hierarchical subtotals (nation → nation×year → grand total) in "
    "ONE pass via GROUP BY ROLLUP — three separate aggregations would "
    "scan lineitem three times.",
)
def revenue_rollup_nation_year(spark: SparkSession, sf_dir: str) -> DataFrame:
    n = F.broadcast(
        load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    )
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderdate"
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_extendedprice", "l_discount"
    )
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(n, c.c_nationkey == n.n_nationkey)
        .withColumn("order_year", F.year("o_orderdate").cast("int"))
        .rollup("n_name", "order_year")
        .agg(
            F.sum(_rev()).cast("double").alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
        # explicit subtotal markers: NULL-able int columns turn into
        # floats in pandas interchange, so emit strings instead
        .select(
            F.coalesce(F.col("n_name"), F.lit("ALL")).alias("n_name"),
            F.coalesce(F.col("order_year").cast("string"), F.lit("ALL")).alias(
                "order_year"
            ),
            "revenue",
            "n_items",
        )
    )


@register(
    "asof_last_event_before_order",
    oracle=f"""
    SELECT o.o_orderkey,
           strftime(e.ts, '%Y-%m-%d %H:%M:%S.%f') AS last_event_ts
    FROM orders o
    ASOF LEFT JOIN events e
      ON e.user_id = o.o_custkey % {N_USERS_MOD} AND e.ts < o.o_orderdate
    """,
    tags=("events", "asof"),
    doc="As-of join: latest event strictly before each order, per user. "
    "Implemented as the scalable union-sort-window pattern (one shuffle "
    "on the user key, no range-join explosion): tag both streams, sort "
    "by (ts, order-first-on-ties), carry the last event timestamp "
    "forward with an ignore-nulls window. Matches DuckDB's native ASOF "
    "JOIN semantics exactly.",
)
def asof_last_event_before_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select(
        F.col("user_id").alias("ukey"),
        "ts",
        F.lit(0).alias("is_order"),
        F.lit(None).cast("long").alias("o_orderkey"),
    )
    orders = load_table(spark, sf_dir, "orders").select(
        (F.col("o_custkey") % N_USERS_MOD).alias("ukey"),
        F.col("o_orderdate").alias("ts"),
        F.lit(1).alias("is_order"),
        "o_orderkey",
    )
    merged = ev.unionByName(orders)
    # order rows sort BEFORE event rows at equal ts → an event at
    # exactly the order timestamp is not visible (strict <)
    w = (
        Window.partitionBy("ukey")
        .orderBy(F.col("ts"), F.col("is_order").desc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    ev_ts = F.when(F.col("is_order") == 0, F.col("ts"))
    return (
        merged.withColumn("last_ev", F.last(ev_ts, ignorenulls=True).over(w))
        .filter(F.col("is_order") == 1)
        .select(
            "o_orderkey",
            F.date_format("last_ev", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias(
                "last_event_ts"
            ),
        )
    )


@register(
    "salted_event_value_sum",
    oracle="""
    SELECT event_type,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS value_sum,
           COUNT(*) AS n
    FROM events GROUP BY event_type
    """,
    tags=("events", "skew"),
    doc="Skew-proof aggregation: event_type has ~5 values, so a naive "
    "groupBy lands whole types on single reducers at 100 TB. Two-stage "
    "salting (key×16-salt partial agg → final combine) bounds any "
    "reducer at 1/16 of a hot key. Oracle is the PLAIN aggregation — "
    "salting must be invisible in the result.",
)
def salted_event_value_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    partial = (
        ev.withColumn("salt", (F.col("event_id") % SALT_BUCKETS))
        .groupBy("event_type", "salt")
        .agg(
            F.sum(dec("value")).alias("s_part"),
            F.count(F.lit(1)).alias("n_part"),
        )
    )
    return partial.groupBy("event_type").agg(
        F.sum("s_part").cast("double").alias("value_sum"),
        F.sum("n_part").alias("n"),
    )


@register(
    "value_quantiles_by_type",
    oracle="""
    WITH ranked AS (
        SELECT event_type, value,
               ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY value, event_id)
                   AS rn,
               COUNT(*) OVER (PARTITION BY event_type) AS n
        FROM events
    )
    SELECT event_type, MAX(n) AS n,
           MAX(CASE WHEN rn - 1 = CAST(floor((n-1) * 0.25) AS BIGINT) THEN value END) AS q25,
           MAX(CASE WHEN rn - 1 = CAST(floor((n-1) * 0.50) AS BIGINT) THEN value END) AS q50,
           MAX(CASE WHEN rn - 1 = CAST(floor((n-1) * 0.75) AS BIGINT) THEN value END) AS q75
    FROM ranked
    GROUP BY event_type
    """,
    tags=("events", "quantiles"),
    doc="Discrete (lower-nearest) quantiles via rank selection — exact "
    "order statistics with NO interpolation, so results are engine- "
    "exact where interpolated percentile formulas drift in float math. "
    "One window + one agg pass.",
)
def value_quantiles_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    wo = Window.partitionBy("event_type").orderBy("value", "event_id")
    wn = Window.partitionBy("event_type")
    ranked = ev.select(
        "event_type",
        "value",
        F.row_number().over(wo).alias("rn"),
        F.count(F.lit(1)).over(wn).alias("n"),
    )

    def q(p: float):
        idx = F.floor((F.col("n") - 1) * p).cast("bigint")
        return F.max(F.when(F.col("rn") - 1 == idx, F.col("value")))

    return ranked.groupBy("event_type").agg(
        F.max("n").alias("n"),
        q(0.25).alias("q25"),
        q(0.50).alias("q50"),
        q(0.75).alias("q75"),
    )


@register(
    "users_without_purchase",
    oracle="""
    SELECT user_id, COUNT(*) AS n_events
    FROM events e
    WHERE NOT EXISTS (
        SELECT 1 FROM events p
        WHERE p.user_id = e.user_id AND p.event_type = 'purchase'
    )
    GROUP BY user_id
    """,
    tags=("events",),
    doc="Never-purchased users via left-anti join (the NOT EXISTS "
    "plan shape — no join blowup, no distinct-after-join).",
)
def users_without_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    purchasers = ev.filter(F.col("event_type") == "purchase").select("user_id")
    return (
        ev.join(purchasers, "user_id", "left_anti")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
    )


@register(
    "user_purchase_gaps",
    oracle="""
    SELECT user_id, COUNT(*) AS n_purchases,
           CAST(MAX(epoch_us(ts)) - MIN(epoch_us(ts)) AS DOUBLE)
               / CAST(COUNT(*) - 1 AS DOUBLE) / 1000000.0 AS avg_gap_s
    FROM events
    WHERE event_type = 'purchase'
    GROUP BY user_id
    HAVING COUNT(*) >= 2
    """,
    tags=("events", "window"),
    doc="Mean time between purchases per user. Spark computes it as the "
    "window-lag mean (the general shape for gap analytics); the oracle "
    "uses the telescoping identity mean(gaps) = (last-first)/(n-1) — "
    "same exact integers, same division, same double.",
)
def user_purchase_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type") == "purchase"
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    us = F.unix_micros(F.col("ts"))
    gaps = ev.select(
        "user_id", (us - F.lag(us).over(w)).alias("gap_us")
    )
    return (
        gaps.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_purchases"),
            (
                F.sum("gap_us").cast("double")
                / (F.count(F.lit(1)) - 1).cast("double")
                / F.lit(1_000_000.0)
            ).alias("avg_gap_s"),
        )
        .filter(F.col("n_purchases") >= 2)
    )


@register(
    "approx_distinct_users_daily",
    oracle="""
    SELECT strftime(ts, '%Y-%m-%d') AS day,
           COUNT(*) AS n_events,
           COUNT(DISTINCT user_id) AS dau_exact,
           TRUE AS approx_ok
    FROM events GROUP BY 1
    """,
    tags=("events", "sketch"),
    doc="Daily unique users via HyperLogLog++ (approx_count_distinct, "
    "2% rsd). At 100 TB exact distinct counts force a full shuffle of "
    "the key space; the sketch is map-side mergeable and constant "
    "memory. The raw HLL estimate is engine-specific, so this registry "
    "entry is the sketch's ACCURACY GATE: it emits approx_ok = "
    "|approx − exact| ≤ 5%·exact per day (2.5× the configured rsd), "
    "and the oracle expects TRUE on every row — the hash match is a "
    "driver-visible error-bound proof, not a bit-compare of sketch "
    "internals. Production uses the approx aggregate alone.",
)
def approx_distinct_users_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy(
        F.date_format("ts", "yyyy-MM-dd").alias("day")
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.countDistinct("user_id").alias("dau_exact"),
        (
            F.abs(
                F.approx_count_distinct("user_id", rsd=0.02)
                - F.countDistinct("user_id")
            )
            <= 0.05 * F.countDistinct("user_id")
        ).alias("approx_ok"),
    )


@register(
    "incremental_distinct_hll",
    oracle="""
    SELECT strftime(date_trunc('week', ts), '%Y-%m-%d') AS week,
           COUNT(DISTINCT user_id) AS n_exact,
           TRUE AS within_tol
    FROM events GROUP BY 1
    """,
    tags=("events", "sketch", "incremental"),
    doc="MERGEABLE-sketch incremental distinct: per-DAY Datasketches "
    "HLL sketches (hll_sketch_agg) are unioned (hll_union_agg) into "
    "weekly uniques WITHOUT rescanning the days — the incremental-"
    "view-maintenance story for COUNT DISTINCT, which plain "
    "approx_count_distinct can't give you because its estimate isn't "
    "a persistable, re-mergeable object. At 100 TB each day's sketch "
    "is a few KB written once at ingest; any rollup window (week, "
    "month, trailing 28d) is a union over sketches, not a rescan. "
    "Sketch internals are engine-specific, so per the family's "
    "error-bound pattern the registry row emits the EXACT weekly "
    "count plus a within-5% verdict the oracle expects TRUE.",
)
def incremental_distinct_hll(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    week = F.date_format(F.date_trunc("week", F.col("ts")), "yyyy-MM-dd")
    # ingest-time artifact: one sketch per (week, day) partition
    daily = ev.groupBy(
        week.alias("week"), F.date_format("ts", "yyyy-MM-dd").alias("day")
    ).agg(F.hll_sketch_agg("user_id").alias("sk"))
    # rollup: merge day sketches; never touches the events scan again
    weekly_est = daily.groupBy("week").agg(
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("n_est")
    )
    exact = ev.groupBy(week.alias("week")).agg(
        F.countDistinct("user_id").alias("n_exact")
    )
    return exact.join(weekly_est, "week").select(
        "week",
        "n_exact",
        (
            F.abs(F.col("n_est") - F.col("n_exact"))
            <= 0.05 * F.col("n_exact")
        ).alias("within_tol"),
    )


@register(
    "salted_orderstatus_revenue",
    oracle=f"""
    SELECT o.o_orderstatus,
           CAST(SUM({_SQL_REV}) AS DOUBLE) AS revenue,
           COUNT(*) AS n_items
    FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    GROUP BY o.o_orderstatus
    """,
    tags=("relational", "skew"),
    doc="Skew-proof JOIN: lineitem salted on l_linenumber, orders "
    "replicated across the salt space, joined on (orderkey, salt) — "
    "any hot orderkey spreads over 8 reducers. Oracle is the PLAIN "
    "join+aggregate; salting must not change a single row. "
    "operators/skew.py:salted_join.",
)
def salted_orderstatus_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.skew import salted_join

    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderstatus")
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_extendedprice", "l_discount"
    )
    joined = salted_join(
        li, o, "l_orderkey", "o_orderkey", salt_source=F.col("l_linenumber")
    )
    return joined.groupBy("o_orderstatus").agg(
        F.sum(_rev()).cast("double").alias("revenue"),
        F.count(F.lit(1)).alias("n_items"),
    )


@register(
    "event_type_pivot_daily",
    oracle="""
    SELECT strftime(ts, '%Y-%m-%d') AS day,
           COUNT(*) FILTER (event_type = 'view')     AS view,
           COUNT(*) FILTER (event_type = 'click')    AS click,
           COUNT(*) FILTER (event_type = 'purchase') AS purchase,
           COUNT(*) FILTER (event_type = 'signup')   AS signup,
           COUNT(*) FILTER (event_type = 'error')    AS error
    FROM events GROUP BY 1
    """,
    tags=("events", "pivot"),
    doc="True pivot API with an EXPLICIT value list — pivot without "
    "values forces a driver-side distinct collect over 100 TB before "
    "planning can even start.",
)
def event_type_pivot_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.date_format("ts", "yyyy-MM-dd").alias("day"))
        .pivot("event_type", ["view", "click", "purchase", "signup", "error"])
        .count()
        .na.fill(0)
    )


@register(
    "order_cube_status_priority",
    oracle="""
    SELECT COALESCE(o_orderstatus, 'ALL') AS o_orderstatus,
           COALESCE(o_orderpriority, 'ALL') AS o_orderpriority,
           n_orders,
           total_price
    FROM (
        SELECT o_orderstatus, o_orderpriority,
               COUNT(*) AS n_orders,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                   AS total_price
        FROM orders
        GROUP BY CUBE(o_orderstatus, o_orderpriority)
    )
    """,
    tags=("relational", "rollup"),
    doc="All four grouping combinations (status×priority, status, "
    "priority, grand total) in ONE pass via GROUP BY CUBE — Spark "
    "expands the grouping sets map-side, so lineage reads orders "
    "once instead of four times.",
)
def order_cube_status_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderstatus", "o_orderpriority", "o_totalprice"
    )
    return (
        o.cube("o_orderstatus", "o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(dec("o_totalprice", 2)).cast("double").alias("total_price"),
        )
        .select(
            F.coalesce("o_orderstatus", F.lit("ALL")).alias("o_orderstatus"),
            F.coalesce("o_orderpriority", F.lit("ALL")).alias("o_orderpriority"),
            "n_orders",
            "total_price",
        )
    )


@register(
    "value_percentiles_approx",
    oracle="""
    SELECT event_type,
           CAST(COUNT(value) AS BIGINT) AS n_values,
           TRUE AS p50_ok, TRUE AS p90_ok, TRUE AS p99_ok
    FROM events GROUP BY event_type
    """,
    tags=("events", "sketch"),
    doc="KLL/GK-style approximate percentiles (percentile_approx, "
    "accuracy 10000) of event value per type: mergeable sketches make "
    "this one map-side pass + tiny shuffle at any SF, where exact "
    "order statistics need a full sort per group. Sketch outputs are "
    "engine-specific, so the driver-visible contract is the RANK-ERROR "
    "BOUND: for each quantile q the returned value's rank fraction "
    "must sit within eps = 1e-4 (the sketch guarantee) + 2/n "
    "(discreteness slack) of q, checked two-sided against the data "
    "itself; oracle expects all-TRUE. Raw value accuracy is asserted "
    "in tests/test_sketches.py.",
)
def value_percentiles_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select("event_type", "value")
    pcts = ev.groupBy("event_type").agg(
        F.percentile_approx("value", [0.5, 0.9, 0.99], 10000).alias("pcts")
    )
    joined = ev.join(F.broadcast(pcts), "event_type")
    n = F.count("value").cast("double")
    eps = F.lit(1e-4) + F.lit(2.0) / n
    checks = [("p50_ok", 0.5, 0), ("p90_ok", 0.9, 1), ("p99_ok", 0.99, 2)]
    aggs = [F.count("value").cast("bigint").alias("n_values")]
    for name, q, i in checks:
        p = F.col("pcts")[i]
        frac_lt = F.sum((F.col("value") < p).cast("long")).cast("double") / n
        frac_le = F.sum((F.col("value") <= p).cast("long")).cast("double") / n
        # an all-NULL group has n=0 → eps=Inf and NULL comparisons;
        # the bound is vacuously met, so coalesce to TRUE to match the
        # oracle's hard-coded TRUE columns
        aggs.append(
            F.coalesce(
                (frac_lt - F.lit(q) <= eps) & (F.lit(q) - frac_le <= eps),
                F.lit(True),
            ).alias(name)
        )
    return joined.groupBy("event_type").agg(*aggs)


@register(
    "customer_balance_deciles",
    oracle="""
    WITH ranked AS (
        SELECT c_mktsegment, c_acctbal,
               NTILE(10) OVER (ORDER BY c_acctbal, c_custkey) AS decile
        FROM customer
    )
    SELECT CAST(decile AS BIGINT) AS decile,
           COUNT(*) AS n_customers,
           CAST(MIN(c_acctbal) AS DOUBLE) AS lo,
           CAST(MAX(c_acctbal) AS DOUBLE) AS hi,
           CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE)
               / CAST(COUNT(*) AS DOUBLE) AS avg_bal
    FROM ranked
    GROUP BY decile
    """,
    tags=("relational", "window"),
    doc="Balance decile profile: equal-frequency bands with min/max/"
    "avg per band (oracle: NTILE(10) ordered on (balance, custkey)). "
    "Scale shape (r14): a global NTILE is a ONE-TASK sort of every "
    "customer row at any corpus size (guide §2.5's unsplittable key). "
    "But every output is a function of the BALANCE HISTOGRAM alone — "
    "rows tied on balance are interchangeable (the custkey tie-break "
    "decides WHICH tied rows straddle a decile boundary, never how "
    "many, nor any per-decile min/max/sum, because straddling rows "
    "share one balance). So the plan is one parallel hash aggregate "
    "to (c_acctbal, cnt) — bounded at ~1.1M rows by the "
    "decimal(12,2) domain regardless of corpus size, the "
    "quality_curriculum_buckets precedent — then NTILE's closed-form "
    "bucket boundaries (first n%10 buckets take n/10+1 rows) become "
    "clamped interval overlaps on the cumulative histogram. Sums stay "
    "exact decimal (cnt × decimal(18,2)); the result is bit-identical "
    "to Spark's own NTILE (test-pinned on planted boundary/tie "
    "frames).",
)
def customer_balance_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    return _deciles_histogram(c.select("c_acctbal"))


def _deciles_histogram(c: DataFrame) -> DataFrame:
    """Parallel hash aggregate to the bounded balance histogram +
    closed-form NTILE boundary arithmetic."""
    h = c.groupBy("c_acctbal").agg(
        F.count(F.lit(1)).cast("bigint").alias("cnt")
    )
    wcum = Window.orderBy("c_acctbal").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    hc = h.select(
        "c_acctbal",
        "cnt",
        F.sum("cnt").over(wcum).alias("cum"),
        F.sum("cnt").over(Window.partitionBy()).alias("n"),
    )
    # NTILE(10) bucket d over n rows: size = n div 10 (+1 for the
    # first n mod 10 buckets), start = (d-1)·(n div 10) + min(d-1, n
    # mod 10) + 1 — the SQL-standard closed form both engines share
    d = F.col("decile").cast("bigint")
    base = F.expr("n div 10")
    rem = F.col("n") % 10
    start = (d - 1) * base + F.least(d - 1, rem) + 1
    end = start + base + F.when(d <= rem, 1).otherwise(0) - 1
    cum_before = F.col("cum") - F.col("cnt")
    # rows of this balance-group landing in decile d: clamped overlap
    # of [cum_before+1, cum] with [start, end]
    take = F.greatest(
        F.lit(0).cast("bigint"),
        F.least(F.col("cum"), end) - F.greatest(cum_before + 1, start) + 1,
    )
    hd = (
        hc.select(
            "c_acctbal",
            "cnt",
            "cum",
            "n",
            F.explode(F.sequence(F.lit(1), F.lit(10))).alias("decile"),
        )
        .withColumn("take", take)
        .filter(F.col("take") > 0)
    )
    return hd.groupBy(d.alias("decile")).agg(
        F.sum("take").cast("bigint").alias("n_customers"),
        F.min("c_acctbal").cast("double").alias("lo"),
        F.max("c_acctbal").cast("double").alias("hi"),
        (
            F.sum(F.col("take") * dec("c_acctbal", 2)).cast("double")
            / F.sum("take").cast("double")
        ).alias("avg_bal"),
    )


# percentile_approx accuracy of the two-phase median's band: the band
# holds ~10n/MEDIAN_ACCURACY rows around the median
MEDIAN_ACCURACY = 10000


@register(
    "signup_to_purchase_latency",
    oracle="""
    WITH firsts AS (
        SELECT user_id,
               MIN(epoch_us(ts)) FILTER (event_type = 'signup') AS s_us,
               MIN(epoch_us(ts)) FILTER (event_type = 'purchase') AS p_us
        FROM events GROUP BY user_id
    ),
    conv AS (
        SELECT user_id, (p_us - s_us) AS delta_us
        FROM firsts WHERE s_us IS NOT NULL AND p_us IS NOT NULL
          AND p_us >= s_us
    ),
    ranked AS (
        SELECT delta_us,
               ROW_NUMBER() OVER (ORDER BY delta_us, user_id) AS rn,
               COUNT(*) OVER () AS n
        FROM conv
    )
    SELECT (SELECT COUNT(*) FROM conv) AS n_converted,
           (SELECT CAST(SUM(delta_us) AS DOUBLE) / COUNT(*) / 1000000.0
            FROM conv) AS avg_seconds,
           (SELECT CAST(delta_us AS DOUBLE) / 1000000.0 FROM ranked
            WHERE rn = (n + 1) // 2) AS median_seconds
    """,
    tags=("events", "window"),
    doc="Signup→first-purchase conversion latency: count, mean, and "
    "exact lower-median over integer microsecond deltas (no float "
    "interpolation, rank tie-broken by user). One groupBy with "
    "conditional MINs — not one pass per event type. Scale shape "
    "(r15): the oracle's global ROW_NUMBER median is a ONE-TASK sort "
    "of every converted user at any corpus size (guide §2.5's "
    "unsplittable key), but the median VALUE at rank k is a function "
    "of delta_us alone (rows tied on delta_us are interchangeable — "
    "the user_id tie-break decides which tied ROW holds rank k, never "
    "which VALUE), so the plan is a two-phase exact median: pass 1 "
    "aggregates n/sum plus a percentile_approx band whose rank-error "
    "guarantee (±n/accuracy at accuracy 10000) "
    "provably brackets rank k = (n+1)//2; pass 2 hash-aggregates only "
    "in-band deltas to a bounded value histogram (≤ ~10n/accuracy "
    "rows; below-band rows fold into one sentinel bucket so the "
    "cumulative rank stays exact) and the k-th value is read off the "
    "cumulative histogram. Inputs with n ≤ accuracy skip the band "
    "(whole domain histogrammed) so the bracket never relies on the "
    "sketch at small n. The result is bit-identical to the "
    "row_number median (test-pinned on planted tie/parity frames).",
)
def signup_to_purchase_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    us = F.unix_micros("ts")
    firsts = ev.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "signup", us)).alias("s_us"),
        F.min(F.when(F.col("event_type") == "purchase", us)).alias("p_us"),
    )
    conv = firsts.filter(
        F.col("s_us").isNotNull()
        & F.col("p_us").isNotNull()
        & (F.col("p_us") >= F.col("s_us"))
    ).select("user_id", (F.col("p_us") - F.col("s_us")).alias("delta_us"))
    stats = _two_phase_exact_median(conv, "delta_us", MEDIAN_ACCURACY)
    return stats.select(
        F.col("n").alias("n_converted"),
        (
            F.col("sum_v").cast("double") / F.col("n").cast("double") / 1e6
        ).alias("avg_seconds"),
        (F.col("median_v").cast("double") / 1e6).alias("median_seconds"),
    )


def _two_phase_exact_median(
    df: DataFrame, col: str, accuracy: int
) -> DataFrame:
    """EXACT lower-median (the value at rank k = (n+1)//2 under ASC
    order) of a non-negative integer column, without a corpus-scale
    single-partition sort. Returns a 1-row (n, sum_v, median_v) frame
    (n and sum come along for free — callers derive count/mean from
    the same row), EMPTY when ``df`` is empty (matching the
    oracle's row_number form).

    Pass 1: one parallel aggregate → n, sum, and a percentile_approx
    band [v_lo, v_hi] at quantiles 0.5 ∓ 4/accuracy. The sketch's
    rank-error guarantee (±n/accuracy) puts rank(v_lo) ≤
    (0.5 − 3/accuracy)·n < k and rank(v_hi) ≥ (0.5 + 3/accuracy)·n ≥ k
    whenever n > accuracy, so the band always brackets the true
    median; at n ≤ accuracy the band is bypassed entirely (every
    value histogrammed — bounded by n ≤ accuracy rows), so no small-n
    edge of the guarantee is ever relied on.

    Pass 2: rows below the band collapse into one sentinel bucket
    (−1 — valid because the column is non-negative), rows above the
    band drop, in-band rows hash-aggregate to a (value, cnt)
    histogram bounded at ~10n/accuracy + 2 rows by the same rank
    guarantee. The cumulative count over that bounded histogram is
    exact (the sentinel carries the below-band mass), and the median
    is the smallest value whose cumulative count reaches k. The only
    Window runs over the bounded histogram, never the corpus. The
    1-row stats frame is consumed ONCE (broadcast into pass 2; n and
    sum ride the histogram keys) so the plan aggregates ``df``
    exactly twice — the same pass count as the row_number form.

    Which band percentile_approx returns may vary with partition
    merge order, but any returned band brackets k, so the selected
    median value is deterministic."""
    if accuracy < 100:
        # the bracket proof needs 0.5 - 4/accuracy > 0 with slack;
        # ValueError (not assert) so python -O can't silence it
        raise ValueError(
            f"median accuracy must be >= 100, got {accuracy}"
        )
    margin = 4.0 / accuracy
    stats = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(col).alias("sum_v"),
        F.percentile_approx(
            col, [0.5 - margin, 0.5 + margin], accuracy
        ).alias("band"),
    ).select(
        "n",
        "sum_v",
        F.col("band")[0].alias("v_lo"),
        F.col("band")[1].alias("v_hi"),
    )
    v = F.col(col)
    bucket = (
        F.when(F.col("n") <= accuracy, v)
        .when(v < F.col("v_lo"), F.lit(-1).cast("bigint"))
        .when(v <= F.col("v_hi"), v)
        .otherwise(F.lit(None).cast("bigint"))
    )
    hist = (
        df.select(col)
        .crossJoin(F.broadcast(stats))
        .select(bucket.alias("bucket"), "n", "sum_v")
        .filter(F.col("bucket").isNotNull())
        .groupBy("bucket", "n", "sum_v")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    wcum = Window.orderBy("bucket").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    k = ((F.col("n") + 1) / 2).cast("bigint")
    return (
        hist.select(
            "bucket",
            "n",
            "sum_v",
            k.alias("k"),
            F.sum("cnt").over(wcum).alias("cum"),
        )
        .filter(F.col("cum") >= F.col("k"))
        .agg(
            F.min("bucket").alias("median_v"),
            F.min("n").alias("n"),
            F.min("sum_v").alias("sum_v"),
        )
        .filter(F.col("median_v").isNotNull())
        .select("n", "sum_v", "median_v")
    )


SCD_CHANGE_DAY = "2024-06-01"
SCD_BASE_DAY = "2024-01-01"


PIT_BASE_DAY = "1990-01-01"
PIT_CHANGE_DAY = "1998-06-01"  # inside the orders date range


@register(
    "orders_scd2_pit_join",
    oracle=f"""
    WITH dim AS (
        SELECT c_custkey AS custkey, c_mktsegment AS segment,
               TIMESTAMP '{PIT_BASE_DAY}' AS valid_from,
               CASE WHEN c_custkey % 10 = 0 AND NOT c_custkey % 15 = 0
                    THEN TIMESTAMP '{PIT_CHANGE_DAY}' END AS valid_to
        FROM customer
        UNION ALL
        SELECT c_custkey, 'PROMO', TIMESTAMP '{PIT_CHANGE_DAY}', NULL
        FROM customer
        WHERE c_custkey % 10 = 0 AND NOT c_custkey % 15 = 0
    ),
    pit AS (
        SELECT d.segment, o.o_totalprice
        FROM orders o JOIN dim d
          ON o.o_custkey = d.custkey
         AND o.o_orderdate >= d.valid_from
         AND (d.valid_to IS NULL OR o.o_orderdate < d.valid_to)
    )
    SELECT segment,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
                AS BIGINT) AS revenue_cents
    FROM pit GROUP BY segment ORDER BY segment
    """,
    tags=("relational", "cdc", "selection"),
    doc="Point-in-time join against the SCD2 dimension — the "
    "label-leakage guard every feature/training pipeline needs: each "
    "order joins the segment version VALID AT o_orderdate "
    "(valid_from ≤ d < valid_to), never today's value, so a training "
    "example built from 1997 data cannot see a 1998 segment change "
    "(the same planted dim as scd2_customer_segment, change day "
    "inside the orders range so BOTH version sides carry orders). "
    "Validity ranges partition time, so each order matches exactly "
    "one version; the dim broadcasts (hash join on the key, range "
    "conditions as join residual — at 100 TB a big dim buckets on "
    "the key instead, same plan shape). Exact cent-scale oracle.",
)
def orders_scd2_pit_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.scd import scd2_apply

    cust = load_table(spark, sf_dir, "customer")
    dim = cust.select(
        F.col("c_custkey").alias("custkey"),
        F.col("c_mktsegment").alias("segment"),
        F.lit(PIT_BASE_DAY).alias("valid_from"),
        F.lit(None).cast("string").alias("valid_to"),
        F.lit(True).alias("is_current"),
    )
    changes = cust.filter(F.col("c_custkey") % 10 == 0).select(
        F.col("c_custkey").alias("custkey"),
        F.when(F.col("c_custkey") % 15 == 0, F.col("c_mktsegment"))
        .otherwise(F.lit("PROMO"))
        .alias("new_segment"),
        F.lit(PIT_CHANGE_DAY).alias("change_ts"),
    )
    scd = scd2_apply(dim, changes, "custkey", "segment", "change_ts").select(
        "custkey", "segment",
        F.to_timestamp("valid_from").alias("vf"),
        F.to_timestamp("valid_to").alias("vt"),
    )
    orders = load_table(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderdate", "o_totalprice"
    )
    pit = orders.join(
        F.broadcast(scd),
        (F.col("o_custkey") == F.col("custkey"))
        & (F.col("o_orderdate") >= F.col("vf"))
        & (F.col("vt").isNull() | (F.col("o_orderdate") < F.col("vt"))),
    )
    return (
        pit.groupBy("segment")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_orders"),
            F.sum(
                F.floor(F.col("o_totalprice") * 100 + 0.5).cast("bigint")
            ).cast("bigint").alias("revenue_cents"),
        )
        .orderBy("segment")
    )


@register(
    "scd2_customer_segment",
    oracle=f"""
    WITH dim AS (
        SELECT c_custkey AS custkey, c_mktsegment AS segment FROM customer
    ),
    eff AS (
        -- the change batch targets every 10th customer, but every 30th
        -- carries the SAME segment (a replayed/no-op change): only
        -- genuinely differing values version the row
        SELECT c_custkey AS custkey FROM customer
        WHERE c_custkey % 10 = 0 AND NOT (c_custkey % 15 = 0)
    )
    SELECT d.custkey, d.segment,
           '{SCD_BASE_DAY}' AS valid_from,
           CASE WHEN e.custkey IS NOT NULL THEN '{SCD_CHANGE_DAY}' END
               AS valid_to,
           e.custkey IS NULL AS is_current
    FROM dim d LEFT JOIN eff e USING (custkey)
    UNION ALL
    SELECT custkey, 'PROMO', '{SCD_CHANGE_DAY}', NULL, TRUE FROM eff
    """,
    tags=("relational", "cdc"),
    doc="SCD type-2 dimension maintenance (the warehouse half of a CDC "
    "pipeline): a segment-change batch closes each affected customer's "
    "current version (valid_to = change day) and appends the new "
    "version; no-op changes (new value == current) produce zero "
    "version churn — the idempotency a replayed change stream needs. "
    "One broadcast join + one anti-join, four union branches; on a "
    "lakehouse format this is the MERGE INTO body. "
    "operators/scd.py:scd2_apply.",
)
def scd2_customer_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.scd import scd2_apply

    cust = load_table(spark, sf_dir, "customer")
    dim = cust.select(
        F.col("c_custkey").alias("custkey"),
        F.col("c_mktsegment").alias("segment"),
        F.lit(SCD_BASE_DAY).alias("valid_from"),
        F.lit(None).cast("string").alias("valid_to"),
        F.lit(True).alias("is_current"),
    )
    changes = cust.filter(F.col("c_custkey") % 10 == 0).select(
        F.col("c_custkey").alias("custkey"),
        F.when(F.col("c_custkey") % 15 == 0, F.col("c_mktsegment"))
        .otherwise(F.lit("PROMO"))
        .alias("new_segment"),
        F.lit(SCD_CHANGE_DAY).alias("change_ts"),
    )
    return scd2_apply(dim, changes, "custkey", "segment", "change_ts")


@register(
    "snapshot_diff_orders",
    oracle="""
    WITH base AS (
        SELECT o_orderkey,
               md5(COALESCE(CAST(o_orderstatus AS VARCHAR), '∅') || '|' ||
                   COALESCE(CAST(o_totalprice AS VARCHAR), '∅')) AS h
        FROM orders
    ),
    new_ AS (
        -- surviving keys, with every 31st repriced (+1)
        SELECT o_orderkey,
               md5(COALESCE(CAST(o_orderstatus AS VARCHAR), '∅') || '|' ||
                   COALESCE(CAST(CASE WHEN o_orderkey % 31 = 0
                                      THEN o_totalprice + 1
                                      ELSE o_totalprice END AS VARCHAR),
                            '∅')) AS h
        FROM orders WHERE o_orderkey % 97 <> 0
        UNION ALL
        -- re-keyed inserts
        SELECT o_orderkey + 100000000,
               md5('NEW' || '|' ||
                   COALESCE(CAST(o_totalprice AS VARCHAR), '∅'))
        FROM orders WHERE o_orderkey % 53 = 0
    )
    SELECT status, COUNT(*) AS n_rows FROM (
        SELECT CASE WHEN b.h IS NULL THEN 'added'
                    WHEN n.h IS NULL THEN 'removed'
                    WHEN b.h = n.h THEN 'unchanged'
                    ELSE 'changed' END AS status
        FROM base b FULL OUTER JOIN new_ n USING (o_orderkey)
    ) GROUP BY status
    """,
    tags=("relational", "cdc"),
    doc="Snapshot reconciliation: diff a planted 'new' snapshot of "
    "orders (every 97th key deleted, every 31st repriced, every 53rd "
    "re-keyed as an insert) against the base — per-status row counts "
    "(unchanged/changed/added/removed). Row hashes are computed "
    "map-side so only (key, md5) crosses the full-outer join's "
    "shuffle, never row bodies. operators/reconcile.py:diff_summary.",
)
def snapshot_diff_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.reconcile import diff_summary

    base = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    surviving = base.filter(F.col("o_orderkey") % 97 != 0)
    mutated = surviving.withColumn(
        "o_totalprice",
        F.when(
            F.col("o_orderkey") % 31 == 0, F.col("o_totalprice") + 1
        ).otherwise(F.col("o_totalprice")),
    )
    inserts = base.filter(F.col("o_orderkey") % 53 == 0).select(
        (F.col("o_orderkey") + 100000000).alias("o_orderkey"),
        F.lit("NEW").alias("o_orderstatus"),
        "o_totalprice",
    )
    new = mutated.unionByName(inserts)
    return diff_summary(base, new, ["o_orderkey"])


TRIM_FRACTION = 0.1  # two-sided 10% trim


@register(
    "value_trimmed_stats_by_type",
    oracle=f"""
    WITH ranked AS (
        SELECT event_type, value, event_id,
               ROW_NUMBER() OVER (
                   PARTITION BY event_type ORDER BY value, event_id
               ) AS rn,
               COUNT(*) OVER (PARTITION BY event_type) AS n
        FROM events WHERE value IS NOT NULL
    ),
    bounds AS (
        SELECT *, CAST(floor(n * {TRIM_FRACTION}) AS BIGINT) AS k FROM ranked
    )
    SELECT event_type,
           MAX(n) AS n,
           CAST(SUM(CASE WHEN rn > k AND rn <= n - k
                         THEN CAST(value AS DECIMAL(18,2)) END) AS DOUBLE)
               / CAST(SUM(CASE WHEN rn > k AND rn <= n - k THEN 1 END)
                      AS DOUBLE) AS trimmed_mean,
           CAST(SUM(CAST(
                CASE WHEN rn <= k THEN lo
                     WHEN rn > n - k THEN hi
                     ELSE value END AS DECIMAL(18,2))) AS DOUBLE)
               / CAST(MAX(n) AS DOUBLE) AS winsor_mean
    FROM (
        SELECT *,
               MIN(CASE WHEN rn = k + 1 THEN value END) OVER
                   (PARTITION BY event_type) AS lo,
               MIN(CASE WHEN rn = n - k THEN value END) OVER
                   (PARTITION BY event_type) AS hi
        FROM bounds
    )
    GROUP BY event_type
    """,
    tags=("events", "robust"),
    doc=f"Robust per-type value statistics: two-sided {TRIM_FRACTION:.0%} "
    "TRIMMED mean (drop the k = floor(n·f) smallest and largest rows) "
    "and WINSORIZED mean (clamp them to the k+1-th / (n−k)-th order "
    "statistics) — outlier-resistant aggregates built from exact rank "
    "selection, no interpolation, so both engines agree bit-for-bit. "
    "Scale shape (r14): the oracle's per-type (value, event_id) "
    "ROW_NUMBER window is a one-task-per-type global sort — with ~5 "
    "types the query runs on 5 cores at ANY corpus size. But every "
    "output is a function of the per-type VALUE HISTOGRAM alone: rows "
    "tied on value are interchangeable (the event_id tie-break decides "
    "WHICH tied rows are trimmed, never the trimmed count, the order "
    "statistics, or the decimal sums). So: one parallel hash "
    "aggregate to (type, value, cnt) — map-side partials, shuffle "
    "O(distinct values), which saturates (~18k/type at sf10) — then "
    "rank arithmetic on the bounded histogram. Exact-rank trim counts "
    "per value-group are clamped interval overlaps; sums stay exact "
    "decimal (cnt × decimal(18,2)).",
)
def value_trimmed_stats_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    # parallel corpus pass: per-type value histogram (bounded: distinct
    # `value`s saturate with corpus size, so the window below is NOT
    # corpus-scale)
    h = ev.groupBy("event_type", "value").agg(
        F.count(F.lit(1)).cast("bigint").alias("cnt")
    )
    wcum = (
        Window.partitionBy("event_type")
        .orderBy("value")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wn = Window.partitionBy("event_type")
    hc = h.select(
        "event_type",
        "value",
        "cnt",
        F.sum("cnt").over(wcum).alias("cum"),
        F.sum("cnt").over(wn).alias("n"),
    ).withColumn("k", F.floor(F.col("n") * TRIM_FRACTION).cast("bigint"))
    cum_before = F.col("cum") - F.col("cnt")
    # rows of this value-group falling in the bottom-k / top-k trim:
    # clamped overlap of [cum_before+1, cum] with [1, k] / (n-k, n]
    take_bot = F.greatest(
        F.lit(0).cast("bigint"),
        F.least(F.col("cnt"), F.col("k") - cum_before),
    )
    take_top = F.greatest(
        F.lit(0).cast("bigint"),
        F.least(F.col("cnt"), F.col("k") - (F.col("n") - F.col("cum"))),
    )
    take_core = F.col("cnt") - take_bot - take_top
    agg = hc.groupBy("event_type").agg(
        F.max("n").alias("n"),
        F.max("k").alias("k"),
        F.sum(take_core * dec("value")).alias("core_sum"),
        # order statistics off the cumulative histogram: value at rank
        # k+1 (lo) and rank n-k (hi) = first group whose cum reaches it
        F.min(
            F.when(F.col("cum") >= F.col("k") + 1, F.col("value"))
        ).alias("lo"),
        F.min(
            F.when(F.col("cum") >= F.col("n") - F.col("k"), F.col("value"))
        ).alias("hi"),
    )
    n_core = F.col("n") - F.lit(2) * F.col("k")
    winsor_sum = (
        F.col("core_sum")
        + F.col("k") * dec("lo")
        + F.col("k") * dec("hi")
    )
    return agg.select(
        "event_type",
        "n",
        (F.col("core_sum").cast("double") / n_core.cast("double")).alias(
            "trimmed_mean"
        ),
        (winsor_sum.cast("double") / F.col("n").cast("double")).alias(
            "winsor_mean"
        ),
    )


@register(
    "bloom_prefiltered_revenue",
    oracle=f"""
    SELECT o.o_orderpriority,
           CAST(SUM({_SQL_REV}) AS DOUBLE) AS revenue,
           COUNT(*) AS n_items
    FROM orders o
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE o.o_orderpriority = '1-URGENT'
    GROUP BY o.o_orderpriority
    """,
    tags=("relational", "sketch"),
    doc="Runtime-filter join by hand: a Bloom sketch (xxhash64 "
    "bit-slice positions, broadcast; k=3 semi-join probes "
    "in codegen) of the urgent orders' keys prefilters the lineitem "
    "scan BEFORE the shuffle, and the exact join removes the sketch's "
    "false positives — at 100 TB this is the difference between "
    "shuffling every lineitem row and shuffling ~the matching "
    "fraction. Oracle is the plain join: the sketch must be invisible "
    "in the result. operators/bloom.py.",
)
def bloom_prefiltered_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.bloom import bloom_prefilter

    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") == "1-URGENT"
    ).select("o_orderkey", "o_orderpriority")
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_extendedprice", "l_discount"
    )
    pre = bloom_prefilter(li, o, "l_orderkey", "o_orderkey")
    return (
        pre.join(o, pre.l_orderkey == o.o_orderkey)
        .groupBy("o_orderpriority")
        .agg(
            F.sum(_rev()).cast("double").alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


# Ed-Join input cap: the string-similarity join itself is corpus-linear
# (prefix-filtered inverted index, operators/stringsim.py), but the
# ORACLE verifies it by brute-force Levenshtein, so the registry query
# runs on a deterministic modulus sample pinned to ~this many parts at
# every SF. Completeness/parity on the FULL corpus is asserted against
# brute force in tests/test_stringsim.py.
EDJOIN_SAMPLE_TARGET = 2000


@register(
    "part_name_fuzzy_pairs",
    oracle=f"""
    WITH k AS (
        SELECT GREATEST(1, CAST(COUNT(*) / {EDJOIN_SAMPLE_TARGET} AS BIGINT))
            AS m
        FROM part
    ),
    s AS (
        SELECT p_partkey, p_name FROM part, k WHERE p_partkey % k.m = 0
    ),
    pairs AS (
        SELECT a.p_partkey AS i, b.p_partkey AS j,
               levenshtein(a.p_name, b.p_name) AS d
        FROM s a JOIN s b
          ON a.p_partkey < b.p_partkey
         AND ABS(LENGTH(a.p_name) - LENGTH(b.p_name)) <= 2
    )
    SELECT d AS distance,
           CAST(COUNT(*) AS BIGINT) AS n_pairs,
           CAST(SUM(i * 31 + j) AS BIGINT) AS pair_checksum
    FROM pairs WHERE d <= 2
    GROUP BY d ORDER BY d
    """,
    tags=("advanced", "string-similarity", "dedup"),
    doc="Scalable edit-distance self-join (Ed-Join, Xiao et al. VLDB "
    "2008 — operators/stringsim.py): all part-name pairs within "
    "Levenshtein distance 2, found via q-gram PREFIX FILTERING under "
    "a global rarity order (each string indexes only its d*q+1 rarest "
    "bigrams, so hot grams never enter the inverted-index join), "
    "length-filtered, then verified with Spark's built-in JVM "
    "levenshtein. Exact and complete — a zero-overlap-capable short-"
    "string set is handled by a bounded broadcast cross. The oracle "
    "recomputes the same pairs by brute force on the deterministic "
    "modulus sample; full-corpus parity with brute force is "
    "test-asserted.",
)
def part_name_fuzzy_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.stringsim import edjoin_pairs

    part = load_table(spark, sf_dir, "part")
    n = part.count()  # scalar; fixes the sample modulus at any SF
    m = max(1, n // EDJOIN_SAMPLE_TARGET)
    sample = part.filter(F.col("p_partkey") % m == 0).select(
        F.col("p_partkey").alias("id"), F.col("p_name").alias("text")
    )
    pairs = edjoin_pairs(sample, "id", "text", max_dist=2)
    return (
        pairs.groupBy("distance")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
            F.sum(F.col("id_l") * 31 + F.col("id_r"))
            .cast("bigint")
            .alias("pair_checksum"),
        )
        .orderBy("distance")
    )
