"""§2B — Relational analytics over the star schema (TPC-H-flavored,
adapted to the driver testdata's columns).

Scale posture: region/nation are fixed-size at any SF → always
broadcast; customer/orders/lineitem joins shuffle on their keys with AQE
handling skew; every query filters/projects before joining so parquet
pushdown + pruning hold. All money math is decimal-exact (see
functions/money.py) and emitted as double.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load_table
from ..functions.money import dec, dec_avg, dec_sum
from .registry import register

# revenue = extendedprice * (1 - discount), exact decimal.
# (12,2) * (5,2) → scale-4 decimal: exact in both Spark and DuckDB.
_SQL_REV = (
    "CAST(l_extendedprice AS DECIMAL(12,2))"
    " * (1 - CAST(l_discount AS DECIMAL(4,2)))"
)


def _rev() -> F.Column:
    ext = F.col("l_extendedprice").cast("decimal(12,2)")
    disc = F.col("l_discount").cast("decimal(4,2)")
    return ext * (F.lit(1) - disc)


def _t(spark, sf_dir, name) -> DataFrame:
    return load_table(spark, sf_dir, name)


@register(
    "q1_pricing_summary",
    oracle=f"""
    SELECT l_returnflag, l_linestatus,
           CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_base_price,
           CAST(ROUND(SUM({_SQL_REV}), 2) AS DOUBLE) AS sum_disc_price,
           CAST(ROUND(SUM(CAST({_SQL_REV} AS DECIMAL(18,4))
                    * (1 + CAST(l_tax AS DECIMAL(4,2)))), 2) AS DOUBLE) AS sum_charge,
           CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE)
               / CAST(COUNT(*) AS DOUBLE) AS avg_qty,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE)
               / CAST(COUNT(*) AS DOUBLE) AS avg_price,
           CAST(SUM(CAST(l_discount AS DECIMAL(4,2))) AS DOUBLE)
               / CAST(COUNT(*) AS DOUBLE) AS avg_disc,
           COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '2001-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
    tags=("relational",),
    doc="TPC-H Q1 pricing summary: single-pass partial aggregation over "
    "lineitem, grouped on two low-cardinality flags — map-side combine "
    "shrinks the shuffle to ~6 rows per task regardless of SF.",
)
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    charge = _rev().cast("decimal(18,4)") * (
        F.lit(1) + F.col("l_tax").cast("decimal(4,2)")
    )
    return (
        li.filter(F.col("l_shipdate") <= F.lit("2001-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            dec_sum("l_quantity").alias("sum_qty"),
            dec_sum("l_extendedprice").alias("sum_base_price"),
            # money sums rounded to cents BEFORE the double cast: the
            # exact decimal is identical in both engines, but a scale-6
            # sum at sf>=1 carries 17 significant digits and DuckDB's
            # decimal->double path double-rounds the last ULP; at cent
            # scale the mantissa fits 2^53 and the cast is exact
            F.round(F.sum(_rev()), 2).cast("double").alias("sum_disc_price"),
            F.round(F.sum(charge), 2).cast("double").alias("sum_charge"),
            dec_avg("l_quantity").alias("avg_qty"),
            dec_avg("l_extendedprice").alias("avg_price"),
            dec_avg("l_discount").alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


@register(
    "q3_shipping_priority",
    oracle=f"""
    SELECT o.o_orderkey,
           strftime(o.o_orderdate, '%Y-%m-%d') AS o_orderdate,
           CAST(SUM({_SQL_REV}) AS DOUBLE) AS revenue
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
      AND o.o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
      AND l.l_shipdate  > TIMESTAMP '1998-01-01 00:00:00'
    GROUP BY o.o_orderkey, o.o_orderdate
    ORDER BY SUM({_SQL_REV}) DESC, o.o_orderkey
    LIMIT 10
    """,
    tags=("relational",),
    doc="TPC-H Q3 adaptation: unshipped high-value BUILDING orders. "
    "Filters precede joins (pushdown); ordering ties broken on the "
    "exact decimal revenue + orderkey so LIMIT is deterministic.",
)
def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    cutoff = F.lit("1998-01-01").cast("timestamp")
    c = _t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = _t(spark, sf_dir, "orders").filter(F.col("o_orderdate") < cutoff)
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") > cutoff)
    return (
        c.select("c_custkey")
        .join(o.select("o_orderkey", "o_custkey", "o_orderdate"),
              c.c_custkey == o.o_custkey)
        .join(li.select("l_orderkey", "l_extendedprice", "l_discount"),
              F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("o_orderkey", "o_orderdate")
        .agg(F.sum(_rev()).alias("rev_dec"))
        .orderBy(F.col("rev_dec").desc(), F.col("o_orderkey"))
        .limit(10)
        .select(
            "o_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("o_orderdate"),
            F.col("rev_dec").cast("double").alias("revenue"),
        )
    )


@register(
    "q5_local_supplier_volume",
    oracle=f"""
    SELECT n.n_name,
           CAST(SUM({_SQL_REV}) AS DOUBLE) AS revenue
    FROM region r
    JOIN nation n   ON n.n_regionkey = r.r_regionkey
    JOIN customer c ON c.c_nationkey = n.n_nationkey
    JOIN orders o   ON o.o_custkey = c.c_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
                   AND s.s_nationkey = c.c_nationkey
    WHERE r.r_name = 'ASIA'
      AND o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o.o_orderdate <  TIMESTAMP '1997-01-01 00:00:00'
    GROUP BY n.n_name
    """,
    tags=("relational",),
    doc="TPC-H Q5: local supplier volume in ASIA. region+nation are "
    "fixed-size (5/25 rows) → explicit broadcast; the big "
    "orders⋈lineitem join shuffles on orderkey with AQE.",
)
def q5_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    r = _t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    n = _t(spark, sf_dir, "nation")
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    s = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    o = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    ).select("o_orderkey", "o_custkey")
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_extendedprice", "l_discount"
    )
    asian_nations = F.broadcast(
        n.join(F.broadcast(r), n.n_regionkey == r.r_regionkey).select(
            "n_nationkey", "n_name"
        )
    )
    return (
        c.join(asian_nations, c.c_nationkey == F.col("n_nationkey"))
        .join(o, o.o_custkey == c.c_custkey)
        .join(li, li.l_orderkey == o.o_orderkey)
        .join(s, (s.s_suppkey == li.l_suppkey) & (s.s_nationkey == c.c_nationkey))
        .groupBy("n_name")
        .agg(F.sum(_rev()).cast("double").alias("revenue"))
    )


@register(
    "top_customers_by_revenue",
    oracle=f"""
    SELECT c.c_custkey, c.c_name,
           CAST(SUM({_SQL_REV}) AS DOUBLE) AS revenue
    FROM customer c
    JOIN orders o   ON o.o_custkey = c.c_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    GROUP BY c.c_custkey, c.c_name
    ORDER BY SUM({_SQL_REV}) DESC, c.c_custkey
    LIMIT 10
    """,
    tags=("relational",),
    doc="Top-10 customers by lifetime lineitem revenue. Aggregates "
    "lineitem→orders first (pre-aggregation before the customer join "
    "shrinks the shuffle by ~4× at any SF).",
)
def top_customers_by_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_name")
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_extendedprice", "l_discount"
    )
    per_order = li.groupBy("l_orderkey").agg(F.sum(_rev()).alias("rev_dec"))
    return (
        per_order.join(o, per_order.l_orderkey == o.o_orderkey)
        .groupBy("o_custkey")
        .agg(F.sum("rev_dec").alias("rev_dec"))
        .join(c, F.col("o_custkey") == c.c_custkey)
        .orderBy(F.col("rev_dec").desc(), F.col("c_custkey"))
        .limit(10)
        .select("c_custkey", "c_name", F.col("rev_dec").cast("double").alias("revenue"))
    )


@register(
    "nation_revenue_yearly",
    oracle=f"""
    SELECT n.n_name,
           CAST(year(o.o_orderdate) AS INT) AS order_year,
           CAST(SUM({_SQL_REV}) AS DOUBLE) AS revenue
    FROM nation n
    JOIN customer c ON c.c_nationkey = n.n_nationkey
    JOIN orders o   ON o.o_custkey = c.c_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    GROUP BY n.n_name, year(o.o_orderdate)
    """,
    tags=("relational",),
    doc="Revenue per customer-nation per order year (nation broadcast).",
)
def nation_revenue_yearly(spark: SparkSession, sf_dir: str) -> DataFrame:
    n = F.broadcast(_t(spark, sf_dir, "nation").select("n_nationkey", "n_name"))
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey", "o_orderdate")
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_extendedprice", "l_discount"
    )
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(n, c.c_nationkey == n.n_nationkey)
        .groupBy("n_name", F.year("o_orderdate").cast("int").alias("order_year"))
        .agg(F.sum(_rev()).cast("double").alias("revenue"))
    )


@register(
    "order_priority_counts",
    oracle="""
    SELECT o.o_orderpriority, COUNT(*) AS order_count
    FROM orders o
    WHERE EXISTS (
        SELECT 1 FROM lineitem l
        WHERE l.l_orderkey = o.o_orderkey AND l.l_shipdate > o.o_orderdate
    )
    GROUP BY o.o_orderpriority
    """,
    tags=("relational",),
    doc="TPC-H Q4 adaptation: orders with at least one lineitem shipped "
    "after the order date, counted per priority — a left-semi join, not "
    "a join+distinct (no duplicate blowup to shuffle).",
)
def order_priority_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate", "o_orderpriority"
    )
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    late = o.join(
        li,
        (li.l_orderkey == o.o_orderkey) & (li.l_shipdate > o.o_orderdate),
        "left_semi",
    )
    return late.groupBy("o_orderpriority").agg(F.count(F.lit(1)).alias("order_count"))


@register(
    "part_type_revenue_share",
    oracle=f"""
    WITH per_type AS (
        SELECT p.p_type, SUM({_SQL_REV}) AS rev_dec
        FROM part p
        JOIN lineitem l ON l.l_partkey = p.p_partkey
        GROUP BY p.p_type
    )
    SELECT p_type,
           CAST(rev_dec AS DOUBLE) AS revenue,
           CAST(rev_dec AS DOUBLE) / CAST(SUM(rev_dec) OVER () AS DOUBLE)
               AS revenue_share
    FROM per_type
    """,
    tags=("relational", "window"),
    doc="Revenue share per part type. The unpartitioned window runs over "
    "the already-aggregated per-type frame (6 rows), not raw lineitem.",
)
def part_type_revenue_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = _t(spark, sf_dir, "part").select("p_partkey", "p_type")
    li = _t(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_extendedprice", "l_discount"
    )
    per_type = (
        li.join(p, li.l_partkey == p.p_partkey)
        .groupBy("p_type")
        .agg(F.sum(_rev()).alias("rev_dec"))
    )
    w = Window.partitionBy()
    return per_type.select(
        "p_type",
        F.col("rev_dec").cast("double").alias("revenue"),
        (
            F.col("rev_dec").cast("double")
            / F.sum("rev_dec").over(w).cast("double")
        ).alias("revenue_share"),
    )


@register(
    "customers_above_segment_avg",
    oracle="""
    WITH seg AS (
        SELECT *,
               SUM(CAST(c_acctbal AS DECIMAL(12,2))) OVER (PARTITION BY c_mktsegment) AS seg_sum,
               COUNT(*) OVER (PARTITION BY c_mktsegment) AS seg_n
        FROM customer
    )
    SELECT c_custkey, c_name, c_mktsegment,
           CAST(CAST(c_acctbal AS DECIMAL(12,2)) AS DOUBLE) AS acctbal
    FROM seg
    WHERE CAST(c_acctbal AS DECIMAL(12,2)) * seg_n > seg_sum
    """,
    tags=("relational", "window"),
    doc="Customers with balance above their segment average. The "
    "comparison is cross-multiplied (bal·n > sum) so it stays in exact "
    "decimal arithmetic — no engine-dependent division at the decision "
    "boundary.",
)
def customers_above_segment_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer")
    w = Window.partitionBy("c_mktsegment")
    bal = dec("c_acctbal", 2)
    return (
        c.withColumn("seg_sum", F.sum(bal).over(w))
        .withColumn("seg_n", F.count(F.lit(1)).over(w))
        .filter(bal * F.col("seg_n") > F.col("seg_sum"))
        .select(
            "c_custkey",
            "c_name",
            "c_mktsegment",
            bal.cast("double").alias("acctbal"),
        )
    )


@register(
    "returned_items_report",
    oracle=f"""
    SELECT c.c_custkey, c.c_name, n.n_name,
           CAST(SUM({_SQL_REV}) AS DOUBLE) AS revenue
    FROM customer c
    JOIN nation n   ON n.n_nationkey = c.c_nationkey
    JOIN orders o   ON o.o_custkey = c.c_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE l.l_returnflag = 'R'
    GROUP BY c.c_custkey, c.c_name, n.n_name
    ORDER BY SUM({_SQL_REV}) DESC, c.c_custkey
    LIMIT 20
    """,
    tags=("relational",),
    doc="TPC-H Q10 adaptation: revenue lost to returns per customer. "
    "Return-flag filter is pushed to the lineitem scan; nation "
    "broadcast.",
)
def returned_items_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    n = F.broadcast(_t(spark, sf_dir, "nation").select("n_nationkey", "n_name"))
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_name", "c_nationkey")
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R").select(
        "l_orderkey", "l_extendedprice", "l_discount"
    )
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(n, c.c_nationkey == n.n_nationkey)
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(F.sum(_rev()).alias("rev_dec"))
        .orderBy(F.col("rev_dec").desc(), F.col("c_custkey"))
        .limit(20)
        .select(
            "c_custkey", "c_name", "n_name",
            F.col("rev_dec").cast("double").alias("revenue"),
        )
    )


@register(
    "q7_volume_shipping",
    oracle=f"""
    SELECT cn.n_name AS cust_nation,
           sn.n_name AS supp_nation,
           CAST(year(l.l_shipdate) AS INT) AS ship_year,
           CAST(SUM({_SQL_REV}) AS DOUBLE) AS revenue
    FROM customer c
    JOIN nation cn  ON cn.n_nationkey = c.c_nationkey
    JOIN orders o   ON o.o_custkey = c.c_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
    JOIN nation sn  ON sn.n_nationkey = s.s_nationkey
    WHERE ((cn.n_name = 'NATION_3' AND sn.n_name = 'NATION_7')
        OR (cn.n_name = 'NATION_7' AND sn.n_name = 'NATION_3'))
    GROUP BY cn.n_name, sn.n_name, year(l.l_shipdate)
    """,
    tags=("relational",),
    doc="TPC-H Q7 adaptation: bilateral trade volume between two "
    "nations per ship year. Both nation lookups broadcast; the "
    "nation-pair filter applies before the wide join output exists.",
)
def q7_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    nations = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    cn = F.broadcast(nations.withColumnRenamed("n_name", "cust_nation"))
    sn = F.broadcast(
        nations.select(
            F.col("n_nationkey").alias("s_nkey"),
            F.col("n_name").alias("supp_nation"),
        )
    )
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    s = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_shipdate", "l_extendedprice", "l_discount"
    )
    pair = (
        (F.col("cust_nation") == "NATION_3") & (F.col("supp_nation") == "NATION_7")
    ) | (
        (F.col("cust_nation") == "NATION_7") & (F.col("supp_nation") == "NATION_3")
    )
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(cn, c.c_nationkey == cn.n_nationkey)
        .join(s, li.l_suppkey == s.s_suppkey)
        .join(sn, s.s_nationkey == F.col("s_nkey"))
        .filter(pair)
        .groupBy(
            "cust_nation",
            "supp_nation",
            F.year("l_shipdate").cast("int").alias("ship_year"),
        )
        .agg(F.sum(_rev()).cast("double").alias("revenue"))
    )


@register(
    "q8_market_share",
    oracle=f"""
    WITH region_orders AS (
        SELECT year(o.o_orderdate) AS order_year,
               sn.n_name AS supp_nation,
               SUM({_SQL_REV}) AS rev_dec
        FROM region r
        JOIN nation cn  ON cn.n_regionkey = r.r_regionkey
        JOIN customer c ON c.c_nationkey = cn.n_nationkey
        JOIN orders o   ON o.o_custkey = c.c_custkey
        JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        JOIN supplier s ON s.s_suppkey = l.l_suppkey
        JOIN nation sn  ON sn.n_nationkey = s.s_nationkey
        WHERE r.r_name = 'ASIA'
        GROUP BY 1, 2
    )
    SELECT CAST(order_year AS INT) AS order_year,
           CAST(SUM(CASE WHEN supp_nation = 'NATION_7' THEN rev_dec END)
                AS DOUBLE) AS nation_revenue,
           CAST(SUM(rev_dec) AS DOUBLE) AS total_revenue,
           CAST(COALESCE(SUM(CASE WHEN supp_nation = 'NATION_7'
                                  THEN rev_dec END), 0) AS DOUBLE)
               / CAST(SUM(rev_dec) AS DOUBLE) AS mkt_share
    FROM region_orders
    GROUP BY order_year
    """,
    tags=("relational",),
    doc="TPC-H Q8 adaptation: one supplier nation's share of ASIA "
    "customer revenue per year. The share division happens on exact "
    "decimal sums cast to double — deterministic across engines.",
)
def q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    r = _t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    n = _t(spark, sf_dir, "nation")
    cn = F.broadcast(
        n.join(F.broadcast(r), n.n_regionkey == r.r_regionkey).select(
            F.col("n_nationkey").alias("c_nkey")
        )
    )
    sn = F.broadcast(
        _t(spark, sf_dir, "nation").select(
            F.col("n_nationkey").alias("s_nkey"),
            F.col("n_name").alias("supp_nation"),
        )
    )
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey", "o_orderdate")
    s = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_extendedprice", "l_discount"
    )
    per = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(cn, c.c_nationkey == F.col("c_nkey"))
        .join(s, li.l_suppkey == s.s_suppkey)
        .join(sn, s.s_nationkey == F.col("s_nkey"))
        .groupBy(
            F.year("o_orderdate").cast("int").alias("order_year"),
            "supp_nation",
        )
        .agg(F.sum(_rev()).alias("rev_dec"))
    )
    target = F.sum(F.when(F.col("supp_nation") == "NATION_7", F.col("rev_dec")))
    total = F.sum("rev_dec")
    return per.groupBy("order_year").agg(
        target.cast("double").alias("nation_revenue"),
        total.cast("double").alias("total_revenue"),
        (
            F.coalesce(target, F.lit(0).cast("decimal(38,4)")).cast("double")
            / total.cast("double")
        ).alias("mkt_share"),
    )


@register(
    "q12_priority_by_status",
    oracle="""
    SELECT l.l_linestatus,
           COUNT(*) FILTER (o.o_orderpriority IN ('1-URGENT', '2-HIGH'))
               AS high_priority_count,
           COUNT(*) FILTER (o.o_orderpriority NOT IN ('1-URGENT', '2-HIGH'))
               AS low_priority_count
    FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE l.l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
      AND l.l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
    GROUP BY l.l_linestatus
    """,
    tags=("relational",),
    doc="TPC-H Q12 adaptation: urgent-vs-other order counts per line "
    "status for one ship year (conditional aggregation after a "
    "pushed-down date range).",
)
def q12_priority_by_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority")
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
    ).select("l_orderkey", "l_linestatus")
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("l_linestatus")
        .agg(
            F.count(F.when(high, 1)).alias("high_priority_count"),
            F.count(F.when(~high, 1)).alias("low_priority_count"),
        )
    )


@register(
    "q19_brand_quantity_revenue",
    oracle=f"""
    SELECT CAST(SUM({_SQL_REV}) AS DOUBLE) AS revenue,
           COUNT(*) AS n_items
    FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    WHERE (p.p_brand = 'Brand#1' AND l.l_quantity BETWEEN 1 AND 11)
       OR (p.p_brand = 'Brand#2' AND l.l_quantity BETWEEN 10 AND 20)
       OR (p.p_brand = 'Brand#3' AND l.l_quantity BETWEEN 20 AND 30)
    """,
    tags=("relational",),
    doc="TPC-H Q19 adaptation: disjunctive brand × quantity-band "
    "predicate. The quantity ranges prune at the lineitem scan; the "
    "brand side is a broadcast of a small filtered part subset.",
)
def q19_brand_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = _t(spark, sf_dir, "part").select("p_partkey", "p_brand")
    li = _t(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_quantity", "l_extendedprice", "l_discount"
    )
    cond = (
        ((F.col("p_brand") == "Brand#1") & F.col("l_quantity").between(1, 11))
        | ((F.col("p_brand") == "Brand#2") & F.col("l_quantity").between(10, 20))
        | ((F.col("p_brand") == "Brand#3") & F.col("l_quantity").between(20, 30))
    )
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .filter(cond)
        .agg(
            F.sum(_rev()).cast("double").alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


@register(
    "q18_large_volume_customers",
    oracle="""
    SELECT c.c_custkey, c.c_name, o.o_orderkey,
           strftime(o.o_orderdate, '%Y-%m-%d') AS o_orderdate,
           CAST(SUM(CAST(l.l_quantity AS DECIMAL(12,2))) AS DOUBLE)
               AS total_qty
    FROM customer c
    JOIN orders o   ON o.o_custkey = c.c_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    GROUP BY c.c_custkey, c.c_name, o.o_orderkey, o.o_orderdate
    HAVING SUM(CAST(l.l_quantity AS DECIMAL(12,2))) > 250
    """,
    tags=("relational",),
    doc="TPC-H Q18 adaptation: orders whose total quantity exceeds 250. "
    "Aggregates lineitem per order FIRST (map-side partial sums), "
    "filters on the aggregate, and only then joins orders/customer — "
    "at 100 TB the join input shrinks from every lineitem to the few "
    "qualifying orders.",
)
def q18_large_volume_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum(dec("l_quantity", 2)).alias("qty_dec"))
        .filter(F.col("qty_dec") > 250)
    )
    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderdate"
    )
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_name")
    return (
        big.join(o, big.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .select(
            "c_custkey",
            "c_name",
            "o_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("o_orderdate"),
            F.col("qty_dec").cast("double").alias("total_qty"),
        )
    )


@register(
    "q16_supplier_part_variety",
    oracle="""
    SELECT p.p_brand, p.p_type, CAST(p.p_size AS BIGINT) AS p_size,
           COUNT(DISTINCT l.l_suppkey) AS supplier_cnt
    FROM part p JOIN lineitem l ON l.l_partkey = p.p_partkey
    WHERE p.p_brand <> 'Brand#1'
      AND p.p_size IN (1, 2, 3, 4, 5, 10, 15, 20, 25)
    GROUP BY p.p_brand, p.p_type, p.p_size
    """,
    tags=("relational",),
    doc="TPC-H Q16 adaptation (partsupp absent → lineitem as the "
    "part-supplier bridge): distinct suppliers per brand/type/size. "
    "Distinct aggregation runs as Spark's two-phase expand — partial "
    "distinct on (keys, suppkey) before the final shuffle — so the "
    "wide join output never concentrates on one reducer. Join strategy "
    "left to AQE: the filtered part side is small at test SF but "
    "grows with SF, so no hard-coded broadcast.",
)
def q16_supplier_part_variety(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = (
        _t(spark, sf_dir, "part")
        .filter(
            (F.col("p_brand") != "Brand#1")
            & F.col("p_size").isin(1, 2, 3, 4, 5, 10, 15, 20, 25)
        )
        .select("p_partkey", "p_brand", "p_type", "p_size")
    )
    li = _t(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey")
    return (
        li.join(p, li.l_partkey == p.p_partkey)
        .groupBy(
            "p_brand", "p_type", F.col("p_size").cast("bigint").alias("p_size")
        )
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
    )


@register(
    "q22_dormant_accounts",
    oracle="""
    WITH avg_bal AS (
        SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE)
               / CAST(COUNT(*) AS DOUBLE) AS ab
        FROM customer WHERE c_acctbal > 0
    )
    SELECT n.n_name, COUNT(*) AS numcust,
           CAST(SUM(CAST(c.c_acctbal AS DECIMAL(18,2))) AS DOUBLE)
               AS totacctbal
    FROM customer c
    JOIN nation n ON n.n_nationkey = c.c_nationkey, avg_bal
    WHERE c.c_acctbal > avg_bal.ab
      AND NOT EXISTS (
          SELECT 1 FROM orders o
          WHERE o.o_custkey = c.c_custkey
            AND o.o_orderdate >= TIMESTAMP '2000-09-01 00:00:00'
      )
    GROUP BY n.n_name
    """,
    tags=("relational",),
    doc="TPC-H Q22 adaptation (no phone column → recency instead): "
    "above-average-balance customers with no order since 2000-09-01, "
    "per nation. The global average is one scalar broadcast (no "
    "per-row subquery); the balance filter runs BEFORE the anti-join "
    "so the shuffled side is already pruned; the date filter on "
    "orders is pushed to the scan.",
)
def q22_dormant_accounts(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _t(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey", "c_acctbal"
    )
    avg_row = cust.filter(F.col("c_acctbal") > 0).agg(
        (
            F.sum(dec("c_acctbal", 2)).cast("double")
            / F.count(F.lit(1)).cast("double")
        ).alias("ab")
    )
    recent = (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_orderdate") >= F.lit("2000-09-01").cast("timestamp"))
        .select("o_custkey")
    )
    n = F.broadcast(
        _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    )
    return (
        cust.crossJoin(F.broadcast(avg_row))
        .filter(F.col("c_acctbal") > F.col("ab"))
        .join(recent, cust.c_custkey == recent.o_custkey, "left_anti")
        .join(n, F.col("c_nationkey") == n.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            dec_sum("c_acctbal", 2).alias("totacctbal"),
        )
    )


@register(
    "q6_forecast_revenue",
    oracle="""
    SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
                    * CAST(l_discount AS DECIMAL(4,2))) AS DOUBLE) AS revenue,
           COUNT(*) AS n_items
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
    """,
    tags=("relational",),
    doc="TPC-H Q6: pure scan-side revenue forecast — every predicate "
    "(date range, discount band, quantity cap) pushes to the parquet "
    "scan; no join, one partial-aggregated pass.",
)
def q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
        & F.col("l_discount").between(0.05, 0.07)
        & (F.col("l_quantity") < 24)
    )
    rev = F.col("l_extendedprice").cast("decimal(12,2)") * F.col(
        "l_discount"
    ).cast("decimal(4,2)")
    return li.agg(
        F.sum(rev).cast("double").alias("revenue"),
        F.count(F.lit(1)).alias("n_items"),
    )


@register(
    "q14_promo_revenue_share",
    oracle=f"""
    SELECT CAST(year(l.l_shipdate) AS INT) AS ship_year,
           CAST(SUM(CASE WHEN p.p_type = 'PROMO' THEN {_SQL_REV} END)
                AS DOUBLE) AS promo_revenue,
           CAST(SUM({_SQL_REV}) AS DOUBLE) AS total_revenue,
           CAST(COALESCE(SUM(CASE WHEN p.p_type = 'PROMO'
                                  THEN {_SQL_REV} END), 0) AS DOUBLE)
               * 100.0 / CAST(SUM({_SQL_REV}) AS DOUBLE) AS promo_pct
    FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    GROUP BY year(l.l_shipdate)
    """,
    tags=("relational",),
    doc="TPC-H Q14 adaptation: PROMO parts' share of revenue per ship "
    "year. Conditional decimal sums; the percentage is double math on "
    "exact sums so both engines agree bit-for-bit.",
)
def q14_promo_revenue_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = _t(spark, sf_dir, "part").select("p_partkey", "p_type")
    li = _t(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_shipdate", "l_extendedprice", "l_discount"
    )
    promo = F.sum(F.when(F.col("p_type") == "PROMO", _rev()))
    total = F.sum(_rev())
    return (
        li.join(p, li.l_partkey == p.p_partkey)
        .groupBy(F.year("l_shipdate").cast("int").alias("ship_year"))
        .agg(
            promo.cast("double").alias("promo_revenue"),
            total.cast("double").alias("total_revenue"),
            (
                F.coalesce(promo, F.lit(0).cast("decimal(38,4)")).cast("double")
                * 100.0
                / total.cast("double")
            ).alias("promo_pct"),
        )
    )


@register(
    "q15_top_supplier",
    oracle=f"""
    WITH sup_rev AS (
        SELECT l_suppkey, SUM({_SQL_REV}) AS rev_dec
        FROM lineitem l
        WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
          AND l_shipdate <  TIMESTAMP '1997-04-01 00:00:00'
        GROUP BY l_suppkey
    )
    SELECT s.s_suppkey, s.s_name,
           CAST(r.rev_dec AS DOUBLE) AS total_revenue
    FROM sup_rev r JOIN supplier s ON s.s_suppkey = r.l_suppkey
    WHERE r.rev_dec = (SELECT MAX(rev_dec) FROM sup_rev)
    """,
    tags=("relational",),
    doc="TPC-H Q15: top revenue supplier for one quarter. The max is "
    "taken over exact decimal sums (double max could tie-break "
    "differently); implemented as one aggregation + a window max, so "
    "lineitem is scanned once, not twice.",
)
def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-04-01").cast("timestamp"))
    )
    sup_rev = li.groupBy("l_suppkey").agg(F.sum(_rev()).alias("rev_dec"))
    w = Window.partitionBy()
    top = sup_rev.withColumn("mx", F.max("rev_dec").over(w)).filter(
        F.col("rev_dec") == F.col("mx")
    )
    s = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return top.join(s, top.l_suppkey == s.s_suppkey).select(
        "s_suppkey", "s_name", F.col("rev_dec").cast("double").alias("total_revenue")
    )


@register(
    "q17_small_quantity_revenue",
    oracle="""
    WITH part_avg AS (
        SELECT l_partkey,
               CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE)
                   / CAST(COUNT(*) AS DOUBLE) AS avg_qty
        FROM lineitem GROUP BY l_partkey
    )
    SELECT CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(12,2))) AS DOUBLE)
               / 7.0 AS avg_yearly,
           COUNT(*) AS n_items
    FROM lineitem l
    JOIN part_avg a ON a.l_partkey = l.l_partkey
    WHERE l.l_quantity < 0.2 * a.avg_qty
    """,
    tags=("relational",),
    doc="TPC-H Q17 adaptation: revenue locked in small-quantity orders. "
    "Per-part average quantity is aggregated FIRST (map-side partial), "
    "then joined back on partkey — a self-join against reduced data, "
    "not a correlated subquery per row.",
)
def q17_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_quantity", "l_extendedprice"
    )
    part_avg = li.groupBy("l_partkey").agg(
        (
            F.sum(dec("l_quantity", 2)).cast("double")
            / F.count(F.lit(1)).cast("double")
        ).alias("avg_qty")
    )
    return (
        li.join(part_avg, "l_partkey")
        .filter(F.col("l_quantity") < 0.2 * F.col("avg_qty"))
        .agg(
            (F.sum(dec("l_extendedprice", 2)).cast("double") / 7.0).alias(
                "avg_yearly"
            ),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


@register(
    "q2_min_cost_supplier",
    oracle=f"""
    WITH unit AS (
        SELECT l_partkey, l_suppkey,
               CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE)
                 / CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE)
                 AS unit_price
        FROM lineitem
        JOIN supplier ON s_suppkey = l_suppkey
        JOIN nation ON n_nationkey = s_nationkey
        JOIN region ON r_regionkey = n_regionkey
        WHERE r_name = 'EUROPE'
        GROUP BY l_partkey, l_suppkey),
    ranked AS (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY l_partkey
                                     ORDER BY unit_price, l_suppkey) AS rn
        FROM unit)
    SELECT p_partkey, p_name, s_name, unit_price
    FROM ranked
    JOIN part ON p_partkey = l_partkey
    JOIN supplier ON s_suppkey = l_suppkey
    WHERE rn = 1 AND p_type = 'STANDARD'
    ORDER BY unit_price DESC, p_partkey LIMIT 100
    """,
    tags=("relational",),
    doc="TPC-H Q2 adaptation (no partsupp table): cheapest EUROPE "
    "supplier per STANDARD part by observed unit price. Argmin-per-group "
    "via ROW_NUMBER over the (part, supplier) aggregate — one extra "
    "shuffle on partkey over data already reduced to one row per "
    "(part, supplier); nation/region broadcast.",
)
def q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_suppkey", "l_extendedprice", "l_quantity"
    )
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    eu_supp = (
        s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), F.col("n_regionkey") == r.r_regionkey)
        .select("s_suppkey", "s_name")
    )
    unit = (
        li.join(F.broadcast(eu_supp), li.l_suppkey == F.col("s_suppkey"))
        .groupBy("l_partkey", "l_suppkey")
        .agg(
            (
                F.sum(dec("l_extendedprice", 2)).cast("double")
                / F.sum(dec("l_quantity", 2)).cast("double")
            ).alias("unit_price")
        )
    )
    w = Window.partitionBy("l_partkey").orderBy("unit_price", "l_suppkey")
    best = unit.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") == 1)
    p = _t(spark, sf_dir, "part").filter(F.col("p_type") == "STANDARD")
    return (
        best.join(p, best.l_partkey == p.p_partkey)
        .join(
            F.broadcast(_t(spark, sf_dir, "supplier").select("s_suppkey", "s_name")),
            best.l_suppkey == F.col("s_suppkey"),
        )
        .orderBy(F.col("unit_price").desc(), "p_partkey")
        .limit(100)
        .select("p_partkey", "p_name", "s_name", "unit_price")
    )


@register(
    "q4_late_shipment_priority",
    oracle="""
    SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS order_count
    FROM orders o
    WHERE o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
      AND o_orderdate <  TIMESTAMP '1998-01-01 00:00:00'
      AND EXISTS (SELECT 1 FROM lineitem l
                  WHERE l.l_orderkey = o.o_orderkey
                    AND l.l_shipdate > o.o_orderdate + INTERVAL 90 DAY)
    GROUP BY o_orderpriority ORDER BY o_orderpriority
    """,
    tags=("relational",),
    doc="TPC-H Q4 adaptation (no commit/receipt dates): 1997 orders with "
    "at least one lineitem shipped >90 days after order date, counted by "
    "priority. EXISTS expressed as a left-semi join — lineitem is never "
    "widened or deduplicated, and the date filter on orders is pushed to "
    "the parquet scan.",
)
def q4_late_shipment_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    late = o.join(
        li,
        (F.col("l_orderkey") == F.col("o_orderkey"))
        & (F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 90 DAYS")),
        "left_semi",
    )
    return (
        late.groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
        .orderBy("o_orderpriority")
    )


@register(
    "q9_nation_profit",
    oracle=f"""
    SELECT n_name, CAST(YEAR(o_orderdate) AS BIGINT) AS o_year,
           CAST(SUM(CAST({_SQL_REV} AS DECIMAL(18,4))
                    - CAST(p_retailprice AS DECIMAL(12,2))
                      * CAST(l_quantity AS DECIMAL(12,2))
                      * CAST(0.5 AS DECIMAL(2,1))) AS DOUBLE) AS profit
    FROM lineitem
    JOIN orders ON o_orderkey = l_orderkey
    JOIN part ON p_partkey = l_partkey
    JOIN supplier ON s_suppkey = l_suppkey
    JOIN nation ON n_nationkey = s_nationkey
    WHERE p_name LIKE '%red%'
    GROUP BY n_name, o_year ORDER BY n_name, o_year DESC
    """,
    tags=("relational",),
    doc="TPC-H Q9 adaptation (no partsupp): profit = revenue - 50% of "
    "retail-price cost basis, by supplier nation and order year, for "
    "'red' parts. The p_name filter prunes part BEFORE the join so only "
    "matching partkeys reach the big lineitem join; supplier/nation "
    "broadcast. All money math exact decimal until the final cast.",
)
def q9_nation_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    p = _t(spark, sf_dir, "part").filter(F.col("p_name").like("%red%")).select(
        "p_partkey", "p_retailprice"
    )
    s = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    n = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    cost = (
        F.col("p_retailprice").cast("decimal(12,2)")
        * F.col("l_quantity").cast("decimal(12,2)")
        * F.lit(0.5).cast("decimal(2,1)")
    )
    profit = _rev().cast("decimal(18,4)") - cost
    return (
        li.join(p, li.l_partkey == p.p_partkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .groupBy(
            "n_name", F.year("o_orderdate").cast("bigint").alias("o_year")
        )
        .agg(F.sum(profit).cast("double").alias("profit"))
        .orderBy("n_name", F.col("o_year").desc())
    )


@register(
    "q11_important_parts",
    oracle=f"""
    WITH val AS (SELECT l_partkey, SUM({_SQL_REV}) AS v
                 FROM lineitem GROUP BY l_partkey),
    tot AS (SELECT SUM({_SQL_REV}) AS t FROM lineitem)
    SELECT l_partkey, CAST(v AS DOUBLE) AS part_value
    FROM val, tot
    WHERE v > t * CAST(0.0008 AS DECIMAL(5,4))
    ORDER BY part_value DESC, l_partkey
    """,
    tags=("relational",),
    doc="TPC-H Q11 adaptation: parts whose revenue exceeds 0.08% of "
    "global revenue. The scalar total is a one-row aggregate broadcast "
    "into the HAVING-style filter (no second pass over lineitem per "
    "part); the exact-decimal comparison makes the cut engine-exact.",
)
def q11_important_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_extendedprice", "l_discount"
    )
    val = li.groupBy("l_partkey").agg(F.sum(_rev()).alias("v"))
    tot = li.agg(F.sum(_rev()).alias("t"))
    return (
        val.crossJoin(F.broadcast(tot))
        .filter(F.col("v") > F.col("t") * F.lit(0.0008).cast("decimal(5,4)"))
        .select("l_partkey", F.col("v").cast("double").alias("part_value"))
        .orderBy(F.col("part_value").desc(), "l_partkey")
    )


@register(
    "q13_customer_order_distribution",
    oracle="""
    WITH c_orders AS (
        SELECT c.c_custkey, CAST(COUNT(o.o_orderkey) AS BIGINT) AS c_count
        FROM customer c LEFT JOIN orders o
          ON c.c_custkey = o.o_custkey AND o.o_orderpriority <> '1-URGENT'
        GROUP BY c.c_custkey)
    SELECT c_count, CAST(COUNT(*) AS BIGINT) AS custdist
    FROM c_orders GROUP BY c_count
    ORDER BY custdist DESC, c_count DESC
    """,
    tags=("relational",),
    doc="TPC-H Q13: distribution of non-urgent order counts per "
    "customer, including zero-order customers (left join, filter in the "
    "join condition — a WHERE would silently drop them). Two "
    "aggregations, each over already-reduced data.",
)
def q13_customer_order_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer").select("c_custkey")
    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderpriority"
    )
    per_cust = (
        c.join(
            o,
            (c.c_custkey == o.o_custkey)
            & (F.col("o_orderpriority") != "1-URGENT"),
            "left",
        )
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return (
        per_cust.groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
        .orderBy(F.col("custdist").desc(), F.col("c_count").desc())
    )


@register(
    "q20_excess_availability",
    oracle="""
    WITH widget_parts AS (
        SELECT p_partkey FROM part WHERE p_name LIKE '%widget'
    ),
    sp AS (
        SELECT l_suppkey, l_partkey,
               SUM(CAST(l_quantity AS DECIMAL(18,2))) AS qty_1996
        FROM lineitem
        JOIN widget_parts ON l_partkey = p_partkey
        WHERE l_shipdate >= DATE '1996-01-01'
          AND l_shipdate < DATE '1997-01-01'
        GROUP BY 1, 2
    ),
    ptot AS (SELECT l_partkey, SUM(qty_1996) AS part_qty FROM sp GROUP BY 1),
    dominant AS (
        SELECT l_suppkey, l_partkey, qty_1996
        FROM sp JOIN ptot USING (l_partkey)
        WHERE qty_1996 > 0.5 * part_qty AND qty_1996 > 0
    )
    SELECT s_suppkey, s_name,
           CAST(COUNT(*) AS BIGINT) AS n_parts_dominated,
           CAST(SUM(qty_1996) AS DOUBLE) AS qty_dominated
    FROM dominant JOIN supplier ON l_suppkey = s_suppkey
    GROUP BY 1, 2
    """,
    tags=("relational",),
    doc="TPC-H Q20 adaptation (no partsupp table in this schema, so "
    "availability is re-grounded in shipment flow): suppliers who "
    "shipped more than half of a part's total 1996 volume for the "
    "widget part subset — the nested semi-join over an aggregated "
    "quantity that defines Q20's shape. Plan: one lineitem scan with "
    "the ship-date filter pushed to parquet and the part subset "
    "broadcast-semi-joined, aggregated to (supplier, part), "
    "re-aggregated to part totals (second shuffle is over the already "
    "reduced pair set, not the fact table), dominance filter, then a "
    "broadcast supplier lookup. No correlated subquery anywhere.",
)
def q20_excess_availability(spark: SparkSession, sf_dir: str) -> DataFrame:
    parts = (
        _t(spark, sf_dir, "part")
        .filter(F.col("p_name").endswith("widget"))
        .select("p_partkey")
    )
    li = (
        _t(spark, sf_dir, "lineitem")
        .filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("date"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("date"))
        )
        .select("l_suppkey", "l_partkey", "l_quantity")
        .join(F.broadcast(parts), F.col("l_partkey") == F.col("p_partkey"))
    )
    sp = li.groupBy("l_suppkey", "l_partkey").agg(
        F.sum(dec("l_quantity", 2)).alias("qty_1996")
    )
    ptot = sp.groupBy("l_partkey").agg(F.sum("qty_1996").alias("part_qty"))
    dominant = sp.join(ptot, "l_partkey").filter(
        (F.col("qty_1996") > F.lit(0.5) * F.col("part_qty"))
        & (F.col("qty_1996") > 0)
    )
    s = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        dominant.groupBy("l_suppkey")
        .agg(
            F.count(F.lit(1)).alias("n_parts_dominated"),
            F.sum("qty_1996").cast("double").alias("qty_dominated"),
        )
        .join(F.broadcast(s), F.col("l_suppkey") == F.col("s_suppkey"))
        .select("s_suppkey", "s_name", "n_parts_dominated", "qty_dominated")
    )


@register(
    "q21_sole_late_supplier",
    oracle="""
    WITH li AS (SELECT l.l_orderkey, l.l_suppkey, l.l_shipdate, o.o_orderdate
                FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
                WHERE o.o_orderstatus = 'F'),
    multi AS (SELECT l_orderkey FROM li
              GROUP BY l_orderkey HAVING COUNT(DISTINCT l_suppkey) > 1),
    late AS (SELECT DISTINCT l_orderkey, l_suppkey FROM li
             WHERE l_shipdate > o_orderdate + INTERVAL 60 DAY),
    sole AS (SELECT l_orderkey FROM late
             GROUP BY l_orderkey HAVING COUNT(*) = 1)
    SELECT s_name, CAST(COUNT(*) AS BIGINT) AS numwait
    FROM late
    JOIN multi USING (l_orderkey)
    JOIN sole USING (l_orderkey)
    JOIN supplier ON s_suppkey = l_suppkey
    GROUP BY s_name ORDER BY numwait DESC, s_name
    """,
    tags=("relational",),
    doc="TPC-H Q21 adaptation (lateness = shipped >60d after order "
    "date): suppliers who were the SOLE late shipper on a finished "
    "multi-supplier order. The EXISTS/NOT-EXISTS pair is re-expressed "
    "as two aggregates over the same reduced (order, supplier) set — "
    "every join keys on l_orderkey so AQE can co-partition the chain; "
    "supplier names broadcast at the end.",
)
def q21_sole_late_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = (
        _t(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_suppkey", "l_shipdate")
        .join(
            _t(spark, sf_dir, "orders")
            .filter(F.col("o_orderstatus") == "F")
            .select("o_orderkey", "o_orderdate"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
    )
    multi = (
        li.groupBy("l_orderkey")
        .agg(F.countDistinct("l_suppkey").alias("n_supp"))
        .filter(F.col("n_supp") > 1)
        .select("l_orderkey")
    )
    late = (
        li.filter(
            F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")
        )
        .select("l_orderkey", "l_suppkey")
        .distinct()
    )
    sole = (
        late.groupBy("l_orderkey")
        .agg(F.count(F.lit(1)).alias("n_late"))
        .filter(F.col("n_late") == 1)
        .select("l_orderkey")
    )
    s = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        late.join(multi, "l_orderkey")
        .join(sole, "l_orderkey")
        .join(F.broadcast(s), late.l_suppkey == s.s_suppkey)
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .orderBy(F.col("numwait").desc(), "s_name")
    )
