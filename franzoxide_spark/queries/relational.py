"""Batch relational query surface (SURVEY.md §2.4 Q01-Q22).

All-DataFrame-API, no UDFs: every expression stays JVM-side inside
whole-stage codegen, filters/projections push into the parquet scan, and
Catalyst is free to reorder/broadcast. Money aggregates go through the
exact-decimal helpers in ``functions.numeric`` so results are bit-identical
to the DuckDB oracle (see that module's docstring).

Reference scope note: the reference system (a Kafka->S3 connector,
/root/reference/src) has no relational operators at all — this surface is
the driver-mandated Tier C extension (SURVEY.md §2.3).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from franzoxide_spark.functions.numeric import (
    davg,
    dec,
    dsum,
    sql_davg,
    sql_dec,
    sql_dsum,
)
from franzoxide_spark.queries import register
from franzoxide_spark.tables import fanned_table, table

SHIP_CUTOFF = "1998-09-02"


# --------------------------------------------------------------------------
# Q01 — scan + filter + project (pushdown check)
# --------------------------------------------------------------------------
def q01(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    return li.filter(F.col("l_shipdate") <= F.lit(SHIP_CUTOFF).cast("timestamp")).select(
        "l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice"
    )


Q01_SQL = f"""
SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '{SHIP_CUTOFF}'
"""


# --------------------------------------------------------------------------
# Q02 — hash aggregate + sort (TPC-H Q1 shape)
# --------------------------------------------------------------------------
def q02(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = fanned_table(spark, sf_dir, "lineitem")
    one = F.lit(1).cast("decimal(12,4)")
    disc_price = dec("l_extendedprice") * (one - dec("l_discount"))
    # intermediate cast keeps the three-factor product inside 38 digits in
    # BOTH engines (exact: disc_price has <= 6 integer digits)
    charge = disc_price.cast("decimal(18,8)") * (one + dec("l_tax"))
    return (
        li.filter(F.col("l_shipdate") <= F.lit(SHIP_CUTOFF).cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            dsum(dec("l_quantity"), "sum_qty"),
            dsum(dec("l_extendedprice"), "sum_base_price"),
            dsum(disc_price, "sum_disc_price"),
            dsum(charge, "sum_charge"),
            davg(dec("l_quantity"), "avg_qty"),
            davg(dec("l_extendedprice"), "avg_price"),
            davg(dec("l_discount"), "avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


_DP = f"{sql_dec('l_extendedprice')} * (CAST(1 AS DECIMAL(12,4)) - {sql_dec('l_discount')})"
_CH = f"CAST(({_DP}) AS DECIMAL(18,8)) * (CAST(1 AS DECIMAL(12,4)) + {sql_dec('l_tax')})"
Q02_SQL = f"""
SELECT
  l_returnflag, l_linestatus,
  {sql_dsum(sql_dec("l_quantity"), "sum_qty")},
  {sql_dsum(sql_dec("l_extendedprice"), "sum_base_price")},
  {sql_dsum(_DP, "sum_disc_price")},
  {sql_dsum(_CH, "sum_charge")},
  {sql_davg(sql_dec("l_quantity"), "avg_qty")},
  {sql_davg(sql_dec("l_extendedprice"), "avg_price")},
  {sql_davg(sql_dec("l_discount"), "avg_disc")},
  COUNT(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '{SHIP_CUTOFF}'
GROUP BY l_returnflag, l_linestatus
"""

# --------------------------------------------------------------------------
# Q03 — inner equi-join + aggregate
# --------------------------------------------------------------------------
def q03(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")
    # customer is a broadcastable dim at any SF (TPC-H dims grow linearly but
    # stay tiny next to facts); the hint removes the shuffle on the big side.
    return (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey, "inner")
        .groupBy("c_mktsegment")
        .agg(
            dsum(dec("o_totalprice"), "total_revenue"),
            F.count(F.lit(1)).alias("n_orders"),
        )
    )


Q03_SQL = f"""
SELECT c_mktsegment,
       {sql_dsum(sql_dec("o_totalprice"), "total_revenue")},
       COUNT(*) AS n_orders
FROM orders JOIN customer ON o_custkey = c_custkey
GROUP BY c_mktsegment
"""


# --------------------------------------------------------------------------
# Q04 — multi-join, filter, top-N (TPC-H Q3 shape)
# --------------------------------------------------------------------------
Q04_CUT = "1998-01-01"


def q04(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = table(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit(Q04_CUT).cast("timestamp")
    )
    li = table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit(Q04_CUT).cast("timestamp")
    )
    one = F.lit(1).cast("decimal(12,4)")
    revenue = dec("l_extendedprice") * (one - dec("l_discount"))
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("o_orderkey", "o_orderdate")
        .agg(dsum(revenue, "revenue"))
        .select(
            "o_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("o_orderdate_s"),
            "revenue",
        )
        .orderBy(F.desc("revenue"), "o_orderkey")
        .limit(10)
    )


Q04_SQL = f"""
SELECT o_orderkey,
       strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate_s,
       {sql_dsum(_DP, "revenue")}
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '{Q04_CUT}'
  AND l_shipdate  > TIMESTAMP '{Q04_CUT}'
GROUP BY o_orderkey, o_orderdate
ORDER BY revenue DESC, o_orderkey
LIMIT 10
"""


# --------------------------------------------------------------------------
# Q05 — broadcast join chain through the dim hierarchy
# --------------------------------------------------------------------------
def q05(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    s = table(spark, sf_dir, "supplier")
    n = table(spark, sf_dir, "nation")
    r = table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    one = F.lit(1).cast("decimal(12,4)")
    revenue = dec("l_extendedprice") * (one - dec("l_discount"))
    # Dim chain is broadcast end-to-end: the fact table never shuffles for
    # the joins (only the final small groupBy aggregates exchange).
    return (
        li.join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("n_name")
        .agg(dsum(revenue, "revenue"), F.count(F.lit(1)).alias("n_items"))
    )


Q05_SQL = f"""
SELECT n_name, {sql_dsum(_DP, "revenue")}, COUNT(*) AS n_items
FROM lineitem
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation   ON s_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
GROUP BY n_name
"""


# --------------------------------------------------------------------------
# Q06 — left-semi join (EXISTS)
# --------------------------------------------------------------------------
def q06(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    li = table(spark, sf_dir, "lineitem").filter(F.col("l_quantity") > 49)
    return o.join(li, o.o_orderkey == li.l_orderkey, "left_semi").select(
        "o_orderkey", "o_totalprice"
    )


Q06_SQL = """
SELECT o_orderkey, o_totalprice
FROM orders
WHERE EXISTS (SELECT 1 FROM lineitem
              WHERE l_orderkey = o_orderkey AND l_quantity > 49)
"""


# --------------------------------------------------------------------------
# Q07 — left-anti join (NOT EXISTS)
# --------------------------------------------------------------------------
# Customers with no order after the cutoff ("lapsed customers"): every
# customer key appears in orders in the fixtures, so the cutoff makes the
# anti-join non-vacuous — ~20% of customers qualify at every SF (the
# fixtures' order dates run through 2001-08) — while exercising the same
# left_anti operator.
Q07_CUT = "2000-08-01"


def q07(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") >= F.lit(Q07_CUT).cast("timestamp")
    )
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select(
        "c_custkey", "c_name"
    )


Q07_SQL = f"""
SELECT c_custkey, c_name
FROM customer
WHERE NOT EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey
                    AND o_orderdate >= TIMESTAMP '{Q07_CUT}')
"""


# --------------------------------------------------------------------------
# Q08 — left outer join + null-aware aggregation
# --------------------------------------------------------------------------
def q08(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey", "c_name")
        .agg(
            F.count("o_orderkey").alias("order_count"),
            F.coalesce(F.sum(dec("o_totalprice")).cast("double"), F.lit(0.0)).alias(
                "total_spend"
            ),
        )
    )


Q08_SQL = f"""
SELECT c_custkey, c_name,
       COUNT(o_orderkey) AS order_count,
       COALESCE(CAST(SUM({sql_dec("o_totalprice")}) AS DOUBLE), 0.0) AS total_spend
FROM customer LEFT JOIN orders ON c_custkey = o_custkey
GROUP BY c_custkey, c_name
"""


# --------------------------------------------------------------------------
# Q09 — equi-join with a range (theta) residual condition
# --------------------------------------------------------------------------
def q09(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = table(spark, sf_dir, "part")
    li = table(spark, sf_dir, "lineitem")
    return (
        li.join(
            F.broadcast(p),
            (li.l_partkey == p.p_partkey)
            & (li.l_quantity >= p.p_size - 5)
            & (li.l_quantity <= p.p_size + 5),
        )
        .groupBy("p_brand")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            dsum(dec("l_quantity"), "sum_qty"),
        )
    )


Q09_SQL = f"""
SELECT p_brand, COUNT(*) AS n_items,
       {sql_dsum(sql_dec("l_quantity"), "sum_qty")}
FROM lineitem JOIN part
  ON l_partkey = p_partkey
 AND l_quantity BETWEEN p_size - 5 AND p_size + 5
GROUP BY p_brand
"""


# --------------------------------------------------------------------------
# Q10 — exact distinct aggregation
# --------------------------------------------------------------------------
def q10(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    return o.agg(
        F.countDistinct("o_custkey").alias("n_custkeys"),
        F.count(F.lit(1)).alias("n_orders"),
    )


Q10_SQL = """
SELECT COUNT(DISTINCT o_custkey) AS n_custkeys, COUNT(*) AS n_orders
FROM orders
"""


def q10b(spark: SparkSession, sf_dir: str) -> DataFrame:
    """approx_count_distinct (HLL) — engine-specific sketch, so rows-only:
    the estimate is measured but cannot hash-match another engine's HLL."""
    o = table(spark, sf_dir, "orders")
    return o.agg(F.approx_count_distinct("o_custkey", 0.02).alias("approx_custkeys"))


# --------------------------------------------------------------------------
# Q11 — multi-dimensional grouping: ROLLUP + CUBE + GROUPING SETS
# --------------------------------------------------------------------------
# One registry entry covering all three grouping surfaces (DataFrame
# .rollup, .cube, and SQL GROUPING SETS — Catalyst expands each to the
# same Expand node). Branches are tagged and unioned with an aligned
# schema; the driver's hash covers every branch. (Registered as one query
# because the driver records at most 50 CORRECTNESS rows per round —
# r01 recorded exactly 50 of 54, cutting the last 4 in registration
# order — so the registry is consolidated to 50 without dropping any
# operator.)
def q11(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")
    n = table(spark, sf_dir, "nation")
    joined = o.join(F.broadcast(c), o.o_custkey == c.c_custkey).join(
        F.broadcast(n), c.c_nationkey == n.n_nationkey
    )
    rollup = (
        joined.rollup("n_name", "o_orderpriority")
        .agg(dsum(dec("o_totalprice"), "revenue"), F.count(F.lit(1)).alias("n_orders"))
        .select(
            F.lit("rollup").alias("gset"),
            F.col("n_name").alias("g1"),
            F.col("o_orderpriority").alias("g2"),
            "revenue",
            "n_orders",
        )
    )
    cube = (
        o.cube("o_orderstatus", "o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n_orders"))
        .select(
            F.lit("cube").alias("gset"),
            F.col("o_orderstatus").alias("g1"),
            F.col("o_orderpriority").alias("g2"),
            F.lit(None).cast("double").alias("revenue"),
            "n_orders",
        )
    )
    table(spark, sf_dir, "orders").createOrReplaceTempView("v_orders")
    table(spark, sf_dir, "customer").createOrReplaceTempView("v_customer")
    table(spark, sf_dir, "nation").createOrReplaceTempView("v_nation")
    gsets = spark.sql(
        """
        SELECT 'gsets' AS gset, n_name AS g1, o_orderpriority AS g2,
               CAST(SUM((CAST(FLOOR(CAST(o_totalprice AS DOUBLE) * 10000 + 0.5) AS DECIMAL(12,0)) * CAST(0.0001 AS DECIMAL(5,4)))) AS DOUBLE)
                 AS revenue,
               COUNT(*) AS n_orders
        FROM v_orders
        JOIN v_customer ON o_custkey = c_custkey
        JOIN v_nation   ON c_nationkey = n_nationkey
        GROUP BY GROUPING SETS ((n_name), (o_orderpriority), ())
        """
    )
    return rollup.unionByName(cube).unionByName(gsets)


Q11_SQL = f"""
SELECT 'rollup' AS gset, n_name AS g1, o_orderpriority AS g2,
       {sql_dsum(sql_dec("o_totalprice"), "revenue")},
       COUNT(*) AS n_orders
FROM orders
JOIN customer ON o_custkey = c_custkey
JOIN nation   ON c_nationkey = n_nationkey
GROUP BY ROLLUP (n_name, o_orderpriority)
UNION ALL
SELECT 'cube' AS gset, o_orderstatus AS g1, o_orderpriority AS g2,
       CAST(NULL AS DOUBLE) AS revenue,
       COUNT(*) AS n_orders
FROM orders
GROUP BY CUBE (o_orderstatus, o_orderpriority)
UNION ALL
SELECT 'gsets' AS gset, n_name AS g1, o_orderpriority AS g2,
       {sql_dsum(sql_dec("o_totalprice"), "revenue")},
       COUNT(*) AS n_orders
FROM orders
JOIN customer ON o_custkey = c_custkey
JOIN nation   ON c_nationkey = n_nationkey
GROUP BY GROUPING SETS ((n_name), (o_orderpriority), ())
"""


# --------------------------------------------------------------------------
# Q13 — window functions: ranking (row_number) + analytic (lag/lead)
# --------------------------------------------------------------------------
# Two window specs over the same partition key — Catalyst shares one
# exchange on o_custkey and runs two sorts within it (merged entry; see
# the Q11 consolidation note).
def q13(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    wr = Window.partitionBy("o_custkey").orderBy(F.desc("o_totalprice"), "o_orderkey")
    wd = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("o_orderdate_s"),
        "o_totalprice",
        F.row_number().over(wr).alias("price_rank"),
        F.lag("o_totalprice").over(wd).alias("prev_price"),
        F.lead("o_totalprice").over(wd).alias("next_price"),
    )


Q13_SQL = """
SELECT o_custkey, o_orderkey,
       strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate_s,
       o_totalprice,
       CAST(ROW_NUMBER() OVER wr AS INT) AS price_rank,
       LAG(o_totalprice)  OVER wd AS prev_price,
       LEAD(o_totalprice) OVER wd AS next_price
FROM orders
WINDOW wr AS (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey),
       wd AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
"""


# --------------------------------------------------------------------------
# Q15 — frame window (running sum, exact decimal)
# --------------------------------------------------------------------------
def q15(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    # (l_orderkey, l_linenumber) is NOT unique in the fixtures, so the sort
    # must be totalized for a deterministic running sum. Including
    # l_extendedprice in the key means any rows still tied have equal
    # summands -> the output multiset is order-independent.
    order_cols = ["l_linenumber", "l_extendedprice", "l_partkey", "l_suppkey", "l_quantity"]
    w = (
        Window.partitionBy("l_orderkey")
        .orderBy(*order_cols)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.sum(dec("l_extendedprice")).over(w).cast("double").alias("running_rev"),
    )


Q15_SQL = f"""
SELECT l_orderkey, l_linenumber,
       CAST(SUM({sql_dec("l_extendedprice")}) OVER (
            PARTITION BY l_orderkey
            ORDER BY l_linenumber, l_extendedprice, l_partkey, l_suppkey, l_quantity
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
         AS running_rev
FROM lineitem
"""


# --------------------------------------------------------------------------
# Q16 — global sort + limit (top-100, fully tie-broken)
# --------------------------------------------------------------------------
def q16(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    return (
        li.select("l_orderkey", "l_linenumber", "l_extendedprice")
        .orderBy(F.desc("l_extendedprice"), "l_orderkey", "l_linenumber")
        .limit(100)
    )


Q16_SQL = """
SELECT l_orderkey, l_linenumber, l_extendedprice
FROM lineitem
ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber
LIMIT 100
"""


# --------------------------------------------------------------------------
# Q17 — set operations (union / intersect / except), tagged in one result
# --------------------------------------------------------------------------
def q17(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")
    with_orders = o.select(F.col("o_custkey").alias("c_custkey")).distinct()
    high_bal = c.filter(F.col("c_acctbal") > 5000).select("c_custkey").distinct()
    return (
        with_orders.union(high_bal)
        .distinct()
        .withColumn("op", F.lit("union"))
        .unionByName(with_orders.intersect(high_bal).withColumn("op", F.lit("intersect")))
        .unionByName(with_orders.subtract(high_bal).withColumn("op", F.lit("except")))
    )


Q17_SQL = """
WITH with_orders AS (SELECT DISTINCT o_custkey AS c_custkey FROM orders),
     high_bal    AS (SELECT DISTINCT c_custkey FROM customer WHERE c_acctbal > 5000)
SELECT c_custkey, 'union' AS op
  FROM (SELECT c_custkey FROM with_orders UNION SELECT c_custkey FROM high_bal)
UNION ALL
SELECT c_custkey, 'intersect' AS op
  FROM (SELECT c_custkey FROM with_orders INTERSECT SELECT c_custkey FROM high_bal)
UNION ALL
SELECT c_custkey, 'except' AS op
  FROM (SELECT c_custkey FROM with_orders EXCEPT SELECT c_custkey FROM high_bal)
"""


# --------------------------------------------------------------------------
# Q18 — string functions
# --------------------------------------------------------------------------
def q18(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String + date scalar-function families in ONE single-scan query over
    ``part`` joined to nothing — merged from the former q18 (strings) and
    q19 (dates) to free a registry slot for q43b (the driver records at
    most 50 CORRECTNESS rows; same consolidation as q11/q13). Both
    function families keep full coverage: upper/lower/substring/concat/
    regexp/length over part strings, year/month/quarter/day/trunc/datediff
    over orders dates — one row per order, string funcs applied to the
    order's own text columns."""
    o = fanned_table(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        F.upper("o_orderstatus").alias("status_upper"),
        F.substring("o_orderpriority", 1, 5).alias("prio_pfx"),
        F.concat_ws("#", "o_orderstatus", "o_orderpriority").alias("status_prio"),
        F.regexp_extract("o_orderpriority", "^([0-9]+)", 1).alias("prio_num"),
        F.length("o_orderpriority").alias("prio_len"),
        F.lower("o_orderpriority").alias("prio_lower"),
        F.year("o_orderdate").alias("y"),
        F.month("o_orderdate").alias("m"),
        F.quarter("o_orderdate").alias("q"),
        F.dayofmonth("o_orderdate").alias("d"),
        F.date_format(F.date_trunc("month", "o_orderdate"), "yyyy-MM-dd").alias(
            "month_start"
        ),
        F.datediff(
            F.lit("2000-01-01").cast("date"), F.col("o_orderdate").cast("date")
        ).alias("days_to_2000"),
    )


Q18_SQL = """
SELECT o_orderkey,
       UPPER(o_orderstatus) AS status_upper,
       SUBSTRING(o_orderpriority, 1, 5) AS prio_pfx,
       CONCAT(o_orderstatus, '#', o_orderpriority) AS status_prio,
       regexp_extract(o_orderpriority, '^([0-9]+)', 1) AS prio_num,
       CAST(LENGTH(o_orderpriority) AS INT) AS prio_len,
       LOWER(o_orderpriority) AS prio_lower,
       CAST(year(o_orderdate) AS INT) AS y,
       CAST(month(o_orderdate) AS INT) AS m,
       CAST(quarter(o_orderdate) AS INT) AS q,
       CAST(day(o_orderdate) AS INT) AS d,
       strftime(date_trunc('month', o_orderdate), '%Y-%m-%d') AS month_start,
       CAST(date_diff('day', CAST(o_orderdate AS DATE), DATE '2000-01-01') AS INT)
         AS days_to_2000
FROM orders
"""


# --------------------------------------------------------------------------
# Q20 — math + conditional (CASE bands)
# --------------------------------------------------------------------------
def q20(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Exact fixed-point sums via int64 limbs (q104's technique, measured
    # 0.71 s -> 0.33 s at sf0.1): per row the scale-4 value floor(x*1e4+0.5)
    # is summed as two plain longs (hi = s >> 20, lo = s & (2^20-1)) inside
    # whole-stage codegen — no per-row decimal arithmetic — and the exact
    # Σ = hi·2^20 + lo is rebuilt in decimal on the 3 output rows only.
    # Limb partials stay inside int64 far beyond 100 TB row counts
    # (price scaled < 2^34 -> hi < 2^14/row -> ~2^49 headroom of rows);
    # the result is bit-identical to the dec()/decimal-SUM formulation,
    # which the DuckDB oracle below still uses.
    li = table(spark, sf_dir, "lineitem")
    band = (
        F.when(F.col("l_discount") < 0.03, "low")
        .when(F.col("l_discount") < 0.07, "mid")
        .otherwise("high")
    )
    mask = (1 << 20) - 1

    def limbs(c: str, p: str):
        from franzoxide_spark.functions.numeric import scaled_int

        s = scaled_int(c)
        return [
            F.sum(F.shiftright(s, 20)).alias(f"__{p}_hi"),
            F.sum(s.bitwiseAND(F.lit(mask))).alias(f"__{p}_lo"),
        ]

    def rebuild(p: str) -> Column:
        return F.expr(
            f"cast((cast(__{p}_hi as decimal(38,0)) * 1048576"
            f" + cast(__{p}_lo as decimal(38,0)))"
            f" * cast(0.0001 as decimal(5,4)) as double)"
        )

    agg = (
        li.withColumn("disc_band", band)
        .groupBy("disc_band")
        .agg(
            F.count(F.lit(1)).alias("n"),
            *limbs("l_quantity", "q"),
            *limbs("l_extendedprice", "p"),
            *limbs("l_discount", "d"),
        )
    )
    return agg.select(
        "disc_band",
        "n",
        rebuild("q").alias("sum_qty"),
        F.floor(rebuild("p")).alias("floor_rev"),
        F.round(rebuild("d") / F.col("n"), 3).alias("avg_disc_r3"),
        F.sqrt(rebuild("q")).alias("sqrt_qty"),
    )


Q20_SQL = f"""
SELECT CASE WHEN l_discount < 0.03 THEN 'low'
            WHEN l_discount < 0.07 THEN 'mid'
            ELSE 'high' END AS disc_band,
       COUNT(*) AS n,
       {sql_dsum(sql_dec("l_quantity"), "sum_qty")},
       CAST(FLOOR(CAST(SUM({sql_dec("l_extendedprice")}) AS DOUBLE)) AS BIGINT)
         AS floor_rev,
       ROUND(CAST(SUM({sql_dec("l_discount")}) AS DOUBLE) / COUNT(*), 3)
         AS avg_disc_r3,
       SQRT(CAST(SUM({sql_dec("l_quantity")}) AS DOUBLE)) AS sqrt_qty
FROM lineitem
GROUP BY 1
"""


# --------------------------------------------------------------------------
# Q21 — array functions over the embedding column
# --------------------------------------------------------------------------
def q21(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = table(spark, sf_dir, "embeddings")
    sq = "transform(embedding, x -> cast(x as double) * cast(x as double))"
    return e.select(
        "vec_id",
        F.size("embedding").alias("dim"),
        F.element_at("embedding", 1).cast("double").alias("e0"),
        F.expr(
            f"sqrt(aggregate({sq}, cast(0.0 as double), (acc, x) -> acc + x))"
        ).alias("l2_norm"),
        F.expr(
            "aggregate(slice(embedding, 1, 4), cast(0.0 as double),"
            " (acc, x) -> acc + cast(x as double))"
        ).alias("sum_first4"),
    )


Q21_SQL = """
SELECT vec_id,
       CAST(len(embedding) AS INT) AS dim,
       CAST(embedding[1] AS DOUBLE) AS e0,
       sqrt(list_reduce(
            list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)),
            (acc, x) -> acc + x)) AS l2_norm,
       list_reduce(
            list_transform(embedding[1:4], x -> CAST(x AS DOUBLE)),
            (acc, x) -> acc + x) AS sum_first4
FROM embeddings
"""


# --------------------------------------------------------------------------
# Q22 — JSON extraction + aggregate
# --------------------------------------------------------------------------
def q22(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("int")
    return (
        ev.withColumn("k", k)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("k").alias("sum_k"),
            (F.sum("k").cast("double") / F.count("k")).alias("avg_k"),
            F.min("k").alias("min_k"),
            F.max("k").alias("max_k"),
        )
    )


Q22_SQL = """
SELECT event_type,
       COUNT(*) AS n,
       CAST(SUM(k) AS BIGINT) AS sum_k,
       CAST(SUM(k) AS DOUBLE) / COUNT(k) AS avg_k,
       MIN(k) AS min_k,
       MAX(k) AS max_k
FROM (SELECT event_type, CAST(props->>'k' AS INTEGER) AS k FROM events)
GROUP BY event_type
"""


register("q01_scan_filter_project", q01, Q01_SQL)
register("q02_agg_pricing_summary", q02, Q02_SQL)
register("q03_join_agg_mktsegment", q03, Q03_SQL)
register("q04_multijoin_topn", q04, Q04_SQL)
register("q05_broadcast_dim_chain", q05, Q05_SQL)
register("q06_semi_join_exists", q06, Q06_SQL)
register("q07_anti_join_not_exists", q07, Q07_SQL)
register("q08_left_join_null_agg", q08, Q08_SQL)
register("q09_range_theta_join", q09, Q09_SQL)
register("q10_distinct_exact", q10, Q10_SQL)
# q10b registers in queries/rows_only.py (rows-only entries sit at the
# registry tail so the driver's 50-row CORRECTNESS cap can never cut an
# oracle-checked entry)
register("q11_rollup_cube_gsets", q11, Q11_SQL)
register("q13_window_rank_lag_lead", q13, Q13_SQL)
register("q15_window_running_sum", q15, Q15_SQL)
register("q16_global_sort_limit", q16, Q16_SQL)
register("q17_set_ops", q17, Q17_SQL)
register("q18_string_date_functions", q18, Q18_SQL)
register("q20_math_conditional", q20, Q20_SQL)
register("q21_array_functions", q21, Q21_SQL)
register("q22_json_extract_agg", q22, Q22_SQL)


# --------------------------------------------------------------------------
# Q104 — order-independent table checksum: the operational parity tool
#        for verifying a 100 TB copy/migration/replica without moving
#        the data — both sides compute (n_rows, checksum) and compare
#        two numbers. Row fingerprint = 60-bit md5 of the '|'-joined
#        canonical column rendering (ints/strings/dates only — doubles
#        would need a format contract); the checksum is the EXACT
#        decimal sum of fingerprints, so it is order- and partitioning-
#        independent, fully map-side-combined, one 1-row merge.
# --------------------------------------------------------------------------
_Q104_COLS = ("l_orderkey", "l_linenumber", "l_returnflag", "l_shipdate")


def q104(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Plain pruned scan + guarded repartition, NOT fanned_table (r18):
    # the fanned relation persists the FULL 16-column lineitem, but this
    # checksum consumes 4 columns — at the 10x replica (one ~80 MB file,
    # still under the fan-out's 256 MB gate) the full-width
    # materialization dominated the query 44x over base (slope sweep,
    # OPTIMIZATION_r18.md). The sliver projection rides the round-robin
    # exchange instead (column pruning pushes through repartition), so
    # the hash pass parallelizes without caching anything. Guarded on
    # file count (corpus_stats._fan_out): on a real multi-split table the
    # repartition is a no-op.
    from franzoxide_spark.operators.corpus_stats import _fan_out

    li = _fan_out(table(spark, sf_dir, "lineitem").select(*_Q104_COLS))
    # NULL columns must render identically on both engines: Spark's
    # concat_ws SKIPS nulls while a '||' chain propagates them (md5(NULL)
    # = NULL, so SUM would silently drop the row from the very tool meant
    # to detect divergence) — coalesce to a sentinel on BOTH sides.
    from franzoxide_spark.operators.snapshot import canon_expr_spark

    fp = F.expr(
        f"cast(conv(substr(md5(concat_ws('|', "
        + ", ".join(canon_expr_spark(c) for c in _Q104_COLS)
        + ")), 1, 15), 16, 10) as bigint)"
    )
    # Per-row decimal(38,0) accumulation dominated the old runtime; sum
    # three 20-bit limbs as plain longs instead and rebuild the exact
    # Σv = hi·2^40 + mid·2^20 + lo on the final single row (limb partial
    # sums stay < 2^20·rows, inside int64 up to ~10^12 rows — beyond the
    # 100 TB lineitem row count; the oracle keeps summing v directly and
    # the totals are identical by construction).
    mask = (1 << 20) - 1
    return (
        li.agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(F.shiftright(fp, 40)).alias("__hi"),
            F.sum(F.shiftright(fp, 20).bitwiseAND(F.lit(mask))).alias("__mid"),
            F.sum(fp.bitwiseAND(F.lit(mask))).alias("__lo"),
        )
        .select(
            "n_rows",
            F.expr(
                "cast(cast(__hi as decimal(38,0)) * 1099511627776"
                " + cast(__mid as decimal(38,0)) * 1048576"
                " + cast(__lo as decimal(38,0)) as string)"
            ).alias("checksum"),
        )
    )


from franzoxide_spark.operators.snapshot import canon_expr_duckdb as _canon_dd

_Q104_SQL = f"""
SELECT COUNT(*) AS n_rows,
       CAST(SUM(CAST('0x' || substr(md5(
             {" || '|' || ".join(_canon_dd(c) for c in _Q104_COLS)}
           ), 1, 15) AS BIGINT)) AS VARCHAR) AS checksum
FROM lineitem
"""


register("q104_table_checksum", q104, _Q104_SQL)


# --------------------------------------------------------------------------
# Q106 — output layout planner: the small-files-problem calculator for a
#        partitioned parquet write (the batch face of the A14-A17 object
#        sink). Per month partition of orders: rows, estimated bytes
#        (fixed type widths + actual string lengths — the same estimate
#        a writer's target-file-size knob needs), the file count at a
#        128 KB target, and a skew flag when one partition holds >4x the
#        mean. One map-side-combined aggregation over a bounded
#        partition-key space.
# --------------------------------------------------------------------------
_Q106_TARGET = 131072  # bytes/file; sf0.1-sized stand-in for 512 MB


def q106(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    o = table(spark, sf_dir, "orders")
    # 8B keys/decimals/date + actual string payloads — a planning
    # estimate, not parquet-encoded truth; both engines compute the same
    row_bytes = (
        F.lit(8 * 4)
        + F.length("o_orderstatus")
        + F.length("o_orderpriority")
    )
    per_part = o.groupBy(
        F.date_format("o_orderdate", "yyyy-MM").alias("part")
    ).agg(
        F.count("*").alias("n_rows"),
        F.sum(row_bytes.cast("long")).alias("est_bytes"),
    )
    w = Window.partitionBy()
    mean_rows = F.avg("n_rows").over(w)
    return per_part.select(
        "part",
        F.col("n_rows").cast("int").alias("n_rows"),
        F.col("est_bytes").cast("bigint").alias("est_bytes"),
        F.ceil(F.col("est_bytes") / F.lit(_Q106_TARGET))
        .cast("int")
        .alias("n_files"),
        (F.col("n_rows") > 4 * mean_rows).alias("skewed"),
    )


_Q106_SQL = f"""
WITH per_part AS (
  SELECT strftime(o_orderdate, '%Y-%m') AS part,
         COUNT(*) AS n_rows,
         SUM(CAST(32 + LENGTH(o_orderstatus) + LENGTH(o_orderpriority)
                  AS BIGINT)) AS est_bytes
  FROM orders GROUP BY 1
)
SELECT part, CAST(n_rows AS INT) AS n_rows,
       CAST(est_bytes AS BIGINT) AS est_bytes,
       CAST(CEIL(CAST(est_bytes AS DOUBLE) / {_Q106_TARGET}) AS INT)
         AS n_files,
       n_rows > 4 * AVG(n_rows) OVER () AS skewed
FROM per_part
"""


register("q106_output_layout_plan", q106, _Q106_SQL)


# --------------------------------------------------------------------------
# Q108 — join size estimation from key histograms: |A ⋈ B| computed
#        EXACTLY as Σ_k cA(k)·cB(k) over the two per-key count tables —
#        the planner-side cardinality check that costs two partial
#        aggregations and a count-table join (key-cardinality-sized)
#        instead of materializing the join itself. The number that
#        decides whether tonight's fact-to-fact join is feasible at all.
#        Equality with the real join's COUNT(*) is locked in
#        tests/test_plans.py.
# --------------------------------------------------------------------------
def q108(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    c = table(spark, sf_dir, "customer")
    ca = ev.groupBy(F.col("user_id").alias("__k")).agg(
        F.count("*").alias("__ca")
    )
    cb = c.groupBy(F.col("c_custkey").alias("__k")).agg(
        F.count("*").alias("__cb")
    )
    joined = ca.join(cb, "__k")
    # products in DECIMAL: a hot key with ~50k rows on each side already
    # pushes ca*cb past int32, and bigint·bigint wraps silently in Spark
    # (while duckdb raises) exactly at the pathological scale this
    # operator exists to detect
    prod = F.col("__ca").cast("decimal(19,0)") * F.col("__cb").cast(
        "decimal(19,0)"
    )
    return joined.agg(
        F.sum(prod).cast("bigint").alias("join_rows"),
        F.count("*").cast("int").alias("common_keys"),
        F.max(prod).cast("bigint").alias("max_key_contribution"),
    )


_Q108_SQL = """
WITH ca AS (SELECT user_id AS k, COUNT(*) AS ca FROM events GROUP BY user_id),
cb AS (SELECT c_custkey AS k, COUNT(*) AS cb FROM customer GROUP BY c_custkey)
SELECT CAST(SUM(CAST(ca AS HUGEINT) * cb) AS BIGINT) AS join_rows,
       CAST(COUNT(*) AS INT) AS common_keys,
       CAST(MAX(CAST(ca AS HUGEINT) * cb) AS BIGINT) AS max_key_contribution
FROM ca JOIN cb USING (k)
"""


register("q108_join_size_estimate", q108, _Q108_SQL)


# --------------------------------------------------------------------------
# Q116 — snapshot diff (operators/snapshot.py): row-level added/removed/
#        changed audit between two snapshots — what you run when the q104
#        checksums DISAGREE. The second snapshot is a deterministic
#        perturbation of documents (drop %101 ids, edit %97 texts, add
#        %103 ids shifted) so all three change kinds appear.
# --------------------------------------------------------------------------
_Q116_COLS = ("text", "lang", "source")

# deterministic second snapshot shared by q116 (diff) and q122 (SCD2):
# drop %101 ids (removed), edit %97 texts (changed), add %103 ids shifted
# by 1e6 (added) — same construction on both engines
_Q116_NEW_REL = """(
  SELECT doc_id,
         CASE WHEN doc_id % 97 = 0 THEN text || ' [rev2]' ELSE text END AS text,
         lang, source
  FROM documents WHERE doc_id % 101 <> 0
  UNION ALL
  SELECT doc_id + 10000000 AS doc_id, text, lang, source
  FROM documents WHERE doc_id % 103 = 0
)"""


def _q116_new_snapshot(docs: DataFrame) -> DataFrame:
    kept = docs.filter(F.col("doc_id") % 101 != 0)
    edited = kept.withColumn(
        "text",
        F.when(
            F.col("doc_id") % 97 == 0, F.concat("text", F.lit(" [rev2]"))
        ).otherwise(F.col("text")),
    )
    added = docs.filter(F.col("doc_id") % 103 == 0).withColumn(
        "doc_id", F.col("doc_id") + 10_000_000
    )
    return edited.unionByName(added)


def q116(spark: SparkSession, sf_dir: str) -> DataFrame:
    from franzoxide_spark.operators.snapshot import snapshot_diff

    docs = table(spark, sf_dir, "documents")
    return snapshot_diff(
        docs, _q116_new_snapshot(docs), "doc_id", _Q116_COLS
    )


def _q116_sql() -> str:
    from franzoxide_spark.operators.snapshot import sql_snapshot_diff

    return sql_snapshot_diff("documents", _Q116_NEW_REL, "doc_id", _Q116_COLS)


register("q116_snapshot_diff", q116, _q116_sql())


# --------------------------------------------------------------------------
# Q122 — SCD2 merge (operators/snapshot.py:scd2_merge): dimension
#        version history from two snapshots — old versions close at the
#        new snapshot time when changed/removed, changed/new rows open a
#        current version. Same perturbed snapshot as q116.
# --------------------------------------------------------------------------
def q122(spark: SparkSession, sf_dir: str) -> DataFrame:
    from franzoxide_spark.operators.snapshot import scd2_merge

    docs = table(spark, sf_dir, "documents")
    return scd2_merge(
        docs, _q116_new_snapshot(docs), "doc_id", _Q116_COLS,
        t_old="2024-01-01", t_new="2024-02-01",
    )


def _q122_sql() -> str:
    from franzoxide_spark.operators.snapshot import sql_scd2_merge

    return sql_scd2_merge(
        "documents", _Q116_NEW_REL, "doc_id", _Q116_COLS,
        t_old="2024-01-01", t_new="2024-02-01",
    )


register("q122_scd2_merge", q122, _q122_sql())


# --------------------------------------------------------------------------
# Q118 — blocked record linkage (operators/linkage.py): match parts
#        against a second registry whose names carry a one-letter typo
#        (deterministic perturbation: partkey%5 rows, last letter shifted
#        +1 in the alphabet, id shifted by 1e6). Block on
#        (p_brand, name prefix-4) — candidates only within a block, never
#        all-pairs — verify with levenshtein <= 1. The structured-record
#        face of the dedup family.
# --------------------------------------------------------------------------
def q118(spark: SparkSession, sf_dir: str) -> DataFrame:
    from franzoxide_spark.operators.linkage import blocked_linkage

    p = fanned_table(spark, sf_dir, "part")
    mutated = F.expr(
        "concat(substring(p_name, 1, length(p_name) - 1),"
        " chr((ascii(substring(p_name, length(p_name), 1)) - 97 + 1) % 26"
        " + 97))"
    )
    dirty = p.filter(F.col("p_partkey") % 5 == 0).select(
        (F.col("p_partkey") + 1_000_000).alias("cand_id"),
        mutated.alias("p_name"),
        "p_brand",
    )
    base = p.select("p_partkey", "p_name", "p_brand")
    withblk = lambda df: df.withColumn("__pfx", F.substring("p_name", 1, 4))
    return blocked_linkage(
        withblk(base),
        withblk(dirty),
        id_left="p_partkey",
        id_right="cand_id",
        block_cols=("p_brand", "__pfx"),
        compare_col="p_name",
        max_dist=1,
    )


_Q118_SQL = """
WITH dirty AS (
  SELECT p_partkey + 1000000 AS cand_id,
         substr(p_name, 1, length(p_name) - 1)
           || chr((ascii(substr(p_name, length(p_name), 1)) - 97 + 1) % 26
                  + 97) AS p_name,
         p_brand
  FROM part WHERE p_partkey % 5 = 0
)
SELECT b.p_partkey, d.cand_id,
       CAST(levenshtein(b.p_name, d.p_name) AS INT) AS dist
FROM part b JOIN dirty d
  ON b.p_brand = d.p_brand
 AND substr(b.p_name, 1, 4) = substr(d.p_name, 1, 4)
WHERE levenshtein(b.p_name, d.p_name) <= 1
"""


register("q118_record_linkage", q118, _Q118_SQL)


# --------------------------------------------------------------------------
# Q123 — z-order (Morton) clustering key (operators/layout.py): the
#        write-side half of two-dimensional data skipping — interleave
#        customer and order-day bits so a (customer-range, date-range)
#        box predicate maps to a contiguous z-range and parquet min/max
#        stats prune to few files. Pure integer bit math, map-side.
# --------------------------------------------------------------------------
def q123(spark: SparkSession, sf_dir: str) -> DataFrame:
    from franzoxide_spark.operators.layout import zorder_value

    o = table(spark, sf_dir, "orders")
    day = F.datediff(
        F.col("o_orderdate").cast("date"), F.lit("1992-01-01").cast("date")
    ).cast("long")
    return o.select(
        "o_orderkey",
        zorder_value(F.col("o_custkey"), day, bits=16).alias("zval"),
    )


def _q123_sql() -> str:
    from franzoxide_spark.operators.layout import sql_zorder_value

    day = "date_diff('day', DATE '1992-01-01', CAST(o_orderdate AS DATE))"
    return f"""
SELECT o_orderkey, {sql_zorder_value('o_custkey', f'({day})', 16)} AS zval
FROM orders
"""


register("q123_zorder_curve", q123, _q123_sql())


# --------------------------------------------------------------------------
# Q128 — data-contract validation (operators/contracts.py): the
#        declarative admission gate (dbt-tests shape) — not-null,
#        uniqueness, accepted values, range, referential integrity, and
#        a free-form predicate, evaluated into one violations report.
#        Row-local rules fold into ONE aggregate pass; unique adds one
#        key shuffle; the FK check is one anti-join.
# --------------------------------------------------------------------------
def q128(spark: SparkSession, sf_dir: str) -> DataFrame:
    from franzoxide_spark.operators import contracts as c

    # r17 fan-out audit: REVERTED to the plain scans — bench-protocol
    # A/B on the r17 host measured plain 0.61-0.95 s vs fanned
    # 0.96-2.56 s (the contract checks are cheap codegen aggregates, so
    # materializing the full 16-column lineitem relation costs more
    # than the parallelism it buys; the q155/q86 revert class)
    li = table(spark, sf_dir, "lineitem")
    orders = table(spark, sf_dir, "orders")
    rules = [
        c.not_null("l_orderkey"),
        c.unique("l_orderkey", "l_linenumber"),
        c.accepted_values("l_returnflag", ["A", "N", "R"]),
        c.in_range("l_discount", 0.0, 0.1),
        c.foreign_key("l_orderkey", orders, "o_orderkey"),
        c.expression("positive_quantity", "l_quantity > 0"),
    ]
    return c.validate_contracts(li, rules)


_Q128_SQL = """
SELECT 'not_null(l_orderkey)' AS rule,
       CAST(SUM(CASE WHEN l_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_violations,
       SUM(CASE WHEN l_orderkey IS NULL THEN 1 ELSE 0 END) = 0 AS passed
FROM lineitem
UNION ALL
SELECT 'unique(l_orderkey,l_linenumber)',
       CAST(COALESCE(SUM(GREATEST(n - 1, 0)), 0) AS BIGINT),
       COALESCE(SUM(GREATEST(n - 1, 0)), 0) = 0
FROM (SELECT COUNT(*) AS n FROM lineitem GROUP BY l_orderkey, l_linenumber)
UNION ALL
SELECT 'accepted_values(l_returnflag)',
       CAST(SUM(CASE WHEN l_returnflag IS NULL
                       OR l_returnflag NOT IN ('A', 'N', 'R')
                     THEN 1 ELSE 0 END) AS BIGINT),
       SUM(CASE WHEN l_returnflag IS NULL
                  OR l_returnflag NOT IN ('A', 'N', 'R')
                THEN 1 ELSE 0 END) = 0
FROM lineitem
UNION ALL
SELECT 'in_range(l_discount)',
       CAST(SUM(CASE WHEN l_discount IS NULL OR l_discount < 0.0
                       OR l_discount > 0.1 THEN 1 ELSE 0 END) AS BIGINT),
       SUM(CASE WHEN l_discount IS NULL OR l_discount < 0.0
                  OR l_discount > 0.1 THEN 1 ELSE 0 END) = 0
FROM lineitem
UNION ALL
SELECT 'foreign_key(l_orderkey)',
       CAST(COUNT(*) AS BIGINT),
       COUNT(*) = 0
FROM lineitem li
WHERE l_orderkey IS NOT NULL
  AND NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_orderkey = li.l_orderkey)
UNION ALL
SELECT 'positive_quantity',
       CAST(SUM(CASE WHEN NOT COALESCE(l_quantity > 0, FALSE)
                     THEN 1 ELSE 0 END) AS BIGINT),
       SUM(CASE WHEN NOT COALESCE(l_quantity > 0, FALSE)
                THEN 1 ELSE 0 END) = 0
FROM lineitem
"""


register("q128_data_contracts", q128, _Q128_SQL)


# --------------------------------------------------------------------------
# Q130 — CDC changelog apply (operators/cdc.py): materialize table state
#        from an insert/update/delete log — highest sequence wins, delete
#        winners vanish, co-sequenced deletes beat updates. The changelog
#        is synthesized from orders deterministically: every order gets
#        an I, %3 ids an U with a bumped price, %11 ids a trailing D.
# --------------------------------------------------------------------------
def q130(spark: SparkSession, sf_dir: str) -> DataFrame:
    from franzoxide_spark.operators.cdc import cdc_apply

    o = table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice", "o_orderstatus"
    )
    ins = o.select(
        "o_orderkey", F.lit("I").alias("op"), F.lit(1).alias("seq"),
        "o_totalprice", "o_orderstatus",
    )
    # exact-decimal bump: a double ROUND(x*1.1, 2) lands on genuine 2-dp
    # ties where Spark rounds HALF_UP and DuckDB half-even (observed
    # flapping at sf0.01) — decimal multiply is exact on both engines
    bump = (dec("o_totalprice") * F.lit("1.1").cast("decimal(2,1)")).cast(
        "double"
    )
    upd = o.filter(F.col("o_orderkey") % 3 == 0).select(
        "o_orderkey", F.lit("U").alias("op"), F.lit(2).alias("seq"),
        bump.alias("o_totalprice"),
        F.lit("U").alias("o_orderstatus"),
    )
    dels = o.filter(F.col("o_orderkey") % 11 == 0).select(
        "o_orderkey", F.lit("D").alias("op"), F.lit(3).alias("seq"),
        F.lit(None).cast("double").alias("o_totalprice"),
        F.lit(None).cast("string").alias("o_orderstatus"),
    )
    log = ins.unionByName(upd).unionByName(dels)
    return cdc_apply(log, "o_orderkey", "seq")


def _q130_sql() -> str:
    from franzoxide_spark.operators.cdc import sql_cdc_apply

    rel = f"""(
  SELECT o_orderkey, 'I' AS op, 1 AS seq, o_totalprice, o_orderstatus
  FROM orders
  UNION ALL
  SELECT o_orderkey, 'U', 2,
         CAST({sql_dec('o_totalprice')} * CAST(1.1 AS DECIMAL(2,1)) AS DOUBLE), 'U'
  FROM orders WHERE o_orderkey % 3 = 0
  UNION ALL
  SELECT o_orderkey, 'D', 3, NULL, NULL
  FROM orders WHERE o_orderkey % 11 = 0
)"""
    return sql_cdc_apply(
        rel, "o_orderkey", "seq", ["o_totalprice", "o_orderstatus"]
    )


register("q130_cdc_apply", q130, _q130_sql())


# --------------------------------------------------------------------------
# Q131 — nested round-trip: lineitems COLLECT into a per-order sorted
#        struct array (the document-store export shape) and INLINE back
#        out; the oracle is the flat relation itself, so a hash match
#        proves nest/unnest is lossless — including the fixture's
#        duplicate (orderkey, linenumber) pairs, which a map-keyed
#        nesting would silently collapse.
# --------------------------------------------------------------------------
def q131(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Plain pruned scan, NOT fanned_table (r18): this roundtrip consumes
    # 3 of lineitem's 16 columns, and the fanned relation persists all
    # of them. Three shapes A/B'd interleaved at sf0.1 AND the 10x
    # replica (min-of-4, noop sink): plain 0.81/5.20 s, sliver+guarded
    # repartition 1.07/6.36, fanned 1.45/9.81 — the orderkey groupBy
    # exchange is the fan-out, and anything added before it only pays.
    li = table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_quantity"
    )
    nested = li.groupBy("l_orderkey").agg(
        F.sort_array(
            F.collect_list(F.struct("l_linenumber", "l_quantity"))
        ).alias("items")
    )
    return nested.select("l_orderkey", F.inline("items"))


_Q131_SQL = """
SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem
"""


register("q131_nested_roundtrip", q131, _Q131_SQL)


# --------------------------------------------------------------------------
# Q133 — top-N + OTHER rollup: the reporting staple — per nation, the
#        top-3 customers by exact-decimal revenue stay named and the
#        long tail folds into one OTHER row, so the result is bounded at
#        (N+1) x |nations| regardless of customer count. Rank ties
#        cannot flap: revenue is exact decimal and the tie-break is the
#        key itself.
# --------------------------------------------------------------------------
def q133(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")
    n = table(spark, sf_dir, "nation")
    per_cust = (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("n_name", "c_custkey")
        .agg(F.sum(dec("o_totalprice")).alias("__rev"))
    )
    w = Window.partitionBy("n_name").orderBy(
        F.desc("__rev"), F.asc("c_custkey")
    )
    labeled = per_cust.withColumn("__rk", F.row_number().over(w)).select(
        "n_name",
        F.when(F.col("__rk") <= 3, F.col("c_custkey").cast("string"))
        .otherwise(F.lit("OTHER"))
        .alias("who"),
        "__rev",
    )
    return labeled.groupBy("n_name", "who").agg(
        F.sum("__rev").cast("double").alias("revenue"),
        F.count(F.lit(1)).alias("n_customers"),
    )


_Q133_SQL = f"""
WITH per_cust AS (
  SELECT n_name, c_custkey, SUM({sql_dec("o_totalprice")}) AS rev
  FROM orders
  JOIN customer ON o_custkey = c_custkey
  JOIN nation ON c_nationkey = n_nationkey
  GROUP BY n_name, c_custkey
),
ranked AS (
  SELECT *, row_number() OVER (
    PARTITION BY n_name ORDER BY rev DESC, c_custkey ASC
  ) AS rk
  FROM per_cust
)
SELECT n_name,
       CASE WHEN rk <= 3 THEN CAST(c_custkey AS VARCHAR)
            ELSE 'OTHER' END AS who,
       CAST(SUM(rev) AS DOUBLE) AS revenue,
       COUNT(*) AS n_customers
FROM ranked
GROUP BY 1, 2
"""


register("q133_topn_plus_other", q133, _Q133_SQL)


# --------------------------------------------------------------------------
# Q135 — row quarantine (operators/contracts.py:quarantine_split): the
#        dead-letter face of q128 — each failing row tagged with the
#        row-local rules it violates (comma-joined in rule order), good
#        rows pass through untouched. One scan, map-side only.
# --------------------------------------------------------------------------
def q135(spark: SparkSession, sf_dir: str) -> DataFrame:
    from franzoxide_spark.operators import contracts as c

    li = table(spark, sf_dir, "lineitem")
    rules = [
        c.in_range("l_discount", 0.0, 0.05),
        c.accepted_values("l_returnflag", ["A", "N"]),
        c.expression("small_quantity", "l_quantity <= 30"),
    ]
    _good, bad = c.quarantine_split(li, rules)
    return bad.select("l_orderkey", "l_linenumber", "violated")


_Q135_SQL = """
WITH tagged AS (
  SELECT l_orderkey, l_linenumber,
         concat_ws(',',
           CASE WHEN l_discount IS NULL OR l_discount < 0.0
                  OR l_discount > 0.05 THEN 'in_range(l_discount)' END,
           CASE WHEN l_returnflag IS NULL
                  OR l_returnflag NOT IN ('A', 'N')
                THEN 'accepted_values(l_returnflag)' END,
           CASE WHEN NOT COALESCE(l_quantity <= 30, FALSE)
                THEN 'small_quantity' END
         ) AS violated
  FROM lineitem
)
SELECT l_orderkey, l_linenumber, violated FROM tagged WHERE violated <> ''
"""


register("q135_row_quarantine", q135, _Q135_SQL)


# --------------------------------------------------------------------------
# Q147 — TPC-H Q5 shape (local supplier volume): the 6-table join with
#        the cross-dimension residual c_nationkey = s_nationkey — the
#        classic join-REORDERING benchmark. The fact tables join on their
#        keys (one shuffle pair); region/nation/customer/supplier all
#        enter broadcast, and the nation equality is a residual on the
#        broadcast side, so Catalyst is free to pick the order. Exact-
#        decimal revenue; full-year 1996 ASIA slice.
# --------------------------------------------------------------------------
_Q147_LO, _Q147_HI = "1996-01-01", "1997-01-01"


def q147(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    o = table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit(_Q147_LO).cast("timestamp"))
        & (F.col("o_orderdate") < F.lit(_Q147_HI).cast("timestamp"))
    )
    c = table(spark, sf_dir, "customer")
    s = table(spark, sf_dir, "supplier")
    n = table(spark, sf_dir, "nation")
    r = table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    one = F.lit(1).cast("decimal(12,4)")
    revenue = dec("l_extendedprice") * (one - dec("l_discount"))
    return (
        li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(c), F.col("o_custkey") == F.col("c_custkey"))
        .join(
            F.broadcast(s),
            (F.col("l_suppkey") == F.col("s_suppkey"))
            & (F.col("c_nationkey") == F.col("s_nationkey")),
        )
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy("n_name")
        .agg(dsum(revenue, "revenue"))
        .orderBy(F.desc("revenue"), "n_name")
    )


_Q147_SQL = f"""
SELECT n_name, {sql_dsum(_DP, "revenue")}
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
JOIN nation   ON s_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
  AND o_orderdate >= TIMESTAMP '{_Q147_LO}'
  AND o_orderdate <  TIMESTAMP '{_Q147_HI}'
GROUP BY n_name
ORDER BY revenue DESC, n_name
"""


register("q147_tpch_local_volume", q147, _Q147_SQL)


# --------------------------------------------------------------------------
# Q148 — TPC-H Q17 shape (correlated aggregate subquery): revenue of
#        lineitems whose quantity is below 20% of their part's average.
#        The aggregate-then-rejoin decorrelation: the per-part average is
#        ONE map-side-combined aggregation over the same key the fact
#        join uses, so both sides share the l_partkey exchange (no
#        per-row subquery execution anywhere). The Brand filter enters
#        broadcast.
# --------------------------------------------------------------------------
def q148(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    p = table(spark, sf_dir, "part").filter(F.col("p_brand") == "Brand#1")
    # the per-part average only depends on that part's own rows, and only
    # Brand#1 parts survive the fact join — so the broadcast semi-join
    # prunes ~96% of the aggregation input BEFORE the l_partkey exchange
    # (guide §3.2: reduce the big side before shuffling it) while leaving
    # every surviving key's avg_qty bit-identical
    avg_q = (
        li.join(
            F.broadcast(p.select("p_partkey")),
            F.col("l_partkey") == F.col("p_partkey"),
            "left_semi",
        )
        .groupBy(F.col("l_partkey").alias("__pk"))
        .agg(davg(dec("l_quantity"), "avg_qty"))
    )
    return (
        li.join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .join(avg_q, F.col("l_partkey") == F.col("__pk"))
        .filter(F.col("l_quantity").cast("double") < 0.2 * F.col("avg_qty"))
        .agg(
            F.count(F.lit(1)).cast("int").alias("n_lines"),
            dsum(dec("l_extendedprice"), "total_price"),
        )
    )


_Q148_SQL = f"""
WITH avg_q AS (
  SELECT l_partkey AS pk, {sql_davg(sql_dec("l_quantity"), "avg_qty")}
  FROM lineitem GROUP BY l_partkey
)
SELECT CAST(COUNT(*) AS INT) AS n_lines,
       {sql_dsum(sql_dec("l_extendedprice"), "total_price")}
FROM lineitem
JOIN part ON l_partkey = p_partkey
JOIN avg_q ON l_partkey = pk
WHERE p_brand = 'Brand#1'
  AND CAST(l_quantity AS DOUBLE) < 0.2 * avg_qty
"""


register("q148_tpch_avg_quantity_gate", q148, _Q148_SQL)


# --------------------------------------------------------------------------
# Q154 — point-in-time join against an SCD2 dimension history
#        (operators/snapshot.py: pit_join): customers get a synthetic
#        two-version history (every third customer migrates segment on
#        1998-01-01); each order joins the version valid AT ITS ORDER
#        DATE — the leak-free feature-backfill pattern (joining the
#        current snapshot instead would time-travel future attributes
#        onto past facts). Equi-join on custkey + validity residual,
#        dimension broadcast; exactly one version matches per order
#        (half-open bounds), verified by the oracle's total.
# --------------------------------------------------------------------------
_Q154_CHANGE = "1998-01-01"


def q154(spark: SparkSession, sf_dir: str) -> DataFrame:
    from franzoxide_spark.operators.snapshot import pit_join

    c = table(spark, sf_dir, "customer")
    lo, hi, chg = "1990-01-01", "9999-01-01", _Q154_CHANGE
    migrates = F.col("c_custkey") % 3 == 0
    hist = c.select(
        "c_custkey",
        F.explode(
            F.when(
                migrates,
                F.array(
                    F.struct(
                        F.col("c_mktsegment").alias("segment"),
                        F.lit(lo).alias("valid_from"),
                        F.lit(chg).alias("valid_to"),
                    ),
                    F.struct(
                        F.lit("MIGRATED").alias("segment"),
                        F.lit(chg).alias("valid_from"),
                        F.lit(hi).alias("valid_to"),
                    ),
                ),
            ).otherwise(
                F.array(
                    F.struct(
                        F.col("c_mktsegment").alias("segment"),
                        F.lit(lo).alias("valid_from"),
                        F.lit(hi).alias("valid_to"),
                    )
                )
            )
        ).alias("v"),
    ).select(
        "c_custkey",
        "v.segment",
        F.col("v.valid_from").cast("timestamp").alias("valid_from"),
        F.col("v.valid_to").cast("timestamp").alias("valid_to"),
    )
    o = table(spark, sf_dir, "orders").select("o_custkey", "o_orderdate")
    joined = pit_join(
        o,
        F.broadcast(hist.withColumnRenamed("c_custkey", "o_custkey")),
        "o_custkey",
        "o_orderdate",
    )
    return joined.groupBy("segment").agg(
        F.count(F.lit(1)).cast("int").alias("n_orders")
    )


_Q154_SQL = f"""
WITH hist AS (
  SELECT c_custkey, c_mktsegment AS segment,
         TIMESTAMP '1990-01-01' AS valid_from,
         CASE WHEN c_custkey % 3 = 0 THEN TIMESTAMP '{_Q154_CHANGE}'
              ELSE TIMESTAMP '9999-01-01' END AS valid_to
  FROM customer
  UNION ALL
  SELECT c_custkey, 'MIGRATED',
         TIMESTAMP '{_Q154_CHANGE}', TIMESTAMP '9999-01-01'
  FROM customer WHERE c_custkey % 3 = 0
)
SELECT segment, CAST(COUNT(*) AS INT) AS n_orders
FROM orders JOIN hist
  ON o_custkey = c_custkey
 AND o_orderdate >= valid_from AND o_orderdate < valid_to
GROUP BY segment
"""


register("q154_pit_scd2_join", q154, _Q154_SQL)


# --------------------------------------------------------------------------
# Q169 — cascade-delete propagation audit (GDPR/right-to-be-forgotten
#        shape): given a deterministic deletion list of customers, the
#        per-table ledger of what an erasure job would remove — direct
#        rows (customer), key-joined rows (orders via o_custkey, events
#        via user_id), and TRANSITIVELY affected rows (lineitem via the
#        orderkeys of deleted orders). The report a compliance pipeline
#        runs BEFORE the destructive pass, and the verification query it
#        runs after. Completes the governance family next to q103/q51
#        (PII) and q144 (k-anonymity).
#
#        Scale shape: the deletion list is key-cardinality-bounded and
#        BROADCASTS into left-semi probes of each fact table — one scan
#        per audited table, no fact-fact shuffle; the lineitem hop
#        broadcasts the (bounded) affected-orderkey set, never joins
#        lineitem x orders.
# --------------------------------------------------------------------------
_Q169_MOD = 101  # every 101st customer key is on the deletion list


def q169(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders")
    li = table(spark, sf_dir, "lineitem")
    ev = table(spark, sf_dir, "events")
    dele = c.filter(F.col("c_custkey") % _Q169_MOD == 0).select(
        F.col("c_custkey").alias("__k")
    )
    del_orders = o.join(
        F.broadcast(dele), o["o_custkey"] == F.col("__k"), "left_semi"
    ).select(F.col("o_orderkey").alias("__ok"))

    # one scan + broadcast semi probe per audited table; the 1-row total
    # and delete counts meet in a broadcast cross of single rows
    audits = [
        ("customer", c, "c_custkey", dele, "__k"),
        ("orders", o, "o_custkey", dele, "__k"),
        ("lineitem", li, "l_orderkey", del_orders, "__ok"),
        ("events", ev, "user_id", dele, "__k"),
    ]
    out = None
    for name, df, key, probe, probe_key in audits:
        row = (
            df.join(F.broadcast(probe), df[key] == F.col(probe_key), "left_semi")
            .agg(F.count(F.lit(1)).alias("n_delete"))
            .crossJoin(F.broadcast(df.agg(F.count(F.lit(1)).alias("n_total"))))
            .select(F.lit(name).alias("table_name"), "n_total", "n_delete")
        )
        out = row if out is None else out.unionAll(row)
    return out.select(
        "table_name",
        F.col("n_total").cast("bigint").alias("n_total"),
        F.col("n_delete").cast("bigint").alias("n_delete"),
        F.round(F.col("n_delete") / F.col("n_total"), 6).alias("delete_frac"),
    )


_Q169_SQL = f"""
WITH dele AS (
  SELECT c_custkey AS k FROM customer WHERE c_custkey % {_Q169_MOD} = 0
),
del_orders AS (
  SELECT o_orderkey FROM orders SEMI JOIN dele ON o_custkey = k
)
SELECT 'customer' AS table_name,
       CAST((SELECT COUNT(*) FROM customer) AS BIGINT) AS n_total,
       CAST(COUNT(*) AS BIGINT) AS n_delete,
       ROUND(CAST(COUNT(*) AS DOUBLE)
             / (SELECT COUNT(*) FROM customer), 6) AS delete_frac
FROM customer SEMI JOIN dele ON c_custkey = k
UNION ALL
SELECT 'orders',
       CAST((SELECT COUNT(*) FROM orders) AS BIGINT),
       CAST(COUNT(*) AS BIGINT),
       ROUND(CAST(COUNT(*) AS DOUBLE) / (SELECT COUNT(*) FROM orders), 6)
FROM orders SEMI JOIN dele ON o_custkey = k
UNION ALL
SELECT 'lineitem',
       CAST((SELECT COUNT(*) FROM lineitem) AS BIGINT),
       CAST(COUNT(*) AS BIGINT),
       ROUND(CAST(COUNT(*) AS DOUBLE) / (SELECT COUNT(*) FROM lineitem), 6)
FROM lineitem SEMI JOIN del_orders ON l_orderkey = o_orderkey
UNION ALL
SELECT 'events',
       CAST((SELECT COUNT(*) FROM events) AS BIGINT),
       CAST(COUNT(*) AS BIGINT),
       ROUND(CAST(COUNT(*) AS DOUBLE) / (SELECT COUNT(*) FROM events), 6)
FROM events SEMI JOIN dele ON user_id = k
"""


register("q169_delete_propagation_audit", q169, _Q169_SQL)
