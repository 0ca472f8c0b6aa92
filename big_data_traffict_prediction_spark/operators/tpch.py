"""TPC-H-style relational workload over the driver's star schema.

The reference never joins more than a dict lookup; these queries are
the generic-relational completion of the operator surface (multi-way
joins, grouped pricing aggregates, top-k per group) and double as the
bench workload at sf0.1 — the shapes Catalyst must get right at 100 TB
(broadcast dims, partial aggs, TakeOrderedAndProject).

Money math note: every aggregated double goes through FLOOR(x*10^4)
→ BIGINT ("fixed-point", compat.py) so sums are exact integers and
cross-engine reproducible; the final division back to a double is
deterministic. Mirrors the published TPC-H queries (public spec), not
any reference code.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..registry import register
from ..tables import load_table

SCALE = 10_000  # 4 fixed-point digits

REV_SQL = f"CAST(FLOOR(l_extendedprice * (1 - l_discount) * {SCALE}) AS BIGINT)"
CHARGE_SQL = (
    f"CAST(FLOOR(l_extendedprice * (1 - l_discount) * (1 + l_tax) * {SCALE}) AS BIGINT)"
)


def _rev_col() -> F.Column:
    return F.floor(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * SCALE
    ).cast("long")


def _charge_col() -> F.Column:
    return F.floor(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * (1 + F.col("l_tax")) * SCALE
    ).cast("long")


Q1_CUTOFF = "1998-09-02"


@register(
    oracle=f"""
SELECT l_returnflag, l_linestatus,
       CAST(SUM(CAST(FLOOR(l_quantity * {SCALE}) AS BIGINT)) AS BIGINT) AS sum_qty_fp,
       CAST(SUM(CAST(FLOOR(l_extendedprice * {SCALE}) AS BIGINT)) AS BIGINT) AS sum_base_fp,
       CAST(SUM({REV_SQL}) AS BIGINT) AS sum_disc_fp,
       CAST(SUM({CHARGE_SQL}) AS BIGINT) AS sum_charge_fp,
       CAST(SUM(CAST(FLOOR(l_quantity * {SCALE}) AS BIGINT)) AS DOUBLE) / {SCALE} / COUNT(*) AS avg_qty,
       CAST(SUM(CAST(FLOOR(l_extendedprice * {SCALE}) AS BIGINT)) AS DOUBLE) / {SCALE} / COUNT(*) AS avg_price,
       CAST(SUM(CAST(FLOOR(l_discount * {SCALE}) AS BIGINT)) AS DOUBLE) / {SCALE} / COUNT(*) AS avg_disc,
       COUNT(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '{Q1_CUTOFF} 00:00:00'
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
""",
)
def q_tpch_q1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 pricing summary: one scan, 8 aggregates, partial+final
    hash agg; the filter pushes to the parquet scan."""
    li = load_table(spark, sf_dir, "lineitem")
    qty_fp = F.floor(F.col("l_quantity") * SCALE).cast("long")
    base_fp = F.floor(F.col("l_extendedprice") * SCALE).cast("long")
    disc_fp = F.floor(F.col("l_discount") * SCALE).cast("long")
    n = F.count(F.lit(1))
    return (
        li.filter(F.col("l_shipdate") <= F.lit(f"{Q1_CUTOFF} 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(qty_fp).cast("long").alias("sum_qty_fp"),
            F.sum(base_fp).cast("long").alias("sum_base_fp"),
            F.sum(_rev_col()).cast("long").alias("sum_disc_fp"),
            F.sum(_charge_col()).cast("long").alias("sum_charge_fp"),
            (F.sum(qty_fp).cast("double") / SCALE / n).alias("avg_qty"),
            (F.sum(base_fp).cast("double") / SCALE / n).alias("avg_price"),
            (F.sum(disc_fp).cast("double") / SCALE / n).alias("avg_disc"),
            n.alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


Q3_SEGMENT = "BUILDING"
Q3_DATE = "1997-06-01"


@register(
    oracle=f"""
SELECT l_orderkey,
       CAST(SUM({REV_SQL}) AS BIGINT) AS revenue_fp,
       o_orderdate, o_orderpriority
FROM customer
JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
WHERE c_mktsegment = '{Q3_SEGMENT}'
  AND o_orderdate < TIMESTAMP '{Q3_DATE} 00:00:00'
  AND l_shipdate > TIMESTAMP '{Q3_DATE} 00:00:00'
GROUP BY l_orderkey, o_orderdate, o_orderpriority
ORDER BY revenue_fp DESC, l_orderkey
LIMIT 10
""",
)
def q_tpch_q3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shipping priority: filtered customer dim broadcasts
    into orders, lineitem joins on the (already shuffled) orderkey;
    top-10 plans as TakeOrderedAndProject. Tie-break on l_orderkey."""
    cust = (
        load_table(spark, sf_dir, "customer")
        .filter(F.col("c_mktsegment") == Q3_SEGMENT)
        .select("c_custkey")
    )
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit(f"{Q3_DATE} 00:00:00").cast("timestamp")
    )
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit(f"{Q3_DATE} 00:00:00").cast("timestamp")
    )
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(F.sum(_rev_col()).cast("long").alias("revenue_fp"))
        .select("l_orderkey", "revenue_fp", "o_orderdate", "o_orderpriority")
        .orderBy(F.desc("revenue_fp"), F.asc("l_orderkey"))
        .limit(10)
    )


Q5_REGION = "ASIA"


@register(
    oracle=f"""
SELECT n_name,
       CAST(SUM({REV_SQL}) AS BIGINT) AS revenue_fp
FROM customer
JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
JOIN nation ON s_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
WHERE r_name = '{Q5_REGION}'
GROUP BY n_name
ORDER BY revenue_fp DESC, n_name
""",
)
def q_tpch_q5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 local-supplier volume: five joins; nation/region/
    supplier are KB-sized → broadcast; only customer⨝orders⨝lineitem
    shuffles, and AQE coalesces the tail."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region").filter(F.col("r_name") == Q5_REGION)
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(
            F.broadcast(supp),
            (li.l_suppkey == supp.s_suppkey) & (cust.c_nationkey == supp.s_nationkey),
        )
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("n_name")
        .agg(F.sum(_rev_col()).cast("long").alias("revenue_fp"))
        .orderBy(F.desc("revenue_fp"), F.asc("n_name"))
    )


TOP_PARTS_K = 3


@register(
    oracle=f"""
SELECT p_brand, p_name, revenue_fp, CAST(rn AS BIGINT) AS brand_rank
FROM (
  SELECT p_brand, p_name, revenue_fp,
         ROW_NUMBER() OVER (PARTITION BY p_brand ORDER BY revenue_fp DESC, p_name) AS rn
  FROM (
    SELECT p_brand, p_name, CAST(SUM({REV_SQL}) AS BIGINT) AS revenue_fp
    FROM lineitem JOIN part ON l_partkey = p_partkey
    GROUP BY p_brand, p_name
  )
)
WHERE rn <= {TOP_PARTS_K}
ORDER BY p_brand, brand_rank
""",
)
def q_top_parts_per_brand(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-K revenue parts per brand: broadcast dim join + grouped agg
    + ranking window (the canonical top-k-per-group shape)."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    rev = (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .groupBy("p_brand", "p_name")
        .agg(F.sum(_rev_col()).cast("long").alias("revenue_fp"))
    )
    w = Window.partitionBy("p_brand").orderBy(F.desc("revenue_fp"), F.asc("p_name"))
    return (
        rev.withColumn("brand_rank", F.row_number().over(w).cast("long"))
        .filter(F.col("brand_rank") <= TOP_PARTS_K)
        .select("p_brand", "p_name", "revenue_fp", "brand_rank")
        .orderBy("p_brand", "brand_rank")
    )


Q6_DATE_LO = "1996-01-01"
Q6_DATE_HI = "1997-01-01"
Q6_DISC_LO, Q6_DISC_HI = 0.05, 0.07
Q6_QTY = 24


@register(
    oracle=f"""
SELECT CAST(SUM(CAST(FLOOR(l_extendedprice * l_discount * {SCALE}) AS BIGINT)) AS BIGINT) AS revenue_fp,
       COUNT(*) AS n_items
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '{Q6_DATE_LO} 00:00:00'
  AND l_shipdate < TIMESTAMP '{Q6_DATE_HI} 00:00:00'
  AND l_discount BETWEEN {Q6_DISC_LO} AND {Q6_DISC_HI}
  AND l_quantity < {Q6_QTY}
""",
)
def q_tpch_q6(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 forecasting-revenue change: pure filter+agg — every
    predicate pushes to the parquet scan (shipdate range prunes row
    groups via min/max), one partial+final agg, zero joins."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit(f"{Q6_DATE_LO} 00:00:00").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit(f"{Q6_DATE_HI} 00:00:00").cast("timestamp"))
            & (F.col("l_discount").between(Q6_DISC_LO, Q6_DISC_HI))
            & (F.col("l_quantity") < Q6_QTY)
        )
        .agg(
            F.sum(
                F.floor(F.col("l_extendedprice") * F.col("l_discount") * SCALE).cast("long")
            )
            .cast("long")
            .alias("revenue_fp"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


Q10_DATE_LO = "1996-10-01"
Q10_DATE_HI = "1997-01-01"
Q10_TOPK = 20


@register(
    oracle=f"""
SELECT c_custkey, c_name, revenue_fp, c_acctbal, n_name, c_mktsegment
FROM (
  SELECT c_custkey, c_name, CAST(SUM({REV_SQL}) AS BIGINT) AS revenue_fp,
         c_acctbal, n_name, c_mktsegment
  FROM customer
  JOIN orders ON c_custkey = o_custkey
  JOIN lineitem ON l_orderkey = o_orderkey
  JOIN nation ON c_nationkey = n_nationkey
  WHERE o_orderdate >= TIMESTAMP '{Q10_DATE_LO} 00:00:00'
    AND o_orderdate < TIMESTAMP '{Q10_DATE_HI} 00:00:00'
    AND l_returnflag = 'R'
  GROUP BY c_custkey, c_name, c_acctbal, n_name, c_mktsegment
)
ORDER BY revenue_fp DESC, c_custkey
LIMIT {Q10_TOPK}
""",
)
def q_tpch_q10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 returned-item reporting: lineitem filtered to returns
    joins shuffled orders, the customer dim rides a broadcast, nation
    broadcast; top-20 is TakeOrderedAndProject with c_custkey
    tie-break."""
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit(f"{Q10_DATE_LO} 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit(f"{Q10_DATE_HI} 00:00:00").cast("timestamp"))
    )
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name", "c_mktsegment")
        .agg(F.sum(_rev_col()).cast("long").alias("revenue_fp"))
        .select("c_custkey", "c_name", "revenue_fp", "c_acctbal", "n_name", "c_mktsegment")
        .orderBy(F.desc("revenue_fp"), F.asc("c_custkey"))
        .limit(Q10_TOPK)
    )


Q14_DATE_LO = "1996-09-01"
Q14_DATE_HI = "1996-10-01"


@register(
    oracle=f"""
SELECT CAST(100.0 * SUM(CASE WHEN p_type LIKE 'PROMO%' THEN {REV_SQL} ELSE 0 END) AS DOUBLE)
       / CAST(SUM({REV_SQL}) AS DOUBLE) AS promo_revenue_pct,
       CAST(SUM(CASE WHEN p_type LIKE 'PROMO%' THEN {REV_SQL} ELSE 0 END) AS BIGINT) AS promo_fp,
       CAST(SUM({REV_SQL}) AS BIGINT) AS total_fp
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE l_shipdate >= TIMESTAMP '{Q14_DATE_LO} 00:00:00'
  AND l_shipdate < TIMESTAMP '{Q14_DATE_HI} 00:00:00'
""",
)
def q_tpch_q14(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 promo revenue: conditional aggregation over a
    broadcast part join — the CASE lives in the agg, one pass."""
    part = load_table(spark, sf_dir, "part")
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit(f"{Q14_DATE_LO} 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit(f"{Q14_DATE_HI} 00:00:00").cast("timestamp"))
    )
    promo = F.sum(
        F.when(F.col("p_type").like("PROMO%"), _rev_col()).otherwise(F.lit(0))
    ).cast("long")
    total = F.sum(_rev_col()).cast("long")
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .agg(
            (F.lit(100.0) * promo.cast("double") / total.cast("double")).alias(
                "promo_revenue_pct"
            ),
            promo.alias("promo_fp"),
            total.alias("total_fp"),
        )
    )


Q18_QTY = 180.0
Q18_TOPK = 20


@register(
    oracle=f"""
SELECT c_custkey, c_name, o_orderkey, o_orderdate,
       CAST(FLOOR(o_totalprice * {SCALE}) AS BIGINT) AS totalprice_fp,
       CAST(FLOOR(total_qty * {SCALE}) AS BIGINT) AS total_qty_fp
FROM (
  SELECT l_orderkey, SUM(l_quantity) AS total_qty
  FROM lineitem GROUP BY l_orderkey
  HAVING SUM(l_quantity) > {Q18_QTY}
) big
JOIN orders ON big.l_orderkey = orders.o_orderkey
JOIN customer ON o_custkey = c_custkey
ORDER BY totalprice_fp DESC, o_orderkey
LIMIT {Q18_TOPK}
""",
)
def q_tpch_q18(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 large-volume customers: grouped HAVING over lineitem
    finds big orders (tiny result), which then drives broadcast joins
    into orders and customer — the fact table shuffles once, on its
    natural key."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("total_qty"))
        .filter(F.col("total_qty") > Q18_QTY)
    )
    return (
        orders.join(F.broadcast(big), orders.o_orderkey == big.l_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .select(
            "c_custkey",
            "c_name",
            "o_orderkey",
            "o_orderdate",
            F.floor(F.col("o_totalprice") * SCALE).cast("long").alias("totalprice_fp"),
            F.floor(F.col("total_qty") * SCALE).cast("long").alias("total_qty_fp"),
        )
        .orderBy(F.desc("totalprice_fp"), F.asc("o_orderkey"))
        .limit(Q18_TOPK)
    )


Q4_DATE_LO = "1996-07-01"
Q4_DATE_HI = "1996-10-01"


@register(
    oracle=f"""
SELECT o_orderpriority, COUNT(*) AS order_count
FROM orders
WHERE o_orderdate >= TIMESTAMP '{Q4_DATE_LO} 00:00:00'
  AND o_orderdate < TIMESTAMP '{Q4_DATE_HI} 00:00:00'
  AND EXISTS (
    SELECT 1 FROM lineitem
    WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate
  )
GROUP BY o_orderpriority
ORDER BY o_orderpriority
""",
)
def q_tpch_q4(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 (adapted: the testdata lacks l_commitdate/l_receiptdate,
    so the EXISTS predicate is l_shipdate > o_orderdate): order-priority
    counts over a LEFT SEMI join — Spark's native EXISTS — between
    orders and lineitem."""
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit(f"{Q4_DATE_LO} 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit(f"{Q4_DATE_HI} 00:00:00").cast("timestamp"))
    )
    li = load_table(spark, sf_dir, "lineitem")
    return (
        orders.join(
            li,
            (orders.o_orderkey == li.l_orderkey) & (li.l_shipdate > orders.o_orderdate),
            "left_semi",
        )
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
        .orderBy("o_orderpriority")
    )


Q7_NATION_A = "NATION_1"
Q7_NATION_B = "NATION_2"
Q7_YEARS = (1996, 1997)


@register(
    oracle=f"""
SELECT supp_nation, cust_nation, l_year,
       CAST(SUM({REV_SQL}) AS BIGINT) AS revenue_fp
FROM (
  SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
         EXTRACT(year FROM l_shipdate) AS l_year,
         l_extendedprice, l_discount
  FROM supplier
  JOIN lineitem ON s_suppkey = l_suppkey
  JOIN orders ON o_orderkey = l_orderkey
  JOIN customer ON c_custkey = o_custkey
  JOIN nation n1 ON s_nationkey = n1.n_nationkey
  JOIN nation n2 ON c_nationkey = n2.n_nationkey
  WHERE ((n1.n_name = '{Q7_NATION_A}' AND n2.n_name = '{Q7_NATION_B}')
      OR (n1.n_name = '{Q7_NATION_B}' AND n2.n_name = '{Q7_NATION_A}'))
    AND EXTRACT(year FROM l_shipdate) IN ({Q7_YEARS[0]}, {Q7_YEARS[1]})
)
GROUP BY supp_nation, cust_nation, l_year
ORDER BY supp_nation, cust_nation, l_year
""",
)
def q_tpch_q7(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 volume shipping between two nations: the two nation
    dims broadcast twice under different roles (supplier vs customer
    nation); lineitem⨝orders is the only real shuffle."""
    li = load_table(spark, sf_dir, "lineitem").withColumn(
        "l_year", F.year("l_shipdate").cast("long")
    ).filter(F.col("l_year").isin(*Q7_YEARS))
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    supp = load_table(spark, sf_dir, "supplier")
    n1 = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation")
    )
    n2 = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("cust_nation")
    )
    pair = (
        (F.col("supp_nation") == Q7_NATION_A) & (F.col("cust_nation") == Q7_NATION_B)
    ) | ((F.col("supp_nation") == Q7_NATION_B) & (F.col("cust_nation") == Q7_NATION_A))
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(n1), supp.s_nationkey == F.col("n1_key"))
        .join(F.broadcast(n2), cust.c_nationkey == F.col("n2_key"))
        .filter(pair)
        .groupBy("supp_nation", "cust_nation", "l_year")
        .agg(F.sum(_rev_col()).cast("long").alias("revenue_fp"))
        .orderBy("supp_nation", "cust_nation", "l_year")
    )


Q8_NATION = "NATION_5"
Q8_REGION = "AMERICA"
Q8_TYPE = "ECONOMY"


@register(
    oracle=f"""
SELECT o_year,
       CAST(SUM(CASE WHEN nation = '{Q8_NATION}' THEN volume_fp ELSE 0 END) AS DOUBLE)
         / CAST(SUM(volume_fp) AS DOUBLE) AS mkt_share,
       CAST(SUM(CASE WHEN nation = '{Q8_NATION}' THEN volume_fp ELSE 0 END) AS BIGINT) AS nation_fp,
       CAST(SUM(volume_fp) AS BIGINT) AS total_fp
FROM (
  SELECT EXTRACT(year FROM o_orderdate) AS o_year,
         {REV_SQL} AS volume_fp,
         n2.n_name AS nation
  FROM part
  JOIN lineitem ON p_partkey = l_partkey
  JOIN supplier ON s_suppkey = l_suppkey
  JOIN orders ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  JOIN nation n1 ON c_nationkey = n1.n_nationkey
  JOIN region ON n1.n_regionkey = r_regionkey
  JOIN nation n2 ON s_nationkey = n2.n_nationkey
  WHERE r_name = '{Q8_REGION}' AND p_type = '{Q8_TYPE}'
)
GROUP BY o_year
ORDER BY o_year
""",
)
def q_tpch_q8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 national market share: conditional share aggregation
    over a 7-way join — every dimension broadcasts, the fact side
    shuffles once on orderkey."""
    part = load_table(spark, sf_dir, "part").filter(F.col("p_type") == Q8_TYPE)
    li = load_table(spark, sf_dir, "lineitem")
    supp = load_table(spark, sf_dir, "supplier")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    n1 = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_regionkey").alias("n1_region")
    )
    n2 = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("nation")
    )
    region = load_table(spark, sf_dir, "region").filter(F.col("r_name") == Q8_REGION)
    vol = _rev_col()
    nat = F.sum(F.when(F.col("nation") == Q8_NATION, vol).otherwise(F.lit(0))).cast("long")
    tot = F.sum(vol).cast("long")
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(n1), cust.c_nationkey == F.col("n1_key"))
        .join(F.broadcast(region), F.col("n1_region") == region.r_regionkey)
        .join(F.broadcast(n2), supp.s_nationkey == F.col("n2_key"))
        .groupBy(F.year("o_orderdate").cast("long").alias("o_year"))
        .agg(
            (nat.cast("double") / tot.cast("double")).alias("mkt_share"),
            nat.alias("nation_fp"),
            tot.alias("total_fp"),
        )
        .orderBy("o_year")
    )


@register(
    oracle="""
SELECT c_count, COUNT(*) AS custdist
FROM (
  SELECT c_custkey, COUNT(o_orderkey) AS c_count
  FROM customer
  LEFT JOIN orders ON c_custkey = o_custkey
  GROUP BY c_custkey
)
GROUP BY c_count
ORDER BY custdist DESC, c_count DESC
""",
)
def q_tpch_q13(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 customer order-count distribution: left join keeps
    zero-order customers, double aggregation produces the histogram.
    COUNT(o_orderkey) counts non-null keys only — the left-join-null
    subtlety both engines must agree on."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    per_cust = (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return (
        per_cust.groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
        .orderBy(F.desc("custdist"), F.desc("c_count"))
    )


Q15_DATE_LO = "1996-01-01"
Q15_DATE_HI = "1996-04-01"


@register(
    oracle=f"""
WITH revenue AS (
  SELECT l_suppkey AS supplier_no,
         CAST(SUM({REV_SQL}) AS BIGINT) AS total_revenue_fp
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '{Q15_DATE_LO} 00:00:00'
    AND l_shipdate < TIMESTAMP '{Q15_DATE_HI} 00:00:00'
  GROUP BY l_suppkey
)
SELECT s_suppkey, s_name, total_revenue_fp
FROM supplier JOIN revenue ON s_suppkey = supplier_no
WHERE total_revenue_fp = (SELECT MAX(total_revenue_fp) FROM revenue)
ORDER BY s_suppkey
""",
)
def q_tpch_q15(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 top supplier: the scalar-subquery max becomes a rank
    window over the (tiny) per-supplier revenue aggregate — no second
    scan of lineitem."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit(f"{Q15_DATE_LO} 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit(f"{Q15_DATE_HI} 00:00:00").cast("timestamp"))
    )
    supp = load_table(spark, sf_dir, "supplier")
    revenue = (
        li.groupBy(F.col("l_suppkey").alias("supplier_no"))
        .agg(F.sum(_rev_col()).cast("long").alias("total_revenue_fp"))
    )
    # max-revenue scalar broadcast + equality filter (keeps ties,
    # like rank()==1) — an unpartitioned rank window would move the
    # aggregate to one partition and log a WindowExec warning for the
    # same result
    mx = revenue.agg(F.max("total_revenue_fp").alias("mx"))
    top = (
        revenue.crossJoin(F.broadcast(mx))
        .filter(F.col("total_revenue_fp") == F.col("mx"))
        .drop("mx")
    )
    return (
        F.broadcast(top)
        .join(supp, top.supplier_no == supp.s_suppkey)
        .select("s_suppkey", "s_name", "total_revenue_fp")
        .orderBy("s_suppkey")
    )


Q17_BRAND = "Brand#1"
Q17_FRACTION = 0.5


@register(
    oracle=f"""
SELECT CAST(SUM(CAST(FLOOR(l_extendedprice * {SCALE}) AS BIGINT)) AS BIGINT) AS price_fp,
       COUNT(*) AS n_items
FROM lineitem
JOIN part ON p_partkey = l_partkey
JOIN (
  SELECT l_partkey AS avg_partkey, AVG(l_quantity) AS avg_qty
  FROM lineitem GROUP BY l_partkey
) a ON a.avg_partkey = l_partkey
WHERE p_brand = '{Q17_BRAND}' AND l_quantity < {Q17_FRACTION} * avg_qty
""",
)
def q_tpch_q17(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 small-quantity-order revenue (adapted: brand predicate
    matches the testdata's brand domain): the correlated avg-quantity
    subquery becomes a per-part aggregate joined back. Both the avg
    side and the outer side are first semi-joined (broadcast) against
    the brand's partkeys, so the per-part shuffle carries only the
    brand's selectivity (~1/N-brands of lineitem), not all parts —
    answer unchanged, the avg is per-part so restricting to surviving
    parts is lossless."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").filter(F.col("p_brand") == Q17_BRAND)
    brand_keys = part.select("p_partkey")
    li_brand = li.join(
        F.broadcast(brand_keys), li.l_partkey == brand_keys.p_partkey, "left_semi"
    )
    avg_qty = li_brand.groupBy(F.col("l_partkey").alias("avg_partkey")).agg(
        F.avg("l_quantity").alias("avg_qty")
    )
    return (
        li_brand.join(F.broadcast(part), li_brand.l_partkey == part.p_partkey)
        .join(avg_qty, li_brand.l_partkey == F.col("avg_partkey"))
        .filter(F.col("l_quantity") < Q17_FRACTION * F.col("avg_qty"))
        .agg(
            F.sum(F.floor(F.col("l_extendedprice") * SCALE).cast("long"))
            .cast("long")
            .alias("price_fp"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


Q12_DATE_LO = "1996-01-01"
Q12_DATE_HI = "1997-01-01"
Q12_HIGH = ("1-URGENT", "2-HIGH")


@register(
    oracle=f"""
SELECT l_returnflag,
       CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
FROM orders
JOIN lineitem ON l_orderkey = o_orderkey
WHERE l_shipdate >= TIMESTAMP '{Q12_DATE_LO} 00:00:00'
  AND l_shipdate < TIMESTAMP '{Q12_DATE_HI} 00:00:00'
GROUP BY l_returnflag
ORDER BY l_returnflag
""",
)
def q_tpch_q12(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape, adapted to the pruned schema (no l_shipmode /
    l_commitdate: return flag stands in for ship mode, ship date for
    the receipt window): conditional CASE counting inside a grouped
    aggregate over an orders⋈lineitem join. The date filter pushes to
    the lineitem scan; both sides shuffle on the order key (1:N join,
    neither side broadcastable at scale) with map-side partial aggs."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit(f"{Q12_DATE_LO} 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit(f"{Q12_DATE_HI} 00:00:00").cast("timestamp"))
    )
    o = load_table(spark, sf_dir, "orders")
    hi = F.col("o_orderpriority").isin(*Q12_HIGH)
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("l_returnflag")
        .agg(
            F.sum(F.when(hi, 1).otherwise(0)).cast("long").alias("high_line_count"),
            F.sum(F.when(~hi, 1).otherwise(0)).cast("long").alias("low_line_count"),
        )
        .orderBy("l_returnflag")
    )


Q19_DISJUNCTS = (
    ("Brand#12", 1, 15, 1, 11),
    ("Brand#23", 1, 25, 10, 20),
    ("Brand#4", 1, 35, 20, 30),
)


def _q19_pred_sql() -> str:
    return " OR ".join(
        f"(p_brand = '{b}' AND p_size BETWEEN {s_lo} AND {s_hi}"
        f" AND l_quantity BETWEEN {q_lo} AND {q_hi})"
        for b, s_lo, s_hi, q_lo, q_hi in Q19_DISJUNCTS
    )


@register(
    oracle=f"""
SELECT CAST(SUM({REV_SQL}) AS BIGINT) AS revenue_fp,
       COUNT(*) AS n_items
FROM lineitem
JOIN part ON p_partkey = l_partkey
WHERE {_q19_pred_sql()}
""",
)
def q_tpch_q19(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 discounted-revenue shape (adapted: no p_container /
    l_shipinstruct — brand × size × quantity disjuncts): one
    DISJUNCTIVE predicate spanning both join sides. Catalyst extracts
    the part-only implication (p_brand ∈ {{...}} ∨-union of size
    ranges) and pushes it to the part scan (plan-asserted), so the
    join builds only candidate parts; the full OR evaluates post-join
    in codegen."""
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    pred = None
    for b, s_lo, s_hi, q_lo, q_hi in Q19_DISJUNCTS:
        d = (
            (F.col("p_brand") == b)
            & F.col("p_size").between(s_lo, s_hi)
            & F.col("l_quantity").between(q_lo, q_hi)
        )
        pred = d if pred is None else (pred | d)
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .filter(pred)
        .agg(
            F.sum(_rev_col()).cast("long").alias("revenue_fp"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


Q21_TOPK = 100


@register(
    oracle=f"""
SELECT s_name, COUNT(*) AS numwait
FROM lineitem l1
JOIN supplier ON s_suppkey = l1.l_suppkey
JOIN orders ON o_orderkey = l1.l_orderkey AND o_orderstatus = 'F'
WHERE l1.l_returnflag = 'R'
  AND EXISTS (
    SELECT 1 FROM lineitem l2
    WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey)
  AND NOT EXISTS (
    SELECT 1 FROM lineitem l3
    WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_suppkey <> l1.l_suppkey
      AND l3.l_returnflag = 'R')
GROUP BY s_name
ORDER BY numwait DESC, s_name
LIMIT {Q21_TOPK}
""",
)
def q_tpch_q21(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 suppliers-who-kept-orders-waiting shape (adapted: no
    l_receiptdate/l_commitdate — l_returnflag='R' marks the failing
    lineitem, o_orderstatus='F' the finished order): EXISTS → left-semi
    and NOT EXISTS → left-anti, each with a compound equi + non-equi
    condition (same order, different supplier). Both correlated joins
    key on l_orderkey, so all three lineitem branches share one hash
    partitioning; the supplier dim broadcasts; top-k is
    TakeOrderedAndProject."""
    li = load_table(spark, sf_dir, "lineitem")
    l1 = li.filter(F.col("l_returnflag") == "R").select("l_orderkey", "l_suppkey")
    fo = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderstatus") == "F")
        .select("o_orderkey")
    )
    l2 = li.select(
        F.col("l_orderkey").alias("l2_orderkey"), F.col("l_suppkey").alias("l2_suppkey")
    )
    l3 = (
        li.filter(F.col("l_returnflag") == "R")
        .select(
            F.col("l_orderkey").alias("l3_orderkey"),
            F.col("l_suppkey").alias("l3_suppkey"),
        )
    )
    s = load_table(spark, sf_dir, "supplier")
    base = (
        l1.join(fo, l1.l_orderkey == fo.o_orderkey)
        .join(
            l2,
            (F.col("l_orderkey") == F.col("l2_orderkey"))
            & (F.col("l_suppkey") != F.col("l2_suppkey")),
            "left_semi",
        )
        .join(
            l3,
            (F.col("l_orderkey") == F.col("l3_orderkey"))
            & (F.col("l_suppkey") != F.col("l3_suppkey")),
            "left_anti",
        )
    )
    return (
        base.join(F.broadcast(s), base.l_suppkey == s.s_suppkey)
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .orderBy(F.desc("numwait"), "s_name")
        .limit(Q21_TOPK)
    )


Q22_SEGMENTS = ("AUTOMOBILE", "BUILDING", "MACHINERY")
Q22_CUTOFF = "2000-01-01"


@register(
    oracle=f"""
WITH sel AS (
  SELECT * FROM customer
  WHERE c_mktsegment IN {Q22_SEGMENTS!r}
), stats AS (
  SELECT CAST(SUM(CAST(FLOOR(c_acctbal * {SCALE}) AS BIGINT)) AS BIGINT) AS sum_fp,
         COUNT(*) AS cnt
  FROM sel WHERE c_acctbal > 0
)
SELECT c_mktsegment, COUNT(*) AS numcust,
       CAST(SUM(CAST(FLOOR(c_acctbal * {SCALE}) AS BIGINT)) AS BIGINT) AS totacctbal_fp
FROM sel, stats
WHERE CAST(FLOOR(c_acctbal * {SCALE}) AS BIGINT) * cnt > sum_fp
  AND NOT EXISTS (
    SELECT 1 FROM orders o
    WHERE o.o_custkey = sel.c_custkey
      AND o.o_orderdate >= TIMESTAMP '{Q22_CUTOFF} 00:00:00')
GROUP BY c_mktsegment
ORDER BY c_mktsegment
""",
)
def q_tpch_q22(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 global-sales-opportunity shape (adapted: no c_phone —
    market segment stands in for country code; "dormant" = no order
    since {Q22_CUTOFF}): scalar aggregate subquery (1-row broadcast
    cross join) + anti-join against recent orders. The
    above-average-balance comparison is exact-integer
    (bal_fp·count > sum_fp) so it cannot flip on cross-engine float
    summation order."""
    c = load_table(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment").isin(*Q22_SEGMENTS)
    )
    bal_fp = F.floor(F.col("c_acctbal") * SCALE).cast("long")
    stats = c.filter(F.col("c_acctbal") > 0).agg(
        F.sum(bal_fp).cast("long").alias("sum_fp"),
        F.count(F.lit(1)).alias("cnt"),
    )
    recent = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderdate") >= F.lit(f"{Q22_CUTOFF} 00:00:00").cast("timestamp"))
        .select("o_custkey")
    )
    return (
        c.crossJoin(F.broadcast(stats))
        .filter(bal_fp * F.col("cnt") > F.col("sum_fp"))
        .join(recent, c.c_custkey == recent.o_custkey, "left_anti")
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            F.sum(bal_fp).cast("long").alias("totacctbal_fp"),
        )
        .orderBy("c_mktsegment")
    )


Q16_EXCLUDE_BRAND = "Brand#5"
Q16_EXCLUDE_TYPE_PREFIX = "PROMO"
Q16_SIZES = (1, 5, 9, 14, 19, 23, 36, 45)


@register(
    oracle=f"""
WITH ps AS (
  SELECT DISTINCT l_partkey AS ps_partkey, l_suppkey AS ps_suppkey FROM lineitem
)
SELECT p_brand, p_type, p_size,
       CAST(COUNT(DISTINCT ps_suppkey) AS BIGINT) AS supplier_cnt
FROM ps
JOIN part ON p_partkey = ps_partkey
WHERE p_brand <> '{Q16_EXCLUDE_BRAND}'
  AND p_type NOT LIKE '{Q16_EXCLUDE_TYPE_PREFIX}%'
  AND p_size IN {Q16_SIZES!r}
  AND ps_suppkey NOT IN (
    SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
GROUP BY p_brand, p_type, p_size
ORDER BY supplier_cnt DESC, p_brand, p_type, p_size
""",
)
def q_tpch_q16(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 parts/supplier-relationship shape (adapted: no
    partsupp table — the DISTINCT (l_partkey, l_suppkey) pairs of
    lineitem stand in; no s_comment — negative account balance marks
    the excluded "complaint" suppliers): distinct-pair derivation,
    NOT-IN → broadcast anti-join, COUNT(DISTINCT) grouped aggregate
    (Spark plans it as a two-level expand+agg — partial per
    (group, supplier) then final), descending count with full
    tie-break.

    No pre-``distinct()`` on the pair derivation (r13 opt round):
    COUNT(DISTINCT ps_suppkey) downstream is duplicate-insensitive and
    both joins are row-level broadcast probes, so the explicit
    distinct's full pair-sized exchange+aggregate bought nothing — the
    countDistinct's own partial (map-side) distinct does the dedup in
    the one remaining shuffle. 1.5-2.0 → 1.2-1.3 s at sf0.1; output
    identical at all SFs."""
    li = load_table(spark, sf_dir, "lineitem")
    ps = li.select(
        F.col("l_partkey").alias("ps_partkey"), F.col("l_suppkey").alias("ps_suppkey")
    )
    p = load_table(spark, sf_dir, "part").filter(
        (F.col("p_brand") != Q16_EXCLUDE_BRAND)
        & ~F.col("p_type").startswith(Q16_EXCLUDE_TYPE_PREFIX)
        & F.col("p_size").isin(*Q16_SIZES)
    )
    bad_supp = (
        load_table(spark, sf_dir, "supplier")
        .filter(F.col("s_acctbal") < 0)
        .select("s_suppkey")
    )
    return (
        ps.join(F.broadcast(bad_supp), ps.ps_suppkey == bad_supp.s_suppkey, "left_anti")
        .join(F.broadcast(p), F.col("ps_partkey") == p.p_partkey)
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("ps_suppkey").cast("long").alias("supplier_cnt"))
        .orderBy(F.desc("supplier_cnt"), "p_brand", "p_type", "p_size")
    )


Q9_TOKEN = "bolt"
Q9_COST_FACTOR = 0.6  # retail-price cost proxy (no partsupp/ps_supplycost)


@register(
    oracle=f"""
SELECT n_name AS nation,
       CAST(EXTRACT(year FROM o_orderdate) AS BIGINT) AS o_year,
       CAST(SUM(CAST(FLOOR(l_extendedprice * (1 - l_discount) * {SCALE}) AS BIGINT)
              - CAST(FLOOR(p_retailprice * l_quantity * {Q9_COST_FACTOR} * {SCALE}) AS BIGINT)) AS BIGINT) AS profit_fp
FROM lineitem
JOIN part ON p_partkey = l_partkey
JOIN supplier ON s_suppkey = l_suppkey
JOIN nation ON n_nationkey = s_nationkey
JOIN orders ON o_orderkey = l_orderkey
WHERE contains(lower(p_name), '{Q9_TOKEN}')
GROUP BY 1, 2
ORDER BY nation, o_year DESC
""",
)
def q_tpch_q9(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 product-type profit (adapted: no partsupp, so the cost
    leg ``ps_supplycost * l_quantity`` becomes the deterministic proxy
    ``p_retailprice * l_quantity * {Q9_COST_FACTOR}``; the multi-dim
    join→agg shape — part keyword filter, supplier nation, order year —
    is the point).

    Plan: part (keyword-filtered), supplier and nation all broadcast;
    the ONLY shuffle joins lineitem to orders on l_orderkey, then one
    partial-agg shuffle on (nation, year). The keyword filter lands on
    the broadcast build side, so lineitem rows drop at the first probe
    before the orderkey exchange. Profit is a difference of two
    fixed-point BIGINTs per row, summed exactly."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").filter(
        F.lower("p_name").contains(Q9_TOKEN)
    )
    supp = load_table(spark, sf_dir, "supplier")
    nat = load_table(spark, sf_dir, "nation")
    ordr = load_table(spark, sf_dir, "orders")
    amount = F.floor(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * SCALE
    ).cast("long") - F.floor(
        F.col("p_retailprice") * F.col("l_quantity") * Q9_COST_FACTOR * SCALE
    ).cast("long")
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .join(F.broadcast(supp), F.col("l_suppkey") == supp.s_suppkey)
        .join(F.broadcast(nat), F.col("s_nationkey") == nat.n_nationkey)
        .join(ordr, F.col("l_orderkey") == ordr.o_orderkey)
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").cast("long").alias("o_year"),
        )
        .agg(F.sum(amount).cast("long").alias("profit_fp"))
        .orderBy("nation", F.desc("o_year"))
    )


Q20_TOKEN = "ring"
Q20_DATE_LO = "1996-01-01"
Q20_DATE_HI = "1997-01-01"


@register(
    oracle=f"""
WITH li AS (
  SELECT l_suppkey, l_partkey, CAST(FLOOR(l_quantity * {SCALE}) AS BIGINT) AS qty_fp
  FROM lineitem
  JOIN part ON p_partkey = l_partkey
  WHERE contains(lower(p_name), '{Q20_TOKEN}')
    AND l_shipdate >= TIMESTAMP '{Q20_DATE_LO} 00:00:00'
    AND l_shipdate < TIMESTAMP '{Q20_DATE_HI} 00:00:00'
), sp AS (
  SELECT l_suppkey, l_partkey, CAST(SUM(qty_fp) AS BIGINT) AS sq
  FROM li GROUP BY 1, 2
), pt AS (
  SELECT l_partkey, CAST(SUM(sq) AS BIGINT) AS pq FROM sp GROUP BY 1
), dom AS (
  SELECT DISTINCT l_suppkey FROM sp JOIN pt USING (l_partkey) WHERE 2 * sq > pq
)
SELECT s_suppkey, s_name, n_name AS nation
FROM supplier
JOIN nation ON n_nationkey = s_nationkey
JOIN dom ON l_suppkey = s_suppkey
ORDER BY s_suppkey
""",
)
def q_tpch_q20(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 potential-part-promotion shape (adapted: no partsupp
    availqty, so "supplier holding excess stock" becomes "supplier
    shipping the MAJORITY of a part's {Q20_DATE_LO[:4]} volume" — the
    same correlated per-(supp,part)-aggregate-vs-per-part-aggregate
    EXISTS shape).

    Plan: the keyword partkeys broadcast-semi-filter lineitem at the
    scan; one shuffle on (suppkey, partkey), then the per-part total
    comes from an unordered window over that SAME aggregate (facts are
    scanned exactly once — plan-asserted); the majority test
    ``2·sq > pq`` compares exact fixed-point BIGINTs; winners distinct
    to suppkey and semi-join the supplier dim."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit(Q20_DATE_LO).cast("timestamp"))
        & (F.col("l_shipdate") < F.lit(Q20_DATE_HI).cast("timestamp"))
    )
    pkeys = (
        load_table(spark, sf_dir, "part")
        .filter(F.lower("p_name").contains(Q20_TOKEN))
        .select("p_partkey")
    )
    li_tok = li.join(F.broadcast(pkeys), li.l_partkey == pkeys.p_partkey, "left_semi")
    sp = (
        li_tok.select(
            "l_suppkey",
            "l_partkey",
            F.floor(F.col("l_quantity") * SCALE).cast("long").alias("qty_fp"),
        )
        .groupBy("l_suppkey", "l_partkey")
        .agg(F.sum("qty_fp").cast("long").alias("sq"))
    )
    # The per-part total comes from an UNORDERED window over the same
    # aggregate — one pass, no second branch: a pt = sp.groupBy(...)
    # + join would make Spark recompute sp's whole lineage (TWO fact
    # scans; ReusedExchange does not fire across the differing
    # aggregates), and the window's (l_partkey) exchange is the same
    # shuffle the join would have needed anyway.
    pq = F.sum("sq").over(Window.partitionBy("l_partkey"))
    dom = (
        sp.withColumn("pq", pq.cast("long"))
        .filter(2 * F.col("sq") > F.col("pq"))
        .select("l_suppkey")
        .distinct()
    )
    supp = load_table(spark, sf_dir, "supplier")
    nat = load_table(spark, sf_dir, "nation")
    return (
        supp.join(F.broadcast(nat), supp.s_nationkey == nat.n_nationkey)
        .join(dom, supp.s_suppkey == dom.l_suppkey, "left_semi")
        .select("s_suppkey", "s_name", F.col("n_name").alias("nation"))
        .orderBy("s_suppkey")
    )


Q2_REGION = "EUROPE"
Q2_SIZE = 15
Q2_TYPE = "ECONOMY"


@register(
    oracle=f"""
WITH reg_supp AS (
  SELECT s_suppkey, s_name, s_acctbal, n_name
  FROM supplier
  JOIN nation ON n_nationkey = s_nationkey
  JOIN region ON r_regionkey = n_regionkey
  WHERE r_name = '{Q2_REGION}'
), ps AS (
  SELECT l_partkey, l_suppkey,
         CAST(MIN(CAST(FLOOR(l_extendedprice / l_quantity * {SCALE}) AS BIGINT)) AS BIGINT) AS cost_fp
  FROM lineitem
  GROUP BY 1, 2
), cand AS (
  SELECT p_partkey, p_brand, s_name, s_acctbal, n_name, cost_fp,
         MIN(cost_fp) OVER (PARTITION BY p_partkey) AS min_cost_fp
  FROM ps
  JOIN part ON p_partkey = l_partkey
  JOIN reg_supp ON s_suppkey = l_suppkey
  WHERE p_size = {Q2_SIZE} AND p_type = '{Q2_TYPE}'
)
SELECT s_acctbal, s_name, n_name AS nation, p_partkey, p_brand, cost_fp
FROM cand
WHERE cost_fp = min_cost_fp
ORDER BY s_acctbal DESC, nation, s_name, p_partkey
LIMIT 100
""",
)
def q_tpch_q2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 minimum-cost supplier (adapted: no partsupp, so the
    per-(part, supplier) offer price is the MIN observed unit price
    ``l_extendedprice / l_quantity`` in lineitem; the single-word
    p_type domain makes the spec's ``LIKE '%BRASS'`` an equality).

    The spec's correlated scalar subquery (min supplycost per part)
    becomes a window MIN over the per-(part, supplier) aggregate —
    one fact-table pass. Order of operations at 100 TB: both dim
    filters (sized/typed parts, region suppliers) broadcast-semi-prune
    lineitem BEFORE the (partkey, suppkey) shuffle, so the aggregate
    only sees the selected region x part slice (the q17 lesson:
    never aggregate what a broadcast filter could have dropped).
    Final = TakeOrderedAndProject (LIMIT 100)."""
    nat = load_table(spark, sf_dir, "nation")
    reg = load_table(spark, sf_dir, "region").filter(F.col("r_name") == Q2_REGION)
    reg_supp = (
        load_table(spark, sf_dir, "supplier")
        .join(F.broadcast(nat), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(reg), F.col("n_regionkey") == F.col("r_regionkey"))
        .select("s_suppkey", "s_name", "s_acctbal", "n_name")
    )
    parts = (
        load_table(spark, sf_dir, "part")
        .filter((F.col("p_size") == Q2_SIZE) & (F.col("p_type") == Q2_TYPE))
        .select("p_partkey", "p_brand")
    )
    li = load_table(spark, sf_dir, "lineitem")
    cost_fp = F.floor(F.col("l_extendedprice") / F.col("l_quantity") * SCALE).cast(
        "long"
    )
    ps = (
        li.join(F.broadcast(parts.select("p_partkey")),
                li.l_partkey == F.col("p_partkey"), "left_semi")
        .join(F.broadcast(reg_supp.select("s_suppkey")),
              li.l_suppkey == F.col("s_suppkey"), "left_semi")
        .groupBy("l_partkey", "l_suppkey")
        .agg(F.min(cost_fp).cast("long").alias("cost_fp"))
    )
    min_cost = F.min("cost_fp").over(Window.partitionBy("l_partkey"))
    return (
        ps.withColumn("min_cost_fp", min_cost.cast("long"))
        .filter(F.col("cost_fp") == F.col("min_cost_fp"))
        .join(F.broadcast(parts), F.col("l_partkey") == parts.p_partkey)
        .join(F.broadcast(reg_supp), F.col("l_suppkey") == reg_supp.s_suppkey)
        .select(
            "s_acctbal",
            "s_name",
            F.col("n_name").alias("nation"),
            "p_partkey",
            "p_brand",
            "cost_fp",
        )
        .orderBy(F.desc("s_acctbal"), "nation", "s_name", "p_partkey")
        .limit(100)
    )


Q11_NATION = "NATION_7"
Q11_FRACTION_DEN = 1000  # keep parts holding > 1/1000 of the nation's value


def _q11_pv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q11's per-part value aggregate: nation suppliers broadcast-
    semi-prune lineitem before its one aggregate shuffle."""
    nat = load_table(spark, sf_dir, "nation").filter(F.col("n_name") == Q11_NATION)
    nat_supp = (
        load_table(spark, sf_dir, "supplier")
        .join(F.broadcast(nat), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey")
    )
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.join(F.broadcast(nat_supp), li.l_suppkey == F.col("s_suppkey"), "left_semi")
        .groupBy(F.col("l_partkey").alias("p_partkey"))
        .agg(F.sum(_rev_col()).cast("long").alias("value_fp"))
    )


@register(
    oracle=f"""
WITH nat_supp AS (
  SELECT s_suppkey
  FROM supplier JOIN nation ON n_nationkey = s_nationkey
  WHERE n_name = '{Q11_NATION}'
), pv AS (
  SELECT l_partkey AS p_partkey, CAST(SUM({REV_SQL}) AS BIGINT) AS value_fp
  FROM lineitem
  JOIN nat_supp ON s_suppkey = l_suppkey
  GROUP BY 1
)
SELECT p_partkey, value_fp
FROM pv, (SELECT CAST(SUM(value_fp) AS BIGINT) AS total_fp FROM pv) t
WHERE value_fp * {Q11_FRACTION_DEN} > total_fp
ORDER BY value_fp DESC, p_partkey
""",
)
def q_tpch_q11(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 important stock (adapted: no partsupp availqty x
    supplycost, so a part's "stock value" for the nation is the
    discounted revenue its suppliers from that nation shipped).

    The spec's HAVING > SUM(..) * fraction scalar subquery becomes a
    one-row aggregate crossJoin-broadcast over the per-part aggregate
    (the q15 pattern — no unpartitioned window), and the fraction
    test is exact integer math (``value_fp * {Q11_FRACTION_DEN} >
    total_fp``) so both engines agree bit-for-bit. Nation suppliers
    broadcast-semi-prune lineitem before its only shuffle."""
    # pv feeds BOTH the grand total and the filter; Spark's exchange
    # reuse does not fire across the broadcast boundary, so without
    # the checkpoint the semi-join + aggregate over lineitem would run
    # twice. A lazy localCheckpoint materializes the per-part
    # aggregate once (dimension-sized — |part| rows, never facts) and
    # both consumers read the materialized partitions (the semi-join
    # shape itself is plan-asserted on _q11_pv pre-checkpoint).
    pv = _q11_pv(spark, sf_dir).localCheckpoint(eager=False)
    total = pv.agg(F.sum("value_fp").cast("long").alias("total_fp"))
    return (
        pv.crossJoin(F.broadcast(total))
        .filter(F.col("value_fp") * Q11_FRACTION_DEN > F.col("total_fp"))
        .select("p_partkey", "value_fp")
        .orderBy(F.desc("value_fp"), "p_partkey")
    )


@register(
    oracle="""
WITH j AS (
  SELECT o.o_orderpriority,
         CAST(date_diff('day', CAST(o.o_orderdate AS DATE), CAST(l.l_shipdate AS DATE)) AS BIGINT)
           AS lag_days,
         l.l_orderkey, l.l_linenumber
  FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
),
r AS (
  SELECT o_orderpriority, lag_days,
         row_number() OVER (PARTITION BY o_orderpriority
                            ORDER BY lag_days, l_orderkey, l_linenumber) AS rn,
         COUNT(*) OVER (PARTITION BY o_orderpriority) AS cnt
  FROM j
)
SELECT o_orderpriority,
       CAST(MAX(cnt) AS BIGINT) AS n_items,
       CAST(MIN(lag_days) AS BIGINT) AS min_days,
       CAST(MAX(CASE WHEN rn = CAST(CEIL(cnt * 0.5) AS BIGINT) THEN lag_days END) AS BIGINT)
         AS p50_days,
       CAST(MAX(CASE WHEN rn = CAST(CEIL(cnt * 0.9) AS BIGINT) THEN lag_days END) AS BIGINT)
         AS p90_days,
       CAST(MAX(lag_days) AS BIGINT) AS max_days
FROM r
GROUP BY o_orderpriority
ORDER BY o_orderpriority
""",
)
def q_fulfillment_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fulfillment-lag distribution per order priority: rank-picked
    exact p50/p90 (an ELEMENT of the sorted lags, never an
    interpolated double) over ship-date − order-date days. This is the
    registry's one true FACT-to-FACT join — lineitem and orders are
    both data-sized, so neither broadcasts at scale: the join keys on
    l_orderkey/o_orderkey, the family every TPC-H operator here
    already partitions by. Spark ``bucketBy`` tables bucketed on the
    order key on both sides would make it co-located with ZERO
    exchanges; the engine reads plain parquet, so it plans one SMJ.

    100 TB plan: ``lag_days`` has a tiny bounded domain (ship − order
    date is ~0–120 days), so the exact rank-picked percentile never
    needs to rank the fact rows. We build a
    ``groupBy(priority, lag_days)`` count histogram — ONE map-side
    combined shuffle over the facts producing ≤ 5 × |domain| rows —
    then take a cumulative sum over that dimension-sized histogram and
    pick the first lag whose running count reaches ``ceil(cnt*q)``.
    That is element-for-element identical to ranking every row (the
    element at rank k of the sorted multiset is the smallest value
    whose cumulative frequency ≥ k), with max parallelism bounded by
    the shuffle width instead of the 5 priority values. The only
    per-priority window runs over the ≤600-row histogram.
    """
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    j = li.join(o, li.l_orderkey == o.o_orderkey).select(
        "o_orderpriority",
        F.datediff(F.to_date("l_shipdate"), F.to_date("o_orderdate"))
        .cast("long")
        .alias("lag_days"),
    )
    hist = j.groupBy("o_orderpriority", "lag_days").agg(
        F.count(F.lit(1)).alias("freq")
    )
    w_cum = (
        Window.partitionBy("o_orderpriority")
        .orderBy("lag_days")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_tot = Window.partitionBy("o_orderpriority")
    r = hist.select(
        "o_orderpriority",
        "lag_days",
        F.sum("freq").over(w_cum).alias("cum"),
        F.sum("freq").over(w_tot).alias("cnt"),
    )
    pick = lambda q: F.min(  # noqa: E731
        F.when(
            F.col("cum") >= F.ceil(F.col("cnt") * q).cast("long"), F.col("lag_days")
        )
    ).cast("long")
    return (
        r.groupBy("o_orderpriority")
        .agg(
            F.max("cnt").cast("long").alias("n_items"),
            F.min("lag_days").cast("long").alias("min_days"),
            pick(0.5).alias("p50_days"),
            pick(0.9).alias("p90_days"),
            F.max("lag_days").cast("long").alias("max_days"),
        )
        .orderBy("o_orderpriority")
    )


# ONE portable ANSI-SQL text, executed verbatim by BOTH engines —
# Spark runs it through spark.sql() over temp views, DuckDB over its
# parquet views. The only degrees of freedom are the table names.
_SQL_SCORECARD = """
WITH rev AS (
  SELECT l_suppkey AS suppkey,
         CAST(SUM({rev}) AS BIGINT) AS revenue_fp,
         CAST(COUNT(DISTINCT l_partkey) AS BIGINT) AS n_parts,
         CAST(COUNT(*) AS BIGINT) AS n_lines
  FROM {li} GROUP BY l_suppkey
),
ranked AS (
  SELECT n.n_name AS nation, s.s_name AS supplier,
         r.revenue_fp, r.n_parts, r.n_lines,
         ROW_NUMBER() OVER (
           PARTITION BY n.n_name ORDER BY r.revenue_fp DESC, s.s_name
         ) AS rn
  FROM rev r
  JOIN {s} s ON s.s_suppkey = r.suppkey
  JOIN {n} n ON n.n_nationkey = s.s_nationkey
)
SELECT nation, supplier, revenue_fp, n_parts, n_lines,
       CAST(rn AS BIGINT) AS rank
FROM ranked WHERE rn <= 3
ORDER BY nation, rank
"""


@register(
    oracle=_SQL_SCORECARD.format(
        rev=REV_SQL, li="lineitem", s="supplier", n="nation"
    ),
)
def q_sql_supplier_scorecard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 suppliers per nation by exact-cents revenue — registered
    as a PURE ``spark.sql()`` query: the ONE SQL text (CTEs, an
    exact-integer aggregate, a dim join, a ranking window) runs
    verbatim on both engines, so the oracle check here is literally
    "Spark SQL and DuckDB execute the same ANSI string to the same
    bits". The engine's second front-end: everything else in the
    registry declares its plan through the DataFrame API; this query
    pins that the SQL surface reaches the SAME Catalyst plans, the
    same exactness discipline (REV_SQL's fixed-point cents), and the
    same broadcast behavior (supplier/nation are KB-sized dims).

    Scale shape: one fact aggregation to supplier grain, dim joins on
    the supplier-sized frame, and a top-k-per-nation window whose
    partitions are nation-bounded (the q_top_parts_per_brand
    pattern)."""
    for t in ("lineitem", "supplier", "nation"):
        load_table(spark, sf_dir, t).createOrReplaceTempView(f"sqlq_{t}")
    return spark.sql(
        _SQL_SCORECARD.format(
            rev=REV_SQL, li="sqlq_lineitem", s="sqlq_supplier", n="sqlq_nation"
        )
    )
