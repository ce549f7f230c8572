"""Additional TPC-H-shaped analytics queries, adapted to the test
schema (no partsupp/commitdate/shipmode columns; the lineitem
(partkey, suppkey) pair stands in for partsupp).

Each query exists to pin ONE classic operator pattern the engine must
plan well at 100 TB:

* Q3  — join-heavy top-k: rank on the EXACT decimal sum (ranking on a
  rounded double invites cross-engine tie divergence).
* Q4  — EXISTS ⇒ left-semi join (never a count-distinct join).
* Q12 — conditional aggregation (CASE inside SUM) over a fact join.
* Q14 — ratio of two exact decimal sums; division as the final
  double op on identical operands in both engines.
* Q16 — distinct-count with NOT-IN ⇒ left-anti join on the dim.
* Q19 — disjunctive (OR-of-ANDs) join predicate: the equi key must
  still be extracted so the join is hash, not nested-loop.
* Q22 — scalar aggregate subquery broadcast back over the table +
  anti join against orders.

Parity conventions follow operators/relational.py: factors cast to
DECIMAL(12,2) before multiplying, exact decimal sums, final DOUBLE
casts on both sides, avgs as sum/count in double.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.registry import load_table
from .relational import _dec2

__all__ = [
    "q3_shipping_priority",
    "q4_late_shipment_orders",
    "q12_priority_by_month",
    "q14_promo_revenue",
    "q16_supplier_variety",
    "q19_disjunctive_revenue",
    "q22_idle_customers",
]


def _disc_price() -> F.Column:
    return _dec2("l_extendedprice") * _dec2(1 - F.col("l_discount"))


def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q3 shape: top-10 unshipped-revenue orders for one segment.

    customer filters broadcast into orders; the lineitem join shuffles
    on orderkey.  Ranking happens on the EXACT decimal revenue (cast to
    double only in the output projection) with an orderkey tie-break —
    top-k is TakeOrderedAndProject, no global sort materialization.
    """
    c = load_table(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp")
    )
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1997-01-01").cast("timestamp")
    )
    joined = li.join(
        F.broadcast(o.join(F.broadcast(c), o.o_custkey == c.c_custkey)),
        li.l_orderkey == F.col("o_orderkey"),
    )
    agg = joined.groupBy("l_orderkey", "o_orderdate").agg(
        F.sum(_disc_price()).alias("rev_dec")
    )
    return (
        agg.orderBy(F.col("rev_dec").desc(), "l_orderkey")
        .limit(10)
        .select(
            "l_orderkey",
            F.col("rev_dec").cast("double").alias("revenue"),
            "o_orderdate",
        )
    )


ORACLE_Q3 = """
SELECT l_orderkey,
  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
           * CAST(1 - l_discount AS DECIMAL(12,2))) AS DOUBLE) AS revenue,
  o_orderdate
FROM customer JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1997-01-01'
  AND l_shipdate > TIMESTAMP '1997-01-01'
GROUP BY l_orderkey, o_orderdate
ORDER BY SUM(CAST(l_extendedprice AS DECIMAL(12,2))
             * CAST(1 - l_discount AS DECIMAL(12,2))) DESC, l_orderkey
LIMIT 10
"""


def q4_late_shipment_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q4 shape: per-priority count of orders with AT LEAST ONE late
    lineitem (shipped > 90 days after order date).

    The EXISTS is a LEFT-SEMI join — one probe per order, no row
    multiplication, no distinct needed.  At scale this is the
    difference between a semi join and an exploding inner join +
    dropDuplicates.
    """
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    late_orders = o.join(
        li, (o.o_orderkey == li.l_orderkey) & (li.l_shipdate > F.date_add(o.o_orderdate, 90)),
        "left_semi",
    )
    return (
        late_orders.groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
        .orderBy("o_orderpriority")
    )


ORACLE_Q4 = """
SELECT o_orderpriority, COUNT(*) AS order_count
FROM orders
WHERE EXISTS (
  SELECT 1 FROM lineitem
  WHERE l_orderkey = o_orderkey
    AND l_shipdate > o_orderdate + INTERVAL 90 DAY
)
GROUP BY o_orderpriority ORDER BY o_orderpriority
"""


def q12_priority_by_month(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q12 shape: conditional aggregation — per ship month, how many
    shipped lines belong to critical (URGENT/HIGH) vs other orders.
    CASE folds into the aggregate; one shuffle on the month key."""
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    crit = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy(F.month("l_shipdate").alias("ship_month"))
        .agg(
            F.sum(F.when(crit, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(~crit, 1).otherwise(0)).alias("low_line_count"),
        )
        .orderBy("ship_month")
    )


ORACLE_Q12 = """
SELECT CAST(month(l_shipdate) AS BIGINT) AS ship_month,
  CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH')
                THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
  CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT','2-HIGH')
                THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
GROUP BY 1 ORDER BY 1
"""


def q14_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q14 shape: promo revenue share — 100 · Σ(promo disc_price) /
    Σ(disc_price) over one ship month.  Both sums are exact decimals;
    the division is the single double op, on identical operands in
    both engines, then rounded."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-03-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp"))
    )
    p = load_table(spark, sf_dir, "part")
    j = li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
    promo = F.when(F.col("p_type") == "PROMO", _disc_price()).otherwise(
        F.lit(0).cast("decimal(12,2)")
    )
    return j.agg(
        F.round(
            F.lit(100.0)
            * F.sum(promo).cast("double")
            / F.sum(_disc_price()).cast("double"),
            6,
        ).alias("promo_revenue_pct"),
        F.count(F.lit(1)).alias("n_lines"),
    )


ORACLE_Q14 = """
SELECT
  -- shortest-repr HALF_UP (pandas_ops._oracle_round6 recipe): native
  -- ROUND(double,6) rounds the scaled double and splits from Spark
  -- at exact 6-dp HALF boundaries (fuzz-found on q1's avg_disc)
  CAST(ROUND(CAST(CAST((100.0 * CAST(SUM(CASE WHEN p_type = 'PROMO'
      THEN CAST(l_extendedprice AS DECIMAL(12,2))
           * CAST(1 - l_discount AS DECIMAL(12,2))
      ELSE CAST(0 AS DECIMAL(12,2)) END) AS DOUBLE)
    / CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
               * CAST(1 - l_discount AS DECIMAL(12,2))) AS DOUBLE)) AS VARCHAR) AS DECIMAL(38,30)), 6) AS DOUBLE)
    AS promo_revenue_pct,
  COUNT(*) AS n_lines
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE l_shipdate >= TIMESTAMP '1996-03-01'
  AND l_shipdate < TIMESTAMP '1996-04-01'
"""


def q16_supplier_variety(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q16 shape: distinct suppliers per (brand, size band), excluding
    a supplier blacklist via LEFT-ANTI join (the NOT IN pattern — an
    anti join, never a filter on a collected list).

    The (partkey, suppkey) bridge comes straight from lineitem with NO
    pre-distinct: countDistinct's partial aggregation already dedups
    map-side per group, so a separate distinct() would add a second
    full shuffle for nothing when pairs are near-unique (98.5% here —
    measured 1.65s → 0.7s dropping it).  If the fact table carried
    heavy pair duplication (many lines per partsupp), reinstate the
    distinct to shrink the shuffle — that's a data-shape call, and the
    aggregation is correct either way.
    """
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").filter(F.col("p_size") <= 25)
    s = load_table(spark, sf_dir, "supplier")
    blacklist = s.filter(F.col("s_acctbal") < 0).select("s_suppkey")
    pairs = li.select("l_partkey", "l_suppkey")
    ok = pairs.join(
        F.broadcast(blacklist),
        pairs.l_suppkey == blacklist.s_suppkey,
        "left_anti",
    )
    return (
        ok.join(F.broadcast(p), ok.l_partkey == p.p_partkey)
        .groupBy(
            "p_brand",
            (F.floor(F.col("p_size") / 10) * 10).cast("long").alias("size_band"),
        )
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
        .orderBy(F.col("supplier_cnt").desc(), "p_brand", "size_band")
    )


ORACLE_Q16 = """
WITH pairs AS (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem)
SELECT p_brand,
  CAST(FLOOR(p_size / 10) * 10 AS BIGINT) AS size_band,
  COUNT(DISTINCT l_suppkey) AS supplier_cnt
FROM pairs
JOIN part ON l_partkey = p_partkey
WHERE p_size <= 25
  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
GROUP BY p_brand, 2
ORDER BY supplier_cnt DESC, p_brand, size_band
"""


def q19_disjunctive_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q19 shape: disjunctive (OR-of-ANDs) predicate join.  The equi
    key (partkey) is common to every disjunct, so Catalyst extracts it
    and plans a HASH join with the OR as a post-join filter — the plan
    test asserts no BroadcastNestedLoopJoin."""
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    j = li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
    disj = (
        ((F.col("p_brand") == "Brand#12") & (F.col("l_quantity").between(1, 21)) & (F.col("p_size") <= 15))
        | ((F.col("p_brand") == "Brand#23") & (F.col("l_quantity").between(10, 30)) & (F.col("p_size") <= 25))
        | ((F.col("p_brand") == "Brand#34") & (F.col("l_quantity").between(20, 40)) & (F.col("p_size") <= 35))
    )
    return j.filter(disj).agg(
        F.sum(_disc_price()).cast("double").alias("revenue"),
        F.count(F.lit(1)).alias("n_lines"),
    )


ORACLE_Q19 = """
SELECT
  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
           * CAST(1 - l_discount AS DECIMAL(12,2))) AS DOUBLE) AS revenue,
  COUNT(*) AS n_lines
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE (p_brand = 'Brand#12' AND l_quantity BETWEEN 1 AND 21 AND p_size <= 15)
   OR (p_brand = 'Brand#23' AND l_quantity BETWEEN 10 AND 30 AND p_size <= 25)
   OR (p_brand = 'Brand#34' AND l_quantity BETWEEN 20 AND 40 AND p_size <= 35)
"""


def q22_idle_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q22 shape: per-nation count/balance of above-average-balance
    customers with no RECENT order (none since 2000 — the synthetic
    custkeys are dense, so "never ordered" would be vacuously empty).

    The global average is a 1-row aggregate CROSS-joined (auto-
    broadcast) back over customers — the scalar-subquery pattern; the
    recency clause is a LEFT-ANTI join on the filtered orders (the
    filter pushes below the anti join's build side).  Balance sums are
    exact decimal → double.
    """
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") >= F.lit("2000-01-01").cast("timestamp")
    )
    avg_bal = c.filter(F.col("c_acctbal") > 0).agg(
        (
            F.sum(F.col("c_acctbal").cast("decimal(12,2)")).cast("double")
            / F.count(F.lit(1))
        ).alias("avg_bal")
    )
    rich = c.crossJoin(F.broadcast(avg_bal)).filter(
        F.col("c_acctbal").cast("double") > F.col("avg_bal")
    )
    idle = rich.join(o, rich.c_custkey == o.o_custkey, "left_anti")
    return (
        idle.groupBy("c_nationkey")
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            F.sum(F.col("c_acctbal").cast("decimal(12,2)"))
            .cast("double")
            .alias("totacctbal"),
        )
        .orderBy("c_nationkey")
    )


ORACLE_Q22 = """
WITH avg_bal AS (
  SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE) / COUNT(*) AS avg_bal
  FROM customer WHERE c_acctbal > 0
)
SELECT c_nationkey, COUNT(*) AS numcust,
  CAST(SUM(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE) AS totacctbal
FROM customer CROSS JOIN avg_bal
WHERE CAST(c_acctbal AS DOUBLE) > avg_bal
  AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
                  AND o_orderdate >= TIMESTAMP '2000-01-01')
GROUP BY c_nationkey ORDER BY c_nationkey
"""


#: Registered queries, each mapped to its DuckDB oracle (see __spark_entry__).
QUERIES = {
    q3_shipping_priority: ORACLE_Q3,
    q4_late_shipment_orders: ORACLE_Q4,
    q12_priority_by_month: ORACLE_Q12,
    q14_promo_revenue: ORACLE_Q14,
    q16_supplier_variety: ORACLE_Q16,
    q19_disjunctive_revenue: ORACLE_Q19,
    q22_idle_customers: ORACLE_Q22,
}
