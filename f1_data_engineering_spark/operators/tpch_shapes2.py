"""The remaining classic TPC-H query shapes (Q2, Q7-Q11, Q15, Q20,
Q21), adapted to the test schema: there is no partsupp table, so the
distinct lineitem (l_partkey, l_suppkey) pair stands in for it, with
min(l_extendedprice / l_quantity) as the unit-cost surrogate; Q21's
"kept waiting" predicate uses l_shipdate > o_orderdate + 90 days since
there is no receipt/commit date.

Each query pins a planning pattern the engine must get right at 100 TB:

* Q2  — correlated MIN subquery, decorrelated as a window-min over the
  partition key (one shuffle, no self-join re-scan of the bridge).
* Q7  — two-sided dimension join (supplier nation × customer nation)
  with a symmetric pair predicate; dims broadcast, facts shuffle only
  on their join keys.
* Q8  — market share: ratio of a conditional decimal sum to a total
  decimal sum, one pass, division as the last double-typed op.
* Q9  — multi-fact profit: amount computed in exact decimal from two
  2-dp factor products, summed per (nation, year).
* Q10 — top-k revenue ranking on the EXACT decimal sum with a key
  tie-break (TakeOrderedAndProject, no global sort).
* Q11 — scalar-subquery HAVING (part value > fraction of total) in
  exact fixed-point cents·quantity longs — the decimal form would
  overflow DECIMAL(38) precision in the threshold multiply.
* Q15 — max-revenue equality against a broadcast scalar aggregate.
* Q20 — nested IN with a group-HAVING ⇒ aggregate + semi join, with
  the fraction threshold done in exact integer arithmetic (2·part >
  whole instead of part > 0.5·whole).
* Q21 — EXISTS / NOT-EXISTS pair decorrelated into ONE per-order
  aggregate pass (countDistinct suppliers, countDistinct late
  suppliers) instead of two correlated re-scans of lineitem.

Parity conventions follow operators/relational.py: 2-dp factors cast
to DECIMAL(12,2) before multiplying, exact decimal (or cents-long)
sums, DOUBLE casts only in the output projection, avgs as
round(sum/count, 6), deterministic tie-breaks on every ranking.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..sources.registry import load_table
from .relational import _dec2

__all__ = [
    "q2_min_cost_supplier",
    "q5_local_supplier_volume",
    "q7_nation_trade_flows",
    "q8_market_share",
    "q9_product_profit",
    "q10_returned_items",
    "q11_important_parts",
    "q15_top_supplier",
    "q20_heavy_shippers",
    "q21_waiting_suppliers",
]


def _disc_price() -> F.Column:
    return _dec2("l_extendedprice") * _dec2(1 - F.col("l_discount"))


def _qty_long() -> F.Column:
    """l_quantity is integer-valued (1..50) stored as double."""
    return F.col("l_quantity").cast("long")


def q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q2 shape: cheapest EUROPE supplier(s) per small part.

    The correlated ``unit_cost = (SELECT MIN ...)`` subquery is
    decorrelated as a window-min over l_partkey: after the pair-level
    aggregate (shuffle 1, map-side partial min) and broadcast dim
    filters, ONE more shuffle on l_partkey computes the per-part best
    cost and the equality filter — no self-join, so the bridge is
    scanned once.  Dim filters (p_size, region) run BEFORE the window
    so the second shuffle only carries surviving parts.  unit_cost is
    an IEEE double division — exactly rounded, so min/equality agree
    bit-for-bit across engines.
    """
    li = load_table(spark, sf_dir, "lineitem")
    p = (
        load_table(spark, sf_dir, "part")
        .filter(F.col("p_size") <= 10)
        .select("p_partkey", "p_name")
    )
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    s_eur = (
        load_table(spark, sf_dir, "supplier")
        .join(F.broadcast(n), F.col("s_nationkey") == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .select("s_suppkey", "s_name", "s_acctbal", "n_name")
    )
    bridge = li.groupBy("l_partkey", "l_suppkey").agg(
        F.min(F.col("l_extendedprice") / F.col("l_quantity")).alias("unit_cost")
    )
    w = Window.partitionBy("l_partkey")
    return (
        bridge.join(F.broadcast(p), bridge.l_partkey == p.p_partkey)
        .join(F.broadcast(s_eur), bridge.l_suppkey == s_eur.s_suppkey)
        .withColumn("best_cost", F.min("unit_cost").over(w))
        .filter(F.col("unit_cost") == F.col("best_cost"))
        .select(
            "s_acctbal",
            "s_name",
            "n_name",
            "p_partkey",
            "p_name",
            F.round("unit_cost", 6).alias("unit_cost"),
        )
        .orderBy(F.col("s_acctbal").desc(), "n_name", "s_name", "p_partkey")
        .limit(100)
    )


ORACLE_Q2 = """
WITH bridge AS (
  SELECT l_partkey, l_suppkey,
         MIN(l_extendedprice / l_quantity) AS unit_cost
  FROM lineitem GROUP BY 1, 2
), eur AS (
  SELECT b.l_partkey, b.unit_cost, s_acctbal, s_name, n_name
  FROM bridge b
  JOIN supplier ON b.l_suppkey = s_suppkey
  JOIN nation ON s_nationkey = n_nationkey
  JOIN region ON n_regionkey = r_regionkey
  WHERE r_name = 'EUROPE'
)
SELECT s_acctbal, s_name, n_name, p_partkey, p_name,
       CAST(ROUND(CAST(CAST((unit_cost) AS VARCHAR) AS DECIMAL(38,30)), 6) AS DOUBLE) AS unit_cost
FROM eur JOIN part ON l_partkey = p_partkey
WHERE p_size <= 10
  AND unit_cost = (SELECT MIN(e2.unit_cost) FROM eur e2
                   WHERE e2.l_partkey = eur.l_partkey)
ORDER BY s_acctbal DESC, n_name, s_name, p_partkey
LIMIT 100
"""


def q7_nation_trade_flows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q7 shape: bilateral trade volume between two nations by year.

    lineitem shuffles once on l_orderkey (⋈ orders) and the result once
    on o_custkey (⋈ customer); supplier and both nation copies
    broadcast.  The symmetric pair predicate is applied after both
    nation names are in scope — Catalyst pushes each half-disjunct's
    IN-list (supp ∈ {A,B}, cust ∈ {A,B}) into the broadcast hash joins.
    """
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    s = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    n = load_table(spark, sf_dir, "nation")
    n1 = n.select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation")
    )
    n2 = n.select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("cust_nation")
    )
    pair = (F.col("supp_nation") == "NATION_1") & (
        F.col("cust_nation") == "NATION_2"
    ) | (F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1")
    return (
        li.join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("n1_key"))
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("n2_key"))
        .filter(pair)
        .groupBy("supp_nation", "cust_nation", F.year("l_shipdate").alias("l_year"))
        .agg(
            F.sum(_disc_price()).cast("double").alias("revenue"),
            F.count(F.lit(1)).alias("n_lines"),
        )
        .orderBy("supp_nation", "cust_nation", "l_year")
    )


ORACLE_Q7 = """
SELECT supp_nation, cust_nation, l_year,
       CAST(SUM(volume) AS DOUBLE) AS revenue,
       CAST(COUNT(*) AS BIGINT) AS n_lines
FROM (
  SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
         YEAR(l_shipdate) AS l_year,
         CAST(l_extendedprice AS DECIMAL(12,2))
           * CAST(1.0 - l_discount AS DECIMAL(12,2)) AS volume
  FROM lineitem
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation n1 ON s_nationkey = n1.n_nationkey
  JOIN orders ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  JOIN nation n2 ON c_nationkey = n2.n_nationkey
  WHERE l_shipdate >= TIMESTAMP '1996-01-01'
    AND l_shipdate < TIMESTAMP '1998-01-01'
    AND ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
      OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
) t
GROUP BY supp_nation, cust_nation, l_year
ORDER BY supp_nation, cust_nation, l_year
"""


def q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q8 shape: NATION_1's share of ECONOMY-part volume sold to
    AMERICA-region customers, by order year.

    Numerator and denominator are computed in the SAME aggregate pass
    (conditional decimal sum / total decimal sum); the share division
    is the final double-typed op on operands both engines agree on
    exactly.  part (type-filtered), supplier, and the nation/region
    dims broadcast; the only fact shuffles are lineitem⋈orders on
    orderkey and ⋈customer on custkey.
    """
    li = load_table(spark, sf_dir, "lineitem")
    p = (
        load_table(spark, sf_dir, "part")
        .filter(F.col("p_type") == "ECONOMY")
        .select("p_partkey")
    )
    s = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "AMERICA")
    n_cust = (
        n.join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .select(F.col("n_nationkey").alias("cn_key"))
    )
    n_supp = n.select(
        F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation")
    )
    vol = _disc_price()
    zero = F.lit(0).cast("decimal(25,4)")
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n_supp), F.col("s_nationkey") == F.col("sn_key"))
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n_cust), F.col("c_nationkey") == F.col("cn_key"), "left_semi")
        .groupBy(F.year("o_orderdate").alias("o_year"))
        .agg(
            F.sum(F.when(F.col("supp_nation") == "NATION_1", vol).otherwise(zero))
            .alias("_target"),
            F.sum(vol).alias("_total"),
        )
        .select(
            "o_year",
            F.round(
                F.col("_target").cast("double") / F.col("_total").cast("double"), 6
            ).alias("mkt_share"),
            F.col("_total").cast("double").alias("total_volume"),
        )
        .orderBy("o_year")
    )


ORACLE_Q8 = """
SELECT o_year,
       CAST(ROUND(CAST(CAST((CAST(SUM(CASE WHEN supp_nation = 'NATION_1' THEN volume
                           ELSE CAST(0 AS DECIMAL(25,4)) END) AS DOUBLE)
             / CAST(SUM(volume) AS DOUBLE)) AS VARCHAR) AS DECIMAL(38,30)), 6) AS DOUBLE) AS mkt_share,
       CAST(SUM(volume) AS DOUBLE) AS total_volume
FROM (
  SELECT YEAR(o_orderdate) AS o_year,
         CAST(l_extendedprice AS DECIMAL(12,2))
           * CAST(1.0 - l_discount AS DECIMAL(12,2)) AS volume,
         n1.n_name AS supp_nation
  FROM lineitem
  JOIN part ON l_partkey = p_partkey
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation n1 ON s_nationkey = n1.n_nationkey
  JOIN orders ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  JOIN nation n2 ON c_nationkey = n2.n_nationkey
  JOIN region ON n2.n_regionkey = r_regionkey
  WHERE r_name = 'AMERICA' AND p_type = 'ECONOMY'
    AND o_orderdate >= TIMESTAMP '1996-01-01'
    AND o_orderdate < TIMESTAMP '1998-01-01'
) t
GROUP BY o_year
ORDER BY o_year
"""


def q5_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q5 shape: revenue per nation from orders where the supplier and
    the customer sit in the SAME nation, one region, one order year.

    Completes the classic 22 (Q13's histogram shape lives in
    relational.outer_join_order_counts).  Plan: orders is date-filtered
    at the scan (pushed predicate) before its shuffle join with
    lineitem; customer shuffles once on custkey; supplier, nation and
    region broadcast.  The c_nationkey = s_nationkey "local" predicate
    is applied as the supplier join's second equi-key, so it prunes
    inside the broadcast hash join rather than post-filtering the
    full cross-nation stream.
    """
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_extendedprice", "l_discount"
    )
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    ).select("o_orderkey", "o_custkey")
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    s = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(
            F.broadcast(s),
            (li.l_suppkey == s.s_suppkey)
            & (c.c_nationkey == s.s_nationkey),
        )
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy(F.col("n_name").alias("nation"))
        .agg(
            F.sum(_disc_price()).cast("double").alias("revenue"),
            F.count(F.lit(1)).alias("n_lines"),
        )
        .orderBy(F.col("revenue").desc(), "nation")
    )


ORACLE_Q5 = """
SELECT n_name AS nation,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
                * CAST(1.0 - l_discount AS DECIMAL(12,2))) AS DOUBLE) AS revenue,
       CAST(COUNT(*) AS BIGINT) AS n_lines
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
JOIN nation ON s_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
  AND o_orderdate >= TIMESTAMP '1996-01-01'
  AND o_orderdate < TIMESTAMP '1997-01-01'
GROUP BY n_name
ORDER BY revenue DESC, nation
"""


def q9_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q9 shape: profit on red parts by supplier nation and order year.

    amount = disc_price − retailprice·quantity, all four factors 2-dp
    (or integer) doubles cast to DECIMAL(12,2) so the products and the
    difference are exact in both engines; the sum stays decimal until
    the output cast.  part (name-filtered, broadcast) prunes lineitem
    before the orders shuffle; supplier+nation broadcast.
    """
    li = load_table(spark, sf_dir, "lineitem")
    p = (
        load_table(spark, sf_dir, "part")
        .filter(F.col("p_name").like("%red%"))
        .select("p_partkey", "p_retailprice")
    )
    s = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    n = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    amount = _disc_price() - _dec2("p_retailprice") * _dec2("l_quantity")
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), F.col("s_nationkey") == n.n_nationkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .groupBy(
            F.col("n_name").alias("nation"), F.year("o_orderdate").alias("o_year")
        )
        .agg(
            F.sum(amount).cast("double").alias("sum_profit"),
            F.count(F.lit(1)).alias("n_lines"),
        )
        .orderBy("nation", F.col("o_year").desc())
    )


ORACLE_Q9 = """
SELECT nation, o_year,
       CAST(SUM(amount) AS DOUBLE) AS sum_profit,
       CAST(COUNT(*) AS BIGINT) AS n_lines
FROM (
  SELECT n_name AS nation, YEAR(o_orderdate) AS o_year,
         CAST(l_extendedprice AS DECIMAL(12,2))
           * CAST(1.0 - l_discount AS DECIMAL(12,2))
         - CAST(p_retailprice AS DECIMAL(12,2))
           * CAST(l_quantity AS DECIMAL(12,2)) AS amount
  FROM lineitem
  JOIN part ON l_partkey = p_partkey
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation ON s_nationkey = n_nationkey
  JOIN orders ON l_orderkey = o_orderkey
  WHERE p_name LIKE '%red%'
) t
GROUP BY nation, o_year
ORDER BY nation, o_year DESC
"""


def q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q10 shape: top-20 customers by revenue lost to returns in one
    quarter.

    Ranking happens on the EXACT decimal revenue with a c_custkey
    tie-break before the output double cast, so the limit boundary is
    engine-stable; top-k is TakeOrderedAndProject.  orders carries the
    quarter filter into the lineitem shuffle join; customer joins on
    custkey, nation broadcasts.
    """
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-04-01").cast("timestamp"))
    )
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(F.sum(_disc_price()).alias("_rev"))
        .orderBy(F.col("_rev").desc(), "c_custkey")
        .limit(20)
        .select(
            "c_custkey",
            "c_name",
            F.col("_rev").cast("double").alias("revenue"),
            "c_acctbal",
            "n_name",
        )
    )


ORACLE_Q10 = """
SELECT c_custkey, c_name, CAST(revenue AS DOUBLE) AS revenue, c_acctbal, n_name
FROM (
  SELECT c_custkey, c_name, c_acctbal, n_name,
         SUM(CAST(l_extendedprice AS DECIMAL(12,2))
             * CAST(1.0 - l_discount AS DECIMAL(12,2))) AS revenue
  FROM lineitem
  JOIN orders ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  JOIN nation ON c_nationkey = n_nationkey
  WHERE l_returnflag = 'R'
    AND o_orderdate >= TIMESTAMP '1996-01-01'
    AND o_orderdate < TIMESTAMP '1996-04-01'
  GROUP BY c_custkey, c_name, c_acctbal, n_name
) t
ORDER BY revenue DESC, c_custkey
LIMIT 20
"""


def q11_important_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q11 shape: parts whose EUROPE-supplied value exceeds 0.01% of
    the total — a scalar aggregate subquery broadcast back over the
    grouped table.

    Value is summed in exact fixed-point (price cents × integer
    quantity, a long) because the decimal form can't express the
    threshold compare inside DECIMAL(38): value_dec(35,4) × 0.0001
    needs precision 48.  In longs the compare is 10000·part > total,
    exact in both engines; per-line values ≤ 5·10⁸ cents keep the
    10000× product within int64 up to ~10¹⁴ total lines (ANSI mode
    raises on overflow rather than wrapping).  The total is a second
    aggregate of the SAME grouped frame (cached: a few thousand part
    rows), broadcast as a 1-row cross join — no second lineitem scan.
    """
    li = load_table(spark, sf_dir, "lineitem")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    s_eur = (
        load_table(spark, sf_dir, "supplier")
        .join(F.broadcast(n), F.col("s_nationkey") == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .select("s_suppkey")
    )
    val_cents = (
        F.round(F.col("l_extendedprice") * 100.0, 0).cast("long") * _qty_long()
    )
    per_part = (
        li.join(F.broadcast(s_eur), li.l_suppkey == s_eur.s_suppkey, "left_semi")
        .groupBy("l_partkey")
        .agg(F.sum(val_cents).alias("_cents"))
        .cache()
    )
    total = per_part.agg(F.sum("_cents").alias("_total_cents"))
    return (
        per_part.crossJoin(F.broadcast(total))
        .filter(F.col("_cents") * F.lit(10000) > F.col("_total_cents"))
        .select(
            F.col("l_partkey").alias("p_partkey"),
            (F.col("_cents").cast("double") / 100.0).alias("part_value"),
        )
        .orderBy(F.col("part_value").desc(), "p_partkey")
    )


ORACLE_Q11 = """
WITH per_part AS (
  SELECT l_partkey AS p_partkey,
         CAST(SUM(CAST(ROUND(l_extendedprice * 100.0, 0) AS BIGINT)
                  * CAST(l_quantity AS BIGINT)) AS BIGINT) AS cents
  FROM lineitem
  WHERE l_suppkey IN (
    SELECT s_suppkey FROM supplier
    JOIN nation ON s_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    WHERE r_name = 'EUROPE')
  GROUP BY l_partkey
)
SELECT p_partkey, CAST(cents AS DOUBLE) / 100.0 AS part_value
FROM per_part
WHERE cents * 10000 > (SELECT CAST(SUM(cents) AS BIGINT) FROM per_part)
ORDER BY part_value DESC, p_partkey
"""


def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q15 shape: the supplier(s) hitting the maximum quarterly
    revenue — revenue view, then equality against its own MAX.

    The max is a 1-row aggregate of the (cached, ~|supplier|-row)
    revenue frame broadcast back as a cross join; equality compares
    the engine's own exact decimal sums, so ties select identically
    in Spark and DuckDB.  One lineitem shuffle on l_suppkey total.
    """
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp"))
    )
    s = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    rev = li.groupBy("l_suppkey").agg(F.sum(_disc_price()).alias("_rev")).cache()
    best = rev.agg(F.max("_rev").alias("_best"))
    return (
        rev.crossJoin(F.broadcast(best))
        .filter(F.col("_rev") == F.col("_best"))
        .join(F.broadcast(s), F.col("l_suppkey") == s.s_suppkey)
        .select(
            "s_suppkey", "s_name", F.col("_rev").cast("double").alias("total_revenue")
        )
        .orderBy("s_suppkey")
    )


ORACLE_Q15 = """
WITH revenue AS (
  SELECT l_suppkey,
         SUM(CAST(l_extendedprice AS DECIMAL(12,2))
             * CAST(1.0 - l_discount AS DECIMAL(12,2))) AS total
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1996-01-01'
    AND l_shipdate < TIMESTAMP '1996-04-01'
  GROUP BY l_suppkey
)
SELECT s_suppkey, s_name, CAST(total AS DOUBLE) AS total_revenue
FROM revenue JOIN supplier ON l_suppkey = s_suppkey
WHERE total = (SELECT MAX(total) FROM revenue)
ORDER BY s_suppkey
"""


def q20_heavy_shippers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q20 shape: suppliers who shipped more than half their lifetime
    volume of any small part during 1997 — a nested IN containing a
    group-HAVING, planned as aggregate → filter → semi join.

    Both sums come from ONE conditional-aggregate pass over the
    part-filtered lineitem (no second scan for the denominator), in
    exact long arithmetic; the 0.5 fraction is the integer compare
    2·qty_1997 > qty_total, so no float threshold is involved.  The
    distinct surviving suppkeys semi-join the 100-row supplier dim.
    """
    li = load_table(spark, sf_dir, "lineitem")
    p = (
        load_table(spark, sf_dir, "part")
        .filter(F.col("p_name").like("small%"))
        .select("p_partkey")
    )
    s = load_table(spark, sf_dir, "supplier")
    in_1997 = F.year("l_shipdate") == 1997
    heavy = (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey, "left_semi")
        .groupBy("l_suppkey", "l_partkey")
        .agg(
            F.sum(F.when(in_1997, _qty_long()).otherwise(F.lit(0))).alias("q97"),
            F.sum(_qty_long()).alias("q_all"),
        )
        .filter(F.lit(2) * F.col("q97") > F.col("q_all"))
        .select("l_suppkey")
        .distinct()
    )
    return (
        s.join(heavy, s.s_suppkey == heavy.l_suppkey, "left_semi")
        .select("s_suppkey", "s_name")
        .orderBy("s_suppkey")
    )


ORACLE_Q20 = """
SELECT s_suppkey, s_name
FROM supplier
WHERE s_suppkey IN (
  SELECT l_suppkey
  FROM lineitem
  WHERE l_partkey IN (SELECT p_partkey FROM part WHERE p_name LIKE 'small%')
  GROUP BY l_suppkey, l_partkey
  HAVING 2 * CAST(SUM(CASE WHEN YEAR(l_shipdate) = 1997
                           THEN CAST(l_quantity AS BIGINT) ELSE 0 END) AS BIGINT)
       > CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT)
)
ORDER BY s_suppkey
"""


def q21_waiting_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q21 shape: suppliers who alone delayed a multi-supplier order
    (ship > 90 days after order date, order status F).

    The classic EXISTS (another supplier on the order) / NOT EXISTS
    (another LATE supplier) pair is decorrelated into ONE per-order
    aggregate: n_supp = countDistinct(suppkey), n_late_supp =
    countDistinct(suppkey | late).  A late line's supplier is the sole
    blocker iff n_supp ≥ 2 and n_late_supp = 1 — no correlated
    re-scans, one extra shuffle on orderkey that AQE coalesces with
    the orders join.  numwait counts DISTINCT orders per supplier.
    """
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderstatus") == "F"
    ).select("o_orderkey", "o_orderdate")
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_shipdate"
    )
    s = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    late = F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 90 DAYS")
    lo = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .withColumn("_late", late)
        .select("l_orderkey", "l_suppkey", "_late")
    )
    per_order = lo.groupBy("l_orderkey").agg(
        F.countDistinct("l_suppkey").alias("n_supp"),
        F.countDistinct(F.when(F.col("_late"), F.col("l_suppkey"))).alias(
            "n_late_supp"
        ),
    )
    blockers = (
        lo.filter(F.col("_late"))
        .select("l_orderkey", "l_suppkey")
        .distinct()
        .join(
            per_order.filter(
                (F.col("n_supp") >= 2) & (F.col("n_late_supp") == 1)
            ).select("l_orderkey"),
            "l_orderkey",
            "left_semi",
        )
    )
    return (
        blockers.groupBy("l_suppkey")
        .agg(F.countDistinct("l_orderkey").alias("numwait"))
        .join(F.broadcast(s), F.col("l_suppkey") == s.s_suppkey)
        .select("s_name", "numwait")
        .orderBy(F.col("numwait").desc(), "s_name")
        .limit(100)
    )


ORACLE_Q21 = """
WITH lo AS (
  SELECT l_orderkey, l_suppkey,
         l_shipdate > o_orderdate + INTERVAL 90 DAY AS late
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  WHERE o_orderstatus = 'F'
)
SELECT s_name, CAST(COUNT(DISTINCT l1.l_orderkey) AS BIGINT) AS numwait
FROM lo l1
JOIN supplier ON l1.l_suppkey = s_suppkey
WHERE l1.late
  AND EXISTS (SELECT 1 FROM lo l2
              WHERE l2.l_orderkey = l1.l_orderkey
                AND l2.l_suppkey <> l1.l_suppkey)
  AND NOT EXISTS (SELECT 1 FROM lo l3
                  WHERE l3.l_orderkey = l1.l_orderkey
                    AND l3.l_suppkey <> l1.l_suppkey
                    AND l3.late)
GROUP BY s_name
ORDER BY numwait DESC, s_name
LIMIT 100
"""


#: Registered queries, each mapped to its DuckDB oracle (see __spark_entry__).
QUERIES = {
    q2_min_cost_supplier: ORACLE_Q2,
    q5_local_supplier_volume: ORACLE_Q5,
    q7_nation_trade_flows: ORACLE_Q7,
    q8_market_share: ORACLE_Q8,
    q9_product_profit: ORACLE_Q9,
    q10_returned_items: ORACLE_Q10,
    q11_important_parts: ORACLE_Q11,
    q15_top_supplier: ORACLE_Q15,
    q20_heavy_shippers: ORACLE_Q20,
    q21_waiting_suppliers: ORACLE_Q21,
}
