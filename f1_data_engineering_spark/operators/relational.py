"""Core relational operators on the driver test tables.

Covers SURVEY.md §2.2 (projection/filter), §2.3 (joins), §2.4
(aggregation), §2.5 (windows), §2.6 (sort/limit/top-k), §2.7 (set ops),
plus the JSON scalar surface on ``events.props``.

Determinism & oracle parity conventions (driver compares to DuckDB by
row count + schema + order-insensitive value hash):

* every computed column is aliased; names match the oracle SQL exactly;
* double aggregates go through DECIMAL(38,4) so Spark's partial
  aggregation order and DuckDB's serial order produce bit-identical
  sums (float addition is non-associative; decimal is exact) — then a
  final ``cast("double")`` so both engines emit the same storage type
  (converting the same exact decimal to IEEE double is deterministic);
* averages are derived as ``round(sum_decimal_as_double / count, 6)``
  rather than ``avg()`` — Spark's avg(decimal) returns decimal(38,8)
  while DuckDB's returns double, which would diverge in type and ulps;
* `first`-style picks use min_by/max_by with an explicit key — never
  "whatever row came first" (pandas row-order semantics don't exist in
  a distributed engine);
* top-k queries order by a unique tiebreaker before LIMIT.

Scale notes are inline per operator — each one states the shuffle it
causes and why that's the minimal shuffle for the semantics.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from ..sources.registry import load_table

DEC = "decimal(38,4)"


def _dec(c) -> F.Column:
    col = F.col(c) if isinstance(c, str) else c
    return col.cast(DEC)


def _dec2(c) -> F.Column:
    """Exact 2-dp decimal of a 2-dp-valued double factor.

    Casting each FACTOR (price, 1-discount, 1+tax — all 2-dp values, so
    no .xx5 rounding ties exist) and multiplying in decimal keeps the
    product exact in both engines.  Casting the double PRODUCT instead
    would hit .xxxx5 ties where Spark (shortest-string HALF_UP) and
    DuckDB (scaled-multiply) round differently.  DECIMAL(12,2) keeps
    the 3-factor product precision ≤ 36, inside DuckDB's 38 cap.
    """
    col = F.col(c) if isinstance(c, str) else c
    return col.cast("decimal(12,2)")


def _disc_price() -> F.Column:
    """l_extendedprice * (1 - l_discount), exact decimal."""
    return _dec2("l_extendedprice") * _dec2(1 - F.col("l_discount"))


def _charge() -> F.Column:
    """l_extendedprice * (1 - l_discount) * (1 + l_tax), exact decimal."""
    return _disc_price() * _dec2(1 + F.col("l_tax"))


def _cents(c: F.Column | str) -> F.Column:
    """Exact fixed-point: a 2-dp double × 100, rounded to long.

    The double is within 1 ulp of an integer after ×100, so round()
    never sees a .5 tie — Spark and DuckDB produce the identical long.
    Long arithmetic keeps the hot aggregates inside whole-stage codegen
    (primitive sums) instead of the BigDecimal path that a
    decimal(25,4)+ product forces: measured 2.5× on Q1 at sf0.1,
    bit-identical results (the exact integer sum converts to double
    once, same as the exact decimal sum).

    Overflow bound: with ANSI mode on (this engine's default) a long
    overflow RAISES rather than wrapping.  3-factor micro-unit sums
    (price¢ × pct × pct ≈ 4e10/row) stay under 2^63 to ~1e8 rows per
    group — beyond that (SF ≳ 100 per TPC-H group), use the _dec2
    decimal path, which is precision-unbounded.
    """
    col = F.col(c) if isinstance(c, str) else c
    return F.round(col * 100).cast("long")


# ---------------------------------------------------------------------------
# §2.4 aggregation
# ---------------------------------------------------------------------------


def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship: TPC-H Q1-shaped pricing summary on lineitem.

    Operators: scan → filter (pushed to parquet row groups) → hash agg
    (partial map-side combine, then one shuffle on the 2 low-cardinality
    keys) → sort.  The group count is tiny (~6), so the shuffle moves
    only pre-aggregated partials — this plan is flat-optimal at 100 TB.

    Arithmetic: fixed-point longs (see :func:`_cents`) — primitive
    codegen'd sums, bit-identical to the decimal oracle, ANSI-guarded
    against overflow (switch to the _dec/_dec2 path beyond ~1e8 rows
    per group).
    """
    li = load_table(spark, sf_dir, "lineitem")
    n = F.count(F.lit(1))
    qty, price = _cents("l_quantity"), _cents("l_extendedprice")
    disc1 = _cents(1 - F.col("l_discount"))
    tax1 = _cents(1 + F.col("l_tax"))
    disc = _cents("l_discount")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            (F.sum(qty).cast("double") / 100).alias("sum_qty"),
            (F.sum(price).cast("double") / 100).alias("sum_base_price"),
            (F.sum(price * disc1).cast("double") / 10000).alias("sum_disc_price"),
            (F.sum(price * disc1 * tax1).cast("double") / 1000000).alias(
                "sum_charge"
            ),
            F.round(F.sum(qty).cast("double") / 100 / n, 6).alias("avg_qty"),
            F.round(F.sum(price).cast("double") / 100 / n, 6).alias("avg_price"),
            F.round(F.sum(disc).cast("double") / 100 / n, 6).alias("avg_disc"),
            n.alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


def stint_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1 tyre-stint analog on events: per (user_id, event_type) —
    first value by time (min_by ≡ the reference's ordered ``iloc[0]``,
    f1_dataExtractor.py:348), min/max ts, count.

    One shuffle on the group keys; min_by replaces the reference's
    nested unique()-loop group-by (f1_dataExtractor.py:334-353).
    """
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.filter(F.col("event_type").isNotNull())
        .groupBy("user_id", "event_type")
        .agg(
            F.min_by(F.struct("ts", "event_id", "value"), F.struct("ts", "event_id"))[
                "value"
            ].alias("first_value"),
            F.min("ts").alias("start_ts"),
            F.max("ts").alias("end_ts"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .orderBy("user_id", "event_type")
    )


def agg_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4/A5 + distinct-agg: per-segment customer stats with
    count / countDistinct / min / max / avg (decimal-exact)."""
    c = load_table(spark, sf_dir, "customer")
    return (
        c.groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.countDistinct("c_nationkey").alias("n_nations"),
            F.min(_dec("c_acctbal")).cast("double").alias("min_bal"),
            F.max(_dec("c_acctbal")).cast("double").alias("max_bal"),
            F.sum(_dec("c_acctbal")).cast("double").alias("sum_bal"),
        )
        .orderBy("c_mktsegment")
    )


def pivot_returnflag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A7 implicit pivot (stint stacked-bar, streamlit_app.py:385-389):
    groupBy l_returnflag pivot l_linestatus sum(l_quantity).

    Pivot values are declared explicitly so the plan is a single-pass
    hash aggregate (omitting them adds a distinct-scan job to discover
    them — a full extra pass at 100 TB).
    """
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .pivot("l_linestatus", ["F", "O"])
        .agg(F.sum(_dec("l_quantity")))
        .withColumnsRenamed({"F": "qty_f", "O": "qty_o"})
        .select(
            "l_returnflag",
            F.col("qty_f").cast("double").alias("qty_f"),
            F.col("qty_o").cast("double").alias("qty_o"),
        )
        .orderBy("l_returnflag")
    )


def rollup_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouping-sets surface (free in Spark, absent in the reference —
    SURVEY.md §2.4): rollup over (o_orderstatus, o_orderpriority)."""
    o = load_table(spark, sf_dir, "orders")
    return (
        o.rollup("o_orderstatus", "o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(_dec("o_totalprice")).cast("double").alias("sum_price"),
        )
        .orderBy(
            F.col("o_orderstatus").asc_nulls_first(),
            F.col("o_orderpriority").asc_nulls_first(),
        )
    )


# ---------------------------------------------------------------------------
# §2.2 projection / filter
# ---------------------------------------------------------------------------


def filter_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P1-P7 composite: NOT NULL + range + IN-list predicates with a
    derived-column projection.  All three predicates push into the
    parquet scan (verify: plans.assert_pushed_filters)."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate").isNotNull())
        .filter(F.col("l_quantity") > 0)
        .filter(F.col("l_returnflag").isin("A", "R"))
        .select(
            "l_orderkey",
            "l_linenumber",
            "l_returnflag",
            "l_quantity",
            _disc_price().cast("double").alias("net_price"),
        )
    )


# ---------------------------------------------------------------------------
# §2.3 joins
# ---------------------------------------------------------------------------


def join_customer_nation_region(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J2-style dimension enrichment: customer ⋈ nation ⋈ region with
    explicit broadcast of the small dims — zero shuffle of the fact
    side; at 100 TB the dims are KBs, so broadcast is always right."""
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    return (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("r_name", "n_name")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.sum(_dec("c_acctbal")).cast("double").alias("sum_bal"),
        )
        .orderBy("r_name", "n_name")
    )


def revenue_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5-shaped multi-join: lineitem ⋈ orders ⋈ customer ⋈
    nation — the two big tables shuffle-join on orderkey; dims
    broadcast.  AQE converts to broadcast where a side is small and
    splits skewed orderkey partitions."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg(
            # fixed-point: price¢ × pct ≈ 4e8/row → per-nation sums stay
            # under 2^63 through SF100+; ANSI raises if ever exceeded
            (F.sum(_cents("l_extendedprice") * _cents(1 - F.col("l_discount")))
             .cast("double") / 10000).alias("revenue"),
            F.count(F.lit(1)).alias("n_lineitems"),
        )
        .orderBy("n_name")
    )


def semi_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi/anti join surface: customers WITH orders vs WITHOUT, per
    market segment (EXISTS / NOT EXISTS).  Left-semi and left-anti
    shuffle only distinct keys of the probe side."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    with_orders = (
        c.join(o, c.c_custkey == o.o_custkey, "left_semi")
        .groupBy("c_mktsegment")
        .agg(F.count(F.lit(1)).alias("n"))
        .withColumn("has_orders", F.lit(True))
    )
    without = (
        c.join(o, c.c_custkey == o.o_custkey, "left_anti")
        .groupBy("c_mktsegment")
        .agg(F.count(F.lit(1)).alias("n"))
        .withColumn("has_orders", F.lit(False))
    )
    return with_orders.unionByName(without).orderBy("c_mktsegment", "has_orders")


def outer_join_order_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left outer join + conditional agg: order count per customer
    including zero-order customers (TPC-H Q13 shape)."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    per_cust = (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy(c.c_custkey)
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return (
        per_cust.groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
        .orderBy(F.col("custdist").desc(), F.col("c_count").desc())
    )


def range_join_events_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1 interval/range join (the laps × telemetry shape,
    f1_dataExtractor.py:251-255): for a 1-in-1000 sample of orders,
    count lineitems (any order's) shipped in [o_orderdate,
    o_orderdate + 7 days), bucketized.

    Scale design (SURVEY.md §4.2 option b): a raw theta join is
    O(n·m) BroadcastNestedLoopJoin.  Instead both sides are tagged
    with a 7-day bucket — the interval spans at most 2 buckets, so
    each order is exploded to its ≤2 covering buckets via a literal
    array (no extra scan), then it's an EQUI join on the bucket +
    a residual band filter.  Shuffle is hash-partitioned on the
    bucket; at 100 TB this is a plain sort-merge join, no nested
    loop anywhere.
    """
    week = lambda c: F.floor(F.unix_date(F.to_date(c)) / 7)  # noqa: E731
    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_shipdate"), week("l_shipdate").alias("bucket")
    )
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderkey") % 1000 == 0
    ).select(
        "o_orderkey",
        "o_orderdate",
        (F.col("o_orderdate") + F.expr("INTERVAL 7 DAY")).alias("o_end"),
    )
    o_b = o.withColumn(
        "bucket",
        F.explode(
            F.array_distinct(F.array(week("o_orderdate"), week(F.col("o_end"))))
        ),
    )
    joined = o_b.join(li, "bucket").filter(
        (F.col("l_shipdate") >= F.col("o_orderdate"))
        & (F.col("l_shipdate") < F.col("o_end"))
    )
    return (
        joined.groupBy("o_orderkey")
        .agg(F.count(F.lit(1)).alias("n_shipped"))
        .orderBy("o_orderkey")
    )


# ---------------------------------------------------------------------------
# §2.5 windows
# ---------------------------------------------------------------------------


def window_value_changes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3/W1 gear-change analog (f1_dataExtractor.py:280-287): per user,
    count consecutive-event event_type changes (first row = no change,
    matching ``diff().fillna(0)``).

    One shuffle to partition by user_id, then a sort within partitions —
    the distributed rewrite of the reference's per-lap pandas diff.
    """
    ev = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    prev = F.lag("event_type").over(w)
    changed = F.when(prev.isNull(), 0).when(F.col("event_type") != prev, 1).otherwise(0)
    return (
        ev.withColumn("chg", changed)
        .groupBy("user_id")
        .agg(F.sum("chg").alias("n_type_changes"), F.count(F.lit(1)).alias("n_events"))
        .orderBy("user_id")
    )


def running_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A6/W2 distance-integration analog (f1_dataExtractor.py:260):
    running sum of value per user ordered by (ts, event_id) — the
    unbounded-preceding→current-row frame.  Decimal accumulator so the
    per-row prefix sums match the serial oracle exactly."""
    ev = load_table(spark, sf_dir, "events")
    w = (
        W.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    return ev.select(
        "event_id",
        "user_id",
        F.sum(_dec("value")).over(w).cast("double").alias("running_value"),
    ).orderBy("user_id", "event_id")


def rank_orders_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ranking surface (absent in the reference, SURVEY.md §2.5): top-3
    orders per customer by totalprice via row_number — the classic
    per-group top-k that avoids a global sort."""
    o = load_table(spark, sf_dir, "orders")
    w = W.partitionBy("o_custkey").orderBy(F.col("o_totalprice").desc(), "o_orderkey")
    return (
        o.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select(
            "o_custkey",
            "o_orderkey",
            _dec("o_totalprice").cast("double").alias("totalprice"),
            "rn",
        )
        .orderBy("o_custkey", "rn")
    )


# ---------------------------------------------------------------------------
# §2.6 sort / limit / top-k; §2.4 A4 distinct
# ---------------------------------------------------------------------------


def top_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O5/O6 value-based top-k: 10 most expensive orders.  TakeOrdered
    (per-partition heap + driver merge of k·partitions rows), not a
    global sort; deterministic via the orderkey tiebreaker."""
    o = load_table(spark, sf_dir, "orders")
    return (
        o.orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
        .select(
            "o_orderkey",
            "o_custkey",
            _dec("o_totalprice").cast("double").alias("totalprice"),
        )
        .limit(10)
    )


def distinct_sorted_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4/O4: sorted distinct key enumeration (driver lists,
    streamlit_app.py:235,415) — partial-aggregated distinct, tiny
    shuffle."""
    ev = load_table(spark, sf_dir, "events")
    return ev.select("event_type").where(F.col("event_type").isNotNull()).distinct().orderBy(
        "event_type"
    )


#: stride_downsample time-bucket width (1 h in microseconds).  Sized so
#: each bucket's window input is one task's worth of rows; narrow it for
#: denser streams.
STRIDE_BUCKET_US = 3_600_000_000


def stride_downsample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O7 deterministic stride downsample (weather axis ticks,
    streamlit_app.py:299-302): every ⌈n/10⌉-th event by global time
    order.

    Two-level global row-numbering (same shape as orderkey_islands):
    ``ts`` is the leading sort key, so hour buckets are order-aligned —
    ``row_number`` runs per bucket (partitioned window, no global
    sort), and each bucket's global offset comes from the bucket-count
    aggregate.  The counts relation is metadata-sized (one row per
    hour), so it is collected and rebroadcast rather than windowed —
    replacing the old plan's full single-partition WindowExec AND its
    separate full-scan ``count()`` action with one tiny aggregate job.
    """
    ev = load_table(spark, sf_dir, "events").select("event_id", "ts", "value")
    b = ev.withColumn(
        "bucket", F.floor(F.unix_micros("ts") / F.lit(STRIDE_BUCKET_US))
    )
    counts = b.groupBy("bucket").agg(F.count(F.lit(1)).alias("cnt")).collect()
    counts.sort(key=lambda r: (r["bucket"] is not None, r["bucket"]))
    total = sum(r["cnt"] for r in counts)
    step = max(1, -(-total // 10))  # ceil
    offs, acc = [], 0
    for r in counts:
        offs.append((r["bucket"], acc))
        acc += r["cnt"]
    off_df = spark.createDataFrame(offs, schema="bucket long, off long")
    wb = W.partitionBy("bucket").orderBy("ts", "event_id")
    return (
        b.withColumn("lrn", F.row_number().over(wb))
        .join(F.broadcast(off_df), "bucket")
        .filter(((F.col("off") + F.col("lrn") - 1) % step) == 0)
        .select("event_id", "ts", "value")
        .orderBy("event_id")
    )


# ---------------------------------------------------------------------------
# §2.7 set ops
# ---------------------------------------------------------------------------


def set_ops_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Union/intersect/except surface (absent in the reference,
    SURVEY.md §2.7): customer nations vs supplier nations."""
    c = load_table(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("nationkey"))
    s = load_table(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("nationkey"))
    both = c.intersect(s).withColumn("relation", F.lit("both"))
    cust_only = c.distinct().exceptAll(s.distinct()).withColumn("relation", F.lit("customer_only"))
    return both.unionByName(cust_only).orderBy("relation", "nationkey")


# ---------------------------------------------------------------------------
# JSON scalar surface (events.props)
# ---------------------------------------------------------------------------


def json_props_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON extraction on events.props (beyond-reference scalar surface,
    SURVEY.md §2.8 tail): a single ``get_json_object`` path extraction —
    for one field this is equivalent to ``from_json`` (one parse per
    row); if more fields are ever pulled, switch to ``from_json`` with a
    multi-field schema so the document is still parsed only once."""
    ev = load_table(spark, sf_dir, "events")
    parsed = ev.select(
        "event_type",
        F.get_json_object("props", "$.k").try_cast("long").alias("k"),
    )
    return (
        parsed.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("k").alias("sum_k"),
            F.min("k").alias("min_k"),
            F.max("k").alias("max_k"),
        )
        .orderBy("event_type")
    )


def variant_props_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 VARIANT ingestion path: ``parse_json`` encodes props to
    the binary VARIANT type ONCE per row; ``try_variant_get`` then
    navigates the encoded value without re-parsing — the semi-structured
    answer to get_json_object when several fields are pulled (each
    additional extraction is a cheap binary walk, not a regex/parse).

    Same rollup semantics as :func:`json_props_extract`, so the DuckDB
    oracle is plain JSON SQL — the VARIANT encoding is an engine detail
    the result must be invariant to.
    """
    ev = load_table(spark, sf_dir, "events")
    # try_parse_json, not parse_json: a single malformed props string
    # must yield a NULL variant (→ NULL k), not kill the whole job —
    # dirty JSON is a normal condition in ingested event streams
    v = ev.select(
        "event_type", F.try_parse_json("props").alias("p")
    ).select(
        "event_type",
        F.try_variant_get(F.col("p"), "$.k", "long").alias("k"),
    )
    return (
        v.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.count("k").alias("n_with_k"),
            F.sum("k").alias("sum_k"),
            F.max("k").alias("max_k"),
        )
        .orderBy("event_type")
    )


ORACLE_VARIANT_PROPS = """
WITH v AS (
  -- json_valid guard: see ORACLE_JSON_PROPS (malformed props must be
  -- NULL, not an oracle error; matches try_parse_json -> NULL variant)
  SELECT event_type,
         TRY_CAST(CASE WHEN json_valid(props)
                       THEN json_extract_string(props, '$.k') END
                  AS BIGINT) AS k
  FROM events
)
SELECT event_type, COUNT(*) AS n, COUNT(k) AS n_with_k,
  CAST(SUM(k) AS BIGINT) AS sum_k, MAX(k) AS max_k
FROM v GROUP BY event_type ORDER BY event_type
"""


# ---------------------------------------------------------------------------
# DuckDB oracle SQL twins (driver contract: same column names, same values)
# ---------------------------------------------------------------------------

# the three averages round via the double→VARCHAR→DECIMAL(38,30) chain
# (pandas_ops._oracle_round6): DuckDB's native ROUND(double, 6) rounds
# the SCALED double and disagrees with Spark's shortest-repr HALF_UP on
# exact 6-dp HALF boundaries — the relational fuzzer found avg_disc
# landing on 0.0628125 (scaled double 62812.4999…) and splitting the
# engines 0.062813 vs 0.062812
from .pandas_ops import _oracle_round6 as _r6  # noqa: E402

ORACLE_Q1 = f"""
SELECT l_returnflag, l_linestatus,
  CAST(SUM(CAST(l_quantity AS DECIMAL(38,4))) AS DOUBLE) AS sum_qty,
  CAST(SUM(CAST(l_extendedprice AS DECIMAL(38,4))) AS DOUBLE) AS sum_base_price,
  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(1-l_discount AS DECIMAL(12,2))) AS DOUBLE) AS sum_disc_price,
  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(1-l_discount AS DECIMAL(12,2)) * CAST(1+l_tax AS DECIMAL(12,2))) AS DOUBLE) AS sum_charge,
  {_r6("CAST(SUM(CAST(l_quantity AS DECIMAL(38,4))) AS DOUBLE)/COUNT(*)")} AS avg_qty,
  {_r6("CAST(SUM(CAST(l_extendedprice AS DECIMAL(38,4))) AS DOUBLE)/COUNT(*)")} AS avg_price,
  {_r6("CAST(SUM(CAST(l_discount AS DECIMAL(38,4))) AS DOUBLE)/COUNT(*)")} AS avg_disc,
  COUNT(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02'
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
"""

ORACLE_STINT = """
WITH ranked AS (
  SELECT user_id, event_type, ts, value,
         row_number() OVER (PARTITION BY user_id, event_type
                            ORDER BY ts, event_id) AS rn
  FROM events WHERE event_type IS NOT NULL
)
SELECT user_id, event_type,
  max(CASE WHEN rn = 1 THEN value END) AS first_value,
  CAST(min(ts) AS TIMESTAMP) AS start_ts, CAST(max(ts) AS TIMESTAMP) AS end_ts,
  count(*) AS n_events
FROM ranked
GROUP BY user_id, event_type
ORDER BY user_id, event_type
"""

ORACLE_AGG_STATS = """
SELECT c_mktsegment,
  COUNT(*) AS n_customers,
  COUNT(DISTINCT c_nationkey) AS n_nations,
  CAST(MIN(CAST(c_acctbal AS DECIMAL(38,4))) AS DOUBLE) AS min_bal,
  CAST(MAX(CAST(c_acctbal AS DECIMAL(38,4))) AS DOUBLE) AS max_bal,
  CAST(SUM(CAST(c_acctbal AS DECIMAL(38,4))) AS DOUBLE) AS sum_bal
FROM customer GROUP BY c_mktsegment ORDER BY c_mktsegment
"""

ORACLE_PIVOT = """
SELECT l_returnflag,
  CAST(SUM(CASE WHEN l_linestatus = 'F' THEN CAST(l_quantity AS DECIMAL(38,4)) END) AS DOUBLE) AS qty_f,
  CAST(SUM(CASE WHEN l_linestatus = 'O' THEN CAST(l_quantity AS DECIMAL(38,4)) END) AS DOUBLE) AS qty_o
FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
"""

ORACLE_ROLLUP = """
SELECT o_orderstatus, o_orderpriority,
  COUNT(*) AS n_orders,
  CAST(SUM(CAST(o_totalprice AS DECIMAL(38,4))) AS DOUBLE) AS sum_price
FROM orders
GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST
"""

ORACLE_FILTER_PROJECT = """
SELECT l_orderkey, l_linenumber, l_returnflag, l_quantity,
  CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(1-l_discount AS DECIMAL(12,2)) AS DOUBLE) AS net_price
FROM lineitem
WHERE l_shipdate IS NOT NULL AND l_quantity > 0 AND l_returnflag IN ('A','R')
"""

ORACLE_JOIN_CNR = """
SELECT r_name, n_name,
  COUNT(*) AS n_customers,
  CAST(SUM(CAST(c_acctbal AS DECIMAL(38,4))) AS DOUBLE) AS sum_bal
FROM customer
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY r_name, n_name ORDER BY r_name, n_name
"""

ORACLE_REVENUE_NATION = """
SELECT n_name,
  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(1-l_discount AS DECIMAL(12,2))) AS DOUBLE) AS revenue,
  COUNT(*) AS n_lineitems
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
GROUP BY n_name ORDER BY n_name
"""

ORACLE_SEMI_ANTI = """
SELECT c_mktsegment, COUNT(*) AS n, TRUE AS has_orders
FROM customer c
WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
GROUP BY c_mktsegment
UNION ALL
SELECT c_mktsegment, COUNT(*) AS n, FALSE AS has_orders
FROM customer c
WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
GROUP BY c_mktsegment
ORDER BY c_mktsegment, has_orders
"""

ORACLE_OUTER_COUNTS = """
WITH per_cust AS (
  SELECT c.c_custkey, COUNT(o.o_orderkey) AS c_count
  FROM customer c LEFT JOIN orders o ON c.c_custkey = o.o_custkey
  GROUP BY c.c_custkey
)
SELECT c_count, COUNT(*) AS custdist
FROM per_cust GROUP BY c_count
ORDER BY custdist DESC, c_count DESC
"""

ORACLE_RANGE_JOIN = """
SELECT o_orderkey, COUNT(*) AS n_shipped
FROM orders JOIN lineitem
  ON l_shipdate >= o_orderdate AND l_shipdate < o_orderdate + INTERVAL 7 DAY
WHERE o_orderkey % 1000 = 0
GROUP BY o_orderkey ORDER BY o_orderkey
"""

ORACLE_WINDOW_CHANGES = """
WITH x AS (
  SELECT user_id,
    CASE WHEN lag(event_type) OVER w IS NULL THEN 0
         WHEN event_type <> lag(event_type) OVER w THEN 1
         ELSE 0 END AS chg
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
)
SELECT user_id, CAST(SUM(chg) AS BIGINT) AS n_type_changes,
       COUNT(*) AS n_events
FROM x GROUP BY user_id ORDER BY user_id
"""

ORACLE_RUNNING_TOTAL = """
SELECT event_id, user_id,
  CAST(SUM(CAST(value AS DECIMAL(38,4))) OVER (
    PARTITION BY user_id ORDER BY ts, event_id
    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_value
FROM events ORDER BY user_id, event_id
"""

ORACLE_RANK_ORDERS = """
WITH r AS (
  SELECT o_custkey, o_orderkey,
    CAST(CAST(o_totalprice AS DECIMAL(38,4)) AS DOUBLE) AS totalprice,
    row_number() OVER (PARTITION BY o_custkey
                       ORDER BY o_totalprice DESC, o_orderkey) AS rn
  FROM orders
)
SELECT o_custkey, o_orderkey, totalprice, rn
FROM r WHERE rn <= 3 ORDER BY o_custkey, rn
"""

ORACLE_TOP_ORDERS = """
SELECT o_orderkey, o_custkey,
  CAST(CAST(o_totalprice AS DECIMAL(38,4)) AS DOUBLE) AS totalprice
FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 10
"""

ORACLE_DISTINCT_TYPES = """
SELECT DISTINCT event_type FROM events
WHERE event_type IS NOT NULL ORDER BY event_type
"""

ORACLE_STRIDE = """
WITH n AS (SELECT COUNT(*) AS n FROM events),
r AS (
  SELECT event_id, ts, value,
         row_number() OVER (ORDER BY ts, event_id) AS rn
  FROM events
)
SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, value
FROM r, n
WHERE (rn - 1) % GREATEST(1, CAST(CEIL(n / 10.0) AS BIGINT)) = 0
ORDER BY event_id
"""

ORACLE_SET_OPS = """
WITH c AS (SELECT DISTINCT c_nationkey AS nationkey FROM customer),
     s AS (SELECT DISTINCT s_nationkey AS nationkey FROM supplier)
SELECT nationkey, 'both' AS relation
FROM (SELECT nationkey FROM c INTERSECT SELECT nationkey FROM s)
UNION ALL
SELECT nationkey, 'customer_only' AS relation
FROM (SELECT nationkey FROM c EXCEPT SELECT nationkey FROM s)
ORDER BY relation, nationkey
"""

ORACLE_JSON_PROPS = """
WITH p AS (
  -- json_valid guard: DuckDB's ->> ERRORS on malformed/empty JSON
  -- where Spark's get_json_object returns NULL; TRY_CAST mirrors
  -- try_cast.  Checked contract is integral k / missing key /
  -- malformed doc / NULL props; fractional k is out of contract
  -- (Spark string->long casting rejects '3.7', DuckDB rounds).
  SELECT event_type,
         TRY_CAST(CASE WHEN json_valid(props) THEN props->>'k' END
                  AS BIGINT) AS k
  FROM events
)
SELECT event_type, COUNT(*) AS n,
  CAST(SUM(k) AS BIGINT) AS sum_k,
  MIN(k) AS min_k, MAX(k) AS max_k
FROM p GROUP BY event_type ORDER BY event_type
"""


def q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 shape: pure scan-side revenue forecast — every
    predicate (date band, discount band, quantity cap) pushes into the
    parquet scan, so at 100 TB this reads only matching row groups and
    shuffles 1 row.  The canonical pushdown showcase."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_discount") >= 0.05)
        & (F.col("l_discount") <= 0.07)
        & (F.col("l_quantity") < 24)
    ).agg(
        F.sum(_dec2("l_extendedprice") * _dec2("l_discount"))
        .cast("double")
        .alias("revenue"),
        F.count(F.lit(1)).alias("n_rows"),
    )


ORACLE_Q6 = """
SELECT
  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(l_discount AS DECIMAL(12,2))) AS DOUBLE) AS revenue,
  COUNT(*) AS n_rows
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
  AND l_discount >= 0.05 AND l_discount <= 0.07 AND l_quantity < 24
"""


def cube_status_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE grouping sets over (o_orderstatus, o_orderpriority) — all
    four grouping combinations in one pass (expand + single shuffle)."""
    o = load_table(spark, sf_dir, "orders")
    return (
        o.cube("o_orderstatus", "o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(_dec("o_totalprice")).cast("double").alias("sum_price"),
        )
        .orderBy(
            F.col("o_orderstatus").asc_nulls_first(),
            F.col("o_orderpriority").asc_nulls_first(),
        )
    )


ORACLE_CUBE = """
SELECT o_orderstatus, o_orderpriority,
  COUNT(*) AS n_orders,
  CAST(SUM(CAST(o_totalprice AS DECIMAL(38,4))) AS DOUBLE) AS sum_price
FROM orders
GROUP BY CUBE (o_orderstatus, o_orderpriority)
ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST
"""


def q17_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape (correlated scalar subquery → agg-then-join):
    revenue from lineitems whose quantity is below 20% of their part's
    average.

    Catalyst decorrelates this into: per-part avg aggregate (one
    shuffle on partkey) ⋈ lineitem on partkey — the aggregate side is
    small (one row per part) so AQE usually broadcasts it.  avg is an
    exact decimal ratio so the threshold is engine-identical.
    """
    li = load_table(spark, sf_dir, "lineitem")
    per_part = li.groupBy(F.col("l_partkey").alias("pk")).agg(
        (
            F.lit(0.2)
            * (F.sum(_dec("l_quantity")).cast("double") / F.count(F.lit(1)))
        ).alias("qty_threshold")
    )
    return (
        li.join(per_part, li.l_partkey == per_part.pk)
        .filter(F.col("l_quantity") < F.col("qty_threshold"))
        .agg(
            F.round(F.sum(_dec("l_extendedprice")).cast("double") / 7.0, 6).alias(
                "avg_yearly"
            ),
            F.count(F.lit(1)).alias("n_small"),
        )
    )


ORACLE_Q17 = """
WITH per_part AS (
  SELECT l_partkey AS pk,
    0.2 * (CAST(SUM(CAST(l_quantity AS DECIMAL(38,4))) AS DOUBLE) / COUNT(*))
      AS qty_threshold
  FROM lineitem GROUP BY l_partkey
)
SELECT
  CAST(ROUND(CAST(CAST((CAST(SUM(CAST(l_extendedprice AS DECIMAL(38,4))) AS DOUBLE) / 7.0) AS VARCHAR) AS DECIMAL(38,30)), 6) AS DOUBLE)
    AS avg_yearly,
  COUNT(*) AS n_small
FROM lineitem JOIN per_part ON l_partkey = pk
WHERE l_quantity < qty_threshold
"""


def q18_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape (HAVING on a big aggregate, then join back to
    the dimensions): orders whose total quantity exceeds 150, with
    customer attribution, top-100 by (totalprice desc, orderkey).

    The HAVING aggregate shuffles lineitem once on orderkey; the
    surviving keys (~20% here, way less in real skew) join back to
    orders/customer — AQE broadcasts the filtered aggregate.
    """
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum(_dec("l_quantity")).cast("double").alias("total_qty"))
        .filter(F.col("total_qty") > 150)
    )
    return (
        big.join(o, big.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .select(
            "c_name",
            "o_orderkey",
            "o_orderdate",
            _dec("o_totalprice").cast("double").alias("totalprice"),
            "total_qty",
        )
        .orderBy(F.col("totalprice").desc(), "o_orderkey")
        .limit(100)
    )


ORACLE_Q18 = """
WITH big AS (
  SELECT l_orderkey,
    CAST(SUM(CAST(l_quantity AS DECIMAL(38,4))) AS DOUBLE) AS total_qty
  FROM lineitem GROUP BY l_orderkey
  HAVING CAST(SUM(CAST(l_quantity AS DECIMAL(38,4))) AS DOUBLE) > 150
)
SELECT c_name, o_orderkey, o_orderdate,
  CAST(CAST(o_totalprice AS DECIMAL(38,4)) AS DOUBLE) AS totalprice,
  total_qty
FROM big
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
ORDER BY totalprice DESC, o_orderkey LIMIT 100
"""


def unpivot_measures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native ``unpivot``/melt (the inverse of A7's pivot): lineitem's
    three money/quantity measures become (measure, value) rows, then a
    per-measure summary.

    ``DataFrame.unpivot`` is plan-native (an Expand, like the pivot's
    dual) — no UDF, no union of three scans: ONE pass emits all three
    measure rows per input row, and the downstream agg sees a
    3-row-per-input stream with map-side partial aggregation.
    """
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") % 10 == 0)
    melted = li.unpivot(
        ids=["l_orderkey"],
        values=["l_quantity", "l_extendedprice", "l_discount"],
        variableColumnName="measure",
        valueColumnName="value",
    )
    return (
        melted.groupBy("measure")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(20,2)")).cast("double").alias("total"),
            F.min("value").alias("vmin"),
            F.max("value").alias("vmax"),
        )
        .orderBy("measure")
    )


ORACLE_UNPIVOT = """
WITH melted AS (
  SELECT l_orderkey, measure, value
  FROM (SELECT l_orderkey, l_quantity, l_extendedprice, l_discount
        FROM lineitem WHERE l_orderkey % 10 = 0)
  UNPIVOT (value FOR measure IN (l_quantity, l_extendedprice, l_discount))
)
SELECT measure, COUNT(*) AS n,
  CAST(SUM(CAST(value AS DECIMAL(20,2))) AS DOUBLE) AS total,
  MIN(value) AS vmin, MAX(value) AS vmax
FROM melted GROUP BY measure ORDER BY measure
"""


#: Registered queries, each mapped to its DuckDB oracle (see __spark_entry__).
QUERIES = {
    q1_pricing_summary: ORACLE_Q1,
    stint_summary: ORACLE_STINT,
    agg_stats: ORACLE_AGG_STATS,
    pivot_returnflag: ORACLE_PIVOT,
    rollup_order_priority: ORACLE_ROLLUP,
    q6_forecast_revenue: ORACLE_Q6,
    q17_small_quantity_revenue: ORACLE_Q17,
    q18_large_orders: ORACLE_Q18,
    cube_status_priority: ORACLE_CUBE,
    filter_project: ORACLE_FILTER_PROJECT,
    join_customer_nation_region: ORACLE_JOIN_CNR,
    revenue_by_nation: ORACLE_REVENUE_NATION,
    semi_anti_join: ORACLE_SEMI_ANTI,
    outer_join_order_counts: ORACLE_OUTER_COUNTS,
    range_join_events_orders: ORACLE_RANGE_JOIN,
    window_value_changes: ORACLE_WINDOW_CHANGES,
    running_total: ORACLE_RUNNING_TOTAL,
    rank_orders_per_customer: ORACLE_RANK_ORDERS,
    top_orders: ORACLE_TOP_ORDERS,
    distinct_sorted_types: ORACLE_DISTINCT_TYPES,
    stride_downsample: ORACLE_STRIDE,
    set_ops_keys: ORACLE_SET_OPS,
    unpivot_measures: ORACLE_UNPIVOT,
    json_props_extract: ORACLE_JSON_PROPS,
    variant_props_rollup: ORACLE_VARIANT_PROPS,
}
