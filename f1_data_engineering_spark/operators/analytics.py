"""Analytic depth operators: GROUPING SETS, null-safe joins,
deterministic per-group mode, and scalable gaps-and-islands.

These extend SURVEY.md §2.4/§2.3/§2.5 beyond the reference's surface
(the reference has no grouping sets / null-key joins / mode / island
detection; Spark gives the primitives and the shapes below make them
scale):

* **grouping sets** — one pass producing multiple aggregation levels;
  Spark expands to one Expand branch per set, so the shuffle carries
  (rows × sets) pre-aggregated partials — still one exchange, vs one
  job per level if issued naively.
* **null-safe join** — ``<=>`` (EqualNullSafe) is a legal hash-join
  key in Spark, so NULL keys pair up in a real shuffled hash join, not
  a nested loop; the classic trap (NULL never equals NULL, silently
  dropping rows) is the thing this operator makes explicit.
* **mode** — ``F.mode`` is tie-nondeterministic; per-group mode here
  is (count DESC, value ASC) row_number over the (group, value)
  counts, which is deterministic on any engine and shuffles only the
  distinct (group, value) pairs.
* **gaps & islands** — consecutive-integer runs over a key universe.
  The textbook lag/row_number solution needs ONE global sort; at
  100 TB that's the bottleneck.  Shape here: bucket keys by
  ``key div B`` (scan-side, no shuffle), detect islands WITHIN each
  bucket with a bucket-partitioned window, then merge the per-bucket
  island list (≪ rows — at most 2 islands per bucket boundary) with
  one tiny global window.  Same two-level trick as ``build_vocab``:
  the unpartitioned window only ever sees metadata-sized input.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from ..sources.registry import load_table

__all__ = [
    "grouping_sets_revenue",
    "null_safe_event_join",
    "modal_quantity_per_flag",
    "orderkey_islands",
    "window_rank_suite",
    "daily_order_spine",
    "event_type_map_stats",
]


def grouping_sets_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue at three aggregation levels in one pass —
    (returnflag, linestatus), (returnflag), and grand total — via
    GROUPING SETS, with explicit level markers (rolled-up columns are
    NULL; the data itself has no NULL flags, so the marker columns
    disambiguate exactly like GROUPING_ID without engine-specific
    grouping functions).
    """
    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView("gs_lineitem")
    # the inner SELECT computes the decimal product ONCE per input row,
    # below the Expand — otherwise each of the 3 grouping-set branches
    # re-multiplies (3× the decimal work, measured 2.1s → 1.4s at sf0.1)
    return spark.sql(
        """
        SELECT l_returnflag, l_linestatus,
          CAST(l_returnflag IS NULL AS INT) + CAST(l_linestatus IS NULL AS INT)
            AS rollup_level,
          CAST(SUM(rev) AS DOUBLE) AS revenue,
          COUNT(*) AS n
        FROM (
          SELECT l_returnflag, l_linestatus,
            CAST(l_extendedprice AS DECIMAL(12,2))
              * CAST(1 - l_discount AS DECIMAL(12,2)) AS rev
          FROM gs_lineitem
        )
        GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
        ORDER BY rollup_level, l_returnflag, l_linestatus
        """
    )


ORACLE_GROUPING_SETS = """
SELECT l_returnflag, l_linestatus,
  CAST(l_returnflag IS NULL AS INT) + CAST(l_linestatus IS NULL AS INT)
    AS rollup_level,
  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
           * CAST(1 - l_discount AS DECIMAL(12,2))) AS DOUBLE) AS revenue,
  COUNT(*) AS n
FROM lineitem
GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
ORDER BY rollup_level, l_returnflag, l_linestatus
"""


def null_safe_event_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full outer null-safe join of per-key event counts from two
    event-type families, keyed on the NULLABLE ``props.k`` extraction:
    the NULL-key groups from both sides meet in one row instead of
    being silently dropped (plain ``=``) or exploding (cross of
    nulls).  ``<=>`` stays a hash-join key in Spark, so the plan is a
    normal shuffled join.
    """
    ev = load_table(spark, sf_dir, "events").select(
        "event_type", F.get_json_object("props", "$.k").try_cast("long").alias("k")
    )
    a = (
        ev.filter(F.col("event_type").isin("click", "view"))
        .groupBy("k")
        .agg(F.count(F.lit(1)).alias("n_browse"))
    )
    b = (
        ev.filter(F.col("event_type").isin("purchase", "signup"))
        .groupBy("k")
        .agg(F.count(F.lit(1)).alias("n_convert"))
        # both sides descend from the same scan — rename the key so the
        # join condition is unambiguous (self-join lineage)
        .withColumnRenamed("k", "kb")
    )
    return (
        a.join(b, F.col("k").eqNullSafe(F.col("kb")), "full")
        .select(
            F.coalesce("k", "kb").alias("k_val"),
            (F.col("k").isNull() & F.col("kb").isNull()).alias("is_null_key"),
            F.coalesce("n_browse", F.lit(0)).alias("n_browse"),
            F.coalesce("n_convert", F.lit(0)).alias("n_convert"),
        )
        .orderBy(F.col("is_null_key"), "k_val")
    )


ORACLE_NULL_SAFE_JOIN = """
WITH ev AS (
  -- json_valid guard: DuckDB's JSON extraction ERRORS on malformed
  -- documents where Spark's get_json_object returns NULL (same class
  -- as ORACLE_JSON_PROPS; found by the differential fuzzer)
  SELECT event_type,
         TRY_CAST(CASE WHEN json_valid(props)
                       THEN json_extract_string(props, '$.k') END
                  AS BIGINT) AS k
  FROM events
),
a AS (
  SELECT k, COUNT(*) AS n_browse FROM ev
  WHERE event_type IN ('click', 'view') GROUP BY k
),
b AS (
  SELECT k, COUNT(*) AS n_convert FROM ev
  WHERE event_type IN ('purchase', 'signup') GROUP BY k
)
SELECT COALESCE(a.k, b.k) AS k_val,
  (a.k IS NULL AND b.k IS NULL) AS is_null_key,
  COALESCE(n_browse, 0) AS n_browse,
  COALESCE(n_convert, 0) AS n_convert
FROM a FULL JOIN b ON a.k IS NOT DISTINCT FROM b.k
ORDER BY is_null_key, k_val
"""


def modal_quantity_per_flag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-group mode: most frequent ``l_quantity`` per
    ``l_returnflag`` with (count DESC, value ASC) tie-break.

    Two-phase: count per (group, value) — the only full-data shuffle,
    map-side combined down to distinct pairs — then a window over the
    per-group value histogram (≤ |distinct values| rows per group).
    """
    li = load_table(spark, sf_dir, "lineitem")
    counts = (
        li.groupBy("l_returnflag", F.col("l_quantity").cast("long").alias("qty"))
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    w = W.partitionBy("l_returnflag").orderBy(F.col("cnt").desc(), "qty")
    return (
        counts.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("l_returnflag", F.col("qty").alias("modal_qty"), "cnt")
        .orderBy("l_returnflag")
    )


ORACLE_MODE = """
WITH c AS (
  SELECT l_returnflag, CAST(l_quantity AS BIGINT) AS qty, COUNT(*) AS cnt
  FROM lineitem GROUP BY 1, 2
),
r AS (
  SELECT l_returnflag, qty, cnt,
    row_number() OVER (PARTITION BY l_returnflag
                       ORDER BY cnt DESC, qty) AS rn
  FROM c
)
SELECT l_returnflag, qty AS modal_qty, cnt FROM r WHERE rn = 1
ORDER BY l_returnflag
"""


#: Island-detection bucket width (keys per bucket).  At 100 TB this is
#: sized so each bucket's window input fits one task comfortably.
ISLAND_BUCKET = 4096


def orderkey_islands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Consecutive-``o_orderkey`` runs (gaps & islands) with the
    two-level scalable shape: bucket-local island detection, then a
    global merge over the ISLAND list (tiny) for runs that span bucket
    boundaries.  Output: one row per island with its span and size.
    """
    # the high-value filter punches gaps into the (dense) orderkey
    # sequence, so the result is a real island census, not one run
    keys = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_totalprice") > 150000)
        .select(F.col("o_orderkey").alias("k"))
        .distinct()
        .withColumn("bucket", (F.col("k") / ISLAND_BUCKET).cast("long"))
    )
    # phase 1: islands within each bucket (partitioned window)
    wb = W.partitionBy("bucket").orderBy("k")
    local = (
        keys.withColumn("rn", F.row_number().over(wb))
        .withColumn("grp", F.col("k") - F.col("rn"))
        .groupBy("bucket", "grp")
        .agg(
            F.min("k").alias("start"),
            F.max("k").alias("end"),
            F.count(F.lit(1)).alias("n_keys"),
        )
    )
    # phase 2: merge adjacent islands across buckets — the input here
    # is one row per island, orders of magnitude smaller than the key
    # set, so the unpartitioned window is metadata-sized (and islands
    # only ever merge with their immediate neighbor in start order).
    wg = W.orderBy("start")
    merged = (
        local.withColumn(
            "new_run",
            F.when(
                F.col("start") > F.lag("end").over(wg) + 1, F.lit(1)
            ).otherwise(F.lit(0)),
        )
        .withColumn(
            "run_id",
            F.sum("new_run").over(
                wg.rowsBetween(W.unboundedPreceding, W.currentRow)
            ),
        )
        .groupBy("run_id")
        .agg(
            F.min("start").alias("island_start"),
            F.max("end").alias("island_end"),
            F.sum("n_keys").alias("n_keys"),
        )
    )
    return merged.select(
        "island_start",
        "island_end",
        (F.col("island_end") - F.col("island_start") + 1).alias("span"),
        "n_keys",
    ).orderBy("island_start")


ORACLE_ISLANDS = """
WITH k AS (
  SELECT DISTINCT o_orderkey AS k FROM orders WHERE o_totalprice > 150000
),
r AS (
  SELECT k, k - row_number() OVER (ORDER BY k) AS grp FROM k
)
SELECT MIN(k) AS island_start, MAX(k) AS island_end,
  MAX(k) - MIN(k) + 1 AS span, COUNT(*) AS n_keys
FROM r GROUP BY grp ORDER BY island_start
"""


def window_rank_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full ranking-function matrix in one pass: row_number, rank,
    dense_rank, percent_rank, cume_dist, ntile(4) plus lead/lag and
    first/nth value — every analytic Spark offers over ONE window
    spec, so the sort that feeds them is paid once.

    Window = orders of one mid-size customer segment, partitioned by
    customer, ordered by (totalprice DESC, orderkey) — the unique
    tie-break makes ntile/lead/lag deterministic cross-engine.
    Partitioned windows only (no global sort); at 100 TB each
    customer's orders fit a task trivially.
    """
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_custkey") % 100 == 0
    )
    w = W.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), "o_orderkey"
    )
    return (
        o.select(
            "o_custkey",
            "o_orderkey",
            "o_totalprice",
            F.row_number().over(w).alias("rn"),
            F.rank().over(w).alias("rnk"),
            F.dense_rank().over(w).alias("drnk"),
            F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
            F.round(F.cume_dist().over(w), 6).alias("cume"),
            F.ntile(4).over(w).alias("quartile"),
            F.lag("o_totalprice", 1).over(w).alias("prev_price"),
            F.lead("o_totalprice", 2).over(w).alias("next2_price"),
            F.first("o_orderkey").over(w).alias("top_orderkey"),
            F.nth_value("o_orderkey", 2).over(w).alias("second_orderkey"),
        )
        .orderBy("o_custkey", "rn")
    )


ORACLE_RANK_SUITE = """
SELECT o_custkey, o_orderkey, o_totalprice,
  row_number() OVER w AS rn,
  rank() OVER w AS rnk,
  dense_rank() OVER w AS drnk,
  ROUND(percent_rank() OVER w, 6) AS pct_rank,
  ROUND(cume_dist() OVER w, 6) AS cume,
  ntile(4) OVER w AS quartile,
  lag(o_totalprice, 1) OVER w AS prev_price,
  lead(o_totalprice, 2) OVER w AS next2_price,
  first_value(o_orderkey) OVER w AS top_orderkey,
  nth_value(o_orderkey, 2) OVER w AS second_orderkey
FROM orders
WHERE o_custkey % 100 = 0
WINDOW w AS (PARTITION BY o_custkey
             ORDER BY o_totalprice DESC, o_orderkey)
ORDER BY o_custkey, rn
"""


def daily_order_spine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar-spine time series: a generated day spine over the full
    order-date range, LEFT-joined per-day order counts/revenue (zero
    days preserved — the gap-fill every BI/forecast feed needs), plus a
    rolling 7-day window.

    Scale notes: the spine comes from ONE aggregate row exploded into
    dates — never a driver-side loop; days join against pre-aggregated
    per-day partials (the only full-data shuffle is that aggregate);
    the rolling window is unpartitioned but runs over the CALENDAR
    (rows = days — metadata-sized at any corpus scale, same argument
    as ``build_vocab``).
    """
    o = load_table(spark, sf_dir, "orders").select(
        F.to_date("o_orderdate").alias("d"),
        F.col("o_totalprice").cast("decimal(18,2)").alias("p"),
    )
    spine = (
        o.agg(F.min("d").alias("lo"), F.max("d").alias("hi"))
        .select(F.explode(F.sequence("lo", "hi")).alias("d"))
    )
    per_day = o.groupBy("d").agg(
        F.count(F.lit(1)).alias("n"), F.sum("p").alias("rev")
    )
    j = spine.join(per_day, "d", "left").select(
        "d",
        F.coalesce("n", F.lit(0)).alias("n_orders"),
        F.coalesce(F.col("rev"), F.lit(0)).cast("decimal(38,2)").alias("rev"),
    )
    w7 = W.orderBy("d").rowsBetween(-6, W.currentRow)
    wr = W.orderBy("d")
    return (
        j.select(
            "d",
            "n_orders",
            F.col("rev").cast("double").alias("revenue"),
            F.sum("n_orders").over(w7).cast("long").alias("r7_orders"),
            F.round(
                F.sum("n_orders").over(w7).cast("double")
                / F.least(F.row_number().over(wr), F.lit(7)),
                6,
            ).alias("r7_avg_orders"),
        )
        .orderBy("d")
    )


ORACLE_DAILY_SPINE = """
WITH b AS (
  SELECT MIN(CAST(o_orderdate AS DATE)) AS lo,
         MAX(CAST(o_orderdate AS DATE)) AS hi
  FROM orders
),
spine AS (
  SELECT CAST(unnest(generate_series(lo, hi, INTERVAL 1 DAY)) AS DATE) AS d
  FROM b
),
pd AS (
  SELECT CAST(o_orderdate AS DATE) AS d, COUNT(*) AS n,
         SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS rev
  FROM orders GROUP BY 1
),
j AS (
  SELECT spine.d, COALESCE(n, 0) AS n_orders,
         CAST(COALESCE(rev, 0) AS DECIMAL(38,2)) AS rev
  FROM spine LEFT JOIN pd ON spine.d = pd.d
)
SELECT d, n_orders, CAST(rev AS DOUBLE) AS revenue,
  CAST(SUM(n_orders) OVER (ORDER BY d ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
       AS BIGINT) AS r7_orders,
  ROUND(CAST(SUM(n_orders) OVER (ORDER BY d
               ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) AS DOUBLE)
        / LEAST(row_number() OVER (ORDER BY d), 7), 6) AS r7_avg_orders
FROM j ORDER BY d
"""


def event_type_map_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MapType surface: per user, a ``map<event_type, count>`` built
    with ``map_from_entries`` and navigated with ``element_at`` /
    ``map_entries`` / an ``array_sort`` comparator (argmax over the
    map) — the output is FLATTENED scalars, so the result is portable
    while the map machinery is fully exercised.

    Scale shape: counts per (user, type) — one shuffle, map-side
    combined — then one per-user aggregate; maps have ≤ |event types|
    entries, so per-row map work is O(1)-ish.
    """
    ev = load_table(spark, sf_dir, "events")
    # NULL event_type normalizes to a sentinel bucket: map keys cannot
    # be NULL (map_from_entries throws NULL_MAP_KEY — found by the
    # differential fuzzer on a dirty stream), and a sentinel keeps the
    # ordering/tie-break deterministic in both engines
    per = ev.groupBy(
        "user_id",
        F.coalesce(F.col("event_type"), F.lit("(null)")).alias("event_type"),
    ).agg(F.count(F.lit(1)).alias("cnt"))
    m = per.groupBy("user_id").agg(
        F.map_from_entries(
            F.sort_array(F.collect_list(F.struct("event_type", "cnt")))
        ).alias("m")
    )
    top_key = F.expr(
        "array_sort(map_entries(m), (a, b) -> CASE "
        "WHEN a.value > b.value THEN -1 WHEN a.value < b.value THEN 1 "
        "WHEN a.key < b.key THEN -1 WHEN a.key > b.key THEN 1 "
        "ELSE 0 END)[0].key"
    )
    total = F.aggregate(
        F.map_values("m"), F.lit(0).cast("long"), lambda acc, x: acc + x
    )
    return (
        m.select(
            "user_id",
            F.coalesce(F.element_at("m", F.lit("click")), F.lit(0)).alias(
                "n_click"
            ),
            F.coalesce(F.element_at("m", F.lit("purchase")), F.lit(0)).alias(
                "n_purchase"
            ),
            F.size("m").alias("n_types"),
            total.alias("n_events"),
            top_key.alias("top_type"),
        )
        .orderBy("user_id")
    )


ORACLE_MAP_STATS = """
WITH per AS (
  -- sentinel for NULL event_type, mirroring the Spark side's map-key
  -- normalization
  SELECT user_id, COALESCE(event_type, '(null)') AS event_type,
         COUNT(*) AS cnt
  FROM events GROUP BY 1, 2
),
r AS (
  SELECT user_id, event_type, cnt,
    row_number() OVER (PARTITION BY user_id
                       ORDER BY cnt DESC, event_type) AS rk
  FROM per
)
SELECT user_id,
  CAST(COALESCE(SUM(CASE WHEN event_type = 'click' THEN cnt END), 0)
       AS BIGINT) AS n_click,
  CAST(COALESCE(SUM(CASE WHEN event_type = 'purchase' THEN cnt END), 0)
       AS BIGINT) AS n_purchase,
  CAST(COUNT(*) AS INT) AS n_types,
  CAST(SUM(cnt) AS BIGINT) AS n_events,
  MAX(CASE WHEN rk = 1 THEN event_type END) AS top_type
FROM r GROUP BY user_id ORDER BY user_id
"""


#: Registered queries, each mapped to its DuckDB oracle (see __spark_entry__).
QUERIES = {
    grouping_sets_revenue: ORACLE_GROUPING_SETS,
    modal_quantity_per_flag: ORACLE_MODE,
    null_safe_event_join: ORACLE_NULL_SAFE_JOIN,
    orderkey_islands: ORACLE_ISLANDS,
    window_rank_suite: ORACLE_RANK_SUITE,
    daily_order_spine: ORACLE_DAILY_SPINE,
    event_type_map_stats: ORACLE_MAP_STATS,
}
