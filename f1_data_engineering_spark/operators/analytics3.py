"""Third analytics wave: event-sequence mining, first-touch
attribution, rolling-window anomaly detection, robust (MAD) outlier
census, and a Pareto-frontier (skyline) query — all oracle-twinned.

Beyond-reference scope (the reference's eager pandas layer,
``f1_dataExtractor.py``, has nothing sequence- or distribution-
analytic); these are the shapes an event/training-data pipeline runs
daily on top of the relational core:

* **bigram transitions** — the Markov view of user behaviour: for each
  user's time-ordered event stream, count (this_event → next_event)
  transitions and the per-source transition probability.  One shuffle
  on ``user_id`` for the ``lead`` window; the transition matrix is
  |event_types|² rows, so the second aggregate is map-side-combined
  into almost nothing.  At 100 TB the user partition is the only big
  axis and it hash-distributes.
* **first-touch attribution** — the classic marketing join: each
  user's FIRST event (deterministic ``row_number`` tie-break on
  ``(ts, event_id)``) names the acquisition channel; purchase value
  per user is then attributed to that channel.  Both sides aggregate
  on ``user_id`` before the join, so the join input is one row per
  user per side — the shuffles carry user-level rows, never raw
  events, and they share the ``user_id`` layout.
* **sliding z-score anomaly** — per-user rolling mean/σ over the
  TRAILING 20 events (``rowsBetween(-20, -1)`` — strictly past, no
  self-leak), flagging |z| > 2.5.  FP parity scheme: the rolling sums
  run on exact cent-longs (Σv, Σv², frame-size-bounded, no int64
  overflow: 20·49k² ≪ 2⁶³), and the z expression is ONE identical
  double tree on both engines evaluated from those exact integers —
  variance positivity is tested in exact integer space
  (n·Σv² > (Σv)²) so the filter never hinges on a float epsilon.
* **MAD outliers** — median-absolute-deviation census per event type:
  med = exact interpolated median, MAD = median(|v − med|), outlier if
  |v − med| > 3·1.4826·MAD.  Two grouped exact percentiles + two
  broadcast joins of the per-type scalars.  Exact percentile needs the
  group's values on one reducer — fine for a bounded type vocabulary;
  at an unbounded group key swap in ``approx_percentile`` (t-digest,
  mergeable) like value_percentiles documents.
* **Pareto frontier** — the skyline of (earlier date, higher price):
  per-date champion via a date-partitioned ``row_number``, then a
  running-max scan over the per-DATE champions (ordered window,
  ``rowsBetween(unboundedPreceding, -1)``).  The global window runs
  over at most |distinct dates| rows — calendar-bounded (~2.4k for 7
  years) no matter how many trillion orders feed it, which is what
  makes the partition-less window safe here; price dominance compares
  exact DECIMAL(12,2), never doubles.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from ..sources.registry import load_table
from .relational import _dec2

__all__ = [
    "event_bigram_transitions",
    "first_touch_attribution",
    "sliding_zscore_anomaly",
    "mad_outlier_events",
    "pareto_frontier_orders",
]


# ---------------------------------------------------------------------------
# event-sequence bigram transitions
# ---------------------------------------------------------------------------


def event_bigram_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(src → dst) transition counts + per-src transition probability
    over each user's time-ordered event stream.

    ``lead`` over the ``(user_id | ts, event_id)`` window builds the
    bigrams scan-side (no self-join on position); the aggregate output
    is |types|² rows, so everything after the first shuffle is tiny.
    """
    ev = load_table(spark, sf_dir, "events").select("user_id", "ts", "event_id", "event_type")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = (
        ev.select(
            F.col("event_type").alias("src_type"),
            F.lead("event_type").over(w).alias("dst_type"),
        )
        .filter(F.col("dst_type").isNotNull())
    )
    counts = pairs.groupBy("src_type", "dst_type").agg(F.count(F.lit(1)).alias("n_trans"))
    wsrc = W.partitionBy("src_type")
    return (
        counts.select(
            "src_type",
            "dst_type",
            "n_trans",
            F.round(
                F.col("n_trans").cast("double") / F.sum("n_trans").over(wsrc).cast("double"),
                6,
            ).alias("p_trans"),
        )
        .orderBy(F.col("n_trans").desc(), "src_type", "dst_type")
    )


ORACLE_BIGRAM_TRANSITIONS = """
WITH seq AS (
  SELECT event_type AS src_type,
    LEAD(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS dst_type
  FROM events
),
c AS (
  SELECT src_type, dst_type, COUNT(*) AS n_trans
  FROM seq WHERE dst_type IS NOT NULL GROUP BY 1, 2
)
SELECT src_type, dst_type, n_trans,
  ROUND(CAST(n_trans AS DOUBLE)
        / CAST(SUM(n_trans) OVER (PARTITION BY src_type) AS DOUBLE), 6) AS p_trans
FROM c ORDER BY n_trans DESC, src_type, dst_type
"""


# ---------------------------------------------------------------------------
# first-touch attribution
# ---------------------------------------------------------------------------


def first_touch_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Attribute each user's purchase value to their FIRST event's type
    (the acquisition channel).

    Deterministic first touch: ``row_number`` over ``(ts, event_id)``.
    Purchase value sums in exact DECIMAL(38,4) per user BEFORE the
    join, so both join inputs are user-level — the raw event table is
    scanned twice but shuffled only as aggregates.
    """
    ev = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    first = (
        ev.select("user_id", F.col("event_type").alias("channel"), F.row_number().over(w).alias("rn"))
        .filter(F.col("rn") == 1)
        .drop("rn")
    )
    purch = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(
            F.sum(F.col("value").cast("decimal(38,4)")).alias("pv"),
            F.count(F.lit(1)).alias("np"),
        )
    )
    return (
        first.join(purch, "user_id", "left")
        .groupBy("channel")
        .agg(
            F.count(F.lit(1)).alias("n_users"),
            F.count("pv").alias("n_converted"),
            F.coalesce(F.sum("np"), F.lit(0)).cast("long").alias("n_purchases"),
            F.coalesce(F.sum("pv"), F.lit(0).cast("decimal(38,4)"))
            .cast("double")
            .alias("attributed_value"),
        )
        .orderBy("channel")
    )


ORACLE_FIRST_TOUCH = """
WITH first AS (
  SELECT user_id, event_type AS channel
  FROM (
    SELECT user_id, event_type,
      ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
    FROM events
  ) WHERE rn = 1
),
purch AS (
  SELECT user_id, SUM(CAST(value AS DECIMAL(38,4))) AS pv, COUNT(*) AS np
  FROM events WHERE event_type = 'purchase' GROUP BY user_id
)
SELECT channel,
  COUNT(*) AS n_users,
  COUNT(pv) AS n_converted,
  CAST(COALESCE(SUM(np), 0) AS BIGINT) AS n_purchases,
  CAST(COALESCE(SUM(pv), 0) AS DOUBLE) AS attributed_value
FROM first LEFT JOIN purch USING (user_id)
GROUP BY channel ORDER BY channel
"""


# ---------------------------------------------------------------------------
# sliding z-score anomaly detection
# ---------------------------------------------------------------------------

#: trailing-window length (rows) and minimum history to score
_ZWIN = 20
_ZMIN = 10
_ZTHRESH = 2.5


def sliding_zscore_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Events whose value is > 2.5 rolling σ from the user's trailing
    20-event mean (strictly-past frame — no self-inclusion leak).

    FP parity: Σv and Σv² accumulate as exact cent-longs over the
    frame (order-independent), the variance-positivity filter is the
    exact integer test n·Σv² > (Σv)², and the z-score is one identical
    double expression tree on both engines — so the float compare
    against the threshold can never disagree cross-engine.
    """
    ev = load_table(spark, sf_dir, "events")
    vc = F.round(F.col("value") * 100, 0).cast("long")
    w = W.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(-_ZWIN, -1)
    base = ev.select(
        "user_id",
        "event_id",
        "ts",
        vc.alias("vc"),
        F.count(F.lit(1)).over(w).alias("n_prev"),
        F.sum(vc).over(w).alias("s"),
        F.sum(vc * vc).over(w).alias("ss"),
    )
    n_d = F.col("n_prev").cast("double")
    s_d = F.col("s").cast("double")
    ss_d = F.col("ss").cast("double")
    mean_d = s_d / n_d
    var_d = (ss_d - s_d * s_d / n_d) / (n_d - F.lit(1.0))
    z = (F.col("vc").cast("double") - mean_d) / F.sqrt(var_d)
    return (
        base.filter(
            (F.col("n_prev") >= _ZMIN)
            & (F.col("n_prev") * F.col("ss") > F.col("s") * F.col("s"))
        )
        .select("user_id", "event_id", "n_prev", F.round(z, 6).alias("zscore"))
        .filter(F.abs(F.col("zscore")) > _ZTHRESH)
        .orderBy("user_id", "event_id")
    )


ORACLE_SLIDING_ZSCORE = f"""
WITH base AS (
  SELECT user_id, event_id,
    CAST(ROUND(value * 100, 0) AS BIGINT) AS vc,
    COUNT(*) OVER w AS n_prev,
    SUM(CAST(ROUND(value * 100, 0) AS BIGINT)) OVER w AS s,
    SUM(CAST(ROUND(value * 100, 0) AS BIGINT)
        * CAST(ROUND(value * 100, 0) AS BIGINT)) OVER w AS ss
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN {_ZWIN} PRECEDING AND 1 PRECEDING)
),
scored AS (
  SELECT user_id, event_id, n_prev,
    ROUND((CAST(vc AS DOUBLE) - CAST(s AS DOUBLE) / CAST(n_prev AS DOUBLE))
          / SQRT((CAST(ss AS DOUBLE)
                  - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / CAST(n_prev AS DOUBLE))
                 / (CAST(n_prev AS DOUBLE) - 1.0)), 6) AS zscore
  FROM base
  WHERE n_prev >= {_ZMIN} AND n_prev * ss > s * s
)
SELECT user_id, event_id, n_prev, zscore
FROM scored WHERE ABS(zscore) > {_ZTHRESH}
ORDER BY user_id, event_id
"""


# ---------------------------------------------------------------------------
# MAD (median absolute deviation) outlier census
# ---------------------------------------------------------------------------


def mad_outlier_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type robust outlier census: median, MAD, and the count
    of values beyond 3·1.4826·MAD (the normal-consistent MAD rule).

    Two exact-percentile aggregates on the bounded ``event_type`` key,
    each broadcast back onto the fact scan.  FP parity: both scalars
    are rounded to 6 dp BEFORE any downstream use (deviation and
    threshold alike), so a 1-ulp interpolation difference between the
    engines' percentile implementations can never flip a borderline
    dominance test.  At an unbounded group key the exact percentile
    swaps for approx_percentile (t-digest) — same caveat as
    value_percentiles.
    """
    ev = load_table(spark, sf_dir, "events").select("event_type", "value")
    med = ev.groupBy("event_type").agg(
        F.round(F.percentile("value", 0.5), 6).alias("med")
    )
    d1 = ev.join(F.broadcast(med), "event_type")
    dev = F.abs(F.col("value") - F.col("med"))
    mad = d1.groupBy("event_type").agg(F.round(F.percentile(dev, 0.5), 6).alias("mad"))
    d2 = d1.join(F.broadcast(mad), "event_type")
    return (
        d2.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.min("med").alias("med_value"),
            F.min("mad").alias("mad_value"),
            F.sum(
                F.when(
                    F.abs(F.col("value") - F.col("med")) > F.lit(4.4478) * F.col("mad"),
                    1,
                ).otherwise(0)
            ).alias("n_outliers"),
        )
        .orderBy("event_type")
    )


ORACLE_MAD_OUTLIERS = """
WITH med AS (
  SELECT event_type, ROUND(quantile_cont(value, 0.5), 6) AS med
  FROM events GROUP BY event_type
),
d1 AS (
  SELECT e.event_type, e.value, m.med
  FROM events e JOIN med m USING (event_type)
),
mad AS (
  SELECT event_type, ROUND(quantile_cont(ABS(value - med), 0.5), 6) AS mad
  FROM d1 GROUP BY event_type
)
SELECT d1.event_type,
  COUNT(*) AS n_events,
  MIN(d1.med) AS med_value,
  MIN(mad.mad) AS mad_value,
  CAST(SUM(CASE WHEN ABS(d1.value - d1.med) > 4.4478 * mad.mad THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
FROM d1 JOIN mad USING (event_type)
GROUP BY d1.event_type ORDER BY d1.event_type
"""


# ---------------------------------------------------------------------------
# Pareto frontier (skyline)
# ---------------------------------------------------------------------------


def pareto_frontier_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skyline of orders on (earlier o_orderdate, higher o_totalprice):
    an order is on the frontier iff no strictly-earlier date has an
    equal-or-higher per-date best price.

    Shape: per-date champion first (date-partitioned ``row_number``
    with an ``o_orderkey`` tie-break — distributed, price compared as
    exact DECIMAL(12,2)), then one running-max pass over the per-DATE
    champions.  The second window is partition-less but runs over at
    most |distinct dates| rows — calendar-bounded, so it stays O(days)
    at any data scale; the champions easily fit one reducer.
    """
    o = load_table(spark, sf_dir, "orders")
    wd = W.partitionBy("o_orderdate").orderBy(
        _dec2("o_totalprice").desc(), F.col("o_orderkey").asc()
    )
    champ = (
        o.select(
            "o_orderdate",
            "o_orderkey",
            _dec2("o_totalprice").alias("price"),
            F.row_number().over(wd).alias("rn"),
        )
        .filter(F.col("rn") == 1)
        .drop("rn")
    )
    wcum = W.orderBy("o_orderdate").rowsBetween(W.unboundedPreceding, -1)
    return (
        champ.select(
            "o_orderdate",
            "o_orderkey",
            "price",
            F.max("price").over(wcum).alias("run_max"),
        )
        .filter(F.col("run_max").isNull() | (F.col("price") > F.col("run_max")))
        .select(
            "o_orderdate",
            "o_orderkey",
            F.col("price").cast("double").alias("best_price"),
        )
        .orderBy("o_orderdate")
    )


ORACLE_PARETO_FRONTIER = """
WITH champ AS (
  SELECT o_orderdate, o_orderkey, CAST(o_totalprice AS DECIMAL(12,2)) AS price
  FROM (
    SELECT o_orderdate, o_orderkey, o_totalprice,
      ROW_NUMBER() OVER (PARTITION BY o_orderdate
                         ORDER BY CAST(o_totalprice AS DECIMAL(12,2)) DESC,
                                  o_orderkey ASC) AS rn
    FROM orders
  ) WHERE rn = 1
),
run AS (
  SELECT o_orderdate, o_orderkey, price,
    MAX(price) OVER (ORDER BY o_orderdate
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS run_max
  FROM champ
)
SELECT o_orderdate, o_orderkey, CAST(price AS DOUBLE) AS best_price
FROM run WHERE run_max IS NULL OR price > run_max
ORDER BY o_orderdate
"""


#: Registered queries, each mapped to its DuckDB oracle (see __spark_entry__).
QUERIES = {
    event_bigram_transitions: ORACLE_BIGRAM_TRANSITIONS,
    first_touch_attribution: ORACLE_FIRST_TOUCH,
    sliding_zscore_anomaly: ORACLE_SLIDING_ZSCORE,
    mad_outlier_events: ORACLE_MAD_OUTLIERS,
    pareto_frontier_orders: ORACLE_PARETO_FRONTIER,
}
