"""Round-7 analytics wave: CUSUM drift detection over event streams.

Reference scope: beyond-reference (monitoring/analytics family the
brief asks for); no analog in /root/reference.

Scale design: CUSUM looks sequential (s_t = max(0, s_{t-1} + dev_t))
but has a closed form over prefix sums —

    s_t = P_t − min(0, min_{j ≤ t} P_j),   P_t = Σ_{j ≤ t} dev_j

— so the whole detector is two ordered window functions over the
hourly rollup (already tiny: hours × types rows), never a driver loop.
Cross-engine exactness comes from keeping the deviations INTEGER:
dev_t = x_t·H − S (count scaled by total hours minus total events) is
an exact integer multiple of H·(x_t − mean), so prefix sums, running
minima, and the max are engine-order-free; only the final normalized
score divides in doubles (6-dp shortest-repr recipe).  At 100 TB the
hourly rollup is the only corpus-sized aggregate (one map-side-combined
shuffle); everything downstream is hours-sized.  If counts × hours
could overflow 63 bits (≳10¹⁸ events·hours), swap the dev column to
decimal(38,0) — ANSI mode makes the overflow loud, not silent.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from ..sources.registry import load_table
from .pandas_ops import _oracle_round6

__all__ = ["cusum_event_drift", "ORACLE_CUSUM"]


def cusum_event_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per event_type: the peak one-sided CUSUM excursion of the hourly
    event-count series above its own mean — the standard sequential
    change-point statistic, as a summary row (n_hours, total_events,
    max_cusum, the FIRST hour attaining it, and a corpus-normalized
    drift score).

    max_cusum is in units of events × hours (the H-scaled integer
    statistic); drift_score = max_cusum / (H·S) rescales it to a
    fraction of total traffic.  NULL-ts events are excluded (hour
    ordering of a NULL bucket differs between engines by definition).
    Missing hours are absent, not zero-filled — the statistic is over
    the OBSERVED series; join daily_order_spine-style densification in
    front if gap sensitivity is wanted.
    """
    ev = load_table(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    hourly = ev.groupBy(
        "event_type", F.date_trunc("hour", F.col("ts")).alias("hour")
    ).agg(F.count(F.lit(1)).alias("x"))

    part = W.partitionBy("event_type")
    ordered = part.orderBy("hour").rowsBetween(W.unboundedPreceding, W.currentRow)
    t = hourly.select(
        "event_type",
        "hour",
        "x",
        F.count(F.lit(1)).over(part).alias("hh"),
        F.sum("x").over(part).alias("ss"),
    )
    p = t.withColumn(
        "pf", F.sum(F.col("x") * F.col("hh") - F.col("ss")).over(ordered)
    )
    s = p.withColumn(
        "cus", F.col("pf") - F.least(F.min("pf").over(ordered), F.lit(0))
    )
    m = s.groupBy("event_type").agg(
        F.max("cus").alias("max_cusum"),
        F.max("hh").alias("n_hours"),
        F.max("ss").alias("total_events"),
    )
    # null-safe joins: a NULL event_type is a real group (the oracle's
    # IS NOT DISTINCT FROM twin)
    mm = m.select(
        F.col("event_type").alias("m_et"), F.col("max_cusum").alias("mx")
    )
    peak = (
        s.join(mm, F.col("event_type").eqNullSafe(F.col("m_et")))
        .filter(F.col("cus") == F.col("mx"))
        .groupBy("event_type")
        .agg(F.min("hour").alias("peak_hour"))
        .select(F.col("event_type").alias("p_et"), "peak_hour")
    )
    score = F.round(
        F.col("max_cusum").cast("double")
        / (F.col("n_hours").cast("double") * F.col("total_events").cast("double")),
        6,
    )
    return (
        m.join(peak, F.col("event_type").eqNullSafe(F.col("p_et")))
        .select(
            "event_type",
            "n_hours",
            "total_events",
            "max_cusum",
            "peak_hour",
            F.when(F.col("total_events") > 0, score).alias("drift_score"),
        )
        # DuckDB ASC defaults to NULLS LAST; Spark defaults to NULLS FIRST.
        # The NULL event_type group is real (eqNullSafe joins above), so pin
        # the null position to the oracle's convention.
        .orderBy(F.col("event_type").asc_nulls_last())
    )


ORACLE_CUSUM = f"""
WITH h AS (
  SELECT event_type, date_trunc('hour', ts) AS hour,
         CAST(COUNT(*) AS BIGINT) AS x
  FROM events WHERE ts IS NOT NULL GROUP BY 1, 2
),
t AS (
  SELECT *,
    CAST(COUNT(*) OVER (PARTITION BY event_type) AS BIGINT) AS hh,
    CAST(SUM(x) OVER (PARTITION BY event_type) AS BIGINT) AS ss
  FROM h
),
p AS (
  SELECT *, SUM(x * hh - ss) OVER (PARTITION BY event_type ORDER BY hour
            ROWS UNBOUNDED PRECEDING) AS pf
  FROM t
),
s AS (
  SELECT *, pf - LEAST(MIN(pf) OVER (PARTITION BY event_type ORDER BY hour
            ROWS UNBOUNDED PRECEDING), 0) AS cus
  FROM p
),
m AS (
  SELECT event_type, CAST(MAX(cus) AS BIGINT) AS max_cusum,
         MAX(hh) AS n_hours, MAX(ss) AS total_events
  FROM s GROUP BY event_type
),
peak AS (
  SELECT s.event_type, MIN(s.hour) AS peak_hour
  FROM s JOIN m ON s.event_type IS NOT DISTINCT FROM m.event_type
              AND s.cus = m.max_cusum
  GROUP BY s.event_type
)
SELECT m.event_type, m.n_hours, m.total_events, m.max_cusum, peak.peak_hour,
  CASE WHEN m.total_events > 0 THEN
    {_oracle_round6("CAST(m.max_cusum AS DOUBLE) / (CAST(m.n_hours AS DOUBLE) * CAST(m.total_events AS DOUBLE))")}
  END AS drift_score
FROM m JOIN peak ON m.event_type IS NOT DISTINCT FROM peak.event_type
ORDER BY m.event_type
"""


#: Registered queries, each mapped to its DuckDB oracle (see __spark_entry__).
QUERIES = {
    cusum_event_drift: ORACLE_CUSUM,
}
