"""Stream-stream interval join: purchases ⋈ the same user's prior
views within an hour — the attribution shape (\"which impression led
to this conversion\") run continuously.

Batch twin: :func:`view_purchase_pairs` runs the identical expression
tree on a batch frame and is registered as an oracle-checked query
(`view_purchase_join`); the streaming leg joins two watermarked
streams derived from the same source with the same time-bound
condition, and tests pin stream == batch row-for-row.

Scale notes (the reason stream-stream beats periodic batch here):

* **State bound**: each side buffers only rows younger than its
  watermark + the join's time bound (Spark derives the eviction bound
  from the `view_ts >= buy_ts - 1h` predicate) — state is
  O(1 hour of stream), not O(history).  The equivalent batch job
  re-scans a day of events to attribute one hour.
* The join keys on ``user_id`` first (hash-partitioned exchange, same
  layout both sides), the time-range predicate prunes within the
  partition — the standard stream-stream interval-join plan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.registry import load_table

__all__ = ["view_purchase_pairs", "view_purchase_pairs_stream",
           "view_purchase_join", "ORACLE_VIEW_PURCHASE",
           "view_purchase_outer_pairs", "view_purchase_outer_stream",
           "view_purchase_outer", "ORACLE_VIEW_PURCHASE_OUTER"]

#: attribution window: views at most this many seconds before the buy
ATTRIB_WINDOW_S = 3600


def _sides(events: DataFrame) -> tuple[DataFrame, DataFrame]:
    v = events.filter(
        (F.col("event_type") == "view") & F.col("user_id").isNotNull()
    ).select(
        F.col("user_id").alias("v_user"),
        F.col("event_id").alias("view_id"),
        F.col("ts").alias("view_ts"),
    )
    p = events.filter(
        (F.col("event_type") == "purchase") & F.col("user_id").isNotNull()
    ).select(
        F.col("user_id").alias("p_user"),
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("buy_ts"),
    )
    return v, p


def _joined(v: DataFrame, p: DataFrame) -> DataFrame:
    return (
        p.join(
            v,
            (F.col("p_user") == F.col("v_user"))
            & (F.col("view_ts") < F.col("buy_ts"))
            & (
                F.col("view_ts")
                >= F.col("buy_ts") - F.expr(f"INTERVAL {ATTRIB_WINDOW_S} SECONDS")
            ),
        )
        .select(
            F.col("p_user").alias("user_id"),
            "purchase_id",
            "view_id",
            # exact micros then floor-div: unix_timestamp() truncates
            # EACH timestamp before subtracting, which is off by one
            # around sub-second components vs the oracle's epoch diff
            (
                (F.unix_micros("buy_ts") - F.unix_micros("view_ts"))
                / F.lit(1_000_000)
            ).cast("long").alias("lag_seconds"),
        )
    )


def view_purchase_pairs(events: DataFrame) -> DataFrame:
    """Batch form: all (purchase, prior view ≤1 h) pairs per user."""
    v, p = _sides(events)
    return _joined(v, p)


def view_purchase_pairs_stream(stream: DataFrame) -> DataFrame:
    """Streaming form: the same join over two watermarked legs of the
    stream.  The 2-hour watermarks + the time-bound condition let the
    engine evict buffered rows — bounded state, append output."""
    v, p = _sides(stream)
    return _joined(
        v.withWatermark("view_ts", "2 hours"),
        p.withWatermark("buy_ts", "2 hours"),
    )


def view_purchase_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registry entry: the batch twin over the events table."""
    return view_purchase_pairs(load_table(spark, sf_dir, "events")).orderBy(
        "user_id", "purchase_id", "view_id"
    )


ORACLE_VIEW_PURCHASE = f"""
SELECT p.user_id AS user_id,
  p.event_id AS purchase_id,
  v.event_id AS view_id,
  CAST((epoch_us(p.ts) - epoch_us(v.ts)) // 1000000 AS BIGINT) AS lag_seconds
FROM events p JOIN events v
  ON p.user_id = v.user_id
  AND p.event_type = 'purchase' AND v.event_type = 'view'
  AND v.ts < p.ts
  AND v.ts >= p.ts - INTERVAL {ATTRIB_WINDOW_S} SECONDS
WHERE p.user_id IS NOT NULL
ORDER BY p.user_id, purchase_id, view_id
"""


def _outer_joined(v: DataFrame, p: DataFrame) -> DataFrame:
    """Views LEFT OUTER purchases under the SAME time-bound predicate
    as the inner attribution join: matched rows are exactly
    ``view_purchase_pairs`` rows; an unmatched view — "no purchase
    within 1 h", the funnel-drop metric — carries NULL purchase
    columns."""
    return (
        v.join(
            p,
            (F.col("p_user") == F.col("v_user"))
            & (F.col("view_ts") < F.col("buy_ts"))
            & (
                F.col("view_ts")
                >= F.col("buy_ts") - F.expr(f"INTERVAL {ATTRIB_WINDOW_S} SECONDS")
            ),
            "left_outer",
        )
        .select(
            F.col("v_user").alias("user_id"),
            "view_id",
            "purchase_id",
            (
                (F.unix_micros("buy_ts") - F.unix_micros("view_ts"))
                / F.lit(1_000_000)
            ).cast("long").alias("lag_seconds"),
        )
    )


def view_purchase_outer_pairs(events: DataFrame) -> DataFrame:
    """Batch form of the funnel outer join."""
    v, p = _sides(events)
    return _outer_joined(v, p)


def view_purchase_outer_stream(stream: DataFrame) -> DataFrame:
    """Streaming form: watermark-evicted LEFT OUTER stream-stream join
    — stock Structured Streaming.  Matched pairs append as they join;
    an unmatched view emits its NULL row when the purchase-side
    watermark passes ``view_ts + ATTRIB_WINDOW_S`` (the engine then
    KNOWS no qualifying purchase can still arrive), so the no-purchase
    funnel metric streams with bounded state and bounded lateness —
    the continuous form of a nightly "views that didn't convert" scan.
    State stays O(watermark window of stream), as for the inner join.
    """
    v, p = _sides(stream)
    return _outer_joined(
        v.withWatermark("view_ts", "2 hours"),
        p.withWatermark("buy_ts", "2 hours"),
    )


def view_purchase_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registry entry: the batch twin over the events table."""
    return view_purchase_outer_pairs(
        load_table(spark, sf_dir, "events")
    ).orderBy("user_id", "view_id", "purchase_id")


ORACLE_VIEW_PURCHASE_OUTER = f"""
WITH v AS (
  SELECT user_id, event_id, ts FROM events
  WHERE event_type = 'view' AND user_id IS NOT NULL
),
p AS (
  SELECT user_id, event_id, ts FROM events
  WHERE event_type = 'purchase' AND user_id IS NOT NULL
)
SELECT v.user_id AS user_id,
  v.event_id AS view_id,
  p.event_id AS purchase_id,
  CAST((epoch_us(p.ts) - epoch_us(v.ts)) // 1000000 AS BIGINT) AS lag_seconds
FROM v LEFT JOIN p
  ON p.user_id = v.user_id
  AND v.ts < p.ts
  AND v.ts >= p.ts - INTERVAL {ATTRIB_WINDOW_S} SECONDS
ORDER BY user_id, view_id, purchase_id
"""


#: Registered queries, each mapped to its DuckDB oracle (see __spark_entry__).
QUERIES = {
    view_purchase_join: ORACLE_VIEW_PURCHASE,
    view_purchase_outer: ORACLE_VIEW_PURCHASE_OUTER,
}
