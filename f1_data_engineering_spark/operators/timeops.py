"""Time/boolean expression-library queries over the driver test tables.

Exercises the domain core of SURVEY.md §2.8 (F2/F4/F9 duration
format+parse round-trip, F5/F6/F8 wall-clock rendering, F16/F17 boolean
normalization) plus the windowed-time surface (tumbling rollup ≈ the
weather sampling of §2.9, gap-based sessionization ≈ session windows /
stint detection) — each with a DuckDB oracle twin.

Parity notes:

* the round-trip query uses the TRUNCATING formatter variants
  (f1_dataTransformer.py:67-95 semantics) — ``floor(|s|*1000)`` is the
  same IEEE double op in Spark and DuckDB, so strings match byte-for-byte
  (the half-even extractor variant is unit-tested in tests/ instead;
  DuckDB's ``round()`` is ties-away so exact .5 ms ties would diverge,
  and ties cannot occur in this table's 2-decimal values anyway);
* gaps are measured in exact integer microseconds (``unix_micros`` /
  ``epoch_us``), never float seconds.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from ..functions.booleans import to_bool_or_numeric, to_bool_strict
from ..functions.timefmt import (
    fmt_hhmmssms,
    fmt_mmssms,
    iso_utc,
    parse_f1_duration,
    wallclock_hhmmss,
    wallclock_hhmmssms,
)
from ..sources.registry import load_table, spread

SESSION_GAP_US = 3_600_000_000  # 1 hour


def time_format_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F2/F4 format → F9 parse round-trip on events.value (seconds).

    ``parsed_sec`` must equal ``floor(value*1000)/1000`` — the
    transformer's truncation contract (f1_dataTransformer.py:67-95).
    Pure scan-side expressions: no shuffle, whole-stage codegen'd.

    No final orderBy: a global sort range-partitions by sampling its
    child, which re-evaluates this regex-heavy projection a second
    time (measured 2.0s → 0.9s at sf0.1 when dropped).  Order is the
    consumer's concern; the differential check is order-insensitive.
    """
    # spread: the format+regex-parse stage is compute-bound (several
    # regex evaluations per row); don't let one row group serialize it
    ev = spread(
        load_table(spark, sf_dir, "events").select("event_id", "value"), "event_id"
    )
    mmssms = fmt_mmssms("value", rounding="trunc")
    hhmmssms = fmt_hhmmssms("value", rounding="trunc")
    return ev.select(
        "event_id",
        "value",
        mmssms.alias("dur_mmssms"),
        hhmmssms.alias("dur_hhmmssms"),
        parse_f1_duration(hhmmssms).alias("parsed_sec"),
        (parse_f1_duration(hhmmssms) - parse_f1_duration(mmssms)).alias("parse_diff"),
    )


ORACLE_TIME_ROUNDTRIP = """
WITH f AS (
  SELECT event_id, value,
    CAST(FLOOR(ABS(value)*1000) AS BIGINT) AS ms,
    CASE WHEN value < 0 THEN '-' ELSE '' END AS sgn
  FROM events
),
s AS (
  SELECT event_id, value,
    sgn || printf('%02d:%02d:%03d', ms//60000, (ms%60000)//1000, ms%1000)
      AS dur_mmssms,
    sgn || printf('%02d:%02d:%02d:%03d', ms//3600000, (ms%3600000)//60000,
                  (ms%60000)//1000, ms%1000) AS dur_hhmmssms
  FROM f
),
p AS (
  SELECT event_id, value, dur_mmssms, dur_hhmmssms,
    (CASE WHEN regexp_extract(dur_hhmmssms,
        '^([+-]?)(\\d+):(\\d{2}):(\\d{2}):(\\d{3})$', 1) = '-'
      THEN -1.0 ELSE 1.0 END) * (
      CAST(regexp_extract(dur_hhmmssms, '^([+-]?)(\\d+):(\\d{2}):(\\d{2}):(\\d{3})$', 2) AS DOUBLE)*3600
      + CAST(regexp_extract(dur_hhmmssms, '^([+-]?)(\\d+):(\\d{2}):(\\d{2}):(\\d{3})$', 3) AS DOUBLE)*60
      + CAST(regexp_extract(dur_hhmmssms, '^([+-]?)(\\d+):(\\d{2}):(\\d{2}):(\\d{3})$', 4) AS DOUBLE)
      + CAST(regexp_extract(dur_hhmmssms, '^([+-]?)(\\d+):(\\d{2}):(\\d{2}):(\\d{3})$', 5) AS DOUBLE)/1000
    ) AS hh_sec,
    (CASE WHEN regexp_extract(dur_mmssms,
        '^([+-]?)(\\d+):(\\d{2}):(\\d{3})$', 1) = '-'
      THEN -1.0 ELSE 1.0 END) * (
      CAST(regexp_extract(dur_mmssms, '^([+-]?)(\\d+):(\\d{2}):(\\d{3})$', 2) AS DOUBLE)*60
      + CAST(regexp_extract(dur_mmssms, '^([+-]?)(\\d+):(\\d{2}):(\\d{3})$', 3) AS DOUBLE)
      + CAST(regexp_extract(dur_mmssms, '^([+-]?)(\\d+):(\\d{2}):(\\d{3})$', 4) AS DOUBLE)/1000
    ) AS mm_sec
  FROM s
)
SELECT event_id, value, dur_mmssms, dur_hhmmssms,
       hh_sec AS parsed_sec, hh_sec - mm_sec AS parse_diff
FROM p ORDER BY event_id
"""


def wallclock_formats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F5/F6/F8 wall-clock rendering of events.ts (engine stores UTC;
    local rendering = from_utc_timestamp at the presentation edge)."""
    ev = load_table(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        wallclock_hhmmss("ts").alias("t_hhmmss"),
        wallclock_hhmmssms("ts").alias("t_hhmmssms"),
        iso_utc("ts").alias("t_iso"),
    ).orderBy("event_id")


ORACLE_WALLCLOCK = """
SELECT event_id,
  strftime(ts, '%H:%M:%S') AS t_hhmmss,
  strftime(ts, '%H:%M:%S') || ':' || printf('%03d', (epoch_us(ts) % 1000000) // 1000)
    AS t_hhmmssms,
  strftime(ts, '%Y-%m-%dT%H:%M:%S') || 'Z' AS t_iso
FROM events ORDER BY event_id
"""


def boolean_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F16/F17 boolean normalization over synthesized spellings.

    Spellings are derived deterministically from event_id so Spark and
    the oracle construct the identical input column, then both apply the
    strict map (IsAccurate, streamlit_app.py:85-89) and the
    bool-then-numeric fallback (Rainfall, streamlit_app.py:127-139).
    """
    ev = load_table(spark, sf_dir, "events")
    m = F.col("event_id") % 8
    spelling = (
        F.when(m == 0, "True")
        .when(m == 1, "false")
        .when(m == 2, "1")
        .when(m == 3, "0.0")
        .when(m == 4, "yes")
        .when(m == 5, "")
        .when(m == 6, "nan")
        .otherwise("0.75")
    )
    return (
        ev.select(
            spelling.alias("spelling"),
            to_bool_strict(spelling).alias("as_strict"),
            to_bool_or_numeric(spelling).alias("as_numeric_fallback"),
        )
        .groupBy("spelling", "as_strict", "as_numeric_fallback")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("spelling")
    )


ORACLE_BOOLEAN = """
WITH sp AS (
  SELECT CASE event_id % 8
    WHEN 0 THEN 'True' WHEN 1 THEN 'false' WHEN 2 THEN '1'
    WHEN 3 THEN '0.0' WHEN 4 THEN 'yes' WHEN 5 THEN ''
    WHEN 6 THEN 'nan' ELSE '0.75' END AS spelling
  FROM events
),
b AS (
  SELECT spelling,
    lower(trim(spelling)) IN ('true','1','1.0') AS as_strict,
    COALESCE(
      CASE WHEN lower(trim(spelling)) IN ('true','1','1.0') THEN TRUE
           WHEN lower(trim(spelling)) IN ('false','0','0.0','nan','none','') THEN FALSE
           ELSE TRY_CAST(spelling AS DOUBLE) > 0 END,
      FALSE) AS as_numeric_fallback
  FROM sp
)
SELECT spelling, as_strict, as_numeric_fallback, COUNT(*) AS n
FROM b GROUP BY spelling, as_strict, as_numeric_fallback
ORDER BY spelling
"""


def hourly_event_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-hour window aggregate on events (§2.9 batch twin of
    the streaming weather/telemetry rollup).  ``window()`` compiles to
    a plain hash aggregate on the bucket — one shuffle, map-side
    partials; identical plan shape at 100 TB."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour").alias("w"), F.col("event_type"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(38,4)")).cast("double").alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("hour_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
        .orderBy("hour_start", "event_type")
    )


ORACLE_HOURLY = """
SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hour_start, event_type,
  COUNT(*) AS n_events,
  CAST(SUM(CAST(value AS DECIMAL(38,4))) AS DOUBLE) AS sum_value
FROM events GROUP BY 1, 2 ORDER BY hour_start, event_type
"""


def sessionize_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (batch twin of Structured Streaming's
    ``session_window``; ≈ stint detection, SURVEY.md §2.9): a new
    session starts when a user's inter-event gap exceeds 1 hour.

    lag → boundary flag → running sum = session id; one shuffle on
    user_id, then two window passes over the same sort order (Spark
    reuses the sort).  Microsecond-exact gap arithmetic.
    """
    ev = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    us = F.unix_micros(F.col("ts"))
    prev = F.lag(us).over(w)
    boundary = F.when(prev.isNull() | ((us - prev) > SESSION_GAP_US), 1).otherwise(0)
    sess = (
        ev.withColumn("boundary", boundary)
        .withColumn(
            "session_id",
            F.sum("boundary").over(w.rowsBetween(W.unboundedPreceding, W.currentRow)),
        )
    )
    return (
        sess.groupBy("user_id", "session_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
        )
        .orderBy("user_id", "session_id")
    )


ORACLE_SESSIONIZE = """
WITH g AS (
  SELECT user_id, ts, event_id,
    CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
           OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > 3600000000
         THEN 1 ELSE 0 END AS boundary
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
s AS (
  SELECT user_id, ts,
    CAST(SUM(boundary) OVER (PARTITION BY user_id ORDER BY ts, event_id
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
  FROM g
)
SELECT user_id, session_id, COUNT(*) AS n_events,
       CAST(MIN(ts) AS TIMESTAMP) AS session_start,
       CAST(MAX(ts) AS TIMESTAMP) AS session_end
FROM s GROUP BY user_id, session_id ORDER BY user_id, session_id
"""


def asof_join_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join (an operator Spark lacks natively): for every
    'click' event, the most recent prior-or-same-time 'purchase' by the
    same user, plus the elapsed gap.

    Spark-first implementation — NOT a per-key loop: one window pass
    over events sorted by (user_id, ts): ``last_value(purchase ts,
    ignorenulls)`` carries the latest purchase forward, then click rows
    project it.  Exactly one shuffle on user_id regardless of table
    size; this is the scalable as-of pattern (union-of-sides + ordered
    carry-forward).  Ties (same-timestamp purchase) resolve as
    'purchase visible to the click' via ordering purchases before
    clicks at equal ts — matched in the oracle.
    """
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "ts", "event_type"
    )
    kind_rank = F.when(F.col("event_type") == "purchase", 0).otherwise(1)
    w = (
        W.partitionBy("user_id")
        .orderBy(F.unix_micros("ts"), kind_rank, "event_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    carried = ev.withColumn(
        "last_purchase_us",
        F.last(
            F.when(F.col("event_type") == "purchase", F.unix_micros("ts")),
            ignorenulls=True,
        ).over(w),
    )
    return (
        carried.filter(F.col("event_type") == "click")
        .select(
            "event_id",
            "user_id",
            F.col("ts").alias("click_ts"),
            F.timestamp_micros(F.col("last_purchase_us")).alias("purchase_ts"),
            ((F.unix_micros("ts") - F.col("last_purchase_us")) / 1e6).alias(
                "gap_seconds"
            ),
        )
        .orderBy("event_id")
    )


ORACLE_ASOF = """
WITH carried AS (
  SELECT event_id, user_id, ts, event_type,
    last_value(CASE WHEN event_type = 'purchase' THEN epoch_us(ts) END
               IGNORE NULLS) OVER (
      PARTITION BY user_id
      ORDER BY epoch_us(ts),
               CASE WHEN event_type = 'purchase' THEN 0 ELSE 1 END,
               event_id
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS last_purchase_us
  FROM events
)
SELECT event_id, user_id,
  CAST(ts AS TIMESTAMP) AS click_ts,
  CAST(make_timestamp(last_purchase_us) AS TIMESTAMP) AS purchase_ts,
  (epoch_us(ts) - last_purchase_us) / 1e6 AS gap_seconds
FROM carried WHERE event_type = 'click'
ORDER BY event_id
"""


def moving_hour_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Value-based window frame: per user, sum of value over the
    trailing 1 hour (RANGE frame on microseconds — event-time, not
    row-count).  One shuffle on user_id; the frame is evaluated with a
    sliding pointer over the sorted partition."""
    ev = load_table(spark, sf_dir, "events")
    us = F.unix_micros("ts")
    w = (
        W.partitionBy("user_id")
        .orderBy(us)
        .rangeBetween(-3_600_000_000, 0)
    )
    return (
        ev.select(
            "event_id",
            "user_id",
            F.sum(F.col("value").cast("decimal(38,4)"))
            .over(w)
            .cast("double")
            .alias("hour_sum"),
            F.count(F.lit(1)).over(w).alias("hour_n"),
        )
        .orderBy("event_id")
    )


ORACLE_MOVING_HOUR = """
SELECT event_id, user_id,
  CAST(SUM(CAST(value AS DECIMAL(38,4))) OVER w AS DOUBLE) AS hour_sum,
  COUNT(*) OVER w AS hour_n
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
             RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
ORDER BY event_id
"""


def value_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles (p50/p90/p99) of value per
    event_type — the OLAP quantile staple.  Exact percentile needs a
    per-group sort; at 100 TB swap in approx_percentile (t-digest,
    mergeable sketch, no sort) and accept bounded error."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy("event_type")
        .agg(
            F.round(F.expr("percentile(value, 0.5)"), 6).alias("p50"),
            F.round(F.expr("percentile(value, 0.9)"), 6).alias("p90"),
            F.round(F.expr("percentile(value, 0.99)"), 6).alias("p99"),
            F.count(F.lit(1)).alias("n"),
        )
        .orderBy("event_type")
    )


ORACLE_PERCENTILES = """
SELECT event_type,
  ROUND(quantile_cont(value, 0.5), 6) AS p50,
  ROUND(quantile_cont(value, 0.9), 6) AS p90,
  ROUND(quantile_cont(value, 0.99), 6) AS p99,
  COUNT(*) AS n
FROM events GROUP BY event_type ORDER BY event_type
"""


def value_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width histogram of value (50-unit bins) — binning is a
    scan-side floor-div, then a tiny hash aggregate."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.select(F.floor(F.col("value") / 50).cast("long").alias("bin"))
        .groupBy("bin")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("bin")
    )


ORACLE_HISTOGRAM = """
SELECT CAST(FLOOR(value / 50) AS BIGINT) AS bin, COUNT(*) AS n
FROM events GROUP BY bin ORDER BY bin
"""


def salted_user_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-resistant two-stage aggregate: counts per user computed via
    (user_id, salt) partials then re-aggregated — the manual fix when
    one key dominates a shuffle and AQE's skew handling can't apply
    (e.g. aggregations, not joins).  The oracle is a plain GROUP BY:
    salting must be semantically invisible.
    """
    ev = load_table(spark, sf_dir, "events")
    salted = ev.withColumn("salt", F.pmod(F.col("event_id"), F.lit(8)))
    partial = salted.groupBy("user_id", "salt").agg(
        F.count(F.lit(1)).alias("pn"),
        F.sum(F.col("value").cast("decimal(38,4)")).alias("pv"),
    )
    return (
        partial.groupBy("user_id")
        .agg(
            F.sum("pn").alias("n_events"),
            F.sum("pv").cast("double").alias("sum_value"),
        )
        .orderBy("user_id")
    )


ORACLE_SALTED = """
SELECT user_id, COUNT(*) AS n_events,
  CAST(SUM(CAST(value AS DECIMAL(38,4))) AS DOUBLE) AS sum_value
FROM events GROUP BY user_id ORDER BY user_id
"""


def value_quartiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ntile/cume_dist ranking surface: quartile assignment of events
    by value within each event_type, with per-quartile stats."""
    ev = load_table(spark, sf_dir, "events")
    # explicit NULLS FIRST: Spark's ASC default, but DuckDB defaults to
    # NULLS LAST — a NULL value would land in a different quartile per
    # engine unless both sides pin it (found by the differential fuzzer)
    w = W.partitionBy("event_type").orderBy(
        F.col("value").asc_nulls_first(), "event_id"
    )
    return (
        ev.withColumn("quartile", F.ntile(4).over(w))
        .groupBy("event_type", "quartile")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("value").alias("min_v"),
            F.max("value").alias("max_v"),
        )
        .orderBy("event_type", "quartile")
    )


ORACLE_QUARTILES = """
WITH q AS (
  SELECT event_type, value,
    ntile(4) OVER (PARTITION BY event_type
                   ORDER BY value NULLS FIRST, event_id)
      AS quartile
  FROM events
)
SELECT event_type, quartile, COUNT(*) AS n,
       MIN(value) AS min_v, MAX(value) AS max_v
FROM q GROUP BY event_type, quartile ORDER BY event_type, quartile
"""


def latest_event_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-write-wins snapshot (the CDC-apply / compaction shape):
    per user, the latest event by (ts, event_id) plus the event count —
    how a change-log stream collapses into current state.

    One shuffle on the key; row_number and the count share the same
    window partition, so Spark evaluates both in a single window pass
    (no second aggregate or self-join).  The (ts DESC, event_id DESC)
    order makes the winner deterministic even with equal timestamps.
    """
    ev = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .withColumn(
            "n_events", F.count(F.lit(1)).over(W.partitionBy("user_id"))
        )
        .filter(F.col("rn") == 1)
        .select(
            "user_id",
            F.col("event_id").alias("last_event_id"),
            F.col("event_type").alias("last_type"),
            F.round("value", 6).alias("last_value"),
            F.col("ts").alias("last_ts"),
            "n_events",
        )
        .orderBy("user_id")
    )


ORACLE_LATEST_STATE = """
WITH r AS (
  SELECT user_id, event_id, event_type, value, ts,
    row_number() OVER (PARTITION BY user_id
                       ORDER BY ts DESC, event_id DESC) AS rn,
    COUNT(*) OVER (PARTITION BY user_id) AS n_events
  FROM events
)
SELECT user_id, event_id AS last_event_id, event_type AS last_type,
  CAST(ROUND(CAST(CAST((value) AS VARCHAR) AS DECIMAL(38,30)), 6) AS DOUBLE) AS last_value, ts AS last_ts, n_events
FROM r WHERE rn = 1 ORDER BY user_id
"""


def retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly retention matrix: users cohorted by first-seen week,
    counted per (cohort_week, weeks_since) — the DAU/WAU retention
    triangle, plus each cell's share of its cohort.

    Self-join-free: first-seen week is a per-user ``min`` (one hash
    aggregate), re-attached to the user's distinct active weeks by a
    user-keyed join — at 100 TB both sides are user-cardinality
    tables, co-partitioned on the same key, and the final matrix is
    weeks² rows.  The naive formulation (events self-joined to first
    events) shuffles the fact table twice; this shuffles user-week
    pairs once.
    """
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", F.date_trunc("week", F.col("ts")).alias("week")
    )
    user_weeks = ev.distinct()
    first_seen = user_weeks.groupBy("user_id").agg(F.min("week").alias("cohort_week"))
    cohort_sizes = first_seen.groupBy("cohort_week").agg(
        F.count(F.lit(1)).alias("cohort_n")
    )
    cells = (
        user_weeks.join(first_seen, "user_id")
        .groupBy(
            "cohort_week",
            (
                F.datediff(F.col("week"), F.col("cohort_week")) / 7
            ).cast("long").alias("weeks_since"),
        )
        .agg(F.count(F.lit(1)).alias("n_active"))
    )
    return (
        cells.join(F.broadcast(cohort_sizes), "cohort_week")
        .select(
            "cohort_week",
            "weeks_since",
            "n_active",
            "cohort_n",
            F.round(
                F.col("n_active").cast("double") / F.col("cohort_n").cast("double"), 6
            ).alias("retention"),
        )
        .orderBy("cohort_week", "weeks_since")
    )


ORACLE_RETENTION = """
WITH uw AS (
  SELECT DISTINCT user_id, date_trunc('week', ts) AS week FROM events
),
first_seen AS (
  SELECT user_id, MIN(week) AS cohort_week FROM uw GROUP BY user_id
),
sizes AS (
  SELECT cohort_week, COUNT(*) AS cohort_n FROM first_seen GROUP BY cohort_week
),
cells AS (
  SELECT f.cohort_week,
    CAST(date_diff('day', f.cohort_week, uw.week) // 7 AS BIGINT) AS weeks_since,
    COUNT(*) AS n_active
  FROM uw JOIN first_seen f USING (user_id)
  GROUP BY f.cohort_week, weeks_since
)
SELECT c.cohort_week, c.weeks_since, c.n_active, s.cohort_n,
  CAST(ROUND(CAST(CAST((CAST(c.n_active AS DOUBLE) / CAST(s.cohort_n AS DOUBLE)) AS VARCHAR) AS DECIMAL(38,30)), 6) AS DOUBLE) AS retention
FROM cells c JOIN sizes s USING (cohort_week)
ORDER BY c.cohort_week, c.weeks_since
"""


#: Registered queries, each mapped to its DuckDB oracle (see __spark_entry__).
QUERIES = {
    time_format_roundtrip: ORACLE_TIME_ROUNDTRIP,
    wallclock_formats: ORACLE_WALLCLOCK,
    boolean_normalize: ORACLE_BOOLEAN,
    hourly_event_rollup: ORACLE_HOURLY,
    retention_cohorts: ORACLE_RETENTION,
    sessionize_events: ORACLE_SESSIONIZE,
    asof_join_purchase: ORACLE_ASOF,
    latest_event_state: ORACLE_LATEST_STATE,
    moving_hour_sum: ORACLE_MOVING_HOUR,
    value_percentiles: ORACLE_PERCENTILES,
    value_histogram: ORACLE_HISTOGRAM,
    salted_user_counts: ORACLE_SALTED,
    value_quartiles: ORACLE_QUARTILES,
}
