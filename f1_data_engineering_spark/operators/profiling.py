"""Data profiling and sampling operators (beyond-reference
training-data scope): single-pass column profiler, deterministic
stratified sampling, and sketch-based approximate aggregates.

Scale design:

* **profiler** — ONE aggregation pass computes every per-column stat
  (null count, distinct count, numeric min/max, string length min/max),
  then a ``stack`` unpivots the single row into per-column rows.  The
  scan reads each column once; nothing is collected driver-side.  The
  exact ``count(distinct)`` per column expands the aggregate input
  (one Expand branch per distinct agg) — correct at test SF and
  oracle-matchable; at 100 TB swap in ``approx_count_distinct`` (same
  plan shape, no expand, ~2% error) — see :func:`sketch_summary`.
* **stratified sample** — keep-probability decided per row from a
  cryptographic hash of the ROW KEY, never from ``rand()``: the sample
  is reproducible across engines, retries, and partitionings (the
  property training-data pipelines need for auditable subsets).
  Per-stratum rates are a broadcast map expression; the filter runs
  scan-side so the sample never shuffles.
* **sketches** — HLL distinct counts replace exact ``count(distinct)``
  when a 1-5% error buys an orders-of-magnitude smaller shuffle.
  Mergeable sketch state is what makes them cluster-scalable: partials
  combine associatively across partitions.  :func:`sketch_summary`
  uses the repo's own md5/integer HLL (analytics4) instead of Spark's
  native HLL++ so the estimate VALUES are engine-stable and sit under
  the DuckDB differential oracle; the pytest bound-check against exact
  values remains the accuracy statement.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..sources.registry import load_table, spread

__all__ = [
    "profile_orders",
    "stratified_sample_orders",
    "sketch_summary",
    "numeric_corr_matrix",
]


def _profile_aggs(df: DataFrame) -> tuple[list[Column], list[str]]:
    """Per-column aggregate expressions for one profiling pass."""
    aggs: list[Column] = [F.count(F.lit(1)).alias("n_rows")]
    for f in df.schema.fields:
        c = F.col(f.name)
        aggs.append((F.count(F.lit(1)) - F.count(c)).alias(f"nn_{f.name}"))
        aggs.append(F.countDistinct(c).alias(f"nd_{f.name}"))
        if isinstance(f.dataType, T.NumericType):
            mn, mx = F.min(c).cast("double"), F.max(c).cast("double")
        elif isinstance(f.dataType, T.TimestampType):
            # epoch micros fit in a double exactly (< 2^53)
            mn = F.min(F.unix_micros(c)).cast("double")
            mx = F.max(F.unix_micros(c)).cast("double")
        else:
            mn = mx = F.lit(None).cast("double")
        aggs.append(mn.alias(f"mn_{f.name}"))
        aggs.append(mx.alias(f"mx_{f.name}"))
        if isinstance(f.dataType, T.StringType):
            ln_mn, ln_mx = F.min(F.length(c)), F.max(F.length(c))
        else:
            ln_mn = ln_mx = F.lit(None).cast("int")
        aggs.append(ln_mn.cast("long").alias(f"lmn_{f.name}"))
        aggs.append(ln_mx.cast("long").alias(f"lmx_{f.name}"))
    return aggs, [f.name for f in df.schema.fields]


def profile_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column-level profile of ``orders``: one row per column with
    null count, exact distinct count, numeric min/max (timestamps as
    epoch micros), and string-length min/max.

    Plan: scan → single hash aggregate (with Expand for the distinct
    aggs) → 1-row result → ``stack`` unpivot.  The unpivot is driver-
    free: column names are plan-time literals from the static schema.
    """
    # NO spread: the distinct aggs already shuffle right after the
    # Expand, so a pre-repartition only adds a full-row exchange
    # (measured 1.57s → 1.70s at sf0.1)
    df = load_table(spark, sf_dir, "orders")
    aggs, names = _profile_aggs(df)
    one = df.agg(*aggs)
    branches = ", ".join(
        f"'{n}', nn_{n}, nd_{n}, mn_{n}, mx_{n}, lmn_{n}, lmx_{n}" for n in names
    )
    return one.select(
        F.expr(
            f"stack({len(names)}, {branches}) AS "
            "(col_name, n_nulls, n_distinct, min_num, max_num, min_len, max_len)"
        ),
        "n_rows",
    ).select(
        "col_name",
        "n_rows",
        "n_nulls",
        "n_distinct",
        "min_num",
        "max_num",
        "min_len",
        "max_len",
    )


ORACLE_PROFILE_ORDERS = """
WITH a AS (
  SELECT COUNT(*) AS n_rows,
    COUNT(o_orderkey) AS c1, COUNT(DISTINCT o_orderkey) AS d1,
      CAST(MIN(o_orderkey) AS DOUBLE) AS mn1, CAST(MAX(o_orderkey) AS DOUBLE) AS mx1,
    COUNT(o_custkey) AS c2, COUNT(DISTINCT o_custkey) AS d2,
      CAST(MIN(o_custkey) AS DOUBLE) AS mn2, CAST(MAX(o_custkey) AS DOUBLE) AS mx2,
    COUNT(o_orderstatus) AS c3, COUNT(DISTINCT o_orderstatus) AS d3,
      CAST(MIN(LENGTH(o_orderstatus)) AS BIGINT) AS lmn3,
      CAST(MAX(LENGTH(o_orderstatus)) AS BIGINT) AS lmx3,
    COUNT(o_totalprice) AS c4, COUNT(DISTINCT o_totalprice) AS d4,
      MIN(o_totalprice) AS mn4, MAX(o_totalprice) AS mx4,
    COUNT(o_orderdate) AS c5, COUNT(DISTINCT o_orderdate) AS d5,
      CAST(epoch_us(MIN(o_orderdate)) AS DOUBLE) AS mn5,
      CAST(epoch_us(MAX(o_orderdate)) AS DOUBLE) AS mx5,
    COUNT(o_orderpriority) AS c6, COUNT(DISTINCT o_orderpriority) AS d6,
      CAST(MIN(LENGTH(o_orderpriority)) AS BIGINT) AS lmn6,
      CAST(MAX(LENGTH(o_orderpriority)) AS BIGINT) AS lmx6
  FROM orders
)
SELECT 'o_orderkey' AS col_name, n_rows, n_rows - c1 AS n_nulls, d1 AS n_distinct,
       mn1 AS min_num, mx1 AS max_num,
       CAST(NULL AS BIGINT) AS min_len, CAST(NULL AS BIGINT) AS max_len FROM a
UNION ALL
SELECT 'o_custkey', n_rows, n_rows - c2, d2, mn2, mx2, NULL, NULL FROM a
UNION ALL
SELECT 'o_orderstatus', n_rows, n_rows - c3, d3, NULL, NULL, lmn3, lmx3 FROM a
UNION ALL
SELECT 'o_totalprice', n_rows, n_rows - c4, d4, mn4, mx4, NULL, NULL FROM a
UNION ALL
SELECT 'o_orderdate', n_rows, n_rows - c5, d5, mn5, mx5, NULL, NULL FROM a
UNION ALL
SELECT 'o_orderpriority', n_rows, n_rows - c6, d6, NULL, NULL, lmn6, lmx6 FROM a
"""



#: Per-stratum keep rates (percent) for the stratified sample: rare
#: strata oversampled, common strata thinned — the usual re-balancing
#: shape for training-data curation.
STRATA_RATES = {"F": 10, "O": 5, "P": 50}
_DEFAULT_RATE = 20


def _hash_pct(key: Column) -> Column:
    """Deterministic [0, 100) bucket from md5 of the key's string form
    (same 60-bit prefix trick as the dedup operators — exact in both
    engines)."""
    h = F.conv(F.substring(F.md5(key.cast("string").cast("binary")), 1, 15), 16, 10)
    return h.cast("long") % 100


def stratified_sample_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified sample of ``orders`` by order status:
    keep a row iff ``md5(o_orderkey) % 100 < rate(o_orderstatus)``.

    Content-hash sampling (vs ``rand()``) is reproducible run-to-run
    and engine-to-engine, stable under repartitioning, and auditable —
    a row's membership can be re-derived from the row alone.  The
    filter is scan-side (no shuffle, no sort); the per-stratum rate is
    a literal CASE expression, so predicate pushdown still applies to
    any further filters stacked on top.
    """
    o = load_table(spark, sf_dir, "orders")
    rate = F.lit(_DEFAULT_RATE)
    for status, pct in sorted(STRATA_RATES.items()):
        rate = F.when(F.col("o_orderstatus") == status, F.lit(pct)).otherwise(rate)
    return o.filter(_hash_pct(F.col("o_orderkey")) < rate).select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"
    )


_SQL_RATE = (
    "CASE o_orderstatus WHEN 'F' THEN 10 WHEN 'O' THEN 5 WHEN 'P' THEN 50 "
    f"ELSE {_DEFAULT_RATE} END"
)

ORACLE_STRATIFIED_SAMPLE = f"""
SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice
FROM orders
WHERE CAST(('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 15)) AS BIGINT)
      % 100 < {_SQL_RATE}
ORDER BY o_orderkey
"""


#: Numeric lineitem columns profiled pairwise by the correlation matrix.
CORR_COLS = ("l_quantity", "l_extendedprice", "l_discount", "l_tax")


def numeric_corr_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise Pearson correlation + population covariance over the
    numeric ``lineitem`` measures, computed from EXACT decimal moment
    sums (n, Σx, Σx², Σxy) so the result is bit-deterministic.

    Scale shape: ONE full-scan aggregate produces every moment for all
    C(4,2) pairs simultaneously (map-side partial aggregation — the
    shuffle is a single row of decimals), then the pair rows are
    expanded plan-side from the 1-row result.  A naive ``df.stat.corr``
    loop would re-scan the fact table per pair; this scans once for the
    whole matrix.  Float non-associativity never appears: partial sums
    are exact decimals, and the double-precision corr formula runs on
    the final scalars only — the same property the DuckDB oracle
    reproduces term-for-term.
    """
    li = load_table(spark, sf_dir, "lineitem")

    # 12,2 is exact for these measures (≤2 decimal digits in the data)
    # and measurably faster than wider decimals (1.27s vs 1.86s at
    # sf0.1 for the moment pass); the 24-precision products also keep
    # DuckDB off its overflow-prone int64 multiply path (precision ≤18
    # multiplies run in int64 there and overflow on price²·10⁴).
    def dec(c: str) -> Column:
        return F.col(c).cast("decimal(12,2)")

    aggs: list[Column] = [F.count(F.lit(1)).alias("n")]
    for c in CORR_COLS:
        aggs.append(F.sum(dec(c)).alias(f"s_{c}"))
        aggs.append(F.sum(dec(c) * dec(c)).alias(f"ss_{c}"))
    pairs = [
        (x, y) for i, x in enumerate(CORR_COLS) for y in CORR_COLS[i + 1 :]
    ]
    for x, y in pairs:
        aggs.append(F.sum(dec(x) * dec(y)).alias(f"sp_{x}_{y}"))
    one = li.agg(*aggs)

    rows = []
    for x, y in pairs:
        n = F.col("n").cast("double")
        sx, sy = F.col(f"s_{x}").cast("double"), F.col(f"s_{y}").cast("double")
        sxx, syy = F.col(f"ss_{x}").cast("double"), F.col(f"ss_{y}").cast("double")
        sxy = F.col(f"sp_{x}_{y}").cast("double")
        num = n * sxy - sx * sy
        den = F.sqrt(n * sxx - sx * sx) * F.sqrt(n * syy - sy * sy)
        rows.append(
            F.struct(
                F.lit(x).alias("col_x"),
                F.lit(y).alias("col_y"),
                F.col("n").alias("n"),
                F.round(num / den, 6).alias("corr_r"),
                F.round(num / (n * n), 6).alias("cov_pop_r"),
            )
        )
    return (
        one.select(F.explode(F.array(*rows)).alias("p"))
        .select("p.*")
        .orderBy("col_x", "col_y")
    )


def _corr_oracle() -> str:
    """DuckDB twin of :func:`numeric_corr_matrix` — same decimal moment
    sums, same double formula, same rounding (generated so the two
    stay structurally in lock-step)."""
    dec = lambda c: f"CAST({c} AS DECIMAL(12,2))"  # noqa: E731
    moments = ["COUNT(*) AS n"]
    for c in CORR_COLS:
        moments.append(f"SUM({dec(c)}) AS s_{c}")
        moments.append(f"SUM({dec(c)} * {dec(c)}) AS ss_{c}")
    pairs = [
        (x, y) for i, x in enumerate(CORR_COLS) for y in CORR_COLS[i + 1 :]
    ]
    for x, y in pairs:
        moments.append(f"SUM({dec(x)} * {dec(y)}) AS sp_{x}_{y}")
    selects = []
    for x, y in pairs:
        nd = "CAST(n AS DOUBLE)"
        sx, sy = f"CAST(s_{x} AS DOUBLE)", f"CAST(s_{y} AS DOUBLE)"
        sxx, syy = f"CAST(ss_{x} AS DOUBLE)", f"CAST(ss_{y} AS DOUBLE)"
        sxy = f"CAST(sp_{x}_{y} AS DOUBLE)"
        num = f"({nd} * {sxy} - {sx} * {sy})"
        den = (
            f"(SQRT({nd} * {sxx} - {sx} * {sx}) * "
            f"SQRT({nd} * {syy} - {sy} * {sy}))"
        )
        selects.append(
            f"SELECT '{x}' AS col_x, '{y}' AS col_y, n, "
            f"ROUND({num} / {den}, 6) AS corr_r, "
            f"ROUND({num} / ({nd} * {nd}), 6) AS cov_pop_r FROM a"
        )
    body = "\nUNION ALL\n".join(selects)
    return (
        "WITH a AS (\n  SELECT " + ",\n    ".join(moments) + "\n  FROM lineitem\n)\n"
        + body
        + "\nORDER BY col_x, col_y"
    )


ORACLE_CORR_MATRIX = _corr_oracle()


def sketch_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-based profile of ``events`` per event_type: distinct
    users via the repo's 256-register md5 HyperLogLog (the
    engine-stable sketch proven in analytics4.hll_distinct_users) plus
    value quantiles and row counts.

    This is the 100 TB face of :func:`profile_orders`'s exact distinct
    counts: HLL register partials are fixed-size and merge
    associatively (MAX per bucket), so the shuffle carries ≤ 256 rows
    per (partition, group) instead of the user-id universe.  Built on
    deterministic integer/md5 arithmetic rather than Spark's native
    HLL++ precisely so the sketch VALUES — not just error bounds — sit
    under the DuckDB differential oracle (``ORACLE_SKETCH_SUMMARY``);
    Spark's ``approx_count_distinct``/``percentile_approx`` produce
    engine-private estimates no oracle can re-derive.  The quantile
    leg is exact interpolated ``percentile`` (per-group sort at test
    SF; at 100 TB swap in ``approx_percentile`` — t-digest, mergeable,
    no sort — and accept bounded error as documented in
    tests/test_profiling.py's bound check).
    """
    from .analytics4 import HLL_ALPHA, HLL_M, HLL_P, HLL_RHO_BITS, _hll_hash
    from .graphops import _sorted_fold_sum
    from .pandas_ops import _oracle_round6  # noqa: F401 (oracle twin)

    ev = load_table(spark, sf_dir, "events")
    h = _hll_hash(F.col("user_id").cast("string"))
    w = F.shiftright(h, HLL_P)
    rho = F.when(w == 0, F.lit(HLL_RHO_BITS + 1)).otherwise(
        F.lit(HLL_RHO_BITS + 1) - F.length(F.bin(w))
    )
    regs = (
        ev.filter(F.col("user_id").isNotNull())
        .select("event_type", (h % HLL_M).alias("bucket"), rho.alias("rho"))
        .groupBy("event_type", "bucket")
        .agg(F.max("rho").alias("m"))
    )
    term = F.lit(1.0) / F.expr(
        "CAST(shiftleft(CAST(1 AS BIGINT), CAST(m AS INT)) AS DOUBLE)"
    )
    sk = (
        regs.select("event_type", "bucket", term.alias("term"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_buckets_used"),
            _sorted_fold_sum("bucket", "term").alias("fold"),
        )
        .select(
            "event_type",
            "n_buckets_used",
            (
                (F.lit(HLL_M) - F.col("n_buckets_used")).cast("double")
                + F.col("fold")
            ).alias("s"),
        )
    )
    q = ev.groupBy("event_type").agg(
        F.round(F.expr("percentile(value, 0.5)"), 6).alias("p50"),
        F.round(F.expr("percentile(value, 0.95)"), 6).alias("p95"),
        F.round(F.expr("percentile(value, 0.99)"), 6).alias("p99"),
        F.count(F.lit(1)).alias("n"),
    )
    est = F.round(F.lit(HLL_ALPHA) * F.lit(float(HLL_M * HLL_M)) / F.col("s"), 6)
    # A NULL event_type group is real (same treatment as cusum_event_drift):
    # null-safe join so its HLL estimate attaches, and pin nulls last to the
    # oracle's DuckDB ASC default.
    sk2 = sk.select(
        F.col("event_type").alias("sk_et"), "n_buckets_used", "s"
    )
    return (
        q.join(sk2, F.col("event_type").eqNullSafe(F.col("sk_et")), "left")
        .select(
            "event_type",
            est.alias("hll_users"),
            F.col("n_buckets_used").cast("long").alias("n_buckets_used"),
            "p50",
            "p95",
            "p99",
            "n",
        )
        .orderBy(F.col("event_type").asc_nulls_last())
    )


def _sketch_summary_oracle() -> str:
    from .analytics4 import HLL_ALPHA, HLL_M, HLL_RHO_BITS
    from .pandas_ops import _oracle_round6

    est = _oracle_round6(
        f"CAST({HLL_ALPHA!r} AS DOUBLE) * CAST({float(HLL_M * HLL_M)!r} AS DOUBLE) / s"
    )
    return f"""
WITH hashed AS (
  SELECT event_type,
    CAST(('0x' || substr(md5('hll#' || CAST(user_id AS VARCHAR)), 1, 15))
         AS BIGINT) AS h
  FROM events WHERE user_id IS NOT NULL
),
regs AS (
  SELECT event_type, h % {HLL_M} AS bucket,
    MAX(CASE WHEN h // {HLL_M} = 0 THEN {HLL_RHO_BITS + 1}
        ELSE {HLL_RHO_BITS + 1} - length(ltrim(bin(h // {HLL_M}), '0')) END) AS m
  FROM hashed GROUP BY event_type, bucket
),
sk AS (
  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_buckets_used,
    CAST({HLL_M} - COUNT(*) AS DOUBLE)
      + list_sum(list(1.0 / CAST((CAST(1 AS BIGINT) << m) AS DOUBLE)
                      ORDER BY bucket)) AS s
  FROM regs GROUP BY event_type
),
q AS (
  SELECT event_type,
    {_oracle_round6("quantile_cont(value, 0.5)")} AS p50,
    {_oracle_round6("quantile_cont(value, 0.95)")} AS p95,
    {_oracle_round6("quantile_cont(value, 0.99)")} AS p99,
    COUNT(*) AS n
  FROM events GROUP BY event_type
)
SELECT q.event_type, {est} AS hll_users, sk.n_buckets_used,
  q.p50, q.p95, q.p99, q.n
FROM q LEFT JOIN sk ON q.event_type IS NOT DISTINCT FROM sk.event_type
ORDER BY q.event_type NULLS LAST
"""


ORACLE_SKETCH_SUMMARY = _sketch_summary_oracle()


#: Registered queries, each mapped to its DuckDB oracle (see __spark_entry__).
QUERIES = {
    profile_orders: ORACLE_PROFILE_ORDERS,
    stratified_sample_orders: ORACLE_STRATIFIED_SAMPLE,
    sketch_summary: ORACLE_SKETCH_SUMMARY,
    numeric_corr_matrix: ORACLE_CORR_MATRIX,
}
