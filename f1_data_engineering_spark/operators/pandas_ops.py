"""Pandas-UDF-backed operators — the sanctioned Python escape hatch.

Policy (SURVEY.md §2.10): zero Python UDFs on the reference-parity
path; when Python is genuinely needed (stats libraries, model
inference, codecs) it runs as Arrow-batched grouped/iterator UDFs —
one (de)serialization per column batch, never per row.

``zscore_by_user`` exists to exercise and test that machinery on a
semantics-simple operator whose result a SQL oracle can replicate.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..sources.registry import load_table

__all__ = ["zscore_by_user"]

_ZSCORE_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("zscore", T.DoubleType()),
    ]
)


#: Grouping granularity for the packed grouped-map: many users hash
#: into one bucket so each Python call sees a LARGE Arrow batch and
#: amortizes per-call overhead.  Scale rule: buckets ≈ a few × total
#: executor cores (small enough that a bucket's rows fit in executor
#: memory, large enough for full parallelism).
_ZSCORE_BUCKETS = 64


def _zscore_bucket(pdf: pd.DataFrame) -> pd.DataFrame:
    """Per-user z-score (sample std, ddof=1) for EVERY user in the
    bucket, vectorized with one pandas groupby; degenerate (n=1 or
    zero-variance) groups → NULL."""
    g = pdf.groupby("user_id")["value"]
    mu = g.transform("mean")
    sd = g.transform("std")  # ddof=1
    z = ((pdf["value"] - mu) / sd).round(6)
    z[sd.isna() | (sd == 0)] = None
    return pd.DataFrame(
        {"event_id": pdf["event_id"], "user_id": pdf["user_id"], "zscore": z}
    )


def zscore_by_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user z-score of event value via ``applyInPandas``.

    Plan: one shuffle on a BUCKET of user_ids → each bucket becomes one
    Arrow batch through Python → per-user stats computed with a
    vectorized pandas groupby inside the batch → results stream back
    columnar.

    Why bucketed, not per-user groups: applyInPandas invokes the Python
    function once per group, so thousands of small groups pay per-call
    overhead that dwarfs the arithmetic (measured 2.9s → 0.6s at sf0.1,
    1500 users over 100k rows, packing 64 buckets).  At 100 TB the same
    rule holds — group by hash-bucket, vectorize across groups inside
    the batch; per-entity groups only when a single entity's rows are
    themselves batch-sized.
    """
    ev = load_table(spark, sf_dir, "events").select("event_id", "user_id", "value")
    # NB: no final orderBy — a global sort range-partitions by SAMPLING
    # its child, which would execute the pandas UDF twice (measured 2×
    # the query cost).  Sort at the consumer if order matters; the
    # differential check is order-insensitive.
    buckets = F.pmod(F.col("user_id"), F.lit(_ZSCORE_BUCKETS)).alias("_bucket")
    return ev.groupBy(buckets).applyInPandas(_zscore_bucket, schema=_ZSCORE_SCHEMA)


ORACLE_ZSCORE = """
WITH s AS (
  SELECT event_id, user_id, value,
    AVG(value) OVER (PARTITION BY user_id) AS mu,
    STDDEV_SAMP(value) OVER (PARTITION BY user_id) AS sd
  FROM events
)
SELECT event_id, user_id,
  CASE WHEN sd IS NULL OR sd = 0 THEN NULL
       ELSE ROUND((value - mu) / sd, 6) END AS zscore
FROM s ORDER BY user_id, event_id
"""


# ---------------------------------------------------------------------------
# Grouped-AGG pandas UDF (the scalar-aggregate leg of the UDF matrix)
# ---------------------------------------------------------------------------

#: Series -> scalar pandas UDFs: the UDAF surface.  Each evaluates over
#: one group's column as a single Arrow batch (with partial batches for
#: very large groups), so the Python cost is per-GROUP, not per-row.
_AGG_UDFS = None


def _agg_udfs():
    """Build the grouped-agg pandas UDFs lazily (registration needs an
    active session on some backends; module import must stay cheap).

    The count is ALSO a pandas UDF: Spark rejects mixing group-agg
    pandas UDFs with JVM aggregates in one ``agg``
    (INVALID_PANDAS_UDF_PLACEMENT) — a real constraint of the surface,
    so the query works within it.
    """
    global _AGG_UDFS
    if _AGG_UDFS is None:
        @F.pandas_udf("double")
        def _median(v: pd.Series) -> float:
            vals = sorted(v.dropna().tolist())
            m = _lerp_quantile(vals, 0.5)
            return None if m is None else _round6_half_up(m)

        @F.pandas_udf("double")
        def _iqr(v: pd.Series) -> float:
            vals = sorted(v.dropna().tolist())
            hi, lo = _lerp_quantile(vals, 0.75), _lerp_quantile(vals, 0.25)
            return None if hi is None else _round6_half_up(hi - lo)

        @F.pandas_udf("long")
        def _n(v: pd.Series) -> int:
            return int(len(v))

        _AGG_UDFS = (_median, _iqr, _n)
    return _AGG_UDFS


def _lerp_quantile(sorted_vals: list[float], q: float) -> float | None:
    """PERCENTILE_CONT as one explicit IEEE-double expression tree:
    ``v[lo] + frac * (v[hi] - v[lo])`` with ``h = (n-1)*q``.

    pandas' ``quantile`` and DuckDB's ``quantile_cont`` disagree at the
    last ulp on ~3% of random inputs (measured: numpy lerps from the
    upper value when ``frac >= 0.5``; DuckDB from the lower), which
    flips a 6-dp HALF_UP boundary — the differential fuzzer found
    exactly that on an IQR of 14.9998825.  Evaluating this same
    expression in plain Python floats AND spelling it out in the oracle
    SQL (ORACLE_MEDIAN_IQR) makes both engines run the identical IEEE
    ops on the identical doubles, so the rounded results match
    bit-for-bit, boundaries included.
    """
    n = len(sorted_vals)
    if n == 0:
        return None
    h = (n - 1) * q
    lo = int(h)
    frac = h - lo
    # hi collapses to lo when h is integral, but the add/multiply still
    # run (matching the SQL tree exactly): ``-0.0 + 0.0*0.0`` is +0.0 in
    # both engines, where an early-return of v[lo] would keep -0.0 here
    # and diverge in sign (hash-visible)
    hi = lo if frac == 0.0 else lo + 1
    return sorted_vals[lo] + frac * (sorted_vals[hi] - sorted_vals[lo])


def _round6_half_up(z: float) -> float:
    """Spark's ``round(double, 6)`` / the oracle's varchar→decimal cast
    chain: HALF_UP at 6 dp on the SHORTEST decimal repr (Python ``repr``
    == DuckDB's double→VARCHAR cast, both Ryū; verified bit-equal over
    30k boundary cases incl. subnormals and sub-1e-6 magnitudes).
    DuckDB's native ``ROUND(double, 6)`` rounds the scaled double
    instead and disagrees on repr-boundary values, so the oracle must
    NOT use it here.  The final ``+ 0.0`` folds ``-0.0`` to ``+0.0``
    (decimals are unsigned, so the oracle always yields +0.0 there;
    the raw sign bit would be hash-visible)."""
    import decimal

    return (
        float(
            decimal.Decimal(repr(z)).quantize(
                decimal.Decimal("0.000001"), rounding=decimal.ROUND_HALF_UP
            )
        )
        + 0.0
    )


def user_value_median_iqr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user median and IQR of event value via GROUPED_AGG pandas
    UDFs — the UDAF path: Spark shuffles on user_id, each group's
    value column crosses to Python as Arrow batches, pandas computes
    the quantiles, one scalar returns per group.

    Cross-engine exactness: the quantile is computed as ONE explicit
    lerp expression (see ``_lerp_quantile``) and rounded HALF_UP on the
    shortest decimal repr (``_round6_half_up``) INSIDE the UDF; the
    oracle spells out the identical expression tree in SQL and emulates
    the identical rounding via a double→VARCHAR→DECIMAL(38,6) cast
    chain, so the two engines agree bit-for-bit even at rounding
    boundaries (pandas.quantile / quantile_cont / ROUND each diverge at
    the last ulp — fuzz-found).  Production note: Spark's built-in
    ``percentile`` covers this case JVM-side; the query exists to pin
    the grouped-agg machinery on semantics a SQL oracle can replicate.
    """
    med, iqr, n = _agg_udfs()
    ev = load_table(spark, sf_dir, "events").select("user_id", "value")
    return (
        ev.groupBy("user_id")
        .agg(
            med(F.col("value")).alias("med_value"),
            iqr(F.col("value")).alias("iqr_value"),
            n(F.col("value")).alias("n_events"),
        )
    )


def _oracle_lerp(q: str) -> str:
    """SQL for ``v[lo] + frac*(v[hi]-v[lo])`` at quantile ``q`` over the
    per-user sorted non-NULL values — textually the same expression
    tree ``_lerp_quantile`` evaluates in Python, so both engines run
    the same IEEE double ops.

    ``q`` is cast to DOUBLE: a bare decimal literal makes DuckDB
    evaluate the fraction in exact DECIMAL arithmetic, diverging from
    the Python driver's IEEE ``(m-1)*q`` whenever q is not a dyadic
    rational (harmless for this oracle's 0.25/0.5/0.75, fuzz-found at
    the winsorize oracle's 0.99 — see analytics4._sql_wins_lerp)."""
    qd = f"CAST({q} AS DOUBLE)"
    return (
        f"(MAX(CASE WHEN rn = CAST(FLOOR((m-1)*{qd}) AS BIGINT) THEN value END)"
        f" + ((m-1)*{qd} - FLOOR((m-1)*{qd}))"
        f" * (MAX(CASE WHEN rn = CAST(CEIL((m-1)*{qd}) AS BIGINT) THEN value END)"
        f" - MAX(CASE WHEN rn = CAST(FLOOR((m-1)*{qd}) AS BIGINT) THEN value END)))"
    )


def _oracle_round6(expr: str) -> str:
    """Spark/Python HALF_UP-on-shortest-repr at 6 dp, in DuckDB: the
    double→VARCHAR cast is Ryū shortest repr (== Python ``repr``); the
    VARCHAR is parsed EXACTLY at scale 30 (every shortest-repr double
    with \\|x\\| ≥ 1e-7 fits — and anything smaller rounds to ±0 at 6 dp
    regardless), then decimal-space ROUND applies HALF_UP at 6 dp.
    Verified bit-equal to ``_round6_half_up`` (sign included) over 30k
    boundary cases.  A direct VARCHAR→DECIMAL(38,6) cast is NOT safe:
    DuckDB misrounds many-digit scientific-notation strings at the
    target scale (fuzz-found: '-5.96…e-08' → -1e-6), and DuckDB's
    native ROUND(double, 6) rounds the scaled double rather than the
    shortest repr."""
    return _oracle_round(expr, 6)


def _oracle_round(expr: str, dp: int) -> str:
    """Generalized :func:`_oracle_round6` — Spark/Python HALF_UP on the
    shortest repr at ``dp`` decimals.  Safe for any dp ≤ 12: a double
    too small for its shortest repr to fit DECIMAL(38,30) exactly is
    < 1e-14, which rounds to ±0 at every such dp regardless of the
    scale-30 parse's terminal-digit rounding."""
    return (
        f"CAST(ROUND(CAST(CAST(({expr}) AS VARCHAR) AS DECIMAL(38,30)), {dp})"
        " AS DOUBLE)"
    )


ORACLE_MEDIAN_IQR = f"""
WITH nn AS (
  SELECT user_id, value,
    ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY value) - 1 AS rn,
    COUNT(*) OVER (PARTITION BY user_id) AS m
  FROM events WHERE value IS NOT NULL
),
q AS (
  SELECT user_id, m,
    {_oracle_round6(_oracle_lerp('0.5'))} AS med_value,
    {_oracle_round6(f"{_oracle_lerp('0.75')} - {_oracle_lerp('0.25')}")} AS iqr_value
  FROM nn GROUP BY user_id, m
),
g AS (SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_events FROM events GROUP BY user_id)
SELECT g.user_id, q.med_value, q.iqr_value, g.n_events
FROM g LEFT JOIN q ON g.user_id IS NOT DISTINCT FROM q.user_id
ORDER BY g.user_id
"""


#: Registered queries, each mapped to its DuckDB oracle (see __spark_entry__).
QUERIES = {
    zscore_by_user: ORACLE_ZSCORE,
    user_value_median_iqr: ORACLE_MEDIAN_IQR,
}
