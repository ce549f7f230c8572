"""Sixth analytics wave: incremental-rollup merge parity, planner
join-cardinality estimation, session path mining, and tokenizer-vocab
coverage evaluation — all oracle-twinned.

Beyond-reference scope (the reference recomputes everything from
scratch per run — `f1_dataTransformer.py` walks the whole CSV tree;
these are the shapes that replace recompute at lake scale):

* **Incremental rollup merge** — the algebraic heart of continuous
  aggregates (operators/incremental.py runs the same algebra over the
  versioned lake): partial aggregates over disjoint slices merged by
  a full-outer join MUST equal the one-shot aggregate.  Float sums
  are NOT mergeable bit-for-bit (addition order differs), so the
  mergeable state is an exact DECIMAL accumulator — associative, so
  merge(partial(base), partial(increment)) ≡ full by arithmetic, not
  by luck.  The oracle is the one-shot aggregate: the equivalence IS
  the differential check.
* **Join cardinality estimation** — the textbook planner estimate
  |A ⋈ B| ≈ |A|·|B| / max(ndv_A(k), ndv_B(k)) (uniformity assumption,
  containment of key sets) next to the measured truth for every FK
  edge of the warehouse.  At 100 TB these per-side stats come from
  the column-sketch table (`column_ndv_sketches`) instead of a scan;
  the shape here keeps the estimate arithmetic identical.
* **Session path mining** — top converting event-type paths per
  session (gap sessionization reused from timeops.sessionize_events,
  path = first 8 event types in time order): the sequence-analytics
  complement of `event_funnel`/`event_bigram_transitions`.  Paths are
  bounded strings (≤8 types), so the aggregate is path-cardinality-
  sized, never event-sized.
* **Vocab coverage eval** — given the frequency-built vocabulary
  (same ranking as `build_vocab`), what fraction of each source's
  token mass it covers and the OOV rate: the eval a tokenizer team
  runs before freezing a vocab.  Broadcast vocab semi-join; one
  token-count aggregate per source.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from ..functions.text import tokens
from ..sources.registry import load_table, spread
from .pandas_ops import _oracle_round6

__all__ = [
    "incremental_rollup_merge",
    "join_cardinality_estimate",
    "top_session_paths",
    "vocab_coverage_eval",
    "ORACLE_INCR_ROLLUP",
    "ORACLE_JOIN_CARD",
    "ORACLE_SESSION_PATHS",
    "ORACLE_VOCAB_COVERAGE",
]


# ---------------------------------------------------------------------------
# Incremental rollup merge ≡ full recompute
# ---------------------------------------------------------------------------


def incremental_rollup_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly rollup computed the INCREMENTAL way: partial-aggregate a
    base slice (event_id % 5 != 0) and an increment slice (% 5 == 0)
    separately, then merge with one full-outer join + column-wise adds
    — the exact plan an incremental view maintainer runs per load.

    The oracle is the ONE-SHOT rollup over all events: the merge must
    reproduce it exactly.  That exactness is what forces the design
    rule this operator demonstrates: mergeable state is counts +
    DECIMAL sums (associative), never float sums (order-dependent) —
    the double materializes once, at read time.
    """
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("value").isNotNull()
    ).select(
        "event_id",
        F.date_trunc("hour", F.col("ts")).alias("bucket"),
        F.col("value").cast("decimal(28,10)").alias("v"),
    )

    def partial(df: DataFrame) -> DataFrame:
        return df.groupBy("bucket").agg(
            F.count(F.lit(1)).alias("n"), F.sum("v").alias("s")
        )

    base = partial(ev.filter(F.col("event_id") % 5 != 0))
    inc = partial(ev.filter(F.col("event_id") % 5 == 0))
    # the merge add must stay at scale 10: (38,10)+(38,10) needs
    # precision 39, so Spark (allowPrecisionLoss) would silently drop
    # to scale 9 — a fuzz-found 1-digit loss (-5.96e-8 became -6.0e-8).
    # (37,10)+(37,10) → (38,10): lossless; the partials fit 27 integer
    # digits with the universe to spare.
    zero = F.lit(0).cast("decimal(37,10)")
    merged = (
        base.select("bucket", F.col("n").alias("n1"), F.col("s").alias("s1"))
        .join(
            inc.select("bucket", F.col("n").alias("n2"), F.col("s").alias("s2")),
            "bucket",
            "full_outer",
        )
        .select(
            "bucket",
            (F.coalesce("n1", F.lit(0)) + F.coalesce("n2", F.lit(0))).alias("n"),
            (
                F.coalesce(F.col("s1").cast("decimal(37,10)"), zero)
                + F.coalesce(F.col("s2").cast("decimal(37,10)"), zero)
            ).alias("s"),
        )
    )
    return merged.select(
        "bucket",
        "n",
        F.col("s").cast("double").alias("sum_value"),
        F.round(F.col("s").cast("double") / F.col("n"), 6).alias("avg_value"),
    ).orderBy("bucket")


#: Spark's double→DECIMAL cast rounds the SHORTEST REPR half-up
#: (BigDecimal.valueOf); DuckDB's native cast rounds the scaled double
#: — divergent at representation boundaries (the q1 avg_disc class).
#: Parse the shortest repr at scale 30, then decimal-round to 10.
_SQL_V_DEC = (
    "CAST(ROUND(CAST(CAST(value AS VARCHAR) AS DECIMAL(38,30)), 10)"
    " AS DECIMAL(28,10))"
)

ORACLE_INCR_ROLLUP = f"""
WITH ev AS (
  SELECT date_trunc('hour', ts) AS bucket,
    {_SQL_V_DEC} AS v
  FROM events WHERE value IS NOT NULL
),
agg AS (
  SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n,
    CAST(SUM(v) AS DECIMAL(38,10)) AS s
  FROM ev GROUP BY bucket
)
SELECT CAST(bucket AS TIMESTAMP) AS bucket, n,
  CAST(s AS DOUBLE) AS sum_value,
  {_oracle_round6("CAST(s AS DOUBLE) / n")} AS avg_value
FROM agg ORDER BY bucket
"""


# ---------------------------------------------------------------------------
# Planner join-cardinality estimates vs truth
# ---------------------------------------------------------------------------

#: (edge name, left table, left key, right table, right key)
JOIN_EDGES = (
    ("lineitem*orders", "lineitem", "l_orderkey", "orders", "o_orderkey"),
    ("orders*customer", "orders", "o_custkey", "customer", "c_custkey"),
    ("customer*nation", "customer", "c_nationkey", "nation", "n_nationkey"),
    ("supplier*nation", "supplier", "s_nationkey", "nation", "n_nationkey"),
)


def join_cardinality_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """For every FK edge: the planner's uniformity estimate
    |A|·|B| / max(ndv_A, ndv_B) next to the measured join cardinality
    and its relative error — the calibration table that tells you how
    far the uniformity assumption is from THIS data before trusting it
    to order a 100 TB join tree.

    One stats aggregate per side (count + countDistinct share the
    scan) and one count over the real join per edge; edges evaluate as
    parallel jobs.  In deployment the per-side stats come from the
    mergeable sketch table (`column_ndv_sketches`) — no extra scan.
    """
    from functools import reduce

    outs = []
    for name, lt, lk, rt, rk in JOIN_EDGES:
        left = load_table(spark, sf_dir, lt).select(F.col(lk).alias("k"))
        right = load_table(spark, sf_dir, rt).select(F.col(rk).alias("k"))
        ls = left.agg(
            F.count(F.lit(1)).alias("n_left"),
            F.countDistinct("k").alias("ndv_left"),
        )
        rs = right.agg(
            F.count(F.lit(1)).alias("n_right"),
            F.countDistinct("k").alias("ndv_right"),
        )
        exact = left.join(right, "k").agg(
            F.count(F.lit(1)).alias("exact_rows")
        )
        est = (
            F.col("n_left").cast("double")
            * F.col("n_right").cast("double")
            / F.greatest(F.col("ndv_left"), F.col("ndv_right")).cast("double")
        )
        outs.append(
            ls.crossJoin(rs)
            .crossJoin(exact)
            .select(
                F.lit(name).alias("join_edge"),
                "n_left",
                "n_right",
                "ndv_left",
                "ndv_right",
                F.round(est, 6).alias("est_rows"),
                "exact_rows",
                F.when(
                    F.col("exact_rows") > 0,
                    F.round(
                        F.abs(est - F.col("exact_rows").cast("double"))
                        / F.col("exact_rows").cast("double"),
                        6,
                    ),
                ).alias("rel_err"),
            )
        )
    return reduce(DataFrame.unionByName, outs).orderBy("join_edge")


def _sql_join_edge(name: str, lt: str, lk: str, rt: str, rk: str) -> str:
    est = (
        f"CAST(ls.n_left AS DOUBLE) * CAST(rs.n_right AS DOUBLE) "
        f"/ CAST(GREATEST(ls.ndv_left, rs.ndv_right) AS DOUBLE)"
    )
    return f"""
SELECT '{name}' AS join_edge, ls.n_left, rs.n_right, ls.ndv_left, rs.ndv_right,
  {_oracle_round6(est)} AS est_rows,
  ex.exact_rows,
  CASE WHEN ex.exact_rows > 0 THEN
    {_oracle_round6(f"ABS(({est}) - CAST(ex.exact_rows AS DOUBLE)) / CAST(ex.exact_rows AS DOUBLE)")}
  END AS rel_err
FROM
  (SELECT CAST(COUNT(*) AS BIGINT) AS n_left,
          CAST(COUNT(DISTINCT {lk}) AS BIGINT) AS ndv_left FROM {lt}) ls,
  (SELECT CAST(COUNT(*) AS BIGINT) AS n_right,
          CAST(COUNT(DISTINCT {rk}) AS BIGINT) AS ndv_right FROM {rt}) rs,
  (SELECT CAST(COUNT(*) AS BIGINT) AS exact_rows
   FROM {lt} l JOIN {rt} r ON l.{lk} = r.{rk}) ex"""


ORACLE_JOIN_CARD = (
    "SELECT * FROM (\n"
    + "\nUNION ALL\n".join(_sql_join_edge(*e) for e in JOIN_EDGES)
    + "\n) ORDER BY join_edge"
)


# ---------------------------------------------------------------------------
# Top session paths
# ---------------------------------------------------------------------------

SESSION_GAP_US = 3_600_000_000  # same 1-hour gap as timeops
PATH_MAX_STEPS = 8


def top_session_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Most common event-type paths per session (first 8 steps in time
    order) with session counts and conversion share — the sequence
    miner run on top of gap sessionization (same 1-hour-gap session id
    recipe as timeops.sessionize_events).

    The per-session path array is bounded (≤8 elements) BEFORE the
    path aggregate, so the final groupBy is path-cardinality-sized.
    The session windows partition by user — never global.
    """
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("user_id").isNotNull() & F.col("event_type").isNotNull()
    )
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    us = F.unix_micros(F.col("ts"))
    prev = F.lag(us).over(w)
    boundary = F.when(
        prev.isNull() | ((us - prev) > SESSION_GAP_US), 1
    ).otherwise(0)
    sess = ev.withColumn("boundary", boundary).withColumn(
        "session_id",
        F.sum("boundary").over(
            w.rowsBetween(W.unboundedPreceding, W.currentRow)
        ),
    )
    # path: first PATH_MAX_STEPS event types ordered by (ts, event_id)
    ordered = F.transform(
        F.slice(
            F.array_sort(
                F.collect_list(
                    F.struct(
                        F.unix_micros("ts").alias("o1"),
                        F.col("event_id").alias("o2"),
                        F.col("event_type").alias("t"),
                    )
                )
            ),
            1,
            PATH_MAX_STEPS,
        ),
        lambda s: s["t"],
    )
    paths = sess.groupBy("user_id", "session_id").agg(
        F.array_join(ordered, ">").alias("path"),
        F.max(
            (F.col("event_type") == "purchase").cast("int")
        ).alias("converted"),
    )
    n_sessions = paths.agg(F.count(F.lit(1)).alias("n_sessions"))
    return (
        paths.groupBy("path")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("converted").cast("long").alias("n_converted"),
        )
        .crossJoin(F.broadcast(n_sessions))
        .select(
            "path",
            "n",
            "n_converted",
            F.round(
                F.col("n").cast("double") / F.col("n_sessions").cast("double"),
                6,
            ).alias("session_share"),
        )
        .orderBy(F.col("n").desc(), "path")
        .limit(25)
    )


ORACLE_SESSION_PATHS = f"""
WITH ev AS (
  SELECT user_id, event_id, ts, event_type FROM events
  WHERE user_id IS NOT NULL AND event_type IS NOT NULL
),
g AS (
  SELECT user_id, event_id, ts, event_type,
    CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
           OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > {SESSION_GAP_US}
         THEN 1 ELSE 0 END AS boundary
  FROM ev
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
s AS (
  SELECT user_id, event_id, ts, event_type,
    SUM(boundary) OVER (PARTITION BY user_id ORDER BY ts, event_id
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
  FROM g
),
p AS (
  SELECT user_id, session_id,
    array_to_string(list(event_type ORDER BY ts, event_id)[1:{PATH_MAX_STEPS}], '>') AS path,
    MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS converted
  FROM s GROUP BY user_id, session_id
),
tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_sessions FROM p)
SELECT path, COUNT(*) AS n,
  CAST(SUM(converted) AS BIGINT) AS n_converted,
  {_oracle_round6("CAST(COUNT(*) AS DOUBLE) / CAST(MIN(tot.n_sessions) AS DOUBLE)")} AS session_share
FROM p CROSS JOIN tot
GROUP BY path
ORDER BY n DESC, path
LIMIT 25
"""


# ---------------------------------------------------------------------------
# Vocab coverage eval
# ---------------------------------------------------------------------------

COVERAGE_VOCAB = 500


def vocab_coverage_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source coverage of the frequency-built top-500 vocabulary:
    total token mass, in-vocab mass, OOV rate, and distinct-OOV-type
    count — the eval that decides whether a vocab freeze is safe for
    every corpus slice (a source with a high OOV rate will tokenize
    into fragments and blow up its effective sequence lengths).

    One corpus token-count aggregate builds the vocab (deterministic
    count-desc/term tie-break, broadcast); one (source, in_vocab)
    aggregate measures coverage.  Nothing shuffles more than
    (source, term) partial counts.
    """
    d = spread(
        load_table(spark, sf_dir, "documents").select("doc_id", "source", "text"),
        "doc_id",
    )
    toks = d.select(
        F.coalesce(F.col("source"), F.lit("none")).alias("source"),
        F.explode(tokens("text")).alias("term"),
    )
    vocab = (
        toks.groupBy("term")
        .agg(F.count(F.lit(1)).alias("c"))
        .orderBy(F.col("c").desc(), "term")
        .limit(COVERAGE_VOCAB)
        .select("term")
        .withColumn("in_vocab", F.lit(1))
    )
    tagged = toks.join(F.broadcast(vocab), "term", "left").select(
        "source",
        "term",
        F.coalesce(F.col("in_vocab"), F.lit(0)).alias("in_vocab"),
    )
    return (
        tagged.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum("in_vocab").cast("long").alias("n_in_vocab"),
            F.countDistinct(
                F.when(F.col("in_vocab") == 0, F.col("term"))
            ).alias("n_oov_types"),
        )
        .select(
            "source",
            "n_tokens",
            "n_in_vocab",
            "n_oov_types",
            F.round(
                F.lit(1.0)
                - F.col("n_in_vocab").cast("double")
                / F.col("n_tokens").cast("double"),
                6,
            ).alias("oov_rate"),
        )
        .orderBy("source")
    )


def _sql_tokens_of(table_alias_free_text: str) -> str:
    # mirror of functions.text.tokens / textops._SQL_TOKENS
    return (
        "COALESCE(list_filter(string_split_regex(lower(trim("
        + table_alias_free_text
        + ")), '\\s+'), x -> x <> ''), [])"
    )


ORACLE_VOCAB_COVERAGE = f"""
WITH toks AS (
  SELECT coalesce(source, 'none') AS source,
    unnest({_sql_tokens_of("text")}) AS term
  FROM documents
),
vocab AS (
  SELECT term FROM (
    SELECT term, COUNT(*) AS c FROM toks GROUP BY term
    ORDER BY c DESC, term LIMIT {COVERAGE_VOCAB}
  )
),
tagged AS (
  SELECT t.source, t.term,
    CASE WHEN v.term IS NOT NULL THEN 1 ELSE 0 END AS in_vocab
  FROM toks t LEFT JOIN vocab v ON t.term = v.term
)
SELECT source,
  COUNT(*) AS n_tokens,
  CAST(SUM(in_vocab) AS BIGINT) AS n_in_vocab,
  CAST(COUNT(DISTINCT CASE WHEN in_vocab = 0 THEN term END) AS BIGINT)
    AS n_oov_types,
  {_oracle_round6("1.0 - CAST(SUM(in_vocab) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)")} AS oov_rate
FROM tagged GROUP BY source ORDER BY source
"""


#: Registered queries, each mapped to its DuckDB oracle (see __spark_entry__).
QUERIES = {
    incremental_rollup_merge: ORACLE_INCR_ROLLUP,
    join_cardinality_estimate: ORACLE_JOIN_CARD,
    top_session_paths: ORACLE_SESSION_PATHS,
    vocab_coverage_eval: ORACLE_VOCAB_COVERAGE,
}
