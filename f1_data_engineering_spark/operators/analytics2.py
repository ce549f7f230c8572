"""Second analytics wave: funnel analysis, count-min sketch, priority
(weighted) sampling, and recursive-CTE iteration — all oracle-twinned.

Beyond-reference scope (the reference has nothing like these; they are
the shapes a production event/training pipeline runs daily):

* **funnel** — ordered-stage conversion (view → click after the view →
  purchase after the click) via CONDITIONAL RE-AGGREGATION: stage N's
  timestamps feed stage N+1's filter through a user-keyed join.  All
  three joins share the ``user_id`` shuffle key, so Spark reuses one
  exchange layout; nothing driver-side, no per-user arrays.
* **count-min sketch** — the mergeable frequency sketch (Cormode &
  Muthukrishnan 2005): d×w counters, cell (j, h_j(key) mod w) += 1.
  On Spark the build is a single hash aggregate over (depth, slot) —
  d·N exploded rows collapse to d·w groups map-side, so the shuffle
  carries at most d·w·partitions rows no matter how big the input:
  exactly why sketches beat exact counts at 100 TB.  Hashes are the
  repo's md5-parity scheme so DuckDB builds the identical sketch.
* **priority sampling** (Duffield, Lund & Thorup 2007) — weighted
  sampling without replacement: priority = weight / u with u uniform
  from the key's hash; keep the top-k priorities.  Expected-value
  estimators over the sample are unbiased for subset sums.  The
  priority here is ONE IEEE-754 double division (weight_cents /
  (hash+1)) — correctly rounded by spec, so Spark and DuckDB produce
  bit-identical priorities with no libm involved (a -ln(u)/w key
  would hinge on cross-libm ln agreement).
* **recursive CTE** (Spark 4 ``WITH RECURSIVE``) — per-user
  exponentially-decayed running value: state_i = round(0.9·state_{i-1}
  + value_i, 6), a genuinely order-recursive quantity no window frame
  expresses (each step depends on the previous OUTPUT, not the
  previous input).  The iteration count equals the longest per-user
  chain, so this is for bounded-depth recursions (hierarchies, small
  per-key sequences); unbounded chains belong in applyInPandas
  (see pandas_ops) — documented scale caveat, and why it is not in
  the bench set.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from ..sources.registry import load_table
from .ranking import bucketed_topk_rank

__all__ = [
    "event_funnel",
    "countmin_sketch",
    "priority_sample_orders",
    "decayed_value_recursive",
    "fuzzy_name_pairs",
    "frequent_event_types",
]


# ---------------------------------------------------------------------------
# funnel
# ---------------------------------------------------------------------------


def event_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered view→click→purchase funnel: a user converts a stage only
    with an event AT OR AFTER their previous stage's first timestamp.

    Conditional re-aggregation: min(view ts) per user, then min(click
    ts ≥ that) per user, then min(purchase ts ≥ that).  Every groupBy
    and join keys on user_id — one shuffle layout reused end to end.
    """
    ev = load_table(spark, sf_dir, "events").select("user_id", "event_type", "ts")

    def stage_min(etype: str, after: F.Column | None) -> F.Column:
        cond = F.col("event_type") == etype
        if after is not None:
            cond = cond & (F.col("ts") >= after)
        return F.min(F.when(cond, F.col("ts")))

    v = ev.groupBy("user_id").agg(stage_min("view", None).alias("t1"))
    c = (
        ev.join(v, "user_id")
        .groupBy("user_id", "t1")
        .agg(stage_min("click", F.col("t1")).alias("t2"))
    )
    p = (
        ev.join(c, "user_id")
        .groupBy("user_id", "t1", "t2")
        .agg(stage_min("purchase", F.col("t2")).alias("t3"))
    )
    n1, n2, n3 = F.count("t1"), F.count("t2"), F.count("t3")
    return p.agg(
        F.count(F.lit(1)).alias("n_users"),
        n1.alias("n_view"),
        n2.alias("n_view_click"),
        n3.alias("n_full_funnel"),
        F.when(n1 > 0, F.round(n2.cast("double") / n1, 6)).alias("rate_view_click"),
        F.when(n1 > 0, F.round(n3.cast("double") / n1, 6)).alias("rate_full"),
    )


ORACLE_FUNNEL = """
WITH v AS (
  SELECT user_id, MIN(CASE WHEN event_type = 'view' THEN ts END) AS t1
  FROM events GROUP BY user_id
),
c AS (
  SELECT e.user_id, v.t1,
    MIN(CASE WHEN e.event_type = 'click' AND e.ts >= v.t1 THEN e.ts END) AS t2
  FROM events e JOIN v USING (user_id) GROUP BY e.user_id, v.t1
),
p AS (
  SELECT e.user_id, c.t1, c.t2,
    MIN(CASE WHEN e.event_type = 'purchase' AND e.ts >= c.t2 THEN e.ts END) AS t3
  FROM events e JOIN c USING (user_id) GROUP BY e.user_id, c.t1, c.t2
)
SELECT COUNT(*) AS n_users,
  COUNT(t1) AS n_view,
  COUNT(t2) AS n_view_click,
  COUNT(t3) AS n_full_funnel,
  CASE WHEN COUNT(t1) > 0
    THEN ROUND(CAST(COUNT(t2) AS DOUBLE) / COUNT(t1), 6) END AS rate_view_click,
  CASE WHEN COUNT(t1) > 0
    THEN ROUND(CAST(COUNT(t3) AS DOUBLE) / COUNT(t1), 6) END AS rate_full
FROM p
"""


# ---------------------------------------------------------------------------
# count-min sketch
# ---------------------------------------------------------------------------

CMS_DEPTH = 4
CMS_WIDTH = 64


def _cms_slot(depth: F.Column, key: F.Column) -> F.Column:
    """Row hash j: first 15 hex chars of md5('cms<j>#' || key) mod w —
    the repo's md5-parity scheme (dedup.py), one independent hash per
    sketch row via the seed prefix."""
    h = F.conv(
        F.substring(
            F.md5(
                F.concat(
                    F.lit("cms"), depth.cast("string"), F.lit("#"), key
                ).cast("binary")
            ),
            1,
            15,
        ),
        16,
        10,
    ).cast("long")
    return h % CMS_WIDTH


def cms_cells(keys: DataFrame) -> DataFrame:
    """(depth, slot, n) count-min cells for a one-column frame of
    string keys named ``k`` — shared by the batch query and the
    streaming per-micro-batch merge so the sketch scheme (depth,
    width, seed prefixes) can never diverge between the two."""
    return (
        keys.select(
            F.explode(F.array(*[F.lit(d) for d in range(CMS_DEPTH)])).alias("depth"),
            "k",
        )
        .select("depth", _cms_slot(F.col("depth"), F.col("k")).alias("slot"))
        .groupBy("depth", "slot")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def countmin_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch of the per-user event frequency stream:
    (depth, slot, n) counters, depth×width = 4×64.

    Point estimate for key u = min over depths of cell(j, h_j(u)) —
    always ≥ the true count (tested).  The build is ONE hash
    aggregate: the explode multiplies rows by d, but partial
    aggregation collapses each partition to ≤ d·w cells before the
    shuffle — constant shuffle volume at any input size, and sketches
    from different days/sources MERGE by cell-wise addition.
    """
    ev = load_table(spark, sf_dir, "events").select(
        F.col("user_id").cast("string").alias("k")
    )
    return cms_cells(ev).orderBy("depth", "slot")


ORACLE_CMS = f"""
WITH d AS (SELECT unnest(range({CMS_DEPTH})) AS depth),
cells AS (
  SELECT d.depth,
    CAST(('0x' || substr(md5('cms' || CAST(d.depth AS VARCHAR) || '#'
                             || CAST(e.user_id AS VARCHAR)), 1, 15)) AS BIGINT)
      % {CMS_WIDTH} AS slot
  FROM events e CROSS JOIN d
)
SELECT depth, slot, COUNT(*) AS n
FROM cells GROUP BY depth, slot ORDER BY depth, slot
"""


def cms_point_estimate(spark: SparkSession, sf_dir: str, user_id: int) -> int:
    """min over depths of the user's cells — the CMS read path (driver
    helper for tests; production keeps the 256-cell sketch broadcast)."""
    sketch = {
        (r["depth"], r["slot"]): r["n"]
        for r in countmin_sketch(spark, sf_dir).collect()
    }
    key = F.lit(str(user_id))
    probe = spark.range(CMS_DEPTH).select(
        F.col("id").cast("int").alias("depth"),
        _cms_slot(F.col("id"), key).alias("slot"),
    )
    return min(
        sketch.get((r["depth"], r["slot"]), 0) for r in probe.collect()
    )


# ---------------------------------------------------------------------------
# priority sampling (weighted, without replacement)
# ---------------------------------------------------------------------------

PRIORITY_K = 20
_PRIO_MOD = 10**15


def priority_sample_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sample of ``orders`` by o_totalprice: top-20 priorities
    where priority = weight_cents / (hash+1) — Duffield-Lund-Thorup
    priority sampling (u = (hash+1)/(MOD+1) uniform ⇒ w/u ranking).

    The priority is a single double DIVISION of two integers — IEEE
    correctly-rounded, so both engines rank identically with no libm
    dependence.  Plan shape: scan-side priority, then two-level top-k
    rank (ranking.py — bucket-local prune before a bounded ordered
    window, since the output needs the rank column, which a bare
    orderBy().limit() TakeOrdered plan would not carry) — no global
    sort of 100 TB.
    """
    o = load_table(spark, sf_dir, "orders")
    h = F.conv(
        F.substring(
            F.md5(
                F.concat(F.lit("ps#"), F.col("o_orderkey").cast("string")).cast(
                    "binary"
                )
            ),
            1,
            15,
        ),
        16,
        10,
    ).cast("long") % F.lit(_PRIO_MOD)
    w_cents = F.round(F.col("o_totalprice").cast("decimal(12,2)") * 100).cast("long")
    prio = w_cents.cast("double") / (h + 1).cast("double")
    ranked = o.select(
        "o_orderkey",
        F.col("o_totalprice").cast("double").alias("weight"),
        prio.alias("priority"),
    )
    topk = bucketed_topk_rank(
        ranked,
        [F.col("priority").desc(), F.col("o_orderkey")],
        PRIORITY_K,
        bucket_key="o_orderkey",
    )
    return topk.select(
        "o_orderkey",
        "weight",
        F.round("priority", 6).alias("priority"),
        F.col("rank").cast("long").alias("rank"),
    )


ORACLE_PRIORITY_SAMPLE = f"""
WITH pr AS (
  SELECT o_orderkey,
    CAST(o_totalprice AS DOUBLE) AS weight,
    CAST(CAST(ROUND(CAST(o_totalprice AS DECIMAL(12,2)) * 100, 0) AS BIGINT)
         AS DOUBLE)
      / CAST((CAST(('0x' || substr(md5('ps#' || CAST(o_orderkey AS VARCHAR)),
                                   1, 15)) AS BIGINT) % {_PRIO_MOD}) + 1
             AS DOUBLE) AS priority
  FROM orders
),
r AS (
  SELECT o_orderkey, weight, priority,
    row_number() OVER (ORDER BY priority DESC, o_orderkey) AS rank
  FROM pr
)
SELECT o_orderkey, weight, ROUND(priority, 6) AS priority, rank
FROM r WHERE rank <= {PRIORITY_K}
"""


# ---------------------------------------------------------------------------
# recursive CTE
# ---------------------------------------------------------------------------


def decayed_value_recursive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user exponentially-decayed purchase value via Spark 4
    ``WITH RECURSIVE``: state_i = round(0.9·state_{i-1} + value_i, 6)
    over the user's purchases in (ts, event_id) order; emit each
    user's final state and chain length.

    The per-step 6-dp re-round pins cross-engine float parity (no
    accumulated-ulp drift survives it) — written as
    ``FLOOR(x·1e6 + 0.5)/1e6`` rather than ROUND because every op in
    that form is IEEE-exact or correctly rounded, whereas engine ROUND
    implementations disagree on half-way ties (observed: one tie in
    150 chains differing at the 6th decimal).
    Recursion depth = longest per-user chain — the level limit is
    raised explicitly; this pattern is for bounded-depth chains
    (hierarchies, BOM walks), not unbounded sequences.
    """
    # Session-level side effects, both deliberate and named to stay out
    # of anyone's way: the recursion limit must still be raised when the
    # returned (lazy) frame EXECUTES, so a set-then-restore here would
    # re-impose the default before the iteration runs.  Raise-only (never
    # lower), and the view name is namespaced against collisions.
    cur = int(spark.conf.get("spark.sql.cteRecursionLevelLimit", "100"))
    if cur < 2000:
        spark.conf.set("spark.sql.cteRecursionLevelLimit", "2000")
    ev = load_table(spark, sf_dir, "events")
    # One shared row-numbered sequence view for the anchor and the
    # step.  Deliberately NOT cached: the runtime is iteration-bound
    # (one join job per chain step), and an InMemoryRelation adds more
    # per-iteration exchange overhead than the cheap re-window saves
    # (measured warm at sf0.01: ~5-7s uncached, ~7s cached).
    seq = ev.filter(F.col("event_type") == "purchase").select(
        "user_id",
        "value",
        F.row_number()
        .over(W.partitionBy("user_id").orderBy("ts", "event_id"))
        .alias("rn"),
    )
    seq.createOrReplaceTempView("__f1des_rc_seq")
    return spark.sql(
        """
        WITH RECURSIVE dec AS (
          SELECT user_id, rn, FLOOR(COALESCE(value, 0) * 1e6 + 0.5) / 1e6 AS state
          FROM __f1des_rc_seq WHERE rn = 1
          UNION ALL
          SELECT s.user_id, s.rn,
            FLOOR((0.9 * d.state + COALESCE(s.value, 0)) * 1e6 + 0.5) / 1e6 AS state
          FROM dec d
          JOIN __f1des_rc_seq s ON s.user_id = d.user_id AND s.rn = d.rn + 1
        )
        SELECT d.user_id, d.rn AS n_events, d.state
        FROM dec d
        JOIN (SELECT user_id, MAX(rn) AS rn FROM dec GROUP BY user_id) m
          ON d.user_id = m.user_id AND d.rn = m.rn
        ORDER BY d.user_id
        """
    )


ORACLE_DECAYED = """
WITH RECURSIVE seq AS (
  SELECT user_id, value,
    ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
  FROM events WHERE event_type = 'purchase'
),
dec AS (
  SELECT user_id, rn, FLOOR(COALESCE(value, 0) * 1e6 + 0.5) / 1e6 AS state
  FROM seq WHERE rn = 1
  UNION ALL
  SELECT s.user_id, s.rn, FLOOR((0.9 * d.state + COALESCE(s.value, 0)) * 1e6 + 0.5) / 1e6 AS state
  FROM dec d JOIN seq s ON s.user_id = d.user_id AND s.rn = d.rn + 1
)
SELECT d.user_id, d.rn AS n_events, d.state
FROM dec d
JOIN (SELECT user_id, MAX(rn) AS rn FROM dec GROUP BY user_id) m
  ON d.user_id = m.user_id AND d.rn = m.rn
ORDER BY d.user_id
"""


# ---------------------------------------------------------------------------
# fuzzy-match join (edit distance <= 1 without the cross join)
# ---------------------------------------------------------------------------


def fuzzy_name_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customer-name pairs within Levenshtein distance 1, via the
    SymSpell deletion-neighborhood join.

    Scale shape: each name emits len+1 POSITIONAL keys — (name, 0)
    plus (deletion at i, i) — deduplicated per name to one row per
    DISTINCT key string carrying its position SET (a char-run yields
    the same deletion at every run position).  Candidates equi-join on
    the key string — same join cardinality as plain SymSpell — with a
    position guard as a join-side filter: a SUBSTITUTION pair's
    deletions match at a COMMON position, and an INSERT/DELETE pair
    matches via the shorter name's identity key (pos 0), so requiring
    ``arrays_overlap(pos_a, pos_b) OR 0 ∈ pos_a OR 0 ∈ pos_b`` loses
    no distance-≤1 pair while rejecting the dominant false-candidate
    class — equal-length names whose deletions at strictly different
    positions collide ("aab"/"aba"), which on templated key spaces
    (zero-padded serial names) otherwise dwarfs the true pairs and
    pays the distinct + levenshtein cost downstream.  The exact
    distance check runs only on surviving candidates, so the filter
    is verification, not search.
    """
    c = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("id"), F.col("c_name").alias("name")
    )
    return _fuzzy_pairs(c)


def _fuzzy_pairs(c: DataFrame, block: str | None = None) -> DataFrame:
    """The deletion-neighborhood pair join over (id, name[, block])
    rows.  ``block``: an optional second blocking column folded into
    the join key (null-safe) — a caller whose MATCH RULE already
    requires equality on that attribute (entity resolution's
    market-segment conjunct) gets the same final pairs from ~1/NDV the
    candidate volume, because the restriction moves from a post-join
    filter into the shuffle key (measured: the sf1 memory audit's only
    spilling stage was this join under ER; blocking on segment removes
    the cross-segment candidates that spilled)."""
    keys = F.concat(
        F.array(F.struct(F.col("name").alias("key"), F.lit(0).alias("pos"))),
        F.transform(
            F.sequence(F.lit(1), F.length("name")),
            lambda i: F.struct(
                F.concat(
                    F.substring(F.col("name"), F.lit(1), (i - F.lit(1)).cast("int")),
                    F.col("name").substr(i + F.lit(1), F.length("name")),
                ).alias("key"),
                i.cast("int").alias("pos"),
            ),
        ),
    )
    extra = [block] if block else []
    keyed = (
        c.select("id", "name", *extra, F.explode(keys).alias("k"))
        .groupBy("id", "name", *extra, F.col("k.key").alias("key"))
        .agg(F.collect_set("k.pos").alias("poss"))
    )
    a, b = keyed.alias("a"), keyed.alias("b")
    cond = (
        (F.col("a.key") == F.col("b.key"))
        & (F.col("a.id") < F.col("b.id"))
        & (
            F.arrays_overlap(F.col("a.poss"), F.col("b.poss"))
            | F.array_contains(F.col("a.poss"), 0)
            | F.array_contains(F.col("b.poss"), 0)
        )
    )
    if block:
        cond = cond & F.col(f"a.{block}").eqNullSafe(F.col(f"b.{block}"))
    return (
        a.join(b, cond)
        .select(
            F.col("a.id").alias("id1"),
            F.col("b.id").alias("id2"),
            F.col("a.name").alias("name1"),
            F.col("b.name").alias("name2"),
        )
        .distinct()
        .filter(F.levenshtein("name1", "name2") <= 1)
        .select("id1", "id2", F.levenshtein("name1", "name2").cast("long").alias("dist"))
    )


ORACLE_FUZZY = """
WITH keyed AS (
  SELECT c_custkey AS id, c_name AS name, k.key
  FROM customer, UNNEST(
    list_distinct(
      list_append(
        list_transform(range(1, length(c_name) + 1),
          i -> substr(c_name, 1, i - 1) || substr(c_name, i + 1)),
        c_name
      )
    )
  ) AS k(key)
)
SELECT DISTINCT a.id AS id1, b.id AS id2,
  CAST(levenshtein(a.name, b.name) AS BIGINT) AS dist
FROM keyed a JOIN keyed b ON a.key = b.key AND a.id < b.id
WHERE levenshtein(a.name, b.name) <= 1
ORDER BY id1, id2
"""


# ---------------------------------------------------------------------------
# frequent items (approx_top_k — exact when cardinality fits the sketch)
# ---------------------------------------------------------------------------


def frequent_event_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top event types via Spark 4's ``approx_top_k`` sketch.

    The sketch tracks up to maxItemsTracked items map-side and merges
    per partition — the streaming-friendly heavy-hitters pattern.
    With cardinality ≪ maxItemsTracked (here: a handful of event
    types vs 10k slots) the counts are EXACT, which is what lets the
    DuckDB oracle be a plain GROUP BY: the query pins both the Spark 4
    surface function and the exactness property on low-cardinality
    input.  Output re-ranked deterministically ((count DESC, item)).
    """
    load_table(spark, sf_dir, "events").createOrReplaceTempView("__f1des_ft_events")
    return spark.sql(
        """
        SELECT item AS event_type, count AS n,
          CAST(row_number() OVER (ORDER BY count DESC, item) AS BIGINT) AS rank
        FROM (
          SELECT inline(approx_top_k(event_type, 5, 10000))
          FROM __f1des_ft_events WHERE event_type IS NOT NULL
        )
        ORDER BY rank
        """
    )


ORACLE_FREQ = """
SELECT event_type, COUNT(*) AS n,
  CAST(row_number() OVER (ORDER BY COUNT(*) DESC, event_type) AS BIGINT) AS rank
FROM events WHERE event_type IS NOT NULL
GROUP BY event_type
ORDER BY rank LIMIT 5
"""


#: Registered queries, each mapped to its DuckDB oracle (see __spark_entry__).
QUERIES = {
    event_funnel: ORACLE_FUNNEL,
    countmin_sketch: ORACLE_CMS,
    priority_sample_orders: ORACLE_PRIORITY_SAMPLE,
    decayed_value_recursive: ORACLE_DECAYED,
    fuzzy_name_pairs: ORACLE_FUZZY,
    frequent_event_types: ORACLE_FREQ,
}
