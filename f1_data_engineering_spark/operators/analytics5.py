"""Fifth analytics wave: KMV theta-sketch set algebra, Bloom-filter
join pruning, exact weighted systematic sampling, and higher-moment
statistics — all oracle-twinned, all built on the repo's cross-engine
parity recipes (md5 60-bit hashes, fixed-point cents, sorted folds,
shortest-repr 6-dp rounding).

Beyond-reference scope (the reference — SaiSurya3003/F1_Data_Engineering,
a pandas extract/transform/dashboard pipeline — never needs these; they
are daily shapes of a 100 TB curation/ops deployment):

* **KMV / theta sketch** (Bar-Yossef et al. 2002; Beyer et al. 2007,
  "On synopses for distinct-value estimation under multiset
  operations") — keep the K smallest hash values per group.  Unlike
  HLL (analytics4), KMV supports **set intersection and Jaccard
  directly**: among the K smallest hashes of the union, count those
  present in both sketches.  The bottom-K is computed scale-safely:
  a salt-bucketed local bottom-K prunes to ≤ n_salts·K candidates per
  group before the per-group window (any global bottom-K member is in
  its salt-bucket's bottom-K) — the same two-level construction as
  ranking.bucketed_topk_rank, so no unbounded single-partition sort.
* **Bloom-filter semi-join pruning** (Bloom 1970) — the runtime-filter
  pattern: build an m-bit filter over the fact side's join keys as a
  ≤150-row (word → bits) table via ``bit_or`` aggregation, broadcast
  it, and pre-filter the probe side before the real join.  At 100 TB
  the filter build is one map-side-combinable aggregate over the
  already-scanned keys, the probe is a broadcast hash join against
  metadata — this is exactly what Spark's own
  ``spark.sql.optimizer.runtimeFilter.bloomFilter.enabled`` injects,
  materialized here as an auditable operator (bits set, analytic FPR,
  measured false positives vs the exact semi-join; zero false
  negatives by construction, pinned in tests).
* **Weighted systematic sampling** (Madow 1944) — inclusion
  probability ∝ weight, EXACT and deterministic: order rows by a
  uniform hash, take every ``step``-th position of the integer-cents
  cumulative weight.  The global cumulative sum is bucket-partial +
  broadcast bucket-prefix offsets (hash-prefix buckets align with the
  global hash order), never a single-partition window.  Integer math
  end-to-end — both engines agree bit-for-bit, no float in the
  selection predicate.
* **Higher moments** — per-group skewness and excess kurtosis from
  sorted-fold power sums (Σx, Σx², Σx³, Σx⁴ folded in deterministic
  (value, event_id) order): the downstream arithmetic is identical
  double expressions on identical fold results in both engines, so
  the classic cancellation hazard of the raw-moment formulas is not a
  parity hazard — and the oracle pins exactly that arithmetic.
  sqrt-only (var·√var for σ³), no ``pow`` libm calls.

Reference parity citations: the reference's aggregate surface is
`f1_dataTransformer.py:125-230` (groupby mean/sum); these operators
extend that surface with the sketch/sampling algebra its workloads
would need at lake scale.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from ..sources.registry import load_table
from .graphops import _sorted_fold_sum
from .pandas_ops import _oracle_round6
from .relational import _cents

__all__ = [
    "kmv_set_ops",
    "bloom_prune_stats",
    "weighted_systematic_sample",
    "moment_stats",
    "ORACLE_KMV",
    "ORACLE_BLOOM",
    "ORACLE_WEIGHTED_SAMPLE",
    "ORACLE_MOMENTS",
]

# ---------------------------------------------------------------------------
# KMV (bottom-K / theta) sketch with set algebra
# ---------------------------------------------------------------------------

KMV_K = 64
KMV_SALTS = 16
#: hash domain: the repo's 60-bit md5 scheme → [0, 2^60); exact double
HASH_SPACE = float(1 << 60)


def _kmv_hash(key: Column, seed: str) -> Column:
    """60-bit md5-parity hash (same scheme as dedup.py / analytics4)."""
    return F.conv(
        F.substring(F.md5(F.concat(F.lit(seed), key).cast("binary")), 1, 15),
        16,
        10,
    ).cast("long")


def _sql_kmv_hash(key: str, seed: str) -> str:
    return f"CAST(('0x' || substr(md5('{seed}' || {key}), 1, 15)) AS BIGINT)"


def kmv_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per event-type pair: KMV distinct estimates for each side, the
    union, the intersection, and the Jaccard — with the exact values
    alongside for the error audit (the exact columns are the expensive
    part at scale; the sketch columns are the product).

    Estimator (Beyer et al. 2007): with the K-th smallest hash value
    h_(K) of a set hashed uniformly into [0, 2^60), NDV ≈
    (K-1) · 2^60 / h_(K); a set with fewer than K distinct hashes is
    counted exactly.  Union sketch = bottom-K of the two sketches'
    union (valid because bottom-K(A ∪ B) ⊆ bottom-K(A) ∪ bottom-K(B));
    Jaccard ≈ |{bottom-K(union)} ∩ A-sketch ∩ B-sketch| / min(K, |union sketch|);
    intersection ≈ Jaccard · union-estimate.

    Scale shape: one distinct-hash aggregate, a salt-bucketed local
    bottom-K (≤ KMV_SALTS·KMV_K survivors per group), then group-local
    windows over metadata-sized frames.  Pairs are sketch × sketch —
    never corpus × corpus.
    """
    ev = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("user_id").isNotNull())
        .select(
            F.coalesce(F.col("event_type"), F.lit("none")).alias("g"),
            F.col("user_id").cast("string").alias("k"),
        )
    )
    hashed = ev.select(
        "g", _kmv_hash(F.col("k"), "kmv#").alias("h")
    ).distinct()

    n_hashes = hashed.groupBy("g").agg(
        F.count(F.lit(1)).alias("n_distinct")
    )

    # two-level bottom-K: salt-local prune (≤ SALTS·K rows per group
    # survive) then the exact per-group rank on the pruned frame
    local = (
        hashed.withColumn("salt", F.pmod(F.col("h"), F.lit(KMV_SALTS)))
        .withColumn(
            "lr",
            F.row_number().over(W.partitionBy("g", "salt").orderBy("h")),
        )
        .filter(F.col("lr") <= KMV_K)
    )
    sketch = (
        local.withColumn(
            "rn", F.row_number().over(W.partitionBy("g").orderBy("h"))
        )
        .filter(F.col("rn") <= KMV_K)
        .select("g", "h", "rn")
    )

    # per-group NDV estimate
    def est(theta: Column, n: Column) -> Column:
        return F.when(
            n < KMV_K, n.cast("double")
        ).otherwise(
            F.lit(float(KMV_K - 1)) * F.lit(HASH_SPACE) / theta.cast("double")
        )

    per_g = (
        sketch.groupBy("g")
        .agg(F.max("h").alias("theta"), F.count(F.lit(1)).alias("k_used"))
        .join(n_hashes, "g")
    )

    types = per_g.select("g").distinct()
    pairs = types.select(F.col("g").alias("ga")).join(
        types.select(F.col("g").alias("gb")), F.col("ga") < F.col("gb")
    )

    # union sketch per pair: bottom-K of the two sketches' hash union,
    # with membership flags carried through the merge
    merged = (
        pairs.join(
            sketch.select(F.col("g").alias("ga"), "h").withColumn(
                "in_a", F.lit(1)
            ),
            ["ga"],
        )
        .withColumn("in_b", F.lit(0))
        .unionByName(
            pairs.join(
                sketch.select(F.col("g").alias("gb"), "h").withColumn(
                    "in_b", F.lit(1)
                ),
                ["gb"],
            ).withColumn("in_a", F.lit(0))
        )
        .groupBy("ga", "gb", "h")
        .agg(F.max("in_a").alias("in_a"), F.max("in_b").alias("in_b"))
    )
    u_sketch = merged.withColumn(
        "rn", F.row_number().over(W.partitionBy("ga", "gb").orderBy("h"))
    ).filter(F.col("rn") <= KMV_K)
    per_pair = u_sketch.groupBy("ga", "gb").agg(
        F.max("h").alias("theta_u"),
        F.count(F.lit(1)).alias("k_u"),
        F.sum(
            (F.col("in_a") * F.col("in_b")).cast("bigint")
        ).alias("j_both"),
    )

    # exact audit columns (one distinct-pair aggregate; the costly twin)
    dk = ev.distinct()
    exact_pair = (
        dk.alias("a")
        .join(
            dk.alias("b"),
            (F.col("a.k") == F.col("b.k")) & (F.col("a.g") < F.col("b.g")),
        )
        .groupBy(
            F.col("a.g").alias("ga"), F.col("b.g").alias("gb")
        )
        .agg(F.count(F.lit(1)).alias("exact_intersection"))
    )
    exact_g = ev.groupBy("g").agg(F.countDistinct("k").alias("exact_n"))

    a_side = per_g.select(
        F.col("g").alias("ga"),
        F.col("theta").alias("theta_a"),
        F.col("n_distinct").alias("n_a"),
    )
    b_side = per_g.select(
        F.col("g").alias("gb"),
        F.col("theta").alias("theta_b"),
        F.col("n_distinct").alias("n_b"),
    )

    est_u = F.when(
        F.col("k_u") < KMV_K, F.col("k_u").cast("double")
    ).otherwise(
        F.lit(float(KMV_K - 1)) * F.lit(HASH_SPACE) / F.col("theta_u").cast("double")
    )
    jac = F.col("j_both").cast("double") / F.col("k_u").cast("double")

    return (
        per_pair.join(a_side, "ga")
        .join(b_side, "gb")
        .join(exact_pair, ["ga", "gb"], "left")
        .join(
            exact_g.select(F.col("g").alias("ga"), F.col("exact_n").alias("exact_a")),
            "ga",
        )
        .join(
            exact_g.select(F.col("g").alias("gb"), F.col("exact_n").alias("exact_b")),
            "gb",
        )
        .select(
            F.col("ga").alias("type_a"),
            F.col("gb").alias("type_b"),
            F.round(est(F.col("theta_a"), F.col("n_a")), 6).alias("ndv_a_est"),
            F.round(est(F.col("theta_b"), F.col("n_b")), 6).alias("ndv_b_est"),
            F.round(est_u, 6).alias("union_est"),
            F.round(jac, 6).alias("jaccard_est"),
            F.round(jac * est_u, 6).alias("intersection_est"),
            F.col("exact_a"),
            F.col("exact_b"),
            F.coalesce(F.col("exact_intersection"), F.lit(0)).alias(
                "exact_intersection"
            ),
        )
        .orderBy("type_a", "type_b")
    )


_K1 = float(KMV_K - 1)

ORACLE_KMV = f"""
WITH ev AS (
  SELECT coalesce(event_type, 'none') AS g, CAST(user_id AS VARCHAR) AS k
  FROM events WHERE user_id IS NOT NULL
),
hashed AS (
  SELECT DISTINCT g, {_sql_kmv_hash('k', 'kmv#')} AS h FROM ev
),
nh AS (SELECT g, CAST(COUNT(*) AS BIGINT) AS n_distinct FROM hashed GROUP BY g),
sk AS (
  SELECT g, h, rn FROM (
    SELECT g, h, row_number() OVER (PARTITION BY g ORDER BY h) AS rn
    FROM hashed
  ) WHERE rn <= {KMV_K}
),
per_g AS (
  SELECT sk.g, MAX(sk.h) AS theta, COUNT(*) AS k_used, MIN(nh.n_distinct) AS n_distinct
  FROM sk JOIN nh ON sk.g = nh.g GROUP BY sk.g
),
prs AS (
  SELECT a.g AS ga, b.g AS gb FROM per_g a JOIN per_g b ON a.g < b.g
),
merged AS (
  SELECT ga, gb, h, MAX(in_a) AS in_a, MAX(in_b) AS in_b FROM (
    SELECT p.ga, p.gb, s.h, 1 AS in_a, 0 AS in_b
    FROM prs p JOIN sk s ON s.g = p.ga
    UNION ALL
    SELECT p.ga, p.gb, s.h, 0 AS in_a, 1 AS in_b
    FROM prs p JOIN sk s ON s.g = p.gb
  ) GROUP BY ga, gb, h
),
usk AS (
  SELECT ga, gb, h, in_a, in_b FROM (
    SELECT ga, gb, h, in_a, in_b,
      row_number() OVER (PARTITION BY ga, gb ORDER BY h) AS rn
    FROM merged
  ) WHERE rn <= {KMV_K}
),
per_pair AS (
  SELECT ga, gb, MAX(h) AS theta_u, COUNT(*) AS k_u,
    CAST(SUM(in_a * in_b) AS BIGINT) AS j_both
  FROM usk GROUP BY ga, gb
),
dk AS (SELECT DISTINCT g, k FROM ev),
exact_pair AS (
  SELECT a.g AS ga, b.g AS gb, CAST(COUNT(*) AS BIGINT) AS exact_intersection
  FROM dk a JOIN dk b ON a.k = b.k AND a.g < b.g GROUP BY a.g, b.g
),
exact_g AS (
  SELECT g, CAST(COUNT(DISTINCT k) AS BIGINT) AS exact_n FROM ev GROUP BY g
)
SELECT pp.ga AS type_a, pp.gb AS type_b,
  {_oracle_round6(f"CASE WHEN a.n_distinct < {KMV_K} THEN CAST(a.n_distinct AS DOUBLE) ELSE {_K1!r} * {HASH_SPACE!r} / CAST(a.theta AS DOUBLE) END")} AS ndv_a_est,
  {_oracle_round6(f"CASE WHEN b.n_distinct < {KMV_K} THEN CAST(b.n_distinct AS DOUBLE) ELSE {_K1!r} * {HASH_SPACE!r} / CAST(b.theta AS DOUBLE) END")} AS ndv_b_est,
  {_oracle_round6(f"CASE WHEN pp.k_u < {KMV_K} THEN CAST(pp.k_u AS DOUBLE) ELSE {_K1!r} * {HASH_SPACE!r} / CAST(pp.theta_u AS DOUBLE) END")} AS union_est,
  {_oracle_round6("CAST(pp.j_both AS DOUBLE) / CAST(pp.k_u AS DOUBLE)")} AS jaccard_est,
  {_oracle_round6(f"(CAST(pp.j_both AS DOUBLE) / CAST(pp.k_u AS DOUBLE)) * (CASE WHEN pp.k_u < {KMV_K} THEN CAST(pp.k_u AS DOUBLE) ELSE {_K1!r} * {HASH_SPACE!r} / CAST(pp.theta_u AS DOUBLE) END)")} AS intersection_est,
  ea.exact_n AS exact_a,
  eb.exact_n AS exact_b,
  COALESCE(ep.exact_intersection, 0) AS exact_intersection
FROM per_pair pp
JOIN per_g a ON a.g = pp.ga
JOIN per_g b ON b.g = pp.gb
LEFT JOIN exact_pair ep ON ep.ga = pp.ga AND ep.gb = pp.gb
JOIN exact_g ea ON ea.g = pp.ga
JOIN exact_g eb ON eb.g = pp.gb
ORDER BY type_a, type_b
"""


# ---------------------------------------------------------------------------
# Bloom-filter semi-join pruning
# ---------------------------------------------------------------------------

BLOOM_BITS = 4096
BLOOM_HASHES = 3
#: 31 usable bits per word keeps every shift strictly inside a positive
#: BIGINT in both engines (no sign-bit or overflow edge anywhere)
WORD_BITS = 31


def _bloom_positions(key: Column) -> list[Column]:
    return [
        F.pmod(_kmv_hash(key, f"bloom{i}#"), F.lit(BLOOM_BITS))
        for i in range(BLOOM_HASHES)
    ]


def bloom_prune_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Build a Bloom filter over the fact side's join keys (orders'
    custkeys), probe the dimension side (customers), and report — per
    market segment — how many probe rows the filter passes vs the exact
    semi-join, plus the filter's analytic false-positive rate.

    The filter is a (word → bits) table of ≤ ⌈4096/31⌉ = 133 rows built
    with one ``bit_or`` aggregate (map-side combinable: each task ORs
    its partial words) and broadcast to the probe — the materialized
    form of the engine's runtime bloom filter.  No false negatives by
    construction: every true match passes (pinned in tests and visible
    here as n_bloom_pass ≥ n_true_match per segment).
    """
    keys = (
        load_table(spark, sf_dir, "orders")
        .select(F.col("o_custkey").cast("string").alias("key"))
        .distinct()
    )
    pos_frames = [
        keys.select(p.alias("pos")) for p in _bloom_positions(F.col("key"))
    ]
    from functools import reduce

    bloom = (
        reduce(DataFrame.unionByName, pos_frames)
        .select(
            (F.col("pos") / WORD_BITS).cast("int").alias("word"),
            F.expr(
                f"shiftleft(CAST(1 AS BIGINT), CAST(pos % {WORD_BITS} AS INT))"
            ).alias("mask"),
        )
        .groupBy("word")
        .agg(F.expr("bit_or(mask)").alias("bits"))
    )

    bits_set = bloom.agg(
        F.sum(F.bit_count("bits")).cast("bigint").alias("bits_set")
    )

    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment",
        F.col("c_custkey").cast("string").alias("key"),
    )
    probe = cust
    for i, p in enumerate(_bloom_positions(F.col("key"))):
        probe = (
            probe.withColumn(f"__p{i}", p)
            .withColumn(f"w{i}", (F.col(f"__p{i}") / WORD_BITS).cast("int"))
            .withColumn(
                f"m{i}",
                F.expr(
                    f"shiftleft(CAST(1 AS BIGINT), CAST(__p{i} % {WORD_BITS} AS INT))"
                ),
            )
            .join(
                F.broadcast(
                    bloom.select(
                        F.col("word").alias(f"w{i}"),
                        F.col("bits").alias(f"b{i}"),
                    )
                ),
                f"w{i}",
                "left",
            )
            .withColumn(
                f"hit{i}",
                (
                    F.coalesce(F.col(f"b{i}"), F.lit(0)).bitwiseAND(
                        F.col(f"m{i}")
                    )
                    == F.col(f"m{i}")
                ).cast("int"),
            )
        )
    passed = probe.withColumn(
        "bloom_pass",
        (F.col("hit0") * F.col("hit1") * F.col("hit2")).cast("int"),
    )

    truth = (
        load_table(spark, sf_dir, "orders")
        .select("o_custkey")
        .distinct()
        .withColumn("is_true", F.lit(1))
    )
    audited = passed.join(
        truth, passed.c_custkey == truth.o_custkey, "left"
    ).select(
        "c_mktsegment",
        "bloom_pass",
        F.coalesce(F.col("is_true"), F.lit(0)).alias("is_true"),
    )

    per_seg = audited.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n_customers"),
        F.sum("bloom_pass").cast("bigint").alias("n_bloom_pass"),
        F.sum("is_true").cast("bigint").alias("n_true_match"),
        F.sum(
            (F.col("bloom_pass") * (1 - F.col("is_true"))).cast("bigint")
        ).alias("n_false_pos"),
    )
    fill = F.col("bits_set").cast("double") / F.lit(float(BLOOM_BITS))
    return (
        per_seg.crossJoin(F.broadcast(bits_set))
        .select(
            "c_mktsegment",
            "n_customers",
            "n_bloom_pass",
            "n_true_match",
            "n_false_pos",
            "bits_set",
            F.round(fill * fill * fill, 6).alias("est_fpr"),
        )
        .orderBy("c_mktsegment")
    )


def _sql_bloom_pos(key: str, i: int) -> str:
    return f"({_sql_kmv_hash(key, f'bloom{i}#')} % {BLOOM_BITS} + {BLOOM_BITS}) % {BLOOM_BITS}"


ORACLE_BLOOM = f"""
WITH keys AS (
  SELECT DISTINCT CAST(o_custkey AS VARCHAR) AS key FROM orders
),
pos AS (
  {" UNION ALL ".join(f"SELECT {_sql_bloom_pos('key', i)} AS pos FROM keys" for i in range(BLOOM_HASHES))}
),
bloom AS (
  SELECT CAST(pos // {WORD_BITS} AS INT) AS word,
    bit_or(CAST(1 AS BIGINT) << CAST(pos % {WORD_BITS} AS INT)) AS bits
  FROM pos GROUP BY 1
),
bs AS (SELECT CAST(SUM(bit_count(bits)) AS BIGINT) AS bits_set FROM bloom),
cust AS (
  SELECT c_custkey, c_mktsegment, CAST(c_custkey AS VARCHAR) AS key FROM customer
),
probe AS (
  SELECT c.c_custkey, c.c_mktsegment,
    {" * ".join(
        f"(CASE WHEN COALESCE(b{i}.bits, 0) & (CAST(1 AS BIGINT) << CAST({_sql_bloom_pos('c.key', i)} % {WORD_BITS} AS INT)) "
        f"= (CAST(1 AS BIGINT) << CAST({_sql_bloom_pos('c.key', i)} % {WORD_BITS} AS INT)) THEN 1 ELSE 0 END)"
        for i in range(BLOOM_HASHES)
    )} AS bloom_pass
  FROM cust c
  {" ".join(
      f"LEFT JOIN bloom b{i} ON b{i}.word = CAST({_sql_bloom_pos('c.key', i)} // {WORD_BITS} AS INT)"
      for i in range(BLOOM_HASHES)
  )}
),
truth AS (SELECT DISTINCT o_custkey FROM orders),
audited AS (
  SELECT p.c_mktsegment, p.bloom_pass,
    CASE WHEN t.o_custkey IS NULL THEN 0 ELSE 1 END AS is_true
  FROM probe p LEFT JOIN truth t ON p.c_custkey = t.o_custkey
)
SELECT a.c_mktsegment,
  COUNT(*) AS n_customers,
  CAST(SUM(bloom_pass) AS BIGINT) AS n_bloom_pass,
  CAST(SUM(is_true) AS BIGINT) AS n_true_match,
  CAST(SUM(bloom_pass * (1 - is_true)) AS BIGINT) AS n_false_pos,
  MIN(bs.bits_set) AS bits_set,
  {_oracle_round6(f"(CAST(MIN(bs.bits_set) AS DOUBLE) / {float(BLOOM_BITS)!r}) * (CAST(MIN(bs.bits_set) AS DOUBLE) / {float(BLOOM_BITS)!r}) * (CAST(MIN(bs.bits_set) AS DOUBLE) / {float(BLOOM_BITS)!r})")} AS est_fpr
FROM audited a CROSS JOIN bs
GROUP BY a.c_mktsegment
ORDER BY a.c_mktsegment
"""


# ---------------------------------------------------------------------------
# Weighted systematic sampling (exact, integer-cents)
# ---------------------------------------------------------------------------

SAMPLE_TICKS = 100
CUM_BUCKETS_SHIFT = 54  # 60-bit hash → 64 ordered buckets


def weighted_systematic_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Madow systematic PPS sample of orders: order the relation by a
    uniform 60-bit hash of the key, accumulate integer-cent weights,
    and take every row whose cumulative weight crosses a multiple of
    ``step = total_cents // SAMPLE_TICKS``.  Inclusion probability is
    proportional to weight; rows heavier than ``step`` are always
    included (can cross several ticks — ``n_ticks`` reports how many).

    The global cumulative sum is exact WITHOUT a single-partition
    window: hash-prefix buckets (top 6 bits → 64 buckets whose ranges
    partition the hash order), bucket-local cumsum, plus broadcast
    bucket-prefix offsets — the offset_global_rank construction applied
    to sums.  All selection math is 64-bit integer: bit-identical
    across engines, no float anywhere in the predicate.
    """
    od = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        _cents("o_totalprice").alias("w_cents"),
        _kmv_hash(F.col("o_orderkey").cast("string"), "wsys#").alias("h"),
    )
    od = od.withColumn(
        "bkt", F.shiftright(F.col("h"), CUM_BUCKETS_SHIFT)
    )
    wb = (
        W.partitionBy("bkt")
        .orderBy("h", "o_orderkey")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    local = od.withColumn("cum_local", F.sum("w_cents").over(wb))

    # bucket totals: ≤64 rows — driver metadata, broadcast back
    totals = (
        od.groupBy("bkt")
        .agg(F.sum("w_cents").alias("t"))
        .orderBy("bkt")
        .collect()
    )
    offs, acc = [], 0
    for r in totals:
        offs.append((r["bkt"], acc))
        acc += r["t"]
    total_cents = acc
    step = max(total_cents // SAMPLE_TICKS, 1)
    off_df = spark.createDataFrame(offs, schema="bkt long, off long")

    cum = local.join(F.broadcast(off_df), "bkt").select(
        "o_orderkey",
        "w_cents",
        (F.col("cum_local") + F.col("off")).alias("cum_cents"),
    )
    # integer DIV, never floor(x / step): the double division promotes
    # ~2^40-cent cumulative sums to float and floor() can land on the
    # wrong side when cum is an exact multiple of step — same hazard
    # class as the HLL bucket-word division; DIV is exact on longs in
    # both engines (all values non-negative here)
    picked = cum.withColumn(
        "n_ticks",
        (
            F.expr(f"cum_cents DIV {step}")
            - F.expr(f"(cum_cents - w_cents) DIV {step}")
        ).cast("bigint"),
    ).filter(F.col("n_ticks") > 0)
    return picked.select(
        "o_orderkey",
        "w_cents",
        "cum_cents",
        "n_ticks",
        F.lit(step).alias("step_cents"),
    ).orderBy("cum_cents")


ORACLE_WEIGHTED_SAMPLE = f"""
WITH od AS (
  SELECT o_orderkey,
    CAST(ROUND(o_totalprice * 100, 0) AS BIGINT) AS w_cents,
    {_sql_kmv_hash("CAST(o_orderkey AS VARCHAR)", "wsys#")} AS h
  FROM orders
),
cum AS (
  SELECT o_orderkey, w_cents,
    CAST(SUM(w_cents) OVER (ORDER BY h, o_orderkey
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_cents
  FROM od
),
tot AS (
  SELECT GREATEST(SUM(w_cents) // {SAMPLE_TICKS}, 1) AS step FROM od
)
SELECT o_orderkey, w_cents, cum_cents,
  CAST(cum_cents // step - (cum_cents - w_cents) // step AS BIGINT) AS n_ticks,
  CAST(step AS BIGINT) AS step_cents
FROM cum CROSS JOIN tot
WHERE cum_cents // step - (cum_cents - w_cents) // step > 0
ORDER BY cum_cents
"""


# ---------------------------------------------------------------------------
# Higher moments: skewness / kurtosis from sorted-fold power sums
# ---------------------------------------------------------------------------


#: two-level fold fan-in: per-(group, bucket) arrays hold ~n_g/64
#: values — bounded at any corpus size, unlike a single per-group
#: collect_list (which is the 100-TB anti-pattern AND was measured 10 s
#: at sf0.1; the two-level form reads ~1 s)
MOMENT_BUCKETS = 64


def moment_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per event type: n, mean, population std, skewness and excess
    kurtosis — every power sum a deterministic TWO-LEVEL sorted fold:
    values fold within (group, event_id % 64) buckets ordered by
    (value, event_id), then the 64 bucket sums fold ordered by bucket
    id.  Both engines run the identical float tree at both levels, so
    parity is exact while no task ever materializes more than a
    1/64th-of-group array (a single per-group fold is corpus-sized —
    the anti-pattern this shape replaces).  σ³ is var·√var (sqrt only
    — no ``pow`` libm call)."""
    ev = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("value").isNotNull())
        .select(
            F.coalesce(F.col("event_type"), F.lit("none")).alias("g"),
            F.col("event_id").alias("i"),
            F.col("value").alias("x"),
        )
        .withColumn("bkt", F.pmod(F.col("i"), F.lit(MOMENT_BUCKETS)))
        .withColumn("x2", F.col("x") * F.col("x"))
        .withColumn("x3", F.col("x2") * F.col("x"))
        .withColumn("x4", F.col("x2") * F.col("x2"))
    )
    # level 1: fold within bucket, ordered by (value, event_id)
    key = F.struct(F.col("x").alias("o1"), F.col("i").alias("o2"))
    lvl1 = ev.groupBy("g", "bkt").agg(
        F.count(F.lit(1)).alias("n"),
        _sorted_fold_sum_key(key, "x").alias("s1"),
        _sorted_fold_sum_key(key, "x2").alias("s2"),
        _sorted_fold_sum_key(key, "x3").alias("s3"),
        _sorted_fold_sum_key(key, "x4").alias("s4"),
    )
    # level 2: fold the ≤64 bucket sums, ordered by bucket id
    agg = lvl1.groupBy("g").agg(
        F.sum("n").alias("n"),
        _sorted_fold_sum("bkt", "s1").alias("s1"),
        _sorted_fold_sum("bkt", "s2").alias("s2"),
        _sorted_fold_sum("bkt", "s3").alias("s3"),
        _sorted_fold_sum("bkt", "s4").alias("s4"),
    )
    n = F.col("n").cast("double")
    mean = F.col("s1") / n
    var = F.col("s2") / n - mean * mean
    # degenerate groups: var can be 0 (all values equal) or epsilon-
    # negative (float cancellation on the raw-moment form) — std clamps
    # to 0 and the standardized moments are NULL (division by σ=0 has
    # no defined value; ANSI mode would raise).  The oracle mirrors the
    # identical CASE tree.
    var_pos = F.greatest(var, F.lit(0.0))
    sigma3 = var * F.sqrt(var)
    skew = F.when(
        var > 0,
        (F.col("s3") / n - 3.0 * mean * (F.col("s2") / n) + 2.0 * mean * mean * mean) / sigma3,
    )
    kurt = F.when(
        var > 0,
        (
            F.col("s4") / n
            - 4.0 * mean * (F.col("s3") / n)
            + 6.0 * mean * mean * (F.col("s2") / n)
            - 3.0 * mean * mean * mean * mean
        ) / (var * var) - 3.0,
    )
    return agg.select(
        F.col("g").alias("event_type"),
        F.col("n"),
        F.round(mean, 6).alias("mean_value"),
        F.round(F.sqrt(var_pos), 6).alias("std_value"),
        F.round(skew, 6).alias("skewness"),
        F.round(kurt, 6).alias("excess_kurtosis"),
    ).orderBy("event_type")


def _sorted_fold_sum_key(key: Column, value_col: str) -> Column:
    """_sorted_fold_sum with an explicit composite sort key."""
    return F.aggregate(
        F.transform(
            F.array_sort(F.collect_list(F.struct(key.alias("k"), F.col(value_col).alias("v")))),
            lambda s: s["v"],
        ),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _sql_fold(expr: str) -> str:
    return f"list_sum(list({expr} ORDER BY x, i))"


ORACLE_MOMENTS = f"""
WITH ev AS (
  SELECT coalesce(event_type, 'none') AS g, event_id AS i,
    event_id % {MOMENT_BUCKETS} AS bkt, value AS x,
    value * value AS x2,
    (value * value) * value AS x3,
    (value * value) * (value * value) AS x4
  FROM events WHERE value IS NOT NULL
),
lvl1 AS (
  SELECT g, bkt, CAST(COUNT(*) AS BIGINT) AS n,
    {_sql_fold('x')} AS s1, {_sql_fold('x2')} AS s2,
    {_sql_fold('x3')} AS s3, {_sql_fold('x4')} AS s4
  FROM ev GROUP BY g, bkt
),
agg AS (
  SELECT g, CAST(SUM(n) AS BIGINT) AS n,
    list_sum(list(s1 ORDER BY bkt)) AS s1,
    list_sum(list(s2 ORDER BY bkt)) AS s2,
    list_sum(list(s3 ORDER BY bkt)) AS s3,
    list_sum(list(s4 ORDER BY bkt)) AS s4
  FROM lvl1 GROUP BY g
),
m AS (
  SELECT g, n,
    s1 / CAST(n AS DOUBLE) AS mean,
    s2 / CAST(n AS DOUBLE) - (s1 / CAST(n AS DOUBLE)) * (s1 / CAST(n AS DOUBLE)) AS var,
    s1, s2, s3, s4, CAST(n AS DOUBLE) AS nd
  FROM agg
)
SELECT g AS event_type, n,
  {_oracle_round6("mean")} AS mean_value,
  {_oracle_round6("sqrt(GREATEST(var, 0.0))")} AS std_value,
  CASE WHEN var > 0 THEN
    {_oracle_round6("(s3 / nd - 3.0 * mean * (s2 / nd) + 2.0 * mean * mean * mean) / (var * sqrt(var))")}
  END AS skewness,
  CASE WHEN var > 0 THEN
    {_oracle_round6("(s4 / nd - 4.0 * mean * (s3 / nd) + 6.0 * mean * mean * (s2 / nd) - 3.0 * mean * mean * mean * mean) / (var * var) - 3.0")}
  END AS excess_kurtosis
FROM m ORDER BY event_type
"""


#: Registered queries, each mapped to its DuckDB oracle (see __spark_entry__).
QUERIES = {
    kmv_set_ops: ORACLE_KMV,
    bloom_prune_stats: ORACLE_BLOOM,
    weighted_systematic_sample: ORACLE_WEIGHTED_SAMPLE,
    moment_stats: ORACLE_MOMENTS,
}
