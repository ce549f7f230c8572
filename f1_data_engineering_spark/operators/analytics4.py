"""Fourth analytics wave: HyperLogLog distinct sketch, salted skew
join, scale-safe equi-depth binning, key-skew profiling, and
entity-resolution clustering — all oracle-twinned.

Beyond-reference scope (the reference never needs these; they are the
shapes a 100 TB curation/ops pipeline runs daily):

* **HyperLogLog** (Flajolet, Fusy, Gandouet & Meunier 2007) — the
  mergeable distinct-count sketch: register j of group g holds the max
  leading-zero run among hashes landing in bucket j.  On Spark the
  build is ONE hash aggregate on (group, bucket) — at most m=256
  partials per group per partition cross the shuffle no matter how big
  the input, and sketches from different days/sources/groups merge by
  register-wise MAX (demonstrated in-query: the ``__merged`` row is
  computed from the per-group registers, never from re-hashed data).
  Hashes are the repo's md5-parity scheme (dedup.py) so DuckDB builds
  the identical sketch; 2^-M terms are exact power-of-two doubles
  (integer shift + divide, no libm), summed with the sorted-fold
  recipe, so the estimate matches bit-for-bit.
* **salted skew join** — the standard hot-key defuser: the big
  fact side computes ``salt = hash(row) % S`` and the dimension side
  is replicated S× with explicit salt values, so a key holding 20% of
  all rows spreads over S reducers instead of stalling one.  Results
  are IDENTICAL to the plain equi-join (the oracle IS the plain join;
  tests also pin salted ≡ unsalted in-engine).  AQE's skew-join split
  covers sort-merge cases adaptively; the explicit salt is the
  portable form that also composes with aggregates and bucketed
  layouts.
* **equi-depth binning** — exact global NTILE(k) without the
  single-partition ``Window.orderBy`` anti-pattern: range-repartition
  on the sort key, pin partitioning (localCheckpoint), per-partition
  row_number + broadcast per-partition offsets → exact global rank,
  then ANSI NTILE arithmetic on (rank, n).  The only full-relation
  ordering work is the range exchange itself — exactly what a
  100 TB sort would pay anyway; no stage sees more than one
  partition's rows.
* **key-skew profiler** — per keyspace: key count, row count, max/avg
  frequency and the hottest key — the diagnostic that decides WHEN the
  salted join / AQE skew handling above is needed.  One hash aggregate
  per keyspace; the hottest key via a lexicographic min-struct
  aggregate (never a sort).
* **entity resolution** — blocking + verification + transitive
  closure as one composition: SymSpell deletion-neighborhood candidate
  pairs (analytics2.fuzzy_name_pairs) are the ≤1-edit edge set, and
  alternating star contraction (graphops, Kiveris et al. 2014) labels
  every customer with its entity's min id — singletons included, so
  the output is a PARTITION of the entity space with a canonical
  record per cluster, not just the duplicate pairs.

Reference parity note: the reference repo (SaiSurya3003/
F1_Data_Engineering) has no sketch/skew/ER surface — these extend the
engine along SURVEY.md §6's training-data-pipeline axis.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.registry import load_table
from .graphops import _sorted_fold_sum, star_contract_labels
from .pandas_ops import _oracle_round6


# ---------------------------------------------------------------------------
# HyperLogLog distinct-count sketch
# ---------------------------------------------------------------------------

HLL_P = 8
HLL_M = 1 << HLL_P  # 256 registers
#: alpha_256 — computed ONCE in Python and embedded as the same double
#: literal in both engines (repr round-trips exactly)
HLL_ALPHA = 0.7213 / (1.0 + 1.079 / HLL_M)
#: hash is 60 bits (15 md5 hex chars): 8 bucket bits + 52 rho bits
HLL_RHO_BITS = 60 - HLL_P


def _hll_hash(key: Column) -> Column:
    """60-bit md5-parity hash of a string key, seeded 'hll#' — the
    repo's cross-engine hash scheme (dedup.py, analytics2._cms_slot)."""
    return F.conv(
        F.substring(
            F.md5(F.concat(F.lit("hll#"), key).cast("binary")), 1, 15
        ),
        16,
        10,
    ).cast("long")


def hll_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct users per event_type via a 256-register HyperLogLog,
    plus a ``__merged`` row built by register-wise MAX of the per-type
    sketches — the merge that makes HLL shippable across days/sources
    at 100 TB (union of streams ≡ max of registers, shown in-query
    against the exact distinct of the union).

    Exactness across engines: bucket = h % 256, rho = leading-zero run
    of the remaining 52 bits + 1 = 53 - bitlength(w) (bitlength via
    the minimal binary string both engines produce), 2^-M terms are
    integer-shift exact doubles summed in bucket order (sorted fold),
    and alpha·m² is one shared Python-literal double — no libm anywhere.
    Raw estimator only (no small/large-range correction): the bias is
    part of the contract and the exact count sits alongside for the
    error column.
    """
    ev = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("user_id").isNotNull())
        .select(
            F.coalesce(F.col("event_type"), F.lit("none")).alias("g"),
            F.col("user_id").cast("string").alias("k"),
        )
    )
    h = _hll_hash(F.col("k"))
    # integer shift, not double division: floor(h / 2^P) via / promotes
    # the 60-bit hash to double (53-bit mantissa) and is off-by-one for
    # ~17% of hashes; shiftright is exact and matches the oracle's h // m
    w = F.shiftright(h, HLL_P)
    rho = F.when(w == 0, F.lit(HLL_RHO_BITS + 1)).otherwise(
        F.lit(HLL_RHO_BITS + 1) - F.length(F.bin(w))
    )
    regs = (
        ev.select("g", (h % HLL_M).alias("bucket"), rho.alias("rho"))
        .groupBy("g", "bucket")
        .agg(F.max("rho").alias("m"))
    )
    merged = (
        regs.groupBy("bucket")
        .agg(F.max("m").alias("m"))
        .select(F.lit("__merged").alias("g"), "bucket", "m")
    )
    # 2^-m exact: integer shift then divide (no pow/libm)
    term = F.lit(1.0) / F.expr(
        "CAST(shiftleft(CAST(1 AS BIGINT), CAST(m AS INT)) AS DOUBLE)"
    )
    sketches = (
        regs.unionByName(merged)
        .select("g", "bucket", term.alias("term"))
        .groupBy("g")
        .agg(
            F.count(F.lit(1)).alias("n_buckets_used"),
            _sorted_fold_sum("bucket", "term").alias("fold"),
        )
        .select(
            "g",
            "n_buckets_used",
            # empty registers contribute 2^0 = 1.0 each; one final add
            # keeps the fold order identical to the oracle
            (
                (F.lit(HLL_M) - F.col("n_buckets_used")).cast("double")
                + F.col("fold")
            ).alias("s"),
        )
    )
    exact = ev.groupBy("g").agg(F.countDistinct("k").alias("exact_distinct"))
    exact_all = ev.agg(
        F.countDistinct("k").alias("exact_distinct")
    ).select(F.lit("__merged").alias("g"), "exact_distinct")
    est = F.round(F.lit(HLL_ALPHA) * F.lit(float(HLL_M * HLL_M)) / F.col("s"), 6)
    return (
        sketches.join(exact.unionByName(exact_all), "g")
        .select(
            F.col("g").alias("group_key"),
            "n_buckets_used",
            est.alias("hll_estimate"),
            "exact_distinct",
            F.when(
                F.col("exact_distinct") > 0,
                F.round(
                    F.abs(est - F.col("exact_distinct").cast("double"))
                    / F.col("exact_distinct").cast("double"),
                    6,
                ),
            ).alias("rel_err"),
        )
        .orderBy("group_key")
    )


#: explicit DOUBLE casts — DuckDB types a bare decimal literal as
#: DECIMAL and the multiply overflows / diverges from Spark's doubles
_SQL_HLL_EST = _oracle_round6(
    f"CAST({HLL_ALPHA!r} AS DOUBLE) * CAST({float(HLL_M * HLL_M)!r} AS DOUBLE) / s"
)

ORACLE_HLL = f"""
WITH ev AS (
  SELECT coalesce(event_type, 'none') AS g, CAST(user_id AS VARCHAR) AS k
  FROM events WHERE user_id IS NOT NULL
),
hashed AS (
  SELECT g, k,
    CAST(('0x' || substr(md5('hll#' || k), 1, 15)) AS BIGINT) AS h
  FROM ev
),
br AS (
  SELECT g, h % {HLL_M} AS bucket, h // {HLL_M} AS w FROM hashed
),
regs AS (
  SELECT g, bucket,
    MAX(CASE WHEN w = 0 THEN {HLL_RHO_BITS + 1}
        ELSE {HLL_RHO_BITS + 1} - length(ltrim(bin(w), '0')) END) AS m
  FROM br GROUP BY g, bucket
),
allregs AS (
  SELECT g, bucket, m FROM regs
  UNION ALL
  SELECT '__merged' AS g, bucket, MAX(m) AS m FROM regs GROUP BY bucket
),
sk AS (
  SELECT g, CAST(COUNT(*) AS BIGINT) AS n_buckets_used,
    CAST({HLL_M} - COUNT(*) AS DOUBLE)
      + list_sum(list(1.0 / CAST((CAST(1 AS BIGINT) << m) AS DOUBLE)
                      ORDER BY bucket)) AS s
  FROM allregs GROUP BY g
),
ex AS (
  SELECT g, CAST(COUNT(DISTINCT k) AS BIGINT) AS exact_distinct
  FROM ev GROUP BY g
  UNION ALL
  SELECT '__merged' AS g, CAST(COUNT(DISTINCT k) AS BIGINT) FROM ev
)
SELECT sk.g AS group_key, sk.n_buckets_used,
  {_SQL_HLL_EST} AS hll_estimate,
  ex.exact_distinct,
  CASE WHEN ex.exact_distinct > 0 THEN
    {_oracle_round6(f"ABS({_SQL_HLL_EST} - CAST(ex.exact_distinct AS DOUBLE)) / CAST(ex.exact_distinct AS DOUBLE)")}
  END AS rel_err
FROM sk JOIN ex ON sk.g = ex.g
ORDER BY group_key
"""


# ---------------------------------------------------------------------------
# salted skew join
# ---------------------------------------------------------------------------

SALT_BUCKETS = 8


def skew_join_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue per market segment through an EXPLICITLY SALTED
    orders⋈customer equi-join: orders carry ``salt = hash(o_orderkey)
    % 8`` and the customer side is exploded 8× with literal salts, so
    the join key becomes (custkey, salt) and a hot customer's rows
    spread over 8 reducers.

    Results are identical to the plain join — salting changes WHERE
    rows meet, never WHICH rows meet (the oracle is the unsalted SQL
    join; tests/test_analytics4.py also pins salted ≡ unsalted
    in-engine).  Cost model: the dim side pays S× replication — the
    right trade when the dim is small relative to the skewed fact
    (here 8×customer ≪ orders); for dim tables that fit in memory
    outright a broadcast join sidesteps skew entirely, so the salt
    pattern's real 100 TB use is MEDIUM dims (too big to broadcast,
    joined to a skewed fact).  Money math on the fixed-point cents
    path (relational._cents).
    """
    from .relational import _cents

    o = load_table(spark, sf_dir, "orders").select(
        "o_custkey",
        _cents("o_totalprice").alias("cents"),
        F.pmod(F.xxhash64("o_orderkey"), F.lit(SALT_BUCKETS)).alias("salt"),
    )
    c = (
        load_table(spark, sf_dir, "customer")
        .select("c_custkey", "c_mktsegment")
        .withColumn(
            "salt",
            F.explode(F.array(*[F.lit(s) for s in range(SALT_BUCKETS)])),
        )
    )
    n = F.count(F.lit(1))
    return (
        o.join(
            c,
            (o.o_custkey == c.c_custkey) & (o.salt == c.salt),
        )
        .groupBy("c_mktsegment")
        .agg(
            n.alias("n_orders"),
            (F.sum("cents").cast("double") / 100).alias("total_revenue"),
            F.round(F.sum("cents").cast("double") / 100 / n, 6).alias(
                "avg_order_value"
            ),
        )
        .orderBy("c_mktsegment")
    )


#: the ORACLE is the plain (unsalted) join — the whole point
AVG_ORDER_VALUE_6DP = _oracle_round6(
    "CAST(SUM(CAST(o.o_totalprice AS DECIMAL(38,4))) AS DOUBLE) / COUNT(*)"
)

ORACLE_SALTED_JOIN = f"""
SELECT c.c_mktsegment,
  COUNT(*) AS n_orders,
  CAST(SUM(CAST(o.o_totalprice AS DECIMAL(38,4))) AS DOUBLE) AS total_revenue,
  {AVG_ORDER_VALUE_6DP} AS avg_order_value
FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
GROUP BY c.c_mktsegment
ORDER BY c.c_mktsegment
"""


# ---------------------------------------------------------------------------
# equi-depth binning (exact global NTILE, scale-safe)
# ---------------------------------------------------------------------------

NTILE_K = 10
NTILE_RANGE_PARTS = 32


def global_rank_by_range(
    df: DataFrame, order_cols: list[str], parts: int = NTILE_RANGE_PARTS
) -> tuple[DataFrame, int]:
    """Exact global row_number over ``order_cols`` without a
    single-partition window: range-repartition on the keys (partition
    i's keys all sort before partition i+1's), pin the layout with a
    localCheckpoint (range boundaries are SAMPLED — two separate
    jobs over an unpinned plan could draw different boundaries; the
    checkpoint is lazy, so the full sizes aggregate right below is
    the job that materializes-and-pins it — one job, same guarantee,
    guide §1.2), then
    global rank = per-partition row_number + the broadcast cumulative
    offset of the partitions before it.  The offset table is
    #partitions rows — driver metadata, like ranking.py's schemes."""
    cols = [F.col(c) for c in order_cols]
    pinned = (
        df.repartitionByRange(parts, *cols)
        .withColumn("__pid", F.spark_partition_id())
        .localCheckpoint(eager=False)
    )
    sizes = {
        r["__pid"]: r["n"]
        for r in pinned.groupBy("__pid").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    offs, acc = {}, 0
    for pid in sorted(sizes):
        offs[pid] = acc
        acc += sizes[pid]
    off_col = F.coalesce(
        *[
            F.when(F.col("__pid") == pid, F.lit(off))
            for pid, off in sorted(offs.items())
        ]
    ) if offs else F.lit(0)
    from pyspark.sql import Window as W

    wl = W.partitionBy("__pid").orderBy(*cols)
    return (
        pinned.withColumn("__lr", F.row_number().over(wl))
        .withColumn("rank", (off_col + F.col("__lr")).cast("long"))
        .drop("__pid", "__lr")
    ), acc


def equidepth_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-depth (equal-count) binning of order totals: exact global
    NTILE(10) over (o_totalprice, o_orderkey) via
    :func:`global_rank_by_range` — the feature-discretization shape
    (decile features, calibration bins) that naive
    ``ntile().over(Window.orderBy(...))`` would funnel through ONE
    task at 100 TB.

    NTILE's exact ANSI rule, reproduced arithmetically from (rank, n):
    with q = n//k and r = n%k, the first r buckets take q+1 rows.  The
    oracle runs DuckDB's native NTILE — two independent codepaths, one
    semantics.  Per-bin money stats on the cents path.
    """
    from .relational import _cents

    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice"
    )
    ranked, n = global_rank_by_range(o, ["o_totalprice", "o_orderkey"])
    q, r = n // NTILE_K, n % NTILE_K
    cut = (q + 1) * r
    rk = F.col("rank")
    bucket = F.when(
        rk <= cut, F.floor((rk - 1) / F.lit(q + 1))
    ).otherwise(F.lit(r) + F.floor((rk - F.lit(cut) - 1) / F.lit(max(q, 1))))
    cnt = F.count(F.lit(1))
    return (
        ranked.withColumn("bin", (bucket + 1).cast("long"))
        .select("bin", "o_totalprice", _cents("o_totalprice").alias("cents"))
        .groupBy("bin")
        .agg(
            cnt.alias("n_orders"),
            F.min("o_totalprice").alias("min_price"),
            F.max("o_totalprice").alias("max_price"),
            F.round(F.sum("cents").cast("double") / 100 / cnt, 6).alias(
                "avg_price"
            ),
        )
        .orderBy("bin")
    )


ORACLE_EQUIDEPTH = f"""
WITH b AS (
  SELECT o_totalprice,
    ntile({NTILE_K}) OVER (ORDER BY o_totalprice, o_orderkey) AS bin
  FROM orders
)
SELECT CAST(bin AS BIGINT) AS bin,
  COUNT(*) AS n_orders,
  MIN(o_totalprice) AS min_price,
  MAX(o_totalprice) AS max_price,
  {_oracle_round6("CAST(SUM(CAST(o_totalprice AS DECIMAL(38,4))) AS DOUBLE) / COUNT(*)")} AS avg_price
FROM b GROUP BY bin ORDER BY bin
"""


# ---------------------------------------------------------------------------
# key-skew profiler
# ---------------------------------------------------------------------------

SKEW_KEYSPACES = (
    ("events", "user_id"),
    ("lineitem", "l_orderkey"),
    ("orders", "o_custkey"),
)


def skew_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-keyspace skew diagnostic: key/row counts, max and average
    per-key frequency, the skew ratio (max/avg) and the hottest key —
    the report that decides whether a join on that key needs the
    salted pattern / AQE skew split.  One hash aggregate per keyspace;
    the hottest key falls out of a lexicographic min-struct over
    (-count, key) — an aggregate, not a sort (ties break to the
    smallest key, as the oracle's ORDER BY cnt DESC, k LIMIT 1)."""
    from functools import reduce

    outs = []
    for table, key in SKEW_KEYSPACES:
        cnts = (
            load_table(spark, sf_dir, table)
            .select(F.col(key).alias("k"))
            .filter(F.col("k").isNotNull())
            .groupBy("k")
            .agg(F.count(F.lit(1)).alias("cnt"))
        )
        agg = cnts.agg(
            F.count(F.lit(1)).alias("n_keys"),
            F.sum("cnt").cast("long").alias("n_rows"),
            F.max("cnt").alias("max_cnt"),
            F.min(
                F.struct((-F.col("cnt")).alias("nc"), F.col("k").alias("k"))
            )["k"].alias("top_key"),
        )
        avg = F.round(F.col("n_rows").cast("double") / F.col("n_keys"), 6)
        outs.append(
            agg.select(
                F.lit(f"{table}.{key}").alias("keyspace"),
                "n_keys",
                "n_rows",
                "max_cnt",
                F.col("top_key").cast("string").alias("top_key"),
                avg.alias("avg_per_key"),
                F.round(F.col("max_cnt") / avg, 6).alias("skew_ratio"),
            )
        )
    return reduce(DataFrame.unionByName, outs).orderBy("keyspace")


def _sql_skew(table: str, key: str) -> str:
    return f"""
SELECT '{table}.{key}' AS keyspace, n_keys, n_rows, max_cnt,
  CAST(t.k AS VARCHAR) AS top_key,
  {_oracle_round6("CAST(n_rows AS DOUBLE) / n_keys")} AS avg_per_key,
  {_oracle_round6(f'max_cnt / {_oracle_round6("CAST(n_rows AS DOUBLE) / n_keys")}')} AS skew_ratio
FROM (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_keys, CAST(SUM(cnt) AS BIGINT) AS n_rows,
         CAST(MAX(cnt) AS BIGINT) AS max_cnt
  FROM (SELECT {key} AS k, COUNT(*) AS cnt FROM {table}
        WHERE {key} IS NOT NULL GROUP BY {key})
) s, (
  SELECT k FROM (SELECT {key} AS k, COUNT(*) AS cnt FROM {table}
                 WHERE {key} IS NOT NULL GROUP BY {key})
  ORDER BY cnt DESC, k LIMIT 1
) t"""


ORACLE_SKEW_PROFILE = (
    "\nUNION ALL\n".join(_sql_skew(t, k) for t, k in SKEW_KEYSPACES)
    + "\nORDER BY keyspace"
)


# ---------------------------------------------------------------------------
# entity resolution: blocking → verify → transitive closure → canonical
# ---------------------------------------------------------------------------


def entity_resolution_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity resolution over customer names: SymSpell
    deletion-neighborhood blocking + exact ≤1-edit verification
    (analytics2.fuzzy_name_pairs) yields the match edge set; star
    contraction (graphops.star_contract_labels) gives every customer
    its entity label (= component min id) — singletons INCLUDED, so
    the result is a full partition of the entity space with the label
    record's name as the cluster canonical.

    The match rule is name-edit-distance ≤ 1 AND market-segment
    agreement.  The second conjunct is what keeps transitive closure
    meaningful on templated key spaces: serial names chain
    ("…001"→"…002" is one edit), so a name-only rule collapses the
    whole table into one entity — the classic ER over-merge.  A second
    independent attribute breaks chains at every segment boundary
    while keeping genuine near-dup records (typo'd copies agree on
    their attributes) together.

    Scale shape: blocking is an equi-join on deletion keys (never
    names²), the segment check is a broadcast-sized rejoin on the pair
    ids, closure is the engine's one closure (the same as the near-dup
    clusters'): O(log² n) aggregate+join rounds until the edge set fits
    ``graphops.CLOSURE_LOCAL_EDGES`` and then one union-find task (the
    whole closure at sf0.1: 52k edges), and the canonical pick is
    a per-cluster conditional MAX — no sorts, no collects beyond the
    contraction checksums.  Oracle: recursive-CTE
    transitive closure over the identical pair SQL.
    """
    from .analytics2 import _fuzzy_pairs

    cust = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("node"),
        F.col("c_name").alias("name"),
        F.col("c_mktsegment").alias("seg"),
    )
    # the segment conjunct is part of the MATCH RULE, so it folds into
    # the blocking key (round 11 — the sf1 memory audit showed the
    # unblocked pair join as the repo's only spilling stage: 4.9 GB
    # spilled / 17.5 GB peak; segment-blocking removes the
    # cross-segment candidates outright instead of filtering them
    # after the shuffle, same final pairs by construction)
    pairs = _fuzzy_pairs(
        cust.select(F.col("node").alias("id"), F.col("name"), "seg"),
        block="seg",
    ).select(F.col("id1").alias("u"), F.col("id2").alias("v"))
    labels = star_contract_labels(cust.select("node"), pairs)
    return (
        labels.join(cust, "node")
        .groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n_records"),
            F.array_join(
                F.sort_array(F.collect_list("node")).cast("array<string>"), ","
            ).alias("member_ids"),
            F.max(
                F.when(F.col("node") == F.col("label"), F.col("name"))
            ).alias("canonical_name"),
        )
        .select(
            F.col("label").alias("entity_id"),
            "n_records",
            "member_ids",
            "canonical_name",
        )
        .orderBy("entity_id")
    )


#: pair SQL re-derived from analytics2.ORACLE_FUZZY (same keyed CTE),
#: closure via recursive min-label reachability seeded with EVERY
#: customer so singletons label themselves
ORACLE_ER_CLUSTERS = """
WITH RECURSIVE keyed AS (
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
),
pairs AS (
  SELECT DISTINCT a.id AS u, b.id AS v
  FROM keyed a JOIN keyed b ON a.key = b.key AND a.id < b.id
  JOIN customer ca ON a.id = ca.c_custkey
  JOIN customer cb ON b.id = cb.c_custkey
  WHERE levenshtein(a.name, b.name) <= 1
    AND ca.c_mktsegment IS NOT DISTINCT FROM cb.c_mktsegment
),
und AS (
  SELECT u, v FROM pairs UNION SELECT v AS u, u AS v FROM pairs
),
reach(node, label) AS (
  SELECT c_custkey AS node, c_custkey AS label FROM customer
  UNION
  SELECT u.u, r.label FROM und u JOIN reach r ON u.v = r.node
),
lab AS (SELECT node, MIN(label) AS label FROM reach GROUP BY node)
SELECT l.label AS entity_id,
  CAST(COUNT(*) AS BIGINT) AS n_records,
  array_to_string(list_sort(list(l.node)), ',') AS member_ids,
  MAX(CASE WHEN l.node = l.label THEN c.c_name END) AS canonical_name
FROM lab l JOIN customer c ON l.node = c.c_custkey
GROUP BY l.label ORDER BY entity_id
"""


# ---------------------------------------------------------------------------
# HLL sketch algebra: pairwise intersection estimation
# ---------------------------------------------------------------------------


def hll_intersection_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise distinct-user OVERLAP between event types, estimated
    purely from HLL registers by inclusion-exclusion:
    ``est(A∩B) = est(A) + est(B) - est(A∪B)``, where the union sketch
    is the register-wise MAX — the algebra a planner uses to size a
    join (or a curation pipeline uses to size a source overlap)
    WITHOUT touching raw data twice.  Exact intersections computed
    alongside for the error audit.

    Scale shape: sketches are built by the same one-pass (group,
    bucket) hash aggregate as :func:`hll_distinct_users`; everything
    after operates on O(groups × 256) register rows — pair work is
    (chosen pairs) × 256, never data-sized.  Raw estimator by the same
    documented contract (no range corrections); inclusion-exclusion on
    raw estimates can go negative on tiny overlaps — that too is part
    of the contract (clamp at read time in production).

    Cross-engine exactness: same md5-parity hash / shift-exact 2^-m
    terms / sorted-fold sums as hll_distinct_users; the three
    estimates are computed UNROUNDED on both engines, combined, then
    rounded once for display.
    """
    ev = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("user_id").isNotNull())
        .select(
            F.coalesce(F.col("event_type"), F.lit("none")).alias("g"),
            F.col("user_id").cast("string").alias("k"),
        )
    )
    h = _hll_hash(F.col("k"))
    # integer shift, not double division: floor(h / 2^P) via / promotes
    # the 60-bit hash to double (53-bit mantissa) and is off-by-one for
    # ~17% of hashes; shiftright is exact and matches the oracle's h // m
    w = F.shiftright(h, HLL_P)
    rho = F.when(w == 0, F.lit(HLL_RHO_BITS + 1)).otherwise(
        F.lit(HLL_RHO_BITS + 1) - F.length(F.bin(w))
    )
    regs = (
        ev.select("g", (h % HLL_M).alias("bucket"), rho.alias("rho"))
        .groupBy("g", "bucket")
        .agg(F.max("rho").alias("m"))
    )

    types = regs.select("g").distinct()
    pairs = (
        types.select(F.col("g").alias("ga"))
        .join(types.select(F.col("g").alias("gb")), F.col("ga") < F.col("gb"))
    )

    term = F.lit(1.0) / F.expr(
        "CAST(shiftleft(CAST(1 AS BIGINT), CAST(m AS INT)) AS DOUBLE)"
    )

    def sketch_s(r: DataFrame, keys: list[str]) -> DataFrame:
        """(keys…, s) with s = (256 - used) + sorted fold of 2^-m."""
        return (
            r.select(*keys, "bucket", term.alias("term"))
            .groupBy(*keys)
            .agg(
                F.count(F.lit(1)).alias("used"),
                _sorted_fold_sum("bucket", "term").alias("fold"),
            )
            .select(
                *keys,
                (
                    (F.lit(HLL_M) - F.col("used")).cast("double") + F.col("fold")
                ).alias("s"),
            )
        )

    est = F.lit(HLL_ALPHA) * F.lit(float(HLL_M * HLL_M))
    singles = sketch_s(regs, ["g"]).select("g", (est / F.col("s")).alias("e"))

    ua = pairs.join(regs, pairs.ga == regs.g).select("ga", "gb", "bucket", "m")
    ub = pairs.join(regs, pairs.gb == regs.g).select("ga", "gb", "bucket", "m")
    union_regs = (
        ua.unionByName(ub).groupBy("ga", "gb", "bucket").agg(F.max("m").alias("m"))
    )
    unions = sketch_s(union_regs, ["ga", "gb"]).select(
        "ga", "gb", (est / F.col("s")).alias("eu")
    )

    dk = ev.distinct()
    exact = (
        dk.select(F.col("g").alias("ga"), "k")
        .join(dk.select(F.col("g").alias("gb"), "k"), "k")
        .filter(F.col("ga") < F.col("gb"))
        .groupBy("ga", "gb")
        .agg(F.countDistinct("k").alias("exact_intersection"))
    )

    return (
        unions.join(singles.select(F.col("g").alias("ga"), F.col("e").alias("ea")), "ga")
        .join(singles.select(F.col("g").alias("gb"), F.col("e").alias("eb")), "gb")
        .join(exact, ["ga", "gb"], "left")
        .select(
            F.col("ga").alias("type_a"),
            F.col("gb").alias("type_b"),
            F.round("ea", 6).alias("est_a"),
            F.round("eb", 6).alias("est_b"),
            F.round("eu", 6).alias("est_union"),
            F.round(F.col("ea") + F.col("eb") - F.col("eu"), 6).alias(
                "est_intersection"
            ),
            F.coalesce("exact_intersection", F.lit(0)).alias("exact_intersection"),
        )
        .orderBy("type_a", "type_b")
    )


_SQL_HLL_E = (
    f"(CAST({HLL_ALPHA!r} AS DOUBLE) * CAST({float(HLL_M * HLL_M)!r} AS DOUBLE))"
)

ORACLE_HLL_INTERSECTION = f"""
WITH ev AS (
  SELECT coalesce(event_type, 'none') AS g, CAST(user_id AS VARCHAR) AS k
  FROM events WHERE user_id IS NOT NULL
),
hashed AS (
  SELECT g, k,
    CAST(('0x' || substr(md5('hll#' || k), 1, 15)) AS BIGINT) AS h
  FROM ev
),
regs AS (
  SELECT g, h % {HLL_M} AS bucket,
    MAX(CASE WHEN h // {HLL_M} = 0 THEN {HLL_RHO_BITS + 1}
        ELSE {HLL_RHO_BITS + 1} - length(ltrim(bin(h // {HLL_M}), '0')) END) AS m
  FROM hashed GROUP BY g, h % {HLL_M}
),
singles AS (
  SELECT g, {_SQL_HLL_E} / (
    CAST({HLL_M} - COUNT(*) AS DOUBLE)
    + list_sum(list(1.0 / CAST((CAST(1 AS BIGINT) << m) AS DOUBLE)
                    ORDER BY bucket))) AS e
  FROM regs GROUP BY g
),
prs AS (
  SELECT a.g AS ga, b.g AS gb
  FROM (SELECT DISTINCT g FROM regs) a, (SELECT DISTINCT g FROM regs) b
  WHERE a.g < b.g
),
union_regs AS (
  SELECT ga, gb, bucket, MAX(m) AS m FROM (
    SELECT p.ga, p.gb, r.bucket, r.m FROM prs p JOIN regs r ON r.g = p.ga
    UNION ALL
    SELECT p.ga, p.gb, r.bucket, r.m FROM prs p JOIN regs r ON r.g = p.gb
  ) GROUP BY ga, gb, bucket
),
unions AS (
  SELECT ga, gb, {_SQL_HLL_E} / (
    CAST({HLL_M} - COUNT(*) AS DOUBLE)
    + list_sum(list(1.0 / CAST((CAST(1 AS BIGINT) << m) AS DOUBLE)
                    ORDER BY bucket))) AS eu
  FROM union_regs GROUP BY ga, gb
),
dk AS (SELECT DISTINCT g, k FROM ev),
exact AS (
  SELECT a.g AS ga, b.g AS gb, CAST(COUNT(DISTINCT a.k) AS BIGINT) AS exact_intersection
  FROM dk a JOIN dk b ON a.k = b.k AND a.g < b.g
  GROUP BY a.g, b.g
)
SELECT u.ga AS type_a, u.gb AS type_b,
  {_oracle_round6("sa.e")} AS est_a,
  {_oracle_round6("sb.e")} AS est_b,
  {_oracle_round6("u.eu")} AS est_union,
  {_oracle_round6("sa.e + sb.e - u.eu")} AS est_intersection,
  COALESCE(x.exact_intersection, 0) AS exact_intersection
FROM unions u
JOIN singles sa ON sa.g = u.ga
JOIN singles sb ON sb.g = u.gb
LEFT JOIN exact x ON x.ga = u.ga AND x.gb = u.gb
ORDER BY type_a, type_b
"""


# ---------------------------------------------------------------------------
# winsorized robust stats (exact distributed per-group percentiles)
# ---------------------------------------------------------------------------

WINS_LO = 0.01
WINS_HI = 0.99
WINS_RANGE_PARTS = 32


def winsorized_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type winsorized (p01/p99-clamped) mean and std of
    ``value`` — the robust feature-scaling pass a training pipeline
    runs before normalizing model inputs, with the percentiles
    computed EXACTLY and DISTRIBUTED: range-repartition on (group,
    value), pinned per-partition row_number + broadcast cumulative
    offsets give every row its exact per-group rank, and the p01/p99
    values are picked at their interpolation ranks and lerped — no
    per-group ``collect_list`` (a corpus-sized array for corpus-sized
    groups) and no single-partition window.

    Cross-engine exactness: the interpolation fraction is computed
    once (driver-side, from the per-group count — a #groups-sized
    scalar, the sanctioned pattern) and embedded as the same IEEE
    double the oracle's ``(m-1)*q - FLOOR((m-1)*q)`` evaluates to;
    the lerp, clamp compare, sorted-fold sums and final
    ``round(·, 6)`` run the identical op order on both engines
    (sqrt is IEEE-exact on both).
    """
    ev = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("value").isNotNull())
        .select(
            F.coalesce(F.col("event_type"), F.lit("none")).alias("g"),
            "value",
            "event_id",
        )
    )
    pinned = (
        ev.repartitionByRange(
            WINS_RANGE_PARTS, F.col("g"), F.col("value"), F.col("event_id")
        )
        .withColumn("__pid", F.spark_partition_id())
        # lazy: the sizes aggregate below materializes-and-pins it
        .localCheckpoint(eager=False)
    )
    sizes = (
        pinned.groupBy("__pid", "g").agg(F.count(F.lit(1)).alias("n")).collect()
    )
    per_g: dict[str, list[tuple[int, int]]] = {}
    for r in sizes:
        per_g.setdefault(r["g"], []).append((r["__pid"], r["n"]))
    off_rows, tgt_rows = [], []
    for g, lst in per_g.items():
        acc = 0
        for pid, n in sorted(lst):
            off_rows.append((g, pid, acc))
            acc += n
        m = acc
        row = [g, m]
        for q in (WINS_LO, WINS_HI):
            h = (m - 1) * q
            lo = int(h)
            frac = h - lo
            hi = lo if frac == 0.0 else lo + 1
            row += [lo + 1, hi + 1, frac]  # 1-based ranks
        tgt_rows.append(tuple(row))
    offs = spark.createDataFrame(off_rows, "g string, __pid int, off long")
    tgts = spark.createDataFrame(
        tgt_rows,
        "g string, m long, lo01 long, hi01 long, f01 double, "
        "lo99 long, hi99 long, f99 double",
    )

    from pyspark.sql import Window as W

    wl = W.partitionBy("__pid", "g").orderBy("value", "event_id")
    ranked = (
        pinned.withColumn("__lr", F.row_number().over(wl))
        .join(F.broadcast(offs), ["g", "__pid"])
        .select("g", "value", (F.col("off") + F.col("__lr")).alias("rn"))
    )

    def pick(rank_col: str) -> Column:
        return F.max(F.when(F.col("rn") == F.col(rank_col), F.col("value")))

    pcts = (
        ranked.join(F.broadcast(tgts), "g")
        .filter(
            (F.col("rn") == F.col("lo01"))
            | (F.col("rn") == F.col("hi01"))
            | (F.col("rn") == F.col("lo99"))
            | (F.col("rn") == F.col("hi99"))
        )
        .groupBy("g", "m", "f01", "f99")
        .agg(
            pick("lo01").alias("v01l"),
            pick("hi01").alias("v01h"),
            pick("lo99").alias("v99l"),
            pick("hi99").alias("v99h"),
        )
        .select(
            "g",
            "m",
            (F.col("v01l") + F.col("f01") * (F.col("v01h") - F.col("v01l"))).alias(
                "p01"
            ),
            (F.col("v99l") + F.col("f99") * (F.col("v99h") - F.col("v99l"))).alias(
                "p99"
            ),
        )
    )

    wcol = (
        F.when(F.col("value") < F.col("p01"), F.col("p01"))
        .when(F.col("value") > F.col("p99"), F.col("p99"))
        .otherwise(F.col("value"))
    )
    from .graphops import _sorted_fold_sum

    n = F.count(F.lit(1))
    s = _sorted_fold_sum("w", "wv")  # wv == w; distinct struct field names
    ss = _sorted_fold_sum("w", "w2")
    return (
        ev.join(F.broadcast(pcts), "g")
        .select(
            "g",
            "value",
            "p01",
            "p99",
            wcol.alias("w"),
            wcol.alias("wv"),
            (wcol * wcol).alias("w2"),
        )
        .groupBy("g")
        .agg(
            n.cast("long").alias("n_values"),
            F.round(F.min("p01"), 6).alias("p01"),
            F.round(F.min("p99"), 6).alias("p99"),
            F.coalesce(
                F.sum(F.when(F.col("value") < F.col("p01"), 1)), F.lit(0)
            )
            .cast("long")
            .alias("n_clamped_low"),
            F.coalesce(
                F.sum(F.when(F.col("value") > F.col("p99"), 1)), F.lit(0)
            )
            .cast("long")
            .alias("n_clamped_high"),
            F.round(s / n, 6).alias("wins_mean"),
            F.round(
                F.sqrt(F.greatest((ss - s * s / n) / n, F.lit(0.0))), 6
            ).alias("wins_std"),
        )
        .select(
            F.col("g").alias("event_type"),
            "n_values",
            "p01",
            "p99",
            "n_clamped_low",
            "n_clamped_high",
            "wins_mean",
            "wins_std",
        )
        .orderBy("event_type")
    )


def _sql_wins_lerp(q: str) -> str:
    """v[lo] + frac*(v[hi]-v[lo]) at quantile q over per-group rn/m
    (rn 1-based) — the identical IEEE tree the Spark side evaluates
    with its driver-computed fraction.

    The quantile literal MUST be cast to DOUBLE: DuckDB types a bare
    ``0.99`` as DECIMAL, making ``(m-1)*0.99 - FLOOR(...)`` an EXACT
    0.95 while the Spark driver's Python ``(m-1)*q`` carries the IEEE
    representation error (0.9500000000000002 at m=6) — a fuzz-found
    1e-6 divergence in the lerped percentile and everything downstream
    of it (the clamped mean crossed a 6-dp HALF boundary)."""
    qd = f"CAST({q} AS DOUBLE)"
    return (
        f"(MAX(CASE WHEN rn - 1 = CAST(FLOOR((m-1)*{qd}) AS BIGINT) THEN value END)"
        f" + ((m-1)*{qd} - FLOOR((m-1)*{qd}))"
        f" * (MAX(CASE WHEN rn - 1 = CAST(CEIL((m-1)*{qd}) AS BIGINT) THEN value END)"
        f" - MAX(CASE WHEN rn - 1 = CAST(FLOOR((m-1)*{qd}) AS BIGINT) THEN value END)))"
    )


ORACLE_WINSORIZED = f"""
WITH nn AS (
  SELECT coalesce(event_type, 'none') AS g, value,
    ROW_NUMBER() OVER (PARTITION BY coalesce(event_type, 'none')
                       ORDER BY value, event_id) AS rn,
    COUNT(*) OVER (PARTITION BY coalesce(event_type, 'none')) AS m
  FROM events WHERE value IS NOT NULL
),
p AS (
  SELECT g, m,
    {_sql_wins_lerp(str(WINS_LO))} AS p01,
    {_sql_wins_lerp(str(WINS_HI))} AS p99
  FROM nn GROUP BY g, m
),
wv AS (
  SELECT nn.g, nn.value, p.p01, p.p99,
    CASE WHEN nn.value < p.p01 THEN p.p01
         WHEN nn.value > p.p99 THEN p.p99
         ELSE nn.value END AS w
  FROM nn JOIN p USING (g)
)
SELECT g AS event_type,
  CAST(COUNT(*) AS BIGINT) AS n_values,
  {_oracle_round6("MIN(p01)")} AS p01,
  {_oracle_round6("MIN(p99)")} AS p99,
  CAST(COALESCE(SUM(CASE WHEN value < p01 THEN 1 END), 0) AS BIGINT) AS n_clamped_low,
  CAST(COALESCE(SUM(CASE WHEN value > p99 THEN 1 END), 0) AS BIGINT) AS n_clamped_high,
  {_oracle_round6("list_sum(list(w ORDER BY w)) / COUNT(*)")} AS wins_mean,
  {_oracle_round6('''sqrt(GREATEST(
    (list_sum(list(w * w ORDER BY w))
     - list_sum(list(w ORDER BY w)) * list_sum(list(w ORDER BY w)) / COUNT(*))
    / COUNT(*), 0.0))''')} AS wins_std
FROM wv GROUP BY g ORDER BY event_type
"""


# ---------------------------------------------------------------------------
# deterministic negative sampling (contrastive training pairs)
# ---------------------------------------------------------------------------

NEG_K = 5
NEG_ANCHOR_MOD = 20


def negative_sampling_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K deterministic NEGATIVE parts per anchor customer — parts the
    customer never ordered, drawn in a fixed md5-hash order — the
    contrastive-pair generation step of a retrieval/recsys training
    build, reproducible run-to-run by construction (no RNG state).

    Scale shape: the candidate pool is the global top
    ``K + max_positives`` parts in hash order — a driver-bounded
    BROADCAST list guaranteed to contain K non-positives for every
    anchor (an anchor can exclude at most max_positives of it), so
    per-anchor work is O(pool), total anchors × pool — never
    anchors × parts.  The shared pool means anchors share negatives
    (in-batch-negative style); for per-anchor diversity, salt the
    hash with the anchor key at the cost of a per-anchor ranking
    pass.  ``max_positives`` is a 1-row aggregate (sanctioned driver
    scalar; the oracle computes it as a scalar subquery).
    """
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    pos = (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .select(F.col("o_custkey").alias("anchor_id"), F.col("l_partkey").alias("p"))
        .distinct()
    )
    max_pos = (
        pos.groupBy("anchor_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .agg(F.max("n"))
        .collect()[0][0]
        or 0
    )
    pool_size = NEG_K + int(max_pos)

    h = F.conv(
        F.substring(
            F.md5(
                F.concat(F.lit("neg#"), F.col("p_partkey").cast("string")).cast(
                    "binary"
                )
            ),
            1,
            15,
        ),
        16,
        10,
    ).cast("long")
    from pyspark.sql import Window as W

    # global top-(pool_size) via sort+limit = TakeOrderedAndProject —
    # a distributed per-partition top-k + driver merge, NOT a
    # single-partition row_number window over every part
    pool = (
        load_table(spark, sf_dir, "part")
        .select("p_partkey", h.alias("h"))
        .orderBy("h", "p_partkey")
        .limit(pool_size)
    )

    anchors = (
        load_table(spark, sf_dir, "customer")
        .filter(F.col("c_custkey") % NEG_ANCHOR_MOD == 0)
        .select(F.col("c_custkey").alias("anchor_id"))
    )
    cand = (
        anchors.join(F.broadcast(pool))
        .join(
            pos.withColumnRenamed("p", "p_partkey"),
            ["anchor_id", "p_partkey"],
            "left_anti",
        )
    )
    wneg = W.partitionBy("anchor_id").orderBy("h", "p_partkey")
    return (
        cand.withColumn("neg_rank", F.row_number().over(wneg))
        .filter(F.col("neg_rank") <= NEG_K)
        .select(
            "anchor_id", F.col("neg_rank").cast("long").alias("neg_rank"), "p_partkey"
        )
        .orderBy("anchor_id", "neg_rank")
    )


ORACLE_NEGATIVE_SAMPLING = f"""
WITH pos AS (
  SELECT DISTINCT o.o_custkey AS anchor_id, li.l_partkey AS p
  FROM orders o JOIN lineitem li ON o.o_orderkey = li.l_orderkey
),
mp AS (
  SELECT COALESCE(MAX(n), 0) AS max_pos FROM (
    SELECT COUNT(*) AS n FROM pos GROUP BY anchor_id
  )
),
pool AS (
  SELECT p_partkey, h FROM (
    SELECT p_partkey,
      CAST(('0x' || substr(md5('neg#' || CAST(p_partkey AS VARCHAR)), 1, 15)) AS BIGINT) AS h
    FROM part
  ) ORDER BY h, p_partkey
  LIMIT (SELECT {NEG_K} + max_pos FROM mp)
),
anchors AS (
  SELECT c_custkey AS anchor_id FROM customer WHERE c_custkey % {NEG_ANCHOR_MOD} = 0
),
cand AS (
  SELECT a.anchor_id, pl.p_partkey, pl.h
  FROM anchors a CROSS JOIN pool pl
  LEFT JOIN pos ON pos.anchor_id = a.anchor_id AND pos.p = pl.p_partkey
  WHERE pos.p IS NULL
)
SELECT anchor_id, CAST(neg_rank AS BIGINT) AS neg_rank, p_partkey FROM (
  SELECT anchor_id, p_partkey,
    row_number() OVER (PARTITION BY anchor_id ORDER BY h, p_partkey) AS neg_rank
  FROM cand
) WHERE neg_rank <= {NEG_K}
ORDER BY anchor_id, neg_rank
"""


# ---------------------------------------------------------------------------
# per-column NDV profile (planner statistics from HLL sketches)
# ---------------------------------------------------------------------------

#: int64/string columns cast to string identically on both engines;
#: doubles and timestamps need per-type canonicalizers before hashing
#: (Spark's and DuckDB's default double→string reprs differ), so a
#: deployment profiling ALL columns adds those per type — the sketch
#: machinery is type-agnostic once the key is a canonical string.
NDV_COLUMNS = ("o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority")


def column_ndv_sketches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-column distinct-value (NDV) estimates for the orders table
    from 256-register HLL sketches built in ONE scan — the statistics
    a cost-based planner keeps per column (join-size and
    aggregate-cardinality estimation), and the mergeable form a lake
    keeps per partition (file-level NDV sketches roll up to any scan
    subset by register-wise MAX).

    One scan: each row explodes to (column, value) entries, then the
    usual (column, bucket) hash aggregate — ≤ 256 partials per column
    per task.  Exact NDV alongside for the audit; raw estimator (the
    documented contract; production planners apply the standard
    small/large-range corrections at read time).
    """
    o = load_table(spark, sf_dir, "orders")
    un = (
        o.select(
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(c).alias("col"),
                            F.col(c).cast("string").alias("k"),
                        )
                        for c in NDV_COLUMNS
                    ]
                )
            ).alias("s")
        )
        .select("s.col", "s.k")
        .filter(F.col("k").isNotNull())
    )
    h = _hll_hash(F.col("k"))
    # integer shift, not double division: floor(h / 2^P) via / promotes
    # the 60-bit hash to double (53-bit mantissa) and is off-by-one for
    # ~17% of hashes; shiftright is exact and matches the oracle's h // m
    w = F.shiftright(h, HLL_P)
    rho = F.when(w == 0, F.lit(HLL_RHO_BITS + 1)).otherwise(
        F.lit(HLL_RHO_BITS + 1) - F.length(F.bin(w))
    )
    regs = (
        un.select("col", (h % HLL_M).alias("bucket"), rho.alias("rho"))
        .groupBy("col", "bucket")
        .agg(F.max("rho").alias("m"))
    )
    term = F.lit(1.0) / F.expr(
        "CAST(shiftleft(CAST(1 AS BIGINT), CAST(m AS INT)) AS DOUBLE)"
    )
    sk = (
        regs.select("col", "bucket", term.alias("term"))
        .groupBy("col")
        .agg(
            F.count(F.lit(1)).alias("n_buckets_used"),
            _sorted_fold_sum("bucket", "term").alias("fold"),
        )
        .select(
            "col",
            "n_buckets_used",
            (
                (F.lit(HLL_M) - F.col("n_buckets_used")).cast("double")
                + F.col("fold")
            ).alias("s"),
        )
    )
    exact = un.groupBy("col").agg(F.countDistinct("k").alias("exact_ndv"))
    est = F.round(F.lit(HLL_ALPHA) * F.lit(float(HLL_M * HLL_M)) / F.col("s"), 6)
    return (
        sk.join(exact, "col")
        .select(
            F.col("col").alias("column_name"),
            "n_buckets_used",
            est.alias("ndv_estimate"),
            "exact_ndv",
        )
        .orderBy("column_name")
    )


ORACLE_COLUMN_NDV = f"""
WITH un AS (
  {" UNION ALL ".join(
      f"SELECT '{c}' AS col, CAST({c} AS VARCHAR) AS k FROM orders WHERE {c} IS NOT NULL"
      for c in NDV_COLUMNS
  )}
),
hashed AS (
  SELECT col, k,
    CAST(('0x' || substr(md5('hll#' || k), 1, 15)) AS BIGINT) AS h
  FROM un
),
regs AS (
  SELECT col, h % {HLL_M} AS bucket,
    MAX(CASE WHEN h // {HLL_M} = 0 THEN {HLL_RHO_BITS + 1}
        ELSE {HLL_RHO_BITS + 1} - length(ltrim(bin(h // {HLL_M}), '0')) END) AS m
  FROM hashed GROUP BY col, h % {HLL_M}
),
sk AS (
  SELECT col, CAST(COUNT(*) AS BIGINT) AS n_buckets_used,
    CAST({HLL_M} - COUNT(*) AS DOUBLE)
      + list_sum(list(1.0 / CAST((CAST(1 AS BIGINT) << m) AS DOUBLE)
                      ORDER BY bucket)) AS s
  FROM regs GROUP BY col
),
ex AS (
  SELECT col, CAST(COUNT(DISTINCT k) AS BIGINT) AS exact_ndv FROM un GROUP BY col
)
SELECT sk.col AS column_name, sk.n_buckets_used,
  {_oracle_round6(f"{_SQL_HLL_E} / sk.s")} AS ndv_estimate,
  ex.exact_ndv
FROM sk JOIN ex ON sk.col = ex.col
ORDER BY column_name
"""


#: Registered queries, each mapped to its DuckDB oracle (see __spark_entry__).
QUERIES = {
    hll_distinct_users: ORACLE_HLL,
    skew_join_salted: ORACLE_SALTED_JOIN,
    equidepth_bins: ORACLE_EQUIDEPTH,
    skew_profile: ORACLE_SKEW_PROFILE,
    entity_resolution_clusters: ORACLE_ER_CLUSTERS,
    hll_intersection_estimate: ORACLE_HLL_INTERSECTION,
    winsorized_stats: ORACLE_WINSORIZED,
    negative_sampling_pairs: ORACLE_NEGATIVE_SAMPLING,
    column_ndv_sketches: ORACLE_COLUMN_NDV,
}
