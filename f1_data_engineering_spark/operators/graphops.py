"""Graph analytics over the TPC-H trade graph: fixed-iteration
PageRank and degree-oriented triangle counting.

Beyond-reference scope (the reference's eager pandas layer has no
graph shapes); these are the two canonical "iterate / enumerate over
an edge list" operators a 100 TB relational lake still needs — entity
importance (PageRank over who-buys-from-whom) and community density
(triangles).  The graph here is the **nation-level trade graph**:
edge ``cust_nation -> supp_nation`` weighted by the number of
lineitems a customer of the source nation bought from a supplier of
the destination nation.

Scale design:

* **Graph build** is two broadcast-dimension joins (customer and
  supplier keyed maps are dim-sized) + one hash aggregate on the
  (src, dst) pair — the only big shuffle carries 16-byte key pairs,
  map-side combined.
* **PageRank** keeps node state as a DataFrame (NEVER collected):
  each iteration is edges ⋈ ranks on src (one hash join keyed like
  the previous iteration — the exchange layout is reusable), a
  groupBy dst, and a left join back to the node spine.  Per-iteration
  cost ∝ |E| shuffled bytes, state ∝ |V|; at 100 TB the nation graph
  is trivially small, and the same plan holds for a billion-node
  graph because nothing is driver-materialized.  Iterations are fixed
  (``PR_ITERS``) so the DuckDB oracle can unroll the recurrence into
  one CTE chain per iteration.
* **FP parity** for the rank sums: every order-sensitive double sum
  (inflow per dst, dangling mass) is a LEFT-TO-RIGHT fold over the
  contribution list sorted by source node — Spark folds
  ``array_sort(collect_list(struct(src, contrib)))``, DuckDB
  ``list_sum(list(contrib ORDER BY src))`` — so both engines add the
  same doubles in the same order and the 10-iteration fixpoint is
  bit-identical (same trick as the cosine folds in similarity.py).
* **Triangles** use the classic degree-orientation: each undirected
  edge points from its (degree, id)-smaller endpoint to the larger,
  so every triangle is counted exactly once as an oriented wedge
  (u→v, u→w, v<w ordering implied by orientation) closed by the
  oriented edge (v→w).  The wedge join fans out by out-degree, which
  orientation bounds by O(√|E|) — the standard distributed triangle
  bound; all joins are equi-joins on node ids.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from ..functions.text import memo_col
from ..sources.registry import load_table

__all__ = [
    "pagerank_nations",
    "triangle_count_trade",
    "bfs_hops_trade",
    "cc_star_contraction",
    "sssp_trade_costs",
]

PR_ITERS = 10
PR_DAMPING = 0.85  # exactly representable? 0.85 is not exact in binary,
# but both engines parse the literal to the same nearest double, so the
# arithmetic trees still match bit-for-bit.


def _trade_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directed weighted edges cust_nation -> supp_nation.

    lineitem ⋈ orders(broadcastable at dim granularity? orders is a
    fact — join on l_orderkey is the one fact-fact shuffle) ⋈ customer
    ⋈ supplier; customer/supplier are broadcast dims.  Output is at
    most |nations|² rows after the map-side-combined count.
    """
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    s = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .groupBy(
            F.col("c_nationkey").alias("src"), F.col("s_nationkey").alias("dst")
        )
        .agg(F.count(F.lit(1)).alias("w"))
    )


_SQL_EDGES = """
SELECT c.c_nationkey AS src, s.s_nationkey AS dst, COUNT(*) AS w
FROM lineitem l
JOIN orders o ON l.l_orderkey = o.o_orderkey
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN supplier s ON l.l_suppkey = s.s_suppkey
GROUP BY 1, 2
"""


@memo_col
def _sorted_fold_sum(order_col: str, value_col: str) -> Column:
    """Deterministic double sum: left fold over values sorted by
    ``order_col`` (parity twin of DuckDB ``list_sum(list(v ORDER BY o))``).
    memo_col: rebuilt per PageRank iteration otherwise (~130 py4j round
    trips each) — the tree is constant per (order, value) name pair."""
    return F.aggregate(
        F.transform(
            F.array_sort(F.collect_list(F.struct(order_col, value_col))),
            lambda x: x[value_col],
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def pagerank_nations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``PR_ITERS`` fixed iterations of damped PageRank over the
    nation trade graph; returns every nation with its rank and
    position.

    r_{k+1}(v) = (1-d)/N + d·(Σ_{(u,v)∈E} r_k(u)·w(u,v)/out(u)
                              + dangling_k/N)

    The dangling-mass scalar is a 1-row aggregate crossJoined in
    (broadcast, the sanctioned scalar pattern).  State stays
    distributed; lineage depth is ``PR_ITERS`` joins over a
    25-row state — checkpoint per iteration when |V| is large (see
    dedup_clusters for the localCheckpoint loop pattern).
    """
    nation = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("node"), "n_name"
    )
    n_nodes = nation.count()  # graph metadata, dim-sized by construction

    edges = _trade_edges(spark, sf_dir)
    out = edges.groupBy("src").agg(F.sum("w").alias("out_w"))
    # localCheckpoint truncates lineage: ``ranks`` feeds BOTH the
    # dangling-mass and the inflow branch each iteration, so without
    # truncation the logical plan doubles per iteration (2^ITERS copies
    # of the 4-table edge build — Catalyst stack-overflows around 10).
    # The checkpointed state is |V|-sized (nation granularity here);
    # at billion-node scale swap in reliable checkpoint() to HDFS.
    edges = edges.join(out, "src").select(
        "src",
        "dst",
        (F.col("w").cast("double") / F.col("out_w").cast("double")).alias("s"),
    ).localCheckpoint(eager=True)
    dangling = nation.join(edges.select("src"), nation.node == F.col("src"), "left_anti")

    # teleport derived from the damping constant so the two can never
    # desynchronize; NB in IEEE 1-0.85 is 0.15000000000000002 (not the
    # literal-0.15 double) — the oracle f-string interpolates the same
    # Python-computed value, keeping both engines in lockstep
    base = F.lit(1.0 - PR_DAMPING) / F.lit(float(n_nodes))
    ranks = nation.select("node", (F.lit(1.0) / F.lit(float(n_nodes))).alias("r"))

    for _ in range(PR_ITERS):
        dm = (
            dangling.join(ranks, "node")
            .agg(F.coalesce(_sorted_fold_sum("node", "r"), F.lit(0.0)).alias("dm"))
        )
        inflow = (
            edges.join(ranks, edges.src == ranks.node)
            .select("dst", "src", (F.col("r") * F.col("s")).alias("contrib"))
            .groupBy("dst")
            .agg(_sorted_fold_sum("src", "contrib").alias("infl"))
        )
        ranks = (
            nation.select("node")
            .join(inflow, nation.node == inflow.dst, "left")
            .crossJoin(F.broadcast(dm))
            .select(
                "node",
                (
                    base
                    + F.lit(PR_DAMPING)
                    * (
                        F.coalesce(F.col("infl"), F.lit(0.0))
                        + F.col("dm") / F.lit(float(n_nodes))
                    )
                ).alias("r"),
            )
            .localCheckpoint(eager=False)
        )

    pos = F.row_number().over(W.orderBy(F.col("_key").desc(), F.col("node")))
    return (
        ranks.join(F.broadcast(nation), "node")
        .select(
            "node",
            "n_name",
            F.round("r", 6).alias("pagerank"),
            F.round("r", 9).alias("_key"),
        )
        .withColumn("position", pos.cast("long"))
        .select("node", "n_name", "pagerank", "position")
        .orderBy("position")
    )


def _oracle_pagerank() -> str:
    """Unrolled CTE chain — one (dm, inflow, rank) stage per iteration."""
    # shared CTEs are MATERIALIZED: the unrolled iteration chain
    # references them 10+ times, and inlining would re-open the base
    # parquet per reference (fd exhaustion on the 4-table edge scan)
    parts = [
        f"WITH edges_raw AS MATERIALIZED ({_SQL_EDGES}),",
        "nodes AS MATERIALIZED (SELECT n_nationkey AS node, n_name FROM nation),",
        "nn AS MATERIALIZED (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM nodes),",
        """edges AS MATERIALIZED (
  SELECT src, dst, CAST(w AS DOUBLE) / CAST(out_w AS DOUBLE) AS s
  FROM (SELECT *, SUM(w) OVER (PARTITION BY src) AS out_w FROM edges_raw)
),""",
        """dangling AS MATERIALIZED (
  SELECT node FROM nodes WHERE node NOT IN (SELECT src FROM edges)
),""",
        "r0 AS (SELECT node, 1.0 / nn.n AS r FROM nodes, nn),",
    ]
    for k in range(PR_ITERS):
        parts.append(
            f"""dm{k} AS (
  SELECT COALESCE(list_sum(list(r ORDER BY node)), 0.0) AS dm
  FROM r{k} WHERE node IN (SELECT node FROM dangling)
),
infl{k} AS (
  SELECT e.dst AS node, list_sum(list(r{k}.r * e.s ORDER BY e.src)) AS infl
  FROM edges e JOIN r{k} ON e.src = r{k}.node GROUP BY e.dst
),
r{k + 1} AS (
  SELECT n.node,
    {1.0 - PR_DAMPING} / nn.n + {PR_DAMPING} * (COALESCE(i.infl, 0.0) + d.dm / nn.n) AS r
  FROM nodes n
  LEFT JOIN infl{k} i ON n.node = i.node
  CROSS JOIN dm{k} d CROSS JOIN nn
),"""
        )
    parts.append(
        f"""ranked AS (
  SELECT r{PR_ITERS}.node, n.n_name, ROUND(r, 6) AS pagerank,
    row_number() OVER (ORDER BY ROUND(r, 9) DESC, r{PR_ITERS}.node) AS position
  FROM r{PR_ITERS} JOIN nodes n ON r{PR_ITERS}.node = n.node
)
SELECT node, n_name, pagerank, CAST(position AS BIGINT) AS position
FROM ranked ORDER BY position"""
    )
    return "\n".join(parts)


ORACLE_PAGERANK = _oracle_pagerank()


def triangle_count_trade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-nation triangle participation in the undirected trade graph
    (distinct nation pairs with any trade in either direction;
    self-loops dropped).

    Degree orientation → wedge equi-join → closing-edge semi join;
    each triangle found once, then exploded to its three corners for
    the per-node census.  Everything is an equi-join on int keys.
    """
    e = _trade_edges(spark, sf_dir)
    # localCheckpoint: ``und`` fans out into degree (×2) / wedge (×2) /
    # closing (×2) branches — inlined, the 4-table edge build would
    # appear ~20× in the static plan (90 lineitem scans observed);
    # truncating here computes it once.  State is |E_und| rows.
    und = (
        e.filter(F.col("src") != F.col("dst"))
        .select(
            F.least("src", "dst").alias("a"), F.greatest("src", "dst").alias("b")
        )
        .distinct()
        .localCheckpoint(eager=True)
    )
    deg = (
        und.select(F.col("a").alias("node"))
        .unionAll(und.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    da = deg.select(F.col("node").alias("a"), F.col("deg").alias("deg_a"))
    db = deg.select(F.col("node").alias("b"), F.col("deg").alias("deg_b"))
    lower_a = (F.col("deg_a") < F.col("deg_b")) | (
        (F.col("deg_a") == F.col("deg_b")) & (F.col("a") < F.col("b"))
    )
    oriented = (
        und.join(F.broadcast(da), "a")
        .join(F.broadcast(db), "b")
        .select(
            F.when(lower_a, F.col("a")).otherwise(F.col("b")).alias("u"),
            F.when(lower_a, F.col("b")).otherwise(F.col("a")).alias("v"),
        )
    )
    e1 = oriented.select(F.col("u"), F.col("v").alias("x"))
    e2 = oriented.select(F.col("u"), F.col("v").alias("y"))
    wedges = e1.join(e2, "u").filter(F.col("x") < F.col("y"))
    tri = wedges.join(
        oriented.select(F.col("u").alias("x"), F.col("v").alias("y")),
        ["x", "y"],
        "inner",
    ).unionAll(
        # closing edge may be oriented y->x when deg(y) < deg(x)
        wedges.join(
            oriented.select(F.col("v").alias("x"), F.col("u").alias("y")),
            ["x", "y"],
            "inner",
        )
    )
    corners = (
        tri.select(F.col("u").alias("node"))
        .unionAll(tri.select(F.col("x").alias("node")))
        .unionAll(tri.select(F.col("y").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("n_triangles"))
    )
    nation = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("node"), "n_name"
    )
    return (
        nation.join(corners, "node", "left")
        .select(
            "node",
            "n_name",
            F.coalesce("n_triangles", F.lit(0)).cast("long").alias("n_triangles"),
        )
        .orderBy("node")
    )


ORACLE_TRIANGLES = f"""
WITH edges_raw AS ({_SQL_EDGES}),
und AS (
  SELECT DISTINCT LEAST(src, dst) AS a, GREATEST(src, dst) AS b
  FROM edges_raw WHERE src <> dst
),
deg AS (
  SELECT node, COUNT(*) AS deg FROM (
    SELECT a AS node FROM und UNION ALL SELECT b AS node FROM und
  ) GROUP BY node
),
oriented AS (
  SELECT CASE WHEN (da.deg, u.a) < (db.deg, u.b) THEN u.a ELSE u.b END AS u,
         CASE WHEN (da.deg, u.a) < (db.deg, u.b) THEN u.b ELSE u.a END AS v
  FROM und u
  JOIN deg da ON u.a = da.node
  JOIN deg db ON u.b = db.node
),
wedges AS (
  SELECT e1.u, e1.v AS x, e2.v AS y
  FROM oriented e1 JOIN oriented e2 ON e1.u = e2.u
  WHERE e1.v < e2.v
),
tri AS (
  SELECT w.u, w.x, w.y FROM wedges w JOIN oriented o ON w.x = o.u AND w.y = o.v
  UNION ALL
  SELECT w.u, w.x, w.y FROM wedges w JOIN oriented o ON w.y = o.u AND w.x = o.v
),
corners AS (
  SELECT node, COUNT(*) AS n_triangles FROM (
    SELECT u AS node FROM tri
    UNION ALL SELECT x AS node FROM tri
    UNION ALL SELECT y AS node FROM tri
  ) GROUP BY node
)
SELECT n.n_nationkey AS node, n.n_name,
       CAST(COALESCE(c.n_triangles, 0) AS BIGINT) AS n_triangles
FROM nation n LEFT JOIN corners c ON n.n_nationkey = c.node
ORDER BY node
"""


# ---------------------------------------------------------------------------
# BFS hop distance over the sparsified trade graph
# ---------------------------------------------------------------------------

BFS_SOURCE = 0
BFS_MAX_HOPS = 6
BFS_TOP_PARTNERS = 3


def _sparse_und_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Undirected sparsified trade graph: each nation keeps its
    ``BFS_TOP_PARTNERS`` strongest outgoing trade edges (by weight,
    ties broken by dst id), then the union of both directions.

    The dense nation graph is near-complete, so BFS over it is
    trivially all-hops-1; top-k sparsification is the standard way a
    relationship graph is thinned before path analytics (k-NN graph
    construction).  The top-k is a per-src window — partitioned, never
    global — and both endpoints are restricted to nodes present in
    ``nation`` so the walk can't pass through a dangling FK.
    """
    nation_keys = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("nk")
    )
    e = _trade_edges(spark, sf_dir).filter(F.col("src") != F.col("dst"))
    rk = F.row_number().over(
        W.partitionBy("src").orderBy(F.col("w").desc(), F.col("dst"))
    )
    sparse = (
        e.withColumn("rk", rk)
        .filter(F.col("rk") <= BFS_TOP_PARTNERS)
        .select("src", "dst")
    )
    und = sparse.unionAll(
        sparse.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).distinct()
    return (
        und.join(
            F.broadcast(nation_keys), und.src == F.col("nk"), "left_semi"
        )
        .join(F.broadcast(nation_keys), F.col("dst") == F.col("nk"), "left_semi")
    )


def bfs_hops_trade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BFS hop distance from nation ``BFS_SOURCE`` over the sparsified
    undirected trade graph, bounded at ``BFS_MAX_HOPS`` hops;
    unreachable (or beyond the bound) nations report -1.

    Frontier expansion: each hop is ONE equi-join of the current
    frontier against the edge list plus a left join back onto the
    |V|-row distance spine — the textbook distributed BFS whose
    per-hop shuffle is |frontier ⋈ edges|, never |V|².  The distance
    state is ``localCheckpoint``ed per hop because it feeds both the
    frontier filter and the next join (plan would double per hop
    otherwise, exactly the PageRank branch shape above).  Hop counts
    are integers — no FP-parity concern — and the hop bound is fixed
    so the DuckDB twin is a depth-bounded recursive CTE over the same
    nation-restricted edge set.
    """
    nation = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("node"), "n_name"
    )
    und = _sparse_und_edges(spark, sf_dir).localCheckpoint(eager=False)
    dist = nation.select(
        "node",
        F.when(F.col("node") == BFS_SOURCE, F.lit(0)).alias("hops"),
    ).localCheckpoint(eager=False)
    for k in range(1, BFS_MAX_HOPS + 1):
        frontier = dist.filter(F.col("hops") == k - 1).select("node")
        reached = (
            und.join(frontier, und.src == frontier.node)
            .select(F.col("dst").alias("rnode"))
            .distinct()
        )
        dist = (
            dist.join(reached, dist.node == reached.rnode, "left")
            .select(
                "node",
                F.coalesce(
                    F.col("hops"),
                    F.when(F.col("rnode").isNotNull(), F.lit(k)),
                ).alias("hops"),
            )
            # lazy: the hop bound is fixed (no per-hop action needed),
            # so the single final action materializes the whole chain
            # — one job instead of one per hop; each checkpoint still
            # truncates the plan for the next hop's analysis
            .localCheckpoint(eager=False)
        )
    return (
        dist.join(F.broadcast(nation), "node")
        .select(
            "node",
            "n_name",
            F.coalesce(F.col("hops"), F.lit(-1)).cast("long").alias("hops"),
        )
        .orderBy("node")
    )


ORACLE_BFS = f"""
WITH RECURSIVE edges_raw AS ({_SQL_EDGES}),
sparse AS (
  SELECT src, dst FROM (
    SELECT src, dst,
           row_number() OVER (PARTITION BY src ORDER BY w DESC, dst) AS rk
    FROM edges_raw WHERE src <> dst
  ) WHERE rk <= {BFS_TOP_PARTNERS}
),
und AS (
  SELECT src, dst FROM sparse UNION SELECT dst AS src, src AS dst FROM sparse
),
und_n AS (
  SELECT u.src, u.dst FROM und u
  WHERE u.src IN (SELECT n_nationkey FROM nation)
    AND u.dst IN (SELECT n_nationkey FROM nation)
),
walk(node, hops) AS (
  SELECT n_nationkey AS node, 0 AS hops FROM nation
  WHERE n_nationkey = {BFS_SOURCE}
  UNION
  SELECT u.dst, w.hops + 1 FROM walk w JOIN und_n u ON u.src = w.node
  WHERE w.hops < {BFS_MAX_HOPS}
),
d AS (SELECT node, MIN(hops) AS hops FROM walk GROUP BY node)
SELECT n.n_nationkey AS node, n.n_name,
       CAST(COALESCE(d.hops, -1) AS BIGINT) AS hops
FROM nation n LEFT JOIN d ON n.n_nationkey = d.node
ORDER BY node
"""


# ---------------------------------------------------------------------------
# Connected components via alternating large-star / small-star
# ---------------------------------------------------------------------------

CC_STAR_MAX_ROUNDS = 20


@memo_col
def _star_cols() -> dict:
    """Constant Column trees shared by the star-contraction rounds —
    each round rebuilt ~270 py4j round trips of identical expressions;
    built once per process instead (Columns are immutable trees)."""
    return {
        "uv": F.col("u").alias("v"),
        "vu": F.col("v").alias("u"),
        "min_v_mv": F.min("v").alias("mv"),
        "min_v_m": F.min("v").alias("m"),
        "least_mv_u_v": F.least(F.col("mv"), F.col("u")).alias("v"),
        "v_gt_u": F.col("v") > F.col("u"),
        "u_ne_v": F.col("u") != F.col("v"),
        "greatest_u": F.greatest("u", "v").alias("u"),
        "least_v": F.least("u", "v").alias("v"),
        "mv_as_v": F.col("m").alias("v"),
        "checksum_n": F.count(F.lit(1)).alias("n"),
        "checksum_h": F.coalesce(
            F.sum(F.xxhash64("u", "v").cast("decimal(38,0)")),
            F.lit(0).cast("decimal(38,0)"),
        ).alias("h"),
    }


def _large_star(edges: DataFrame) -> DataFrame:
    """One large-star round (Kiveris et al. 2014, "Connected
    Components in MapReduce and Beyond"): every node u connects its
    strictly-LARGER neighbors to m = min({u} ∪ N(u)).

    Expressed join-only — per-node min via a hash aggregate, then the
    neighbor list rejoined against it — so no per-node neighbor array
    is ever materialized (the published reduce-side formulation
    gathers N(u); the aggregate+join shape computes the same emission
    set with bounded-size shuffle records, which is what survives a
    power-law degree distribution at 100 TB).
    """
    c = _star_cols()
    nbrs = edges.select("u", "v").unionAll(edges.select(c["vu"], c["uv"]))
    mins = nbrs.groupBy("u").agg(c["min_v_mv"])
    return (
        nbrs.join(mins, "u")
        .filter(c["v_gt_u"])
        .select(c["vu"], c["least_mv_u_v"])
        .filter(c["u_ne_v"])
        .distinct()
    )


def _small_star(edges: DataFrame) -> DataFrame:
    """One small-star round: orient each edge (u, v) with u > v; every
    node u connects all its smaller neighbors AND ITSELF to
    m = min(N(u)) — same aggregate+join shape as :func:`_large_star`."""
    c = _star_cols()
    o = edges.select(c["greatest_u"], c["least_v"]).filter(c["u_ne_v"])
    mins = o.groupBy("u").agg(c["min_v_m"])
    nbr_edges = o.join(mins, "u").select(c["vu"], c["mv_as_v"])
    self_edges = mins.select("u", c["mv_as_v"])
    return nbr_edges.unionAll(self_edges).filter(c["u_ne_v"]).distinct()


def star_contract_labels(
    nodes: DataFrame,
    edges: DataFrame,
    max_rounds: int = CC_STAR_MAX_ROUNDS,
) -> DataFrame:
    """(node, label) for every row of ``nodes`` (one column ``node``),
    where label = the component min id under the undirected edge set
    ``edges`` (columns ``u``, ``v``) — nodes touching no edge label
    themselves.  Alternating large-star/small-star rounds to a
    checksum fixpoint; ``localCheckpoint`` per round truncates the
    iterative lineage and the fixpoint test is a 1-row aggregate, not
    an edge collect.  The checkpoints are LAZY (eager=False): the
    round's checksum action is what materializes them, so each round
    is ONE job, not an eager-checkpoint job plus the checksum (guide
    §1.2).  Shared by :func:`cc_star_contraction` and
    analytics4.entity_resolution_clusters."""
    edges = edges.filter(F.col("u") != F.col("v")).localCheckpoint(eager=False)

    def checksum(e: DataFrame) -> tuple:
        # decimal(38,0) accumulator: a long sum of 64-bit hashes
        # overflows under ANSI semantics
        c = _star_cols()
        row = e.agg(c["checksum_n"], c["checksum_h"]).collect()[0]
        return (row["n"], row["h"])

    prev = None
    for _ in range(max_rounds):
        edges = _small_star(_large_star(edges)).localCheckpoint(eager=False)
        cur = checksum(edges)
        if cur == prev:
            break
        prev = cur

    # converged: edges are (node, component-min) stars; centers label
    # themselves
    return nodes.join(
        edges.select(F.col("u").alias("node"), F.col("v").alias("star")),
        "node",
        "left",
    ).select("node", F.coalesce(F.col("star"), F.col("node")).alias("label"))


def cc_star_contraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components over the MinHash-LSH near-dup pair graph
    via alternating large-star/small-star contraction — the O(log² n)-
    round algorithm (Kiveris et al. 2014) that replaces label flooding
    when component DIAMETER is unbounded.

    Same input pair graph, same output shape, same DuckDB oracle as
    ``dedup_clusters`` (operators/dedup.py) — two independent
    distributed algorithms hash-checked against one transitive-closure
    oracle (and against each other in tests/test_graphops.py).  The
    label flood needs diameter-many rounds (fine for shallow near-dup
    clusters); star contraction halves path lengths per round pair, so
    a chain-shaped 10⁶-node component converges in ~20 rounds instead
    of 10⁶ — the variant a 100 TB corpus with adversarial chain
    duplicates requires.  Each round is two aggregate+join passes on
    the current edge set; ``localCheckpoint`` per round truncates the
    iterative lineage, and the fixpoint test is a 1-row checksum
    aggregate (count + hash sum), not a driver collect of edges.
    """
    from . import dedup as DD

    # the pair graph is built once: ``nodes`` and the contraction's
    # edges both read this checkpoint, not two runs of the LSH join
    pairs = (
        DD.minhash_lsh_pairs(spark, sf_dir)
        .filter(F.col("est_jaccard") >= 0.5)
        .select(F.col("d1").alias("u"), F.col("d2").alias("v"))
        .localCheckpoint(eager=False)
    )
    nodes = (
        pairs.select(F.col("u").alias("node"))
        .unionAll(pairs.select(F.col("v").alias("node")))
        .distinct()
        .localCheckpoint(eager=False)
    )
    labels = star_contract_labels(nodes, pairs)
    return (
        labels.groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("cluster_size"),
            F.array_join(
                F.sort_array(F.collect_list("node")).cast("array<string>"), ","
            ).alias("members"),
        )
        .orderBy("label")
    )


from . import dedup as _DD  # noqa: E402  (oracle reuse, no cycle)

#: Same transitive-closure oracle as dedup_clusters — one oracle, two
#: independent distributed algorithms.
ORACLE_CC_STAR = _DD.ORACLE_CLUSTERS


# ---------------------------------------------------------------------------
# Bounded Bellman-Ford single-source shortest paths
# ---------------------------------------------------------------------------

SSSP_SOURCE = 0
SSSP_ITERS = 8


def sssp_trade_costs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cheapest trade route from nation ``SSSP_SOURCE`` over the
    sparsified undirected trade graph, where an edge's cost is its
    strength RANK at the keeping endpoint (1 = strongest partner) —
    "prefer strong partners" as an additive path metric.  Bounded
    Bellman-Ford: ``SSSP_ITERS`` relaxation rounds give the exact
    minimum cost over paths of at most that many edges; nations not
    reachable within the bound report -1.

    Each round is ONE equi-join of the settled-distance spine against
    the edge list plus a min-aggregate — per-round shuffle is
    |dist ⋈ edges|, never |V|².  The spine is ``localCheckpoint``ed
    per round (it feeds both the relax join and the merge — the
    PageRank/BFS branch shape; without it the plan doubles per round).
    Costs are integers end-to-end: no FP-parity surface at all.  The
    DuckDB twin is a depth-bounded recursive walk over the identical
    edge set (min cost over ≤ITERS-edge paths ≡ ITERS-round
    Bellman-Ford).
    """
    nation = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("node"), "n_name"
    )
    nation_keys = nation.select(F.col("node").alias("nk"))
    e = _trade_edges(spark, sf_dir).filter(F.col("src") != F.col("dst"))
    rk = F.row_number().over(
        W.partitionBy("src").orderBy(F.col("w").desc(), F.col("dst"))
    )
    sp = (
        e.withColumn("cost", rk)
        .filter(F.col("cost") <= BFS_TOP_PARTNERS)
        .select("src", "dst", F.col("cost").cast("long").alias("cost"))
    )
    und = (
        sp.unionAll(
            sp.select(
                F.col("dst").alias("src"), F.col("src").alias("dst"), "cost"
            )
        )
        .groupBy("src", "dst")
        .agg(F.min("cost").alias("cost"))
    )
    und = (
        und.join(F.broadcast(nation_keys), und.src == F.col("nk"), "left_semi")
        .join(F.broadcast(nation_keys), F.col("dst") == F.col("nk"), "left_semi")
        .localCheckpoint(eager=False)
    )
    dist = nation.select(
        "node",
        F.when(F.col("node") == SSSP_SOURCE, F.lit(0).cast("long")).alias("d"),
    ).localCheckpoint(eager=False)
    for _ in range(SSSP_ITERS):
        relax = (
            dist.filter(F.col("d").isNotNull())
            .join(und, dist.node == und.src)
            .select(F.col("dst").alias("rnode"), (F.col("d") + F.col("cost")).alias("nd"))
            .groupBy("rnode")
            .agg(F.min("nd").alias("nd"))
        )
        dist = (
            dist.join(relax, dist.node == relax.rnode, "left")
            .select(
                "node",
                F.when(F.col("d").isNull(), F.col("nd"))
                .when(F.col("nd").isNull(), F.col("d"))
                .otherwise(F.least(F.col("d"), F.col("nd")))
                .alias("d"),
            )
            # lazy: fixed iteration count — see the BFS loop note
            .localCheckpoint(eager=False)
        )
    return (
        dist.join(F.broadcast(nation), "node")
        .select(
            "node",
            "n_name",
            F.coalesce(F.col("d"), F.lit(-1)).cast("long").alias("min_cost"),
        )
        .orderBy("node")
    )


ORACLE_SSSP = f"""
WITH RECURSIVE edges_raw AS ({_SQL_EDGES}),
ranked AS (
  SELECT src, dst,
         row_number() OVER (PARTITION BY src ORDER BY w DESC, dst) AS cost
  FROM edges_raw WHERE src <> dst
),
sp AS (SELECT src, dst, cost FROM ranked WHERE cost <= {BFS_TOP_PARTNERS}),
und AS (
  SELECT src, dst, MIN(cost) AS cost FROM (
    SELECT src, dst, cost FROM sp
    UNION ALL
    SELECT dst AS src, src AS dst, cost FROM sp
  ) GROUP BY src, dst
),
und_n AS (
  SELECT u.src, u.dst, u.cost FROM und u
  WHERE u.src IN (SELECT n_nationkey FROM nation)
    AND u.dst IN (SELECT n_nationkey FROM nation)
),
walk(node, c, depth) AS (
  SELECT CAST({SSSP_SOURCE} AS BIGINT) AS node, CAST(0 AS BIGINT) AS c, 0 AS depth
  WHERE {SSSP_SOURCE} IN (SELECT n_nationkey FROM nation)
  UNION
  SELECT u.dst, w.c + u.cost, w.depth + 1
  FROM walk w JOIN und_n u ON u.src = w.node
  WHERE w.depth < {SSSP_ITERS}
),
d AS (SELECT node, MIN(c) AS c FROM walk GROUP BY node)
SELECT n.n_nationkey AS node, n.n_name,
       CAST(COALESCE(d.c, -1) AS BIGINT) AS min_cost
FROM nation n LEFT JOIN d ON n.n_nationkey = d.node
ORDER BY node
"""


#: Registered queries, each mapped to its DuckDB oracle (see __spark_entry__).
QUERIES = {
    pagerank_nations: ORACLE_PAGERANK,
    triangle_count_trade: ORACLE_TRIANGLES,
    bfs_hops_trade: ORACLE_BFS,
    cc_star_contraction: ORACLE_CC_STAR,
    sssp_trade_costs: ORACLE_SSSP,
}
