"""Graph analytics over the TPC-H nation trade graph: fixed-iteration
PageRank, triangle census, bounded BFS and bounded Bellman-Ford SSSP;
plus star-contraction connected components over the near-dup pair
graph.

Beyond-reference scope (the reference's eager pandas layer has no
graph shapes).  The **nation trade graph** has an edge
``cust_nation -> supp_nation`` weighted by the number of lineitems a
customer of the source nation bought from a supplier of the
destination nation.

Design:

* **Edge build** (:func:`_trade_edges`) is the only part whose size
  grows with the scale factor: one fact-fact join on the order key,
  two broadcast dimension joins and one map-side-combined aggregate on
  the (src, dst) pair.  It stays distributed.
* **The nation-graph algorithms run in one task.**  The graph has one
  node per ``nation`` row (25 at every scale factor) and at most 625
  edges, so :func:`_on_nation_graph` cogroups the nodes with the edges
  on one constant key and hands both, as pandas frames, to a
  plain-Python function in a single ``applyInPandas`` call.  Building
  a query submits no Spark job, and running it takes the same few
  jobs whatever the iteration count; a distributed loop paid one
  checkpointed join per round.
* **FP parity** for PageRank: every double sum (inflow per dst,
  dangling mass) is a left-to-right fold from 0.0 over the terms in
  source-node order, the order of DuckDB's
  ``list_sum(list(x ORDER BY src))``, so both engines add the same
  doubles in the same order and the 10-iteration fixpoint is
  bit-identical.  Rounding and the rank position stay in Spark:
  Python's ``round`` is half-even, Spark's HALF_UP.
* **Star contraction** (:func:`star_contract_labels`) is the engine's
  one connected-components closure, serving the near-dup clusters
  (:func:`cc_star_contraction`, dedup.py) and entity resolution.  It
  is distributed above the bound: its pair graph grows with the
  corpus.  Once the edge set is at most ``CLOSURE_LOCAL_EDGES`` edges,
  a min-root union-find (:func:`min_roots`) finishes it in one task.
"""

from __future__ import annotations

from collections import Counter, defaultdict
from functools import reduce
from operator import add

import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

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
    """Directed weighted edges cust_nation -> supp_nation: lineitem ⋈
    orders (the one fact-fact join) ⋈ broadcast customer ⋈ broadcast
    supplier, then a map-side-combined count; at most |nations|² rows."""
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


def _on_nation_graph(spark: SparkSession, sf_dir: str, fn, schema: str) -> DataFrame:
    """``fn(nodes, edges)`` over the whole nation trade graph in one
    task: ``nodes`` (node, n_name) is the ``nation`` table and
    ``edges`` (src, dst, w) is :func:`_trade_edges`, both as pandas
    frames, cogrouped on one constant key; ``fn`` returns a frame of
    ``schema``.  Either side may be empty.  The key needs its alias: a
    bare ``F.lit(0)`` key fails analysis."""
    k = F.lit(0).alias("_g")
    nation = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("node"), "n_name"
    )
    return (
        nation.groupBy(k)
        .cogroup(_trade_edges(spark, sf_dir).groupBy(k))
        .applyInPandas(fn, schema)
    )


def _fold(xs) -> float:
    """Left-to-right double sum from 0.0 (``sum`` may compensate)."""
    return reduce(add, xs, 0.0)


@memo_col
def _sorted_fold_sum(order_col: str, value_col: str) -> Column:
    """Deterministic double sum: left fold over values sorted by
    ``order_col`` (parity twin of DuckDB ``list_sum(list(v ORDER BY o))``).
    memo_col: the tree is constant per (order, value) name pair."""
    return F.aggregate(
        F.transform(
            F.array_sort(F.collect_list(F.struct(order_col, value_col))),
            lambda x: x[value_col],
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _pagerank(nodes: pd.DataFrame, edges: pd.DataFrame) -> pd.DataFrame:
    """Raw rank ``r`` of every node after ``PR_ITERS`` iterations.

    An edge's share is w / out(src), with out(src) summed over every
    edge; only edges between two nodes carry rank, and a node with no
    out-edge at all is dangling."""
    n = float(len(nodes))
    if not n:
        return nodes.assign(r=0.0)
    node_ids = nodes.node.tolist()
    src, dst, w = edges.src.tolist(), edges.dst.tolist(), edges.w.tolist()
    out_w = Counter()
    for u, x in zip(src, w):
        out_w[u] += x
    into = {v: [] for v in node_ids}  # dst -> [(src, share)] in src order
    for u, v, x in sorted(zip(src, dst, w)):
        if u in into and v in into:
            into[v].append((u, float(x) / float(out_w[u])))
    dangling = sorted(v for v in node_ids if v not in out_w)
    # 1 - 0.85 is 0.15000000000000002, not the literal 0.15; the oracle
    # interpolates the same Python-computed value
    base = (1.0 - PR_DAMPING) / n
    r = dict.fromkeys(node_ids, 1.0 / n)
    for _ in range(PR_ITERS):
        dm = _fold(r[v] for v in dangling)
        r = {
            v: base + PR_DAMPING * (_fold(r[u] * s for u, s in into[v]) + dm / n)
            for v in node_ids
        }
    return nodes.assign(r=[r[v] for v in node_ids])


def pagerank_nations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``PR_ITERS`` fixed iterations of damped PageRank over the
    nation trade graph; returns every nation with its rank and
    position.

    r_{k+1}(v) = (1-d)/N + d·(Σ_{(u,v)∈E} r_k(u)·w(u,v)/out(u)
                              + dangling_k/N)
    """
    ranks = _on_nation_graph(
        spark, sf_dir, _pagerank, "node int, n_name string, r double"
    )
    pos = F.row_number().over(W.orderBy(F.round("r", 9).desc(), F.col("node")))
    return ranks.select(
        "node",
        "n_name",
        F.round("r", 6).alias("pagerank"),
        pos.cast("long").alias("position"),
    ).orderBy("position")


def _oracle_pagerank() -> str:
    """Unrolled CTE chain — one (dm, inflow, rank) stage per iteration."""
    # shared CTEs are MATERIALIZED: the unrolled iteration chain
    # references them 10+ times, and inlining would re-open the base
    # parquet per reference (fd exhaustion on the 4-table edge scan);
    # each rank stage r{k} feeds two CTEs of the next, so inlined the
    # chain expands 2^PR_ITERS-fold (~25 s even on a 3-node lake)
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
        "r0 AS MATERIALIZED (SELECT node, 1.0 / nn.n AS r FROM nodes, nn),",
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
r{k + 1} AS MATERIALIZED (
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


def _triangles(nodes: pd.DataFrame, edges: pd.DataFrame) -> pd.DataFrame:
    """Per-node triangle count of the undirected graph over every edge
    (self-loops dropped), including triangles through endpoints that
    are not nodes."""
    adj = defaultdict(set)
    for u, v in zip(edges.src.tolist(), edges.dst.tolist()):
        if u != v:
            adj[u].add(v)
            adj[v].add(u)
    count = Counter()
    for a, nbrs in adj.items():
        for b in nbrs:
            for c in nbrs & adj[b]:
                if a < b < c:
                    count.update((a, b, c))
    return nodes.assign(n_triangles=[count[v] for v in nodes.node.tolist()])


def triangle_count_trade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-nation triangle participation in the undirected trade graph
    (distinct nation pairs with any trade in either direction;
    self-loops dropped)."""
    return _on_nation_graph(
        spark, sf_dir, _triangles, "node int, n_name string, n_triangles long"
    ).orderBy("node")


# MATERIALIZED: inlined, the chain re-expands ``und`` and ``oriented``
# into every reference and spills tens of GB at sf0.1
ORACLE_TRIANGLES = f"""
WITH edges_raw AS MATERIALIZED ({_SQL_EDGES}),
und AS MATERIALIZED (
  SELECT DISTINCT LEAST(src, dst) AS a, GREATEST(src, dst) AS b
  FROM edges_raw WHERE src <> dst
),
deg AS MATERIALIZED (
  SELECT node, COUNT(*) AS deg FROM (
    SELECT a AS node FROM und UNION ALL SELECT b AS node FROM und
  ) GROUP BY node
),
oriented AS MATERIALIZED (
  SELECT CASE WHEN (da.deg, u.a) < (db.deg, u.b) THEN u.a ELSE u.b END AS u,
         CASE WHEN (da.deg, u.a) < (db.deg, u.b) THEN u.b ELSE u.a END AS v
  FROM und u
  JOIN deg da ON u.a = da.node
  JOIN deg db ON u.b = db.node
),
wedges AS MATERIALIZED (
  SELECT e1.u, e1.v AS x, e2.v AS y
  FROM oriented e1 JOIN oriented e2 ON e1.u = e2.u
  WHERE e1.v < e2.v
),
tri AS MATERIALIZED (
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


def _top_partners(nodes: pd.DataFrame, edges: pd.DataFrame) -> dict:
    """Sparsified undirected trade graph as {(src, dst): rank}: each
    src keeps its ``BFS_TOP_PARTNERS`` strongest out-edges, ranked by
    (w desc, dst) with rank 1 the strongest, self-loops excluded; a
    kept edge counts in both directions at the min rank over them,
    and only edges with both endpoints among ``nodes`` remain.

    The dense nation graph is near-complete, so paths over it are
    trivially all one hop; top-k sparsification is the standard way a
    relationship graph is thinned before path analytics (k-NN graph
    construction)."""
    out = defaultdict(list)
    for u, v, w in zip(edges.src.tolist(), edges.dst.tolist(), edges.w.tolist()):
        if u != v:
            out[u].append((-w, v))
    keys = set(nodes.node.tolist())
    rank = {}
    for u, partners in out.items():
        for k, (_, v) in enumerate(sorted(partners)[:BFS_TOP_PARTNERS], 1):
            if u in keys and v in keys:
                for pair in ((u, v), (v, u)):
                    rank[pair] = min(k, rank.get(pair, k))
    return rank


def _bfs(nodes: pd.DataFrame, edges: pd.DataFrame) -> pd.DataFrame:
    """Hops from ``BFS_SOURCE`` within ``BFS_MAX_HOPS``, else -1."""
    adj = defaultdict(list)
    for u, v in _top_partners(nodes, edges):
        adj[u].append(v)
    hops = {BFS_SOURCE: 0}
    frontier = {BFS_SOURCE}
    for k in range(1, BFS_MAX_HOPS + 1):
        frontier = {v for u in frontier for v in adj[u]} - hops.keys()
        hops.update(dict.fromkeys(frontier, k))
    return nodes.assign(hops=[hops.get(v, -1) for v in nodes.node.tolist()])


def bfs_hops_trade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BFS hop distance from nation ``BFS_SOURCE`` over the sparsified
    undirected trade graph (:func:`_top_partners`), bounded at
    ``BFS_MAX_HOPS`` hops; unreachable (or beyond the bound) nations
    report -1.  The hop bound is fixed so the DuckDB twin is a
    depth-bounded recursive CTE over the same nation-restricted edge
    set."""
    return _on_nation_graph(
        spark, sf_dir, _bfs, "node int, n_name string, hops long"
    ).orderBy("node")


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
#: Edge count at or below which the closure finishes in one task
#: (:func:`star_contract_labels`).  That task's Python worker holds the
#: whole edge set, so the bound is the largest power of two whose task
#: stays within 1 GiB: one core's share of the 8 GiB executor overhead in
#: DEPLOY.md's cluster shape.  ``scripts/closure_bound.py`` on
#: ``local[4]`` (worker baseline 124 MB, one run per cell), task
#: against rounds, worker peak:
#:
#: ======  =========================  ==========================
#: edges   random (m edges, m ids)    disjoint (m edges, 2m ids)
#: ======  =========================  ==========================
#: 2**18   3.0 / 19.4 s, 186 MB       2.6 / 9.1 s, 217 MB
#: 2**20   6.3 / 35.0 s, 377 MB       4.0 / 16.1 s, 497 MB
#: 2**21   11.7 / 71.9 s, 633 MB      7.0 / 26.7 s, 834 MB
#: 2**22   26.3 / 139.0 s, 1106 MB    18.0 / 62.9 s, 1507 MB
#: ======  =========================  ==========================
#:
#: The task won at every size; memory, not time, sets the bound.  Above
#: it, the input count that picks the path is one job more than the
#: rounds alone would run (0.3 s of 19.4 s at 2**18 random edges, 2.9 s
#: of 139.0 s at 2**22).
CLOSURE_LOCAL_EDGES = 2**21


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


def min_roots(us, vs) -> dict:
    """{endpoint: component min} over the undirected edges
    ``zip(us, vs)``.  Union-find that links the larger root under the
    smaller, so every root is its component's minimum; path halving
    keeps the finds short.  Self-loops and repeated edges are fine."""
    parent = {}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for u, v in zip(us, vs):
        parent.setdefault(u, u)
        parent.setdefault(v, v)
        a, b = find(u), find(v)
        if a < b:
            parent[b] = a
        elif b < a:
            parent[a] = b
    return {x: find(x) for x in parent}


def union_find_stars(edges: DataFrame) -> DataFrame:
    """The converged stars of ``edges`` (u, v) in one task: every edge
    goes to one ``applyInPandas`` group, and :func:`min_roots` returns
    one (u, v = component min) row per endpoint that is not its
    component's min, typed like the input columns."""
    schema = StructType([edges.schema["u"], edges.schema["v"]])

    def stars(pdf: pd.DataFrame) -> pd.DataFrame:
        root = min_roots(pdf.u.tolist(), pdf.v.tolist())
        kids = [x for x, r in root.items() if x != r]
        return pd.DataFrame({"u": kids, "v": [root[x] for x in kids]})

    return edges.groupBy(F.lit(0).alias("_g")).applyInPandas(stars, schema)


def star_labels(nodes: DataFrame, stars: DataFrame) -> DataFrame:
    """(node, label) for every row of ``nodes``: the star center of
    ``stars`` (u, v = center), or the node itself where it is no
    star's leaf."""
    return nodes.join(
        stars.select(F.col("u").alias("node"), F.col("v").alias("star")),
        "node",
        "left",
    ).select("node", F.coalesce(F.col("star"), F.col("node")).alias("label"))


def _edge_checksum(edges: DataFrame) -> tuple:
    """(edge count n, hash sum) of ``edges`` in one 1-row aggregate;
    the hash sum is a decimal(38,0) accumulator, since a long sum of
    64-bit hashes overflows under ANSI semantics."""
    c = _star_cols()
    row = edges.agg(c["checksum_n"], c["checksum_h"]).collect()[0]
    return (row["n"], row["h"])


def star_contract_labels(nodes: DataFrame, edges: DataFrame) -> DataFrame:
    """(node, label) for every row of ``nodes`` (one column ``node``),
    where label = the component min id under the undirected edge set
    ``edges`` (columns ``u``, ``v``) — nodes touching no edge label
    themselves.  The engine's one closure: :func:`cc_star_contraction`,
    dedup.dedup_clusters, dedup.dedup_keep_canonical and
    analytics4.entity_resolution_clusters all call it.

    The edge count n of a checksum (n, hash sum: a 1-row aggregate,
    not an edge collect) picks the path, on the input and after every
    round.  At most ``CLOSURE_LOCAL_EDGES`` edges close in one
    union-find task (:func:`union_find_stars`); ``nodes`` stays
    distributed, only the edges go to that task.  Above it,
    large-star/small-star rounds run until the edge set fits or reaches
    the checksum fixpoint, where its edges are the converged stars
    (node, center).  ``localCheckpoint`` per round truncates the
    iterative lineage; it is LAZY (eager=False), so the checksum action
    is what materializes it and each round is ONE job (guide §1.2)."""
    edges = edges.filter(F.col("u") != F.col("v")).localCheckpoint(eager=False)
    prev = _edge_checksum(edges)
    for _ in range(CC_STAR_MAX_ROUNDS):
        if prev[0] <= CLOSURE_LOCAL_EDGES:
            return star_labels(nodes, union_find_stars(edges))
        edges = _small_star(_large_star(edges)).localCheckpoint(eager=False)
        cur = _edge_checksum(edges)
        if cur == prev:
            break
        prev = cur
    return star_labels(nodes, edges)


def cc_star_contraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components over the MinHash-LSH near-dup pair graph
    via alternating large-star/small-star contraction (Kiveris et al.
    2014): O(log² n) rounds whatever the component DIAMETER, since
    star contraction halves path lengths per round pair — a
    chain-shaped 10⁶-node component converges in ~20 rounds, where a
    label flood would take 10⁶.  Rounds run only while the edge set is
    above ``CLOSURE_LOCAL_EDGES`` (:func:`star_contract_labels`); the
    LSH pair graph is usually below it from the start and closes in one
    union-find task.

    The registered name of ``dedup_clusters`` (operators/dedup.py),
    which builds the pair graph and calls the same closure: one query,
    one oracle.
    """
    return _DD.dedup_clusters(spark, sf_dir)


from . import dedup as _DD  # noqa: E402  (oracle reuse, no cycle)

#: Same transitive-closure oracle as dedup_clusters.
ORACLE_CC_STAR = _DD.ORACLE_CLUSTERS


# ---------------------------------------------------------------------------
# Bounded Bellman-Ford single-source shortest paths
# ---------------------------------------------------------------------------

SSSP_SOURCE = 0
SSSP_ITERS = 8


def _sssp(nodes: pd.DataFrame, edges: pd.DataFrame) -> pd.DataFrame:
    """``SSSP_ITERS`` synchronous Bellman-Ford rounds from
    ``SSSP_SOURCE``; unreached nodes report -1.  Each round relaxes
    from the previous round's distances only, so a cost is a min over
    paths of at most ``SSSP_ITERS`` edges, as in the oracle's walk."""
    cost = _top_partners(nodes, edges)
    dist = {SSSP_SOURCE: 0}
    for _ in range(SSSP_ITERS):
        nxt = dict(dist)
        for (u, v), c in cost.items():
            if u in dist:
                nxt[v] = min(dist[u] + c, nxt.get(v, dist[u] + c))
        dist = nxt
    return nodes.assign(min_cost=[dist.get(v, -1) for v in nodes.node.tolist()])


def sssp_trade_costs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cheapest trade route from nation ``SSSP_SOURCE`` over the
    sparsified undirected trade graph (:func:`_top_partners`), where
    an edge's cost is its strength RANK at the keeping endpoint (1 =
    strongest partner) — "prefer strong partners" as an additive path
    metric.  Bounded Bellman-Ford: ``SSSP_ITERS`` relaxation rounds
    give the exact minimum cost over paths of at most that many edges;
    nations not reachable within the bound report -1.  Costs are
    integers end-to-end: no FP-parity surface at all.  The DuckDB twin
    is a depth-bounded recursive walk over the identical edge set (min
    cost over ≤ITERS-edge paths ≡ ITERS-round Bellman-Ford).
    """
    return _on_nation_graph(
        spark, sf_dir, _sssp, "node int, n_name string, min_cost long"
    ).orderBy("node")


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
