"""Data-layout optimization operators: Z-order clustering and
small-file compaction planning.

The reference pipeline writes one CSV per (year, session) directory
(f1_dataTransformer.py walk + to_csv) and never revisits layout; at
100 TB, layout IS the query-performance budget:

* **Z-order** — multi-dimensional clustering.  Sorting by one column
  gives perfect row-group pruning on that column and none on any
  other; interleaving the bits of two (or more) quantized columns
  gives a 1-D sort key whose contiguous ranges are small HYPER-RECTANGLES
  of the value space, so min/max row-group stats prune on EVERY
  z-ordered dimension at once.  ``zorder_key`` is the expression; the
  write path is ``df.repartitionByRange(n, z).sortWithinPartitions(z)
  .write...`` so each output file covers one narrow z-range.
* **Compaction** — streaming/incremental ingest produces many small
  files; parquet efficiency needs ~128 MB-1 GB objects (footer
  amortization, sequential reads, fewer tasks).  The planner here is
  the metadata half of OPTIMIZE: greedy contiguous bin-packing of the
  per-partition file inventory into target-size output groups.  It
  runs entirely on the file LISTING (rows ∝ file count, not data
  bytes) with windows partitioned by the table partition — the same
  shape Delta/Iceberg compaction drivers use.

Everything is integer arithmetic → bit-exact DuckDB oracles.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from ..sources.registry import load_table

#: Bits per dimension in the z-key (8 → 256 quantization buckets/dim,
#: 16-bit composite key).  Production would use 16 bits/dim; 8 keeps
#: the oracle tile table small (≤256 rows) while exercising the full
#: interleave path.
Z_BITS = 8

#: Compaction target size in bytes (tiny so the test inventory yields
#: multi-file bins; production: 128 MB-1 GB).
COMPACT_TARGET = 64 * 1024


def zorder_key(qx: Column, qy: Column, bits: int = Z_BITS) -> Column:
    """Interleave the low ``bits`` of two quantized columns: bit i of
    qx lands at position 2i, bit i of qy at 2i+1.  Pure integer
    shifts/masks — whole-stage codegen'd, and bit-identical in any
    engine."""
    z = F.lit(0).cast("long")
    for i in range(bits):
        z = (
            z
            + F.shiftleft(F.shiftright(qx, i).bitwiseAND(F.lit(1)), 2 * i)
            + F.shiftleft(F.shiftright(qy, i).bitwiseAND(F.lit(1)), 2 * i + 1)
        )
    return z


def zorder_key_n(qs: list[Column], bits: int = Z_BITS) -> Column:
    """N-way bit interleave: bit i of the j-th quantized column lands
    at position ``i*len(qs) + j`` — the general Morton code
    :func:`zorder_key` is the 2-column case of.  ``len(qs)·bits`` must
    fit a long (≤ 62); pure integer shifts/masks, whole-stage
    codegen'd."""
    k = len(qs)
    if k < 2:
        raise ValueError("zorder needs at least 2 columns")
    if k * bits > 62:
        raise ValueError(f"{k} columns × {bits} bits exceeds a long")
    z = F.lit(0).cast("long")
    for i in range(bits):
        for j, q in enumerate(qs):
            z = z + F.shiftleft(
                F.shiftright(q, i).bitwiseAND(F.lit(1)), i * k + j
            )
    return z


def zorder_versioned_multi(
    spark: SparkSession,
    path: str,
    cols: list[str],
    n_files: int,
    bits: int | None = None,
) -> int:
    """``OPTIMIZE <table> ZORDER BY (c1, …, cK)`` for ANY number of
    numeric columns (the 2-column :func:`zorder_versioned` is the
    K = 2 case): one 1-row bounds aggregate, scan-side quantization,
    N-way Morton interleave (:func:`zorder_key_n`), ONE range shuffle
    — after which ``read_versioned_pruned`` skips files on EVERY one
    of the K dimensions, because each output file covers a narrow
    z-hyper-rectangle.  ``bits`` defaults to the most precision that
    fits a long for K columns (62 // K, capped at Z_BITS).  Commits a
    layout-only overwrite (data bit-identical, incremental readers
    skip); raises with the columns named if any has no non-NULL
    values (no z-space exists)."""
    from ..sources.versioned import (
        log_column_bounds,
        read_versioned,
        write_versioned,
    )

    if bits is None:
        bits = min(Z_BITS, 62 // max(2, len(cols)))
    snap = read_versioned(spark, path)
    # log-stats bounds when complete (zero Spark jobs); scan otherwise
    lb = log_column_bounds(path, tuple(cols))
    if lb is not None:
        b = {}
        for c in cols:
            b[f"min_{c}"], b[f"max_{c}"] = lb[c]
    else:
        aggs = []
        for c in cols:
            aggs.append(F.min(c).alias(f"min_{c}"))
            aggs.append(F.max(c).alias(f"max_{c}"))
        b = snap.agg(*aggs).first()
    all_null = [c for c in cols if b[f"min_{c}"] is None]
    if all_null:
        raise ValueError(
            f"zorder_versioned_multi: column(s) {all_null} have no "
            "non-NULL values in the current snapshot — no z-order bounds "
            "exist; use compact_versioned for a layout-only rewrite"
        )
    n_buckets = F.lit(1 << bits).cast("long")
    qs = [
        (
            (F.col(c) - F.lit(b[f"min_{c}"]))
            * n_buckets
            / F.greatest(F.lit(b[f"max_{c}"] - b[f"min_{c}"] + 1), F.lit(1))
        ).cast("long")
        for c in cols
    ]
    clustered = (
        snap.withColumn("_z", zorder_key_n(qs, bits))
        .repartitionByRange(n_files, F.col("_z"))
        .sortWithinPartitions("_z")
        .drop("_z")
    )
    return write_versioned(clustered, path, mode="overwrite", data_change=False)


def _sql_zorder(qx: str, qy: str, bits: int = Z_BITS) -> str:
    terms = []
    for i in range(bits):
        terms.append(f"((({qx} >> {i}) & 1) << {2 * i})")
        terms.append(f"((({qy} >> {i}) & 1) << {2 * i + 1})")
    return "(" + " + ".join(terms) + ")"


def zorder_tile_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster orders on z(o_custkey, day(o_orderdate)) and report, per
    top-256 z-tile, the row count and the min/max of BOTH dimensions —
    i.e. exactly the per-file column stats a z-ordered write would
    publish, demonstrating that every tile is narrow in every
    dimension (the pruning property single-column sorts lack).

    Plan: scan → 1-row bounds agg (broadcast cross join) → quantize +
    interleave scan-side → one hash aggregate on the tile.  No global
    sort is needed for the STATS (the write path would range-partition
    by z; tile membership is order-free).
    """
    o = load_table(spark, sf_dir, "orders").select(
        "o_custkey",
        F.datediff(F.col("o_orderdate").cast("date"), F.lit("1990-01-01").cast("date"))
        .cast("long")
        .alias("day"),
    )
    bounds = o.agg(
        F.min("o_custkey").alias("minc"),
        F.max("o_custkey").alias("maxc"),
        F.min("day").alias("mind"),
        F.max("day").alias("maxd"),
    )
    j = o.join(F.broadcast(bounds))
    n_buckets = F.lit(1 << Z_BITS).cast("long")
    qx = (
        (F.col("o_custkey") - F.col("minc"))
        * n_buckets
        / F.greatest(F.col("maxc") - F.col("minc") + 1, F.lit(1))
    ).cast("long")
    qy = (
        (F.col("day") - F.col("mind"))
        * n_buckets
        / F.greatest(F.col("maxd") - F.col("mind") + 1, F.lit(1))
    ).cast("long")
    z = zorder_key(qx, qy)
    return (
        j.select("o_custkey", "day", F.shiftright(z, Z_BITS).alias("tile"))
        .groupBy("tile")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.min("o_custkey").alias("min_cust"),
            F.max("o_custkey").alias("max_cust"),
            F.min("day").alias("min_day"),
            F.max("day").alias("max_day"),
        )
    )


ORACLE_ZORDER_TILES = f"""
WITH o AS (
  SELECT o_custkey,
         CAST(date_diff('day', DATE '1990-01-01', CAST(o_orderdate AS DATE)) AS BIGINT) AS day
  FROM orders
),
b AS (
  SELECT MIN(o_custkey) AS minc, MAX(o_custkey) AS maxc,
         MIN(day) AS mind, MAX(day) AS maxd
  FROM o
),
q AS (
  SELECT o_custkey, day,
    (o_custkey - minc) * {1 << Z_BITS} // GREATEST(maxc - minc + 1, 1) AS qx,
    (day - mind) * {1 << Z_BITS} // GREATEST(maxd - mind + 1, 1) AS qy
  FROM o CROSS JOIN b
),
z AS (
  SELECT o_custkey, day,
    {_sql_zorder("qx", "qy")} >> {Z_BITS} AS tile
  FROM q
)
SELECT tile, CAST(COUNT(*) AS BIGINT) AS n_rows,
       MIN(o_custkey) AS min_cust, MAX(o_custkey) AS max_cust,
       MIN(day) AS min_day, MAX(day) AS max_day
FROM z GROUP BY tile
"""


def _file_inventory(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Synthetic per-partition file listing derived from events: one
    "file" per (event_date, user_id % 40) with size = Σ payload bytes.
    Stands in for the metadata listing a lake's transaction log would
    provide; rows ∝ file count, never data volume."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.to_date("ts").alias("part_date"),
            F.pmod(F.col("user_id"), F.lit(40)).alias("file_id"),
        )
        .agg((F.sum(F.length("props")) + F.lit(1024)).alias("bytes"))
    )


def compaction_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy contiguous bin-packing of each partition's small files
    into ~COMPACT_TARGET-byte output groups: file k joins bin
    floor(cumulative_bytes_before_k / target).

    Per (partition, bin): files merged, total bytes, fill ratio.  The
    window is partitioned by ``part_date`` — plans for different table
    partitions compute in parallel, and a bin never spans partitions
    (compaction must respect partition boundaries).  A file larger
    than the target gets a bin of its own (fill > 1), flagged
    ``oversized``.
    """
    inv = _file_inventory(spark, sf_dir)
    w = W.partitionBy("part_date").orderBy("file_id")
    cum = F.sum("bytes").over(w) - F.col("bytes")
    binned = inv.select(
        "part_date",
        "file_id",
        "bytes",
        (cum / F.lit(COMPACT_TARGET)).cast("long").alias("bin"),
    )
    return (
        binned.groupBy("part_date", "bin")
        .agg(
            F.count(F.lit(1)).alias("n_files"),
            F.sum("bytes").alias("total_bytes"),
            F.round(F.sum("bytes") / F.lit(COMPACT_TARGET), 6).alias("fill"),
            (F.count(F.lit(1)) == 1).alias("single_file"),
        )
        .withColumn(
            "oversized", F.col("single_file") & (F.col("total_bytes") > COMPACT_TARGET)
        )
        .drop("single_file")
    )


ORACLE_COMPACTION = f"""
WITH inv AS (
  SELECT CAST(ts AS DATE) AS part_date,
         user_id % 40 AS file_id,
         SUM(length(props)) + 1024 AS bytes
  FROM events GROUP BY part_date, file_id
),
binned AS (
  SELECT part_date, file_id, bytes,
    CAST((SUM(bytes) OVER (PARTITION BY part_date ORDER BY file_id
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - bytes)
         // {COMPACT_TARGET} AS BIGINT) AS bin
  FROM inv
),
g AS (
  SELECT part_date, bin,
    CAST(COUNT(*) AS BIGINT) AS n_files,
    CAST(SUM(bytes) AS BIGINT) AS total_bytes,
    ROUND(CAST(SUM(bytes) AS DOUBLE) / {COMPACT_TARGET}, 6) AS fill,
    COUNT(*) = 1 AS single_file
  FROM binned GROUP BY part_date, bin
)
SELECT part_date, bin, n_files, total_bytes, fill,
       single_file AND total_bytes > {COMPACT_TARGET} AS oversized
FROM g
"""


def write_range_clustered(
    df: DataFrame,
    path: str,
    cluster_col: str,
    n_files: int,
    max_records_per_file: int | None = None,
) -> None:
    """The production clustered-write recipe: ``repartitionByRange``
    on the cluster key (range-partitioned shuffle with a sampled
    boundary pass) + ``sortWithinPartitions`` (files internally sorted
    → tight parquet footer min/max) + optional ``maxRecordsPerFile``
    (bounds file size without another shuffle).

    Result: file-level min/max ranges on ``cluster_col`` are disjoint,
    so a point/range predicate prunes to O(1) files at ANY table size —
    the 1-D sibling of the Z-order layout (use z-order when queries
    filter on TWO+ dims; use this when one dominant dim rules).
    """
    w = df.repartitionByRange(n_files, F.col(cluster_col)).sortWithinPartitions(
        cluster_col
    )
    writer = w.write.mode("overwrite")
    if max_records_per_file:
        writer = writer.option("maxRecordsPerFile", max_records_per_file)
    writer.parquet(path)


def zorder_versioned(
    spark: SparkSession,
    path: str,
    col_x: str,
    col_y: str,
    n_files: int,
    bits: int = Z_BITS,
) -> int:
    """``OPTIMIZE <table> ZORDER BY (col_x, col_y)`` for the versioned
    lake: rewrite the current snapshot clustered on the interleaved
    z-key of the two columns and commit it as a new version (data
    bit-identical, layout new; old files stay for time travel until a
    vacuum, exactly like ``compact_versioned``).

    Because ``write_versioned`` logs per-file [min, max] column stats,
    the payoff is immediately measurable: after this rewrite,
    ``read_versioned_pruned`` skips files on EITHER dimension — each
    output file covers one narrow z-range, i.e. a small hyper-rectangle
    of the (col_x, col_y) space, where a single-column sort prunes on
    one dimension and nothing else.

    Plan: one 1-row bounds aggregate (driver-side scalars — the only
    collect), then quantize + interleave scan-side and ONE range
    shuffle on the z-key with an in-partition sort.  No global sort;
    cost is the same one-pass rewrite as compaction.
    """
    from ..sources.versioned import (
        log_column_bounds,
        read_versioned,
        write_versioned,
    )

    snap = read_versioned(spark, path)
    # bounds from the commit log's per-file stats when complete (zero
    # Spark jobs — manifest arithmetic; DV-widened bounds still
    # quantize a valid z-space), else one bounds scan as before
    lb = log_column_bounds(path, (col_x, col_y))
    if lb is not None:
        b = {
            "minx": lb[col_x][0], "maxx": lb[col_x][1],
            "miny": lb[col_y][0], "maxy": lb[col_y][1],
        }
    else:
        b = snap.agg(
            F.min(col_x).alias("minx"),
            F.max(col_x).alias("maxx"),
            F.min(col_y).alias("miny"),
            F.max(col_y).alias("maxy"),
        ).first()
    # min/max of an entirely-NULL (or zero-row) column is NULL — there
    # is no z-space to quantize into, and silently proceeding would be
    # a TypeError on None arithmetic below.  Fail with the column
    # named; callers wanting a layout-only rewrite of such a table
    # should use compact_versioned (advice r8).
    all_null = [
        c for c, lo in ((col_x, b["minx"]), (col_y, b["miny"])) if lo is None
    ]
    if all_null:
        raise ValueError(
            f"zorder_versioned: column(s) {all_null} have no non-NULL "
            "values in the current snapshot — no z-order bounds exist; "
            "use compact_versioned for a layout-only rewrite"
        )
    n_buckets = F.lit(1 << bits).cast("long")
    qx = (
        (F.col(col_x) - F.lit(b["minx"]))
        * n_buckets
        / F.greatest(F.lit(b["maxx"] - b["minx"] + 1), F.lit(1))
    ).cast("long")
    qy = (
        (F.col(col_y) - F.lit(b["miny"]))
        * n_buckets
        / F.greatest(F.lit(b["maxy"] - b["miny"] + 1), F.lit(1))
    ).cast("long")
    clustered = (
        snap.withColumn("_z", zorder_key(qx, qy, bits))
        .repartitionByRange(n_files, F.col("_z"))
        .sortWithinPartitions("_z")
        .drop("_z")
    )
    # layout-only commit: same rows, clustered files — incremental
    # readers (delta / change feed / lake_cdf stream) skip it
    return write_versioned(clustered, path, mode="overwrite", data_change=False)


def zorder_versioned_scoped(
    spark: SparkSession,
    path: str,
    col_x: str,
    col_y: str,
    scope_col: str,
    lo,
    hi,
    n_files: int,
    bits: int = Z_BITS,
) -> dict:
    """SCOPED ``OPTIMIZE <table> WHERE scope_col BETWEEN lo AND hi
    ZORDER BY (col_x, col_y)``: rewrite ONLY the snapshot files whose
    logged [min, max] for ``scope_col`` can intersect [lo, hi],
    carrying every other file by reference — the steady-state shape of
    OPTIMIZE at scale, where the full-snapshot :func:`zorder_versioned`
    is a table-sized rewrite but the region that actually accumulated
    new unclustered files (yesterday's date partition, one tenant's
    key range) is a sliver of it.  Files without logged stats for the
    column are conservatively INCLUDED (they may hold scope rows).

    Row-preserving by construction: the intersecting files are
    rewritten WHOLE (rows outside [lo, hi] that share those files are
    re-laid-out too, never dropped), z-clustered on (col_x, col_y)
    bounds computed over the rewritten subset.  Commits through
    ``rewrite_subset_layout`` — the shared selective-maintenance
    machinery — so deletion vectors on the subset are materialized
    with read-set validation (a concurrent MoR delete aborts the
    rewrite), the commit is ``data_change=False`` (incremental readers
    skip it), and time travel across it keeps working.  Returns
    ``{"version", "files_rewritten", "files_out", "files_total"}``
    (version -1 = nothing in scope).
    """
    from ..sources import versioned as V

    stats = V._logged_file_stats(V._entries(path))
    snap = V._snapshot_files(path, None)

    def may_intersect(f: str) -> bool:
        s = stats.get(f, {}).get(scope_col)
        if not s:
            return True  # unknown → may hold scope rows → rewrite
        fmin, fmax = s
        return not (fmax < lo or fmin > hi)

    subset = [f for f in snap if may_intersect(f)]
    if not subset:
        return {
            "version": -1,
            "files_rewritten": 0,
            "files_out": 0,
            "files_total": len(snap),
        }

    def shape(df: DataFrame, n_rows: int) -> DataFrame:
        b = df.agg(
            F.min(col_x).alias("minx"),
            F.max(col_x).alias("maxx"),
            F.min(col_y).alias("miny"),
            F.max(col_y).alias("maxy"),
        ).first()
        all_null = [
            c
            for c, v in ((col_x, b["minx"]), (col_y, b["miny"]))
            if v is None
        ]
        if all_null:
            raise ValueError(
                f"zorder_versioned_scoped: column(s) {all_null} have no "
                "non-NULL values in the scoped files — no z-order bounds "
                "exist; use compact_small_files for a layout-only rewrite"
            )
        n_buckets = F.lit(1 << bits).cast("long")
        qx = (
            (F.col(col_x) - F.lit(b["minx"]))
            * n_buckets
            / F.greatest(F.lit(b["maxx"] - b["minx"] + 1), F.lit(1))
        ).cast("long")
        qy = (
            (F.col(col_y) - F.lit(b["miny"]))
            * n_buckets
            / F.greatest(F.lit(b["maxy"] - b["miny"] + 1), F.lit(1))
        ).cast("long")
        return (
            df.withColumn("_z", zorder_key(qx, qy, bits))
            .repartitionByRange(n_files, F.col("_z"))
            .sortWithinPartitions("_z")
            .drop("_z")
        )

    r = V.rewrite_subset_layout(
        spark,
        path,
        subset,
        shape,
        {
            "op": "zorder_scoped",
            "scope": [scope_col, lo, hi],
            "zorder_by": [col_x, col_y],
        },
    )
    return {
        "version": r["version"],
        "files_rewritten": len(subset),
        "files_out": r["files_out"],
        "files_total": len(snap),
    }


#: Registered queries, each mapped to its DuckDB oracle (see __spark_entry__).
QUERIES = {
    zorder_tile_stats: ORACLE_ZORDER_TILES,
    compaction_plan: ORACLE_COMPACTION,
}
