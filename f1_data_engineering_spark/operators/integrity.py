"""Referential-integrity audit: orphan counts for every FK edge of the
test warehouse in one result table.

The reference trusts its extractor to emit consistent CSVs (no FK
checks anywhere in f1_dataTransformer.py); a lake ingesting from many
producers can't.  This is the standing data-quality gate a 100 TB
deployment schedules after every load.

Scale shape per edge: LEFT ANTI join child→parent on the key.  Parent
key sets are DISTINCT-projected first (a parent table's key column is
far smaller than the table) and broadcast when small; the anti join
never materializes matches, so each edge costs one pass over the
child's key column.  Edges evaluate independently — Spark runs the
union's branches as parallel jobs under the same action.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.registry import load_table

#: (edge name, child table, child key, parent table, parent key)
FK_EDGES = (
    ("lineitem.l_orderkey->orders", "lineitem", "l_orderkey", "orders", "o_orderkey"),
    ("orders.o_custkey->customer", "orders", "o_custkey", "customer", "c_custkey"),
    ("customer.c_nationkey->nation", "customer", "c_nationkey", "nation", "n_nationkey"),
    ("supplier.s_nationkey->nation", "supplier", "s_nationkey", "nation", "n_nationkey"),
    ("nation.n_regionkey->region", "nation", "n_regionkey", "region", "r_regionkey"),
)


def fk_orphan_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One row per FK edge: child rows, child rows with NULL keys, and
    orphans (non-null keys with no parent)."""
    outs = []
    for name, child, ck, parent, pk in FK_EDGES:
        c = load_table(spark, sf_dir, child).select(F.col(ck).alias("k"))
        p = load_table(spark, sf_dir, parent).select(F.col(pk).alias("k")).distinct()
        orphans = (
            c.filter(F.col("k").isNotNull())
            .join(F.broadcast(p), "k", "left_anti")
            .agg(F.count(F.lit(1)).alias("n_orphans"))
        )
        totals = c.agg(
            F.count(F.lit(1)).alias("n_child"),
            # COALESCE matches the oracle: SUM over an EMPTY child table
            # is NULL (→ float64 in pandas, hash-visible), not 0
            F.coalesce(
                F.sum(F.when(F.col("k").isNull(), 1).otherwise(0)), F.lit(0)
            )
            .cast("bigint")
            .alias("n_null_keys"),
        )
        outs.append(
            totals.crossJoin(orphans).select(
                F.lit(name).alias("fk_edge"), "n_child", "n_null_keys", "n_orphans"
            )
        )
    return reduce(DataFrame.unionByName, outs)


def _sql_edge(name: str, child: str, ck: str, parent: str, pk: str) -> str:
    return f"""
SELECT '{name}' AS fk_edge,
  CAST(COUNT(*) AS BIGINT) AS n_child,
  CAST(COALESCE(SUM(CASE WHEN c.{ck} IS NULL THEN 1 ELSE 0 END), 0) AS BIGINT)
    AS n_null_keys,
  CAST(COALESCE(SUM(CASE WHEN c.{ck} IS NOT NULL AND p.{pk} IS NULL
                          THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_orphans
FROM {child} c LEFT JOIN (SELECT DISTINCT {pk} FROM {parent}) p
  ON c.{ck} = p.{pk}"""


ORACLE_FK_AUDIT = "\nUNION ALL\n".join(_sql_edge(*e) for e in FK_EDGES)


# ---------------------------------------------------------------------------
# Declarative data-quality expectation suite
# ---------------------------------------------------------------------------

#: (table, expectation id, violation predicate SQL, description kind)
#: predicate is SQL shared VERBATIM by both engines — the Spark side
#: wraps it in F.expr, the oracle pastes it into CASE WHEN.
#: ``unique:<col>`` rows are computed from count/countDistinct instead.
DQ_EXPECTATIONS: tuple[tuple[str, str, str], ...] = (
    ("orders", "o_orderkey_not_null", "o_orderkey IS NULL"),
    ("orders", "o_orderkey_unique", "unique:o_orderkey"),
    ("orders", "o_totalprice_range_0_1e6",
     "o_totalprice IS NOT NULL AND (o_totalprice < 0 OR o_totalprice > 1000000)"),
    ("orders", "o_orderdate_not_null", "o_orderdate IS NULL"),
    ("customer", "c_custkey_unique", "unique:c_custkey"),
    ("customer", "c_acctbal_range",
     "c_acctbal IS NOT NULL AND (c_acctbal < -1000 OR c_acctbal > 100000)"),
    ("events", "event_id_unique", "unique:event_id"),
    ("events", "user_id_not_null", "user_id IS NULL"),
    ("events", "value_not_null", "value IS NULL"),
    ("events", "event_type_known",
     "event_type IS NOT NULL AND event_type NOT IN ('click', 'view', 'purchase', 'signup', 'error')"),
    ("documents", "doc_id_unique", "unique:doc_id"),
    ("documents", "text_not_null", "text IS NULL"),
    ("documents", "n_chars_consistent",
     "n_chars IS DISTINCT FROM length(coalesce(text, ''))"),
)


def dq_expectations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The standing expectation suite a lake runs after every load:
    one row per declared expectation with its violation count and
    pass/fail status — the composed form of the per-check audits
    (fk_orphan_audit above is the referential leg; this is the
    column-contract leg).

    Scale shape: ALL of a table's expectations evaluate in ONE
    aggregate pass over that table (conditional sums + countDistinct
    share the scan), then the single agg row fans out to per-
    expectation rows — a driver-trivial unpivot of a 1-row frame.
    Tables evaluate independently (parallel jobs under one action);
    nothing shuffles more than the partial-agg rows.  The violation
    predicates are SQL strings shared verbatim with the oracle.
    """
    by_table: dict[str, list[tuple[str, str]]] = {}
    for table, exp_id, pred in DQ_EXPECTATIONS:
        by_table.setdefault(table, []).append((exp_id, pred))

    outs = []
    for table, exps in by_table.items():
        t = load_table(spark, sf_dir, table)
        aggs = [F.count(F.lit(1)).alias("n_rows")]
        for exp_id, pred in exps:
            if pred.startswith("unique:"):
                col = pred.split(":", 1)[1]
                aggs.append(
                    (F.count(col) - F.countDistinct(col))
                    .cast("bigint")
                    .alias(exp_id)
                )
            else:
                aggs.append(
                    F.coalesce(
                        F.sum(F.when(F.expr(pred), 1).otherwise(0)), F.lit(0)
                    )
                    .cast("bigint")
                    .alias(exp_id)
                )
        one = t.agg(*aggs)
        for exp_id, _ in exps:
            outs.append(
                one.select(
                    F.lit(table).alias("table_name"),
                    F.lit(exp_id).alias("expectation"),
                    F.col("n_rows"),
                    F.col(exp_id).alias("n_violations"),
                    F.when(F.col(exp_id) == 0, F.lit("pass"))
                    .otherwise(F.lit("fail"))
                    .alias("status"),
                )
            )
    return reduce(DataFrame.unionByName, outs).orderBy(
        "table_name", "expectation"
    )


def _sql_dq_table(
    table: str, exps: list[tuple[str, str]]
) -> tuple[str, list[str]]:
    cols = ["CAST(COUNT(*) AS BIGINT) AS n_rows"]
    for exp_id, pred in exps:
        if pred.startswith("unique:"):
            col = pred.split(":", 1)[1]
            cols.append(
                f"CAST(COUNT({col}) - COUNT(DISTINCT {col}) AS BIGINT) AS {exp_id}"
            )
        else:
            cols.append(
                f"CAST(COALESCE(SUM(CASE WHEN {pred} THEN 1 ELSE 0 END), 0) AS BIGINT) AS {exp_id}"
            )
    agg = f"SELECT {', '.join(cols)} FROM {table}"
    rows = [
        f"SELECT '{table}' AS table_name, '{exp_id}' AS expectation, n_rows, "
        f"{exp_id} AS n_violations, "
        f"CASE WHEN {exp_id} = 0 THEN 'pass' ELSE 'fail' END AS status "
        f"FROM agg_{table}"
        for exp_id, _ in exps
    ]
    return agg, rows


def _oracle_dq() -> str:
    by_table: dict[str, list[tuple[str, str]]] = {}
    for table, exp_id, pred in DQ_EXPECTATIONS:
        by_table.setdefault(table, []).append((exp_id, pred))
    ctes, selects = [], []
    for table, exps in by_table.items():
        agg, rows = _sql_dq_table(table, exps)
        ctes.append(f"agg_{table} AS ({agg})")
        selects.extend(rows)
    return (
        "WITH " + ",\n".join(ctes) + "\n"
        + "\nUNION ALL\n".join(selects)
        + "\nORDER BY table_name, expectation"
    )


ORACLE_DQ = _oracle_dq()


# ---------------------------------------------------------------------------
# Order-independent table checksums (replication / migration audit)
# ---------------------------------------------------------------------------

#: (table, canonical hash columns) — int/string columns only: their
#: string forms are engine-identical ("123", "abc"); doubles and
#: timestamps need a per-type canonical formatter first (same caveat
#: as analytics4's NDV sketches).
CHECKSUM_COLUMNS: tuple[tuple[str, tuple[str, ...]], ...] = (
    ("region", ("r_regionkey", "r_name")),
    ("nation", ("n_nationkey", "n_name", "n_regionkey")),
    ("customer", ("c_custkey", "c_name", "c_nationkey", "c_mktsegment")),
    ("orders", ("o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority")),
    ("events", ("event_id", "user_id", "event_type")),
    ("documents", ("doc_id", "lang", "source", "n_chars")),
)

_CK_SEP = "\x1f"  # unit separator: cannot appear in the key columns
_CK_NULL = "\x00null"


def table_checksum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-independent content checksum per table: the SUM (exact
    DECIMAL(38,0) — commutative, associative) of a 60-bit md5 row hash
    over canonical column strings.  Two replicas match iff their
    checksums and row counts match, regardless of row order, file
    layout, or partitioning — the cheap answer to "did the migration /
    replication / compaction preserve the data?".

    Scale shape: one scan per table, hash computed scan-side, one
    1-row aggregate — map-side partials sum locally, bytes crossing
    the shuffle ≈ tasks × 16 B.  Checksums MERGE by addition, so
    per-partition checksums roll up to any subset (store them per
    file/partition and verify incrementally).  NULLs map to a sentinel
    below any real value; columns join on an unprintable separator.
    """
    from functools import reduce

    outs = []
    for table, cols in CHECKSUM_COLUMNS:
        t = load_table(spark, sf_dir, table)
        canon = F.concat_ws(
            _CK_SEP,
            *[
                F.coalesce(F.col(c).cast("string"), F.lit(_CK_NULL))
                for c in cols
            ],
        )
        h = F.conv(
            F.substring(
                F.md5(F.concat(F.lit("ck#"), canon).cast("binary")), 1, 15
            ),
            16,
            10,
        ).cast("long")
        outs.append(
            t.agg(
                F.count(F.lit(1)).alias("n_rows"),
                F.sum(h.cast("decimal(38,0)")).cast("string").alias("checksum"),
            ).select(
                F.lit(table).alias("table_name"), "n_rows", "checksum"
            )
        )
    return reduce(DataFrame.unionByName, outs).orderBy("table_name")


def _sql_checksum(table: str, cols: tuple[str, ...]) -> str:
    canon = ", ".join(
        f"COALESCE(CAST({c} AS VARCHAR), chr(0) || 'null')" for c in cols
    )
    return f"""
SELECT '{table}' AS table_name,
  CAST(COUNT(*) AS BIGINT) AS n_rows,
  CAST(SUM(CAST(CAST(('0x' || substr(md5('ck#' || concat_ws(chr(31), {canon})), 1, 15)) AS BIGINT) AS DECIMAL(38,0))) AS VARCHAR) AS checksum
FROM {table}"""


ORACLE_TABLE_CHECKSUM = (
    "SELECT * FROM (\n"
    + "\nUNION ALL\n".join(_sql_checksum(*e) for e in CHECKSUM_COLUMNS)
    + "\n) ORDER BY table_name"
)


#: Registered queries, each mapped to its DuckDB oracle (see __spark_entry__).
QUERIES = {
    fk_orphan_audit: ORACLE_FK_AUDIT,
    dq_expectations: ORACLE_DQ,
    table_checksum: ORACLE_TABLE_CHECKSUM,
}
