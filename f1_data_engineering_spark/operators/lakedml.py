"""Row-level DML on the versioned lake as REGISTERED, oracle-checked
queries: build a scratch lake from ``orders``, run MERGE / DELETE /
UPDATE through ``sources/dml.py``, and summarize the resulting table
states so DuckDB can re-derive them declaratively.

Reference parity: the reference has no table format — its closest
shape is rewriting whole CSV trees per session
(src/transform/f1_dataTransformer.py:210-230); these operators are
the lakehouse-grade
replacement (VERDICT r7 "What's missing" item 3).

Verification shape: the DML path commits actual rewrite versions
(copy-on-write, file-granular) and the query then reads the table
back — the oracle reproduces the same end states with plain SQL
(LEFT JOIN + CASE for MERGE, NOT COALESCE(pred, FALSE) for DELETE's
NULL semantics), so a hash match certifies the whole mutate→commit→
snapshot-read pipeline, not just an expression.  Checksums follow
``integrity.table_checksum``'s recipe (md5 60-bit row hash, exact
DECIMAL(38,0) sum — order/file-layout independent) over the
non-float columns; the float column is summed via the exact
DECIMAL(18,2) cast (2-dp-valued doubles cast exactly on both
engines).  ``_ck_sql`` renders the same recipe for every oracle.

Scaffold: every lake query body (here, in ``lakemgmt``, ``lakeperf``
and ``curation_incremental``) runs inside :func:`_scratch_lake`, which
owns its directory, and builds its stage summaries lazily: a snapshot
read resolves its file list when it is called, and only vacuum deletes
files, so the tagged union of all stages is collected once, by one
:func:`_pin` at the end, before the directory goes.
"""

from __future__ import annotations

import os
import shutil
import tempfile
from contextlib import contextmanager
from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources import dml as D
from ..sources import versioned as V
from ..functions.text import memo_col
from ..sources.registry import load_table, table_row_count

_SEP = "\x1f"
_NULL = "\x00null"

#: Non-float orders columns carried into the row checksum (the float
#: ``o_totalprice`` is verified via the exact decimal sum instead —
#: double→string casts are not cross-engine-stable).
_CK_COLS = ("o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority")


@memo_col
def _ck_hash() -> F.Column:
    canon = F.concat_ws(
        _SEP,
        *[F.coalesce(F.col(c).cast("string"), F.lit(_NULL)) for c in _CK_COLS],
    )
    return F.conv(
        F.substring(F.md5(F.concat(F.lit("dml#"), canon).cast("binary")), 1, 15),
        16,
        10,
    ).cast("long")


@memo_col
def _state_aggs() -> list:
    """The three constant summary aggregates (memo_col — every lake
    query builds several state summaries per invocation)."""
    return [
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(_ck_hash().cast("decimal(38,0)")).cast("string").alias("checksum"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        .cast("double")
        .alias("sum_price"),
    ]


def _state_summary(df: DataFrame, label_col: F.Column, label_name: str) -> DataFrame:
    return df.groupBy(label_col.alias(label_name)).agg(*_state_aggs())


def _ck_sql(weight: str | None = None, alias: str | None = None) -> str:
    """DuckDB twin of the ``checksum`` aggregate: the exact sum of
    ``_ck_hash`` as a string.  ``weight`` multiplies each row's hash (a
    ±1 sign; NULL leaves the row out of the sum); ``alias`` qualifies
    the columns."""
    q = f"{alias}." if alias else ""
    w = f"{weight} * " if weight else ""
    cols = ",\n    ".join(
        f"COALESCE(CAST({q}{c} AS VARCHAR), chr(0) || 'null')" for c in _CK_COLS
    )
    return f"""CAST(SUM({w}CAST(CAST(('0x' || substr(md5('dml#' || concat_ws(chr(31),
    {cols})), 1, 15))
    AS BIGINT) AS DECIMAL(38,0))) AS VARCHAR)"""


#: The oracle side of ``_state_aggs``: ``n_rows, checksum, sum_price``.
_STATE_SQL = f"""CAST(COUNT(*) AS BIGINT) AS n_rows,
  {_ck_sql()} AS checksum,
  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price"""


@contextmanager
def _scratch_lake(work_dir: str | None, prefix: str):
    """The directory a lake query builds its tables in: ``work_dir``
    when the caller gives one, left in place for the caller to read,
    else a temp dir that is removed however the body exits."""
    if work_dir:
        yield work_dir
        return
    tmp = tempfile.mkdtemp(prefix=prefix)
    try:
        yield tmp
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


@contextmanager
def _cached(df: DataFrame):
    """``df`` cached for the body of the ``with``, released after it."""
    df = df.cache()
    try:
        yield df
    finally:
        df.unpersist()


def _pin(spark: SparkSession, df: DataFrame) -> DataFrame:
    """Materialize a metadata-sized summary into a local DataFrame so
    the scratch lake can be deleted before returning."""
    return spark.createDataFrame(df.collect(), df.schema)


def _pin_union(spark: SparkSession, outs: list[DataFrame], *order) -> DataFrame:
    """Every stage summary of a query, tagged and collected in one pin."""
    return _pin(spark, reduce(DataFrame.unionByName, outs).orderBy(*order))


def merge_upsert_orders(
    spark: SparkSession, sf_dir: str, work_dir: str | None = None
) -> DataFrame:
    """``MERGE INTO`` end-to-end: seed a range-clustered versioned lake
    with 80% of ``orders`` (o_orderkey % 10 < 8), merge a source delta
    built from the other overlap (% 10 >= 5: keys 5-7 update in place,
    8-9 insert), and summarize the post-merge snapshot per
    ``o_orderstatus`` — updated rows all land under status ``'M'``.

    Scale shape: the merge rewrites only files owning a matched key
    (copy-on-write; the match scan is a broadcastable semi-join), and
    the summary is one scan of the result.
    """
    with _scratch_lake(work_dir, "dml_merge_") as tmp:
        t = os.path.join(tmp, "orders_lake")
        orders = load_table(spark, sf_dir, "orders")
        base = orders.filter("o_orderkey % 10 < 8").repartitionByRange(
            8, "o_orderkey"
        )
        V.write_versioned(base, t, mode="overwrite")
        src = orders.filter("o_orderkey % 10 >= 5").select(
            "o_orderkey",
            (F.col("o_custkey") + 5000000).alias("o_custkey"),
            F.lit("M").alias("o_orderstatus"),
            (F.col("o_totalprice") + F.lit(1.0)).alias("o_totalprice"),
            "o_orderdate",
            "o_orderpriority",
        )
        D.merge_into(
            spark,
            t,
            src,
            on=["o_orderkey"],
            when_matched_update={
                "o_custkey": "s.o_custkey",
                "o_orderstatus": "s.o_orderstatus",
                "o_totalprice": "s.o_totalprice",
            },
        )
        out = _state_summary(
            V.read_versioned(spark, t), F.col("o_orderstatus"), "o_orderstatus"
        ).orderBy("o_orderstatus")
        return _pin(spark, out)


ORACLE_MERGE_UPSERT = f"""
WITH base AS (
  SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderpriority
  FROM orders WHERE o_orderkey % 10 < 8
),
src AS (
  SELECT o_orderkey, o_custkey + 5000000 AS o_custkey,
         'M' AS o_orderstatus,
         o_totalprice + CAST(1 AS DOUBLE) AS o_totalprice,
         o_orderpriority
  FROM orders WHERE o_orderkey % 10 >= 5
),
merged AS (
  SELECT b.o_orderkey,
    CASE WHEN s.o_orderkey IS NULL THEN b.o_custkey ELSE s.o_custkey END AS o_custkey,
    CASE WHEN s.o_orderkey IS NULL THEN b.o_orderstatus ELSE s.o_orderstatus END AS o_orderstatus,
    CASE WHEN s.o_orderkey IS NULL THEN b.o_totalprice ELSE s.o_totalprice END AS o_totalprice,
    b.o_orderpriority
  FROM base b LEFT JOIN src s ON b.o_orderkey = s.o_orderkey
  UNION ALL
  SELECT s.o_orderkey, s.o_custkey, s.o_orderstatus, s.o_totalprice,
         s.o_orderpriority
  FROM src s WHERE NOT EXISTS (
    SELECT 1 FROM base b WHERE b.o_orderkey = s.o_orderkey
  )
)
SELECT o_orderstatus, {_STATE_SQL}
FROM merged GROUP BY o_orderstatus ORDER BY o_orderstatus
"""


def dml_lifecycle_orders(
    spark: SparkSession, sf_dir: str, work_dir: str | None = None
) -> DataFrame:
    """DELETE then UPDATE on a versioned lake, with each intermediate
    state read back by TIME TRAVEL: seed the lake with ``orders``
    (version 0), ``DELETE WHERE o_orderstatus = 'F' AND o_orderkey % 4
    = 1`` (version 1), ``UPDATE SET o_custkey += 1000000,
    o_orderpriority = '0-DML:' || … WHERE o_orderkey % 4 = 2``
    (version 2), then emit one summary row per version — the snapshot
    at v0 must still show the pre-DML table (rewrites preserve
    history), v1 the post-delete state, v2 the post-update state.

    Each DML rewrites only the files owning affected rows; the deltas
    are verified end-to-end because every stage's checksum covers the
    full surviving row set.
    """
    with _scratch_lake(work_dir, "dml_life_") as tmp:
        t = os.path.join(tmp, "orders_lake")
        orders = load_table(spark, sf_dir, "orders")
        V.write_versioned(
            orders.repartitionByRange(6, "o_orderkey"), t, mode="overwrite"
        )
        D.delete_where(spark, t, "o_orderstatus = 'F' AND o_orderkey % 4 = 1")
        D.update_where(
            spark,
            t,
            "o_orderkey % 4 = 2",
            {
                "o_custkey": "o_custkey + 1000000",
                "o_orderpriority": "concat('0-DML:', o_orderpriority)",
            },
        )
        stages = [("01_base", 0), ("02_after_delete", 1), ("03_after_update", 2)]
        outs = [
            _state_summary(
                V.read_versioned(spark, t, version=v), F.lit(name), "stage"
            )
            for name, v in stages
        ]
        return _pin_union(spark, outs, "stage")


ORACLE_DML_LIFECYCLE = f"""
WITH base AS (
  SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderpriority
  FROM orders
),
after_delete AS (
  -- DELETE removes rows where the predicate is TRUE; NULL-predicate
  -- rows survive (NOT COALESCE(pred, FALSE) — the dml.py contract)
  SELECT * FROM base
  WHERE NOT COALESCE(o_orderstatus = 'F' AND o_orderkey % 4 = 1, FALSE)
),
after_update AS (
  SELECT o_orderkey,
    CASE WHEN COALESCE(o_orderkey % 4 = 2, FALSE)
         THEN o_custkey + 1000000 ELSE o_custkey END AS o_custkey,
    o_orderstatus, o_totalprice,
    CASE WHEN COALESCE(o_orderkey % 4 = 2, FALSE)
         THEN '0-DML:' || o_orderpriority ELSE o_orderpriority END
      AS o_orderpriority
  FROM after_delete
),
stages AS (
  SELECT '01_base' AS stage, * FROM base
  UNION ALL
  SELECT '02_after_delete', * FROM after_delete
  UNION ALL
  SELECT '03_after_update', * FROM after_update
)
SELECT stage, {_STATE_SQL}
FROM stages GROUP BY stage ORDER BY stage
"""


def dml_mor_delete_orders(
    spark: SparkSession, sf_dir: str, work_dir: str | None = None
) -> DataFrame:
    """Merge-on-read DELETE end-to-end: seed the lake, delete via a
    DELETION VECTOR sidecar (no data file rewritten), read the
    snapshot back (scan-time DV anti-join), then COMPACT — which
    materializes the DVs into a clean snapshot — and read again.  Both
    stages must show the identical post-delete state, which is exactly
    what the oracle asserts by deriving that state twice in plain SQL:
    a value divergence in either the DV application or the compaction
    pipeline flips the hash.
    """
    with _scratch_lake(work_dir, "dml_mor_") as tmp:
        t = os.path.join(tmp, "orders_lake")
        orders = load_table(spark, sf_dir, "orders")
        V.write_versioned(
            orders.repartitionByRange(6, "o_orderkey"), t, mode="overwrite"
        )
        D.delete_where_mor(
            spark, t, "o_orderstatus = 'F' AND o_orderkey % 4 = 1"
        )
        stage1 = _state_summary(
            V.read_versioned(spark, t), F.lit("01_mor_delete"), "stage"
        )
        V.compact_versioned(spark, t, target_rows_per_file=1_000_000)
        stage2 = _state_summary(
            V.read_versioned(spark, t), F.lit("02_compacted"), "stage"
        )
        return _pin_union(spark, [stage1, stage2], "stage")


ORACLE_DML_MOR = f"""
WITH after_delete AS (
  SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderpriority
  FROM orders
  WHERE NOT COALESCE(o_orderstatus = 'F' AND o_orderkey % 4 = 1, FALSE)
),
stages AS (
  SELECT '01_mor_delete' AS stage, * FROM after_delete
  UNION ALL
  SELECT '02_compacted', * FROM after_delete
)
SELECT stage, {_STATE_SQL}
FROM stages GROUP BY stage ORDER BY stage
"""


def dml_change_feed_orders(
    spark: SparkSession, sf_dir: str, work_dir: str | None = None
) -> DataFrame:
    """Change-data feed over the DML lifecycle: run the same DELETE →
    UPDATE sequence as :func:`dml_lifecycle_orders` with
    ``capture_cdf=True``, then read the row-level change feed for
    versions (0, 2] and summarize it per (commit version, change
    type) — delete rows at v1, update pre/post images at v2, each
    with a full-content checksum, so the feed's row VALUES (not just
    its counts) sit under the oracle.  This is the stream a 100 TB
    downstream accumulator applies instead of rebuilding when its
    delta range crosses DML.
    """
    with _scratch_lake(work_dir, "dml_cdf_") as tmp:
        t = os.path.join(tmp, "orders_lake")
        orders = load_table(spark, sf_dir, "orders")
        V.write_versioned(
            orders.repartitionByRange(6, "o_orderkey"), t, mode="overwrite"
        )
        D.delete_where(
            spark,
            t,
            "o_orderstatus = 'F' AND o_orderkey % 4 = 1",
            capture_cdf=True,
        )
        D.update_where(
            spark,
            t,
            "o_orderkey % 4 = 2",
            {
                "o_custkey": "o_custkey + 1000000",
                "o_orderpriority": "concat('0-DML:', o_orderpriority)",
            },
            capture_cdf=True,
        )
        feed = D.read_change_feed(spark, t, 0, 2)
        out = (
            feed.groupBy(
                F.col("_commit_version").alias("commit_version"),
                F.col("_change_type").alias("change_type"),
            )
            .agg(*_state_aggs())
            .orderBy("commit_version", "change_type")
        )
        return _pin(spark, out)


ORACLE_DML_CDF = f"""
WITH base AS (
  SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderpriority
  FROM orders
),
v1_deleted AS (
  SELECT * FROM base
  WHERE COALESCE(o_orderstatus = 'F' AND o_orderkey % 4 = 1, FALSE)
),
after_delete AS (
  SELECT * FROM base
  WHERE NOT COALESCE(o_orderstatus = 'F' AND o_orderkey % 4 = 1, FALSE)
),
v2_pre AS (
  SELECT * FROM after_delete WHERE COALESCE(o_orderkey % 4 = 2, FALSE)
),
v2_post AS (
  SELECT o_orderkey, o_custkey + 1000000 AS o_custkey, o_orderstatus,
         o_totalprice, '0-DML:' || o_orderpriority AS o_orderpriority
  FROM v2_pre
),
feed AS (
  SELECT 1 AS commit_version, 'delete' AS change_type, * FROM v1_deleted
  UNION ALL
  SELECT 2, 'update_preimage', * FROM v2_pre
  UNION ALL
  SELECT 2, 'update_postimage', * FROM v2_post
)
SELECT CAST(commit_version AS BIGINT) AS commit_version, change_type,
  {_STATE_SQL}
FROM feed GROUP BY commit_version, change_type
ORDER BY commit_version, change_type
"""


def schema_evolution_orders(
    spark: SparkSession, sf_dir: str, work_dir: str | None = None
) -> DataFrame:
    """Additive schema evolution end-to-end: seed the lake WITHOUT
    ``o_orderstatus`` (even keys), append the odd keys WITH it — the
    log records the union schema and the v1 snapshot reads the old
    files' new column as NULL — then backfill the NULL group with a
    DML UPDATE over the evolved table (status ``'E'``).  One summary
    row per (stage, status), where stage 01 is the post-evolution
    snapshot read by TIME TRAVEL after the update committed — so the
    oracle simultaneously checks evolution NULL-fill, DML over an
    evolved schema, and schema-stable history.
    """
    with _scratch_lake(work_dir, "dml_evo_") as tmp:
        t = os.path.join(tmp, "orders_lake")
        orders = load_table(spark, sf_dir, "orders")
        narrow = orders.filter("o_orderkey % 2 = 0").select(
            "o_orderkey", "o_custkey", "o_totalprice", "o_orderpriority"
        )
        V.write_versioned(
            narrow.repartitionByRange(4, "o_orderkey"), t, mode="overwrite"
        )
        wide = orders.filter("o_orderkey % 2 = 1").select(
            "o_orderkey",
            "o_custkey",
            "o_totalprice",
            "o_orderpriority",
            "o_orderstatus",
        )
        V.write_versioned(wide, t, mode="append")  # additive evolution
        D.update_where(
            spark, t, "o_orderstatus IS NULL", {"o_orderstatus": "'E'"}
        )
        outs = [
            _state_summary(
                V.read_versioned(spark, t, version=v),
                F.col("o_orderstatus"),
                "o_orderstatus",
            ).select(F.lit(name).alias("stage"), "*")
            for name, v in (("01_evolved", 1), ("02_backfilled", 2))
        ]
        return _pin_union(
            spark, outs, "stage", F.col("o_orderstatus").asc_nulls_last()
        )


ORACLE_SCHEMA_EVOLUTION = f"""
WITH v1 AS (
  SELECT o_orderkey, o_custkey, o_totalprice, o_orderpriority,
         CAST(NULL AS VARCHAR) AS o_orderstatus
  FROM orders WHERE o_orderkey % 2 = 0
  UNION ALL
  SELECT o_orderkey, o_custkey, o_totalprice, o_orderpriority, o_orderstatus
  FROM orders WHERE o_orderkey % 2 = 1
),
v2 AS (
  SELECT o_orderkey, o_custkey, o_totalprice, o_orderpriority,
         COALESCE(o_orderstatus, 'E') AS o_orderstatus
  FROM v1
),
stages AS (
  SELECT '01_evolved' AS stage, * FROM v1
  UNION ALL
  SELECT '02_backfilled', * FROM v2
)
SELECT stage, o_orderstatus, {_STATE_SQL}
FROM stages GROUP BY stage, o_orderstatus
ORDER BY stage, o_orderstatus NULLS LAST
"""


# ---------------------------------------------------------------------------
# CDC apply: incremental view maintenance from the change feed
# ---------------------------------------------------------------------------


def _signed_rollup(df: DataFrame, sign: F.Column) -> DataFrame:
    """Per-priority rollup where every row contributes with ``sign``
    (±1): additive in rows, checksum, and price — the algebraic form
    that makes the rollup MAINTAINABLE from a change feed (a delete /
    update-preimage is just the row re-aggregated at −1).

    SUM over a NULLABLE measure is only maintainable alongside a count
    of its NON-NULL contributions (``n_price``): the leaf sums
    ``coalesce(price, 0)`` so NULL rows are sign-neutral, and the
    combiner re-derives SQL's NULL-when-no-input semantics from
    ``n_price`` — without it, a group whose last non-NULL price is
    deleted would maintain to 0 where a recompute says NULL (the
    textbook incremental-SUM pitfall)."""
    p = F.coalesce(F.col("o_totalprice").cast("decimal(18,2)"), F.lit(0).cast("decimal(18,2)"))
    notnull = F.col("o_totalprice").isNotNull().cast("long")
    return df.groupBy("o_orderpriority").agg(
        F.sum(sign).cast("long").alias("n_rows"),
        # sign·hash stays within long range (hash < 2^60); the decimal
        # cast happens on the signed value so the running sum is exact
        F.sum((sign * _ck_hash()).cast("decimal(38,0)")).alias("ck"),
        F.sum(F.when(sign < 0, -p).otherwise(p)).alias("price"),
        F.sum(sign * notnull).cast("long").alias("n_price"),
    )


def cdc_apply_rollup_orders(
    spark: SparkSession, sf_dir: str, work_dir: str | None = None
) -> DataFrame:
    """Incremental view maintenance: a downstream per-priority rollup
    kept current by APPLYING the lake's row-level change feed instead
    of rescanning the table.

    The scenario crosses every change type — DELETE, a GROUP-MIGRATING
    UPDATE (it rewrites ``o_orderpriority`` itself, so pre-image and
    post-image land in different groups — the case naive "recompute
    changed groups" maintenance gets wrong), and INSERT — applied as
    ONE native multi-clause conditional MERGE (round 10): an op-tagged
    CDC source with an ordered ``WHEN MATCHED AND s._op='delete' THEN
    DELETE / WHEN MATCHED AND s._op='update' THEN UPDATE / WHEN NOT
    MATCHED AND s._op='insert' THEN INSERT`` chain, replacing the
    hand-composed delete_where + update_where + append sequence (the
    append-files-ARE-the-feed path stays covered by
    ``dml_change_feed_orders``).  Op priority delete > update in the
    source reproduces the sequential semantics (a row matching both
    predicates is deleted).  The maintained rollup is
    base ⊎ signed-feed-deltas — the result NEVER reads the final
    snapshot, so the oracle (which derives the end state declaratively
    and rolls it up) certifies the maintenance algebra itself: a sign
    error, a missed change type, a mishandled group migration, or a
    wrong clause resolution flips count, checksum, or price.

    Scale shape: per refresh the work is O(|changes|) + O(|rollup|) —
    at 100 TB the feed for a day is GBs while the table is the 100 TB;
    this is the consumer ``read_change_feed`` exists for.
    """
    with _scratch_lake(work_dir, "dml_ivm_") as tmp:
        t = os.path.join(tmp, "orders_lake")
        orders = load_table(spark, sf_dir, "orders")
        V.write_versioned(
            orders.repartitionByRange(6, "o_orderkey"), t, mode="overwrite"
        )
        base = _signed_rollup(V.read_versioned(spark, t, version=0), F.lit(1))
        cols = [
            "o_orderkey",
            "o_custkey",
            "o_orderstatus",
            "o_totalprice",
            "o_orderdate",
            "o_orderpriority",
        ]
        matched_ops = orders.select(
            *cols,
            F.when(
                F.expr("o_orderstatus = 'F' AND o_orderkey % 7 = 3"),
                F.lit("delete"),
            )
            .when(F.expr("o_orderkey % 5 = 2"), F.lit("update"))
            .alias("_op"),
        ).filter(F.col("_op").isNotNull())
        late = orders.filter("o_orderkey % 10 = 6").select(
            (F.col("o_orderkey") + 900000000).alias("o_orderkey"),
            "o_custkey",
            F.lit("A").alias("o_orderstatus"),
            "o_totalprice",
            "o_orderdate",
            "o_orderpriority",
            F.lit("insert").alias("_op"),
        )
        r = D.merge_into(
            spark,
            t,
            matched_ops.unionByName(late),
            on=["o_orderkey"],
            when_matched=[
                {"action": "delete", "condition": "s._op = 'delete'"},
                {
                    "action": "update",
                    "condition": "s._op = 'update'",
                    "set": {
                        "o_orderpriority": (
                            "concat('9-MOVED:', t.o_orderpriority)"
                        ),
                        "o_totalprice": "t.o_totalprice + 10.0",
                    },
                },
            ],
            insert_condition="_op = 'insert'",
            capture_cdf=True,
        )
        feed = D.read_change_feed(spark, t, 0, r["version"])
        sign = F.when(
            F.col("_change_type").isin("delete", "update_preimage"), F.lit(-1)
        ).otherwise(F.lit(1))
        maintained = (
            base.unionByName(_signed_rollup(feed, sign))
            .groupBy("o_orderpriority")
            .agg(
                F.sum("n_rows").cast("long").alias("n_rows"),
                F.sum("ck").cast("decimal(38,0)").alias("ck"),
                F.sum("price").alias("price"),
                F.sum("n_price").cast("long").alias("n_price"),
            )
            .filter(F.col("n_rows") > 0)
            .select(
                "o_orderpriority",
                "n_rows",
                F.col("ck").cast("string").alias("checksum"),
                F.when(F.col("n_price") > 0, F.col("price"))
                .cast("double")
                .alias("sum_price"),
            )
            .orderBy(F.col("o_orderpriority").asc_nulls_last())
        )
        return _pin(spark, maintained)


ORACLE_CDC_APPLY = f"""
WITH base AS (
  SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderpriority
  FROM orders
),
after_delete AS (
  SELECT * FROM base
  WHERE NOT COALESCE(o_orderstatus = 'F' AND o_orderkey % 7 = 3, FALSE)
),
after_update AS (
  SELECT o_orderkey, o_custkey, o_orderstatus,
    CASE WHEN COALESCE(o_orderkey % 5 = 2, FALSE)
      THEN o_totalprice + 10.0 ELSE o_totalprice END AS o_totalprice,
    CASE WHEN COALESCE(o_orderkey % 5 = 2, FALSE)
      THEN '9-MOVED:' || o_orderpriority ELSE o_orderpriority
      END AS o_orderpriority
  FROM after_delete
),
inserted AS (
  SELECT o_orderkey + 900000000 AS o_orderkey, o_custkey,
         'A' AS o_orderstatus, o_totalprice, o_orderpriority
  FROM base WHERE COALESCE(o_orderkey % 10 = 6, FALSE)
),
final AS (
  SELECT * FROM after_update UNION ALL SELECT * FROM inserted
)
SELECT o_orderpriority, {_STATE_SQL}
FROM final GROUP BY o_orderpriority
ORDER BY o_orderpriority NULLS LAST
"""


def lake_restore_orders(
    spark: SparkSession, sf_dir: str, work_dir: str | None = None
) -> DataFrame:
    """``RESTORE TABLE … TO VERSION AS OF`` end-to-end (round 9): seed
    a versioned lake from ``orders`` (v0), ``DELETE WHERE o_orderkey %
    6 = 3`` (v1), ``UPDATE SET o_totalprice += 5 WHERE o_orderkey % 4
    = 0`` (v2 — the "bad backfill"), then RESTORE to v1 (v3) and emit
    one summary row per observable state: the pre-restore head, the
    restored head, and the still-time-travelable original.

    The oracle re-derives all three states declaratively; the query
    itself asserts the restore-specific properties the oracle cannot
    see: the restored snapshot references v1's files BY NAME (no data
    copied or rewritten — restore is pure log arithmetic) and commits
    a real new version (history preserved, head == 3).
    """
    with _scratch_lake(work_dir, "dml_restore_") as tmp:
        t = os.path.join(tmp, "orders_lake")
        orders = load_table(spark, sf_dir, "orders")
        V.write_versioned(
            orders.repartitionByRange(6, "o_orderkey"), t, mode="overwrite"
        )
        D.delete_where(spark, t, "o_orderkey % 6 = 3")
        D.update_where(
            spark, t, "o_orderkey % 4 = 0", {"o_totalprice": "o_totalprice + 5"}
        )
        # the head read resolves v2's files now, so it keeps reading
        # the pre-restore state after the head moves
        pre = V.read_versioned(spark, t)
        new_v = V.restore_versioned(t, 1)
        if new_v != 3 or V._snapshot_files(t, None) != V._snapshot_files(t, 1):
            raise AssertionError(
                "restore must commit v3 referencing v1's files by name"
            )
        outs = [
            _state_summary(df, F.lit(stage), "stage")
            for stage, df in (
                ("01_before_restore", pre),
                ("02_after_restore", V.read_versioned(spark, t)),
                ("03_original_v0", V.read_versioned(spark, t, version=0)),
            )
        ]
        return _pin_union(spark, outs, "stage")

ORACLE_LAKE_RESTORE = f"""
WITH base AS (
  SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderpriority
  FROM orders
),
after_delete AS (
  SELECT * FROM base WHERE NOT COALESCE(o_orderkey % 6 = 3, FALSE)
),
after_update AS (
  SELECT o_orderkey, o_custkey, o_orderstatus,
    CASE WHEN COALESCE(o_orderkey % 4 = 0, FALSE)
      THEN o_totalprice + 5 ELSE o_totalprice END AS o_totalprice,
    o_orderpriority
  FROM after_delete
),
stages AS (
  SELECT '01_before_restore' AS stage, * FROM after_update
  UNION ALL
  SELECT '02_after_restore' AS stage, * FROM after_delete
  UNION ALL
  SELECT '03_original_v0' AS stage, * FROM base
)
SELECT stage, {_STATE_SQL}
FROM stages GROUP BY stage ORDER BY stage
"""


def small_compaction_orders(
    spark: SparkSession, sf_dir: str, work_dir: str | None = None
) -> DataFrame:
    """Selective small-file compaction end-to-end (round 9): seed a
    lake with ``orders`` split into a FEW big files (o_orderkey % 4
    != 0, 4 files) plus MANY small appended files (% 4 = 0, one file
    per o_orderkey % 32 slice), MoR-delete a stripe
    (o_orderkey % 8 = 4 — landing in the small files), then
    ``compact_small_files`` and summarize the head per
    ``o_orderstatus`` ALONGSIDE an incremental leg: the change feed
    read ACROSS the compaction (which must contain exactly the seed-
    and append-era inserts plus the delete rows — the layout commit is
    dataChange=false and therefore invisible).

    In-query assertions (invisible to the oracle): the big files carry
    by reference, only small files are rewritten, and the compaction
    committed data_change=false.
    """
    with _scratch_lake(work_dir, "dml_smallcpt_") as tmp:
        t = os.path.join(tmp, "orders_lake")
        orders = load_table(spark, sf_dir, "orders")
        big = orders.filter("o_orderkey % 4 != 0").repartitionByRange(
            4, "o_orderkey"
        )
        V.write_versioned(big, t, mode="overwrite")
        small = orders.filter("o_orderkey % 4 = 0").repartition(
            32, (F.col("o_orderkey") % 32)
        )
        V.write_versioned(small, t, mode="append")
        D.delete_where_mor(spark, t, "o_orderkey % 8 = 4", capture_cdf=True)
        before = set(V._snapshot_files(t, None))
        # footer-count sizing: no Spark job (registry.table_row_count)
        n_total = table_row_count(sf_dir, "orders")
        # threshold sized between the small files (~n/128 rows each)
        # and the big ones (~3n/16): big files must NOT qualify
        r = V.compact_small_files(
            spark,
            t,
            target_rows_per_file=max(1, n_total),
            small_rows=max(2, n_total // 10),
        )
        after = set(V._snapshot_files(t, None))
        entry = V._entries(t)[-1]
        if (
            r["files_compacted"] == 0
            or entry.get("data_change", True)
            or not ({f for f in before if f in after} >= set(V._snapshot_files(t, 0)))
        ):
            raise AssertionError(
                "selective compaction must rewrite only the small files "
                "(big files carried by reference) as a data_change=false "
                "commit"
            )
        head = _state_summary(
            V.read_versioned(spark, t), F.col("o_orderstatus"), "o_orderstatus"
        ).withColumn("leg", F.lit("1_head"))
        feed = D.read_change_feed(spark, t, -1, V.latest_version(t))
        feed_leg = (
            feed.withColumn(
                "w",
                F.when(F.col("_change_type") == "delete", F.lit(-1)).otherwise(
                    F.lit(1)
                ),
            )
            .groupBy("o_orderstatus")
            .agg(
                F.sum("w").cast("long").alias("n_rows"),
                F.sum(F.col("w") * _ck_hash().cast("decimal(38,0)"))
                .cast("string")
                .alias("checksum"),
                F.sum(
                    F.col("w").cast("decimal(18,2)")
                    * F.col("o_totalprice").cast("decimal(18,2)")
                )
                .cast("double")
                .alias("sum_price"),
            )
            .withColumn("leg", F.lit("2_feed_signed"))
        )
        out = (
            head.unionByName(feed_leg)
            .select("leg", "o_orderstatus", "n_rows", "checksum", "sum_price")
            .orderBy("leg", "o_orderstatus")
        )
        return _pin(spark, out)

ORACLE_SMALL_COMPACTION = f"""
WITH base AS (
  SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
         o_orderpriority
  FROM orders
),
head AS (
  SELECT 1 AS w, * FROM base WHERE NOT COALESCE(o_orderkey % 8 = 4, FALSE)
),
feed AS (
  -- seed + append inserts (= every orders row once) at +1, the MoR
  -- delete's rows at -1; the compaction contributes NOTHING
  SELECT 1 AS w, * FROM base
  UNION ALL
  SELECT -1 AS w, * FROM base WHERE COALESCE(o_orderkey % 8 = 4, FALSE)
),
legs AS (
  SELECT '1_head' AS leg, w, o_orderkey, o_custkey, o_orderstatus,
         o_totalprice, o_orderpriority FROM head
  UNION ALL
  SELECT '2_feed_signed' AS leg, w, o_orderkey, o_custkey, o_orderstatus,
         o_totalprice, o_orderpriority FROM feed
)
SELECT leg, o_orderstatus, CAST(SUM(w) AS BIGINT) AS n_rows,
  {_ck_sql("w")} AS checksum,
  CAST(SUM(CAST(w AS DECIMAL(18,2)) * CAST(o_totalprice AS DECIMAL(18,2)))
       AS DOUBLE) AS sum_price
FROM legs GROUP BY leg, o_orderstatus ORDER BY leg, o_orderstatus
"""


#: Registered queries, each mapped to its DuckDB oracle (see __spark_entry__).
QUERIES = {
    merge_upsert_orders: ORACLE_MERGE_UPSERT,
    dml_lifecycle_orders: ORACLE_DML_LIFECYCLE,
    dml_mor_delete_orders: ORACLE_DML_MOR,
    dml_change_feed_orders: ORACLE_DML_CDF,
    schema_evolution_orders: ORACLE_SCHEMA_EVOLUTION,
    cdc_apply_rollup_orders: ORACLE_CDC_APPLY,
    lake_restore_orders: ORACLE_LAKE_RESTORE,
    small_compaction_orders: ORACLE_SMALL_COMPACTION,
}
