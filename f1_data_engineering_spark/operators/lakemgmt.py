"""Lake MANAGEMENT surface as registered, oracle-checked queries:
the round-10 features (zero-copy CLONE, CHECK constraints, DESCRIBE
DETAIL, TIMESTAMP AS OF, VACUUM DRY RUN, scoped OPTIMIZE ZORDER) were
pytest-pinned only — the driver's oracle gate never saw them (VERDICT
r10 "What's missing" item 1).  Each operator here builds a scratch
versioned lake from ``orders``, exercises the real management op, and
summarizes the resulting OBSERVABLE table states so DuckDB re-derives
them declaratively; the management-specific properties the oracle
cannot see (hardlinks, refused commits, file skip counts, tombstones)
are asserted IN the query, so a silent regression is a hard failure.

Reference parity: the reference has no table format — its whole-tree
CSV rewrite (src/transform/f1_dataTransformer.py:210-230) is the
closest shape; this module is the operational surface a lakehouse
replacement needs (clone for dev branches, constraints for write-time
DQ, describe/vacuum for operations, scoped optimize for steady-state
maintenance).

Verification shape: identical to operators/lakedml.py — checksums are
the shared md5 60-bit row hash + exact DECIMAL sums (order/layout
independent), stages are labelled so one hash certifies several table
states at once, and each query collects its stages in one pin inside
the shared scratch-lake scaffold.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources import constraints as C
from ..sources import dml as D
from ..sources import versioned as V
from ..sources.registry import load_table
from .lakedml import _STATE_SQL, _pin_union, _scratch_lake, _state_summary
from .layout import zorder_versioned_scoped

_COLS = ("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
         "o_orderpriority")


def _orders5(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "orders").select(*_COLS)


def _meta_row(spark: SparkSession, like: DataFrame, stage: str,
              n: int, ck: str) -> DataFrame:
    """A metadata stage row in the state-summary schema, so version /
    constraint arithmetic is oracle-visible alongside the data states."""
    return spark.createDataFrame([(stage, n, ck, 0.0)], like.schema)


# ---------------------------------------------------------------------------
# CLONE + divergence + source-vacuum survival


def clone_diverge_orders(
    spark: SparkSession, sf_dir: str, work_dir: str | None = None
) -> DataFrame:
    """Zero-copy ``CLONE`` end-to-end (round 10 surface): seed a source
    lake from ``orders`` (v0), MoR-delete ``o_orderkey % 9 = 5`` (v1,
    deletion vector — the clone must carry MoR state), add a CHECK
    constraint (v2, carried to the clone), CLONE at head, then DIVERGE:
    ``DELETE WHERE o_orderkey % 4 = 1`` on the clone, ``UPDATE … SET
    o_totalprice += 11 WHERE o_orderkey % 4 = 2`` on the source — and
    finally VACUUM THE SOURCE (retain 0, age 0): the hardlinked bytes
    must keep every clone snapshot readable (the hazard Delta's shallow
    clone has; see sources/versioned.py clone_versioned docstring).

    In-query asserts (invisible to the oracle): every cloned file is a
    hardlink (st_nlink ≥ 2 — zero bytes copied), the constraint set is
    re-declared on the clone, the source vacuum actually collects files,
    and the clone's seed version stays time-travelable AFTER it.
    Oracle-certified states: source head, clone head, clone-at-seed.
    """
    with _scratch_lake(work_dir, "lake_clone_") as tmp:
        src = os.path.join(tmp, "src_lake")
        dst = os.path.join(tmp, "clone_lake")
        V.write_versioned(
            _orders5(spark, sf_dir).repartitionByRange(6, "o_orderkey"),
            src, mode="overwrite",
        )
        D.delete_where_mor(spark, src, "o_orderkey % 9 = 5")
        C.add_constraint(spark, src, "ck_nonneg", "o_totalprice >= 0")
        V.clone_versioned(src, dst)
        needed = V._snapshot_files(dst, None) + V._dv_files(dst, None)
        not_linked = [
            f for f in needed
            if os.stat(os.path.join(dst, f)).st_nlink < 2
        ]
        if not_linked:
            raise AssertionError(
                f"clone copied bytes instead of hardlinking: {not_linked[:3]}"
            )
        if C.table_constraints(dst) != C.table_constraints(src):
            raise AssertionError("clone must re-declare source constraints")
        # diverge both sides, then collect the source
        D.delete_where(spark, dst, "o_orderkey % 4 = 1")
        D.update_where(
            spark, src, "o_orderkey % 4 = 2",
            {"o_totalprice": "o_totalprice + 11"},
        )
        collected = [
            f for f in V.vacuum(src, retain_versions=0, min_age_seconds=0.0)
            if f.endswith(".parquet")
        ]
        if not collected:
            raise AssertionError(
                "source vacuum collected nothing — the clone-survival "
                "assertion below would be vacuous"
            )
        # the clone-seed read (v0 = the cloned snapshot) must survive
        # the SOURCE's vacuum — hardlinked bytes stay alive
        outs = [
            _state_summary(
                V.read_versioned(spark, path, version=ver), F.lit(stage), "stage"
            )
            for stage, path, ver in (
                ("1_source_head", src, None),
                ("2_clone_head", dst, None),
                ("3_clone_seed", dst, 0),
            )
        ]
        return _pin_union(spark, outs, "stage")


ORACLE_CLONE_DIVERGE = f"""
WITH base AS (
  SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderpriority
  FROM orders
),
seeded AS (  -- source v1 = clone v0: after the MoR delete
  SELECT * FROM base WHERE NOT COALESCE(o_orderkey % 9 = 5, FALSE)
),
stages AS (
  SELECT '1_source_head' AS stage, o_orderkey, o_custkey, o_orderstatus,
    CASE WHEN COALESCE(o_orderkey % 4 = 2, FALSE)
      THEN o_totalprice + 11 ELSE o_totalprice END AS o_totalprice,
    o_orderpriority
  FROM seeded
  UNION ALL
  SELECT '2_clone_head', * FROM seeded
  WHERE NOT COALESCE(o_orderkey % 4 = 1, FALSE)
  UNION ALL
  SELECT '3_clone_seed', * FROM seeded
)
SELECT stage, {_STATE_SQL}
FROM stages GROUP BY stage ORDER BY stage
"""


# ---------------------------------------------------------------------------
# CHECK constraints: accept / refuse / enforce / drop


def check_constraints_orders(
    spark: SparkSession, sf_dir: str, work_dir: str | None = None
) -> DataFrame:
    """CHECK-constraint lifecycle end-to-end (round 10 surface): seed
    from ``orders`` (v0), ``ADD CONSTRAINT ck_nonneg CHECK
    (o_totalprice >= 0)`` (v1 — current data satisfies), then exercise
    all four enforcement edges:

    * an ``ADD CONSTRAINT`` existing data violates is REFUSED (no
      commit — Delta semantics: readers may trust every live row);
    * an append with violating rows (price = -1) is REFUSED before
      staging — no new version, no garbage files;
    * an append that satisfies (price + 1000) commits (v2);
    * ``DROP CONSTRAINT`` (v3) re-opens the gate: the previously
      refused rows now commit (v4).

    The oracle certifies the surviving-row state (base + satisfied
    slice + post-drop slice); the refusals and version arithmetic are
    asserted in-query and surfaced in the ``2_meta`` stage row
    (n_rows = version count, checksum = constraints in effect at head).
    """
    with _scratch_lake(work_dir, "lake_ck_") as tmp:
        t = os.path.join(tmp, "orders_lake")
        base = _orders5(spark, sf_dir)
        V.write_versioned(
            base.repartitionByRange(4, "o_orderkey"), t, mode="overwrite"
        )
        C.add_constraint(spark, t, "ck_nonneg", "o_totalprice >= 0")
        # refusal 1: existing data violates → no commit
        try:
            C.add_constraint(spark, t, "ck_bad", "o_orderkey % 2 = 1")
            raise AssertionError("violated ADD CONSTRAINT must be refused")
        except C.ConstraintViolationError:
            pass
        if V.latest_version(t) != 1 or set(C.table_constraints(t)) != {"ck_nonneg"}:
            raise AssertionError("refused constraint must leave no commit")
        sl = base.filter("o_orderkey % 10 = 3")
        # refusal 2: violating append → no version, nothing staged
        try:
            V.write_versioned(
                sl.withColumn("o_totalprice", F.lit(-1.0)), t, mode="append"
            )
            raise AssertionError("violating append must be refused")
        except C.ConstraintViolationError:
            pass
        if V.latest_version(t) != 1:
            raise AssertionError("refused append must leave no commit")
        V.write_versioned(
            sl.withColumn("o_totalprice", F.col("o_totalprice") + 1000),
            t, mode="append",
        )
        C.drop_constraint(t, "ck_nonneg")
        V.write_versioned(
            sl.withColumn("o_totalprice", F.lit(-1.0)), t, mode="append"
        )
        if V.latest_version(t) != 4 or C.table_constraints(t):
            raise AssertionError("post-drop append must commit as v4")
        head = _state_summary(V.read_versioned(spark, t), F.lit("1_head"), "stage")
        meta = _meta_row(
            spark, head, "2_meta", V.latest_version(t) + 1,
            str(len(C.table_constraints(t))),
        )
        return _pin_union(spark, [head, meta], "stage")


ORACLE_CHECK_CONSTRAINTS = f"""
WITH base AS (
  SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderpriority
  FROM orders
),
sl AS (SELECT * FROM base WHERE COALESCE(o_orderkey % 10 = 3, FALSE)),
head AS (
  SELECT * FROM base
  UNION ALL
  SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice + 1000,
         o_orderpriority FROM sl
  UNION ALL
  SELECT o_orderkey, o_custkey, o_orderstatus, -1.0, o_orderpriority FROM sl
)
SELECT '1_head' AS stage, {_STATE_SQL}
FROM head
UNION ALL
SELECT '2_meta', CAST(5 AS BIGINT), '0', CAST(0.0 AS DOUBLE)
ORDER BY stage
"""


# ---------------------------------------------------------------------------
# DESCRIBE DETAIL


def describe_detail_orders(
    spark: SparkSession, sf_dir: str, work_dir: str | None = None
) -> DataFrame:
    """``DESCRIBE DETAIL`` end-to-end (round 10 surface): build a lake
    with every kind of state the summary reports — seed (v0, 6 files),
    append a slice (v1, 2 files), MoR-delete with change-feed capture
    (v2: deletion vector + CDF sidecars), ``ADD CONSTRAINT`` (v3) —
    then emit the DETERMINISTIC fields of :func:`versioned
    .describe_detail` as (metric, value) rows the oracle re-derives
    from ``orders`` (version, live file count, file-level row count,
    MoR-deleted rows, live rows, constraint count, column count).
    Environment-dependent fields (sidecar file counts follow scan
    parallelism; byte sizes follow compression) are asserted in-query
    instead: ≥1 DV sidecar, ≥1 CDF sidecar, positive live bytes, a
    commit timestamp.
    """
    with _scratch_lake(work_dir, "lake_detail_") as tmp:
        t = os.path.join(tmp, "orders_lake")
        base = _orders5(spark, sf_dir)
        V.write_versioned(
            base.repartitionByRange(6, "o_orderkey"), t, mode="overwrite"
        )
        V.write_versioned(
            base.filter("o_orderkey % 10 = 7").repartition(2),
            t, mode="append",
        )
        D.delete_where_mor(spark, t, "o_orderkey % 8 = 1", capture_cdf=True)
        C.add_constraint(spark, t, "ck_nonneg", "o_totalprice >= 0")
        d = V.describe_detail(t)
        if d["dv_sidecars"] < 1 or d["cdf_sidecars"] < 1:
            raise AssertionError(f"missing sidecars in DESCRIBE DETAIL: {d}")
        if not d["size_bytes"] > 0 or d["last_commit_ts"] is None:
            raise AssertionError(f"missing operational fields: {d}")
        if d["num_rows"] is None:
            raise AssertionError("file-level row stats missing from the log")
        rows = [
            ("01_version", float(d["version"])),
            ("02_num_files", float(d["num_files"])),
            ("03_file_rows", float(d["num_rows"])),
            ("04_mor_deleted_rows", float(d["mor_deleted_rows"])),
            ("05_live_rows", float(d["num_rows"] - d["mor_deleted_rows"])),
            ("06_constraints", float(len(d["constraints"]))),
            ("07_columns", float(len(d["columns"]))),
        ]
        return spark.createDataFrame(rows, "metric string, value double")


ORACLE_DESCRIBE_DETAIL = """
WITH sl AS (
  SELECT * FROM orders WHERE COALESCE(o_orderkey % 10 = 7, FALSE)
),
snap AS (
  SELECT o_orderkey FROM orders UNION ALL SELECT o_orderkey FROM sl
),
m AS (
  SELECT
    (SELECT COUNT(*) FROM snap) AS file_rows,
    (SELECT COUNT(*) FROM snap WHERE COALESCE(o_orderkey % 8 = 1, FALSE))
      AS mor_deleted
)
SELECT metric, CAST(value AS DOUBLE) AS value FROM (
  SELECT '01_version' AS metric, 3 AS value
  UNION ALL SELECT '02_num_files', 8
  UNION ALL SELECT '03_file_rows', file_rows FROM m
  UNION ALL SELECT '04_mor_deleted_rows', mor_deleted FROM m
  UNION ALL SELECT '05_live_rows', file_rows - mor_deleted FROM m
  UNION ALL SELECT '06_constraints', 1
  UNION ALL SELECT '07_columns', 5
) ORDER BY metric
"""


# ---------------------------------------------------------------------------
# TIMESTAMP AS OF


def _inject_commit_ts(path: str, ts_by_version: dict[int, float]) -> None:
    """Deterministically rewrite the log's commit timestamps (tests /
    oracle use only — committed entries are otherwise immutable).  The
    parsed-entry cache keys on (mtime, size), so the atomic replace
    below invalidates it exactly."""
    log = V._log_path(path)
    for name in os.listdir(log):
        if not V._ENTRY_RE.match(name):
            continue
        full = os.path.join(log, name)
        with open(full) as fh:
            e = json.load(fh)
        if e.get("version") in ts_by_version:
            e["ts"] = ts_by_version[e["version"]]
            tmp = full + ".tsinj"
            with open(tmp, "w") as fh:
                json.dump(e, fh)
            os.replace(tmp, full)


def timestamp_as_of_orders(
    spark: SparkSession, sf_dir: str, work_dir: str | None = None
) -> DataFrame:
    """``TIMESTAMP AS OF`` end-to-end (round 10 surface): seed from
    ``orders`` (v0), ``DELETE WHERE o_orderkey % 5 = 2`` (v1),
    ``UPDATE … SET o_totalprice += 9 WHERE o_orderkey % 3 = 0`` (v2),
    then pin the commit timestamps to 1000/2000/3000 epoch seconds
    (deterministic injection — the resolution logic under test is
    identical for injected and wall-clock stamps) and read the table
    at timestamps BETWEEN commits.

    In-query asserts pin the resolution rule (latest version at-or-
    before, Delta semantics) at every edge: exact hit, mid-gap,
    boundary-minus-epsilon, plus the REFUSALS for before-first and
    after-head timestamps and datetime coercion.  The oracle certifies
    the three resolved snapshot states.
    """
    import datetime

    with _scratch_lake(work_dir, "lake_tsasof_") as tmp:
        t = os.path.join(tmp, "orders_lake")
        V.write_versioned(
            _orders5(spark, sf_dir).repartitionByRange(6, "o_orderkey"),
            t, mode="overwrite",
        )
        D.delete_where(spark, t, "o_orderkey % 5 = 2")
        D.update_where(
            spark, t, "o_orderkey % 3 = 0", {"o_totalprice": "o_totalprice + 9"}
        )
        _inject_commit_ts(t, {0: 1000.0, 1: 2000.0, 2: 3000.0})
        expected = {
            1000.0: 0, 1999.5: 0, 2000.0: 1, 2999.0: 1, 3000.0: 2,
        }
        got = {ts: V.version_at_timestamp(t, ts) for ts in expected}
        if got != expected:
            raise AssertionError(f"TIMESTAMP AS OF resolution: {got}")
        if V.version_at_timestamp(
            t, datetime.datetime.fromtimestamp(2500.0)
        ) != 1:
            raise AssertionError("datetime coercion must resolve like epoch")
        for bad in (999.9, 3000.1):
            try:
                V.version_at_timestamp(t, bad)
                raise AssertionError(f"out-of-range ts {bad} must be refused")
            except ValueError:
                pass
        outs = [
            _state_summary(
                V.read_versioned(spark, t, timestamp=ts), F.lit(stage), "stage"
            )
            for stage, ts in (
                ("1_ts_v0", 1500.0), ("2_ts_v1", 2500.0), ("3_ts_v2", 3000.0)
            )
        ]
        return _pin_union(spark, outs, "stage")


ORACLE_TIMESTAMP_AS_OF = f"""
WITH base AS (
  SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderpriority
  FROM orders
),
after_delete AS (
  SELECT * FROM base WHERE NOT COALESCE(o_orderkey % 5 = 2, FALSE)
),
stages AS (
  SELECT '1_ts_v0' AS stage, * FROM base
  UNION ALL
  SELECT '2_ts_v1', * FROM after_delete
  UNION ALL
  SELECT '3_ts_v2', o_orderkey, o_custkey, o_orderstatus,
    CASE WHEN COALESCE(o_orderkey % 3 = 0, FALSE)
      THEN o_totalprice + 9 ELSE o_totalprice END,
    o_orderpriority
  FROM after_delete
)
SELECT stage, {_STATE_SQL}
FROM stages GROUP BY stage ORDER BY stage
"""


# ---------------------------------------------------------------------------
# VACUUM DRY RUN


def vacuum_dry_run_orders(
    spark: SparkSession, sf_dir: str, work_dir: str | None = None
) -> DataFrame:
    """``VACUUM … DRY RUN`` end-to-end (round 10 surface): seed from
    ``orders`` into exactly 6 range files (v0), OVERWRITE with a
    filtered+adjusted snapshot in 4 files (v1 — the 6 seed files are
    now time-travel-only), then:

    * DRY RUN (retain 0, age 0) must REPORT exactly the 6 dead files
      while touching NOTHING: the files stay on disk, v0 stays
      readable, zero tombstones recorded;
    * the real VACUUM must delete EXACTLY the dry-run's list (the
      operator's contract: the preview is the plan), record tombstones
      for all 6, keep the head readable, and end v0 time travel.

    The oracle certifies the head state and the 6-file arithmetic
    (``2_meta``: n_rows = dry-run count, checksum = tombstone count).
    """
    with _scratch_lake(work_dir, "lake_vacdry_") as tmp:
        t = os.path.join(tmp, "orders_lake")
        base = _orders5(spark, sf_dir)
        V.write_versioned(
            base.repartitionByRange(6, "o_orderkey"), t, mode="overwrite"
        )
        n_seed = V.read_versioned(spark, t).count()
        head_df = base.filter("NOT COALESCE(o_orderkey % 7 = 3, FALSE)").withColumn(
            "o_totalprice",
            F.when(F.col("o_orderkey") % 2 == 0,
                   F.col("o_totalprice") + 2).otherwise(F.col("o_totalprice")),
        )
        V.write_versioned(
            head_df.repartitionByRange(4, "o_orderkey"), t, mode="overwrite"
        )
        dry = V.vacuum(t, retain_versions=0, min_age_seconds=0.0, dry_run=True)
        dry_parquet = sorted(f for f in dry if f.endswith(".parquet"))
        if len(dry_parquet) != 6:
            raise AssertionError(f"expected 6 dead seed files, got {dry}")
        if any(not os.path.isfile(os.path.join(t, f)) for f in dry_parquet):
            raise AssertionError("DRY RUN must not delete anything")
        if V.read_versioned(spark, t, version=0).count() != n_seed:
            raise AssertionError("DRY RUN must leave time travel intact")
        if V.describe_detail(t)["vacuum_tombstones"] != 0:
            raise AssertionError("DRY RUN must record no tombstones")
        real = V.vacuum(t, retain_versions=0, min_age_seconds=0.0)
        if sorted(f for f in real if f.endswith(".parquet")) != dry_parquet:
            raise AssertionError(
                f"VACUUM deleted a different set than its DRY RUN: "
                f"{real} vs {dry_parquet}"
            )
        if any(os.path.isfile(os.path.join(t, f)) for f in dry_parquet):
            raise AssertionError("VACUUM left reported files on disk")
        n_tomb = V.describe_detail(t)["vacuum_tombstones"]
        if n_tomb != 6:
            raise AssertionError(f"expected 6 tombstones, got {n_tomb}")
        try:
            V.read_versioned(spark, t, version=0).count()
            raise AssertionError("time travel past a vacuum must fail")
        except AssertionError:
            raise
        except Exception:
            pass  # vacuumed snapshot is gone — any read error is correct
        head = _state_summary(V.read_versioned(spark, t), F.lit("1_head"), "stage")
        meta = _meta_row(spark, head, "2_meta", len(dry_parquet), str(n_tomb))
        return _pin_union(spark, [head, meta], "stage")


ORACLE_VACUUM_DRY_RUN = f"""
WITH head AS (
  SELECT o_orderkey, o_custkey, o_orderstatus,
    CASE WHEN o_orderkey % 2 = 0 THEN o_totalprice + 2
         ELSE o_totalprice END AS o_totalprice,
    o_orderpriority
  FROM orders
  WHERE NOT COALESCE(o_orderkey % 7 = 3, FALSE)
)
SELECT '1_head' AS stage, {_STATE_SQL}
FROM head
UNION ALL
SELECT '2_meta', CAST(6 AS BIGINT), '6', CAST(0.0 AS DOUBLE)
ORDER BY stage
"""


# ---------------------------------------------------------------------------
# Scoped OPTIMIZE ZORDER


def zorder_scoped_orders(
    spark: SparkSession, sf_dir: str, work_dir: str | None = None
) -> DataFrame:
    """Scoped ``OPTIMIZE … WHERE … ZORDER BY`` end-to-end (round 10
    surface): seed ``orders`` (plus a derived day column) range-
    partitioned on ``o_orderkey`` into 8 files, then z-order ONLY the
    bottom-quarter key range on (o_custkey, day) — the steady-state
    maintenance shape where yesterday's unclustered sliver is rewritten
    and everything else carries by reference.

    In-query asserts: only a minority of files is rewritten (the rest
    carry by name), the commit is ``data_change=False``, a key-range
    read over the scope scans ≈ only the rewritten files, and a narrow
    ``o_custkey`` read AFTER the rewrite skips ≥1 file (the z-payoff
    inside the scope; out-of-scope files keep their full custkey spans
    and must be scanned).  The oracle certifies full row preservation
    (stage 1) and both range-read results (stages 2-3).
    """
    with _scratch_lake(work_dir, "lake_zscope_") as tmp:
        t = os.path.join(tmp, "orders_lake")
        orders = load_table(spark, sf_dir, "orders").select(
            *_COLS,
            F.datediff(
                F.col("o_orderdate").cast("date"),
                F.lit("1990-01-01").cast("date"),
            ).cast("long").alias("day"),
        )
        V.write_versioned(
            orders.repartitionByRange(8, "o_orderkey"), t, mode="overwrite"
        )
        b = orders.agg(
            F.min("o_orderkey").alias("mink"), F.max("o_orderkey").alias("maxk"),
            F.min("o_custkey").alias("minc"), F.max("o_custkey").alias("maxc"),
        ).first()
        k_lo, k_hi = b["mink"], b["mink"] + (b["maxk"] - b["mink"]) // 4
        c_lo, c_hi = b["minc"], b["minc"] + (b["maxc"] - b["minc"]) // 16
        before = set(V._snapshot_files(t, None))
        r = zorder_versioned_scoped(
            spark, t, "o_custkey", "day", "o_orderkey", k_lo, k_hi, n_files=4
        )
        after = set(V._snapshot_files(t, None))
        if r["files_total"] != 8 or not (1 <= r["files_rewritten"] <= 4):
            raise AssertionError(f"scoped rewrite touched too much: {r}")
        entry = V._entries(t)[-1]
        if entry.get("data_change", True):
            raise AssertionError("scoped OPTIMIZE must commit data_change=false")
        carried = before & after
        if len(carried) != r["files_total"] - r["files_rewritten"]:
            raise AssertionError(
                f"out-of-scope files must carry by reference: "
                f"{len(carried)} carried vs {r}"
            )
        scope_df, scanned_k, total = V.read_versioned_pruned(
            spark, t, "o_orderkey", k_lo, k_hi
        )
        if scanned_k > r["files_out"] + 2:
            raise AssertionError(
                f"scope-range read scanned {scanned_k}/{total} — the "
                f"carried files' key stats should exclude the scope"
            )
        cust_df, scanned_c, total_c = V.read_versioned_pruned(
            spark, t, "o_custkey", c_lo, c_hi
        )
        if scanned_c > total_c - 1:
            raise AssertionError(
                f"z-order custkey skip regression: {scanned_c}/{total_c}"
            )
        outs = [
            _state_summary(df.drop("day"), F.lit(stage), "stage")
            for df, stage in (
                (V.read_versioned(spark, t), "1_head"),
                (scope_df, "2_scope_keys"),
                (cust_df, "3_custkey_slice"),
            )
        ]
        return _pin_union(spark, outs, "stage")


ORACLE_ZORDER_SCOPED = f"""
WITH base AS (
  SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderpriority
  FROM orders
),
b AS (
  SELECT MIN(o_orderkey) AS mink, MAX(o_orderkey) AS maxk,
         MIN(o_custkey) AS minc, MAX(o_custkey) AS maxc
  FROM base
),
stages AS (
  SELECT '1_head' AS stage, base.* FROM base
  UNION ALL
  SELECT '2_scope_keys', base.* FROM base, b
  WHERE base.o_orderkey BETWEEN b.mink AND b.mink + (b.maxk - b.mink) // 4
  UNION ALL
  SELECT '3_custkey_slice', base.* FROM base, b
  WHERE base.o_custkey BETWEEN b.minc AND b.minc + (b.maxc - b.minc) // 16
)
SELECT stage, {_STATE_SQL}
FROM stages GROUP BY stage ORDER BY stage
"""


#: Registered queries, each mapped to its DuckDB oracle (see __spark_entry__).
QUERIES = {
    clone_diverge_orders: ORACLE_CLONE_DIVERGE,
    check_constraints_orders: ORACLE_CHECK_CONSTRAINTS,
    describe_detail_orders: ORACLE_DESCRIBE_DETAIL,
    timestamp_as_of_orders: ORACLE_TIMESTAMP_AS_OF,
    vacuum_dry_run_orders: ORACLE_VACUUM_DRY_RUN,
    zorder_scoped_orders: ORACLE_ZORDER_SCOPED,
}
