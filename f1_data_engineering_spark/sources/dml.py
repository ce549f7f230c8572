"""Row-level DML on the versioned lake: DELETE / UPDATE / MERGE as
table mutations (copy-on-write), the piece a lakehouse user reaches
for first beyond append/overwrite (reference has no table format at
all — its "update" is rewriting whole CSV trees,
src/transform/f1_dataTransformer.py:210-230;
this is the engine-level replacement).

Algorithm (the same shape Delta/Iceberg copy-on-write uses):

1. **Find touched files.**  Scan the current snapshot with each row's
   owning file (``_metadata.file_path``) and row position, and keep
   the DISTINCT file names owning at least one row the operation
   affects.  DELETE/UPDATE filter the scan by the predicate.  MERGE
   builds one PROBE: the inner join of the scan with the source on
   the merge keys, projected to (file, row position, applicable
   clause, key) and cached.  It is the merge's only full-table scan
   and it is source-sized: the cardinality guard, the touched files
   and the per-clause counts come from one collect over it, and the
   not-matched insert anti-joins the source against its keys.  Every
   collect is file-metadata sized, never row sized.
2. **Rewrite only those files.**  Untouched files carry over into the
   new snapshot by reference — zero IO.  Touched files are re-read
   and rewritten without the deleted rows / with assignments applied /
   with merge actions resolved; MERGE appends not-matched source rows
   in the same commit.
3. **Commit a ``rewrite`` log entry** — ``files`` added plus
   ``removed`` dropped — through the lake's one commit protocol
   (``versioned._commit``), with this writer's conflict check run on
   every attempt: every removed file must still be in the HEAD
   snapshot, otherwise a concurrent writer rewrote or replaced it and
   blindly committing would resurrect deleted rows or double-apply
   updates, so the commit raises ``ConcurrentModificationError`` (real
   formats fail the transaction the same way; the caller re-runs
   against the new snapshot); and, like ``write_versioned``, the
   staged rows are re-validated if a CHECK constraint landed since
   they were validated.

Old files stay on disk for time travel until ``vacuum``; readers at
version V-1 still see the pre-DML rows.  ``read_version_delta``
refuses ranges crossing a rewrite for the same reason it refuses
overwrites — rewritten rows are not "new rows".

Scale shape: cost ∝ bytes of files containing affected rows, not
table bytes.  Pair with range-clustered / Z-ordered layout
(operators/layout.py) so selective predicates touch few files; the
touched-file scan itself prunes via parquet footers + pushed
predicates like any other read.

NULL semantics: DELETE removes rows where the predicate is TRUE
(NULL-predicate rows survive, matching SQL); UPDATE assigns where
TRUE only; MERGE matches on equi-keys (NULL keys never match, like a
SQL join).

Beyond copy-on-write, the module carries the two companions real
formats pair with it: MERGE-ON-READ deletes (:func:`delete_where_mor`
— deletion-vector sidecars applied at scan time, O(deleted rows)
write cost, materialized by compaction) and an opt-in CHANGE FEED
(``capture_cdf=True`` on any DML + :func:`read_change_feed` — the
row-level CDC stream incremental consumers apply across the DML
commits ``read_version_delta`` refuses).
"""

from __future__ import annotations

import os

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from .versioned import (
    _commit,
    _entries,
    _live_files,
    _snapshot_files,
    _stage_files,
    _vacuum_tombstones,
)

__all__ = [
    "ConcurrentModificationError",
    "delete_where",
    "delete_where_mor",
    "update_where",
    "merge_into",
    "read_change_feed",
]


class ConcurrentModificationError(RuntimeError):
    """A concurrent commit invalidated this DML transaction's snapshot
    (a file it rewrites is no longer live).  Re-run against the new
    head."""


def _to_cond(condition: str | Column) -> Column:
    return F.expr(condition) if isinstance(condition, str) else condition


_META = ("_dml_file", "_dml_ri")


def _scan_with_file(spark: SparkSession, path: str, files: list[str]) -> DataFrame:
    """Snapshot scan carrying the owning file's BASENAME and row
    position per row, with in-effect deletion vectors already applied —
    a copy-on-write op over a table carrying MoR deletes must not
    resurrect them (the rewrite it commits materializes those deletes
    as a side effect)."""
    from .versioned import _anti_join_dvs, _dv_files, _read_with_log_schema

    df = _read_with_log_schema(spark, path, files, None).select(
        "*",
        F.element_at(F.split(F.col("_metadata.file_path"), "/"), -1).alias(
            "_dml_file"
        ),
        F.col("_metadata.row_index").alias("_dml_ri"),
    )
    return _anti_join_dvs(
        spark, path, df, _dv_files(path, None), "_dml_file", "_dml_ri"
    )


def _touched(df_with_file: DataFrame, affected: Column) -> tuple[list[str], int]:
    """(distinct owning files of the affected rows, affected-row count).

    The count rides the same scan as an ``Observation`` (it used to be
    a second full job per DELETE/UPDATE — guide §1.2: don't compute
    things twice); the collect stays file-count sized."""
    from pyspark.sql import Observation

    obs = Observation()
    rows = (
        df_with_file.filter(affected)
        .observe(obs, F.count(F.lit(1)).alias("n_hit"))
        .select("_dml_file")
        .distinct()
        .collect()
    )
    if not rows:
        # no file owns an affected row ⇒ the count is 0 by definition;
        # don't consult the observation — AQE's empty-relation
        # propagation can fold the CollectMetrics node away, leaving
        # Observation.get unreadable (Spark 4.1 behavior, pinned in
        # tests/test_dml.py::test_delete_no_match_is_noop)
        return [], 0
    return [r["_dml_file"] for r in rows], int(obs.get["n_hit"])


def _require_live(path: str, es: list[dict], files: list[str]) -> None:
    """Commit check: all of ``files`` is still in the snapshot ``es``
    describes — a concurrent writer replacing one invalidated this
    transaction's reads."""
    missing = sorted(set(files) - set(_live_files(es)))
    if missing:
        raise ConcurrentModificationError(
            f"files {missing[:3]}{'…' if len(missing) > 3 else ''} "
            f"left the snapshot of {path} mid-transaction"
        )


def _stage_cdf(
    frames: list[tuple[DataFrame, str]], path: str
) -> list[str]:
    """Stage change-feed rows (table columns + ``_change_type``) as
    ``cdf-`` sidecar parquet; returns the staged names.  Cost is
    O(affected rows) extra write volume — why CDF capture is opt-in,
    exactly as in real formats."""
    from functools import reduce

    tagged = [
        df.withColumn("_change_type", F.lit(ct)) for df, ct in frames
    ]
    files, _, _ = _stage_files(
        reduce(DataFrame.unionByName, tagged), path, prefix="cdf-"
    )
    return files


def _commit_rewrite(
    df_new: DataFrame,
    path: str,
    removed: list[str],
    op: dict,
    cdf: list[tuple[DataFrame, str]] | None = None,
) -> int:
    """Stage ``df_new`` and commit a ``rewrite`` entry, plus optional
    change-feed sidecars.  CHECK constraints are validated over the
    full rewritten frame before staging — updated rows and merge
    inserts must satisfy them like any other write — and the staged
    files are re-validated if a constraint lands before the commit."""
    from .constraints import (
        _staged_rows_check,
        table_constraints,
        validate_constraints,
    )

    validated = table_constraints(path)
    validate_constraints(df_new, validated)
    files, n_rows, stats = _stage_files(df_new, path)
    cdf_files = _stage_cdf(cdf, path) if cdf else []
    recheck = _staged_rows_check(df_new, path, files, validated)

    def check(es: list[dict]) -> None:
        _require_live(path, es, removed)
        recheck(es)

    entry = {
        "action": "rewrite",
        "files": files,
        "removed": removed,
        "n_rows": n_rows,
        "file_stats": stats,
        "op": op,
        "schema": df_new.schema.json(),
    }
    if cdf_files:
        entry["cdf_files"] = cdf_files
    return _commit(path, entry, files + cdf_files, check)


def delete_where(
    spark: SparkSession,
    path: str,
    condition: str | Column,
    capture_cdf: bool = False,
) -> dict:
    """``DELETE FROM <table> WHERE condition`` — copy-on-write.
    ``capture_cdf`` additionally lands the deleted rows as
    change-feed sidecars for :func:`read_change_feed`.  Returns
    ``{"version", "n_deleted", "files_rewritten", "files_total"}``."""
    cond = _to_cond(condition)
    snap = _snapshot_files(path, None)
    df = _scan_with_file(spark, path, snap)
    hit = F.coalesce(cond, F.lit(False))
    touched, n_deleted = _touched(df, hit)
    if not touched:
        return {
            "version": _entries(path)[-1]["version"],
            "n_deleted": 0,
            "files_rewritten": 0,
            "files_total": len(snap),
        }
    scope = df.filter(F.col("_dml_file").isin(touched))
    if capture_cdf:
        # two consumers (survivor rewrite + deleted-row sidecars) —
        # materialize the touched scope once instead of rescanning
        scope = scope.cache()
    survivors = scope.filter(~hit).drop(*_META)
    cdf = (
        [(scope.filter(hit).drop(*_META), "delete")] if capture_cdf else None
    )
    try:
        version = _commit_rewrite(
            survivors, path, touched,
            {"op": "delete", "n_deleted": n_deleted}, cdf,
        )
    finally:
        if capture_cdf:
            scope.unpersist()
    return {
        "version": version,
        "n_deleted": n_deleted,
        "files_rewritten": len(touched),
        "files_total": len(snap),
    }


def update_where(
    spark: SparkSession,
    path: str,
    condition: str | Column,
    assignments: dict[str, str | Column],
    capture_cdf: bool = False,
) -> dict:
    """``UPDATE <table> SET col = expr, … WHERE condition`` —
    copy-on-write.  Assignment expressions see the OLD row (standard
    SQL UPDATE semantics: all right-hand sides evaluate before any
    assignment) and are cast back to the column's existing type, so an
    update can never silently migrate the table schema.
    ``capture_cdf`` lands pre- and post-image rows as change-feed
    sidecars.  Returns ``{"version", "n_updated", "files_rewritten",
    "files_total"}``."""
    cond = _to_cond(condition)
    snap = _snapshot_files(path, None)
    df = _scan_with_file(spark, path, snap)
    hit = F.coalesce(cond, F.lit(False))
    touched, n_updated = _touched(df, hit)
    if not touched:
        return {
            "version": _entries(path)[-1]["version"],
            "n_updated": 0,
            "files_rewritten": 0,
            "files_total": len(snap),
        }
    scope = df.filter(F.col("_dml_file").isin(touched))
    if capture_cdf:
        # three consumers (rewrite + pre-image + post-image sidecars)
        scope = scope.cache()
    types = dict(scope.drop(*_META).dtypes)
    out_cols = []
    for c in scope.drop(*_META).columns:
        if c in assignments:
            new = _to_cond(assignments[c]).cast(types[c])
            out_cols.append(F.when(hit, new).otherwise(F.col(c)).alias(c))
        else:
            out_cols.append(F.col(c))
    rewritten = scope.select(*out_cols)
    cdf = None
    if capture_cdf:
        pre = scope.filter(hit).drop(*_META)
        post = scope.filter(hit).select(*out_cols).drop(*_META)
        cdf = [(pre, "update_preimage"), (post, "update_postimage")]
    try:
        version = _commit_rewrite(
            rewritten, path, touched,
            {"op": "update", "n_updated": n_updated}, cdf,
        )
    finally:
        if capture_cdf:
            scope.unpersist()
    return {
        "version": version,
        "n_updated": n_updated,
        "files_rewritten": len(touched),
        "files_total": len(snap),
    }


def merge_into(
    spark: SparkSession,
    path: str,
    source: DataFrame,
    on: list[str],
    when_matched_update: dict[str, str | Column] | None = None,
    when_matched_delete: bool = False,
    when_not_matched_insert: bool = True,
    capture_cdf: bool = False,
    when_matched: list[dict] | None = None,
    insert_condition: str | Column | None = None,
) -> dict:
    """``MERGE INTO <table> t USING source s ON t.k = s.k …`` —
    copy-on-write upsert.  Matched target rows are updated or deleted;
    not-matched source rows are inserted (projected onto the target
    schema by name).  Returns ``{"version", "n_updated", "n_deleted",
    "n_inserted", "files_rewritten", "files_total"}``.

    **Matched actions** come in two call shapes:

    * legacy single clause: ``when_matched_update={col: expr, …}`` OR
      ``when_matched_delete=True`` (still exactly one, unconditional);
    * ``when_matched=[{"action": "update"|"delete",
      "condition": <expr|None>, "set": {col: expr, …}}, …]`` — the
      Delta-style ORDERED clause chain ``WHEN MATCHED AND c1 THEN
      UPDATE … WHEN MATCHED AND c2 THEN DELETE … WHEN MATCHED THEN
      …``: for each matched row the FIRST clause whose condition is
      TRUE applies (NULL counts as false, like SQL WHERE); a matched
      row satisfying no clause passes through unchanged.  This is the
      standard CDC-apply idiom (``s._op = 'delete'`` → delete clause,
      otherwise update) that previously had to be hand-composed from
      separate DELETE/UPDATE/MERGE commits.

    Conditions and assignment expressions see the join row: reference
    source columns as ``s.<col>`` and target columns as ``t.<col>``
    (bare names work when unambiguous).  ``insert_condition``
    restricts the not-matched insert (``WHEN NOT MATCHED AND cond
    THEN INSERT``); it sees the source row (bare columns).

    Source-cardinality guard: if more than one source row matches the
    same TARGET row the matched action would be nondeterministic, so
    the merge raises — the same contract as Delta's
    DELTA_MULTIPLE_SOURCE_ROW_MATCHING error.  Like Delta's, the guard
    fires only on keys that actually match a target row and only when
    a matched clause exists (conditional clauses included — which
    duplicate wins the clause chain would still be nondeterministic):
    NULL join keys never match (SQL join semantics), so NULL-key
    source rows — even several of them — simply insert; duplicate
    non-matching keys insert one row each (MERGE does not dedupe
    inserts).

    Only files containing at least one row a matched clause APPLIES to
    are rewritten (with conditional clauses, a file whose matched rows
    all fail every condition carries over by reference).

    The table is scanned once, by the PROBE: ``target ⋈ source`` on
    the key columns (broadcast the source below the threshold, shuffle
    equi-join above), keeping matched rows only as (file, row
    position, first applicable clause, key), cached.  From it:

    * one collect of ``groupBy(file, row)`` then ``groupBy(file,
      clause)`` gives the guard (a row matched more than once), the
      touched files and ``n_updated``/``n_deleted``;
    * the insert is ``source ▷ distinct probe keys`` — a source row
      whose key matches any target row is never inserted, whatever
      the clause conditions say; ``n_inserted`` is counted on it;
    * the rewrite is ``touched scope ⟕ source``, cached only when CDF
      capture reads it more than once.

    The probe is released on every path out, a raise included.
    """
    if when_matched is not None and (when_matched_update or when_matched_delete):
        raise ValueError(
            "pass when_matched clauses OR the legacy "
            "when_matched_update/when_matched_delete, not both"
        )
    if when_matched_update and when_matched_delete:
        raise ValueError("choose ONE matched action: update or delete")
    if when_matched is not None:
        clauses = list(when_matched)
    elif when_matched_update is not None:
        clauses = [{"action": "update", "set": when_matched_update}]
    elif when_matched_delete:
        clauses = [{"action": "delete"}]
    else:
        clauses = []
    for cl in clauses:
        if cl.get("action") not in ("update", "delete"):
            raise ValueError(f"clause action must be update|delete: {cl!r}")
        if cl["action"] == "update" and not cl.get("set"):
            raise ValueError(f"update clause needs a non-empty set: {cl!r}")
        if cl["action"] == "delete" and cl.get("set"):
            raise ValueError(f"delete clause cannot set columns: {cl!r}")
    snap = _snapshot_files(path, None)
    noop = {
        "n_updated": 0,
        "n_deleted": 0,
        "n_inserted": 0,
        "files_rewritten": 0,
        "files_total": len(snap),
    }
    if not clauses and not when_not_matched_insert:
        return {"version": _entries(path)[-1]["version"], **noop}
    df = _scan_with_file(spark, path, snap)
    tcols = [c for c in df.columns if c not in _META]
    types = dict(df.drop(*_META).dtypes)

    def _clause_idx(matched: Column) -> Column:
        """First-match-wins clause index (NULL = no clause applies) —
        F.when chains evaluate in order, which IS the clause order."""
        if not clauses:
            return F.lit(None).cast("int")
        expr = F
        for i, cl in enumerate(clauses):
            cond = cl.get("condition")
            c = (
                F.lit(True)
                if cond is None
                else F.coalesce(_to_cond(cond), F.lit(False))
            )
            expr = expr.when(matched & c, F.lit(i))
        return expr.otherwise(F.lit(None))

    # eqNullSafe is NOT used — NULL keys never match
    on_keys = [F.col(f"t.{k}") == F.col(f"s.{k}") for k in on]

    upd_idx = [i for i, cl in enumerate(clauses) if cl["action"] == "update"]
    del_idx = [i for i, cl in enumerate(clauses) if cl["action"] == "delete"]

    # THE probe: matched target rows only, as (file, row position,
    # applicable clause, key).  It is the merge's one full-table scan;
    # the guard, the touched files, the clause counts and the insert
    # anti-join all read it.  Cached, and source-sized: one row per
    # (target row, source row) pair that matches on the keys.
    probe = (
        df.alias("t")
        .join(source.alias("s"), on_keys, "inner")
        .select(
            F.col("t._dml_file").alias("_dml_file"),
            F.col("t._dml_ri").alias("_dml_ri"),
            _clause_idx(F.lit(True)).alias("_dml_ci"),
            *[F.col(f"t.{k}").alias(k) for k in on],
        )
        .cache()
    )
    cached = [probe]
    try:
        touched: list[str] = []
        n_updated = n_deleted = 0
        if clauses:
            # one collect, (file × clause)-sized: max matches per target
            # row (the guard), and per (file, clause) the rows hit
            stats = (
                probe.groupBy("_dml_file", "_dml_ri")
                .agg(
                    F.count(F.lit(1)).alias("n"),
                    F.min("_dml_ci").alias("_dml_ci"),
                )
                .groupBy("_dml_file", "_dml_ci")
                .agg(F.count(F.lit(1)).alias("rows"), F.max("n").alias("max_n"))
                .collect()
            )
            # source-cardinality guard: a target row matched by several
            # source rows (only keys that MATCH count — the probe is an
            # inner join, so NULL and never-matching keys are absent)
            if any(r["max_n"] > 1 for r in stats):
                raise ValueError(
                    "source has multiple rows matching the same target "
                    "merge key — resolve (e.g. latest-wins dedup) before "
                    "merging"
                )
            touched = sorted(
                {r["_dml_file"] for r in stats if r["_dml_ci"] is not None}
            )
            n_updated = sum(r["rows"] for r in stats if r["_dml_ci"] in upd_idx)
            n_deleted = sum(r["rows"] for r in stats if r["_dml_ci"] in del_idx)

        # rewrite touched files: unmatched rows (and matched rows no
        # clause applies to) pass through; clause-hit rows update or
        # delete.
        rewritten = None
        cdf: list[tuple[DataFrame, str]] = []
        if touched:
            scope = df.filter(F.col("_dml_file").isin(touched)).alias("t")
            is_matched = F.col(f"s.{on[0]}").isNotNull()
            joined = scope.join(source.alias("s"), on_keys, "left").withColumn(
                "_dml_ci", _clause_idx(is_matched)
            )
            if capture_cdf:
                # the rewrite and the sidecar projections all consume
                # the join; touched-files-sized, never table-sized
                joined = joined.cache()
                cached.append(joined)
            ci = F.col("_dml_ci")
            t_row = [F.col(f"t.{c}").alias(c) for c in tcols]
            out = []
            for c in tcols:
                e = F
                branched = False
                for i in upd_idx:
                    st = clauses[i]["set"]
                    if c in st:
                        e = e.when(ci == i, _to_cond(st[c]).cast(types[c]))
                        branched = True
                out.append(
                    (e.otherwise(F.col(f"t.{c}")) if branched else F.col(f"t.{c}"))
                    .alias(c)
                )
            survivors = (
                joined.filter(~ci.isin(del_idx) | ci.isNull())
                if del_idx
                else joined
            )
            rewritten = survivors.select(*out)
            if capture_cdf:
                if del_idx and n_deleted:
                    cdf.append(
                        (joined.filter(ci.isin(del_idx)).select(*t_row), "delete")
                    )
                if upd_idx and n_updated:
                    upd = joined.filter(ci.isin(upd_idx))
                    cdf.append((upd.select(*t_row), "update_preimage"))
                    cdf.append((upd.select(*out), "update_postimage"))

        inserts = None
        n_inserted = 0
        if when_not_matched_insert:
            # a source row whose key matches ANY target row is in the
            # probe, so anti-joining the probe's keys equals anti-joining
            # the table — at source size.  NULL keys never match: insert.
            unmatched = source.join(probe.select(*on).distinct(), on, "left_anti")
            if insert_condition is not None:
                unmatched = unmatched.filter(
                    F.coalesce(_to_cond(insert_condition), F.lit(False))
                )
            n_inserted = unmatched.count()
            if n_inserted:
                inserts = unmatched.select(
                    *[
                        F.col(c).cast(types[c]).alias(c)
                        if c in unmatched.columns
                        else F.lit(None).cast(types[c]).alias(c)
                        for c in tcols
                    ]
                )

        if rewritten is not None and inserts is not None:
            new_df = rewritten.unionByName(inserts)
        else:
            new_df = rewritten if rewritten is not None else inserts
        if new_df is None:
            return {"version": _entries(path)[-1]["version"], **noop}
        if capture_cdf and inserts is not None:
            cdf.append((inserts, "insert"))
        version = _commit_rewrite(
            new_df,
            path,
            touched,
            {
                "op": "merge",
                "n_updated": n_updated,
                "n_deleted": n_deleted,
                "n_inserted": n_inserted,
            },
            cdf or None,
        )
    finally:
        for c in cached:
            c.unpersist()
    return {
        "version": version,
        "n_updated": n_updated,
        "n_deleted": n_deleted,
        "n_inserted": n_inserted,
        "files_rewritten": len(touched),
        "files_total": len(snap),
    }


def delete_where_mor(
    spark: SparkSession,
    path: str,
    condition: str | Column,
    capture_cdf: bool = False,
) -> dict:
    """``DELETE`` in MERGE-ON-READ form: instead of rewriting the
    touched files (copy-on-write), land a DELETION VECTOR sidecar —
    the (owning file, row position) keys of the deleted rows — and
    commit a ``dv`` log entry.  Readers anti-join in-effect DVs at
    scan time (``versioned._apply_dvs``); ``compact_versioned``
    materializes them away (its snapshot read applies the DVs, its
    overwrite commit starts a DV-free snapshot).

    Trade-off vs :func:`delete_where`: write cost is O(deleted rows)
    — deleting 100 rows from a 1 GB file writes KBs, not the file —
    at the price of a read-time anti-join whose right side grows with
    accumulated deletes.  The production pattern is MoR for frequent
    small deletes + periodic compaction, CoW for bulk deletes; both
    exist here so the choice is the caller's.

    Same NULL semantics and concurrency contract as the CoW form: the
    files the DV targets must still be live at commit time, else
    ``ConcurrentModificationError``.  Returns ``{"version",
    "n_deleted", "files_targeted", "files_total"}``.
    """
    cond = _to_cond(condition)
    snap = _snapshot_files(path, None)
    df = _scan_with_file(spark, path, snap)
    hit = F.coalesce(cond, F.lit(False))
    # cached: the targeted-file collect, the DV staging, and (with CDF)
    # the sidecar staging all consume the matched rows — uncached each
    # re-scans the full snapshot.  Matched rows = deleted rows, the
    # O(deleted) set this MoR path exists to keep small.
    matched = df.filter(hit).cache()
    try:
        targeted = [
            r["_dml_file"]
            for r in matched.select("_dml_file").distinct().collect()
        ]
        if not targeted:
            return {
                "version": _entries(path)[-1]["version"],
                "n_deleted": 0,
                "files_targeted": 0,
                "files_total": len(snap),
            }
        dv_df = matched.select(
            F.col("_dml_file").alias("file"),
            F.col("_dml_ri").alias("row_index"),
        )
        files, n_deleted, _ = _stage_files(dv_df, path, prefix="dv-")
        cdf_files = (
            _stage_cdf([(matched.drop(*_META), "delete")], path)
            if capture_cdf
            else []
        )
    finally:
        matched.unpersist()
    entry = {
        "action": "dv",
        "files": files,
        "applies_to": targeted,
        "n_rows": n_deleted,
        "op": {"op": "delete_mor", "n_deleted": n_deleted},
    }
    if cdf_files:
        entry["cdf_files"] = cdf_files
    version = _commit(
        path, entry, files + cdf_files, lambda es: _require_live(path, es, targeted)
    )
    return {
        "version": version,
        "n_deleted": n_deleted,
        "files_targeted": len(targeted),
        "files_total": len(snap),
    }


def read_change_feed(
    spark: SparkSession, path: str, from_version: int, to_version: int
) -> DataFrame:
    """Row-level change feed for versions ``(from_version,
    to_version]``: table columns plus ``_change_type`` (insert /
    delete / update_preimage / update_postimage) and
    ``_commit_version`` — the CDC stream a downstream incremental
    consumer applies instead of rebuilding when the range crosses DML
    (``read_version_delta`` refuses exactly those ranges and points
    here).

    ``append`` commits contribute their data files as ``insert`` rows
    directly (no extra storage — the files ARE the change);
    ``rewrite`` / ``dv`` commits require change-feed sidecars, i.e.
    the DML must have run with ``capture_cdf=True`` — otherwise this
    raises, because reconstructing row-level changes from before/after
    file states would need the old snapshot AND a full diff join
    (exactly the cost CDF capture amortizes to write time).
    ``overwrite`` commits raise unconditionally: a full replacement
    has no incremental representation.
    """
    all_es = _entries(path)
    hi = all_es[-1]["version"] if all_es else -1
    if to_version > hi:
        raise ValueError(f"version {to_version} does not exist (head={hi})")
    es = [e for e in all_es if from_version < e["version"] <= to_version]
    dead = _vacuum_tombstones(path)
    parts: list[DataFrame] = []
    for e in es:
        v = e["version"]
        if not e.get("data_change", True):
            continue  # layout-only (compaction/ZORDER): same rows, no feed
        # only the files this commit's feed actually reads: data files
        # for append / the v0 seed (they ARE the insert rows), CDF
        # sidecars for rewrite / dv (their data files may leave the
        # retained snapshots without affecting feed readability)
        needed = (
            e.get("files", ())
            if e["action"] in ("append", "overwrite")
            else e.get("cdf_files", ())
        )
        gone = dead & set(needed)
        if gone:
            raise ValueError(
                f"change feed for v{v} was vacuumed ({sorted(gone)[0]} "
                "and possibly more removed) — re-run vacuum with a "
                "larger retain_cdf_versions to keep feed history"
            )
        if e["action"] == "restore":
            raise ValueError(
                f"v{v} is a restore — no incremental representation; "
                "rebuild downstream state from the restored snapshot"
            )
        if e["action"] == "overwrite":
            if v == 0 and e is all_es[0]:
                # the seeding commit: every row is an insert
                df = spark.read.parquet(
                    *[os.path.join(path, f) for f in e["files"]]
                ).withColumn("_change_type", F.lit("insert"))
            else:
                raise ValueError(
                    f"v{v} is an overwrite — no incremental representation"
                )
        elif e["action"] == "append":
            if not e["files"]:
                continue
            df = spark.read.parquet(
                *[os.path.join(path, f) for f in e["files"]]
            ).withColumn("_change_type", F.lit("insert"))
        else:  # rewrite / dv
            cdf_files = e.get("cdf_files")
            if not cdf_files:
                raise ValueError(
                    f"v{v} ({e['action']}) was committed without "
                    "capture_cdf=True — no change feed recorded"
                )
            df = spark.read.parquet(
                *[os.path.join(path, f) for f in cdf_files]
            )
        parts.append(df.withColumn("_commit_version", F.lit(v).cast("long")))
    if not parts:
        from .versioned import _snapshot_schema
        from pyspark.sql.types import LongType, StringType, StructField

        schema = _snapshot_schema(path, to_version)
        schema = schema.add(StructField("_change_type", StringType())).add(
            StructField("_commit_version", LongType())
        )
        return spark.createDataFrame([], schema)
    from functools import reduce

    # allowMissingColumns: commits before an additive schema evolution
    # recorded narrower change rows — the union fills them as NULL,
    # mirroring how the snapshot reader treats the data files
    return reduce(
        lambda a, b: a.unionByName(b, allowMissingColumns=True), parts
    )
