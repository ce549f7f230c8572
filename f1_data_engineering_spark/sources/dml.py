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
   clause) plus the source row and cached.  It is the merge's only
   full-table scan and it is source-sized: the cardinality guard, the
   touched files and the per-clause counts come from one file-sized
   collect over it, the rewrite joins it back by row, and the
   not-matched insert anti-joins the source against its keys.  Counts
   the write can see are taken by the write itself
   (``versioned._stage_files`` observes them): MERGE's inserts, and
   the MoR delete's targeted files, which needs no collect at all.
2. **Rewrite only those files.**  Untouched files carry over into the
   new snapshot by reference — zero IO.  Touched files are re-read
   (their scan lists only them) and rewritten without the deleted
   rows / with assignments applied / with merge actions resolved;
   MERGE appends not-matched source rows in the same write.
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
    _unstage,
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
#: Marks MERGE's inserted rows in its staged write, which counts them.
_INS = "_dml_ins"


def _scan_with_file(spark: SparkSession, path: str, files: list[str]) -> DataFrame:
    """Scan of ``files`` of the current snapshot carrying the owning
    file's BASENAME and row position per row, with in-effect deletion
    vectors already applied — a copy-on-write op over a table carrying
    MoR deletes must not resurrect them (the rewrite it commits
    materializes those deletes as a side effect)."""
    from .versioned import (
        _anti_join_dvs,
        _dv_files,
        _file_tags,
        _read_with_log_schema,
    )

    df = _read_with_log_schema(spark, path, files, None).select(
        "*", *_file_tags(*_META)
    )
    return _anti_join_dvs(spark, path, df, _dv_files(path, None), *_META)


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
    files, _, _, _ = _stage_files(
        reduce(DataFrame.unionByName, tagged), path, prefix="cdf-"
    )
    return files


def _commit_rewrite(
    df_new: DataFrame,
    path: str,
    removed: list[str],
    op: dict,
    cdf: list[tuple[DataFrame, str]] | None = None,
    observe: tuple[Column, ...] = (),
    drop: tuple[str, ...] = (),
) -> tuple[int | None, dict]:
    """Stage ``df_new`` and commit a ``rewrite`` entry, plus optional
    change-feed sidecars; returns (version, the entry's ``op``).
    ``observe`` and ``drop`` pass to ``_stage_files``: the values the
    staging write observes join ``op``.  A rewrite that removes no
    file and stages no row commits nothing: its files are unstaged
    and the version is None.  CHECK constraints are validated over
    the full rewritten frame before staging — updated rows and merge
    inserts must satisfy them like any other write — and the staged
    files are re-validated if a constraint lands before the commit."""
    from .constraints import (
        _staged_rows_check,
        table_constraints,
        validate_constraints,
    )

    table = df_new.drop(*drop) if drop else df_new
    validated = table_constraints(path)
    validate_constraints(table, validated)
    files, n_rows, stats, seen = _stage_files(
        df_new, path, observe=observe, drop=drop
    )
    if not removed and not n_rows:
        _unstage(path, files)
        return None, op
    op = {**op, **seen}
    cdf_files = _stage_cdf(cdf, path) if cdf else []
    recheck = _staged_rows_check(table, path, files, validated)

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
        "schema": table.schema.json(),
    }
    if cdf_files:
        entry["cdf_files"] = cdf_files
    return _commit(path, entry, files + cdf_files, check), op


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
    scope = _scan_with_file(spark, path, touched)
    if capture_cdf:
        # two consumers (survivor rewrite + deleted-row sidecars) —
        # materialize the touched scope once instead of rescanning
        scope = scope.cache()
    survivors = scope.filter(~hit).drop(*_META)
    cdf = (
        [(scope.filter(hit).drop(*_META), "delete")] if capture_cdf else None
    )
    try:
        version, _ = _commit_rewrite(
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
    scope = _scan_with_file(spark, path, touched)
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
        version, _ = _commit_rewrite(
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
    position, first applicable clause) plus the source row, cached.
    From it:

    * one collect of ``groupBy(file)`` gives the guard (fewer distinct
      row positions than probe rows: a row matched more than once),
      the touched files and ``n_updated``/``n_deleted``;
    * the rewrite is ``scan of the touched files ⟕ probe`` on (file,
      row position), cached only when CDF capture reads it more than
      once — the probe is materialized and small, so the join is
      planned from its real size;
    * the insert is ``source ▷ probe keys`` — a source row whose key
      matches any target row is never inserted, whatever the clause
      conditions say.  Rewrite and inserts are staged in ONE write,
      which counts the inserts itself (``n_inserted``, recorded in the
      log entry after staging); when nothing was touched and nothing
      inserted, the staged files are removed and nothing commits.

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
    types = {c: t for c, t in df.dtypes if c not in _META}
    tcols = list(types)

    def _clause_idx() -> Column:
        """First-match-wins clause index of a matched row (NULL = no
        clause applies) — F.when chains evaluate in order, which IS the
        clause order."""
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
            expr = expr.when(c, F.lit(i))
        return expr.otherwise(F.lit(None))

    # eqNullSafe is NOT used — NULL keys never match
    on_keys = [F.col(f"t.{k}") == F.col(f"s.{k}") for k in on]

    upd_idx = [i for i, cl in enumerate(clauses) if cl["action"] == "update"]
    del_idx = [i for i, cl in enumerate(clauses) if cl["action"] == "delete"]

    # THE probe: matched target rows only, as (file, row position,
    # applicable clause) plus the matching source row.  It is the
    # merge's one full-table scan; the guard, the touched files, the
    # clause counts, the rewrite's source side and the insert
    # anti-join all read it.  Cached, and source-sized: one row per
    # (target row, source row) pair that matches on the keys.
    probe = (
        df.alias("t")
        .join(source.alias("s"), on_keys, "inner")
        .select(
            F.col("t._dml_file").alias("_dml_file"),
            F.col("t._dml_ri").alias("_dml_ri"),
            _clause_idx().alias("_dml_ci"),
            "s.*",
        )
        .cache()
    )
    cached = [probe]
    try:
        touched: list[str] = []
        n_updated = n_deleted = 0
        if clauses:
            # one collect, file-sized: per file the probe rows, the
            # distinct target rows among them, and the rows each clause
            # applies to
            hits = [f"_dml_c{i}" for i in range(len(clauses))]
            stats = (
                probe.groupBy("_dml_file")
                .agg(
                    F.count(F.lit(1)).alias("n"),
                    F.size(F.collect_set("_dml_ri")).alias("rows"),
                    *[
                        F.count_if(F.col("_dml_ci") == i).alias(h)
                        for i, h in enumerate(hits)
                    ],
                )
                .collect()
            )
            # source-cardinality guard: fewer distinct target rows than
            # probe rows means a target row matched several source rows
            # (only keys that MATCH count — the probe is an inner join,
            # so NULL and never-matching keys are absent)
            if any(r["n"] != r["rows"] for r in stats):
                raise ValueError(
                    "source has multiple rows matching the same target "
                    "merge key — resolve (e.g. latest-wins dedup) before "
                    "merging"
                )
            touched = sorted(
                r["_dml_file"] for r in stats if any(r[h] for h in hits)
            )
            n_updated = sum(r[hits[i]] for r in stats for i in upd_idx)
            n_deleted = sum(r[hits[i]] for r in stats for i in del_idx)

        # rewrite touched files, read alone, joined to their probe rows
        # by row (the probe's clause index and source row): unmatched
        # rows (and matched rows no clause applies to) pass through;
        # clause-hit rows update or delete.
        rewritten = None
        cdf: list[tuple[DataFrame, str]] = []
        if touched:
            scope = _scan_with_file(spark, path, touched).alias("t")
            joined = scope.join(
                probe.alias("s"),
                (F.col("t._dml_file") == F.col("s._dml_file"))
                & (F.col("t._dml_ri") == F.col("s._dml_ri")),
                "left",
            )
            if capture_cdf:
                # the rewrite and the sidecar projections all consume
                # the join; touched-files-sized, never table-sized
                joined = joined.cache()
                cached.append(joined)
            ci = F.col("s._dml_ci")
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

        new_df = rewritten
        observe: tuple[Column, ...] = ()
        if when_not_matched_insert:
            # a source row whose key matches ANY target row is in the
            # probe, so anti-joining the probe's source keys equals
            # anti-joining the table — at source size (a left-anti join
            # needs no deduplicated build side).  NULL keys never match:
            # insert.
            unmatched = source.join(probe.select(*on), on, "left_anti")
            if insert_condition is not None:
                unmatched = unmatched.filter(
                    F.coalesce(_to_cond(insert_condition), F.lit(False))
                )
            have = set(unmatched.columns)
            inserts = unmatched.select(
                *[
                    F.col(c).cast(types[c]).alias(c)
                    if c in have
                    else F.lit(None).cast(types[c]).alias(c)
                    for c in tcols
                ]
            )
            # tagged, so the staging write counts the inserts it writes
            tagged = inserts.withColumn(_INS, F.lit(True))
            new_df = (
                tagged
                if rewritten is None
                else rewritten.withColumn(_INS, F.lit(False)).unionByName(tagged)
            )
            observe = (F.count_if(F.col(_INS)).alias("n_inserted"),)
            if capture_cdf:
                cdf.append((inserts, "insert"))
        if new_df is None:
            return {"version": _entries(path)[-1]["version"], **noop}
        version, op = _commit_rewrite(
            new_df,
            path,
            touched,
            {
                "op": "merge",
                "n_updated": n_updated,
                "n_deleted": n_deleted,
                "n_inserted": 0,
            },
            cdf or None,
            observe,
            (_INS,) if observe else (),
        )
        if version is None:  # nothing touched, nothing inserted
            return {"version": _entries(path)[-1]["version"], **noop}
    finally:
        for c in cached:
            c.unpersist()
    return {
        "version": version,
        "n_updated": n_updated,
        "n_deleted": n_deleted,
        "n_inserted": op["n_inserted"],
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

    One Spark job (plus one broadcast per read of DVs already in
    effect): the DV's (file, row position) keys are staged straight
    from the filtered snapshot scan, and that write observes the files
    they target (the entry's ``applies_to``).  A delete that matches
    nothing removes what it staged and commits nothing.  With
    ``capture_cdf`` the matched rows are cached for the second,
    change-feed write.

    Same NULL semantics and concurrency contract as the CoW form: the
    files the DV targets must still be live at commit time, else
    ``ConcurrentModificationError``.  Returns ``{"version",
    "n_deleted", "files_targeted", "files_total"}``.
    """
    cond = _to_cond(condition)
    snap = _snapshot_files(path, None)
    matched = _scan_with_file(spark, path, snap).filter(
        F.coalesce(cond, F.lit(False))
    )
    if capture_cdf:
        # the DV and the change-feed sidecars both read the matched rows
        # (= deleted rows, the O(deleted) set this MoR path exists to
        # keep small): materialize them once instead of scanning twice
        matched = matched.cache()
    try:
        # the DV keys are staged straight from the filtered scan, and
        # that one write observes the files they target
        files, n_deleted, _, seen = _stage_files(
            matched.select(*_META).toDF("file", "row_index"),
            path,
            prefix="dv-",
            observe=(F.collect_set("file").alias("applies_to"),),
        )
        if not n_deleted:
            _unstage(path, files)
            return {
                "version": _entries(path)[-1]["version"],
                "n_deleted": 0,
                "files_targeted": 0,
                "files_total": len(snap),
            }
        cdf_files = (
            _stage_cdf([(matched.drop(*_META), "delete")], path)
            if capture_cdf
            else []
        )
    finally:
        if capture_cdf:
            matched.unpersist()
    targeted = sorted(seen["applies_to"])
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
