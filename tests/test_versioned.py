"""Versioned parquet table (sources/versioned.py): snapshots, time
travel, optimistic commits."""

from __future__ import annotations

import json
import os

from f1_data_engineering_spark.sources import versioned as V


def _df(spark, lo, hi, tag):
    return spark.range(lo, hi).selectExpr("id", f"'{tag}' AS tag")


def test_append_overwrite_time_travel(spark, tmp_path):
    t = str(tmp_path / "tbl")
    v0 = V.write_versioned(_df(spark, 0, 10, "a"), t, "overwrite")
    v1 = V.write_versioned(_df(spark, 10, 15, "b"), t, "append")
    v2 = V.write_versioned(_df(spark, 100, 103, "c"), t, "overwrite")
    assert (v0, v1, v2) == (0, 1, 2)

    assert V.read_versioned(spark, t).count() == 3  # latest = post-overwrite
    assert V.read_versioned(spark, t, version=0).count() == 10
    assert V.read_versioned(spark, t, version=1).count() == 15
    tags = {r["tag"] for r in V.read_versioned(spark, t, version=1).collect()}
    assert tags == {"a", "b"}

    hist = V.table_history(t)
    assert [h["action"] for h in hist] == ["overwrite", "append", "overwrite"]
    assert [h["n_rows"] for h in hist] == [10, 5, 3]
    assert V.latest_version(t) == 2


def test_uncommitted_files_invisible(spark, tmp_path):
    t = str(tmp_path / "tbl2")
    V.write_versioned(_df(spark, 0, 4, "a"), t, "overwrite")
    # orphan data file with NO log entry (simulated crashed writer)
    _df(spark, 90, 99, "zz").coalesce(1).write.parquet(str(tmp_path / "orphan"))
    src = next(
        f for f in os.listdir(tmp_path / "orphan") if f.endswith(".parquet")
    )
    os.replace(
        str(tmp_path / "orphan" / src), os.path.join(t, "data-orphan.parquet")
    )
    got = V.read_versioned(spark, t)
    assert got.count() == 4
    assert not [r for r in got.collect() if r["tag"] == "zz"]


def test_version_collision_retries(spark, tmp_path):
    """If a concurrent writer claims the next version, the commit must
    retry and land on the following one."""
    t = str(tmp_path / "tbl3")
    V.write_versioned(_df(spark, 0, 3, "a"), t, "overwrite")
    # a "concurrent writer" pre-claims version 1 with an empty append
    log = os.path.join(t, V.LOG_DIR)
    with open(os.path.join(log, "00000001.json"), "w") as f:
        json.dump(
            {"version": 1, "action": "append", "files": [], "n_rows": 0}, f
        )
    v = V.write_versioned(_df(spark, 3, 6, "b"), t, "append")
    assert v == 2
    assert V.read_versioned(spark, t).count() == 6
    assert V.latest_version(t) == 2


def _leftovers(t):
    """(parquet files in the table root, staged entries in the log)."""
    log = os.path.join(t, V.LOG_DIR)
    return (
        {f for f in os.listdir(t) if f.endswith(".parquet")},
        [f for f in os.listdir(log) if f.startswith("_tmp_")],
    )


def test_commit_refusal_unstages_everything(spark, tmp_path):
    """A check that raises refuses the commit: the staged data files
    and the staged log entry are both removed, and no version lands."""
    import pytest

    t = str(tmp_path / "refuse")
    V.write_versioned(_df(spark, 0, 3, "a"), t, "overwrite")
    before = _leftovers(t)
    files, n_rows, _, _ = V._stage_files(_df(spark, 3, 6, "b"), t)
    assert files and _leftovers(t)[0] == before[0] | set(files)

    def refuse(es):
        raise RuntimeError("conflict")

    entry = {"action": "append", "files": files, "n_rows": n_rows}
    with pytest.raises(RuntimeError, match="conflict"):
        V._commit(t, entry, files, refuse)
    assert _leftovers(t) == (before[0], [])
    assert V.latest_version(t) == 0


def test_commit_lost_race_reruns_check(spark, tmp_path):
    """A competing entry landing between the check and the link makes
    the commit retry, re-running the check against the new head; the
    entry lands at head + 2 with a strictly larger ts."""
    t = str(tmp_path / "race")
    V.write_versioned(_df(spark, 0, 3, "a"), t, "overwrite")
    head = V.latest_version(t)
    seen = []

    def racing(es):
        seen.append(es[-1]["version"])
        if len(seen) == 1:  # a concurrent writer wins this attempt
            V._commit(t, {"action": "append", "files": [], "n_rows": 0})

    v = V._commit(t, {"action": "append", "files": [], "n_rows": 0}, (), racing)
    assert v == head + 2 and seen == [head, head + 1]
    hist = V.table_history(t)
    assert hist[-1]["version"] == v and hist[-1]["ts"] > hist[-2]["ts"]
    assert _leftovers(t)[1] == []


def test_missing_version_raises(spark, tmp_path):
    t = str(tmp_path / "tbl4")
    V.write_versioned(_df(spark, 0, 2, "a"), t, "overwrite")
    import pytest

    with pytest.raises(ValueError):
        V.read_versioned(spark, t, version=9)


def test_incremental_delta_matches_full_recompute(spark, tmp_path):
    """Aggregate maintained from version deltas must equal the full
    recompute at head; crossing an overwrite raises."""
    import pytest
    from pyspark.sql import functions as F

    t = str(tmp_path / "tbl5")
    V.write_versioned(_df(spark, 0, 10, "a"), t, "overwrite")     # v0
    V.write_versioned(_df(spark, 10, 25, "b"), t, "append")       # v1
    V.write_versioned(_df(spark, 25, 30, "c"), t, "append")       # v2

    # incremental: state at v0, then fold in (v0, v2]
    base = V.read_versioned(spark, t, version=0).agg(
        F.count(F.lit(1)).alias("n"), F.sum("id").alias("s")
    ).collect()[0]
    delta = V.read_version_delta(spark, t, 0, 2).agg(
        F.count(F.lit(1)).alias("n"), F.sum("id").alias("s")
    ).collect()[0]
    full = V.read_versioned(spark, t).agg(
        F.count(F.lit(1)).alias("n"), F.sum("id").alias("s")
    ).collect()[0]
    assert base["n"] + delta["n"] == full["n"]
    assert base["s"] + delta["s"] == full["s"]

    V.write_versioned(_df(spark, 0, 2, "d"), t, "overwrite")      # v3
    with pytest.raises(ValueError, match="overwrite"):
        V.read_version_delta(spark, t, 2, 3)


def test_vacuum_retains_head_reachable_only(spark, tmp_path):
    """Vacuum must delete pre-overwrite files (breaking old time
    travel) while the head snapshot stays intact."""
    t = str(tmp_path / "tbl6")
    V.write_versioned(_df(spark, 0, 10, "a"), t, "overwrite")   # v0
    V.write_versioned(_df(spark, 10, 12, "b"), t, "append")     # v1
    V.write_versioned(_df(spark, 50, 53, "c"), t, "overwrite")  # v2
    deleted = V.vacuum(t, min_age_seconds=0.0)
    assert deleted  # v0/v1 files gone
    assert V.read_versioned(spark, t).count() == 3  # head intact
    import pytest

    with pytest.raises(Exception):
        V.read_versioned(spark, t, version=0).count()


def test_streaming_sink_batchid_idempotence(spark, tmp_path):
    """Each micro-batch commits once; a manual replay of an
    already-committed batch_id is a no-op (no duplicate rows)."""
    src = tmp_path / "stream_src"
    src.mkdir()
    _df(spark, 0, 20, "s").coalesce(1).write.parquet(str(src / "f0"))

    t = str(tmp_path / "tbl7")
    stream = spark.readStream.schema("id long, tag string").parquet(
        str(src) + "/*"
    )
    q = V.write_stream_versioned(stream, t)
    q.awaitTermination()
    assert V.read_versioned(spark, t).count() == 20
    head = V.latest_version(t)

    # simulate a foreachBatch replay: same batch_id, same data
    V.write_versioned(_df(spark, 0, 20, "s"), t, "append", batch_id=0)
    assert V.latest_version(t) == head  # no new version
    assert V.read_versioned(spark, t).count() == 20  # no duplicates

    # a genuinely new batch still commits
    V.write_versioned(_df(spark, 20, 25, "s2"), t, "append", batch_id=1)
    assert V.read_versioned(spark, t).count() == 25


def test_stale_staged_commit_file_is_not_a_version(spark, tmp_path):
    """A crashed writer's ``_tmp_*.json`` left in _log must not parse
    as a committed entry: the head version, snapshot reads, and the
    next commit's version assignment all ignore it."""
    t = str(tmp_path / "tbl8")
    V.write_versioned(_df(spark, 0, 5, "a"), t, "overwrite")  # v0
    # simulate a writer that died between staging the entry and linking
    with open(os.path.join(t, V.LOG_DIR, "_tmp_deadbeef.json"), "w") as f:
        json.dump(
            {"version": 99, "action": "append", "files": ["data-ghost.parquet"],
             "n_rows": 1},
            f,
        )
    assert V.latest_version(t) == 0
    assert V.read_versioned(spark, t).count() == 5  # no ghost files read
    v = V.write_versioned(_df(spark, 5, 8, "b"), t, "append")
    assert v == 1  # head+1, not 100
    assert V.read_versioned(spark, t).count() == 8


def test_commit_leaves_no_staged_log_files(spark, tmp_path):
    """Every commit path (including collision retries and replayed
    batch_ids) must clean up its staged _tmp_*.json."""
    t = str(tmp_path / "tbl9")
    V.write_versioned(_df(spark, 0, 3, "a"), t, "overwrite")
    V.write_versioned(_df(spark, 3, 6, "b"), t, "append", batch_id=7)
    V.write_versioned(_df(spark, 6, 9, "c"), t, "append", batch_id=7)  # replay
    stale = [f for f in os.listdir(os.path.join(t, V.LOG_DIR))
             if f.startswith("_tmp_")]
    assert stale == []
    assert V.read_versioned(spark, t).count() == 6  # replay was a no-op


def test_vacuum_age_guard_spares_inflight_files(spark, tmp_path):
    """Default vacuum must NOT delete young unreferenced parquet files:
    they may belong to a commit in progress (data files land before the
    log entry exists)."""
    t = str(tmp_path / "tbl10")
    V.write_versioned(_df(spark, 0, 4, "a"), t, "overwrite")
    inflight = os.path.join(t, "data-inflight.parquet")
    with open(inflight, "wb") as f:
        f.write(b"PAR1")
    assert V.vacuum(t) == []  # young + unreferenced → spared
    assert os.path.exists(inflight)
    deleted = V.vacuum(t, min_age_seconds=0.0)
    assert "data-inflight.parquet" in deleted


def test_empty_delta_carries_table_schema(spark, tmp_path):
    """An empty version range must return an EMPTY frame with the TABLE
    SCHEMA (downstream incremental maintenance selects typed columns
    from it), not a zero-column frame."""
    t = str(tmp_path / "tbl11")
    V.write_versioned(_df(spark, 0, 5, "a"), t, "overwrite")   # v0
    # v1: an empty append (no files)
    V.write_versioned(_df(spark, 0, 0, "b"), t, "append")      # v1
    delta = V.read_version_delta(spark, t, 0, 1)
    assert delta.count() == 0
    assert [f.name for f in delta.schema.fields] == ["id", "tag"]


def test_vacuum_collects_crashed_writer_stage_dirs(spark, tmp_path):
    """A writer killed inside df.write leaves a _stage_* dir with the
    committer's nested _temporary tree — vacuum must remove the whole
    tree (rmtree), not crash on the nested directory."""
    t = str(tmp_path / "tbl12")
    V.write_versioned(_df(spark, 0, 4, "a"), t, "overwrite")
    stage = os.path.join(t, "_stage_deadbeef")
    os.makedirs(os.path.join(stage, "_temporary", "0"))
    with open(os.path.join(stage, "part-00000.parquet"), "wb") as f:
        f.write(b"PAR1")
    deleted = V.vacuum(t, min_age_seconds=0.0)
    assert "_stage_deadbeef" in deleted
    assert not os.path.exists(stage)
    assert V.read_versioned(spark, t).count() == 4  # table intact


def test_publish_with_audit_rolls_back_rejected_version(spark, tmp_path):
    """WAP: a failing audit must remove the just-committed version and
    its files, leaving readers on the previous snapshot."""
    import pytest

    t = str(tmp_path / "tbl13")
    V.publish_with_audit(_df(spark, 0, 5, "a"), t, lambda s: s.count() == 5,
                         mode="overwrite")
    assert V.latest_version(t) == 0

    with pytest.raises(ValueError, match="audit rejected"):
        V.publish_with_audit(
            _df(spark, 90, 99, "bad"), t,
            lambda s: s.filter("tag = 'bad'").count() == 0,  # rejects
        )
    assert V.latest_version(t) == 0  # rolled back
    assert V.read_versioned(spark, t).count() == 5
    # rolled-back data files are gone from disk
    import os as _os

    live = set(V.table_history(t)[-1]["files"])
    on_disk = {f for f in _os.listdir(t) if f.endswith(".parquet")}
    assert on_disk == live

    # audits that RAISE roll back too
    def exploding(s):
        raise RuntimeError("boom")

    with pytest.raises(RuntimeError):
        V.publish_with_audit(_df(spark, 5, 8, "c"), t, exploding)
    assert V.latest_version(t) == 0


def test_compact_versioned_preserves_data_and_history(spark, tmp_path):
    """Compaction rewrites the snapshot into fewer files as a new
    version: identical rows, reduced file count, time travel intact."""
    t = str(tmp_path / "tbl14")
    # many small appends → many files
    for i in range(5):
        V.write_versioned(_df(spark, i * 10, (i + 1) * 10, f"t{i}").repartition(4),
                          t, "append")
    before_files = len(V._snapshot_files(t, None))
    before = sorted((r["id"], r["tag"]) for r in V.read_versioned(spark, t).collect())
    v = V.compact_versioned(spark, t, target_rows_per_file=1_000_000)
    after_files = len(V._snapshot_files(t, None))
    after = sorted((r["id"], r["tag"]) for r in V.read_versioned(spark, t).collect())
    assert after == before
    assert after_files < before_files
    assert after_files == 1  # 50 rows fit one target file
    # pre-compaction version still readable (files not vacuumed yet)
    assert V.read_versioned(spark, t, version=v - 1).count() == 50


def test_pruned_read_skips_files_from_log_stats(spark, tmp_path):
    """Manifest-level file skipping: disjoint-range appends → a narrow
    range predicate opens only the matching file(s), decided from the
    log's per-file min/max alone, with exact results."""
    t = str(tmp_path / "tbl15")
    for i in range(5):  # 5 files with disjoint id ranges
        V.write_versioned(
            _df(spark, i * 100, (i + 1) * 100, f"t{i}").coalesce(1), t, "append"
        )
    df, scanned, total = V.read_versioned_pruned(spark, t, "id", 250, 260)
    assert (scanned, total) == (1, 5)
    assert sorted(r["id"] for r in df.collect()) == list(range(250, 261))

    # range spanning two files
    df2, scanned2, _ = V.read_versioned_pruned(spark, t, "id", 195, 205)
    assert scanned2 == 2
    assert df2.count() == 11

    # no file can match → empty frame with the table schema, zero scans
    df3, scanned3, _ = V.read_versioned_pruned(spark, t, "id", 10_000, 20_000)
    assert scanned3 == 0
    assert df3.count() == 0
    assert [f.name for f in df3.schema.fields] == ["id", "tag"]

    # string column stats work too
    df4, scanned4, _ = V.read_versioned_pruned(spark, t, "tag", "t2", "t2")
    assert scanned4 == 1
    assert df4.count() == 100


def test_long_string_stats_truncated_but_valid(spark, tmp_path):
    """Logged string bounds are capped (a documents table must not
    copy its text tails into every log entry) while staying VALID for
    pruning: truncated min ≤ true min, truncated max ≥ true max, so
    read_versioned_pruned keeps the no-false-negative property."""
    t = str(tmp_path / "docs")
    rows = [
        ("aaa" + "x" * 200, 1),
        ("mmm" + "y" * 200, 2),
        ("zzz" + "z" * 200, 3),
    ]
    df = spark.createDataFrame(rows, "text string, n long")
    V.write_versioned(df.repartition(1), t, mode="overwrite")
    es = V.table_history(t)
    st = next(iter(es[-1]["file_stats"].values()))
    lo, hi = st["text"]
    assert len(lo) <= V._STATS_MAX_STR and len(hi) <= V._STATS_MAX_STR
    assert lo <= rows[0][0] and hi >= rows[2][0]  # validity
    # a probe for the FULL long string must still scan the file
    got, scanned, total = V.read_versioned_pruned(
        spark, t, "text", rows[2][0], rows[2][0]
    )
    assert scanned == 1 and got.count() == 1
    # and a probe clearly outside the range prunes
    got, scanned, total = V.read_versioned_pruned(
        spark, t, "text", "AAAA", "AAAB"
    )
    assert scanned == 0 and got.count() == 0


def test_truncate_bounds_unit():
    tb = V._truncate_bounds
    assert tb("a", "b") == ["a", "b"]  # short: untouched
    lo, hi = tb("a" * 100, "b" * 100)
    assert len(lo) == len(hi) == V._STATS_MAX_STR
    assert lo == "a" * 64 and hi == "b" * 63 + "c"
    assert lo <= "a" * 100 and hi >= "b" * 100
    # max whose truncated tail is already U+10FFFF: increment an
    # earlier char and drop the rest
    hi_in = "q" + chr(0x10FFFF) * 100
    lo2, hi2 = tb("a", hi_in)
    assert hi2 == "r" and hi2 >= hi_in
    # no incrementable char at all → stat dropped
    assert tb("a", chr(0x10FFFF) * 100) is None


def test_vacuum_dry_run_deletes_nothing(spark, tmp_path):
    t = str(tmp_path / "dry")
    V.write_versioned(_df(spark, 0, 5, "a"), t, "overwrite")
    V.write_versioned(_df(spark, 0, 2, "b"), t, "overwrite")
    would = V.vacuum(t, retain_versions=0, min_age_seconds=0.0, dry_run=True)
    assert would  # v0's files are collectable
    # nothing actually deleted, no tombstones recorded
    assert V.read_versioned(spark, t, version=0).count() == 5
    assert V._vacuum_tombstones(t) == set()
    # the real vacuum then deletes exactly the predicted set
    assert V.vacuum(t, retain_versions=0, min_age_seconds=0.0) == would


def test_describe_detail(spark, tmp_path):
    from f1_data_engineering_spark.sources import constraints as C
    from f1_data_engineering_spark.sources import dml as D

    t = str(tmp_path / "detail")
    V.write_versioned(_df(spark, 0, 10, "a").repartition(2), t, "overwrite")
    D.delete_where_mor(spark, t, "id < 2")
    C.add_constraint(spark, t, "id_nonneg", "id >= 0")
    d = V.describe_detail(t)
    assert d["version"] == 2 and d["num_files"] == 2
    assert d["num_rows"] == 10  # physical rows (MoR deletes at read)
    assert d["mor_deleted_rows"] == 2 and d["dv_sidecars"] >= 1
    assert d["constraints"] == {"id_nonneg": "id >= 0"}
    assert d["columns"] == ["id", "tag"]
    assert d["size_bytes"] > 0 and d["last_commit_ts"] is not None
