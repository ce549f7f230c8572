"""Lake DML takes its counts and touched files from the write it already
runs (sources/dml.py, sources/versioned.py): job bounds for MoR DELETE,
MERGE and compaction on a 16-file lake with one deletion vector in
effect, the empty paths of the observed metadata, change feeds, and the
compaction row count derived from the log."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from f1_data_engineering_spark.sources import dml as D
from f1_data_engineering_spark.sources import versioned as V


@pytest.fixture()
def lake(spark, tmp_path):
    """1,600 rows (k 0..1599, v = 2k) range-clustered into 16 files,
    with one MoR delete (17 rows, every file) in effect."""
    t = str(tmp_path / "tbl")
    df = spark.range(0, 1600).select(
        F.col("id").alias("k"),
        (F.col("id") * 2).alias("v"),
        F.lit("x").alias("s"),
    )
    V.write_versioned(df.repartitionByRange(16, "k"), t, mode="overwrite")
    D.delete_where_mor(spark, t, "k % 97 = 3")
    return t


def _cache_state(spark) -> tuple[set[int], int]:
    rdds = spark.sparkContext._jsc.getPersistentRDDs().keySet()
    n_plans = spark._jsparkSession.sharedState().cacheManager().numCachedEntries()
    return {int(i) for i in rdds}, int(n_plans)


def _jobs(spark, fn):
    """(Spark jobs ``fn`` submitted, its result); also asserts it left
    no persisted RDD or cached plan behind."""
    sched = spark.sparkContext._jsc.sc().dagScheduler()
    rdds, plans = _cache_state(spark)
    first = int(sched.nextJobId())
    out = fn()
    n = int(sched.nextJobId()) - first
    rdds_after, plans_after = _cache_state(spark)
    assert rdds_after <= rdds and plans_after <= plans
    return n, out


def _files(t: str) -> set[str]:
    return {f for f in os.listdir(t) if f.endswith(".parquet") or f.startswith("_stage_")}


def test_mor_delete_is_one_write(spark, lake):
    """The DV keys are staged straight from the filtered scan and the
    targeted files observed by that write: one job, plus one for the
    in-effect DV's broadcast (5 when it collected the files first)."""
    n, r = _jobs(spark, lambda: D.delete_where_mor(spark, lake, "k >= 500 AND k < 520"))
    assert (r["n_deleted"], r["files_targeted"]) == (20, 1)
    head = V.table_history(lake)[-1]
    assert head["applies_to"] == [
        f for f in V._snapshot_files(lake, None) if f in head["applies_to"]
    ] and len(head["applies_to"]) == 1
    assert n <= 2


def test_merge_update_insert_job_bound(spark, lake):
    """Guard in one aggregate, inserts counted on the staged write, the
    rewrite joined to the cached probe (16-17 jobs before)."""
    src = spark.createDataFrame(
        [(10, -1, "m"), (11, -2, "m"), (5000, -3, "m")], "k long, v long, s string"
    )
    n, r = _jobs(
        spark,
        lambda: D.merge_into(spark, lake, src, on=["k"], when_matched_update={"v": "s.v"}),
    )
    assert (r["n_updated"], r["n_inserted"], r["files_rewritten"]) == (2, 1, 1)
    assert V.table_history(lake)[-1]["op"]["n_inserted"] == 1
    snap = V.read_versioned(spark, lake)
    assert snap.count() == 1600 - 17 + 1
    assert snap.filter("k = 10").first()["v"] == -1
    assert n <= 10


def test_compaction_sized_from_log(spark, lake, monkeypatch):
    """With every in-effect DV's targets live, the row count comes from
    the log: no count job (6 jobs with it)."""
    cls = type(spark.range(1))

    def no_count(self):
        raise AssertionError("compaction ran a count job")

    monkeypatch.setattr(cls, "count", no_count)
    n, _ = _jobs(
        spark, lambda: V.compact_versioned(spark, lake, target_rows_per_file=500)
    )
    monkeypatch.undo()
    assert n <= 3
    head = V.table_history(lake)[-1]
    assert head["n_rows"] == 1600 - 17 and len(head["files"]) == 4


def test_mor_delete_no_match_leaves_nothing(spark, lake):
    before, version = _files(lake), V.latest_version(lake)
    r = D.delete_where_mor(spark, lake, "k > 100000")
    assert (r["n_deleted"], r["files_targeted"], r["version"]) == (0, 0, version)
    assert V.latest_version(lake) == version
    assert _files(lake) == before


@pytest.mark.parametrize(
    "kwargs",
    [
        # every source key matches, no clause applies: nothing to do
        dict(
            rows=[(10, -1, "m"), (20, -2, "m")],
            when_matched=[
                {"action": "update", "condition": "s.v > 0", "set": {"v": "s.v"}}
            ],
        ),
        # no key matches and the insert condition rejects every row
        dict(
            rows=[(5000, -1, "m"), (5001, -2, "m")],
            when_matched=[{"action": "delete"}],
            insert_condition="v > 0",
        ),
    ],
    ids=["no_clause_hit", "insert_condition_rejects_all"],
)
def test_merge_touching_nothing_commits_nothing(spark, lake, kwargs):
    rows = kwargs.pop("rows")
    src = spark.createDataFrame(rows, "k long, v long, s string")
    before, version = _files(lake), V.latest_version(lake)
    rdds, plans = _cache_state(spark)
    r = D.merge_into(spark, lake, src, on=["k"], **kwargs)
    assert r == {
        "version": version,
        "n_updated": 0,
        "n_deleted": 0,
        "n_inserted": 0,
        "files_rewritten": 0,
        "files_total": 16,
    }
    assert V.latest_version(lake) == version
    assert _files(lake) == before
    rdds_after, plans_after = _cache_state(spark)
    assert rdds_after <= rdds and plans_after <= plans


def test_merge_deleting_a_whole_file_without_inserts(spark, tmp_path):
    """A rewrite that stages no row still commits (it removes a file);
    the insert count is 0 without reading the write's observation."""
    t = str(tmp_path / "one")
    V.write_versioned(
        spark.createDataFrame([(1, 1), (2, 2)], "k long, v long").coalesce(1),
        t,
        mode="overwrite",
    )
    src = spark.createDataFrame([(1,), (2,)], "k long")
    r = D.merge_into(spark, t, src, on=["k"], when_matched_delete=True)
    assert (r["version"], r["n_deleted"], r["n_inserted"]) == (1, 2, 0)
    assert V.table_history(t)[-1]["op"]["n_inserted"] == 0
    assert V.read_versioned(spark, t).count() == 0


def _feed(spark, t, v0, v1) -> list[tuple]:
    rows = D.read_change_feed(spark, t, v0, v1).collect()
    return sorted((r["k"], r["v"], r["_change_type"], r["_commit_version"]) for r in rows)


def test_change_feeds_of_merge_and_deletes(spark, lake):
    """MERGE (update, delete, insert) and both DELETE forms record the
    same change rows as before the writes took over the counting."""
    v = V.latest_version(lake)
    src = spark.createDataFrame(
        [(10, -1, "u"), (11, -2, "d"), (3, -3, "u"), (5000, -4, "i")],
        "k long, v long, op string",
    )
    D.merge_into(
        spark,
        lake,
        src,
        on=["k"],
        capture_cdf=True,
        when_matched=[
            {"action": "delete", "condition": "s.op = 'd'"},
            {"action": "update", "set": {"v": "s.v"}},
        ],
    )
    D.delete_where_mor(spark, lake, "k >= 40 AND k < 42", capture_cdf=True)
    D.delete_where(spark, lake, "k = 50", capture_cdf=True)
    assert _feed(spark, lake, v, v + 3) == sorted(
        [
            (10, 20, "update_preimage", v + 1),
            (10, -1, "update_postimage", v + 1),
            (11, 22, "delete", v + 1),
            (5000, -4, "insert", v + 1),
            (3, -3, "insert", v + 1),  # k = 3 is MoR-deleted: no match
            (40, 80, "delete", v + 2),
            (41, 82, "delete", v + 2),
            (50, 100, "delete", v + 3),
        ]
    )


def _log_count_matches(spark, t) -> int | None:
    n = V._log_row_count(V._entries(t))
    if n is not None:
        assert n == V.read_versioned(spark, t).count()
    return n


def test_log_row_count_equals_snapshot_count(spark, tmp_path):
    """The four exact cases, plus the one that falls back to a scan."""
    t = str(tmp_path / "cnt")
    df = spark.range(0, 400).select(F.col("id").alias("k"), F.col("id").alias("v"))
    V.write_versioned(df.repartitionByRange(4, "k"), t, mode="overwrite")
    assert _log_count_matches(spark, t) == 400  # no DVs
    D.delete_where_mor(spark, t, "k < 10")  # v1: first file
    D.delete_where_mor(spark, t, "k >= 300 AND k % 50 = 7")  # v2: last file
    assert _log_count_matches(spark, t) == 388  # DVs fully live
    # v3: a CoW MERGE rewrites v1's only target file, so v1 goes inert
    src = spark.createDataFrame([(20, -1)], "k long, v long")
    D.merge_into(spark, t, src, on=["k"], when_matched_update={"v": "s.v"})
    hist = V.table_history(t)
    assert hist[3]["removed"] == hist[1]["applies_to"]
    assert _log_count_matches(spark, t) == 388
    # v4: every live file; k = 8 already left with v1's materialization
    D.delete_where_mor(spark, t, "k % 50 = 8")
    assert _log_count_matches(spark, t) == 381
    # v5: rewriting one of v4's targets leaves it partly live: its count
    # no longer splits by file, so the scan counts
    D.merge_into(spark, t, src.selectExpr("k + 100 AS k", "v"), on=["k"],
                 when_matched_update={"v": "s.v"})
    assert V._log_row_count(V._entries(t)) is None
    V.restore_versioned(t, 2)  # after restore: v1 and v2 live again
    assert _log_count_matches(spark, t) == 388
    V.restore_versioned(t, 4)
    assert _log_count_matches(spark, t) == 381


def test_dv_reads_of_two_versions_join(spark, lake):
    """The DV tag columns are built once per process: two snapshots
    read through deletion vectors still join each other."""
    D.delete_where_mor(spark, lake, "k < 100")
    old = V.read_versioned(spark, lake, version=1).alias("a")
    new = V.read_versioned(spark, lake).alias("b")
    gone = old.join(new, F.col("a.k") == F.col("b.k"), "left_anti")
    assert gone.count() == 99  # k < 100 but k = 3, which v1 deleted
    assert old.join(new, "k").count() == 1600 - 17 - 99
