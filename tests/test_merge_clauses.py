"""Multi-clause conditional MERGE (sources/dml.py merge_into
``when_matched=[...]`` / ``insert_condition``): Delta-style ordered
``WHEN MATCHED AND cond THEN ...`` chains — first-match-wins, rows
matching no clause pass through (and their files carry by reference),
per-clause CDF capture, and the r9 cardinality guard unchanged."""

from __future__ import annotations

import threading

import pytest
from pyspark.sql import functions as F

from f1_data_engineering_spark.sources import dml as D
from f1_data_engineering_spark.sources import versioned as V


@pytest.fixture()
def lake(spark, tmp_path):
    """k 0..99, v = k, 4 range files."""
    t = str(tmp_path / "tbl")
    df = spark.range(0, 100).select(
        F.col("id").alias("k"), F.col("id").alias("v"), F.lit("x").alias("s")
    )
    V.write_versioned(df.repartitionByRange(4, "k"), t, mode="overwrite")
    return t


def test_clause_order_first_match_wins(spark, lake):
    """A row satisfying BOTH clauses takes the FIRST: delete-before-
    update vs update-before-delete give different tables."""
    src = spark.createDataFrame([(10, -1), (11, -2)], "k long, nv long")
    r = D.merge_into(
        spark, lake, src, on=["k"],
        when_matched=[
            {"action": "delete", "condition": "t.k = 10"},
            {"action": "update", "set": {"v": "s.nv"}},
        ],
        when_not_matched_insert=False,
    )
    assert (r["n_deleted"], r["n_updated"], r["n_inserted"]) == (1, 1, 0)
    snap = V.read_versioned(spark, lake)
    assert snap.filter("k = 10").count() == 0  # delete clause won
    assert snap.filter("k = 11").first()["v"] == -2
    assert snap.count() == 99


def test_no_clause_applies_row_passes_and_file_by_reference(spark, lake):
    """Matched rows failing every condition are untouched — and a file
    whose matched rows ALL fail conditions is carried by reference,
    not rewritten (the conditional-clause pruning contract)."""
    before = set(V._snapshot_files(lake, None))
    # k=10 (file 1 of 4) fails the condition; k=80 (file 4) passes
    src = spark.createDataFrame([(10, 0), (80, 1)], "k long, flag long")
    r = D.merge_into(
        spark, lake, src, on=["k"],
        when_matched=[
            {"action": "update", "condition": "s.flag = 1",
             "set": {"v": "t.v + 1000"}},
        ],
        when_not_matched_insert=False,
    )
    assert (r["n_updated"], r["files_rewritten"]) == (1, 1)
    after = set(V._snapshot_files(lake, None))
    assert len(before & after) == 3  # only k=80's file rewritten
    snap = V.read_versioned(spark, lake)
    assert snap.filter("k = 10").first()["v"] == 10  # untouched
    assert snap.filter("k = 80").first()["v"] == 1080
    # nothing applied at all → zero-rewrite commit-free merge
    head = V.latest_version(lake)
    src2 = spark.createDataFrame([(10, 0)], "k long, flag long")
    r2 = D.merge_into(
        spark, lake, src2, on=["k"],
        when_matched=[
            {"action": "update", "condition": "s.flag = 1",
             "set": {"v": "t.v + 1000"}},
        ],
        when_not_matched_insert=False,
    )
    assert r2["files_rewritten"] == 0 and r2["n_updated"] == 0
    assert V.latest_version(lake) == head


def test_cdc_apply_shape_with_per_clause_cdf(spark, lake):
    """The CDC-apply idiom in ONE merge: op-tagged source, delete
    clause + update clause + conditional insert — with CDF capture
    emitting delete / update pre+post / insert rows whose replay over
    v0 reproduces the head snapshot."""
    src = spark.createDataFrame(
        [
            (5, None, "delete"),
            (6, None, "delete"),
            (50, 500, "update"),
            (200, 2000, "insert"),
            (201, None, "noop"),  # unmatched but fails insert_condition
        ],
        "k long, v long, _op string",
    )
    r = D.merge_into(
        spark, lake, src, on=["k"],
        when_matched=[
            {"action": "delete", "condition": "s._op = 'delete'"},
            {"action": "update", "condition": "s._op = 'update'",
             "set": {"v": "s.v"}},
        ],
        insert_condition="_op = 'insert'",
        capture_cdf=True,
    )
    assert (r["n_deleted"], r["n_updated"], r["n_inserted"]) == (2, 1, 1)
    snap = V.read_versioned(spark, lake)
    assert snap.count() == 99  # 100 - 2 + 1
    assert snap.filter("k in (5, 6)").count() == 0
    assert snap.filter("k = 50").first()["v"] == 500
    ins = snap.filter("k = 200").first()
    assert ins["v"] == 2000 and ins["s"] is None  # missing cols → NULL
    assert snap.filter("k = 201").count() == 0
    # change-feed replay: v0 ⊎ feed == head
    feed = D.read_change_feed(spark, lake, 0, r["version"])
    got = {
        row["_change_type"]: row["cnt"]
        for row in feed.groupBy("_change_type")
        .agg(F.count("*").alias("cnt"))
        .collect()
    }
    assert got == {
        "delete": 2,
        "update_preimage": 1,
        "update_postimage": 1,
        "insert": 1,
    }
    minus = feed.filter(
        F.col("_change_type").isin("delete", "update_preimage")
    ).select("k", "v", "s")
    plus = feed.filter(
        F.col("_change_type").isin("insert", "update_postimage")
    ).select("k", "v", "s")
    state = (
        V.read_versioned(spark, lake, version=0)
        .select("k", "v", "s")
        .exceptAll(minus)
        .unionByName(plus)
    )
    head = snap.select("k", "v", "s")
    assert state.exceptAll(head).count() == 0
    assert head.exceptAll(state).count() == 0


def test_multiple_update_clauses_distinct_sets(spark, lake):
    src = spark.createDataFrame([(10, 1), (20, 2)], "k long, tier long")
    D.merge_into(
        spark, lake, src, on=["k"],
        when_matched=[
            {"action": "update", "condition": "s.tier = 1",
             "set": {"v": "t.v * 10"}},
            {"action": "update", "condition": "s.tier = 2",
             "set": {"s": "'gold'"}},
        ],
        when_not_matched_insert=False,
    )
    snap = V.read_versioned(spark, lake)
    r10 = snap.filter("k = 10").first()
    r20 = snap.filter("k = 20").first()
    assert (r10["v"], r10["s"]) == (100, "x")  # clause 1: v only
    assert (r20["v"], r20["s"]) == (20, "gold")  # clause 2: s only


def test_cardinality_guard_fires_with_conditional_clauses(spark, lake):
    src = spark.createDataFrame(
        [(50, 1), (50, 2)], "k long, flag long"
    )
    with pytest.raises(ValueError, match="multiple rows matching"):
        D.merge_into(
            spark, lake, src, on=["k"],
            when_matched=[
                {"action": "update", "condition": "s.flag = 1",
                 "set": {"v": "s.flag"}},
            ],
        )


def test_failed_probe_leaves_no_guard_thread(spark, lake):
    """An unparseable clause condition fails the touched-file probe
    after the cardinality guard has started: the merge must raise and
    must not leave the guard's worker thread (or its job) running."""
    from pyspark.errors import ParseException

    before = set(threading.enumerate())
    src = spark.createDataFrame([(10, 1)], "k long, nv long")
    with pytest.raises(ParseException) as failed:
        D.merge_into(
            spark, lake, src, on=["k"],
            when_matched=[
                {"action": "update", "condition": "s.nv >",
                 "set": {"v": "s.nv"}},
            ],
        )
    leaked = [
        t.name for t in threading.enumerate()
        if t not in before and t.is_alive() and not t.daemon
    ]
    assert not leaked, (leaked, failed.value)
    assert V.read_versioned(spark, lake).count() == 100  # nothing committed


def test_clause_validation(spark, lake):
    src = spark.createDataFrame([(1, 1)], "k long, v long")
    with pytest.raises(ValueError, match="not both"):
        D.merge_into(
            spark, lake, src, on=["k"],
            when_matched=[{"action": "delete"}],
            when_matched_update={"v": "s.v"},
        )
    with pytest.raises(ValueError, match="action must be"):
        D.merge_into(
            spark, lake, src, on=["k"], when_matched=[{"action": "upsert"}]
        )
    with pytest.raises(ValueError, match="non-empty set"):
        D.merge_into(
            spark, lake, src, on=["k"], when_matched=[{"action": "update"}]
        )
    with pytest.raises(ValueError, match="cannot set"):
        D.merge_into(
            spark, lake, src, on=["k"],
            when_matched=[{"action": "delete", "set": {"v": "1"}}],
        )


def test_null_condition_counts_as_false(spark, lake):
    """A clause condition evaluating to NULL must not apply (SQL WHERE
    semantics), falling through to later clauses."""
    src = spark.createDataFrame(
        [(10, None), (20, 1)], "k long, flag long"
    )
    r = D.merge_into(
        spark, lake, src, on=["k"],
        when_matched=[
            {"action": "delete", "condition": "s.flag = 1"},
            {"action": "update", "set": {"s": "'fell-through'"}},
        ],
        when_not_matched_insert=False,
    )
    assert (r["n_deleted"], r["n_updated"]) == (1, 1)
    snap = V.read_versioned(spark, lake)
    assert snap.filter("k = 20").count() == 0
    assert snap.filter("k = 10").first()["s"] == "fell-through"
