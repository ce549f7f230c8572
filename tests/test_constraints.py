"""CHECK constraints (sources/constraints.py): SQL semantics (FALSE
violates, NULL satisfies), existing-data validation on ADD, refusal
leaves no version/files behind, enforcement across append / overwrite
/ streaming sink / UPDATE / MERGE insert, UPDATE / MERGE refused past a
concurrent ADD CONSTRAINT, drop, and per-version constraint state."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from f1_data_engineering_spark.sources import constraints as C
from f1_data_engineering_spark.sources import dml as D
from f1_data_engineering_spark.sources import versioned as V


@pytest.fixture()
def lake(spark, tmp_path):
    t = str(tmp_path / "tbl")
    df = spark.range(0, 50).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("v")
    )
    V.write_versioned(df.repartition(2), t, mode="overwrite")
    return t


def _parquets(t):
    return {f for f in os.listdir(t) if f.endswith(".parquet")}


def test_add_enforce_and_drop(spark, lake):
    C.add_constraint(spark, lake, "v_nonneg", "v >= 0")
    assert C.table_constraints(lake) == {"v_nonneg": "v >= 0"}
    # valid append commits
    V.write_versioned(
        spark.createDataFrame([(100, 0)], "k long, v long"), lake, "append"
    )
    # violating append refused, no version committed, no files leaked
    head = V.latest_version(lake)
    files = _parquets(lake)
    with pytest.raises(C.ConstraintViolationError, match="v_nonneg"):
        V.write_versioned(
            spark.createDataFrame([(101, -5)], "k long, v long"),
            lake,
            "append",
        )
    assert V.latest_version(lake) == head
    assert _parquets(lake) == files
    # overwrite is gated too (constraints survive overwrites)
    with pytest.raises(C.ConstraintViolationError):
        V.write_versioned(
            spark.createDataFrame([(1, -1)], "k long, v long"),
            lake,
            "overwrite",
        )
    # drop → the same write succeeds
    C.drop_constraint(lake, "v_nonneg")
    V.write_versioned(
        spark.createDataFrame([(101, -5)], "k long, v long"), lake, "append"
    )
    assert V.read_versioned(spark, lake).filter("v < 0").count() == 1


def test_add_refused_on_existing_violations(spark, lake):
    with pytest.raises(C.ConstraintViolationError):
        C.add_constraint(spark, lake, "small", "v < 10")  # v goes to 98
    assert C.table_constraints(lake) == {}


def test_null_satisfies_sql_check(spark, lake):
    C.add_constraint(spark, lake, "v_nonneg", "v >= 0")
    V.write_versioned(
        spark.createDataFrame([(200, None)], "k long, v long"), lake, "append"
    )  # NULL v: unknown ≠ failed
    assert V.read_versioned(spark, lake).filter("v IS NULL").count() == 1


def test_dml_paths_enforced(spark, lake):
    C.add_constraint(spark, lake, "v_nonneg", "v >= 0")
    head = V.latest_version(lake)
    with pytest.raises(C.ConstraintViolationError):
        D.update_where(spark, lake, "k = 5", {"v": "-1"})
    assert V.latest_version(lake) == head
    with pytest.raises(C.ConstraintViolationError):
        D.merge_into(
            spark,
            lake,
            spark.createDataFrame([(1000, -7)], "k long, v long"),
            on=["k"],
        )
    assert V.latest_version(lake) == head
    with pytest.raises(C.ConstraintViolationError):
        D.merge_into(
            spark,
            lake,
            spark.createDataFrame([(5, -7)], "k long, v long"),
            on=["k"],
            when_matched_update={"v": "s.v"},
            when_not_matched_insert=False,
        )
    assert V.latest_version(lake) == head
    # valid DML still lands
    D.update_where(spark, lake, "k = 5", {"v": "12345"})
    assert V.read_versioned(spark, lake).filter("k = 5").first()["v"] == 12345


@pytest.mark.parametrize("op", ["update", "merge"])
def test_dml_refused_past_concurrent_add_constraint(spark, lake, monkeypatch, op):
    """A constraint committed after a CoW UPDATE/MERGE staged its
    rewrite but before the rewrite's commit: the commit re-validates
    the staged rows and refuses, leaving no staged file behind and the
    constraint's version as the head."""
    real_stage = D._stage_files
    added = []

    def racing_stage(df, path, *args, **kwargs):
        out = real_stage(df, path, *args, **kwargs)
        if not added:  # the race: ADD CONSTRAINT lands after staging
            added.append(C.add_constraint(spark, lake, "ck_nonneg", "v >= 0"))
        return out

    files = _parquets(lake)
    monkeypatch.setattr(D, "_stage_files", racing_stage)
    with pytest.raises(C.ConstraintViolationError, match="ck_nonneg"):
        if op == "update":
            D.update_where(spark, lake, "k < 3", {"v": "-1"})
        else:
            D.merge_into(
                spark,
                lake,
                spark.createDataFrame([(5, -7)], "k long, v long"),
                on=["k"],
                when_matched_update={"v": "s.v"},
                when_not_matched_insert=False,
            )
    assert added and V.latest_version(lake) == added[0]
    assert _parquets(lake) == files
    assert not [
        f for f in os.listdir(os.path.join(lake, V.LOG_DIR)) if f.startswith("_tmp_")
    ]
    assert V.read_versioned(spark, lake).filter("v < 0").count() == 0


def test_streaming_sink_enforced(spark, lake, tmp_path):
    C.add_constraint(spark, lake, "v_nonneg", "v >= 0")
    src = str(tmp_path / "src")
    spark.createDataFrame([(300, -1)], "k long, v long").write.parquet(src)
    stream = spark.readStream.schema("k long, v long").parquet(src)
    q = V.write_stream_versioned(stream, lake)
    with pytest.raises(Exception, match="onstraint"):
        q.awaitTermination()
    assert V.read_versioned(spark, lake).filter("v < 0").count() == 0


def test_constraint_state_is_versioned(spark, lake):
    v1 = C.add_constraint(spark, lake, "a", "v >= 0")
    v2 = C.add_constraint(spark, lake, "b", "k >= 0")
    v3 = C.drop_constraint(lake, "a")
    assert C.table_constraints(lake, version=v1) == {"a": "v >= 0"}
    assert C.table_constraints(lake, version=v2) == {
        "a": "v >= 0",
        "b": "k >= 0",
    }
    assert C.table_constraints(lake, version=v3) == {"b": "k >= 0"}
    # metadata commits are invisible to incremental readers and leave
    # snapshots untouched
    assert V.read_version_delta(spark, lake, v1 - 1, v3).count() == 0
    assert V.read_versioned(spark, lake, version=v2).count() == 50
    with pytest.raises(ValueError, match="already exists"):
        C.add_constraint(spark, lake, "b", "k >= 0")
    with pytest.raises(ValueError, match="no constraint"):
        C.drop_constraint(lake, "zzz")
