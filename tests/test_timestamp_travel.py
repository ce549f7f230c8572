"""TIMESTAMP AS OF time travel (sources/versioned.py): every commit
path records a strictly monotonic wall-clock ``ts`` in its log entry,
``version_at_timestamp`` resolves latest-version-≤-ts with Delta
semantics (refuse pre-v0 and post-head timestamps), and
``read_versioned`` / ``restore_versioned`` accept ``timestamp=``.
Covers the monotonicity edge (two commits inside one clock tick) by
freezing the clock."""

from __future__ import annotations

import datetime

import pytest
from pyspark.sql import functions as F

from f1_data_engineering_spark.sources import dml as D
from f1_data_engineering_spark.sources import versioned as V


def _df(spark, lo, hi, tag="a"):
    return spark.range(lo, hi).select(
        F.col("id").alias("k"), F.lit(tag).alias("tag")
    )


def test_every_commit_path_stamps_monotonic_ts(spark, tmp_path):
    t = str(tmp_path / "tbl")
    V.write_versioned(_df(spark, 0, 8), t, "overwrite")  # v0
    V.write_versioned(_df(spark, 8, 12, "b"), t, "append")  # v1
    D.delete_where(spark, t, "k >= 10")  # v2 (dml rewrite)
    V.restore_versioned(t, version=1)  # v3
    V.write_versioned(
        _df(spark, 100, 101, "s").repartition(2), t, "append"
    )  # v4: two small files
    V.compact_small_files(spark, t, target_rows_per_file=1000)  # v5
    es = V.table_history(t)
    ts = [e["ts"] for e in es]
    assert len(ts) == 6 and all(isinstance(x, float) for x in ts)
    assert all(a < b for a, b in zip(ts, ts[1:])), ts


def test_same_second_commits_stay_strictly_increasing(
    spark, tmp_path, monkeypatch
):
    t = str(tmp_path / "tbl")
    V.write_versioned(_df(spark, 0, 4), t, "overwrite")
    frozen = V.table_history(t)[-1]["ts"] - 100.0  # clock stepped BACK
    monkeypatch.setattr(V.time, "time", lambda: frozen)
    V.write_versioned(_df(spark, 4, 8, "b"), t, "append")
    V.write_versioned(_df(spark, 8, 12, "c"), t, "append")
    ts = [e["ts"] for e in V.table_history(t)]
    assert ts[1] > ts[0] and ts[2] > ts[1]  # fixed up, never equal/backward


def test_timestamp_resolution_and_reads(spark, tmp_path):
    t = str(tmp_path / "tbl")
    V.write_versioned(_df(spark, 0, 5), t, "overwrite")  # v0: 5 rows
    V.write_versioned(_df(spark, 5, 9, "b"), t, "append")  # v1: 9 rows
    V.write_versioned(_df(spark, 9, 12, "c"), t, "append")  # v2: 12 rows
    es = V.table_history(t)
    mid = (es[0]["ts"] + es[1]["ts"]) / 2  # strictly between v0 and v1
    assert V.version_at_timestamp(t, mid) == 0
    assert V.read_versioned(spark, t, timestamp=mid).count() == 5
    # exactly at a commit's ts → that version (inclusive ≤)
    assert V.version_at_timestamp(t, es[1]["ts"]) == 1
    assert V.read_versioned(spark, t, timestamp=es[2]["ts"]).count() == 12
    # ISO string and datetime forms resolve identically
    iso = datetime.datetime.fromtimestamp(mid).isoformat()
    assert V.version_at_timestamp(t, iso) == 0
    assert (
        V.version_at_timestamp(t, datetime.datetime.fromtimestamp(mid)) == 0
    )
    with pytest.raises(ValueError, match="before the earliest"):
        V.version_at_timestamp(t, es[0]["ts"] - 1.0)
    with pytest.raises(ValueError, match="after the latest"):
        V.version_at_timestamp(t, es[-1]["ts"] + 3600.0)
    with pytest.raises(ValueError, match="version OR timestamp"):
        V.read_versioned(spark, t, version=1, timestamp=mid)


def test_restore_by_timestamp(spark, tmp_path):
    t = str(tmp_path / "tbl")
    V.write_versioned(_df(spark, 0, 6), t, "overwrite")  # v0
    V.write_versioned(_df(spark, 6, 10, "bad"), t, "append")  # v1: backfill
    es = V.table_history(t)
    just_before_bad = (es[0]["ts"] + es[1]["ts"]) / 2
    v = V.restore_versioned(t, timestamp=just_before_bad)
    assert v == 2
    got = V.read_versioned(spark, t)
    assert got.count() == 6
    assert got.filter(F.col("tag") == "bad").count() == 0
    with pytest.raises(ValueError, match="needs a version or timestamp"):
        V.restore_versioned(t)


def test_legacy_log_without_ts_raises_clearly(spark, tmp_path):
    import json
    import os

    t = str(tmp_path / "tbl")
    V.write_versioned(_df(spark, 0, 3), t, "overwrite")
    # strip ts as a pre-timestamp log entry would look
    p = os.path.join(t, V.LOG_DIR, "00000000.json")
    with open(p) as f:
        e = json.load(f)
    del e["ts"]
    with open(p, "w") as f:
        json.dump(e, f)
    with pytest.raises(ValueError, match="predates commit timestamps"):
        V.version_at_timestamp(t, 1.0)


def test_timestamp_resolution_property_over_random_history(spark, tmp_path):
    """For EVERY commit of a mixed history (appends, DML, restore,
    compaction, metadata): resolving its exact ts returns its version,
    a midpoint between consecutive ts returns the earlier version, and
    reads by ts equal reads by the resolved version."""
    from f1_data_engineering_spark.sources import constraints as C
    from f1_data_engineering_spark.sources import dml as D

    t = str(tmp_path / "hist")
    V.write_versioned(_df(spark, 0, 20), t, "overwrite")
    V.write_versioned(_df(spark, 20, 30, "b").repartition(2), t, "append")
    D.delete_where(spark, t, "k >= 25")
    C.add_constraint(spark, t, "k_nonneg", "k >= 0")
    D.update_where(spark, t, "k = 3", {"tag": "'upd'"})
    V.restore_versioned(t, version=1)
    V.compact_small_files(spark, t, target_rows_per_file=1000, small_rows=500)
    es = V.table_history(t)
    assert len(es) == 7
    for e in es:
        assert V.version_at_timestamp(t, e["ts"]) == e["version"]
    for a, b in zip(es, es[1:]):
        mid = (a["ts"] + b["ts"]) / 2
        v = V.version_at_timestamp(t, mid)
        assert v == a["version"], (a["version"], b["version"], v)
        by_ts = V.read_versioned(spark, t, timestamp=mid)
        by_v = V.read_versioned(spark, t, version=v)
        assert by_ts.exceptAll(by_v).count() == 0
        assert by_v.exceptAll(by_ts).count() == 0
