"""Zero-copy table clone (sources/versioned.py clone_versioned):
hardlinked snapshot equality at head / VERSION AS OF / TIMESTAMP AS
OF, carried MoR deletion vectors and CHECK constraints, divergence
isolation in both directions, and survival of source VACUUM (the
hazard Delta's shallow clone has — hardlinks close it)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from f1_data_engineering_spark.sources import constraints as C
from f1_data_engineering_spark.sources import dml as D
from f1_data_engineering_spark.sources import versioned as V


@pytest.fixture()
def lake(spark, tmp_path):
    t = str(tmp_path / "src")
    df = spark.range(0, 100).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("v")
    )
    V.write_versioned(df.repartitionByRange(4, "k"), t, mode="overwrite")
    return t


def test_clone_is_zero_copy_and_exact(spark, lake, tmp_path):
    tgt = str(tmp_path / "dev")
    assert V.clone_versioned(lake, tgt) == 0
    got = V.read_versioned(spark, tgt)
    assert got.count() == 100
    assert (
        got.exceptAll(V.read_versioned(spark, lake)).count() == 0
    )
    # hardlinks, not copies: every cloned parquet shares its inode
    for f in V._snapshot_files(tgt, 0):
        s1 = os.stat(os.path.join(lake, f))
        s2 = os.stat(os.path.join(tgt, f))
        assert (s1.st_ino, s1.st_dev) == (s2.st_ino, s2.st_dev)
        assert s1.st_nlink >= 2


def test_clone_as_of_version_and_timestamp(spark, lake, tmp_path):
    D.delete_where(spark, lake, "k >= 50")  # v1
    ts_after_v1 = V.table_history(lake)[-1]["ts"]
    V.write_versioned(
        spark.createDataFrame([(500, 1)], "k long, v long"), lake, "append"
    )  # v2
    t0 = str(tmp_path / "at0")
    V.clone_versioned(lake, t0, version=0)
    assert V.read_versioned(spark, t0).count() == 100
    t1 = str(tmp_path / "at1")
    V.clone_versioned(lake, t1, timestamp=ts_after_v1)
    assert V.read_versioned(spark, t1).count() == 50


def test_clone_carries_mor_dvs_and_constraints(spark, lake, tmp_path):
    D.delete_where_mor(spark, lake, "k < 10")
    C.add_constraint(spark, lake, "v_nonneg", "v >= 0")
    tgt = str(tmp_path / "dev")
    V.clone_versioned(lake, tgt)
    got = V.read_versioned(spark, tgt)
    assert got.count() == 90 and got.filter("k < 10").count() == 0
    assert C.table_constraints(tgt) == {"v_nonneg": "v >= 0"}
    with pytest.raises(C.ConstraintViolationError):
        V.write_versioned(
            spark.createDataFrame([(1, -1)], "k long, v long"), tgt, "append"
        )


def test_clone_describes_sizes_and_prunes_like_its_source(spark, lake, tmp_path):
    """The clone seed carries the source's file stats, and DESCRIBE
    DETAIL counts the in-effect DVs by their own row counts, so the
    clone reports what it reads before and after its own MoR delete."""
    D.delete_where_mor(spark, lake, "k < 10")
    tgt = str(tmp_path / "dev")
    V.clone_versioned(lake, tgt)
    d = V.describe_detail(tgt)
    assert (d["num_rows"], d["mor_deleted_rows"]) == (100, 10)
    D.delete_where_mor(spark, tgt, "k >= 90")
    d = V.describe_detail(tgt)
    assert (d["num_rows"], d["mor_deleted_rows"]) == (100, 20)
    assert V.read_versioned(spark, tgt).count() == 80
    assert V._log_row_count(V._entries(tgt)) == 80
    # four range files of 25 keys: the stats skip all but the first
    df, scanned, total = V.read_versioned_pruned(spark, tgt, "k", 10, 20)
    assert (scanned, total) == (1, 4) and df.count() == 11


def test_clone_divergence_is_isolated(spark, lake, tmp_path):
    tgt = str(tmp_path / "dev")
    V.clone_versioned(lake, tgt)
    D.update_where(spark, tgt, "k = 5", {"v": "999"})  # clone-side DML
    D.delete_where(spark, lake, "k = 7")  # source-side DML
    src_snap = V.read_versioned(spark, lake)
    dev_snap = V.read_versioned(spark, tgt)
    assert src_snap.filter("k = 5").first()["v"] == 10  # source untouched
    assert dev_snap.filter("k = 5").first()["v"] == 999
    assert src_snap.filter("k = 7").count() == 0
    assert dev_snap.filter("k = 7").count() == 1  # clone untouched


def test_clone_survives_source_vacuum(spark, lake, tmp_path):
    """THE shallow-clone hazard: source OVERWRITE + VACUUM deletes the
    cloned snapshot's files from the source directory — the hardlinked
    clone must keep reading its bytes."""
    tgt = str(tmp_path / "dev")
    V.clone_versioned(lake, tgt)
    V.write_versioned(
        spark.createDataFrame([(1, 1)], "k long, v long"), lake, "overwrite"
    )
    deleted = V.vacuum(lake, retain_versions=0, min_age_seconds=0.0)
    assert deleted  # the old source files are gone from the source
    assert V.read_versioned(spark, lake).count() == 1
    assert V.read_versioned(spark, tgt).count() == 100  # clone intact


def test_clone_refusals(spark, lake, tmp_path):
    tgt = str(tmp_path / "dev")
    V.clone_versioned(lake, tgt)
    with pytest.raises(ValueError, match="already has a table log"):
        V.clone_versioned(lake, tgt)
    with pytest.raises(ValueError, match="does not exist"):
        V.clone_versioned(lake, str(tmp_path / "x"), version=99)
    # vacuumed source version refuses with the clear error
    V.write_versioned(
        spark.createDataFrame([(1, 1)], "k long, v long"), lake, "overwrite"
    )
    V.vacuum(lake, retain_versions=0, min_age_seconds=0.0)
    with pytest.raises(ValueError, match="vacuumed"):
        V.clone_versioned(lake, str(tmp_path / "y"), version=0)


# ---------------------------------------------------------------------------
# differential fuzz: clone at EVERY version of a random DML history
# ---------------------------------------------------------------------------

import os as _os

from hypothesis import HealthCheck, given, settings, strategies as st


def _n_examples(default: int) -> int:
    base = int(_os.environ.get("SPARK_GRAFT_FUZZ_EXAMPLES", "0"))
    return max(1, round(base * default / 8)) if base else default


_counter = [0]

_OPS = ["del_cow", "del_mor", "update", "append", "compact"]


@settings(
    max_examples=_n_examples(4),
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    n_rows=st.integers(1, 40),
    n_files=st.integers(1, 4),
    ops=st.lists(st.sampled_from(_OPS), min_size=1, max_size=4),
)
def test_clone_every_version_fuzz(
    spark, tmp_path_factory, n_rows, n_files, ops
):
    """For ANY history of CoW/MoR deletes, updates, appends and
    compactions: a clone taken at each version must read EXACTLY the
    state recorded there (MoR DV state rides along), and mutating the
    clone must leave the source byte-identical."""
    _counter[0] += 1
    base = tmp_path_factory.mktemp("cfz")
    t = str(base / f"src{_counter[0]}")
    df = spark.range(0, n_rows).select(
        F.col("id").alias("k"), (F.col("id") * 3).alias("v")
    )
    V.write_versioned(df.repartition(n_files), t, mode="overwrite")

    def snap(path, version=None):
        return sorted(
            tuple(r)
            for r in V.read_versioned(spark, path, version=version)
            .select("k", "v")
            .collect()
        )

    states = {0: snap(t)}
    for i, op in enumerate(ops):
        mod = 2 + i
        if op == "del_cow":
            D.delete_where(spark, t, f"k % {mod} = 0")
        elif op == "del_mor":
            D.delete_where_mor(spark, t, f"k % {mod} = 1")
        elif op == "update":
            D.update_where(spark, t, f"k % {mod} = 1", {"v": "v + 100"})
        elif op == "append":
            V.write_versioned(
                spark.createDataFrame([(1000 + i, -i)], "k long, v long"),
                t,
                mode="append",
            )
        else:
            V.compact_versioned(spark, t, target_rows_per_file=1000)
        head_v = V.latest_version(t)
        if head_v not in states:
            states[head_v] = snap(t)

    head_state = snap(t)
    for ver, want in states.items():
        c = str(base / f"cl{_counter[0]}_{ver}")
        V.clone_versioned(t, c, version=ver)
        assert snap(c) == want, (ops, ver)
        # clone-side mutation never leaks into the source
        D.delete_where(spark, c, "k >= 0 OR k IS NULL")
        assert snap(t) == head_state, (ops, ver)
