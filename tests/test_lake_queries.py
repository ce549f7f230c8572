"""The registered lake queries (``lakedml``, ``lakemgmt``, ``lakeperf``)
against their DuckDB oracles, through ``scripts/oracle_check.py``'s own
``compare``, plus the scratch-lake scaffold's directory contract: a
query removes the temp dir it made however it exits, and leaves a
caller's ``work_dir`` in place."""

from __future__ import annotations

import importlib.util
import os
import sys
import tempfile

import duckdb
import pytest

from f1_data_engineering_spark.operators import lakedml, lakemgmt, lakeperf
from f1_data_engineering_spark.sources import dml as D
from f1_data_engineering_spark.sources import versioned as V

_spec = importlib.util.spec_from_file_location(
    "oracle_check",
    os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "scripts",
        "oracle_check.py",
    ),
)
oc = importlib.util.module_from_spec(_spec)
sys.modules["oracle_check"] = oc
_spec.loader.exec_module(oc)

LAKE_QUERIES = {**lakedml.QUERIES, **lakemgmt.QUERIES, **lakeperf.QUERIES}


@pytest.fixture(scope="module")
def duck(sf_dir):
    con = duckdb.connect()
    for t in oc.TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    yield con
    con.close()


def _persisted_rdds(spark) -> set[int]:
    return {int(i) for i in spark.sparkContext._jsc.getPersistentRDDs().keySet()}


@pytest.mark.parametrize(
    "fn", list(LAKE_QUERIES), ids=[f.__name__ for f in LAKE_QUERIES]
)
def test_lake_query_matches_oracle_and_caches_nothing(spark, sf_dir, duck, fn):
    cache = spark._jsparkSession.sharedState().cacheManager()
    # plans other tests left cached are not this query's
    spark.catalog.clearCache()
    rdds = _persisted_rdds(spark)
    got = fn(spark, sf_dir).toPandas()
    assert not (_persisted_rdds(spark) - rdds)
    assert cache.isEmpty()
    assert oc.compare(fn.__name__, got, duck.execute(LAKE_QUERIES[fn]).df()) == []


def test_scratch_lake_is_removed_when_the_body_raises(
    spark, sf_dir, tmp_path, monkeypatch
):
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))

    def failing_merge(*args, **kwargs):
        assert list(tmp_path.glob("dml_merge_*")), "the lake was not made here"
        raise RuntimeError("merge failed mid-body")

    monkeypatch.setattr(D, "merge_into", failing_merge)
    with pytest.raises(RuntimeError, match="merge failed mid-body"):
        lakedml.merge_upsert_orders(spark, sf_dir)
    assert not list(tmp_path.glob("dml_merge_*"))


def test_caller_work_dir_is_kept(spark, sf_dir, tmp_path):
    work = tmp_path / "work"
    work.mkdir()
    out = lakedml.merge_upsert_orders(spark, sf_dir, work_dir=str(work))
    assert out.count() > 0
    assert V.latest_version(str(work / "orders_lake")) == 1
