"""Self-tests for the benchmark's own logic (no Spark session needed).

    python3 -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import hashlib
import json
import os
import sys
import types

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE]

import datagen  # noqa: E402
import harness as H  # noqa: E402
import metrics as M  # noqa: E402
from digest import digest_arrow  # noqa: E402

NAME = r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$"
UNIT = r"^[A-Za-z0-9_/%.-]{1,16}$"


# -- percentile math -------------------------------------------------------


def test_percentile_small_samples_and_errors():
    assert H.median([3.0, 1.0, 2.0]) == 2.0
    assert H.median([1.0, 2.0]) == 1.5
    assert H.percentile([5.0], 90) == 5.0
    assert H.percentile([1.0, 2.0, 3.0, 4.0, 5.0, 6.0, 7.0, 8.0, 9.0, 10.0], 90) == pytest.approx(9.1)
    # seven operations: p90 interpolates between the two slowest
    assert H.percentile([7.0, 1.0, 2.0, 3.0, 4.0, 5.0, 6.0], 90) == pytest.approx(6.4)
    with pytest.raises(ValueError):
        H.percentile([], 50)
    with pytest.raises(ValueError):
        H.percentile([1.0], 101)


def test_hd_median_known_weights():
    # n=3: Beta(2, 2) slot masses are 7/27, 13/27, 7/27
    assert H.hd_median([0.0, 0.0, 1.0]) == pytest.approx(7 / 27, abs=1e-4)
    assert H.hd_median([5.0]) == 5.0
    assert H.hd_median([1.0, 3.0]) == pytest.approx(2.0)
    assert H.hd_median([7.0, 1.0, 2.0, 3.0, 4.0, 5.0, 6.0]) == pytest.approx(4.0)
    # moving the middle value by 0.2 moves the estimate by well under 0.2
    a = H.hd_median([1.0, 2.0, 3.0, 3.9, 4.1, 6.0, 7.0])
    b = H.hd_median([1.0, 2.0, 3.0, 4.1, 4.1, 6.0, 7.0])
    assert 0 < b - a < 0.1
    with pytest.raises(ValueError):
        H.hd_median([])


# -- failure counting and the result record ---------------------------------


def _runner(ops):
    r = types.SimpleNamespace(ops=ops, tracer=None)
    return r


def _ctx():
    return types.SimpleNamespace(summary={})


def test_failure_counting_and_sample_count(capsys):
    ops = [
        H.OpRecord("query", "a", 1.0, True),
        H.OpRecord("query", "b", 2.0, False),
        H.OpRecord("merge", "m", 3.0, True),
        H.OpRecord("read", "r", 0.5, True),
    ]
    args = types.SimpleNamespace(workload="lakehouse", seed=1, trace=0)
    setup = {"session.start_s": 5.0, "input.gen_s": 1.0, "session.warmup_s": 2.0, "process_s": 9.0}
    mem = {"peak_rss_mb": 1000.0, "retained_mb": 500.0}
    res = M.build_result(args, _runner(ops), _ctx(), None, setup, ["merge"], 7.0, 4, mem)
    assert res["attempted"] == 4
    assert res["failed"] == 2  # the raising query + the merge whose check failed
    assert res["correct"] is False
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    m = res["metrics"]
    assert m["setup_s"]["value"] == 8.0
    assert m["op_p50_s"]["value"] == pytest.approx(H.hd_median([1.0, 2.0, 3.0, 0.5]))
    assert 1.0 < m["op_p50_s"]["value"] < 2.0
    assert m["op_p90_s"]["value"] == pytest.approx(2.7)
    assert m["ops_per_s"]["value"] == pytest.approx(4 / 6.5)
    assert "n=4 ops" in capsys.readouterr().err


def test_all_ok_run_is_correct():
    ops = [H.OpRecord("query", "a", 1.0, True)]
    args = types.SimpleNamespace(workload="interactive", seed=1, trace=0)
    setup = {"session.start_s": 1.0, "input.gen_s": 1.0, "session.warmup_s": 1.0, "process_s": 3.0}
    mem = {"peak_rss_mb": 10.0, "retained_mb": 5.0}
    res = M.build_result(args, _runner(ops), _ctx(), None, setup, [], 1.0, 4, mem)
    assert res["correct"] is True and res["failed"] == 0


# -- metric names and units -------------------------------------------------


def test_metric_names_units_and_benchmark_json():
    import re

    for table in (M.END_TO_END, M.PER_LAYER):
        for name, unit in table.items():
            assert re.match(NAME, name), name
            assert re.match(UNIT, unit), unit
    assert not set(M.END_TO_END) & set(M.PER_LAYER)
    assert M.END_TO_END["setup_s"] == "s"
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == M.END_TO_END
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == M.PER_LAYER
    import workloads as W

    assert {w["name"] for w in bench["workloads"]} <= set(W.WORKLOADS)
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    assert bounds["setup_s"] == max(bounds.values()) <= 0.25


def test_lake_layers_off_lake_are_counts_not_times():
    """Layers a workload does not exercise read 0, so none may be a time."""
    lake_only = [n for n in M.PER_LAYER if n.split(".")[0] in ("pipeline", "dml", "versioned")]
    assert lake_only
    for name in lake_only:
        assert M.PER_LAYER[name] != "s", name


# -- py4j counter -----------------------------------------------------------


def test_py4j_counter_skips_gc_detach():
    from py4j.clientserver import ClientServerConnection

    sent = []
    original = ClientServerConnection.send_command
    ClientServerConnection.send_command = lambda self, cmd: sent.append(cmd) or "ok"
    try:
        c = H.Py4jCounter()
        c.install()
        try:
            send = ClientServerConnection.send_command
            conn = object()
            send(conn, "c\no0\ngetConf\ne\n")
            send(conn, "m\nd\no12\ne\n")
            send(conn, "r\nu\nSparkConf\nrj\ne\n")
        finally:
            c.uninstall()
        assert c.read() == 2
        assert len(sent) == 3  # every command still reaches the JVM
    finally:
        ClientServerConnection.send_command = original


# -- seed determinism -------------------------------------------------------


def _tree_hash(root: str) -> str:
    h = hashlib.sha256()
    for d, _, files in sorted(os.walk(root)):
        for f in sorted(files):
            p = os.path.join(d, f)
            h.update(os.path.relpath(p, root).encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def test_same_seed_same_csv_batches(tmp_path):
    a = datagen.write_season(str(tmp_path / "a"), 1990, 7)
    b = datagen.write_season(str(tmp_path / "b"), 1990, 7)
    c = datagen.write_season(str(tmp_path / "c"), 1990, 8)
    assert _tree_hash(str(tmp_path / "a")) == _tree_hash(str(tmp_path / "b"))
    assert _tree_hash(str(tmp_path / "a")) != _tree_hash(str(tmp_path / "c"))
    assert a == b
    assert a["rows"]["laps_data"] == len(a["lap_seconds"])
    assert a["rows"]["session_results"] == datagen.EVENTS_PER_SEASON * 2 * len(datagen.DRIVERS)


def test_same_seed_same_operation_sequence():
    import random

    import workloads as W

    def order(seed):
        rng = random.Random(seed)
        out = []
        for _ in range(3):
            o = list(W.INTERACTIVE)
            rng.shuffle(o)
            out.append(o)
        return out

    assert order(5) == order(5)
    assert order(5) != order(6)
    assert datagen.merge_batch(5, 3).equals(datagen.merge_batch(5, 3))
    assert not datagen.merge_batch(5, 3).equals(datagen.merge_batch(6, 3))
    assert datagen.delete_range(5, 3) == datagen.delete_range(5, 3)


def test_tables_are_fixed_bytes(tmp_path):
    """The pinned digests hold only for these bytes: tables ignore the
    workload seed and regenerate identically."""
    datagen.write_tables(str(tmp_path / "a"))
    datagen.write_tables(str(tmp_path / "b"))
    assert _tree_hash(str(tmp_path / "a")) == _tree_hash(str(tmp_path / "b"))


def test_duration_formats_round_trip():
    assert datagen.fmt_mmssms(92_123) == "01:32:123"
    assert datagen.fmt_hhmmssms(3_723_004) == "01:02:03:004"
    assert datagen.fmt_hhmmss(3_723_999) == "01:02:03"


# -- digest -----------------------------------------------------------------


def test_digest_is_order_insensitive_and_type_normalised():
    import datetime as dt
    import decimal

    import pyarrow as pa

    base = pa.table({"k": [1, 2], "s": ["a", None], "v": [2.5, 3.0]})
    d1 = digest_arrow(base)
    assert d1 == digest_arrow(base.take([1, 0]))
    # int vs float vs decimal hash alike; column order is free
    other = pa.table(
        {
            "v": pa.array([decimal.Decimal("2.5"), decimal.Decimal("3")], pa.decimal128(10, 2)),
            "k": pa.array([1.0, 2.0]),
            "s": pa.array(["a", None], pa.large_string()),
        }
    )
    assert d1 == digest_arrow(other)
    assert d1 != digest_arrow(base.slice(0, 1))
    assert d1 != digest_arrow(pa.concat_tables([base, base.slice(0, 1)]))
    assert d1 != digest_arrow(base.rename_columns(["k", "s", "w"]))
    naive = pa.table({"t": pa.array([dt.datetime(2024, 1, 1, 0, 0, 1)], pa.timestamp("us"))})
    aware = pa.table({"t": pa.array([dt.datetime(2024, 1, 1, 0, 0, 1)], pa.timestamp("us", tz="UTC"))})
    assert digest_arrow(naive) == digest_arrow(aware)
    assert digest_arrow(pa.table({"x": [-0.0]})) == digest_arrow(pa.table({"x": [0]}))
