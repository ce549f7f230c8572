"""Contract tests for bench.py's driver-facing output.

Round 3's bench record was lost because the single JSON stdout line
for 73 queries outgrew the driver's ~2000-char tail capture and the
JSON start was cut off (BENCH_r03.json parsed:null).  These tests pin
the fix WITHOUT running Spark: the emitted stdout line must stay
parseable and under the tail budget for any realistic query count.
"""

from __future__ import annotations

import importlib.util
import json
import os
import sys

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _load_bench():
    spec = importlib.util.spec_from_file_location(
        "bench", os.path.join(_REPO, "bench.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_bench_query_names_all_registered():
    """Every BENCH_QUERIES name must resolve to a queries() entry —
    a rename that orphans a bench name shows up as an errors row at
    bench time, which is too late."""
    bench = _load_bench()
    sys.path.insert(0, _REPO)
    import __spark_entry__ as entry_mod

    registered = set(entry_mod._base_queries())
    missing = [n for n in bench.BENCH_QUERIES if n not in registered]
    assert not missing, f"bench names without a queries() entry: {missing}"


def test_bench_stdout_line_fits_tail_capture():
    """The REAL build_summary with a full-size timing map (every
    registered bench query, worst-case float widths, errors, partial
    flag) must produce a stdout line that parses and stays under the
    tail budget."""
    bench = _load_bench()

    times = {name: 123.456 for name in bench.BENCH_QUERIES}
    errors = {name: "X" * 60 for name in list(bench.BENCH_QUERIES)[:10]}
    line, detail = bench.build_summary(times, errors, sf=0.1, partial=True)

    assert len(line) <= bench.MAX_LINE_CHARS
    parsed = json.loads(line)
    assert parsed["value"] > 0 and parsed["n_queries"] == len(bench.BENCH_QUERIES)
    assert parsed["partial"] is True
    # the detail record keeps what the line drops
    assert set(detail["queries"]) == set(bench.BENCH_QUERIES)
    assert set(detail["errors"]) == set(errors)


def test_bench_stdout_line_carries_sentinels():
    """The stdout line must carry every pinned sentinel that has a
    timing (round-11 verdict: the slowest-8-only slice made queries
    that got FASTER read as dropped, and starved the scaling probe of
    parallelizable members).  Sentinels must also all be registered
    bench queries."""
    bench = _load_bench()
    assert set(bench.SENTINEL_QUERIES) <= set(bench.BENCH_QUERIES)

    times = {name: 1.0 for name in bench.BENCH_QUERIES}
    line, _ = bench.build_summary(times, {}, sf=0.1)
    parsed = json.loads(line)
    missing = [n for n in bench.SENTINEL_QUERIES if n not in parsed["queries"]]
    assert not missing, f"sentinels absent from stdout line: {missing}"
    assert len(line) <= bench.MAX_LINE_CHARS


def test_bench_stdout_line_worst_case_keeps_sentinels():
    """Worst-case timings (99999.999 s for every bench query, plus 10
    error rows) stay under the tail budget with every sentinel on the
    line; and when the line would overflow, the query map shrinks to
    the sentinels instead of vanishing."""
    bench = _load_bench()
    times = {name: 99999.999 for name in bench.BENCH_QUERIES}
    errors = {name: "X" * 60 for name in list(bench.BENCH_QUERIES)[:10]}

    line, _ = bench.build_summary(times, errors, sf=0.1, partial=True)
    assert len(line) <= bench.MAX_LINE_CHARS
    assert set(bench.SENTINEL_QUERIES) <= set(json.loads(line)["queries"])

    # a budget the slowest-8 ∪ sentinels line cannot meet
    full = json.loads(line)
    bench.MAX_LINE_CHARS = len(line) - 1
    line, _ = bench.build_summary(times, errors, sf=0.1, partial=True)
    assert len(line) <= bench.MAX_LINE_CHARS
    assert set(json.loads(line)["queries"]) == set(bench.SENTINEL_QUERIES)
    assert set(full["queries"]) > set(bench.SENTINEL_QUERIES)


def test_bench_detail_has_full_query_map():
    """The committed per-round detail record must carry every bench
    query (the stdout line carries only the slowest 8 ∪ the pinned
    SENTINEL_QUERIES — the full map lives in BENCH_DETAIL_r*.json).
    Checks the LATEST round file, so growing BENCH_QUERIES forces a
    fresh bench run before the round snapshot."""
    import glob

    bench = _load_bench()
    path = sorted(glob.glob(os.path.join(_REPO, "BENCH_DETAIL_r*.json")))[-1]
    with open(path) as fh:
        detail = json.load(fh)
    missing = [
        n
        for n in bench.BENCH_QUERIES
        if n not in detail["queries"] and n not in detail.get("errors", {})
    ]
    assert not missing, f"bench queries with no recorded timing: {missing}"
