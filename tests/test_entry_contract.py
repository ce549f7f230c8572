"""Driver-contract invariants for __spark_entry__.py — the surface the
round harness actually exercises.  Round 1 recorded an EMPTY
correctness file because of a loader/path bug; these tests make any
contract break loud in pytest instead of silent in the gate."""

from __future__ import annotations

import importlib.util
import inspect
import os

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

#: Queries deliberately without a DuckDB oracle (rows-only in the
#: gate), each pinned by pytest instead — keep in lock-step with the
#: README "Correctness" paragraph.  EMPTY since round 7: bpe_train and
#: sketch_summary gained engine-stable oracles, ann_topk_vectorized now
#: exact-rescores its BLAS candidates and shares ORACLE_ANN_TOPK, and
#: kmeans_embeddings (float Lloyd) was retired from the registry in
#: favor of its driver-green decimal-exact twin kmeans_exact_lloyd.
ROWS_ONLY: set[str] = set()


def _load_entry_by_path():
    """Import the way a harness would: by FILE PATH, not package."""
    spec = importlib.util.spec_from_file_location(
        "entry_by_path", os.path.join(REPO, "__spark_entry__.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_entry_module_loads_by_file_path():
    mod = _load_entry_by_path()
    assert callable(mod.entry)
    assert callable(mod.queries)
    assert callable(mod.oracle_sql)


def test_every_oracle_has_a_query_and_vice_versa():
    mod = _load_entry_by_path()
    qs, oracles = mod.queries(), mod.oracle_sql()
    assert set(oracles) <= set(qs), sorted(set(oracles) - set(qs))
    assert set(qs) - set(oracles) == ROWS_ONLY, (
        f"rows-only drift: {sorted(set(qs) - set(oracles) - ROWS_ONLY)} missing "
        f"oracles; {sorted(ROWS_ONLY - (set(qs) - set(oracles)))} gained one "
        "(update ROWS_ONLY and the README paragraph)"
    )


def test_each_query_is_declared_once_in_its_owning_module():
    """The registry is the QUERY_MODULES tables: each module declares
    its own functions, and no two tables register the same name (one
    would silently overwrite the other in queries())."""
    mod = _load_entry_by_path()
    sizes = 0
    for owner in mod.QUERY_MODULES:
        table = getattr(owner, "QUERIES", None)
        assert isinstance(table, dict), f"{owner.__name__} has no QUERIES table"
        for fn in table:
            assert inspect.isfunction(fn), (owner.__name__, fn)
            assert fn.__module__ == owner.__name__, (
                f"{fn.__module__}.{fn.__qualname__} registered by {owner.__name__}"
            )
        sizes += len(table)
    assert sizes == len(mod.queries())


def test_query_callables_take_spark_and_sfdir():
    mod = _load_entry_by_path()
    for name, fn in mod.queries().items():
        params = list(inspect.signature(fn).parameters.values())
        required = [p for p in params if p.default is inspect.Parameter.empty]
        assert len(required) == 2, (
            f"{name} must be callable as (spark, sf_dir); required={required}"
        )


def test_oracle_sql_strings_are_nonempty_selects():
    mod = _load_entry_by_path()
    for name, sql in mod.oracle_sql().items():
        assert isinstance(sql, str) and "SELECT" in sql.upper(), name


def test_unverified_queries_order_first():
    """The driver gate records only the first ~50 queries() entries per
    round; names without a hash-green CORRECTNESS row must lead."""
    mod = _load_entry_by_path()
    green = mod._driver_green_so_far()
    if not green:  # fresh checkout without correctness records
        return
    names = list(mod.queries())
    seen_green = False
    for n in names:
        if n in green:
            seen_green = True
        else:
            assert not seen_green, (
                f"unverified query {n!r} ordered after a driver-green one"
            )


def test_stale_green_names_reenter_the_window():
    """The age-cap invariant (judge r6 item 4): every oracle-backed
    name whose latest green row is older than MAX_GREEN_AGE_ROUNDS
    must be ordered before every fresher green name that is not in
    CHANGED_ORACLES — independently re-derived from the CORRECTNESS
    files, so a rank() regression can't hide behind its own logic."""
    mod = _load_entry_by_path()
    latest = mod._driver_green_rounds()
    if not latest:
        return
    this_round = max(latest.values()) + 1
    names = list(mod.queries())
    pos = {n: i for i, n in enumerate(names)}
    stale = [
        n for n in names
        if n in latest and this_round - latest[n] > mod.MAX_GREEN_AGE_ROUNDS
    ]
    fresh_unchanged = [
        n for n in names
        if n in latest
        and this_round - latest[n] <= mod.MAX_GREEN_AGE_ROUNDS
        and n not in mod.CHANGED_ORACLES
    ]
    if not stale or not fresh_unchanged:
        return
    worst_stale = max(pos[n] for n in stale)
    first_fresh = min(pos[n] for n in fresh_unchanged)
    assert worst_stale < first_fresh, (
        f"stale green name ordered after a fresh one: "
        f"{names[worst_stale]!r} (pos {worst_stale}) vs "
        f"{names[first_fresh]!r} (pos {first_fresh})"
    )
    # oldest green rounds come first within the stale block
    stale_rounds = [latest[n] for n in sorted(stale, key=lambda n: pos[n])]
    assert stale_rounds == sorted(stale_rounds)


def test_entry_runs_and_returns_rows(spark):
    df = _load_entry_by_path().entry(spark)
    assert len(df.columns) > 0
    assert df.count() > 0


def test_no_query_returns_nested_columns(spark):
    """The driver's pandas canonicalizer lexsorts all columns and dies
    on list/map cells (round 3: inverted_index + dedup_clusters err'd
    on array outputs).  Every registered query must therefore emit
    only atomic top-level columns — checked at PLAN TIME (schema
    analysis, no execution), so the whole surface audits in seconds."""
    from pyspark.sql import types as T

    mod = _load_entry_by_path()
    bad = []
    for name, fn in mod.queries().items():
        schema = fn(spark, "/root/testdata/sf0.001").schema
        for f in schema.fields:
            if isinstance(f.dataType, (T.ArrayType, T.MapType, T.StructType)):
                bad.append((name, f.name, f.dataType.simpleString()))
    assert not bad, f"nested output columns break the driver gate: {bad}"


def test_changed_names_rank_after_never_green_before_fresh():
    """Round-11 CHANGED semantics (judge r10 wrong #1): a name whose
    oracle text or implementation changed re-enters the window right
    after the never-green block, before every fresh unchanged green
    name — independently re-derived from the CORRECTNESS files."""
    mod = _load_entry_by_path()
    latest = mod._driver_green_rounds()
    changed_green = [n for n in mod.CHANGED if n in latest]
    if not latest or not changed_green:
        return
    this_round = max(latest.values()) + 1
    names = list(mod.queries())
    pos = {n: i for i, n in enumerate(names)}
    never_green = [n for n in names if n not in latest]
    fresh_unchanged = [
        n for n in names
        if n in latest
        and this_round - latest[n] <= mod.MAX_GREEN_AGE_ROUNDS
        and n not in mod.CHANGED
    ]
    worst_changed = max(pos[n] for n in changed_green)
    if never_green:
        assert max(pos[n] for n in never_green) < min(
            pos[n] for n in changed_green
        ), "never-green must lead the CHANGED block"
    if fresh_unchanged:
        assert worst_changed < min(pos[n] for n in fresh_unchanged), (
            "a CHANGED name is ordered after a fresh unchanged one"
        )
    # alias stays in lockstep (scripts may still read the old name)
    assert mod.CHANGED_ORACLES is mod.CHANGED
