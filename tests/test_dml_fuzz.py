"""Differential fuzzing of the lake DML semantics (sources/dml.py).

The registered dml_* queries verify ONE fixed predicate/assignment set
against DuckDB.  This fuzzer generates adversarial tables (NULL keys,
NULL predicate columns, duplicate values, single-row and single-file
lakes) and random predicate/assignment/merge-source combinations, runs
the actual DML machinery (touched-file discovery → rewrite/DV →
optimistic commit → snapshot read), and differences the resulting
table state against the declaratively-computed expected state in
DuckDB — the same rows+schema+values gate as the driver.  Also pins
the two delete strategies against each other (CoW state == MoR state)
and change-feed replay (v0 + feed == head).

Every suite runs in the default profile as a smoke tier of
``SMOKE_EXAMPLES`` examples, together driving every commit kind
(rewrite, dv, overwrite compaction, constraint metadata); under
``SPARK_GRAFT_FULL_TESTS=1`` each runs its full example count.
"""

from __future__ import annotations

import importlib.util
import os

import duckdb
import pytest
from hypothesis import HealthCheck, given, settings, strategies as st
from pyspark.sql import functions as F

from f1_data_engineering_spark.sources import dml as D
from f1_data_engineering_spark.sources import versioned as V

from conftest import RUN_SOAKS

_SPEC = importlib.util.spec_from_file_location(
    "oracle_check",
    os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "scripts",
        "oracle_check.py",
    ),
)
_ORACLE_CHECK = importlib.util.module_from_spec(_SPEC)
_SPEC.loader.exec_module(_ORACLE_CHECK)
compare = _ORACLE_CHECK.compare


def _n_examples(default: int) -> int:
    base = int(os.environ.get("SPARK_GRAFT_FUZZ_EXAMPLES", "0"))
    return max(1, round(base * default / 8)) if base else default


#: Smoke tier: every suite runs in the default profile on this many
#: examples; the full profile runs their soak counts.
SMOKE_EXAMPLES = 2


def _smoke_or(default: int) -> int:
    return _n_examples(default) if RUN_SOAKS else SMOKE_EXAMPLES


@pytest.fixture(scope="module")
def fuzz_dir(tmp_path_factory):
    return tmp_path_factory.mktemp("dml_fuzz")


_run_counter = [0]

#: SQL expressions valid in BOTH Spark and DuckDB over (k, v, s) —
#: including NULL-evaluating and always-false/always-true shapes
_PREDICATES = [
    "v > 15",
    "v <= 8",
    "k % 3 = 0",
    "s = 'a'",
    "v IS NULL",
    "k IS NULL",
    "v > 1000",       # usually no match
    "k >= 0 OR k IS NULL",  # everything
    "s = 'a' AND v > 10",
]

#: (assignments dict for Spark, SELECT expr list for DuckDB).  The
#: oracle applies them inside CASE WHEN COALESCE(pred, FALSE).
_ASSIGNMENTS = [
    ({"v": "v + 100"}, {"v": "v + 100"}),
    ({"s": "concat(s, '!')"}, {"s": "s || '!'"}),
    ({"v": "k", "s": "'u'"}, {"v": "k", "s": "'u'"}),  # RHS sees OLD row
    ({"v": "CAST(NULL AS BIGINT)"}, {"v": "CAST(NULL AS BIGINT)"}),
]

_maybe_long = st.one_of(st.none(), st.integers(-5, 40))
_s_val = st.sampled_from(["a", "b", "c"])


@st.composite
def _table(draw):
    n = draw(st.integers(1, 30))
    rows = []
    for i in range(n):
        k = draw(st.one_of(st.none(), st.integers(0, 20)))
        rows.append((k, draw(_maybe_long), draw(_s_val)))
    return rows


@st.composite
def _dml_case(draw):
    return {
        "rows": draw(_table()),
        "n_files": draw(st.integers(1, 4)),
        "pred_del": draw(st.sampled_from(_PREDICATES)),
        "pred_upd": draw(st.sampled_from(_PREDICATES)),
        "assign": draw(st.sampled_from(_ASSIGNMENTS)),
        # merge source keys: match-able keys deduped (duplicate
        # MATCHING keys are a documented raise, tested separately) —
        # but duplicate NULL keys and duplicate never-matching keys
        # (table keys stop at 20; 90+ never match) are LEGAL per the
        # guard's Delta-aligned contract: each such row inserts
        "src_keys": sorted(
            set(draw(st.lists(st.one_of(st.none(), st.integers(0, 25)),
                              max_size=8))),
            key=lambda x: (x is None, x),
        ),
        "src_extra_nulls": draw(st.integers(0, 2)),
        "src_dup_high": draw(st.integers(0, 2)),
    }


def _seed(spark, case, t):
    df = spark.createDataFrame(case["rows"], "k long, v long, s string")
    V.write_versioned(df.repartition(case["n_files"]), t, mode="overwrite")


def _duck(t):
    """DuckDB connection with the lake's v0 snapshot as view t0."""
    con = duckdb.connect()
    files = [os.path.join(t, f) for f in V._snapshot_files(t, 0)]
    con.execute(
        "CREATE VIEW t0 AS SELECT k, v, s FROM read_parquet(["
        + ",".join(f"'{f}'" for f in files)
        + "])"
    )
    return con


def _snap_pdf(spark, t):
    return V.read_versioned(spark, t).select("k", "v", "s").toPandas()


@settings(
    max_examples=_smoke_or(8),
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(case=_dml_case())
def test_delete_cow_mor_and_oracle(spark, fuzz_dir, case):
    """DELETE under a random predicate: the CoW state, the MoR state,
    and the MoR-then-compacted state must all equal DuckDB's
    NOT-COALESCE(pred, FALSE) filter of the seed."""
    _run_counter[0] += 1
    base = str(fuzz_dir / f"del{_run_counter[0]}")
    t_cow, t_mor = os.path.join(base, "cow"), os.path.join(base, "mor")
    for t in (t_cow, t_mor):
        _seed(spark, case, t)
    con = _duck(t_cow)
    expected = con.execute(
        f"SELECT k, v, s FROM t0 WHERE NOT COALESCE({case['pred_del']}, FALSE)"
    ).df()

    D.delete_where(spark, t_cow, case["pred_del"])
    problems = compare("delete_cow", _snap_pdf(spark, t_cow), expected)
    assert not problems, (case["pred_del"], problems)

    D.delete_where_mor(spark, t_mor, case["pred_del"])
    problems = compare("delete_mor", _snap_pdf(spark, t_mor), expected)
    assert not problems, (case["pred_del"], problems)

    V.compact_versioned(spark, t_mor, target_rows_per_file=1000)
    problems = compare("delete_mor_compacted", _snap_pdf(spark, t_mor), expected)
    assert not problems, (case["pred_del"], problems)


@settings(
    max_examples=_smoke_or(8),
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(case=_dml_case())
def test_update_then_merge_oracle_and_feed_replay(spark, fuzz_dir, case):
    """UPDATE under a random predicate/assignment set, then a MERGE
    (update v from source, insert unmatched), each differenced against
    the DuckDB-expected state; finally the captured change feed must
    replay v0 into the head snapshot exactly."""
    _run_counter[0] += 1
    t = str(fuzz_dir / f"um{_run_counter[0]}" / "t")
    _seed(spark, case, t)
    con = _duck(t)

    assign_spark, assign_sql = case["assign"]
    hit = f"COALESCE({case['pred_upd']}, FALSE)"
    cols = []
    for c in ("k", "v", "s"):
        if c in assign_sql:
            cols.append(f"CASE WHEN {hit} THEN {assign_sql[c]} ELSE {c} END AS {c}")
        else:
            cols.append(c)
    con.execute(f"CREATE VIEW t1 AS SELECT {', '.join(cols)} FROM t0")
    D.update_where(spark, t, case["pred_upd"], assign_spark, capture_cdf=True)
    problems = compare(
        "update", _snap_pdf(spark, t), con.execute("SELECT * FROM t1").df()
    )
    assert not problems, (case["pred_upd"], assign_spark, problems)

    # merge: source rows (k, -1, 'm') for the deduped key sample, plus
    # duplicate NULL-key and duplicate never-matching rows (distinct v
    # so the differential would catch a dropped or double-applied row)
    src_rows = [(k, -1, "m") for k in case["src_keys"]]
    src_rows += [(None, -10 - i, "n") for i in range(case["src_extra_nulls"])]
    src_rows += [(99, -20 - i, "h") for i in range(case["src_dup_high"])]
    if src_rows:
        src = spark.createDataFrame(src_rows, "k long, v long, s string")
        D.merge_into(
            spark,
            t,
            src,
            on=["k"],
            when_matched_update={"v": "s.v", "s": "s.s"},
            capture_cdf=True,
        )
        vals = ",".join(
            f"({'NULL' if k is None else k}, {v}, '{s}')"
            for k, v, s in src_rows
        )
        con.execute(
            "CREATE VIEW src AS SELECT CAST(k AS BIGINT) AS k, "
            "CAST(v AS BIGINT) AS v, CAST(s AS VARCHAR) AS s "
            f"FROM (VALUES {vals}) AS t(k, v, s)"
        )
        expected = con.execute(
            """
            SELECT t1.k,
              CASE WHEN src.k IS NULL THEN t1.v ELSE src.v END AS v,
              CASE WHEN src.k IS NULL THEN t1.s ELSE src.s END AS s
            FROM t1 LEFT JOIN src ON t1.k = src.k
            UNION ALL
            SELECT s.k, s.v, s.s FROM src s
            WHERE NOT EXISTS (SELECT 1 FROM t1 WHERE t1.k = s.k)
            """
        ).df()
        problems = compare("merge", _snap_pdf(spark, t), expected)
        assert not problems, (case["src_keys"], problems)

    # change-feed replay: v0 + feed == head.  Replay must be applied
    # PER COMMIT VERSION in order — a v2 pre-image describes a v1-state
    # row, so a flat multiset union of all versions double-counts any
    # row updated twice (hypothesis found exactly that with an
    # everything-matches update followed by a matching merge).
    head_v = V.latest_version(t)
    feed = D.read_change_feed(spark, t, 0, head_v)
    state = V.read_versioned(spark, t, version=0).select("k", "v", "s")
    for ver in range(1, head_v + 1):
        fv = feed.filter(F.col("_commit_version") == ver)
        minus = fv.filter(
            F.col("_change_type").isin("delete", "update_preimage")
        ).select("k", "v", "s")
        plus = fv.filter(
            F.col("_change_type").isin("insert", "update_postimage")
        ).select("k", "v", "s")
        state = state.exceptAll(minus).unionByName(plus)
    head = V.read_versioned(spark, t).select("k", "v", "s")
    assert state.exceptAll(head).count() == 0
    assert head.exceptAll(state).count() == 0


@settings(
    max_examples=_smoke_or(6),
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(case=_dml_case())
def test_feed_signed_rollup_maintenance(spark, fuzz_dir, case):
    """Incremental-view-maintenance algebra under random DML: a
    per-group rollup maintained as v0-rollup ⊎ FLAT signed feed deltas
    must equal a recompute over the head snapshot.

    Unlike multiset replay (which must apply per commit version — see
    the test above), SIGNED AGGREGATION is valid flat: a row updated
    twice telescopes (+v0 −pre1 +post1 −pre2 +post2 with pre2 == post1).
    Also pins the nullable-SUM pitfall: ``v``-sums carry a non-null
    contribution count, so a group whose last non-NULL v is deleted
    maintains to NULL (SQL semantics), not 0."""
    _run_counter[0] += 1
    t = str(fuzz_dir / f"ivm{_run_counter[0]}" / "t")
    _seed(spark, case, t)

    D.delete_where(spark, t, case["pred_del"], capture_cdf=True)
    D.update_where(spark, t, case["pred_upd"], case["assign"][0], capture_cdf=True)
    src_rows = [(k, -1, "m") for k in case["src_keys"]]
    src_rows += [(None, -10 - i, "n") for i in range(case["src_extra_nulls"])]
    src_rows += [(99, -20 - i, "h") for i in range(case["src_dup_high"])]
    if src_rows:
        src = spark.createDataFrame(src_rows, "k long, v long, s string")
        D.merge_into(
            spark, t, src, on=["k"],
            when_matched_update={"v": "s.v", "s": "s.s"},
            capture_cdf=True,
        )

    def roll(df, sign):
        vz = F.coalesce(F.col("v"), F.lit(0)).cast("long")
        return df.groupBy("s").agg(
            F.sum(sign).cast("long").alias("n"),
            F.sum(sign * vz).cast("long").alias("vs"),
            F.sum(sign * F.col("v").isNotNull().cast("long")).cast("long").alias("nv"),
        )

    def finish(df):
        return (
            df.groupBy("s")
            .agg(
                F.sum("n").cast("long").alias("n"),
                F.sum("vs").cast("long").alias("vs"),
                F.sum("nv").cast("long").alias("nv"),
            )
            .filter(F.col("n") > 0)
            .select("s", "n", F.when(F.col("nv") > 0, F.col("vs")).alias("v_sum"))
            .orderBy("s")
        )

    head_v = V.latest_version(t)
    sign = F.when(
        F.col("_change_type").isin("delete", "update_preimage"), F.lit(-1)
    ).otherwise(F.lit(1))
    maintained = finish(
        roll(V.read_versioned(spark, t, version=0), F.lit(1)).unionByName(
            roll(D.read_change_feed(spark, t, 0, head_v), sign)
        )
    )
    direct = finish(roll(V.read_versioned(spark, t), F.lit(1)))
    got = [tuple(r) for r in maintained.collect()]
    want = [tuple(r) for r in direct.collect()]
    assert got == want, (case, got, want)


#: (spark condition, duckdb condition) over join aliases t/s — kept
#: textually identical where both engines agree, paired otherwise.
_CLAUSE_CONDS = [
    ("s.v > t.v", "s.v > t.v"),
    ("t.v % 2 = 0", "t.v % 2 = 0"),
    ("s.s = 'm'", "s.s = 'm'"),
    ("t.k > 10", "t.k > 10"),
    ("s.v IS NULL", "s.v IS NULL"),
    (None, None),  # unconditional clause
]

#: (spark set dict, duckdb per-col expr dict)
_CLAUSE_SETS = [
    ({"v": "s.v"}, {"v": "s.v"}),
    ({"v": "t.v + s.v"}, {"v": "t.v + s.v"}),
    ({"s": "concat(t.s, s.s)"}, {"s": "t.s || s.s"}),
    ({"v": "s.v", "s": "'w'"}, {"v": "s.v", "s": "'w'"}),
]

_INSERT_CONDS = [
    (None, None),
    ("v >= 0", "s.v >= 0"),
    ("s = 'm'", "s.s = 'm'"),
]


@st.composite
def _clause_case(draw):
    n = draw(st.integers(1, 3))
    clauses = []
    for _ in range(n):
        action = draw(st.sampled_from(["update", "delete"]))
        cond = draw(st.sampled_from(_CLAUSE_CONDS))
        cl = {"action": action, "cond": cond}
        if action == "update":
            cl["set"] = draw(st.sampled_from(_CLAUSE_SETS))
        clauses.append(cl)
    return {
        "rows": draw(_table()),
        "n_files": draw(st.integers(1, 4)),
        "clauses": clauses,
        "insert_cond": draw(st.sampled_from(_INSERT_CONDS)),
        "src_keys": sorted(
            set(draw(st.lists(st.one_of(st.none(), st.integers(0, 25)),
                              max_size=8))),
            key=lambda x: (x is None, x),
        ),
        "src_vals": draw(st.lists(_maybe_long, min_size=12, max_size=12)),
    }


@settings(
    max_examples=_smoke_or(8),
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(case=_clause_case())
def test_multi_clause_merge_oracle(spark, fuzz_dir, case):
    """Random ORDERED conditional clause chains (round 10
    ``when_matched=[...]``) differenced against a DuckDB twin that
    resolves the same first-match-wins CASE: clause order, NULL
    conditions (count as false), per-clause update sets, delete
    clauses, and conditional inserts all in one state equality."""
    _run_counter[0] += 1
    t = str(fuzz_dir / f"cl{_run_counter[0]}" / "t")
    _seed(spark, case, t)
    con = _duck(t)

    src_rows = [
        (k, case["src_vals"][i], ["m", "n", None][i % 3])
        for i, k in enumerate(case["src_keys"])
    ]
    if not src_rows:
        src_rows = [(None, 0, "m")]
    src = spark.createDataFrame(src_rows, "k long, v long, s string")
    vals = ",".join(
        f"({'NULL' if k is None else k}, {'NULL' if v is None else v}, "
        f"{'NULL' if s is None else repr(s)})"
        for k, v, s in src_rows
    )
    con.execute(
        "CREATE VIEW src AS SELECT CAST(k AS BIGINT) AS k, "
        "CAST(v AS BIGINT) AS v, CAST(s AS VARCHAR) AS s "
        f"FROM (VALUES {vals}) AS t(k, v, s)"
    )

    spark_clauses = []
    for cl in case["clauses"]:
        out = {"action": cl["action"], "condition": cl["cond"][0]}
        if cl["action"] == "update":
            out["set"] = cl["set"][0]
        spark_clauses.append(out)
    ins_spark, ins_duck = case["insert_cond"]
    D.merge_into(
        spark, t, src, on=["k"],
        when_matched=spark_clauses,
        insert_condition=ins_spark,
        capture_cdf=True,
    )

    # DuckDB twin: first-match-wins clause index as an ordered CASE
    ci_branches = []
    for i, cl in enumerate(case["clauses"]):
        c = cl["cond"][1]
        c_sql = "TRUE" if c is None else f"COALESCE({c}, FALSE)"
        ci_branches.append(f"WHEN s.k IS NOT NULL AND {c_sql} THEN {i}")
    ci_sql = "CASE " + " ".join(ci_branches) + " ELSE NULL END"
    del_idx = [
        i for i, cl in enumerate(case["clauses"]) if cl["action"] == "delete"
    ]
    cols = []
    for c in ("k", "v", "s"):
        branches = [
            f"WHEN ({ci_sql}) = {i} THEN ({cl['set'][1][c]})"
            for i, cl in enumerate(case["clauses"])
            if cl["action"] == "update" and c in cl["set"][1]
        ]
        if branches:
            cols.append(f"CASE {' '.join(branches)} ELSE t.{c} END AS {c}")
        else:
            cols.append(f"t.{c} AS {c}")
    keep = (
        f"(({ci_sql}) IS NULL OR ({ci_sql}) NOT IN "
        f"({', '.join(map(str, del_idx))}))"
        if del_idx
        else "TRUE"
    )
    ins_where = "TRUE" if ins_duck is None else f"COALESCE({ins_duck}, FALSE)"
    expected = con.execute(
        f"""
        SELECT {', '.join(cols)}
        FROM t0 t LEFT JOIN src s ON t.k = s.k
        WHERE {keep}
        UNION ALL
        SELECT s.k, s.v, s.s FROM src s
        WHERE NOT EXISTS (SELECT 1 FROM t0 WHERE t0.k = s.k)
          AND {ins_where}
        """
    ).df()
    problems = compare("merge_clauses", _snap_pdf(spark, t), expected)
    assert not problems, (case["clauses"], case["insert_cond"], problems)

    # and the captured feed still replays v0 into the head exactly
    head_v = V.latest_version(t)
    if head_v >= 1:
        feed = D.read_change_feed(spark, t, 0, head_v)
        minus = feed.filter(
            F.col("_change_type").isin("delete", "update_preimage")
        ).select("k", "v", "s")
        plus = feed.filter(
            F.col("_change_type").isin("insert", "update_postimage")
        ).select("k", "v", "s")
        state = (
            V.read_versioned(spark, t, version=0)
            .select("k", "v", "s")
            .exceptAll(minus)
            .unionByName(plus)
        )
        head = V.read_versioned(spark, t).select("k", "v", "s")
        assert state.exceptAll(head).count() == 0
        assert head.exceptAll(state).count() == 0


# ---------------------------------------------------------------------------
# round-11: constraint lifecycle woven into random DML histories


#: (SQL expr, python evaluator returning True/False/None on (k, v, s))
#: — a row VIOLATES iff the evaluator returns False (NULL satisfies).
_CK_POOL = [
    ("v >= 0", lambda k, v, s: None if v is None else v >= 0),
    ("k IS NOT NULL", lambda k, v, s: k is not None),
    ("v <= 1000", lambda k, v, s: None if v is None else v <= 1000),
    ("s <> 'x'", lambda k, v, s: None if s is None else s != "x"),
]

#: predicates with python twins (NULL-propagating, coalesced FALSE)
_CKF_PREDS = [
    ("v > 15", lambda k, v, s: None if v is None else v > 15),
    ("k % 3 = 0", lambda k, v, s: None if k is None else k % 3 == 0),
    ("s = 'a'", lambda k, v, s: None if s is None else s == "a"),
    ("v IS NULL", lambda k, v, s: v is None),
]

#: assignments with python twins over the OLD row; some are designed
#: to violate pool constraints (negative v, s = 'x')
_CKF_ASSIGNS = [
    (
        {"v": "v + 100"},
        lambda k, v, s: (k, None if v is None else v + 100, s),
    ),
    (
        {"v": "-COALESCE(v, 0) - 1"},
        lambda k, v, s: (k, -(v or 0) - 1, s),
    ),
    ({"s": "'x'"}, lambda k, v, s: (k, v, "x")),
    ({"v": "k"}, lambda k, v, s: (k, k, s)),
]


@st.composite
def _ck_history(draw):
    ops = []
    for _ in range(draw(st.integers(3, 7))):
        kind = draw(st.sampled_from(["append", "add", "drop", "update",
                                     "delete"]))
        if kind == "append":
            ops.append(("append", draw(_table())))
        elif kind == "add":
            ops.append(("add", draw(st.integers(0, len(_CK_POOL) - 1))))
        elif kind == "drop":
            ops.append(("drop", draw(st.integers(0, len(_CK_POOL) - 1))))
        elif kind == "update":
            ops.append((
                "update",
                draw(st.integers(0, len(_CKF_PREDS) - 1)),
                draw(st.integers(0, len(_CKF_ASSIGNS) - 1)),
            ))
        else:
            ops.append(("delete", draw(st.integers(0, len(_CKF_PREDS) - 1))))
    return {"rows": draw(_table()), "n_files": draw(st.integers(1, 3)),
            "ops": ops}


@settings(
    max_examples=_smoke_or(10),
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(case=_ck_history())
def test_constraint_lifecycle_over_random_history(spark, fuzz_dir, case):
    """CHECK constraints under a random append/add/drop/update/delete
    history must match a pure-python model at every step: refusals
    exactly where the model says (violating append / violated ADD /
    violating update — all leaving NO commit), acceptances exactly
    elsewhere, and the final snapshot + in-effect constraint set +
    version count equal to the model's."""
    from f1_data_engineering_spark.sources import constraints as C

    _run_counter[0] += 1
    t = os.path.join(str(fuzz_dir), f"ckfuzz_{_run_counter[0]}")
    _seed(spark, case, t)

    rows = list(case["rows"])
    active: dict[str, int] = {}  # name -> pool idx
    versions = 0  # commits past the seed

    def violates(row, idxs) -> bool:
        return any(_CK_POOL[i][1](*row) is False for i in idxs)

    for step, op in enumerate(case["ops"]):
        if op[0] == "append":
            batch = op[1]
            bad = any(violates(r, active.values()) for r in batch)
            try:
                V.write_versioned(
                    spark.createDataFrame(batch, "k long, v long, s string")
                    .coalesce(1),
                    t,
                    mode="append",
                )
                assert not bad, f"step {step}: violating append committed"
                rows.extend(batch)
                versions += 1
            except C.ConstraintViolationError:
                assert bad, f"step {step}: valid append refused"
        elif op[0] == "add":
            i = op[1]
            name = f"ck_{i}"
            expr, ev = _CK_POOL[i]
            dup = name in active
            bad = any(ev(*r) is False for r in rows)
            try:
                C.add_constraint(spark, t, name, expr)
                assert not dup and not bad, f"step {step}: bad ADD accepted"
                active[name] = i
                versions += 1
            except C.ConstraintViolationError:
                assert not dup and bad, f"step {step}: ADD wrongly violated"
            except ValueError:
                assert dup, f"step {step}: ADD wrongly refused as duplicate"
        elif op[0] == "drop":
            name = f"ck_{op[1]}"
            try:
                C.drop_constraint(t, name)
                assert name in active, f"step {step}: ghost DROP succeeded"
                del active[name]
                versions += 1
            except ValueError:
                assert name not in active, f"step {step}: DROP refused"
        elif op[0] == "delete":
            _, ev = _CKF_PREDS[op[1]]
            D.delete_where(spark, t, _CKF_PREDS[op[1]][0])
            matched = [r for r in rows if ev(*r) is True]
            if matched:
                versions += 1
            rows = [r for r in rows if ev(*r) is not True]
        else:  # update
            _, pev = _CKF_PREDS[op[1]]
            assign_sql, aev = _CKF_ASSIGNS[op[2]]
            new_rows = [
                aev(*r) if pev(*r) is True else r for r in rows
            ]
            touched = [aev(*r) for r in rows if pev(*r) is True]
            bad = any(violates(r, active.values()) for r in touched)
            try:
                D.update_where(spark, t, _CKF_PREDS[op[1]][0], assign_sql)
                assert not bad, f"step {step}: violating update committed"
                if touched:
                    versions += 1
                rows = new_rows
            except C.ConstraintViolationError:
                assert bad, f"step {step}: valid update refused"

    got = sorted(
        ((r["k"], r["v"], r["s"]) for r in
         V.read_versioned(spark, t).collect()),
        key=lambda x: (x[0] is None, x[0], x[1] is None, x[1], x[2]),
    )
    want = sorted(
        rows,
        key=lambda x: (x[0] is None, x[0], x[1] is None, x[1], x[2]),
    )
    assert got == want
    assert set(C.table_constraints(t)) == set(active)
    assert V.latest_version(t) == versions
