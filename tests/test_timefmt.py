"""Unit + property tests for the time-expression library (SURVEY.md §5.2
items 2-3): hand-computed vectors incl. sign, rounding-vs-truncation
boundaries, >59-minute values, and parse/format round-trips."""

from __future__ import annotations

import math

import pytest
from hypothesis import given, settings, strategies as st
from pyspark.sql import functions as F

from f1_data_engineering_spark.functions import (
    fmt_hhmmss,
    fmt_hhmmssms,
    fmt_mmssms,
    parse_f1_duration,
    parse_f1_duration_columns,
    safe_duration_seconds,
    to_bool_or_numeric,
    to_bool_strict,
)


def run_expr(spark, values, expr_builder, in_type="double"):
    df = spark.createDataFrame([(v,) for v in values], schema=f"x {in_type}")
    return [r[0] for r in df.select(expr_builder("x")).collect()]


# --- reference-parity vectors (computed from the reference's Python
#     semantics: round = banker's, int() = trunc toward zero) -------------

MMSSMS_HALF_EVEN = [
    (65.123, "01:05:123"),
    (-65.123, "-01:05:123"),
    (0.0, "00:00:000"),
    (-0.0004, "-00:00:000"),   # sign split before magnitude rounding
    (3665.5, "61:05:500"),     # minutes not capped at 59
    (0.0005, "00:00:000"),     # banker's: round(0.5) == 0
    (0.0015, "00:00:002"),     # banker's: round(1.5) == 2
    (None, None),
]

MMSSMS_TRUNC = [
    (65.9999, "01:05:999"),
    (-65.9999, "-01:05:999"),  # trunc toward zero, not floor
    (0.0015, "00:00:001"),
]

HHMMSS_HALF_EVEN = [
    (3661.4, "01:01:01"),
    (3661.5, "01:01:02"),      # round(3661.5) -> 3662 (even)
    (3662.5, "01:01:02"),      # round(3662.5) -> 3662 (even)
    (-7322.0, "-02:02:02"),
    (90000.0, "25:00:00"),     # hours not capped
    (None, None),
]

HHMMSSMS_HALF_EVEN = [
    (3661.123, "01:01:01:123"),
    (-0.5, "-00:00:00:500"),
    (359999.999, "99:59:59:999"),
    (None, None),
]


def test_fmt_mmssms_half_even(spark):
    vals = [v for v, _ in MMSSMS_HALF_EVEN]
    exp = [e for _, e in MMSSMS_HALF_EVEN]
    assert run_expr(spark, vals, lambda c: fmt_mmssms(c, "half_even")) == exp


def test_fmt_mmssms_trunc(spark):
    vals = [v for v, _ in MMSSMS_TRUNC]
    exp = [e for _, e in MMSSMS_TRUNC]
    assert run_expr(spark, vals, lambda c: fmt_mmssms(c, "trunc")) == exp


def test_fmt_hhmmss_half_even(spark):
    vals = [v for v, _ in HHMMSS_HALF_EVEN]
    exp = [e for _, e in HHMMSS_HALF_EVEN]
    assert run_expr(spark, vals, lambda c: fmt_hhmmss(c, "half_even")) == exp


def test_fmt_hhmmssms_half_even(spark):
    vals = [v for v, _ in HHMMSSMS_HALF_EVEN]
    exp = [e for _, e in HHMMSSMS_HALF_EVEN]
    assert run_expr(spark, vals, lambda c: fmt_hhmmssms(c, "half_even")) == exp


PARSE_VECTORS = [
    ("01:05:123", 65.123),        # MM:SS:mmm
    ("-01:05:123", -65.123),
    ("01:01:01:123", 3661.123),   # HH:MM:SS:mmm
    ("-00:00:00:500", -0.5),
    ("01:01:01", 3661.0),         # HH:MM:SS
    ("123:05:123", 7385.123),     # unbounded lead field (>99 min, MM:SS:mmm)
    ("", None),
    ("nan", None),
    ("nat", None),
    ("garbage", None),
    ("1:2:3", None),              # field widths must match
    (None, None),
]


def parse_both(spark, values):
    """Both parse forms over ``values``: the single expression and the
    two-projection frame form."""
    df = spark.createDataFrame([(v,) for v in values], schema="x string")
    return (
        [r[0] for r in df.select(parse_f1_duration("x")).collect()],
        [r[0] for r in parse_f1_duration_columns(df, ["x"]).collect()],
    )


def test_parse_f1_duration(spark):
    vals = [v for v, _ in PARSE_VECTORS]
    exp = [e for _, e in PARSE_VECTORS]
    for got in parse_both(spark, vals):
        for g, e in zip(got, exp):
            if e is None:
                assert g is None
            else:
                assert g == pytest.approx(e, abs=1e-9)


def test_safe_duration_seconds(spark):
    # expectations = pd.to_timedelta ground truth (the reference's F14
    # path, streamlit_app.py:41-59), verified directly against pandas
    vectors = [
        ("01:02:03:456", 3723.456),  # 3 colons → last colon is the ms dot
        ("00:01:02:45", 62.45),      # last group is a decimal FRACTION
        ("01:30:456", 5856.0),       # 2 colons = HH:MM:SS, seconds overflow
        ("01:02:03", 3723.0),
        ("-00:01:30", -90.0),
        ("42", 4.2e-8),              # bare int = nanoseconds in pandas
        ("12.5", None),              # float strings coerce to NaT
        ("12:34", None),             # 1-colon coerces to NaT
        ("xx", None),
        (None, None),
    ]
    got = run_expr(spark, [v for v, _ in vectors], safe_duration_seconds, in_type="string")
    for g, (_, e) in zip(got, vectors):
        if e is None:
            assert g is None
        else:
            assert g == pytest.approx(e, abs=1e-9)


@given(
    st.lists(
        st.floats(
            min_value=-359999.0, max_value=359999.0, allow_nan=False, allow_infinity=False
        ),
        min_size=1,
        max_size=64,
    )
)
@settings(max_examples=8, deadline=None)
def test_roundtrip_property(spark, values):
    """∀ s: parse(format_trunc(s)) ≈ s within formatter precision (1 ms),
    mirroring the extractor→transformer→dashboard pipeline contract."""
    got = run_expr(spark, values, lambda c: parse_f1_duration(fmt_hhmmssms(c, "trunc")))
    for g, s in zip(got, values):
        expected = math.trunc(abs(s) * 1000) / 1000 * (1 if s >= 0 else -1)
        assert g is not None
        assert math.isclose(g, expected, abs_tol=2e-3)


def test_fmt_nan_guard(spark):
    """NaN seconds must render NULL (reference pd.isna guard), not the
    '00:00:000' a NaN→long cast would produce."""
    vals = [float("nan"), 1.5, None]
    assert run_expr(spark, vals, fmt_mmssms) == [None, "00:01:500", None]
    assert run_expr(spark, vals, fmt_hhmmss) == [None, "00:00:02", None]
    assert run_expr(spark, vals, fmt_hhmmssms) == [None, "00:00:01:500", None]


def test_to_bool_strict(spark):
    vectors = [
        ("True", True), ("true", True), ("1", True), ("1.0", True),
        ("False", False), ("0", False), ("nan", False), ("", False),
        # 'yes'/'t' are NOT in the reference maps (streamlit_app.py:85-89)
        # → unmapped → False; the lenient variant accepts them instead
        ("yes", False), ("t", False),
        ("weird", False), (None, False),
    ]
    got = run_expr(spark, [v for v, _ in vectors], to_bool_strict, in_type="string")
    assert got == [e for _, e in vectors]


def test_to_bool_or_numeric(spark):
    vectors = [
        ("true", True), ("0", False), ("2.5", True), ("-1", False),
        ("xx", False), (None, False),
    ]
    got = run_expr(spark, [v for v, _ in vectors], to_bool_or_numeric, in_type="string")
    assert got == [e for _, e in vectors]


@given(
    st.lists(
        st.tuples(
            st.sampled_from(["3colon", "2colon", "1colon", "int", "float", "junk"]),
            st.integers(min_value=0, max_value=99),
            st.integers(min_value=0, max_value=99),
            st.integers(min_value=0, max_value=999),
            st.booleans(),
        ),
        min_size=1,
        max_size=24,
    )
)
@settings(max_examples=6, deadline=None)
def test_safe_duration_matches_pandas(spark, cases):
    """Property: safe_duration_seconds == the reference's actual F14
    path (3-colon flip + pd.to_timedelta(coerce)) on generated strings
    of every shape."""
    import pandas as pd

    strings = []
    for shape, a, b, c, neg in cases:
        sign = "-" if neg else ""
        if shape == "3colon":
            s = f"{sign}{a:02d}:{b:02d}:{c % 60:02d}:{c:03d}"
        elif shape == "2colon":
            s = f"{sign}{a:02d}:{b:02d}:{c:03d}"
        elif shape == "1colon":
            s = f"{sign}{a:02d}:{b:02d}"
        elif shape == "int":
            s = f"{sign}{a * 1000 + c}"
        elif shape == "float":
            s = f"{sign}{a}.{c}"
        else:
            s = f"x{a}y"
        strings.append(s)

    def ref(x: str):
        px = (
            x.rsplit(":", 1)[0] + "." + x.rsplit(":", 1)[1]
            if ":" in x and x.count(":") == 3
            else x
        )
        return pd.to_timedelta(pd.Series([px]), errors="coerce").dt.total_seconds()[0]

    got = run_expr(spark, strings, safe_duration_seconds, in_type="string")
    for s, g in zip(strings, got):
        e = ref(s)
        if pd.isna(e):
            assert g is None, (s, g, e)
        else:
            assert g is not None and g == pytest.approx(e, abs=1e-9), (s, g, e)


@given(
    st.lists(
        st.text(alphabet="0123456789:+-. x", min_size=0, max_size=16),
        min_size=1,
        max_size=80,
    )
)
@settings(max_examples=12, deadline=None)
def test_parse_matches_regex_reference(spark, values):
    """The split/width-check parser must accept and evaluate EXACTLY
    the language of the original anchored regexes (the transformer's
    F9 dispatch) on adversarial colon/digit/sign soup."""
    import re

    rx_4 = re.compile(r"^([+-]?)(\d+):(\d{2}):(\d{2}):(\d{3})$")
    rx_3ms = re.compile(r"^([+-]?)(\d+):(\d{2}):(\d{3})$")
    rx_3 = re.compile(r"^([+-]?)(\d+):(\d{2}):(\d{2})$")

    def ref(s):
        if s is None:
            return None
        s = s.strip()
        m = rx_4.match(s)
        if m:
            sign = -1.0 if m.group(1) == "-" else 1.0
            return sign * (
                int(m.group(2)) * 3600
                + int(m.group(3)) * 60
                + int(m.group(4))
                + int(m.group(5)) / 1000
            )
        m = rx_3ms.match(s)
        if m:
            sign = -1.0 if m.group(1) == "-" else 1.0
            return sign * (int(m.group(2)) * 60 + int(m.group(3)) + int(m.group(4)) / 1000)
        m = rx_3.match(s)
        if m:
            sign = -1.0 if m.group(1) == "-" else 1.0
            return sign * (int(m.group(2)) * 3600 + int(m.group(3)) * 60 + int(m.group(4)))
        return None

    for got in parse_both(spark, values):
        for g, v in zip(got, values):
            e = ref(v)
            if e is None:
                assert g is None, (v, g)
            else:
                assert g is not None and g == pytest.approx(e, abs=1e-9), (v, g, e)
