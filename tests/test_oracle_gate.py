"""Test-the-test for the local differential gate (scripts/oracle_check.py).

Round 4 postmortem: three queries (`mad_outlier_events`,
`training_shard_manifest`, `bpe_merge_candidates`) passed the local
gate but failed the driver's hash compare, because DuckDB `SUM(int)` →
HUGEINT → pandas float64 while Spark emits int64 — equal values,
different dtypes, different hashes.  The old gate normalized dtypes
before comparing and was therefore blind to exactly the class of bug
the driver punishes.  These tests pin the r5 fix: the gate must FAIL
on an integer-vs-float dtype mismatch even when every value compares
equal, and must still pass genuinely-equal frames.
"""

import importlib.util
import os
import sys

import pandas as pd

spec = importlib.util.spec_from_file_location(
    "oracle_check",
    os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "scripts", "oracle_check.py"),
)
oc = importlib.util.module_from_spec(spec)
sys.modules["oracle_check"] = oc
spec.loader.exec_module(oc)


def test_int_vs_float_dtype_mismatch_fails_even_with_equal_values():
    spark_side = pd.DataFrame({"k": ["a", "b"], "total": pd.array([123, 7], dtype="int64")})
    oracle_side = pd.DataFrame({"k": ["a", "b"], "total": pd.array([123.0, 7.0], dtype="float64")})
    problems = oc.compare("t", spark_side, oracle_side)
    assert problems, "gate must fail on int64-vs-float64 even when values are equal"
    assert any("dtype" in p for p in problems)
    # symmetric: spark float vs oracle int is just as hash-fatal
    assert oc.compare("t", oracle_side, spark_side)


def test_matching_dtypes_and_values_pass():
    a = pd.DataFrame({"k": ["a", "b"], "total": pd.array([123, 7], dtype="int64")})
    b = pd.DataFrame({"k": ["b", "a"], "total": pd.array([7, 123], dtype="int64")})
    assert oc.compare("t", a, b) == []


def test_int32_vs_int64_still_passes():
    # The driver canonicalizes integer WIDTH (both land in the same hash
    # class); only the int-vs-float class split is hash-visible.
    a = pd.DataFrame({"n": pd.array([1, 2], dtype="int32")})
    b = pd.DataFrame({"n": pd.array([1, 2], dtype="int64")})
    assert oc.compare("t", a, b) == []


def test_value_mismatch_still_caught_after_dtype_gate():
    a = pd.DataFrame({"n": pd.array([1, 2], dtype="int64")})
    b = pd.DataFrame({"n": pd.array([1, 3], dtype="int64")})
    assert oc.compare("t", a, b)
