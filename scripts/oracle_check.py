"""Local differential check: Spark queries vs DuckDB oracle SQL.

Mimics the driver's correctness gate (row-count + column-name + value
comparison, order-insensitive) so failures are caught before the round
snapshot.  Usage:

    python scripts/oracle_check.py [sf_dir] [query ...]
"""

from __future__ import annotations

import os
import sys
import time

import duckdb
import numpy as np
import pandas as pd

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        s = df[c]
        if pd.api.types.is_datetime64_any_dtype(s):
            df[c] = s.astype("datetime64[us]")
        elif s.dtype == object:
            # decimals / bytes → canonical str; leave strings alone
            df[c] = s.map(lambda v: v if isinstance(v, str) or v is None else str(v))
        elif pd.api.types.is_bool_dtype(s):
            df[c] = s.astype("boolean")
        elif pd.api.types.is_integer_dtype(s):
            df[c] = s.astype("Int64")
        elif pd.api.types.is_float_dtype(s):
            df[c] = s.astype("float64")
    return df.sort_values(list(df.columns), kind="mergesort").reset_index(drop=True)


def _dtype_class(s: pd.Series) -> str:
    """Coarse dtype class the driver's hash is sensitive to."""
    if pd.api.types.is_bool_dtype(s):
        return "bool"
    if pd.api.types.is_datetime64_any_dtype(s):
        return "datetime"
    if pd.api.types.is_integer_dtype(s):
        return "int"
    if pd.api.types.is_float_dtype(s):
        return "float"
    return "object"


def compare(name: str, sdf: pd.DataFrame, odf: pd.DataFrame) -> list[str]:
    problems = []
    if sorted(sdf.columns) != sorted(odf.columns):
        return [f"columns differ: spark={sorted(sdf.columns)} oracle={sorted(odf.columns)}"]
    if len(sdf) != len(odf):
        problems.append(f"row count: spark={len(sdf)} oracle={len(odf)}")
        return problems
    # Dtype-strict gate BEFORE normalization: the driver hashes the raw
    # pandas frames, so int64 `123` vs float64 `123.0` hash-mismatches even
    # when every value compares equal (r4: mad_outlier_events et al.).
    for c in sorted(sdf.columns):
        sc_cls, oc_cls = _dtype_class(sdf[c]), _dtype_class(odf[c])
        if {sc_cls, oc_cls} == {"int", "float"}:
            problems.append(
                f"col {c}: dtype class mismatch spark={sdf[c].dtype} "
                f"oracle={odf[c].dtype} — driver hash WILL differ even if "
                f"values are equal (CAST the oracle aggregate)"
            )
    if problems:
        return problems
    s, o = normalize(sdf), normalize(odf)
    for c in s.columns:
        sc, oc = s[c], o[c]
        if pd.api.types.is_float_dtype(sc) and pd.api.types.is_float_dtype(oc):
            a, b = sc.to_numpy(), oc.to_numpy()
            both_nan = np.isnan(a) & np.isnan(b)
            eq = (a == b) | both_nan
            if not eq.all():
                bad = ~eq
                diff = np.nanmax(np.abs(a[bad] - b[bad])) if bad.any() else 0
                problems.append(
                    f"col {c}: {bad.sum()}/{len(a)} float mismatches, max|Δ|={diff:.3e} "
                    f"e.g. spark={a[bad][:3]} oracle={b[bad][:3]}"
                )
        else:
            eq = (sc == oc) | (sc.isna() & oc.isna())
            if not eq.all():
                bad = ~eq
                problems.append(
                    f"col {c}: {int(bad.sum())}/{len(sc)} mismatches "
                    f"e.g. spark={sc[bad].head(3).tolist()} oracle={oc[bad].head(3).tolist()} "
                    f"dtypes {sc.dtype}/{oc.dtype}"
                )
    return problems


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    import __spark_entry__ as entry_mod
    from f1_data_engineering_spark.session import get_spark

    # no console progress bar: its carriage-return lines interleave
    # with the verdict lines when stdout and stderr are read together
    spark = get_spark(
        app_name="oracle-check",
        master="local[8]",
        shuffle_partitions=8,
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    con = duckdb.connect()
    # DuckDB may otherwise spill up to 90% of free disk: a runaway
    # oracle fails as one "oracle error" line instead of filling it
    con.execute("SET max_temp_directory_size = '4GB'")
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )

    qs = entry_mod.queries()
    oracles = entry_mod.oracle_sql()
    failures = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir).toPandas()
        except Exception as e:
            print(f"FAIL {name}: spark error: {type(e).__name__}: {str(e)[:300]}")
            failures += 1
            continue
        sql = oracles.get(name)
        if sql is None:
            print(f"WARN {name}: no oracle (rows-only) — {len(sdf)} rows")
            continue
        try:
            odf = con.execute(sql).df()
        except Exception as e:
            print(f"FAIL {name}: oracle error: {type(e).__name__}: {str(e)[:300]}")
            failures += 1
            continue
        problems = compare(name, sdf, odf)
        dt = time.time() - t0
        if problems:
            failures += 1
            print(f"FAIL {name} ({len(sdf)} rows, {dt:.1f}s)")
            for p in problems:
                print(f"     {p}")
        else:
            print(f"ok   {name} ({len(sdf)} rows, {dt:.1f}s)")
    print("FAILURES:", failures)
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
