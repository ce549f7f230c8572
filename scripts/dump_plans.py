"""Dump .explain("formatted") for registered queries into plans/r11/.

Usage:
    python scripts/dump_plans.py <tag> [query ...]

Writes plans/r11/<query>_<tag>.txt for each query (default: the
optimization round's touched set, passed explicitly).  Building a
DataFrame for the scratch-lake queries runs their seeding DML, so this
is heavier than a pure explain for those — still far lighter than
executing the probe actions.
"""

from __future__ import annotations

import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

import __spark_entry__ as entry_mod
from f1_data_engineering_spark.plans import physical_plan
from f1_data_engineering_spark.session import get_spark

OUT_DIR = os.path.join(ROOT, "plans", "r11")


def main() -> None:
    tag = sys.argv[1]
    names = sys.argv[2:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    os.makedirs(OUT_DIR, exist_ok=True)
    spark = get_spark(app_name="plan-dump")
    qs = entry_mod.queries()
    for name in names:
        try:
            df = qs[name](spark, sf_dir)
            plan = physical_plan(df, "formatted")
        except Exception as exc:  # keep going; record the failure
            plan = f"PLAN CAPTURE FAILED: {type(exc).__name__}: {exc}"
        out = os.path.join(OUT_DIR, f"{name}_{tag}.txt")
        with open(out, "w") as fh:
            fh.write(plan)
        print(f"wrote {out} ({len(plan)} chars)", flush=True)


if __name__ == "__main__":
    main()
