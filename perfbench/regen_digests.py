"""Regenerate ``digests.json``: the pinned output digest of every query
the ``interactive`` and ``iterative`` workloads run, taken from the
DuckDB ``oracle_sql()`` twin over the generated sf0.1 tables.

The oracles are too slow to run inside a benchmark run (the entity-
resolution recursive CTE alone takes over a minute), so they run here,
once, whenever the generator or a query's definition changes.  Each
query also runs on Spark and must produce the same digest before it is
pinned.

    python3 perfbench/regen_digests.py [query ...]
"""

from __future__ import annotations

import sys

sys.dont_write_bytecode = True

import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import tempfile  # noqa: E402
import time  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import datagen  # noqa: E402
import workloads as W  # noqa: E402
from digest import digest_arrow  # noqa: E402


def main(argv: list[str]) -> int:
    import duckdb

    import run

    names = argv or list(W.INTERACTIVE + W.ITERATIVE)
    cores = len(os.sched_getaffinity(0))
    tmp = tempfile.mkdtemp(prefix="tmp-", dir=HERE)
    spark = None
    try:
        conf = run.prepare_env(tmp, cores)
        from f1_data_engineering_spark.session import get_spark

        import __spark_entry__ as entry

        sf_dir = os.path.join(tmp, "sf0.1")
        datagen.write_tables(sf_dir)
        con = duckdb.connect()
        for t in datagen.build_tables():
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
        spark = get_spark(
            app_name="perfbench-digests",
            master=f"local[{cores}]",
            shuffle_partitions=cores,
            extra_conf=conf,
        )
        qs, oracles = entry.queries(), entry.oracle_sql()
        old = W.load_digests() if os.path.exists(W.DIGESTS_PATH) else {}
        pinned = dict(old)
        bad = 0
        for name in names:
            t0 = time.time()
            want = digest_arrow(con.execute(oracles[name]).arrow())
            got = digest_arrow(qs[name](spark, sf_dir).toArrow())
            status = "ok" if got == want else "MISMATCH"
            print(f"{status:8s} {name}: oracle={want} spark={got} ({time.time() - t0:.1f}s)")
            if got == want:
                pinned[name] = want
            else:
                bad += 1
        with open(W.DIGESTS_PATH, "w") as fh:
            json.dump(
                {"table_seed": datagen.TABLE_SEED, "digests": dict(sorted(pinned.items()))},
                fh,
                indent=1,
            )
            fh.write("\n")
        return 1 if bad else 0
    finally:
        if spark is not None:
            run.stop_spark(spark)
        shutil.rmtree(tmp, ignore_errors=True)


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
