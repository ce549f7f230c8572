"""Compare the generated sf0.1 tables with another copy of the test tables
on the queries the benchmark runs: Spark jobs and latency per query.

The benchmark generates its tables (``datagen.write_tables``) because a
run may read nothing outside its checkout; this shows how far the
generated tables' work is from the engine's own test data.

    python3 perfbench/compare_inputs.py DIR [query ...]

One session; every query runs on both table sets in alternation, three
times each after one warm-up query, and the lowest latency is reported.
"""

from __future__ import annotations

import sys

sys.dont_write_bytecode = True

import os  # noqa: E402
import shutil  # noqa: E402
import tempfile  # noqa: E402
import time  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import datagen  # noqa: E402
import workloads as W  # noqa: E402

REPEATS = 3


def main(argv: list[str]) -> int:
    import run

    other, names = os.path.abspath(argv[0]), argv[1:] or list(W.ITERATIVE)
    cores = len(os.sched_getaffinity(0))
    tmp = tempfile.mkdtemp(prefix="tmp-", dir=HERE)
    spark = None
    try:
        conf = run.prepare_env(tmp, cores)
        from f1_data_engineering_spark.session import get_spark

        import __spark_entry__ as entry

        generated = os.path.join(tmp, "sf0.1")
        datagen.write_tables(generated)
        spark = get_spark(
            app_name="perfbench-compare",
            master=f"local[{cores}]",
            shuffle_partitions=cores,
            extra_conf=conf,
        )
        jsc = spark.sparkContext._jsc.sc()  # noqa: SLF001
        qs = entry.queries()
        for d in (generated, other):
            qs["bfs_hops_trade"](spark, d).write.format("noop").mode("overwrite").save()
        print(f"{'query':28s} {'jobs gen':>8s} {'jobs dir':>8s} {'s gen':>7s} {'s dir':>7s}")
        for name in names:
            jobs: dict[str, set[int]] = {generated: set(), other: set()}
            secs: dict[str, list[float]] = {generated: [], other: []}
            for _ in range(REPEATS):
                for d in (generated, other):
                    j0, t0 = int(jsc.dagScheduler().nextJobId()), time.time()
                    qs[name](spark, d).write.format("noop").mode("overwrite").save()
                    secs[d].append(time.time() - t0)
                    jobs[d].add(int(jsc.dagScheduler().nextJobId()) - j0)
                    spark.catalog.clearCache()
            j = {d: "/".join(map(str, sorted(v))) for d, v in jobs.items()}
            print(f"{name:28s} {j[generated]:>8s} {j[other]:>8s} "
                  f"{min(secs[generated]):7.2f} {min(secs[other]):7.2f}", flush=True)
        return 0
    finally:
        if spark is not None:
            run.stop_spark(spark)
        shutil.rmtree(tmp, ignore_errors=True)


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
