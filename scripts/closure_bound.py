"""Where should the closure's one-task tail stop?  Time it against the
distributed rounds, and read its Python worker's memory, as the edge
count grows.

    python scripts/closure_bound.py [--log2 K ...] [-n N] [--matching]

One session (``get_spark``: master and shuffle partitions follow
``SPARK_GRAFT_CPUS``).  For each edge count m = 2**K (default K = 18,
20, 21, 22) the JVM builds a random graph of m edges over m node ids
(endpoints hashed from ``spark.range``), checkpointed, and
``graphops.star_contract_labels`` labels all its nodes on each of two
paths, each run written to the noop sink.  ``--matching`` builds m
disjoint edges over 2m ids instead: the most endpoints, and so the
largest union-find table, that m edges can have (an LSH pair graph of
originals and their copies is close to it).

* task: ``CLOSURE_LOCAL_EDGES`` above m, so one union-find task closes
  the graph;
* rounds: ``CLOSURE_LOCAL_EDGES`` = 0, so large-star/small-star rounds
  run to their fixpoint.

Each is the best of N runs (default 1), in seconds.  ``rounds`` counts
the rounds' checksum jobs; ``input_checksum_s`` is the job before the
first round that counts the input edges to pick the path.
``worker_peak_mb`` is the largest peak RSS (``VmHWM``) of this
session's Python workers after the task runs; the sizes ascend and a
reused worker keeps its peak, so it is the peak of the largest task so
far.  A warm-up task at 2**10 edges starts the workers first and gives
their baseline.  Both paths are checked to give identical labels.
Output: one JSON line per edge count on stdout.  Run it from the
checkout root: Python workers import the engine from the working
directory.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from pyspark.sql import functions as F  # noqa: E402

from f1_data_engineering_spark.operators import graphops as GR  # noqa: E402
from f1_data_engineering_spark.session import get_spark  # noqa: E402


def _descendants(pid: int) -> set:
    """Process ids below ``pid``, read from /proc."""
    parent = {}
    for d in os.listdir("/proc"):
        try:
            with open(f"/proc/{d}/stat") as f:
                parent[int(d)] = int(f.read().rsplit(")", 1)[1].split()[1])
        except (ValueError, OSError):
            continue
    out, todo = set(), [pid]
    while todo:
        kids = [p for p, pp in parent.items() if pp == todo[-1]]
        todo.pop()
        out.update(kids)
        todo.extend(kids)
    return out


def worker_peak_mb() -> float:
    """The largest VmHWM among this session's Python worker processes."""
    peak = 0
    for p in _descendants(os.getpid()):
        try:
            with open(f"/proc/{p}/cmdline", "rb") as f:
                if b"pyspark.daemon" not in f.read():
                    continue
            with open(f"/proc/{p}/status") as f:
                hwm = [ln for ln in f if ln.startswith("VmHWM:")]
        except OSError:
            continue
        peak = max([peak] + [int(ln.split()[1]) for ln in hwm])
    return round(peak / 1024.0, 1)


def make_graph(spark, m: int, matching: bool):
    """(nodes, edges): m hashed edges (u, v) over node ids 0..m-1, or
    the m edges (2i, 2i + 1) over ids 0..2m-1."""
    ids = spark.range(m)
    if matching:
        u, v, nodes = F.col("id") * 2, F.col("id") * 2 + 1, spark.range(2 * m)
    else:
        u = F.pmod(F.xxhash64("id", F.lit(1)), F.lit(m))
        v = F.pmod(F.xxhash64("id", F.lit(2)), F.lit(m))
        nodes = ids
    edges = ids.select(u.alias("u"), v.alias("v")).localCheckpoint(eager=True)
    return nodes.select(F.col("id").alias("node")), edges


def timed(nodes, edges, bound: int, runs: int) -> tuple:
    """(best seconds, label digest, seconds of each checksum job of the
    last run) for ``star_contract_labels`` with the closure bound at
    ``bound``."""
    GR.CLOSURE_LOCAL_EDGES = bound
    checksum, jobs = GR._edge_checksum, []

    def counting(e):
        t = time.perf_counter()
        c = checksum(e)
        jobs.append(time.perf_counter() - t)
        return c

    GR._edge_checksum = counting
    best = None
    try:
        for _ in range(runs):
            jobs.clear()
            t = time.perf_counter()
            labels = GR.star_contract_labels(nodes, edges)
            labels.write.format("noop").mode("overwrite").save()
            s = time.perf_counter() - t
            best = s if best is None else min(best, s)
    finally:
        GR._edge_checksum = checksum
    digest = labels.agg(
        F.count(F.lit(1)), F.sum(F.xxhash64("node", "label").cast("decimal(38,0)"))
    ).first()
    return round(best, 2), tuple(digest), jobs


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--log2", type=int, nargs="+", default=[18, 20, 21, 22])
    ap.add_argument("-n", type=int, default=1, help="runs per path")
    ap.add_argument("--matching", action="store_true", help="m disjoint edges")
    args = ap.parse_args()
    spark = get_spark(extra_conf={"spark.ui.showConsoleProgress": "false"})
    nodes, edges = make_graph(spark, 2**10, args.matching)
    timed(nodes, edges, 2**62, 1)
    print(f"worker baseline {worker_peak_mb()} MB", file=sys.stderr)
    for k in sorted(args.log2):
        nodes, edges = make_graph(spark, 2**k, args.matching)
        task_s, task_digest, _ = timed(nodes, edges, 2**62, args.n)
        peak = worker_peak_mb()
        rounds_s, rounds_digest, jobs = timed(nodes, edges, 0, args.n)
        assert task_digest == rounds_digest, (k, task_digest, rounds_digest)
        print(json.dumps({
            "edges": 2**k, "task_s": task_s, "rounds_s": rounds_s,
            "rounds": len(jobs) - 1, "input_checksum_s": round(jobs[0], 2),
            "worker_peak_mb": peak,
        }), flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
