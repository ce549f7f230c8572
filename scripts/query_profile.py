"""Where did a query's time go?  Profile registered queries layer by layer.

    python scripts/query_profile.py <sf_dir> <query>... [-n N] [--sites K]

One session (``get_spark``: master and shuffle partitions follow
``SPARK_GRAFT_CPUS``), warmed up with ``q1_pricing_summary``.  Each
query then runs N times (default 2), each run on an empty cache, in two
phases:

* build: calling the query function, which may submit Spark jobs
  (eager engine code: checksum collects, pinned caches);
* execution: writing the DataFrame to the noop sink.

Each phase reports seconds, py4j calls, and its jobs' stages, tasks,
driver gap, executor run and CPU time, shuffle bytes and spill, read
from the JVM status store.

Every job of a run is listed with its duration, the gap before it and
its call site.  ``--sites K`` also attributes each run's py4j calls to
the engine source lines that issued them and keeps the top K (walking
the stack on every call slows the build it measures).  Py4j counts leave
out GC detaches, so warm runs repeat them exactly; seconds are only
meaningful on a quiet host.

Output: one JSON line per query on stdout (its runs and the minimum
wall time over them), a readable summary on stderr.  Run it from the
checkout root: Python workers import the engine from the working
directory.
"""

from __future__ import annotations

import argparse
import collections
import json
import os
import sys
import time
from dataclasses import asdict

from py4j.protocol import Py4JJavaError

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

import __spark_entry__ as entry_mod  # noqa: E402
from f1_data_engineering_spark.session import get_spark  # noqa: E402
from perfbench.harness import GC_DETACH_PREFIX, Py4jCounter, SparkProbe  # noqa: E402

WARM_UP = "q1_pricing_summary"
ENGINE = (
    os.path.join(ROOT, "f1_data_engineering_spark") + os.sep,
    os.path.join(ROOT, "__spark_entry__.py"),
)
_MB = 1024.0 * 1024.0


class SiteCounter(Py4jCounter):
    """A py4j counter that also tallies each counted call by the innermost
    engine source line on the Python stack when it was sent."""

    def __init__(self) -> None:
        super().__init__()
        self.sites: collections.Counter = collections.Counter()

    def _wrap(self, original):
        counted = super()._wrap(original)

        def send_command(conn, command):
            if not command.startswith(GC_DETACH_PREFIX):
                site = _engine_site(sys._getframe(1))  # noqa: SLF001
                with self._lock:
                    self.sites[site] += 1
            return counted(conn, command)

        return send_command


def _engine_site(frame) -> str:
    while frame is not None:
        code = frame.f_code
        if code.co_filename.startswith(ENGINE):
            return f"{os.path.relpath(code.co_filename, ROOT)}:{frame.f_lineno} {code.co_name}"
        frame = frame.f_back
    return "?"


def warm_up(spark, sf_dir: str) -> None:
    """JVM, codegen and parquet footers out of the measurement."""
    entry_mod.queries()[WARM_UP](spark, sf_dir).write.format("noop").mode("overwrite").save()


def _phase(probe: SparkProbe, first: int, last: int, start: float, end: float, phase: str):
    """``SparkProbe.collect`` stats of jobs ``[first, last)``, and one row
    per job: duration, the gap since the phase start or the latest end
    of an earlier job, and the call site."""
    stats = asdict(probe.collect(first, last, start, end))
    names = []
    for jid in range(first, last):
        try:
            names.append(str(probe.store.job(jid).name()))
        except Py4JJavaError:  # evicted from the store; collect skips it too
            continue
    # collect keeps one interval per stored job, in id order: once the
    # listener bus is drained every stored job has a submission time
    rows, prev_end = [], start
    for name, (lo, hi) in zip(names, stats.pop("job_intervals")):
        rows.append(
            {
                "phase": phase,
                "s": round(hi - lo, 3),
                "gap_s": round(max(0.0, lo - prev_end), 3),
                "site": name,
            }
        )
        prev_end = max(prev_end, hi)
    return stats, rows


def profile(spark, sf_dir: str, name: str, runs: int = 2, sites: int = 0) -> dict:
    """Profile ``runs`` runs of one registered query; the record
    ``main`` prints.  The py4j counter is installed for the call only."""
    fn = entry_mod.queries()[name]
    probe = SparkProbe(spark)
    counter = SiteCounter() if sites else Py4jCounter()
    counter.install()
    records = []
    try:
        for _ in range(runs):
            spark.catalog.clearCache()
            if sites:
                counter.sites.clear()
            j0 = probe.next_job_id()
            c0, t0 = counter.read(), time.time()
            df = fn(spark, sf_dir)
            t1, c1 = time.time(), counter.read()
            j1 = probe.next_job_id()
            c1x, t1x = counter.read(), time.time()
            df.write.format("noop").mode("overwrite").save()
            t2, c2 = time.time(), counter.read()
            j2 = probe.next_job_id()
            # before the probe's own py4j calls
            top = counter.sites.most_common(sites) if sites else []
            build, build_jobs = _phase(probe, j0, j1, t0, t1, "build")
            execution, exec_jobs = _phase(probe, j1, j2, t1x, t2, "exec")
            rec = {
                "wall_s": round((t1 - t0) + (t2 - t1x), 3),
                "build": {"s": round(t1 - t0, 3), "py4j_calls": c1 - c0, **build},
                "exec": {"s": round(t2 - t1x, 3), "py4j_calls": c2 - c1x, **execution},
                "jobs": build_jobs + exec_jobs,
            }
            if sites:
                rec["sites"] = top
            records.append(rec)
    finally:
        counter.uninstall()
    return {
        "query": name,
        "sf_dir": sf_dir,
        "min_wall_s": min(r["wall_s"] for r in records),
        "runs": records,
    }


def summary(rec: dict) -> str:
    lines = []
    for i, r in enumerate(rec["runs"], 1):
        lines.append(f"{rec['query']} run {i}/{len(rec['runs'])}: wall {r['wall_s']:.2f}s")
        for phase in ("build", "exec"):
            p = r[phase]
            lines += [
                f"  {phase:5s} {p['s']:7.2f}s  {p['py4j_calls']:6d} py4j calls  {p['jobs']} jobs  "
                f"{p['stages']} stages  {p['tasks']} tasks  driver gap {p['driver_gap_s']:.2f}s",
                f"        executor run {p['executor_run_s']:.2f}s  cpu {p['executor_cpu_s']:.2f}s  "
                f"shuffle read/write {p['shuffle_read_bytes'] / _MB:.1f}/"
                f"{p['shuffle_write_bytes'] / _MB:.1f} MB  "
                f"spill memory/disk {p['spill_memory_bytes'] / _MB:.1f}/"
                f"{p['spill_disk_bytes'] / _MB:.1f} MB",
            ]
        lines += [
            f"  job {j['phase']:5s} {j['s']:6.2f}s  (gap {j['gap_s']:5.2f}s)  {j['site']}"
            for j in r["jobs"]
        ]
        lines += [f"  {n:6d} py4j  {site}" for site, n in r.get("sites", [])]
    lines.append(f"{rec['query']}: min wall {rec['min_wall_s']:.2f}s over {len(rec['runs'])} runs")
    return "\n".join(lines)


def main() -> None:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("sf_dir")
    p.add_argument("queries", nargs="+")
    p.add_argument("-n", type=int, default=2, help="runs per query")
    p.add_argument(
        "--sites", type=int, default=0, metavar="K", help="top-K engine lines by py4j calls"
    )
    args = p.parse_args()
    unknown = sorted(set(args.queries) - set(entry_mod.queries()))
    if unknown:
        p.error(f"not registered: {', '.join(unknown)}")
    if args.n < 1:
        p.error("-n must be at least 1")

    spark = get_spark(app_name="query-profile")
    try:
        warm_up(spark, args.sf_dir)
        for name in args.queries:
            rec = profile(spark, args.sf_dir, name, args.n, args.sites)
            print(summary(rec), file=sys.stderr, flush=True)
            print(json.dumps(rec), flush=True)
    finally:
        spark.stop()


if __name__ == "__main__":
    main()
