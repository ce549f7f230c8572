"""Benchmark entry point.

    python3 perfbench/run.py --workload interactive --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --seconds 10

One workload per process: a fresh ``local[<cores>]`` session (shuffle
partitions = cores), one closed-loop client, inputs generated from the
seed under a temporary root inside ``perfbench/`` that is removed on
exit.  ``--trace 0`` prints the end-to-end metrics, ``--trace 1`` the
per-layer metrics (and writes spans to ``perfbench/out/``).  The last
stdout line is the JSON result; a readable summary goes to stderr.
``--workload all`` runs every workload untraced and traced, one
process each, and prints every metric with its unit plus the tracing
overhead.
"""

from __future__ import annotations

import sys

sys.dont_write_bytecode = True

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import subprocess  # noqa: E402
import tempfile  # noqa: E402
import time  # noqa: E402

T_PROCESS = time.time()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import harness as H  # noqa: E402
import metrics as M  # noqa: E402
import workloads as W  # noqa: E402

DRIVER_MEMORY = "2g"


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=W.WORKLOADS + ("all",))
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=10.0)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def check_program() -> None:
    """Refuse to run without the engine: no result line, non-zero exit."""
    try:
        import __spark_entry__  # noqa: F401
        import f1_data_engineering_spark  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: the engine is not importable from {ROOT}: {exc}", file=sys.stderr)
        raise SystemExit(2) from None
    fixtures = os.path.join(ROOT, "fixtures", "f1fix")
    if not os.path.isdir(fixtures):
        print(f"perfbench: missing F1 fixtures at {fixtures}", file=sys.stderr)
        raise SystemExit(2)


def prepare_env(tmp: str, cores: int) -> dict[str, str]:
    """Environment the driver JVM and its Python workers inherit: the
    checkout on PYTHONPATH (workers unpickle engine functions), and
    every scratch location under the temporary root."""
    local = os.path.join(tmp, "spark-local")
    os.makedirs(local)
    for key in ("SPARK_GRAFT_EXTRA_CONF", "SPARK_MASTER", "PYSPARK_SUBMIT_ARGS"):
        os.environ.pop(key, None)
    os.environ.update(
        PYTHONPATH=os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        PYTHONDONTWRITEBYTECODE="1",
        TMPDIR=tmp,
        SPARK_LOCAL_DIRS=local,
        SPARK_GRAFT_CPUS=str(cores),
        SPARK_DRIVER_MEMORY=DRIVER_MEMORY,
    )
    tempfile.tempdir = None
    return {
        "spark.local.dir": local,
        "spark.sql.warehouse.dir": os.path.join(tmp, "warehouse"),
        # a fixed-size heap: no early heap-growth collections landing on
        # whichever operation the shuffled order runs first
        "spark.driver.extraJavaOptions": (
            f"-Xms{DRIVER_MEMORY} -Djava.io.tmpdir={tmp} -XX:-UsePerfData"
        ),
        "spark.ui.showConsoleProgress": "false",
    }


def stop_spark(spark) -> None:
    """Stop the session and wait for the driver JVM (and with it the
    Python worker daemons it forked) to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway  # noqa: SLF001
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        try:
            proc.stdin.close()
        except (OSError, AttributeError):
            pass
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


def run_one(args) -> dict:
    cores = len(os.sched_getaffinity(0))
    tmp = tempfile.mkdtemp(prefix="tmp-", dir=HERE)
    spark = None
    try:
        conf = prepare_env(tmp, cores)
        from f1_data_engineering_spark.session import get_spark

        sf_dir = os.path.join(tmp, "sf0.1")
        t = time.time()
        W.datagen.write_tables(sf_dir)
        gen_s = time.time() - t
        t = time.time()
        spark = get_spark(
            app_name=f"perfbench-{args.workload}",
            master=f"local[{cores}]",
            shuffle_partitions=cores,
            extra_conf=conf,
        )
        start_s = time.time() - t
        jvm_pid = int(spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())  # noqa: SLF001
        tracer = H.Tracer() if args.trace else None
        counter = H.Py4jCounter() if args.trace else None
        if counter is not None:
            counter.install()
        runner = H.Runner(spark, tracer, counter)
        ctx = W.Ctx(spark, runner, args.seed, args.seconds, sf_dir, tmp)
        t = time.time()
        W.warm_up(ctx, args.workload)
        lake = W.setup_lake(ctx) if args.workload == "lakehouse" else None
        warmup_s = time.time() - t
        setup = {
            "session.start_s": start_s,
            "input.gen_s": gen_s,
            "session.warmup_s": warmup_s,
            "process_s": time.time() - T_PROCESS,
        }
        t_run = time.time()
        failed_kinds: list[str] = []
        if lake is None:
            W.run_queries(ctx, W.QUERY_SETS[args.workload])
        else:
            W.run_lakehouse(ctx, lake)
        run_wall = time.time() - t_run
        mem = H.memory(spark, jvm_pid)
        if lake is not None:
            failed_kinds = W.check_lakehouse(ctx, lake)
        result = M.build_result(
            args, runner, ctx, lake, setup, failed_kinds, run_wall, cores, mem
        )
        if tracer is not None:
            counter.uninstall()
            path = os.path.join(HERE, "out", f"trace-{args.workload}-seed{args.seed}.json")
            tracer.dump(path, {"workload": args.workload, "seed": args.seed, "ops": M.op_rows(runner)})
            print(f"perfbench: spans written to {path}", file=sys.stderr)
        return result
    finally:
        try:
            if spark is not None:
                stop_spark(spark)
        finally:
            shutil.rmtree(tmp, ignore_errors=True)


def run_all(args) -> int:
    """Every workload untraced then traced, each in its own process."""
    rows, overhead, ok = [], {}, True
    for wl in W.WORKLOADS:
        for trace in (0, 1):
            cmd = [
                sys.executable, os.path.abspath(__file__), "--workload", wl,
                "--seed", str(args.seed), "--seconds", str(args.seconds),
                "--trace", str(trace),
            ]
            proc = subprocess.run(cmd, capture_output=True, text=True, timeout=900)
            sys.stderr.write(proc.stderr[-3000:])
            if proc.returncode != 0:
                print(f"{wl} trace={trace}: exit {proc.returncode}")
                ok = False
                continue
            res = json.loads(proc.stdout.strip().splitlines()[-1])
            ok = ok and res["correct"]
            for name, m in res["metrics"].items():
                rows.append((wl, trace, name, m["value"], m["unit"]))
            overhead.setdefault(wl, {})[trace] = res["metrics"].get(
                "op_p50_s" if trace == 0 else "trace.op_p50_s", {}
            ).get("value")
            print(f"{wl} trace={trace}: correct={res['correct']} "
                  f"attempted={res['attempted']} failed={res['failed']}")
    for wl, trace, name, value, unit in rows:
        print(f"{wl:12s} {'per-layer' if trace else 'end-to-end':10s} {name:38s} {value:>16.6g} {unit}")
    for wl, o in overhead.items():
        if o.get(0) and o.get(1):
            print(f"{wl:12s} tracing overhead on op_p50_s: {o[1] / o[0] - 1:+.1%}")
    return 0 if ok else 1


def main(argv=None) -> int:
    args = parse_args(argv)
    check_program()
    if args.workload == "all":
        return run_all(args)

    def on_term(signum, frame):
        raise SystemExit(128 + signum)

    signal.signal(signal.SIGTERM, on_term)
    result = run_one(args)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
