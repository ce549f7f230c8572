"""Metric definitions and the result record.

Every metric is reported by every workload.  Per-layer figures of a
layer a workload does not exercise (the lake layers on the query
workloads) read 0; all of those are counts, ratios or rates, never
times.
"""

from __future__ import annotations

import sys

import harness as H

END_TO_END = {
    "setup_s": "s",
    "ops_per_s": "1/s",
    "op_p50_s": "s",
    "op_p90_s": "s",
    "retained_mb": "MB",
}

PER_LAYER = {
    "memory.peak_rss_mb": "MB",
    "session.start_s": "s",
    "session.warmup_s": "s",
    "input.gen_s": "s",
    "operators.build_s": "s",
    "operators.build_share": "ratio",
    "sink.exec_s": "s",
    "py4j.calls_per_op": "count",
    "catalyst.plan_s": "s",
    "plans.exchanges_per_op": "count",
    "scheduler.jobs_per_op": "count",
    "scheduler.stages_per_op": "count",
    "scheduler.tasks_per_op": "count",
    "scheduler.driver_gap_s": "s",
    "executor.run_s": "s",
    "executor.cpu_s": "s",
    "executor.utilization": "ratio",
    "shuffle.read_bytes": "bytes",
    "shuffle.write_bytes": "bytes",
    "spill.disk_bytes": "bytes",
    "spill.memory_bytes": "bytes",
    "storage.leaked_rdds_per_op": "count",
    "pipeline.ingest_rows_per_s": "rows/s",
    "pipeline.jobs_per_ingest": "count",
    "pipeline.rows_per_ingest": "count",
    "dml.merge_rows_per_s": "rows/s",
    "dml.delete_rows_per_s": "rows/s",
    "dml.files_rewritten_ratio": "ratio",
    "dml.rows_rewritten_per_row_changed": "ratio",
    "versioned.read_rows_per_s": "rows/s",
    "versioned.maintenance_share": "ratio",
    "versioned.log_versions": "count",
    "versioned.live_files": "count",
    "versioned.dv_sidecars": "count",
    "versioned.bytes_written_per_user_byte": "ratio",
    "versioned.space_amp": "ratio",
    "trace.op_p50_s": "s",
    "trace.collect_s_per_op": "s",
}


def _mean(xs: list[float]) -> float:
    return sum(xs) / len(xs) if xs else 0.0


def _ratio(num: float, den: float) -> float:
    return num / den if den else 0.0


def op_rows(runner) -> list[dict]:
    out = []
    for r in runner.ops:
        d = dict(r.detail)
        st = d.pop("spark", None)
        if st is not None:
            d["spark"] = {k: v for k, v in st.__dict__.items() if k != "job_intervals"}
        out.append({"kind": r.kind, "name": r.name, "seconds": r.seconds, "ok": r.ok, **d})
    return out


def end_to_end(runner, setup: dict, mem: dict) -> dict[str, float]:
    secs = [r.seconds for r in runner.ops]
    return {
        "setup_s": setup["session.start_s"] + setup["input.gen_s"] + setup["session.warmup_s"],
        "ops_per_s": _ratio(len(secs), sum(secs)),
        "op_p50_s": H.hd_median(secs),
        "op_p90_s": H.percentile(secs, 90),
        "retained_mb": mem["retained_mb"],
    }


def per_layer(runner, ctx, lake, setup: dict, cores: int, mem: dict) -> dict[str, float]:
    ops = runner.ops
    d = [r.detail for r in ops]
    st = [x["spark"] for x in d]
    wall = sum(r.seconds for r in ops)
    built = [x for x in d if "build_s" in x]
    planned = [x for x in d if "catalyst_s" in x]
    out = {
        "memory.peak_rss_mb": mem["peak_rss_mb"],
        "session.start_s": setup["session.start_s"],
        "session.warmup_s": setup["session.warmup_s"],
        "input.gen_s": setup["input.gen_s"],
        "operators.build_s": _mean([x["build_s"] for x in built]),
        "operators.build_share": _ratio(
            sum(x["build_s"] for x in built), sum(x["build_s"] + x["sink_s"] for x in built)
        ),
        "sink.exec_s": _mean([x["sink_s"] for x in built]),
        "py4j.calls_per_op": _mean([x["py4j_calls"] for x in d]),
        "catalyst.plan_s": _mean([x["catalyst_s"] for x in planned]),
        "plans.exchanges_per_op": _mean([x["exchanges"] for x in planned]),
        "scheduler.jobs_per_op": _mean([s.jobs for s in st]),
        "scheduler.stages_per_op": _mean([s.stages for s in st]),
        "scheduler.tasks_per_op": _mean([s.tasks for s in st]),
        "scheduler.driver_gap_s": _mean([s.driver_gap_s for s in st]),
        "executor.run_s": _mean([s.executor_run_s for s in st]),
        "executor.cpu_s": _mean([s.executor_cpu_s for s in st]),
        "executor.utilization": _ratio(sum(s.executor_run_s for s in st), wall * cores),
        "shuffle.read_bytes": _mean([s.shuffle_read_bytes for s in st]),
        "shuffle.write_bytes": _mean([s.shuffle_write_bytes for s in st]),
        "spill.disk_bytes": _mean([s.spill_disk_bytes for s in st]),
        "spill.memory_bytes": _mean([s.spill_memory_bytes for s in st]),
        "storage.leaked_rdds_per_op": _mean([x["leaked_rdds"] for x in d]),
        "trace.op_p50_s": H.hd_median([r.seconds for r in ops]),
        "trace.collect_s_per_op": _mean([x["trace_s"] for x in d]),
    }
    out.update(_lake_layers(ops, ctx, lake))
    return out


def _lake_layers(ops, ctx, lake) -> dict[str, float]:
    def of(kind):
        return [r for r in ops if r.kind == kind and r.ok]

    ingests, merges, deletes, reads = of("ingest"), of("merge"), of("delete"), of("read")
    maint = sum(r.seconds for r in ops if r.kind in ("compact", "vacuum"))
    out = {
        "pipeline.ingest_rows_per_s": _ratio(
            sum(r.detail["rows"] for r in ingests), sum(r.seconds for r in ingests)
        ),
        "pipeline.jobs_per_ingest": _mean([r.detail["spark"].jobs for r in ingests]),
        "pipeline.rows_per_ingest": _mean([r.detail["rows"] for r in ingests]),
        "dml.merge_rows_per_s": _ratio(
            sum(r.detail["rows_changed"] for r in merges), sum(r.seconds for r in merges)
        ),
        "dml.delete_rows_per_s": _ratio(
            sum(r.detail["rows_changed"] for r in deletes), sum(r.seconds for r in deletes)
        ),
        "dml.files_rewritten_ratio": _ratio(
            sum(r.detail["files_rewritten"] for r in merges),
            sum(r.detail["files_total"] for r in merges),
        ),
        "dml.rows_rewritten_per_row_changed": _ratio(
            sum(r.detail["rows_written"] for r in merges),
            sum(r.detail["rows_changed"] for r in merges),
        ),
        "versioned.read_rows_per_s": _ratio(
            sum(r.detail["rows"] for r in reads), sum(r.seconds for r in reads)
        ),
        "versioned.maintenance_share": _ratio(maint, sum(r.seconds for r in ops)),
        "versioned.log_versions": 0.0,
        "versioned.live_files": 0.0,
        "versioned.dv_sidecars": 0.0,
        "versioned.bytes_written_per_user_byte": 0.0,
        "versioned.space_amp": 0.0,
    }
    if lake is not None:
        peaks = ctx.summary["before_compaction"]
        out["versioned.log_versions"] = float(ctx.summary["log_versions"])
        out["versioned.live_files"] = H.median([p["num_files"] for p in peaks])
        out["versioned.dv_sidecars"] = H.median([p["dv_sidecars"] for p in peaks])
        out["versioned.space_amp"] = H.median([p["space_amp"] for p in peaks])
        out["versioned.bytes_written_per_user_byte"] = _ratio(lake.written_bytes, lake.user_bytes)
    return out


def build_result(args, runner, ctx, lake, setup, failed_kinds, run_wall, cores, mem) -> dict:
    ops = runner.ops
    failed = sum(1 for r in ops if not r.ok or r.kind in failed_kinds)
    if args.trace:
        values, units = per_layer(runner, ctx, lake, setup, cores, mem), PER_LAYER
    else:
        values, units = end_to_end(runner, setup, mem), END_TO_END
    ctx.summary["memory_mb"] = {k: round(v, 1) for k, v in mem.get("parts", {}).items()}
    ctx.summary["memory_gc_rounds"] = mem.get("gc_rounds")
    _summarize(args, runner, ctx, setup, values, units, run_wall, failed)
    return {
        "correct": failed == 0,
        "attempted": len(ops),
        "failed": failed,
        "metrics": {k: {"value": float(values[k]), "unit": units[k]} for k in units},
    }


def _summarize(args, runner, ctx, setup, values, units, run_wall, failed) -> None:
    ops = runner.ops
    p = lambda *a: print(*a, file=sys.stderr)  # noqa: E731
    p(f"perfbench {args.workload} seed={args.seed} trace={args.trace}: "
      f"{len(ops)} ops in {run_wall:.1f}s timed phase, {failed} failed; "
      f"process set-up {setup['process_s']:.1f}s")
    for name, unit in units.items():
        p(f"  {name:38s} {values[name]:>14.6g} {unit}")
    p(f"  samples: op_p50_s/op_p90_s over n={len(ops)} ops")
    kinds = sorted({r.kind for r in ops})
    for kind in kinds:
        secs = [r.seconds for r in ops if r.kind == kind]
        p(f"  {kind:10s} n={len(secs):3d} p50={H.percentile(secs, 50):.3f}s "
          f"p90={H.percentile(secs, 90):.3f}s")
    p("  ops: " + " ".join(f"{r.name}={r.seconds:.2f}" for r in ops))
    for k, v in ctx.summary.items():
        p(f"  {k}: {v}")
