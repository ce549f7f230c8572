"""The three workloads.  Each runs whole cycles until at least the
requested seconds have been measured, so every run sees every operation
of a cycle and the figures do not depend on where a deadline fell.

* ``interactive`` - short read-only dashboard and ad-hoc queries.
* ``iterative`` - driver-bound composite queries built from fixpoint
  loops (many Spark jobs per query, mostly during the eager build).
* ``lakehouse`` - the reference's own ETL path: CSV season ingest into
  the silver lake, plus MERGE / merge-on-read DELETE / snapshot reads /
  compaction / vacuum on a versioned table that lives for the whole run.
"""

from __future__ import annotations

import json
import os
import random
import time
from dataclasses import dataclass, field

import datagen
from digest import digest_arrow
from harness import maybe_span

HERE = os.path.dirname(os.path.abspath(__file__))
DIGESTS_PATH = os.path.join(HERE, "digests.json")

INTERACTIVE = (
    "f1_lap_times",
    "f1_tyre_stints",
    "f1_stint_pivot",
    "f1_weather_trends",
    "f1_lap_telemetry_summary",
    "f1_stint_chart_rows",
    "f1_telemetry_compare",
    "q1_pricing_summary",
    "revenue_by_nation",
    "q3_shipping_priority",
    "window_rank_suite",
    "sessionize_events",
    "hourly_event_rollup",
    "asof_join_purchase",
    "text_stats",
    "value_percentiles",
    "grouping_sets_revenue",
    "time_format_roundtrip",
    "top_ngrams",
    "zscore_by_user",
)
#: Driver-bound queries where fewer jobs per query and released caches
#: would show: entity resolution and star contraction (fixpoint loops,
#: 56 and 44 jobs), PageRank (120 jobs) and the curation pipeline
#: (stage-ladder aggregates over cached frames).  ``bfs_hops_trade`` and
#: ``sssp_trade_costs`` (the same graph loops as these) and
#: ``kmeans_exact_lloyd`` (11 jobs) are left out, so that a warm-up cycle
#: and a timed cycle fit one run's time.
ITERATIVE = (
    "entity_resolution_clusters",
    "cc_star_contraction",
    "pagerank_nations",
    "curation_pipeline",
)
QUERY_SETS = {"interactive": INTERACTIVE, "iterative": ITERATIVE}
WORKLOADS = ("interactive", "iterative", "lakehouse")

#: Warm-up queries before the first timed operation (JVM JIT, codegen,
#: parquet footers).  ``interactive`` also starts the Python worker pool
#: its Arrow UDF query needs.  ``iterative`` runs every query once: each
#: compiles code of its own, so a query's first run in a process took
#: 1.0-1.9 times as long as its second, and the first cycle's median
#: latency spread wider between runs than the second's (``BASELINE.md``).
#: The lakehouse set-up warms itself with a small ingest.
WARMUP_QUERIES = {
    "interactive": ("q1_pricing_summary", "zscore_by_user"),
    "iterative": ITERATIVE,
    "lakehouse": (),
}

#: Merge + delete pairs per lakehouse cycle; the cycle's commits then end
#: in one compaction and vacuum.
STEPS_PER_CYCLE = 2
#: Events in the small season the lakehouse set-up ingests to warm the
#: CSV and transform path before the timed ingest.
WARMUP_EVENTS = 2
SEED_FILES = 16
COMPACT_ROWS_PER_FILE = 20_000
SAMPLED_LAPS = 40

CHECKSUM_SQL = (
    "SELECT count(*) AS n, sum(o_orderkey) AS k, sum(o_custkey) AS c, "
    "sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS p, "
    "sum(CASE o_orderstatus WHEN 'F' THEN 1 WHEN 'O' THEN 2 ELSE 3 END "
    "* o_orderkey) AS s FROM {table}"
)


@dataclass
class Ctx:
    spark: object
    runner: object
    seed: int
    seconds: float
    sf_dir: str
    tmp: str
    summary: dict = field(default_factory=dict)


def load_digests() -> dict[str, str]:
    with open(DIGESTS_PATH) as fh:
        return json.load(fh)["digests"]


def warm_up(ctx: Ctx, workload: str) -> None:
    import __spark_entry__ as entry

    qs = entry.queries()
    for name in WARMUP_QUERIES[workload]:
        qs[name](ctx.spark, ctx.sf_dir).write.format("noop").mode("overwrite").save()
        # as after a timed query: no cached plan carries over
        ctx.spark.catalog.clearCache()


# ---------------------------------------------------------------------------
# interactive / iterative
# ---------------------------------------------------------------------------


def run_queries(ctx: Ctx, names: tuple[str, ...]) -> None:
    import __spark_entry__ as entry

    from f1_data_engineering_spark.plans.introspect import count_exchanges

    qs = entry.queries()
    pinned = load_digests()
    missing = [n for n in names if n not in pinned]
    if missing:
        raise SystemExit(f"no pinned digest for {missing}; run perfbench/regen_digests.py")
    rng = random.Random(ctx.seed)
    runner, tracer = ctx.runner, ctx.runner.tracer
    checked: set[str] = set()
    t0 = time.time()
    while True:
        order = list(names)
        rng.shuffle(order)
        for name in order:
            parts: dict[str, float] = {}

            def op(name=name, parts=parts):
                b0 = time.time()
                with maybe_span(tracer, "operators.build"):
                    df = qs[name](ctx.spark, ctx.sf_dir)
                b1 = time.time()
                with maybe_span(tracer, "sink.noop"):
                    df.write.format("noop").mode("overwrite").save()
                parts["build_s"], parts["sink_s"] = b1 - b0, time.time() - b1
                return df

            def check(df, name=name, parts=parts):
                detail = dict(parts)
                if tracer is not None:
                    detail.update(_plan_stats(df, count_exchanges))
                if name not in checked:
                    checked.add(name)
                    got = digest_arrow(df.toArrow())
                    detail["digest_ok"] = got == pinned[name]
                    if not detail["digest_ok"]:
                        raise AssertionError(
                            f"{name}: output digest {got} != pinned {pinned[name]}"
                        )
                return detail

            runner.run("query", name, op, check=check)
        if time.time() - t0 >= ctx.seconds:
            break
    unchecked = set(names) - checked
    if unchecked:  # a query that raised was never checked: it failed
        ctx.summary["unchecked"] = sorted(unchecked)


def _plan_stats(df, count_exchanges) -> dict:
    """Catalyst phase time of the final plan and its shuffle count (the
    eager loops' intermediate plans are not included)."""
    qe = df._jdf.queryExecution()  # noqa: SLF001
    qe.executedPlan()
    phases = qe.tracker().phases()
    ms = 0
    for ph in ("analysis", "optimization", "planning"):
        got = phases.get(ph)
        if got.isDefined():
            ms += got.get().durationMs()
    return {"catalyst_s": ms / 1000.0, "exchanges": count_exchanges(df)}


# ---------------------------------------------------------------------------
# lakehouse
# ---------------------------------------------------------------------------


@dataclass
class Lake:
    table: str
    silver: str
    raw_root: str
    orders_path: str
    duck: object = None
    step: int = 0
    seasons: list = field(default_factory=list)
    user_bytes: int = 0
    seen_files: dict = field(default_factory=dict)
    written_bytes: int = 0


def setup_lake(ctx: Ctx) -> Lake:
    """Warm the ingest path on a small season, then seed the versioned
    ``orders`` table and its DuckDB replay twin."""
    import duckdb

    from f1_data_engineering_spark.pipeline import ingest_session_tree
    from f1_data_engineering_spark.sources import versioned as V

    lake = Lake(
        table=os.path.join(ctx.tmp, "lake", "orders"),
        silver=os.path.join(ctx.tmp, "lake", "silver"),
        raw_root=os.path.join(ctx.tmp, "raw"),
        orders_path=os.path.join(ctx.sf_dir, "orders.parquet"),
    )
    warm_raw = os.path.join(ctx.tmp, "raw-warmup")
    datagen.write_season(warm_raw, datagen.season_year(ctx.seed, -1), ctx.seed, WARMUP_EVENTS)
    ingest_session_tree(
        ctx.spark, warm_raw, os.path.join(ctx.tmp, "lake", "silver-warmup"), datagen.SEASON_TABLES
    )
    orders = ctx.spark.read.parquet(lake.orders_path)
    V.write_versioned(
        orders.repartitionByRange(SEED_FILES, "o_orderkey"), lake.table, mode="overwrite"
    )
    lake.user_bytes = os.path.getsize(lake.orders_path)
    _track_written(lake)
    lake.duck = duckdb.connect()
    lake.duck.execute(
        f"CREATE TABLE t AS SELECT * FROM read_parquet('{lake.orders_path}')"
    )
    return lake


def _track_written(lake: Lake) -> None:
    """Bytes of table files that appeared since the last call."""
    for f in os.listdir(lake.table):
        if f.endswith(".parquet") and f not in lake.seen_files:
            size = os.path.getsize(os.path.join(lake.table, f))
            lake.seen_files[f] = size
            lake.written_bytes += size


def run_lakehouse(ctx: Ctx, lake: Lake) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from f1_data_engineering_spark.pipeline import ingest_session_tree
    from f1_data_engineering_spark.sources import dml as D
    from f1_data_engineering_spark.sources import versioned as V

    runner, tracer = ctx.runner, ctx.runner.tracer
    before: list[dict] = []

    def read_op():
        parts = {}

        def op():
            b0 = time.time()
            with maybe_span(tracer, "versioned.read_versioned"):
                df = V.read_versioned(ctx.spark, lake.table)
                agg = df.groupBy("o_orderstatus").agg(
                    F.count("*").alias("n"), F.sum("o_totalprice").alias("p")
                )
            b1 = time.time()
            with maybe_span(tracer, "sink.collect"):
                rows = agg.collect()
            parts.update(build_s=b1 - b0, sink_s=time.time() - b1)
            return agg, rows

        def check(res):
            df, rows = res
            detail = dict(parts, rows=sum(r["n"] for r in rows))
            if tracer is not None:
                from f1_data_engineering_spark.plans.introspect import count_exchanges

                detail.update(_plan_stats(df, count_exchanges))
            return detail

        runner.run("read", "read_versioned", op, check=check)

    t0 = time.time()
    while True:
        k = len(lake.seasons)
        raw = os.path.join(lake.raw_root, f"season_{k}")
        year = datagen.season_year(ctx.seed, k)
        truth = datagen.write_season(raw, year, ctx.seed)
        lake.seasons.append((year, truth))

        def ingest(raw=raw):
            with maybe_span(tracer, "pipeline.ingest_session_tree"):
                return ingest_session_tree(
                    ctx.spark, raw, lake.silver, datagen.SEASON_TABLES
                )

        def ingest_check(counts, truth=truth):
            if counts != truth["rows"]:
                raise AssertionError(f"ingest counts {counts} != generated {truth['rows']}")
            return {"rows": sum(counts.values())}

        runner.run("ingest", f"season_{k}", ingest, check=ingest_check)
        for _ in range(STEPS_PER_CYCLE):
            step = lake.step
            lake.step += 1
            batch = datagen.merge_batch(ctx.seed, step)
            buf = pa.BufferOutputStream()
            pq.write_table(batch, buf)
            lake.user_bytes += buf.getvalue().size
            src = ctx.spark.createDataFrame(batch.to_pandas())

            def merge(src=src):
                with maybe_span(tracer, "dml.merge_into"):
                    return D.merge_into(
                        ctx.spark,
                        lake.table,
                        src,
                        on=["o_orderkey"],
                        when_matched_update={
                            "o_totalprice": "s.o_totalprice",
                            "o_orderstatus": "s.o_orderstatus",
                        },
                    )

            rec = runner.run("merge", f"merge_{step}", merge, check=_merge_detail(lake))
            if rec.ok:
                _duck_merge(lake.duck, batch)
            read_op()
            lo, hi = datagen.delete_range(ctx.seed, step)
            cond = f"o_orderkey >= {lo} AND o_orderkey < {hi}"

            def delete(cond=cond):
                with maybe_span(tracer, "dml.delete_where_mor"):
                    return D.delete_where_mor(ctx.spark, lake.table, cond)

            rec = runner.run("delete", f"delete_{step}", delete, check=_delete_detail(lake))
            if rec.ok:
                lake.duck.execute(f"DELETE FROM t WHERE {cond}")
            read_op()
        # every cycle's commits end in compaction + vacuum, so space is
        # measured at the same point of the compaction cycle each time
        d = V.describe_detail(lake.table)
        before.append(
            {
                "num_files": d["num_files"],
                "dv_sidecars": d["dv_sidecars"],
                "space_amp": (d["size_bytes"] + d["retained_non_live_bytes"]) / d["size_bytes"],
            }
        )

        def compact():
            with maybe_span(tracer, "versioned.compact_versioned"):
                return V.compact_versioned(
                    ctx.spark, lake.table, target_rows_per_file=COMPACT_ROWS_PER_FILE
                )

        runner.run("compact", "compact_versioned", compact, check=lambda _: _track_written(lake))

        def vac():
            with maybe_span(tracer, "versioned.vacuum"):
                return V.vacuum(lake.table, retain_versions=0, min_age_seconds=0)

        runner.run("vacuum", "vacuum", vac)
        if time.time() - t0 >= ctx.seconds:
            break
    ctx.summary["before_compaction"] = before
    ctx.summary["log_versions"] = V.latest_version(lake.table) + 1


def _merge_detail(lake: Lake):
    def check(res):
        _track_written(lake)
        from f1_data_engineering_spark.sources import versioned as V

        head = V.table_history(lake.table)[-1]
        changed = res["n_updated"] + res["n_inserted"] + res["n_deleted"]
        return {
            "files_rewritten": res["files_rewritten"],
            "files_total": res["files_total"],
            "rows_written": head.get("n_rows", 0),
            "rows_changed": changed,
        }

    return check


def _delete_detail(lake: Lake):
    def check(res):
        _track_written(lake)
        return {
            "rows_changed": res["n_deleted"],
            "files_targeted": res["files_targeted"],
            "files_total": res["files_total"],
        }

    return check


def _duck_merge(con, batch) -> None:
    con.register("src", batch)
    con.execute(
        "UPDATE t SET o_totalprice = src.o_totalprice, o_orderstatus = src.o_orderstatus "
        "FROM src WHERE t.o_orderkey = src.o_orderkey"
    )
    con.execute(
        "INSERT INTO t SELECT * FROM src WHERE o_orderkey NOT IN (SELECT o_orderkey FROM t)"
    )
    con.unregister("src")


def check_lakehouse(ctx: Ctx, lake: Lake) -> list[str]:
    """Outside the timed region: the final versioned state against the
    DuckDB replay, silver row counts against the generator's, and a
    sample of parsed lap durations against the generator's true values.
    Returns the op kinds a failed check implicates."""
    from pyspark.sql import functions as F

    from f1_data_engineering_spark.sources import versioned as V
    from f1_data_engineering_spark.sources.parquetio import read_partitioned

    failed: list[str] = []
    V.read_versioned(ctx.spark, lake.table).createOrReplaceTempView("bench_orders")
    got = tuple(ctx.spark.sql(CHECKSUM_SQL.format(table="bench_orders")).collect()[0])
    want = lake.duck.execute(CHECKSUM_SQL.format(table="t")).fetchone()
    ctx.summary["final_state"] = {"spark": list(got), "duckdb": list(want)}
    if tuple(int(x) for x in got) != tuple(int(x) for x in want):
        failed += ["merge", "delete", "compact"]

    for table in datagen.SEASON_TABLES:
        n = read_partitioned(ctx.spark, os.path.join(lake.silver, table)).count()
        expect = sum(t["rows"][table] for _, t in lake.seasons)
        if n != expect:
            ctx.summary.setdefault("silver_mismatch", {})[table] = [n, expect]
            failed.append("ingest")

    rng = random.Random(ctx.seed)
    laps = read_partitioned(ctx.spark, os.path.join(lake.silver, "laps_data"))
    for year, truth in lake.seasons:
        keys = rng.sample(sorted(truth["lap_seconds"]), SAMPLED_LAPS)
        want_laps = {k: truth["lap_seconds"][k] for k in keys}
        rows = (
            laps.filter(F.col("Year") == year)
            .filter(F.col("Driver").isin(sorted({k[2] for k in keys})))
            .select("EventName", "SessionKey", "Driver", "LapNumber", "LapTime")
            .collect()
        )
        seen = {
            (r["EventName"], r["SessionKey"], r["Driver"], int(r["LapNumber"])): r["LapTime"]
            for r in rows
        }
        bad = [k for k, v in want_laps.items() if k not in seen or not _same(seen[k], v)]
        if bad:
            ctx.summary.setdefault("duration_mismatch", []).extend(map(list, bad[:5]))
            failed.append("ingest")
    return sorted(set(failed))


def _same(got, want) -> bool:
    if got is None or want is None:
        return got is None and want is None
    return abs(got - want) < 1e-6
