"""scripts/query_profile.py: the one per-query profiling path."""

import importlib.util
import os

from py4j.clientserver import ClientServerConnection
from py4j.java_gateway import GatewayConnection

spec = importlib.util.spec_from_file_location(
    "query_profile",
    os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "scripts", "query_profile.py"),
)
qp = importlib.util.module_from_spec(spec)
spec.loader.exec_module(qp)

PHASE_FIELDS = {
    "s", "py4j_calls", "jobs", "stages", "tasks", "driver_gap_s",
    "executor_run_s", "executor_cpu_s", "shuffle_read_bytes",
    "shuffle_write_bytes", "spill_disk_bytes", "spill_memory_bytes",
}


def test_profile_record_and_repeatable_py4j_counts(spark, sf_dir):
    originals = (ClientServerConnection.send_command, GatewayConnection.send_command)
    qp.warm_up(spark, sf_dir)
    rec = qp.profile(spark, sf_dir, "q1_pricing_summary", runs=2, sites=5)

    assert rec["query"] == "q1_pricing_summary"
    assert len(rec["runs"]) == 2
    assert rec["min_wall_s"] == min(r["wall_s"] for r in rec["runs"])
    for run in rec["runs"]:
        assert set(run) == {"wall_s", "build", "exec", "jobs", "sites"}
        assert set(run["build"]) == set(run["exec"]) == PHASE_FIELDS
        assert run["exec"]["jobs"] >= 1
        assert run["exec"]["stages"] >= 1
        assert len(run["jobs"]) == run["build"]["jobs"] + run["exec"]["jobs"]
        assert all(j["site"] and j["s"] >= 0 and j["gap_s"] >= 0 for j in run["jobs"])
        assert 0 < len(run["sites"]) <= 5
        assert any("q1_pricing_summary" in site for site, _ in run["sites"])

    # GC detaches are not counted, so two warm builds send the same calls
    assert rec["runs"][0]["build"]["py4j_calls"] == rec["runs"][1]["build"]["py4j_calls"] > 0
    # the counter is gone once the call returns, so it cannot leak into later tests
    assert (ClientServerConnection.send_command, GatewayConnection.send_command) == originals


def test_build_phase_jobs_get_stage_stats(spark, sf_dir):
    # star contraction's fixpoint checksums are collected while the query
    # is built: their stages and shuffles belong to the build phase
    (run,) = qp.profile(spark, sf_dir, "cc_star_contraction", runs=1)["runs"]
    build = run["build"]
    assert build["jobs"] >= 1
    assert build["stages"] >= build["jobs"]
    assert build["tasks"] >= build["stages"]
    assert build["shuffle_write_bytes"] > 0 and build["shuffle_read_bytes"] > 0
    assert build["executor_run_s"] > 0
    assert [j["phase"] for j in run["jobs"]] == ["build"] * build["jobs"] + ["exec"] * run["exec"]["jobs"]
