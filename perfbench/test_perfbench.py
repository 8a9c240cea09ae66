"""Tests of the benchmark itself, on small inputs (scale 0.05 of sf0.1):

    python3 -m pytest perfbench -q

Each test starts and stops its own JVM, so the file takes a few
minutes.
"""

from __future__ import annotations

import argparse
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE, os.path.dirname(HERE)]

import run  # noqa: E402
import workloads  # noqa: E402

SCALE = 0.05


def _run(workload: str, trace: int = 0, seconds: int = 1, seed: int = 7) -> dict:
    args = argparse.Namespace(workload=workload, seed=seed, seconds=seconds, trace=trace)
    return run.run_isolated(args, SCALE)


@pytest.mark.parametrize("workload, oracle", [
    ("trial_etl", "goals_cascade"),
    ("corpus_release", "curation_release_e2e"),
])
def test_wrong_expected_value_counts_the_op_failed(monkeypatch, workload, oracle):
    """A check that can fail: make one oracle expect a duplicated row the
    output does not hold, and the op must count as failed."""
    real = workloads.oracle_sql

    def wrong(name):
        sql = real(name)
        if name != oracle:
            return sql
        return f"SELECT * FROM ({sql}) UNION ALL (SELECT * FROM ({sql}) LIMIT 1)"

    monkeypatch.setattr(workloads, "oracle_sql", wrong)
    res = _run(workload)
    assert res["attempted"] == 1
    assert res["failed"] == 1
    assert res["correct"] is False
    assert res["metrics"]["op_ok_ratio"]["value"] == 0.0


def test_wrong_lakehouse_expectation_counts_the_tick_failed(monkeypatch):
    """The same for a maintenance tick: expect one more cent in every
    segment of the lakehouse aggregate than the tick can hold."""
    real = workloads.lakehouse_sql

    def wrong(dim):
        sql = real(dim)
        sql["agg"] = sql["agg"].replace("sum(cents)::BIGINT", "(sum(cents) + 1)::BIGINT")
        return sql

    monkeypatch.setattr(workloads, "lakehouse_sql", wrong)
    res = _run("maintenance_ticks")
    assert res["attempted"] == 1
    assert res["failed"] == 1
    assert res["metrics"]["op_ok_ratio"]["value"] == 0.0


def test_untraced_run_reports_every_metric_and_passes_its_checks():
    res = _run("corpus_release")
    assert res["failed"] == 0 and res["correct"] is True
    assert set(res["metrics"]) == set(run.E2E_UNITS)
    for name, m in res["metrics"].items():
        assert m["value"] > 0, name
    rec = res["record"]
    for key in ("nproc", "master", "default_parallelism", "shuffle_partitions",
                "pyspark", "java", "seed", "inputs", "env_overrides"):
        assert key in rec, key
    assert rec["master"] == f"local[{rec['nproc']}]"


def test_traced_run_accounts_for_every_op_and_job():
    """Per op, the spans' self times plus the benchmark glue sum to the
    op's wall time (to 1 ms), the glue stays under 10% of it, and every
    Spark job in the event log carries a span's job group."""
    res = _run("maintenance_ticks", trace=1)
    assert res["failed"] == 0
    detail = res["detail"]
    assert detail["n_jobs"] > 0
    assert detail["untagged_jobs"] == []
    assert detail["accounting"]
    for row in detail["accounting"]:
        assert row["layers_self_s"] + row["glue_s"] == pytest.approx(row["wall_s"], abs=1e-3)
        assert row["glue_s"] <= 0.1 * row["wall_s"], row
    m = {k: v["value"] for k, v in res["metrics"].items()}
    assert set(m) == set(run.per_layer_units())
    for layer in ("jobs.lakehouse", "jobs.retrieval", "operators.maintenance",
                  "operators.skipping", "jobs.curation", "catalog"):
        assert m[f"{layer}.calls"] > 0, layer
        assert m[f"{layer}.self_s"] > 0, layer
    assert m["spark.jobs"] > 0 and m["spark.tasks"] > 0
    assert m["jobs.lakehouse.plan_s"] > 0
    assert 0 < m["operators.skipping.files_read_ratio"] <= 1
    assert m["jobs.retrieval.write_amp"] > 0
    assert 0 < m["jobs.curation.rows_kept_ratio"] <= 1
    assert m["trace.overhead_ratio"] > 0


def test_maintenance_state_stays_in_band_over_ticks():
    """Three ticks in one run: the checks after each tick hold the live
    index rows and lakehouse rows constant and the table's file count
    within the band set after set-up."""
    res = _run("maintenance_ticks", seconds=3 * run.NOMINAL_OP_S["maintenance_ticks"])
    assert res["attempted"] == 3
    assert res["failed"] == 0


def test_refuses_run_with_config_overrides(monkeypatch, capsys):
    monkeypatch.setenv("SPARK_GRAFT_EXTRA_CONF", "spark.sql.adaptive.enabled=false")
    rc = run.main(["--workload", "trial_etl", "--seed", "1", "--seconds", "1"])
    assert rc != 0
    assert "refusing" in capsys.readouterr().err
