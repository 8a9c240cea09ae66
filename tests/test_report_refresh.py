"""The trial report refresh (the five reports the hourly job renders,
plus the cleaning builders) pinned by what it costs to run: Spark jobs
started while building a plan, table scans per report, and table
schemas that come from the footer instead of an inference job."""

from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F

from bohemia_kenya_data_pipeline_spark import jobs
from bohemia_kenya_data_pipeline_spark import plans as P
from bohemia_kenya_data_pipeline_spark import queries as q
from bohemia_kenya_data_pipeline_spark.session import local_df
from tests.conftest import SF_DIR, TABLES, count_jobs


def _final_scans(df, table: str) -> int:
    """File scans of ``<table>.parquet`` in the AQE-final plan of one
    execution of ``df`` (the "Initial Plan" half of the text is cut; a
    reused exchange prints no scan of its own)."""
    text = P.plan_text(df, final=True).split("== Initial Plan ==")[0]
    return len(re.findall(rf"FileScan parquet [^\n]*/{table}\.parquet", text))


def _raw(spark):
    return local_df(
        spark,
        [
            ("uuid:1", "00001", "nguz0", 30.0, "n1"),
            ("uuid:2", "00002", "KIJIJI", 40.0, "n2"),
            ("uuid:3", "00003", "kijiji ", 50.0, "n3"),
        ],
        "`meta-instanceID` string, `group_hh-hhid` string, `group_hh-village` string, "
        "age double, firstname string",
    )


def _sheet(spark):
    return local_df(
        spark,
        [
            ("demo", "uuid:1", "age", "31", "SET", "", 0, 1),
            ("demo", "uuid:1", "age", "32", "SET", "", 0, 2),
            ("demo", "uuid:2", None, None, "DELETE", "", 0, 3),
            ("demo", "uuid:3", "hhid", "00009", "SET", None, None, 4),
        ],
        "Form string, instanceID string, Column string, `Set To` string, "
        "Operation string, RepeatName string, RepeatKey int, resolution_order int",
    )


def test_clean_form_build_starts_no_job(spark):
    # the SET targets are never read on the driver: building the plan
    # is free, and the plan still applies keep-last SETs and DELETEs
    raw, sheet = _raw(spark), _sheet(spark)
    out = []
    n = count_jobs(spark, lambda: out.append(jobs.clean_form(raw, sheet, "demo")))
    assert n == 0
    rows = {r.instanceID: r for r in out[0].collect()}
    assert set(rows) == {"uuid:1", "uuid:3"}
    assert rows["uuid:1"].age == 32.0 and rows["uuid:3"].hhid == "00009"
    assert rows["uuid:3"].village == "KIJIJI"


def test_resolution_delete_set_build_starts_no_job(spark):
    assert count_jobs(spark, lambda: q.QUERIES["resolution_delete_set"](spark, SF_DIR)) == 0


def test_apply_sets_skips_complex_columns_and_quotes_names(spark):
    # a SET naming an array column is not applied (a string cannot
    # cast to it); a column name with a quote is looked up verbatim
    from bohemia_kenya_data_pipeline_spark.operators import clean as cl

    data = spark.range(2).select(
        F.concat(F.lit("uuid:"), F.col("id").cast("string")).alias("instanceID"),
        F.array(F.lit("x")).alias("tags"),
        F.lit("old").alias("it's"),
    )
    sheet = local_df(
        spark,
        [
            ("f", "uuid:0", "tags", "y", "SET", "", 0, 1),
            ("f", "uuid:0", "it's", "new", "SET", "", 0, 2),
        ],
        "Form string, instanceID string, Column string, `Set To` string, "
        "Operation string, RepeatName string, RepeatKey int, resolution_order int",
    )
    rows = {r.instanceID: r for r in cl.apply_sets(data, sheet).collect()}
    assert rows["uuid:0"]["it's"] == "new" and rows["uuid:1"]["it's"] == "old"
    assert rows["uuid:0"].tags == ["x"]


def test_icf_verification_metrics_scans_events_once(spark):
    # both keep-last picks come from one aggregate over one scan
    df = q.QUERIES["icf_verification_metrics"](spark, SF_DIR)
    assert _final_scans(df, "events") == 1


def test_goals_cascade_scans_orders_once(spark):
    # visit order, departure and refusal share one o_custkey window pass
    df = q.QUERIES["goals_cascade"](spark, SF_DIR)
    assert _final_scans(df, "orders") == 1


def test_pharmacy_ledger_scans_lineitem_once(spark):
    df = q.QUERIES["pharmacy_ledger_reconciliation"](spark, SF_DIR)
    assert _final_scans(df, "lineitem") == 1


@pytest.fixture(scope="module")
def bench_inputs(tmp_path_factory):
    """The benchmark's generated tables at a small scale: the same
    writer, hence the same parquet types, as its full-size inputs."""
    from perfbench import inputs

    return inputs.ensure(str(tmp_path_factory.mktemp("bench")), scale=0.01)


@pytest.mark.parametrize("where", ["sf", "bench"])
def test_table_schema_from_footer_equals_spark_inference(spark, bench_inputs, where):
    sf_dir = SF_DIR if where == "sf" else bench_inputs
    for t in TABLES:
        path = f"{sf_dir}/{t}.parquet"
        q._SCHEMA_MEMO.pop(path, None)
        got = []
        n = count_jobs(spark, lambda: got.append(q._table_schema(spark, path)))
        assert got[0] == spark.read.parquet(path).schema, t
        assert n == 0, t


def test_nanosecond_timestamps_fall_back_to_inference(spark, tmp_path):
    # nanosAsLong reads TIMESTAMP(NANOS) as long: the footer cannot say so
    import pyarrow as pa
    import pyarrow.parquet as pq

    path = str(tmp_path / "nanos.parquet")
    pq.write_table(
        pa.table({"ts": pa.array([1, 2], pa.timestamp("ns")), "v": [1.0, 2.0]}), path
    )
    st = q._table_schema(spark, path)
    assert st == spark.read.parquet(path).schema
    assert st["ts"].dataType.simpleString() == "bigint"
