"""Shared pytest fixtures: one SparkSession + a DuckDB oracle helper."""

from __future__ import annotations

import math
import os
import sys

import duckdb
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bohemia_kenya_data_pipeline_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings".split()
)


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="bkdp-tests", master="local[4]", shuffle_partitions=4)
    yield s


@pytest.fixture(scope="session")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'"
        )
    yield con
    con.close()


def _norm(v):
    """Normalize a cell for cross-engine comparison."""
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return round(v, 9)
    # datetime.date vs Timestamp etc.: compare on ISO string
    if hasattr(v, "isoformat"):
        return v.isoformat()
    if isinstance(v, list):
        return tuple(_norm(x) for x in v)
    return v


def count_jobs(spark, fn) -> int:
    """Spark jobs started by ``fn()``, counted under a fresh job group."""
    import uuid

    sc = spark.sparkContext
    group = f"jobcount-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc._jsc.sc().clearJobGroup()
    return len(sc.statusTracker().getJobIdsForGroup(group))


def assert_frames_match(spark_df, duck_rel, check_types: bool = False):
    """Order-insensitive, column-name-sorted comparison of a Spark
    DataFrame against a DuckDB relation — mirrors the driver's
    row-count + schema + value-hash check."""
    sp_cols = sorted(spark_df.columns)
    du_cols = sorted(duck_rel.columns)
    assert sp_cols == du_cols, f"columns differ: {sp_cols} vs {du_cols}"

    sp_rows = [tuple(_norm(r[c]) for c in sp_cols) for r in spark_df.collect()]
    raw_cols = list(duck_rel.columns)
    idx = [raw_cols.index(c) for c in du_cols]
    du_rows = [tuple(_norm(row[i]) for i in idx) for row in duck_rel.fetchall()]
    assert len(sp_rows) == len(du_rows), f"row counts differ: {len(sp_rows)} vs {len(du_rows)}"
    assert sorted(sp_rows, key=repr) == sorted(du_rows, key=repr)
