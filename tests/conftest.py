from __future__ import annotations

import duckdb
import pytest

from streaming_recommendation_spark.session import get_spark
from streaming_recommendation_spark.sources.testdata import TABLES

SF_DIR = "/root/testdata/sf0.001"  # tiny: unit-test speed
SF_DIR_ORACLE = "/root/testdata/sf0.01"  # what the driver checks


@pytest.fixture(scope="session")
def spark():
    return get_spark(app_name="tests", shuffle_partitions=8)


def duck_con(sf_dir: str) -> duckdb.DuckDBPyConnection:
    """Fresh DuckDB connection with the testdata tables as views —
    mirrors the driver's oracle harness."""
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    return con


def count_jobs(sc, group, run) -> int:
    """Spark jobs `run()` starts, counted through a job group."""
    sc.setJobGroup(group, group)
    try:
        run()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))
