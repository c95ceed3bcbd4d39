"""``sources.testdata.load_table`` remembers each file's inferred
schema: a second load runs no Spark job, a rewritten file shows its
new columns, every load is a fresh relation (self-joins work), and the
events timestamps read the same through a remembered schema."""

from __future__ import annotations

import shutil

import pyarrow as pa
import pyarrow.parquet as pq

from streaming_recommendation_spark.sources.testdata import load_table

from .conftest import SF_DIR, count_jobs


def test_second_load_runs_no_job(spark, tmp_path):
    shutil.copy(f"{SF_DIR}/orders.parquet", tmp_path / "orders.parquet")
    sc = spark.sparkContext
    loads = []
    load = lambda: loads.append(load_table(spark, "orders", str(tmp_path)))
    assert count_jobs(sc, "load-first", load) >= 1  # the footer read
    assert count_jobs(sc, "load-second", load) == 0
    first, second = loads
    assert second.schema == first.schema
    assert sorted(second.collect()) == sorted(first.collect())


def test_rewritten_file_shows_new_column(spark, tmp_path):
    path = tmp_path / "region.parquet"
    pq.write_table(pa.table({"r_regionkey": [0, 1]}), path)
    assert load_table(spark, "region", str(tmp_path)).columns == ["r_regionkey"]
    pq.write_table(
        pa.table({"r_regionkey": [0, 1], "r_name": ["AFRICA", "ASIA"]}), path
    )
    df = load_table(spark, "region", str(tmp_path))
    assert df.columns == ["r_regionkey", "r_name"]
    assert sorted(tuple(r) for r in df.collect()) == [(0, "AFRICA"), (1, "ASIA")]


def test_two_loads_self_join(spark):
    a = load_table(spark, "orders", SF_DIR)
    b = load_table(spark, "orders", SF_DIR)
    n = a.count()
    assert n > 0
    assert a.join(b, a["o_orderkey"] == b["o_orderkey"]).count() == n


def test_events_ts_same_through_remembered_schema(spark, tmp_path):
    # events.ts as parquet TIMESTAMP(NANOS): read as long nanos and
    # truncated to microseconds at the scan edge, on every load
    ns = [1_700_000_000_123_456_789, 1_700_000_001_000_000_999]
    pq.write_table(
        pa.table({"user_id": [1, 2], "ts": pa.array(ns, pa.timestamp("ns"))}),
        tmp_path / "events.parquet",
        version="2.6",
    )
    first = load_table(spark, "events", str(tmp_path))
    loads = []
    load = lambda: loads.append(load_table(spark, "events", str(tmp_path)))
    assert count_jobs(spark.sparkContext, "events-again", load) == 0
    (again,) = loads
    assert dict(again.dtypes)["ts"] == "timestamp"
    rows = lambda df: sorted(tuple(r) for r in df.collect())
    assert rows(again) == rows(first)
    assert [r[1].microsecond for r in rows(first)] == [123456, 0]


def test_inference_setting_change_reinfers(spark, tmp_path):
    pq.write_table(
        pa.table({"r_regionkey": [0], "r_name": pa.array([b"AFRICA"], pa.binary())}),
        tmp_path / "region.parquet",
    )
    key = "spark.sql.parquet.binaryAsString"
    old = spark.conf.get(key)
    try:
        spark.conf.set(key, "false")
        assert dict(load_table(spark, "region", str(tmp_path)).dtypes)["r_name"] == "binary"
        spark.conf.set(key, "true")
        df = load_table(spark, "region", str(tmp_path))
        assert dict(df.dtypes)["r_name"] == "string"
        assert df.collect()[0].r_name == "AFRICA"
    finally:
        spark.conf.set(key, old)
