"""Readers for the driver-generated synthetic tables (TESTDATA.md).

Tables: region nation customer supplier part orders lineitem events
documents embeddings — one parquet each under /root/testdata/sf*/.

Scans stay declarative (``spark.read.parquet``) so Catalyst performs
column pruning and predicate pushdown into the parquet reader — the
equivalent of the reference's hand-rolled chunked-CSV-with-inline-
filter scan (reference: model_training/din/utils.py:147-158), which
Spark gives us for free.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def load_table(spark: SparkSession, name: str, sf_dir: str = DEFAULT_SF_DIR) -> DataFrame:
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; known: {TABLES}")
    if name == "events":
        # events.parquet stores ts as INT64 TIMESTAMP(NANOS), which Spark
        # rejects outright unless nanosAsLong is on. The conf is a
        # runtime-settable SQLConf, so set it here rather than relying on
        # the session builder — callers (e.g. the driver harness) may hand
        # us a vanilla session.
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
    if name == "events":
        # events.ts is parquet TIMESTAMP(NANOS); with
        # spark.sql.legacy.parquet.nanosAsLong it scans as long nanos.
        # Truncate to microseconds (DuckDB does the same ns->us
        # truncation when reading, so the oracle sees identical values).
        from pyspark.sql import functions as F
        from pyspark.sql.types import LongType

        if isinstance(df.schema["ts"].dataType, LongType):
            # integer DIV, not float `/`: epoch-nanos (~1.7e18) exceeds
            # double's 53-bit mantissa and would round the microseconds
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts DIV 1000")))
    return df


def register_views(spark: SparkSession, sf_dir: str = DEFAULT_SF_DIR) -> None:
    """Register every testdata table as a temp view (for spark.sql)."""
    for name in TABLES:
        load_table(spark, name, sf_dir).createOrReplaceTempView(name)
