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
import stat

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

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


# session settings that change the schema Spark infers from a parquet
# footer
_INFERENCE_CONFS = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
)
# parquet file path -> (its stat stamp and the _INFERENCE_CONFS values
# it was read under, the StructType Spark inferred); see load_table
_SCHEMAS: dict[str, tuple[tuple, StructType]] = {}


def _read_parquet(spark: SparkSession, path: str) -> DataFrame:
    try:
        st = os.stat(path)
    except OSError:
        return spark.read.parquet(path)
    if not stat.S_ISREG(st.st_mode):
        return spark.read.parquet(path)
    stamp = (st.st_mtime_ns, st.st_size, st.st_ino) + tuple(
        spark.conf.get(k) for k in _INFERENCE_CONFS
    )
    hit = _SCHEMAS.get(path)
    if hit is not None and hit[0] == stamp:
        return spark.read.schema(hit[1]).parquet(path)
    df = spark.read.parquet(path)
    _SCHEMAS[path] = (stamp, df.schema)
    return df


def load_table(spark: SparkSession, name: str, sf_dir: str = DEFAULT_SF_DIR) -> DataFrame:
    """One testdata table as a fresh DataFrame (new attribute ids on
    every call, so two loads of a table self-join).

    Inferring a parquet file's schema runs a one-task Spark job that
    reads the footer. The inferred schema is remembered per file and
    later loads pass it to the reader, which then runs no job. A load
    infers again when the file's (st_mtime_ns, st_size, st_ino) or a
    session setting that changes inference (_INFERENCE_CONFS, e.g.
    spark.sql.legacy.parquet.nanosAsLong) differs from the remembered
    one, so a rewritten file shows its new columns. A path that
    os.stat cannot see, or that is not a regular file (a directory of
    parts), is inferred on every load."""
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; known: {TABLES}")
    if name == "events":
        # events.parquet stores ts as INT64 TIMESTAMP(NANOS), which Spark
        # rejects outright unless nanosAsLong is on. The conf is a
        # runtime-settable SQLConf, so set it here rather than relying on
        # the session builder — callers (e.g. the driver harness) may hand
        # us a vanilla session.
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = _read_parquet(spark, os.path.join(sf_dir, f"{name}.parquet"))
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
