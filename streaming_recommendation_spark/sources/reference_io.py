"""Reference-format readers/writers (SURVEY §2.1 S2-S10).

The reference's tables travel as JSON-lines and headered CSVs with
hand-maintained schemas (reference: data_processing/README.md:5-68).
These functions pin those exact schemas so files written by this
engine are drop-in replacements, while the physical format of choice
for anything large is Parquet (columnar, splittable, statistics for
row-group skipping — the CSV writers exist for fixture parity only).

  S2  read_reviews_json / read_item_meta_json
      (generate_training_data.py:87-99, :48-66 — line-at-a-time
      json.loads becomes spark.read.json: schema-pinned, distributed,
      malformed rows quarantined to _corrupt_record instead of
      crashing the scan)
  S3  read_behavior_csv / read_train_data_csv / read_item_embeddings_csv
      (api_service/behavior_lookup.py:19-25; din/utils.py:120)
  S5  read_id_list (generate_training_data.py:17-22)
  S6  write_csv (generate_training_data.py:128-191 buffered writer —
      buffering/batching is the writer's job in Spark)
  S8  to_kafka_records (kafka_stream/producer.py:57-79 JSON payload)
  S10 read_dense_embeddings_csv (lightgcn/utils.py:256-274 wide
      emb_0..emb_{d-1} columns -> one array<float> column)
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

REVIEWS_SCHEMA = StructType(
    [
        StructField("reviewerID", StringType()),
        StructField("asin", StringType()),
        StructField("overall", DoubleType()),
        StructField("unixReviewTime", LongType()),
    ]
)

ITEM_META_SCHEMA = StructType(
    [
        StructField("asin", StringType()),
        StructField("categories", ArrayType(ArrayType(StringType()))),
        StructField("brand", StringType()),
        StructField("price", StringType()),
    ]
)

BEHAVIOR_SCHEMA = StructType(
    [
        StructField("user_id", StringType()),
        StructField("item_id", StringType()),
        StructField("timestamp", LongType()),
    ]
)

TRAIN_DATA_SCHEMA = StructType(
    [
        StructField("user_id", StringType()),
        StructField("history_items", StringType()),
        StructField("candidate_item", StringType()),
        StructField("label", IntegerType()),
    ]
)

ITEM_EMBEDDINGS_SCHEMA = StructType(
    [
        StructField("item_id", StringType()),
        StructField("category_hash", DoubleType()),
        StructField("brand_hash", DoubleType()),
        StructField("price_scaled", DoubleType()),
    ]
)


def read_reviews_json(spark: SparkSession, path: str) -> DataFrame:
    """S2: JSON-lines reviews scan; unparseable lines land in
    _corrupt_record (PERMISSIVE), mirroring the reference's
    skip-bad-lines behavior without a Python loop."""
    return spark.read.schema(REVIEWS_SCHEMA).json(path)


def read_item_meta_json(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.schema(ITEM_META_SCHEMA).json(path)


def read_behavior_csv(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.csv(path, header=True, schema=BEHAVIOR_SCHEMA)


def read_train_data_csv(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.csv(path, header=True, schema=TRAIN_DATA_SCHEMA)


def read_item_embeddings_csv(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.csv(path, header=True, schema=ITEM_EMBEDDINGS_SCHEMA)


def read_id_list(spark: SparkSession, path: str) -> DataFrame:
    """S5: one id per line -> (user_id). Small by construction (it
    gates broadcast anti-joins), so downstream callers broadcast it."""
    return spark.read.text(path).select(F.trim("value").alias("user_id")).where(
        F.length("user_id") > 0
    )


def read_dense_embeddings_csv(
    spark: SparkSession, path: str, id_col: str, dim: int
) -> DataFrame:
    """S10: wide emb_0..emb_{dim-1} CSV -> (id, embedding array<float>).
    The array column is what every vector operator consumes; keeping
    vectors as one column (not dim columns) is what makes them cheap
    to shuffle and broadcast."""
    df = spark.read.csv(path, header=True, inferSchema=False)
    emb = F.array(*[F.col(f"emb_{i}").cast("float") for i in range(dim)])
    return df.select(F.col(id_col), emb.alias("embedding"))


def write_csv(df: DataFrame, path: str, single_file: bool = False) -> None:
    """S6: headered CSV sink. single_file=True coalesces to one part
    for byte-level fixture parity (only sane for small outputs)."""
    out = df.coalesce(1) if single_file else df
    out.write.mode("overwrite").option("header", True).csv(path)


def write_orc(df: DataFrame, path: str, partition_by: list[str] | None = None) -> None:
    """Columnar sink #2 (beyond parquet): ORC is built into Spark and
    interchangeable for engines that prefer it (Hive/Trino estates).
    Optional partition columns give the same directory-pruning reads
    as the parquet layout module."""
    w = df.write.mode("overwrite")
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.orc(path)


def read_orc(spark: SparkSession, path: str) -> DataFrame:
    """ORC scan — same pushdown/pruning properties as the parquet
    path (predicate pushdown + column pruning reach the reader)."""
    return spark.read.orc(path)


def to_kafka_records(df: DataFrame) -> DataFrame:
    """S8: serialize rows to the reference's Kafka payload shape —
    (key, value) where value is the JSON object the consumer's
    from_json expects (producer.py:69-73). Feed to
    ``.write.format('kafka')`` (batch, or its streaming twin) when a
    broker is available."""
    return df.select(
        F.col("user_id").cast("string").alias("key"),
        F.to_json(F.struct("user_id", "history_items", "timestamp")).alias("value"),
    )
