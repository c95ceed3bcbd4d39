"""Structured Streaming pipeline: profile ingest -> versioned KV.

Re-expresses the reference's streaming leg (reference:
deploy_datapipeline/data_pipeline/spark_stream/consumer.py) as a
proper Structured Streaming plan:

  S1   Kafka source               consumer.py:37-42  (identical API)
  P1   CAST(value AS STRING)      consumer.py:45
  P2   from_json + flatten        consumer.py:46-47 (schema :24-28)
  P7   null/empty history guard   consumer.py:65
  ST4  versioned-key upsert       consumer.py:64-67 (+ real dedup:
       dropDuplicatesWithinWatermark — the reference re-writes dups)
  ST5  sliding-window aggregation README.md:504-509 claims it; the
       reference code never implements it — we do, with watermarked
       window() + collect_list
  S7   executor-side KV sink      replaces consumer.py:50-70 driver
       collect() (see sink.py)

``start_fold`` is the one foreachBatch driver every streaming leg of
the package runs on (this ingest, the scoring leg, every store fold).

The same parsed-stream plan runs in batch mode for backfills — the
transformations are mode-agnostic DataFrame ops.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    LongType,
    StringType,
    StructField,
    StructType,
)

# Kafka message schema — reference consumer.py:24-28 (timestamp widened
# to long: unix seconds since 2038 won't fit an int).
PROFILE_SCHEMA = StructType(
    [
        StructField("user_id", StringType()),
        StructField("history_items", ArrayType(StringType())),
        StructField("timestamp", LongType()),
    ]
)


def read_kafka_stream(
    spark: SparkSession,
    brokers: str,
    topic: str = "user_behavior",
    starting_offsets: str = "latest",
) -> DataFrame:
    """S1/ST3: Kafka streaming source (needs the spark-sql-kafka jar on
    the cluster; the test harness substitutes a file/text stream with
    the same `value` column shape)."""
    return (
        spark.readStream.format("kafka")
        .option("kafka.bootstrap.servers", brokers)
        .option("subscribe", topic)
        .option("startingOffsets", starting_offsets)
        .load()
    )


def parse_profile_stream(raw: DataFrame, value_col: str = "value") -> DataFrame:
    """P1+P2+P7: bytes -> typed rows, invalid/empty profiles dropped.

    Emits (user_id, history_items, timestamp, event_time) where
    event_time is the message timestamp as a proper TimestampType for
    watermarking.
    """
    parsed = (
        raw.select(F.col(value_col).cast("string").alias("json"))
        .select(F.from_json("json", PROFILE_SCHEMA).alias("data"))
        .select("data.*")
    )
    return parsed.where(
        F.col("user_id").isNotNull()
        & F.col("timestamp").isNotNull()
        & F.col("history_items").isNotNull()
        & (F.size("history_items") > 0)
    ).withColumn("event_time", F.timestamp_seconds("timestamp"))


def versioned_profile_records(parsed: DataFrame) -> DataFrame:
    """ST4: (key, value) rows with the reference's exact key format
    ``user_profile:{user_id}:{timestamp}`` (consumer.py:66) and a JSON
    array value (consumer.py:67)."""
    return parsed.select(
        F.concat_ws(
            ":", F.lit("user_profile"), F.col("user_id"), F.col("timestamp").cast("string")
        ).alias("key"),
        F.to_json(F.col("history_items")).alias("value"),
    )


def start_fold(
    stream: DataFrame,
    fold,
    checkpoint_dir: str,
    compact=None,
    compact_every: int | None = None,
):
    """Run ``fold(batch_df, batch_id)`` over every micro-batch of
    ``stream`` through ``foreachBatch`` (trigger availableNow: drain
    what the source holds, then stop). Returns the started query.

    Every streaming leg of this package is this one fold; its
    contract, stated once:

    * the store outlives the query — the fold keeps its state in
      storage keyed by ``batch_id`` (the corpus-wide index other jobs
      read), not in the query's state store;
    * the checkpoint tracks only source offsets;
    * a redelivered ``batch_id`` must overwrite exactly its own
      attempt (dynamic partition overwrite of ``batch_id=<id>``, or a
      versioned ``v=<id>`` write), so at-least-once delivery stores
      each batch once;
    * compaction never folds the newest (in-flight) delta. With
      ``compact_every=N``, ``compact(spark)`` runs after the fold on
      every ``batch_id > 0`` divisible by N. The compactors'
      default upper bound excludes the newest delta — this very
      batch, whose checkpoint has not committed — so it is safe while
      live, and a redelivery re-runs a no-op compact and rewrites
      only its own delta.
    """
    if compact_every and compact is None:
        raise ValueError("compact_every requires compact")

    def process(batch_df: DataFrame, batch_id: int) -> None:
        fold(batch_df, batch_id)
        if compact_every and batch_id > 0 and batch_id % compact_every == 0:
            compact(batch_df.sparkSession)

    return (
        stream.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )


def profile_pipeline(
    raw_stream: DataFrame,
    sink,
    checkpoint_dir: str,
    watermark: str = "10 minutes",
):
    """Full ingest pipeline: parse -> watermark -> dedup -> versioned
    KV writes on the executors. Returns the started StreamingQuery.

    Watermark + dropDuplicatesWithinWatermark bounds the dedup state
    store (the reference has no dedup at all and simply overwrites);
    idempotent versioned keys make retried batches harmless
    (effectively-once, vs the reference's at-least-once).
    """
    from .sink import foreach_batch_writer

    parsed = parse_profile_stream(raw_stream)
    deduped = parsed.withWatermark("event_time", watermark).dropDuplicatesWithinWatermark(
        ["user_id", "timestamp"]
    )
    return start_fold(
        versioned_profile_records(deduped), foreach_batch_writer(sink), checkpoint_dir
    )


# Click message schema for the stream-stream enrichment leg (the
# reference's eval_online joins clicks to profiles in pandas after a
# driver collect; here both sides stay distributed streams).
CLICK_SCHEMA = StructType(
    [
        StructField("user_id", StringType()),
        StructField("item_id", StringType()),
        StructField("timestamp", LongType()),
    ]
)


def parse_click_stream(raw: DataFrame, value_col: str = "value") -> DataFrame:
    """Click leg of the parse stage: (user_id, item_id, click_time)."""
    parsed = (
        raw.select(F.col(value_col).cast("string").alias("json"))
        .select(F.from_json("json", CLICK_SCHEMA).alias("data"))
        .select("data.*")
    )
    return parsed.where(
        F.col("user_id").isNotNull() & F.col("timestamp").isNotNull()
    ).withColumn("click_time", F.timestamp_seconds("timestamp"))


def clicks_with_profiles(
    profiles: DataFrame,
    clicks: DataFrame,
    max_lag: str = "5 minutes",
    watermark: str = "10 minutes",
) -> DataFrame:
    """Stream-stream interval join: each click pairs with every profile
    version of the same user published in the preceding ``max_lag``.

    Both sides are watermarked, and the join condition is an equi key
    plus a bounded time range — exactly the shape Structured Streaming
    requires to size its join state finitely (profiles older than
    watermark + max_lag are evicted). Works unchanged in batch mode.
    """
    p = profiles.select(
        F.col("user_id").alias("p_user_id"),
        F.col("history_items"),
        F.col("event_time").alias("profile_time"),
    )
    c = clicks
    if profiles.isStreaming:
        p = p.withWatermark("profile_time", watermark)
        c = c.withWatermark("click_time", watermark)
    cond = F.expr(
        "user_id = p_user_id"
        " AND click_time >= profile_time"
        f" AND click_time <= profile_time + interval {max_lag}"
    )
    return c.join(p, cond, "inner").select(
        "user_id", "item_id", "click_time", "profile_time", "history_items"
    )


def session_window_activity(
    parsed: DataFrame,
    gap: str = "5 minutes",
    watermark: str = "10 minutes",
) -> DataFrame:
    """Per-user session windows: events closer than ``gap`` merge into
    one session (the streaming twin of the batch q20 sessionization —
    same gap semantics, but windows merge incrementally in the state
    store instead of via a lag() scan)."""
    src = parsed
    if parsed.isStreaming:
        src = parsed.withWatermark("event_time", watermark)
    return (
        src.groupBy(F.session_window("event_time", gap), "user_id")
        .agg(
            F.count(F.lit(1)).alias("n_profiles"),
            F.array_distinct(F.flatten(F.collect_list("history_items"))).alias(
                "session_items"
            ),
        )
        .select(
            F.col("session_window.start").alias("session_start"),
            F.col("session_window.end").alias("session_end"),
            "user_id",
            "n_profiles",
            "session_items",
        )
    )


def sliding_window_activity(
    parsed: DataFrame,
    window_duration: str = "10 minutes",
    slide: str = "1 minute",
    watermark: str = "10 minutes",
) -> DataFrame:
    """ST5: the sliding-window per-user aggregation the reference's
    README promises but never implements (README.md:504-509 vs
    consumer.py:50-70 which writes rows through unchanged).

    Works in both streaming (append mode after the watermark closes a
    window) and batch (immediate) execution.
    """
    src = parsed
    if parsed.isStreaming:
        src = parsed.withWatermark("event_time", watermark)
    return (
        src.groupBy(F.window("event_time", window_duration, slide), "user_id")
        .agg(
            F.count(F.lit(1)).alias("n_profiles"),
            F.array_distinct(F.flatten(F.collect_list("history_items"))).alias(
                "window_items"
            ),
        )
        .select(
            F.col("window.start").alias("window_start"),
            F.col("window.end").alias("window_end"),
            "user_id",
            "n_profiles",
            "window_items",
        )
    )
