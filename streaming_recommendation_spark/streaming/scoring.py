"""In-stream recommendation scoring (SURVEY §2.8 ST7).

The reference triggers inference by POLLING Redis every second with
``KEYS user_profile:*`` (reference: model_service/main.py:64-83) — a
full keyspace scan per tick, disconnected from ingestion. Here the
scoring stage consumes the SAME micro-batch that wrote the profile:
``foreachBatch`` receives the parsed profiles, runs the cascade
plan against the item embeddings, and writes
``recommendation_result:{user_id}:{timestamp}`` keys (the reference's
result-key format, api_service/main.py:85) through the executor-side
sink. No polling, no second system, and the cascade plan is the
identical code path batch serving uses (cascade.recommend).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..cascade import CascadeConfig, recommend
from .pipeline import parse_profile_stream
from .sink import foreach_batch_writer


def score_batch(
    profiles: DataFrame,
    items: DataFrame,
    config: CascadeConfig | None = None,
) -> DataFrame:
    """Profiles (user_id, history_items, timestamp) -> versioned
    recommendation records (key, value).

    The cascade is keyed by the (user_id, timestamp) PROFILE VERSION,
    not the bare user: two versions of the same user in one
    micro-batch each get recommendations from exactly their own
    history, written under their own versioned key. The composite key
    doubles as the result-key suffix, so no join-back is needed to
    recover the timestamp.

    ``recommend`` gets the versions WITHOUT a user vector plus their
    history rows in profile order, so the user vector is the mean of
    the profile's known history-item vectors (the reference's
    cold-start path, model_service/models.py:64-88) — fully
    deterministic, no model weights needed. A history entry is known
    when it is the string form of an item_id; unknown entries drop,
    and a profile with no known entry gets no key.

    Plan shape: the default scorers run the fused cascade, so a
    micro-batch is one cogroup (two exchanges: profiles, replicated
    items), one exchange to gather each version's list, and the write
    — about four Spark jobs per batch.
    """
    version = F.concat_ws(":", F.col("user_id"), F.col("timestamp").cast("string"))
    key = F.col("item_key")
    item_id = key.try_cast(items.schema["item_id"].dataType)
    history = (
        profiles.select(version.alias("user_id"), F.explode("history_items").alias("item_key"))
        # the item_id whose string form is this key, if any
        .where(item_id.cast("string") == key)
        .select("user_id", item_id.alias("item_id"))
    )
    users = profiles.select(version.alias("user_id"))
    recs = recommend(users, items, history, config or CascadeConfig())
    per_version = recs.groupBy("user_id").agg(
        F.transform(
            F.sort_array(F.collect_list(F.struct("rank", "item_id"))),
            lambda s: s["item_id"].cast("string"),
        ).alias("items")
    )
    return per_version.select(
        F.concat_ws(
            ":", F.lit("recommendation_result"), F.col("user_id")
        ).alias("key"),
        F.to_json("items").alias("value"),
    )


def recommendation_pipeline(
    raw_stream: DataFrame,
    items: DataFrame,
    sink,
    checkpoint_dir: str,
    config: CascadeConfig | None = None,
):
    """Full streaming leg: parse -> per-micro-batch cascade -> keyed
    sink. Returns the started query."""

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        records = score_batch(batch_df, items, config)
        foreach_batch_writer(sink)(records, batch_id)

    parsed = parse_profile_stream(raw_stream)
    return (
        parsed.writeStream.foreachBatch(handle)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
