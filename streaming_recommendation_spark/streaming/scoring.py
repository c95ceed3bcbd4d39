"""In-stream recommendation scoring (SURVEY §2.8 ST7).

The reference triggers inference by POLLING Redis every second with
``KEYS user_profile:*`` (reference: model_service/main.py:64-83) — a
full keyspace scan per tick, disconnected from ingestion. Here the
scoring stage consumes the SAME micro-batch that wrote the profile:
``foreachBatch`` receives the parsed profiles, runs the cascade
plan against the item embeddings, and writes
``recommendation_result:{user_id}:{timestamp}`` keys (the reference's
result-key format, api_service/main.py:85) through the executor-side
sink. No polling, no second system, and the cascade math is the
identical numpy kernel batch serving uses (cascade.recommend's
cascade_kernel).
"""

from __future__ import annotations

import weakref

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..cascade import CascadeConfig
from ..cascade.recommend import cascade_kernel, item_side
from .pipeline import parse_profile_stream, start_fold
from .sink import foreach_batch_writer

# items frame -> (cache token, item side, item_id Arrow type)
_item_sides: weakref.WeakKeyDictionary = weakref.WeakKeyDictionary()


def _cache_token(items: DataFrame) -> int | None:
    """The RDD id of the loaded cache ``items`` reads, or None when it
    reads none. Asked of the JVM cache manager (no Spark job), so an
    uncache or re-cache by any path — ``unpersist()`` through any frame
    of the same plan, ``catalog.clearCache()``/``uncacheTable``, a
    write to or ``refreshByPath`` over the cached source — changes it."""
    cached = (
        items.sparkSession._jsparkSession.sharedState()
        .cacheManager()
        .lookupCachedData(items._jdf)
    )
    if not cached.isDefined():
        return None
    builder = cached.get().cachedRepresentation().cacheBuilder()
    return builder.cachedColumnBuffers().id() if builder.isCachedColumnBuffersLoaded() else None


def _prepared_items(items: DataFrame):
    """``items``' item side and its item_id Arrow type: remembered per
    frame while the frame reads the same loaded cache, re-read
    otherwise."""
    token = _cache_token(items)
    memo = _item_sides.get(items)
    if token is not None and memo is not None and memo[0] == token:
        return memo[1:]
    table = items.select("item_id", "item_vec").toArrow()
    side = item_side(table.to_pandas())
    item_arrow = table.schema.field("item_id").type
    token = _cache_token(items)  # the read above loaded a cached frame's cache
    if token is None:
        _item_sides.pop(items, None)
    else:
        _item_sides[items] = token, side, item_arrow
    return side, item_arrow


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

    The user vector is the mean of the profile's known history-item
    vectors (the reference's cold-start path, model_service/
    models.py:64-88) — fully deterministic, no model weights needed.
    A history entry is known when it is the string form of an
    item_id; unknown entries drop, and a profile with no known entry
    gets no key. Scores are bit-identical to ``recommend``'s default
    scorers (one ``cascade_kernel``, two feeders).

    Plan shape: one narrow pass, no exchange. Every profile row
    carries its whole history, so each partition of the batch scores
    its own rows (mapInArrow over ``cascade_kernel``) and the writer's
    foreachPartition follows in the same stage. The item side (sorted
    ids, matrix, norms) of a cached ``items`` frame is collected on
    the driver once per loaded cache — the cache already fixes the
    snapshot — and remembered per frame, so every later micro-batch is
    one Spark job: the write. The side ships with the task. An
    uncached frame is re-read (one more job) on every call.

    Refresh contract: the remembered side is used only while the frame
    reads the same loaded cache, as the JVM cache manager reports it.
    So a new frame object, an uncache by any path (``unpersist()``,
    ``catalog.clearCache()``, ``uncacheTable``) and a re-cache (a write
    to or ``refreshByPath`` over the cached source) each make the next
    call re-read the items.

    Duplicate versions: rows with the same (user_id, timestamp) in one
    partition are one version whose history is their histories
    concatenated in row order (as one profile listing them all).
    A partition is scored whole, past Arrow's maxRecordsPerBatch. The
    same version in two partitions — e.g. a batch that reads several
    files carrying the same (user_id, timestamp) — is scored once per
    partition, and each partition writes its own result.
    """
    import pyarrow as pa

    cfg = config or CascadeConfig()
    item_type = items.schema["item_id"].dataType
    side, item_arrow = _prepared_items(items)

    def score_partition(batches):
        import numpy as np
        import pandas as pd
        import pyarrow.compute as pc

        batches = [b for b in batches if b.num_rows]
        if not batches:
            return
        part = pa.Table.from_batches(batches).combine_chunks()
        hist = part.column("history").chunk(0)
        codes, versions = pd.factorize(part.column("version").to_numpy())
        u, item_id, _ = cascade_kernel(
            versions,
            None,
            codes[pc.list_parent_indices(hist).to_numpy()],
            pc.list_flatten(hist).to_numpy(zero_copy_only=False),
            side,
            cfg,
        )
        # u is grouped by version, in rank order within a version
        counts = np.bincount(u, minlength=len(versions))
        has = counts > 0
        offsets = np.concatenate([[0], np.cumsum(counts[has])]).astype(np.int32)
        yield pa.RecordBatch.from_arrays(
            [
                pa.array(versions[has], pa.string()),
                pa.ListArray.from_arrays(offsets, pa.array(item_id, item_arrow)),
            ],
            ["version", "items"],
        )

    version = F.concat_ws(":", F.col("user_id"), F.col("timestamp").cast("string"))
    # the history entries that are the string form of their own item_id
    history = F.transform(
        F.filter(
            "history_items",
            lambda key: key.try_cast(item_type).cast("string") == key,
        ),
        lambda key: key.try_cast(item_type),
    )
    scored = profiles.select(version.alias("version"), history.alias("history")).mapInArrow(
        score_partition, f"version string, items array<{item_type.simpleString()}>"
    )
    return scored.select(
        F.concat_ws(":", F.lit("recommendation_result"), F.col("version")).alias("key"),
        F.to_json(F.transform("items", lambda i: i.cast("string"))).alias("value"),
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
    writer = foreach_batch_writer(sink)

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        writer(score_batch(batch_df, items, config), batch_id)

    return start_fold(parse_profile_stream(raw_stream), handle, checkpoint_dir)
