"""In-stream cascade scoring (ST7 replacement) and the
applyInPandasWithState running-history operator."""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

from streaming_recommendation_spark.cascade import CascadeConfig
from streaming_recommendation_spark.sources.testdata import load_table
from streaming_recommendation_spark.streaming import JsonlDirSink
from streaming_recommendation_spark.streaming.scoring import (
    recommendation_pipeline,
    score_batch,
)

from .cascade_reference import reference_recommend
from .conftest import SF_DIR, count_jobs


@pytest.fixture(scope="module")
def items(spark):
    emb = load_table(spark, "embeddings", SF_DIR)
    return emb.select(
        F.col("vec_id").alias("item_id"), F.col("embedding").alias("item_vec")
    ).cache()


def profile_messages():
    return [
        {"user_id": "100", "history_items": ["1", "2", "3"], "timestamp": 1_700_000_100},
        {"user_id": "200", "history_items": ["10", "20"], "timestamp": 1_700_000_200},
    ]


def test_score_batch_contract(spark, items):
    profiles = spark.createDataFrame(profile_messages())
    from streaming_recommendation_spark.cascade import CascadeConfig

    out = score_batch(profiles, items, CascadeConfig(k_final=5))
    recs = {r.key: json.loads(r.value) for r in out.collect()}
    assert set(recs) == {
        "recommendation_result:100:1700000100",
        "recommendation_result:200:1700000200",
    }
    for key, item_list in recs.items():
        assert len(item_list) == 5
    # history exclusion: user 100's seen items {1,2,3} never recommended
    assert not {"1", "2", "3"} & set(recs["recommendation_result:100:1700000100"])


def test_recommendation_pipeline_streaming(spark, items, tmp_path):
    msgs = tmp_path / "msgs"
    msgs.mkdir()
    (msgs / "m.txt").write_text(
        "\n".join(json.dumps(m) for m in profile_messages()) + "\n"
    )
    sink = JsonlDirSink(str(tmp_path / "kv"))
    raw = spark.readStream.text(str(msgs))
    q = recommendation_pipeline(raw, items, sink, str(tmp_path / "ckpt"))
    q.awaitTermination(120)
    kv = sink.read_all()
    assert "recommendation_result:100:1700000100" in kv
    assert len(json.loads(kv["recommendation_result:100:1700000100"])) == 10


def test_running_history_state(spark, tmp_path):
    """Incremental one-item-per-message events accumulate into bounded
    per-user profiles across micro-batches (maxFilesPerTrigger=1
    forces two batches)."""
    from streaming_recommendation_spark.streaming.stateful import (
        running_history_state,
    )

    d = tmp_path / "ev"
    d.mkdir()
    batch1 = [{"user_id": "u1", "item": f"i{k}", "timestamp": 1000 + k} for k in range(3)]
    batch2 = [
        {"user_id": "u1", "item": f"j{k}", "timestamp": 2000 + k} for k in range(4)
    ] + [{"user_id": "u2", "item": "x", "timestamp": 2500}]
    (d / "a.txt").write_text("\n".join(json.dumps(m) for m in batch1) + "\n")
    (d / "b.txt").write_text("\n".join(json.dumps(m) for m in batch2) + "\n")
    # the file source orders batches by modification time — pin it
    import os, time

    now = time.time()
    os.utime(d / "a.txt", (now - 100, now - 100))
    os.utime(d / "b.txt", (now, now))

    schema = "user_id string, item string, timestamp long"
    raw = (
        spark.readStream.option("maxFilesPerTrigger", 1)
        .text(str(d))
        .select(F.from_json("value", schema).alias("m"))
        .select("m.*")
    )
    # evict_idle=False: bounded run must drain and self-terminate
    # (with eviction on, timeout-evaluation batches run forever)
    out = running_history_state(raw, max_items=5, evict_idle=False)
    # state-store maintenance cost scales with state partitions; 2 is
    # plenty for 2 users and cuts this test from ~2min to seconds
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "2")
    try:
        q = (
            out.writeStream.format("memory")
            .queryName("hist_state")
            .outputMode("update")
            .option("checkpointLocation", str(tmp_path / "ckpt_state"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    rows = spark.sql("SELECT * FROM hist_state").collect()
    # u1 appears once per micro-batch that touched it; the LAST emission
    # carries the accumulated, truncated history
    u1 = sorted((r for r in rows if r.user_id == "u1"), key=lambda r: r.timestamp)
    assert u1, rows
    final = u1[-1]
    if len(u1) > 1:  # state carried across batches
        assert u1[0].history_items == ["i0", "i1", "i2"]
    assert final.timestamp == 2003
    # last-5 of [i0 i1 i2 j0 j1 j2 j3]
    assert final.history_items == ["i2", "j0", "j1", "j2", "j3"]
    u2 = [r for r in rows if r.user_id == "u2"]
    assert u2 and u2[0].history_items == ["x"]


def test_ingest_throughput_meets_baseline(spark, tmp_path):
    """BASELINE.md target: >= 50 profiles/sec sustained through parse
    -> dedup -> executor-side KV writes, on one node. 10k messages
    through the full pipeline must clear it with a wide margin."""
    import time

    from streaming_recommendation_spark.streaming import (
        JsonlDirSink,
        profile_pipeline,
    )

    d = tmp_path / "bulk"
    d.mkdir()
    n = 10_000
    lines = [
        json.dumps(
            {
                "user_id": f"u{i % 500}",
                "history_items": [f"i{(i + k) % 1000}" for k in range(10)],
                "timestamp": 1_700_000_000 + i,
            }
        )
        for i in range(n)
    ]
    (d / "bulk.txt").write_text("\n".join(lines) + "\n")

    sink = JsonlDirSink(str(tmp_path / "kv"))
    t0 = time.perf_counter()
    q = profile_pipeline(
        spark.readStream.text(str(d)), sink, checkpoint_dir=str(tmp_path / "ckpt")
    )
    q.awaitTermination(300)
    elapsed = time.perf_counter() - t0
    written = len(sink.read_all())
    assert written == n  # all (user, ts) pairs unique by construction
    rate = written / elapsed
    assert rate >= 50, f"{rate:.0f} profiles/sec < 50 target"


def test_score_batch_keeps_profile_versions_separate(spark, items):
    """Two versions of the same user in one micro-batch must each be
    scored against exactly their own history (older versions
    previously got blended histories and the newer history's
    exclusions)."""
    profiles = spark.createDataFrame(
        [
            {"user_id": "300", "history_items": ["1", "2"], "timestamp": 1_700_000_100},
            {"user_id": "300", "history_items": ["50", "51", "52"], "timestamp": 1_700_000_200},
        ]
    )
    from streaming_recommendation_spark.cascade import CascadeConfig

    out = score_batch(profiles, items, CascadeConfig(k_final=5))
    recs = {r.key: json.loads(r.value) for r in out.collect()}
    assert set(recs) == {
        "recommendation_result:300:1700000100",
        "recommendation_result:300:1700000200",
    }
    v1 = recs["recommendation_result:300:1700000100"]
    v2 = recs["recommendation_result:300:1700000200"]
    # each version excludes ONLY its own history
    assert not {"1", "2"} & set(v1)
    assert not {"50", "51", "52"} & set(v2)
    # different histories -> different user vectors -> different lists
    assert v1 != v2


def _jvm_reference(profiles, items, cfg):
    """score_batch's result through the DataFrame plan: history keys
    matched to items as strings, user vector = history mean-pool
    (users without user_vec), the crossJoin + window reference."""
    history = profiles.select(
        F.concat_ws(":", F.col("user_id"), F.col("timestamp").cast("string")).alias(
            "user_id"
        ),
        F.explode("history_items").alias("item_key"),
    ).join(
        F.broadcast(
            items.select(F.col("item_id").cast("string").alias("item_key"), "item_id")
        ),
        "item_key",
    ).select("user_id", "item_id")
    recs = reference_recommend(
        history.select("user_id").distinct(), items, history, cfg
    ).collect()
    out = {}
    for r in sorted(recs, key=lambda r: (r.user_id, r["rank"])):
        out.setdefault(f"recommendation_result:{r.user_id}", []).append(str(r.item_id))
    return out


def test_score_batch_matches_jvm_reference(spark, items):
    """score_batch (fused cascade, user vector = history mean) writes
    exactly what the JVM-path reference computes: two versions of one
    user, unknown and non-canonical item ids ("999999", "abc", "07")
    next to a duplicate, and an all-unknown profile that gets no key."""
    from streaming_recommendation_spark.cascade import CascadeConfig

    profiles = spark.createDataFrame(
        [
            {"user_id": "300", "history_items": ["1", "2"], "timestamp": 1_700_000_100},
            {"user_id": "300", "history_items": ["50", "51", "52"], "timestamp": 1_700_000_200},
            {
                "user_id": "400",
                "history_items": ["5", "999999", "abc", "07", "6", "5"],
                "timestamp": 1_700_000_300,
            },
            {"user_id": "500", "history_items": ["abc", "999999"], "timestamp": 1_700_000_400},
        ]
    )
    for cfg in (CascadeConfig(), CascadeConfig(k_recall=30, k_rank=6, k_rerank=9, k_final=4)):
        got = {r.key: json.loads(r.value) for r in score_batch(profiles, items, cfg).collect()}
        assert got == _jvm_reference(profiles, items, cfg)
        assert set(got) == {
            "recommendation_result:300:1700000100",
            "recommendation_result:300:1700000200",
            "recommendation_result:400:1700000300",
        }
        assert not {"5", "6", "7"} & set(got["recommendation_result:400:1700000300"])


def _item_frame(spark, shift: float):
    """A new cached item frame whose vectors are the embeddings shifted
    by `shift` (a distinct shift is a distinct plan: its own cache
    entry)."""
    emb = load_table(spark, "embeddings", SF_DIR)
    return emb.select(
        F.col("vec_id").alias("item_id"),
        F.transform("embedding", lambda x: x + shift).alias("item_vec"),
    ).cache()


def test_score_batch_job_count(spark, tmp_path):
    """One micro-batch of the streaming leg (score_batch +
    foreach_batch_writer) over a cached item frame: the first batch
    runs at most two Spark jobs (the one-time item collect and the
    write), every later batch exactly one — the write, whose stage
    scores each partition in place (the DataFrame plan took ~20 jobs,
    a cogroup plus a per-version gather 4)."""
    from streaming_recommendation_spark.streaming.pipeline import parse_profile_stream
    from streaming_recommendation_spark.streaming.sink import foreach_batch_writer

    msgs = tmp_path / "batch.json"
    msgs.write_text("\n".join(json.dumps(m) for m in profile_messages()) + "\n")
    batch = parse_profile_stream(spark.read.text(str(msgs)))
    items = _item_frame(spark, 0.25)
    items.count()  # the cached item side is set-up, not part of a batch
    sink = JsonlDirSink(str(tmp_path / "kv"))
    write = foreach_batch_writer(sink)
    sc = spark.sparkContext
    try:
        first = count_jobs(sc, "score_batch_first", lambda: write(score_batch(batch, items), 0))
        second = count_jobs(sc, "score_batch_second", lambda: write(score_batch(batch, items), 1))
    finally:
        items.unpersist()
    assert 0 < first <= 2, first
    assert second == 1, second
    assert set(sink.read_all()) == {
        "recommendation_result:100:1700000100",
        "recommendation_result:200:1700000200",
    }


def _contract_profiles(spark):
    return spark.createDataFrame(
        [
            {"user_id": "300", "history_items": ["1", "2"], "timestamp": 1_700_000_100},
            {"user_id": "400", "history_items": ["5", "abc", "6", "40"], "timestamp": 1_700_000_300},
        ]
    )


def test_score_batch_scores_each_cached_frame_against_its_own_items(spark, items):
    """A second, different cached item frame is scored against its own
    vectors: no prepared side of another frame is reused for it."""
    profiles = _contract_profiles(spark)
    shifted = _item_frame(spark, 0.5)
    try:
        base = _records(score_batch(profiles, items))
        got = {k: json.loads(v) for k, v in _records(score_batch(profiles, shifted))}
        assert got == _jvm_reference(profiles, shifted, CascadeConfig())
        assert got != {k: json.loads(v) for k, v in base}
    finally:
        shifted.unpersist()


def test_score_batch_rereads_items_unless_cached(spark, tmp_path):
    """score_batch collects the item side at call time (one job) for a
    cached frame's first call, after any uncache — unpersist() through
    the frame or through another frame of the same plan, which leaves
    the first frame's is_cached flag set — after a write re-caches the
    frame's source, and on every call over an uncached frame; a cached
    frame's later calls run none. Every result equals the JVM
    reference, so a re-cache is scored against the new vectors."""
    from streaming_recommendation_spark.streaming import scoring

    # cached: a createDataFrame frame re-runs one Python task per input
    # partition whenever it is read
    profiles = _contract_profiles(spark).coalesce(1).cache()
    sc = spark.sparkContext
    cfg = CascadeConfig(k_final=5)
    refs = {}  # item data -> JVM reference records

    def twice(frame, group, data):
        """Job counts of two calls over `frame`, whose item data is
        `data`, and their records."""
        counts, results = [], []
        for i in range(2):
            out = []
            counts.append(
                count_jobs(sc, f"{group}_{i}", lambda: out.append(score_batch(profiles, frame, cfg)))
            )
            results.append({k: json.loads(v) for k, v in _records(out[0])})
        if data not in refs:
            refs[data] = _jvm_reference(profiles, frame, cfg)
        assert results[0] == results[1] == refs[data]
        return counts, results[0]

    cached = _item_frame(spark, 0.0)
    assert twice(cached, "cached", 0.0)[0] == [1, 0]
    assert cached in scoring._item_sides
    cached.unpersist()
    assert twice(cached, "unpersisted", 0.0)[0] == [1, 1]
    assert cached not in scoring._item_sides

    cached.cache()
    assert twice(cached, "recached", 0.0)[0] == [1, 0]
    twin = _item_frame(spark, 0.0)  # same plan, same cache entry
    twin.unpersist()
    assert cached.is_cached
    assert twice(cached, "twin_unpersisted", 0.0)[0] == [1, 1]
    assert cached not in scoring._item_sides

    path = str(tmp_path / "items.parquet")
    _item_frame(spark, 0.25).unpersist().write.parquet(path)
    on_disk = spark.read.parquet(path).cache()
    try:
        counts, before = twice(on_disk, "on_disk", 0.25)
        assert counts == [1, 0]
        _item_frame(spark, 0.5).unpersist().write.mode("overwrite").parquet(path)
        counts, after = twice(on_disk, "rewritten", 0.5)
        assert counts == [1, 0]
        assert after != before
    finally:
        on_disk.unpersist()

    plain = _item_frame(spark, 1.0).unpersist()  # a plan no cache entry holds
    assert twice(plain, "uncached", 1.0)[0] == [1, 1]
    assert plain not in scoring._item_sides
    profiles.unpersist()


def test_score_batch_memo_does_not_keep_items_alive(spark):
    """The prepared item side is held weakly by its frame: once the
    frame is gone, so is its entry."""
    import gc
    import weakref

    from streaming_recommendation_spark.streaming import scoring

    frame = _item_frame(spark, 0.75)
    score_batch(_contract_profiles(spark), frame).collect()
    assert frame in scoring._item_sides
    entries, ref = len(scoring._item_sides), weakref.ref(frame)
    frame.unpersist()  # the entry stays until the next call or the frame's death
    del frame
    gc.collect()
    assert ref() is None
    assert len(scoring._item_sides) < entries


def test_score_batch_redelivery_is_idempotent(spark, items, tmp_path):
    """A micro-batch delivered twice with the same batch_id (a replay
    after a failure before the commit) leaves the same keys with
    byte-identical values."""
    from streaming_recommendation_spark.streaming.sink import foreach_batch_writer

    batch = _contract_profiles(spark)
    sink = JsonlDirSink(str(tmp_path / "kv"))
    write = foreach_batch_writer(sink)
    write(score_batch(batch, items), 7)
    first = sink.read_all()
    write(score_batch(batch, items), 7)
    assert first and sink.read_all() == first


def test_score_batch_plan_has_no_exchange(spark, items):
    """Every profile row carries its whole history, so score_batch
    scores each partition where it is: the executed plan holds the
    per-partition Arrow pass and no Exchange (no history shuffle, no
    per-shard item replication, no per-version gather)."""
    records = score_batch(spark.createDataFrame(profile_messages()), items)
    assert len(records.collect()) == 2
    plan = records._jdf.queryExecution().executedPlan().toString()
    assert "MapInArrow" in plan, plan
    assert "Exchange" not in plan, plan


def _records(df):
    return sorted((r.key, r.value) for r in df.collect())


def test_score_batch_independent_of_partitioning(spark, items):
    """The same profiles written as one partition or spread over three
    (repartition(3)) give identical records: each version is scored
    from its own row alone."""
    profiles = spark.createDataFrame(
        [
            {"user_id": str(u), "history_items": [str(u + d) for d in (0, 7, 19)], "timestamp": t}
            for u in range(1, 13)
            for t in (1_700_000_000 + u, 1_700_000_500 + u)
        ]
    )
    single = _records(score_batch(profiles.coalesce(1), items))
    spread = profiles.repartition(3)
    assert min(spread.rdd.glom().map(len).collect()) > 0
    assert _records(score_batch(spread, items)) == single
    assert len(single) == 24


def test_score_batch_merges_duplicate_versions_in_a_partition(spark, items):
    """Two rows with one (user_id, timestamp) and different histories
    in one partition are one version: histories concatenated in row
    order, as the JVM reference's history join merges them — even when
    Arrow hands the partition over one row per batch."""
    from streaming_recommendation_spark.cascade import CascadeConfig

    profiles = spark.createDataFrame(
        [
            {"user_id": "600", "history_items": ["1", "2", "abc"], "timestamp": 1_700_000_600},
            {"user_id": "600", "history_items": ["40", "41"], "timestamp": 1_700_000_600},
            {"user_id": "700", "history_items": ["9"], "timestamp": 1_700_000_700},
        ]
    ).coalesce(1)
    conf = "spark.sql.execution.arrow.maxRecordsPerBatch"
    prev = spark.conf.get(conf)
    spark.conf.set(conf, "1")
    try:
        for cfg in (CascadeConfig(), CascadeConfig(k_recall=30, k_rank=6, k_rerank=9, k_final=4)):
            got = _records(score_batch(profiles, items, cfg))
            assert [k for k, _ in got] == [
                "recommendation_result:600:1700000600",
                "recommendation_result:700:1700000700",
            ]
            assert {k: json.loads(v) for k, v in got} == _jvm_reference(profiles, items, cfg)
            assert not {"1", "2", "40", "41"} & set(json.loads(got[0][1]))
    finally:
        spark.conf.set(conf, prev)


def test_ewma_state_matches_batch_across_microbatches(spark, tmp_path):
    """Streaming EWMA with keyed state must be bit-equal to the batch
    operator regardless of how events split into micro-batches
    (maxFilesPerTrigger=1 forces two batches; state carries the
    recurrence boundary)."""
    import json as _json

    from pyspark.sql import Row

    from streaming_recommendation_spark.operators.grouped_pandas import (
        ewma_by_key,
    )
    from streaming_recommendation_spark.streaming.stateful import ewma_state

    rows = [
        dict(user_id=u, event_id=u * 100 + i, ts=i,
             value=float((u * 13 + i * 7) % 29) + 0.5)
        for u in (1, 2)
        for i in range(6)
    ]
    d = tmp_path / "ev"
    d.mkdir()
    # split mid-user so the carry actually crosses a batch boundary
    (d / "b1.json").write_text(
        "\n".join(_json.dumps(r) for r in rows if r["ts"] < 3) + "\n"
    )
    (d / "b2.json").write_text(
        "\n".join(_json.dumps(r) for r in rows if r["ts"] >= 3) + "\n"
    )
    stream = (
        spark.readStream.schema(
            "user_id long, event_id long, ts long, value double"
        )
        .option("maxFilesPerTrigger", "1")
        .json(str(d))
    )
    sink_dir = str(tmp_path / "out")
    q = (
        ewma_state(stream)
        .writeStream.format("parquet")
        .option("path", sink_dir)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120), "stream did not drain in 120s"
    got = {
        r.event_id: r.ewma for r in spark.read.parquet(sink_dir).collect()
    }
    batch = {
        r.event_id: r.ewma
        for r in ewma_by_key(spark.createDataFrame(
            [Row(**r) for r in rows]
        )).collect()
    }
    assert got == batch  # bit-equal, every event emitted exactly once
