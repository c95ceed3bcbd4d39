"""Streaming IVF vector index (streaming/vectors.py): multi-batch
ingest must answer ANN queries identically to the single-pass
ivf_knn; retries idempotent; missing landmarks fail loudly."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from streaming_recommendation_spark.operators.similarity import ivf_knn
from streaming_recommendation_spark.streaming.pipeline import start_fold
from streaming_recommendation_spark.streaming.vectors import VectorIndexStream


def _corpus(spark, n=300, dim=16):
    return spark.range(n).select(
        F.col("id").alias("vec_id"),
        F.transform(
            F.sequence(F.lit(1), F.lit(dim)),
            lambda i: (
                F.pmod(F.xxhash64(F.col("id") * 131 + i), F.lit(1000)) / 500.0
                - 1.0
            ).cast("float"),
        ).alias("embedding"),
    )


def test_streamed_index_answers_match_single_pass(spark, tmp_path):
    corpus = _corpus(spark)
    vix = VectorIndexStream(str(tmp_path / "index"), str(tmp_path / "lm"))
    vix.init_landmarks(corpus, num_landmarks=8)
    for b in range(3):
        vix.ingest_batch(corpus.where(F.col("vec_id") % 3 == b), b)
    # redelivery of the last batch
    vix.ingest_batch(corpus.where(F.col("vec_id") % 3 == 2), 2)

    queries = corpus.where(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    got = sorted(
        map(tuple, vix.ann_query(spark, queries, k=5, n_probe=2).collect())
    )
    want = sorted(
        map(
            tuple,
            ivf_knn(corpus, queries, k=5, num_landmarks=8, n_probe=2).collect(),
        )
    )
    assert got == want
    # index row count audits the retry idempotence
    assert vix.read_index(spark).count() == 300


def test_streaming_query_end_to_end(spark, tmp_path):
    import json
    import os

    corpus = _corpus(spark, n=120, dim=8)
    rows = corpus.collect()
    d = tmp_path / "vecs"
    d.mkdir()
    for fi in range(2):
        p = d / f"b{fi}.jsonl"
        p.write_text(
            "\n".join(
                json.dumps({"vec_id": r["vec_id"], "embedding": r["embedding"]})
                for r in rows[fi * 60 : (fi + 1) * 60]
            )
            + "\n"
        )
        now = p.stat().st_mtime
        os.utime(p, (now - 200 + fi * 100, now - 200 + fi * 100))
    vix = VectorIndexStream(str(tmp_path / "index"), str(tmp_path / "lm"))
    vix.init_landmarks(corpus, num_landmarks=4)
    stream = (
        spark.readStream.schema("vec_id bigint, embedding array<float>")
        .option("maxFilesPerTrigger", 1)
        .json(str(d))
    )
    q = start_fold(stream, vix.ingest_batch, str(tmp_path / "ckpt"))
    q.awaitTermination(180)
    assert len([p for p in q.recentProgress if p["numInputRows"] > 0]) == 2

    queries = corpus.where(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    got = sorted(
        map(tuple, vix.ann_query(spark, queries, k=4, n_probe=2).collect())
    )
    want = sorted(
        map(
            tuple,
            ivf_knn(corpus, queries, k=4, num_landmarks=4, n_probe=2).collect(),
        )
    )
    assert got == want


def test_latest_only_dedups_reingested_ids(spark, tmp_path):
    """ADVICE r5 (low): ingest is append-only, so re-ingesting an
    existing vec_id leaves both copies in the index. latest_only=True
    must keep only the max-batch_id copy per neighbor_id before
    scoring — even when the updated vector MOVED cells."""
    corpus = _corpus(spark, n=60, dim=8)
    vix = VectorIndexStream(str(tmp_path / "index"), str(tmp_path / "lm"))
    vix.init_landmarks(corpus, num_landmarks=4)
    vix.ingest_batch(corpus, 0)
    # batch 1 re-ingests id 7 with id 42's vector (likely a different cell)
    updated = (
        corpus.where(F.col("vec_id") == 42)
        .select(F.lit(7).alias("vec_id"), "embedding")
    )
    vix.ingest_batch(updated, 1)
    assert vix.read_index(spark).where(F.col("neighbor_id") == 7).count() == 2

    queries = corpus.where(F.col("vec_id") == 42).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    got = vix.ann_query(
        spark, queries, k=60, n_probe=4, latest_only=True
    ).collect()
    ranks = {r["neighbor_id"]: r["rank"] for r in got}
    assert len(ranks) == len(got)  # no duplicate neighbor rows
    # id 7's surviving copy is id 42's vector -> cosine 1.0, tied with
    # 42 itself; the tie breaks by neighbor_id asc, so 7 ranks first
    assert ranks[7] == 1 and ranks[42] == 2


def test_missing_landmarks_raise(spark, tmp_path):
    vix = VectorIndexStream(str(tmp_path / "index"), str(tmp_path / "lm"))
    with pytest.raises(RuntimeError, match="landmarks missing"):
        vix.ingest_batch(_corpus(spark, n=10), 0)


def _reingested_index(spark, tmp_path, n=60, dim=8):
    """Corpus ingested in batch 0, then ids 3 and 7 re-ingested in
    batch 1 with OTHER rows' vectors (likely different cells)."""
    corpus = _corpus(spark, n=n, dim=dim)
    vix = VectorIndexStream(str(tmp_path / "index"), str(tmp_path / "lm"))
    vix.init_landmarks(corpus, num_landmarks=4)
    vix.ingest_batch(corpus, 0)
    updated = (
        corpus.where(F.col("vec_id").isin(42, 51))
        .select(
            F.when(F.col("vec_id") == 42, F.lit(7))
            .otherwise(F.lit(3))
            .alias("vec_id"),
            "embedding",
        )
    )
    vix.ingest_batch(updated, 1)
    return corpus, vix


def test_compaction_restores_default_path(spark, tmp_path):
    """VERDICT r6 #3 (a): after compact(), the DEFAULT query path must
    equal latest_only=True on a corpus with re-ingested ids — and
    before compaction it must NOT (otherwise the test proves nothing)."""
    corpus, vix = _reingested_index(spark, tmp_path)
    queries = corpus.where(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )

    def run(**kw):
        return sorted(
            map(tuple, vix.ann_query(spark, queries, k=60, n_probe=4, **kw).collect())
        )

    want = run(latest_only=True)
    assert run() != want, "stale copies must be visible pre-compaction"

    gen = vix.compact(spark, upto_batch_id=1)  # stream quiesced: fold all
    assert gen == 1
    assert run() == want
    assert run(latest_only=True) == want
    # one copy per id after compaction; folded deltas cleaned up
    assert vix.read_index(spark).count() == 60
    assert vix._delta_ids() == []


def test_compacted_index_scan_keeps_partition_pruning(spark, tmp_path):
    """VERDICT r6 #3 (b): the compacted base is cell-partitioned and a
    probe query's plan must carry a pruning filter on __lid for the
    base scan (dynamic partition pruning off the broadcast probe
    side) — the whole point of compaction over latest_only."""
    import contextlib
    import io

    corpus, vix = _reingested_index(spark, tmp_path)
    vix.compact(spark, upto_batch_id=1)
    queries = corpus.where(F.col("vec_id") < 2).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    df = vix.ann_query(spark, queries, k=5, n_probe=2)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    plan = buf.getvalue()
    assert "__lid" in plan and "dynamicpruning" in plan.lower(), plan
    # base generation dir is what's being scanned
    assert "v=1" in plan


def test_compact_protects_newest_delta_by_default(spark, tmp_path):
    """Default compact() must NOT fold the newest delta: it may be an
    in-flight foreachBatch attempt whose redelivery would otherwise be
    shadowed by the base (the state.py in-flight-never-supersedes
    rule). A redelivery of that batch after compaction must still land."""
    corpus, vix = _reingested_index(spark, tmp_path)
    gen = vix.compact(spark)  # no upto: newest delta (1) is protected
    assert gen == 0
    assert vix._delta_ids() == [1]

    # crash-before-commit redelivery of batch 1, now with BOTH updates
    # plus a brand-new vector the failed attempt missed
    retry = corpus.where(F.col("vec_id").isin(42, 51)).select(
        F.when(F.col("vec_id") == 42, F.lit(7)).otherwise(F.lit(3)).alias("vec_id"),
        "embedding",
    )
    vix.ingest_batch(retry, 1)
    queries = corpus.where(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    got = sorted(
        map(
            tuple,
            vix.ann_query(spark, queries, k=60, n_probe=4, latest_only=True).collect(),
        )
    )
    # fold everything now that the retry committed; answers unchanged
    assert vix.compact(spark, upto_batch_id=1) == 1
    after = sorted(
        map(tuple, vix.ann_query(spark, queries, k=60, n_probe=4).collect())
    )
    assert after == got


def test_compact_is_rerunnable_and_incremental(spark, tmp_path):
    """Re-running compact() with nothing new is a no-op returning the
    committed generation; a later delta folds incrementally on top of
    the existing base (base ∪ new deltas, not a full re-read of
    history)."""
    corpus, vix = _reingested_index(spark, tmp_path)
    assert vix.compact(spark, upto_batch_id=1) == 1
    assert vix.compact(spark, upto_batch_id=1) == 1  # idempotent no-op

    extra = corpus.select((F.col("vec_id") + 100).alias("vec_id"), "embedding")
    vix.ingest_batch(extra, 2)
    assert vix.compact(spark, upto_batch_id=2) == 2
    assert vix.read_index(spark).count() == 120
    # previous generation retained one cycle (state.py newest-prior
    # protection), older ones pruned
    import streaming_recommendation_spark.streaming.state as state

    assert state.versions(vix.base_dir) == [1, 2]


def test_pipeline_with_periodic_compaction(spark, tmp_path):
    """start_fold's compact_every runs the compaction job in-stream: after the run
    the index is base + a newest-delta tail (never fully folded while
    live), answers unchanged vs the single-pass build."""
    import json
    import os

    corpus = _corpus(spark, n=120, dim=8)
    rows = corpus.collect()
    d = tmp_path / "vecs"
    d.mkdir()
    for fi in range(3):
        p = d / f"b{fi}.jsonl"
        p.write_text(
            "\n".join(
                json.dumps({"vec_id": r["vec_id"], "embedding": r["embedding"]})
                for r in rows[fi * 40 : (fi + 1) * 40]
            )
            + "\n"
        )
        now = p.stat().st_mtime
        os.utime(p, (now - 300 + fi * 100, now - 300 + fi * 100))
    vix = VectorIndexStream(str(tmp_path / "index"), str(tmp_path / "lm"))
    vix.init_landmarks(corpus, num_landmarks=4)
    stream = (
        spark.readStream.schema("vec_id bigint, embedding array<float>")
        .option("maxFilesPerTrigger", 1)
        .json(str(d))
    )
    q = start_fold(
        stream, vix.ingest_batch, str(tmp_path / "ckpt"), vix.compact, compact_every=1
    )
    q.awaitTermination(180)

    import streaming_recommendation_spark.streaming.state as state

    assert state.versions(vix.base_dir), "no base generation written"
    assert vix._committed_base_gen() == 1  # batch 2 protected as delta
    assert vix._delta_ids() == [2]
    assert vix.read_index(spark).count() == 120

    queries = corpus.where(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    got = sorted(
        map(tuple, vix.ann_query(spark, queries, k=4, n_probe=2).collect())
    )
    want = sorted(
        map(
            tuple,
            ivf_knn(corpus, queries, k=4, num_landmarks=4, n_probe=2).collect(),
        )
    )
    assert got == want


def test_compact_noop_sweeps_orphaned_deltas(spark, tmp_path):
    """A crash between a compact run's base commit and its delta
    cleanup orphans already-folded delta dirs; the next compact()
    must sweep them even when there is nothing new to fold (the
    early-return path), not leave them to be listed forever."""
    import os

    corpus, vix = _reingested_index(spark, tmp_path)
    assert vix.compact(spark, upto_batch_id=1) == 1
    # simulate the crash: resurrect a folded delta dir (its batch_id
    # <= committed gen, so reads already ignore it)
    orphan = os.path.join(vix.index_dir, "batch_id=0")
    os.makedirs(orphan, exist_ok=True)
    n_before = vix.read_index(spark).count()
    assert vix.compact(spark) == 1  # nothing new to fold
    assert not os.path.isdir(orphan)
    assert vix.read_index(spark).count() == n_before
