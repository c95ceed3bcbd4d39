"""Streaming incremental LSH dedup (streaming/dedup.py): 2-batch
carry must match the batch twin bit-for-bit, retries must be
idempotent, restarts must be no-ops (VERDICT r4 #6)."""

from __future__ import annotations

import json
import os
from functools import partial

import pytest
from pyspark.sql import functions as F

from streaming_recommendation_spark.operators.dedup import (
    banded_signature_table,
    incremental_lsh_candidates,
    lsh_candidates_from_signatures,
)
from streaming_recommendation_spark.streaming.dedup import (
    dedup_ingest_batch,
    read_candidates,
)
from streaming_recommendation_spark.streaming.pipeline import start_fold

# controlled near-dup structure: exact dup pairs within batch 0
# (1, 2), across batches (3, 13), and within batch 1 (11, 12);
# the other docs are distinct enough that 3-gram minhash separates
# them (asserted via the batch operator itself, not assumed)
BATCH0 = [
    (1, "the quick brown fox jumps over the lazy dog again and again"),
    (2, "the quick brown fox jumps over the lazy dog again and again"),
    (3, "distributed streaming dedup keeps the signature index as state"),
    (4, "completely unrelated text about spark shuffle partitions and joins"),
]
BATCH1 = [
    (11, "watermarks bound the state store while idempotent sinks retry safely"),
    (12, "watermarks bound the state store while idempotent sinks retry safely"),
    (13, "distributed streaming dedup keeps the signature index as state"),
    (14, "another unrelated document about broadcast joins and bucketing"),
]
DOC_SCHEMA = "doc_id bigint, text string"


def _batch_twin(spark):
    """Same arrival-order semantics as q131, over the fixture docs."""
    b0 = spark.createDataFrame(BATCH0, DOC_SCHEMA)
    b1 = spark.createDataFrame(BATCH1, DOC_SCHEMA)
    idx0 = banded_signature_table(b0)
    c0 = lsh_candidates_from_signatures(idx0, idx0)
    idx1 = idx0.unionByName(banded_signature_table(b1))
    c1 = incremental_lsh_candidates(b1, idx1)
    return c0.unionByName(c1)


@pytest.fixture()
def doc_dir(tmp_path):
    d = tmp_path / "docs"
    d.mkdir()
    for name, batch, age in (("b0.jsonl", BATCH0, 200), ("b1.jsonl", BATCH1, 100)):
        p = d / name
        p.write_text(
            "\n".join(
                json.dumps({"doc_id": i, "text": t}) for i, t in batch
            )
            + "\n"
        )
        # file-source batch order follows modification time: pin it
        now = p.stat().st_mtime
        os.utime(p, (now - age, now - age))
    return str(d)


def test_streaming_matches_batch_twin(spark, doc_dir, tmp_path):
    stream = (
        spark.readStream.schema(DOC_SCHEMA)
        .option("maxFilesPerTrigger", 1)  # forces the 2-batch carry
        .json(doc_dir)
    )
    q = start_fold(
        stream,
        partial(
            dedup_ingest_batch,
            index_dir=str(tmp_path / "index"),
            candidates_dir=str(tmp_path / "cands"),
        ),
        str(tmp_path / "ckpt"),
    )
    q.awaitTermination(180)

    cands = read_candidates(spark, str(tmp_path / "cands"))
    assert cands.select("batch_id").distinct().count() == 2  # real carry

    got = {
        (r["new_id"], r["existing_id"])
        for r in cands.select("new_id", "existing_id").collect()
    }
    want = {
        (r["new_id"], r["existing_id"]) for r in _batch_twin(spark).collect()
    }
    assert got == want
    # the structure we designed in: within-batch both orientations,
    # cross-batch backwards only
    assert {(1, 2), (2, 1), (11, 12), (12, 11), (13, 3)} <= got
    assert (3, 13) not in got

    # batch attribution: batch-0 rows never reference batch-1 docs
    b0_ids = {i for i, _ in BATCH0}
    first = min(r["batch_id"] for r in cands.select("batch_id").collect())
    for r in cands.where(F.col("batch_id") == first).collect():
        assert r["new_id"] in b0_ids and r["existing_id"] in b0_ids


def test_retry_same_batch_is_idempotent(spark, tmp_path):
    b0 = spark.createDataFrame(BATCH0, DOC_SCHEMA)
    index_dir = str(tmp_path / "index")
    cands_dir = str(tmp_path / "cands")
    dedup_ingest_batch(b0, 0, index_dir, cands_dir)
    once = sorted(
        map(tuple, read_candidates(spark, cands_dir).collect())
    )
    idx_once = spark.read.parquet(index_dir).count()
    # simulate foreachBatch redelivery of the SAME batch id
    dedup_ingest_batch(b0, 0, index_dir, cands_dir)
    assert sorted(map(tuple, read_candidates(spark, cands_dir).collect())) == once
    assert spark.read.parquet(index_dir).count() == idx_once


def test_restart_without_new_data_is_noop(spark, doc_dir, tmp_path):
    cands_dir, ckpt = str(tmp_path / "cands"), str(tmp_path / "ckpt")
    fold = partial(
        dedup_ingest_batch,
        index_dir=str(tmp_path / "index"),
        candidates_dir=cands_dir,
    )
    stream = spark.readStream.schema(DOC_SCHEMA).json(doc_dir)
    start_fold(stream, fold, ckpt).awaitTermination(180)
    before = sorted(map(tuple, read_candidates(spark, cands_dir).collect()))
    stream2 = spark.readStream.schema(DOC_SCHEMA).json(doc_dir)
    start_fold(stream2, fold, ckpt).awaitTermination(180)
    after = sorted(map(tuple, read_candidates(spark, cands_dir).collect()))
    assert before == after


def test_randomized_incremental_equals_single_plan(spark):
    """Anti-miscompile check (lesson from the scd2 fuzz): the
    incremental two-call composition (q131's shape — a self-join of
    idx0 unioned with a candidates-vs-grown-index call) must equal a
    STRUCTURALLY DIFFERENT single-plan derivation — one banded table
    over all docs, self-joined with the arrival-order predicate — on
    randomized corpora with seeded duplicates."""
    import random

    for seed in (5, 29):
        rng = random.Random(seed)
        vocab = [f"w{i}" for i in range(400)]
        texts = {}
        docs = []
        for i in range(40):
            if i >= 8 and rng.random() < 0.3:
                src = rng.randrange(0, i)  # duplicate an earlier doc
                docs.append((i, texts[src]))
                texts[i] = texts[src]
            else:
                t = " ".join(rng.choice(vocab) for _ in range(25))
                docs.append((i, t))
                texts[i] = t
        # THREE arrival batches (deeper composition than q131's two)
        cuts = sorted(rng.sample(range(8, 36), 2))
        df = spark.createDataFrame(docs, DOC_SCHEMA)
        batches = [
            df.where(F.col("doc_id") < cuts[0]),
            df.where((F.col("doc_id") >= cuts[0]) & (F.col("doc_id") < cuts[1])),
            df.where(F.col("doc_id") >= cuts[1]),
        ]
        idx = banded_signature_table(batches[0])
        parts = [lsh_candidates_from_signatures(idx, idx)]
        for b in batches[1:]:
            idx = idx.unionByName(banded_signature_table(b))
            parts.append(incremental_lsh_candidates(b, idx))
        out = parts[0]
        for pdf in parts[1:]:
            out = out.unionByName(pdf)
        got = {(r["new_id"], r["existing_id"]) for r in out.collect()}

        arrival = (
            F.when(F.col("doc_id") < cuts[0], 0)
            .when(F.col("doc_id") < cuts[1], 1)
            .otherwise(2)
        )
        banded = banded_signature_table(df)
        n = banded.select(
            F.col("doc_id").alias("new_id"), "band", "bucket",
            arrival.alias("nb"),
        )
        e = banded.select(
            F.col("doc_id").alias("existing_id"), "band", "bucket",
            arrival.alias("eb"),
        )
        want = {
            (r["new_id"], r["existing_id"])
            for r in n.join(e, ["band", "bucket"])
            .where(
                (F.col("new_id") != F.col("existing_id"))
                & (F.col("nb") >= F.col("eb"))
            )
            .select("new_id", "existing_id")
            .distinct()
            .collect()
        }
        assert got == want, (seed, cuts)


def test_tombstone_forgets_duplicate_evidence(spark, tmp_path):
    """Deletion propagation: after doc 3 is tombstoned, its exact
    copy 13 arriving later is NOVEL (no candidate); matches to
    surviving docs persist; compaction physically erases the rows
    and clears the log; ingest-time exclusion == read-time
    exclusion."""
    from streaming_recommendation_spark.streaming.dedup import (
        compact_tombstones,
        read_live_index,
        tombstone_docs,
    )

    b0 = spark.createDataFrame(BATCH0, DOC_SCHEMA)
    b1 = spark.createDataFrame(BATCH1, DOC_SCHEMA)
    idir, cdir, tdir = (
        str(tmp_path / "index"),
        str(tmp_path / "cands"),
        str(tmp_path / "tombs"),
    )
    dedup_ingest_batch(b0, 0, idir, cdir)
    # forget doc 3 (the future cross-batch duplicate's evidence)
    tombstone_docs(
        spark.createDataFrame([(3,)], "doc_id bigint"), 0, tdir
    )
    # read-time: the live index no longer contains doc 3
    live = read_live_index(spark, idir, tdir)
    assert live.where(F.col("doc_id") == 3).count() == 0
    assert live.count() > 0
    # but the BYTES still exist until compaction (soft delete)
    assert (
        spark.read.parquet(idir).where(F.col("doc_id") == 3).count() > 0
    )

    # ingest-time: batch 1 dedups against the tombstone-filtered index
    dedup_ingest_batch(b1, 1, idir, cdir, tombstones_dir=tdir)
    got = {
        (r.new_id, r.existing_id)
        for r in read_candidates(spark, cdir)
        .where(F.col("batch_id") == 1)
        .collect()
    }
    assert (13, 3) not in got  # forgotten evidence
    assert (12, 11) in got  # surviving within-batch pair unaffected

    # retombstoning the same batch is idempotent
    tombstone_docs(
        spark.createDataFrame([(3,)], "doc_id bigint"), 0, tdir
    )
    assert read_live_index(spark, idir, tdir).where(
        F.col("doc_id") == 3
    ).count() == 0

    # compaction: physical erasure + log cleared + live view unchanged
    before = sorted(
        (r.doc_id, r.band, r.bucket)
        for r in read_live_index(spark, idir, tdir).collect()
    )
    compact_tombstones(spark, idir, tdir)
    assert spark.read.parquet(idir).where(F.col("doc_id") == 3).count() == 0
    import os as _os

    assert not _os.path.exists(tdir)
    after = sorted(
        (r.doc_id, r.band, r.bucket)
        for r in read_live_index(spark, idir).collect()
    )
    assert after == before


def test_edited_doc_stops_matching_old_text(spark, tmp_path):
    """VERDICT r11 #2 generalized to the signature index: doc 0 is
    re-ingested with COMPLETELY different text; the resolved live
    read (default) serves only its newest band signatures, so a probe
    near its OLD text no longer surfaces doc 0 as duplicate evidence
    — while a probe near the new text does."""
    from streaming_recommendation_spark.operators.dedup import (
        banded_signature_table,
    )
    from streaming_recommendation_spark.streaming.dedup import (
        dedup_ingest_batch,
        read_live_index,
    )
    from streaming_recommendation_spark.operators import dedup as dedup_ops

    old_text = "the quick brown fox jumps over the lazy dog again and again"
    new_text = "completely unrelated legal boilerplate about contract terms"
    schema = "doc_id bigint, text string"
    idir, cdir = str(tmp_path / "idx"), str(tmp_path / "cand")
    dedup_ingest_batch(
        spark.createDataFrame([(0, old_text), (1, "filler words here")], schema),
        0, idir, cdir,
    )
    dedup_ingest_batch(
        spark.createDataFrame([(0, new_text)], schema), 1, idir, cdir
    )
    raw = read_live_index(spark, idir, resolve=False)
    res = read_live_index(spark, idir)
    assert res.where(F.col("doc_id") == 0).count() < raw.where(
        F.col("doc_id") == 0
    ).count()
    # the resolved signatures equal a fresh signature table of the
    # corrected corpus — old-text probes match nothing for doc 0
    want = sorted(
        map(
            tuple,
            banded_signature_table(
                spark.createDataFrame(
                    [(0, new_text), (1, "filler words here")], schema
                )
            )
            .select("doc_id", "band", "bucket")
            .collect(),
        )
    )
    assert sorted(map(tuple, res.collect())) == want
