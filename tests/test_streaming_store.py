"""Shared store compaction (streaming/store.py, VERDICT r10 #2/#3):
the generation machinery extracted from streaming/vectors.py applied
to the postings / positional / doc-vector / PQ-codes / passage-hash /
signature stores. Pins: the disk compactor equals the pure
fold_deltas core row-for-row; the in-flight newest delta never
folds; file counts shrink; tombstoned rows physically leave the
stored bytes (and the prior generation holding them is pruned one
cycle later); reads through a compacted base equal reads over raw
deltas; ingests that consult the store (dedup, passages) behave
identically through a base."""

from __future__ import annotations

import json
import os
from functools import partial

import pytest
from pyspark.sql import functions as F

from streaming_recommendation_spark.streaming import store
from streaming_recommendation_spark.streaming.dedup import (
    compact_signature_index,
    dedup_ingest_batch,
    read_live_index,
)
from streaming_recommendation_spark.streaming.hybrid import (
    compact_doc_vectors,
    hybrid_query,
    read_doc_vectors,
    vectors_ingest_batch,
)
from streaming_recommendation_spark.streaming.passages import (
    compact_passage_index,
    passage_ingest_batch,
    read_manifests,
    read_passage_index,
)
from streaming_recommendation_spark.streaming.pipeline import start_fold
from streaming_recommendation_spark.streaming.postings import (
    compact_positional,
    compact_postings,
    positional_ingest_batch,
    postings_ingest_batch,
    read_positional_postings,
    read_postings,
)

DOC_SCHEMA = "doc_id bigint, text string"
B0 = [(0, "x y fox"), (1, "x y z fox den"), (2, "x a b den")]
B1 = [(3, "a b c fox fox"), (4, "y y y y den"), (5, "x z z c")]
# batch 2 re-ingests docs 0 and 3 with NEW text (the upsert case the
# append-only delta layout defers to compaction)
B2 = [(0, "fresh words only"), (3, "den den den")]


def _doc_stream(spark, ddir, batches):
    """A file stream over ``batches``, one JSON file per micro-batch
    (mtimes ascending, maxFilesPerTrigger=1)."""
    ddir.mkdir()
    for i, batch in enumerate(batches):
        p = ddir / f"b{i}.jsonl"
        p.write_text(
            "\n".join(json.dumps({"doc_id": d, "text": t}) for d, t in batch)
            + "\n"
        )
        now = p.stat().st_mtime
        os.utime(p, (now - 300 + i * 100, now - 300 + i * 100))
    return (
        spark.readStream.schema(DOC_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .json(str(ddir))
    )


def _pfiles(d):
    out = []
    for root, _dirs, files in os.walk(d):
        out += [os.path.join(root, f) for f in files if f.endswith(".parquet")]
    return out


def _ingest3(spark, pdir):
    for bid, rows in enumerate((B0, B1, B2)):
        postings_ingest_batch(
            spark.createDataFrame(rows, DOC_SCHEMA), bid, pdir
        )


def test_compact_equals_fold_and_shrinks_files(spark, tmp_path):
    pdir, bdir = str(tmp_path / "post"), str(tmp_path / "post__base")
    _ingest3(spark, pdir)
    raw = read_postings(spark, pdir)
    want = sorted(
        (r.doc_id, r.term, r.tf)
        for r in store.fold_deltas(raw, ["doc_id"]).collect()
    )
    n_before = len(_pfiles(pdir))
    gen = compact_postings(spark, pdir, bdir, upto_batch_id=2)  # quiesced
    assert gen == 2
    got = sorted(
        (r.doc_id, r.term, r.tf)
        for r in read_postings(spark, pdir, base_dir=bdir).collect()
    )
    assert got == want
    # doc 0's batch-0 postings are gone; its batch-2 words are present
    assert (0, "fresh", 1) in got and all(
        not (d == 0 and t in ("x", "y", "fox")) for d, t, _ in got
    )
    # folded deltas deleted; base is fewer files than the delta log was
    assert store.delta_batch_ids(pdir) == []
    assert 0 < len(_pfiles(bdir)) < n_before


def test_inflight_delta_never_folds(spark, tmp_path):
    pdir, bdir = str(tmp_path / "post"), str(tmp_path / "post__base")
    _ingest3(spark, pdir)
    gen = compact_postings(spark, pdir, bdir)  # default upto = max-1
    assert gen == 1 and store.delta_batch_ids(pdir) == [2]
    # the read still sees batch 2 (base gen 1 + delta 2)
    got = sorted(
        (r.doc_id, r.term)
        for r in read_postings(spark, pdir, base_dir=bdir).collect()
    )
    assert (0, "fresh") in got


def test_tombstones_leave_the_stored_bytes(spark, tmp_path):
    pdir, bdir = str(tmp_path / "post"), str(tmp_path / "post__base")
    _ingest3(spark, pdir)
    forget = spark.createDataFrame([(1,)], "doc_id bigint")
    gen = compact_postings(
        spark, pdir, bdir, upto_batch_id=2, tombstones=forget
    )
    base_rows = spark.read.parquet(store.state.version_dir(bdir, gen))
    assert base_rows.where(F.col("doc_id") == 1).count() == 0
    # the delta log that held doc 1's bytes is gone with the fold, so
    # NO file anywhere under either dir still carries the forgotten id
    for f in _pfiles(bdir) + _pfiles(pdir):
        assert spark.read.parquet(f).where(F.col("doc_id") == 1).count() == 0
    # and the erasure survives the next fold cycle (new delta, new gen)
    postings_ingest_batch(spark.createDataFrame([(9, "new doc")], DOC_SCHEMA), 3, pdir)
    compact_postings(spark, pdir, bdir, upto_batch_id=3, tombstones=forget)
    for f in _pfiles(bdir) + _pfiles(pdir):
        assert spark.read.parquet(f).where(F.col("doc_id") == 1).count() == 0


def test_retry_after_compaction_is_idempotent(spark, tmp_path):
    pdir, bdir = str(tmp_path / "post"), str(tmp_path / "post__base")
    _ingest3(spark, pdir)
    compact_postings(spark, pdir, bdir)  # folds 0..1, leaves 2 in-flight
    # at-least-once redelivery of batch 2 after the compactor ran:
    # must overwrite exactly its own delta, and the base+delta read
    # must equal the pure fold of the full in-memory delta log
    postings_ingest_batch(spark.createDataFrame(B2, DOC_SCHEMA), 2, pdir)
    from streaming_recommendation_spark.streaming.postings import postings_batch

    log = None
    for bid, rows in enumerate((B0, B1, B2)):
        part = postings_batch(spark.createDataFrame(rows, DOC_SCHEMA)).withColumn(
            "batch_id", F.lit(bid).cast("bigint")
        )
        log = part if log is None else log.unionByName(part)
    want = sorted(
        map(tuple, store.fold_deltas(log, ["doc_id"]).drop("batch_id").collect())
    )
    # between compactions the upserted doc has both copies live (the
    # documented interim state); fold_deltas at read time resolves it —
    # the base keeps batch_id exactly so this works on the combined read
    got = sorted(
        map(
            tuple,
            store.fold_deltas(
                read_postings(spark, pdir, base_dir=bdir), ["doc_id"]
            )
            .drop("batch_id")
            .collect(),
        )
    )
    assert got == want


def test_positional_and_docvector_compact_roundtrip(spark, tmp_path):
    for bid, rows in enumerate((B0, B1, B2)):
        df = spark.createDataFrame(rows, DOC_SCHEMA)
        positional_ingest_batch(df, bid, str(tmp_path / "pos"))
        vectors_ingest_batch(df, bid, str(tmp_path / "vec"))
    want_pos = sorted(
        map(
            tuple,
            store.fold_deltas(
                read_positional_postings(spark, str(tmp_path / "pos")),
                ["doc_id"],
            )
            .drop("batch_id")
            .collect(),
        )
    )
    want_vec = sorted(
        (r.doc_id, list(r.vec))
        for r in store.fold_deltas(
            read_doc_vectors(spark, str(tmp_path / "vec")), ["doc_id"]
        ).collect()
    )
    compact_positional(
        spark, str(tmp_path / "pos"), str(tmp_path / "posb"), upto_batch_id=2
    )
    compact_doc_vectors(
        spark, str(tmp_path / "vec"), str(tmp_path / "vecb"), upto_batch_id=2
    )
    got_pos = sorted(
        map(
            tuple,
            read_positional_postings(
                spark, str(tmp_path / "pos"), base_dir=str(tmp_path / "posb")
            )
            .drop("batch_id")
            .collect(),
        )
    )
    got_vec = sorted(
        (r.doc_id, list(r.vec))
        for r in read_doc_vectors(
            spark, str(tmp_path / "vec"), base_dir=str(tmp_path / "vecb")
        ).collect()
    )
    assert got_pos == want_pos and got_vec == want_vec


def test_hybrid_query_reads_through_compacted_bases(spark, tmp_path):
    pdir, vdir = str(tmp_path / "post"), str(tmp_path / "vec")
    for bid, rows in enumerate((B0, B1)):
        df = spark.createDataFrame(rows, DOC_SCHEMA)
        postings_ingest_batch(df, bid, pdir)
        vectors_ingest_batch(df, bid, vdir)
    qids = spark.createDataFrame([(0,)], "query_doc bigint")
    want = sorted(
        map(tuple, hybrid_query(spark, pdir, vdir, qids, k_leg=3, k=4).collect())
    )
    compact_postings(spark, pdir, str(tmp_path / "pb"), upto_batch_id=1)
    compact_doc_vectors(spark, vdir, str(tmp_path / "vb"), upto_batch_id=1)
    got = sorted(
        map(
            tuple,
            hybrid_query(
                spark,
                pdir,
                vdir,
                qids,
                k_leg=3,
                k=4,
                postings_base_dir=str(tmp_path / "pb"),
                vectors_base_dir=str(tmp_path / "vb"),
            ).collect(),
        )
    )
    assert got == want and len(got) > 0


def test_passage_ingest_through_compacted_base(spark, tmp_path):
    """The passage index compacts between batches; the next ingest
    consulting it through the base must produce the same manifests as
    the uncompacted run."""
    idx, idxb, man = (
        str(tmp_path / "idx"),
        str(tmp_path / "idxb"),
        str(tmp_path / "man"),
    )
    idx2, man2 = str(tmp_path / "idx2"), str(tmp_path / "man2")
    dup = [(10, "p q r s t u v w x y z a b c d e"),
           (11, "p q r s t u v w x y z a b c d e")]  # 16-token dup window
    b0 = spark.createDataFrame([dup[0]], DOC_SCHEMA)
    b1 = spark.createDataFrame([dup[1]], DOC_SCHEMA)
    # run A: plain two-batch ingest
    passage_ingest_batch(b0, 0, idx2, man2)
    passage_ingest_batch(b1, 1, idx2, man2)
    want = sorted(map(tuple, read_manifests(spark, man2).collect()))
    # run B: compact after batch 0, ingest batch 1 through the base
    passage_ingest_batch(b0, 0, idx, man)
    compact_passage_index(spark, idx, idxb, upto_batch_id=0)
    assert store.delta_batch_ids(idx) == []
    passage_ingest_batch(b1, 1, idx, man, base_dir=idxb)
    got = sorted(map(tuple, read_manifests(spark, man).collect()))
    assert got == want
    # doc 11's window must read as DUP through the base
    m11 = [r for r in got if r[0] == 11][0]
    assert m11[2] == 1  # n_dup_passages
    # and the index content is identical either way
    assert sorted(
        r.chunk_hash
        for r in read_passage_index(spark, idx, base_dir=idxb).collect()
    ) == sorted(r.chunk_hash for r in read_passage_index(spark, idx2).collect())


def test_signature_compact_with_tombstones(spark, tmp_path):
    """Dedup-at-ingest through a compacted, tombstone-erased base:
    the forgotten near-dup donor stops matching AND its signatures are
    physically absent from the base files."""
    idx, idxb, cand = (
        str(tmp_path / "sig"),
        str(tmp_path / "sigb"),
        str(tmp_path / "cand"),
    )
    text = "alpha beta gamma delta epsilon zeta eta theta"
    b0 = spark.createDataFrame([(0, text), (1, "totally different words")], DOC_SCHEMA)
    dedup_ingest_batch(b0, 0, idx, cand)
    forget = spark.createDataFrame([(0,)], "doc_id bigint")
    gen = compact_signature_index(
        spark, idx, idxb, upto_batch_id=0, tombstones=forget
    )
    base = spark.read.parquet(store.state.version_dir(idxb, gen))
    assert base.where(F.col("doc_id") == 0).count() == 0
    assert base.where(F.col("doc_id") == 1).count() > 0
    # a near-dup of doc 0 now ingests as NOVEL through the base
    b1 = spark.createDataFrame([(2, text)], DOC_SCHEMA)
    dedup_ingest_batch(b1, 1, idx, cand, base_dir=idxb)
    from streaming_recommendation_spark.streaming.dedup import read_candidates

    cands = read_candidates(spark, cand).where(F.col("batch_id") == 1)
    assert cands.where(F.col("existing_id") == 0).count() == 0
    # and read_live_index through the base agrees
    live = read_live_index(spark, idx, base_dir=idxb)
    assert live.where(F.col("doc_id") == 0).count() == 0


def test_vector_index_compact_with_tombstones(spark, tmp_path):
    """The float IVF store's compactor accepts the same tombstone
    erasure as the other five stores (fold_fn path): the forgotten
    vector leaves the new base's bytes and probe reads stop
    returning it."""
    from streaming_recommendation_spark.streaming.vectors import (
        VectorIndexStream,
    )

    rows = [
        (i, [float(i % 4), float((i * 7) % 5), 1.0, 0.5]) for i in range(40)
    ]
    emb = spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")
    vis = VectorIndexStream(
        str(tmp_path / "idx"),
        str(tmp_path / "lm"),
        base_dir=str(tmp_path / "base"),
    )
    vis.init_landmarks(emb, num_landmarks=4)
    vis.ingest_batch(emb.where(F.col("vec_id") < 20).selectExpr(
        "vec_id", "embedding"), 0)
    vis.ingest_batch(emb.where(F.col("vec_id") >= 20).selectExpr(
        "vec_id", "embedding"), 1)
    forget = spark.createDataFrame([(3,), (25,)], "neighbor_id bigint")
    gen = vis.compact(spark, upto_batch_id=1, tombstones=forget)
    base = spark.read.parquet(store.state.version_dir(str(tmp_path / "base"), gen))
    assert base.where(F.col("neighbor_id").isin(3, 25)).count() == 0
    assert base.count() == 38
    q = emb.where(F.col("vec_id") == 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    res = vis.ann_query(spark, q, k=5, n_probe=4)
    got_ids = {r.neighbor_id for r in res.collect()}
    assert 3 not in got_ids and len(got_ids) == 5


def test_instream_compaction_during_live_pipeline(spark, tmp_path):
    """A 3-batch file-stream with compact_every=2: the in-stream fold
    commits a base mid-run WITHOUT folding the then-newest delta, the
    final read equals the plain uncompacted run, and the folded delta
    partitions are gone."""
    batches = [B0, B1, B2]
    stream = _doc_stream(spark, tmp_path / "docs", batches)
    pdir, bdir = str(tmp_path / "post"), str(tmp_path / "postb")
    q = start_fold(
        stream,
        partial(postings_ingest_batch, postings_dir=pdir),
        str(tmp_path / "ckpt"),
        compact=partial(compact_postings, postings_dir=pdir, base_dir=bdir),
        compact_every=2,
    )
    q.awaitTermination(120)
    # batch 2 triggered a compact of batches <= 1 (newest never folds)
    assert store.committed_gen(bdir) == 1
    assert store.delta_batch_ids(pdir) == [2]
    # the folded read equals the plain in-memory log fold
    from streaming_recommendation_spark.streaming.postings import (
        postings_batch,
    )

    log = None
    for bid, rows in enumerate(batches):
        part = postings_batch(
            spark.createDataFrame(rows, DOC_SCHEMA)
        ).withColumn("batch_id", F.lit(bid).cast("bigint"))
        log = part if log is None else log.unionByName(part)
    want = sorted(
        map(tuple, store.fold_deltas(log, ["doc_id"]).drop("batch_id").collect())
    )
    got = sorted(
        map(
            tuple,
            store.fold_deltas(
                read_postings(spark, pdir, base_dir=bdir), ["doc_id"]
            )
            .drop("batch_id")
            .collect(),
        )
    )
    assert got == want


def test_start_fold_contract(spark, tmp_path):
    """The fold driver every streaming leg runs on: over a 4-file
    stream (one file per micro-batch) the fold runs exactly once per
    batch, in order, and with compact_every=2 the compaction runs
    right after batch 2's fold only — never after batch 0, whose
    "every Nth" slot holds nothing to fold."""
    events = []

    def fold(batch_df, batch_id):
        events.append(("fold", batch_id, batch_df.count()))

    def compact(sess):
        events.append(("compact",))

    stream = _doc_stream(spark, tmp_path / "docs", [B0, B1, B2, B0])
    q = start_fold(stream, fold, str(tmp_path / "ckpt"), compact, compact_every=2)
    q.awaitTermination(120)
    assert events == [
        ("fold", 0, 3),
        ("fold", 1, 3),
        ("fold", 2, 2),
        ("compact",),
        ("fold", 3, 3),
    ]
    with pytest.raises(ValueError, match="compact_every requires compact"):
        start_fold(stream, fold, str(tmp_path / "ckpt2"), compact_every=2)


def test_erasure_only_compaction_rewrites_base(spark, tmp_path):
    """ADVICE r11: compact_store with tombstones but NOTHING to fold
    (the in-stream steady state) must still rewrite the base — as a
    new committed erasure-epoch generation at the same coverage, never
    a silent skip that leaves the forgotten bytes live."""
    pdir, bdir = str(tmp_path / "post"), str(tmp_path / "post__base")
    _ingest3(spark, pdir)
    gen = compact_postings(spark, pdir, bdir, upto_batch_id=2)
    assert gen == 2 and store.delta_batch_ids(pdir) == []
    # steady state: no deltas at all; now a forget request arrives
    forget = spark.createDataFrame([(1,)], "doc_id bigint")
    gen2 = compact_postings(spark, pdir, bdir, tombstones=forget)
    assert gen2 == 2  # coverage unchanged
    gdir = store.committed_gen_dir(bdir)
    assert gdir is not None and gdir.endswith("v=2e1")
    # the read no longer serves doc 1, with NO read-time filter
    got = read_postings(spark, pdir, base_dir=bdir)
    assert got.where(F.col("doc_id") == 1).count() == 0
    # and the serving generation's bytes are free of the forgotten id
    for f in _pfiles(gdir):
        assert spark.read.parquet(f).where(F.col("doc_id") == 1).count() == 0
    # prior generation retained exactly one cycle; the next erasure
    # epoch prunes it, after which the id exists NOWHERE on disk
    gen3 = compact_postings(
        spark, pdir, bdir, tombstones=spark.createDataFrame([(0,)], "doc_id bigint")
    )
    assert gen3 == 2
    assert store.committed_gen_dir(bdir).endswith("v=2e2")
    # v=2 (the only dir ever holding doc 1's bytes) is pruned now that
    # two newer committed generations supersede it
    for f in _pfiles(bdir) + _pfiles(pdir):
        assert spark.read.parquet(f).where(F.col("doc_id") == 1).count() == 0
    # doc 0 still lives in v=2e1 for exactly one retention cycle; one
    # more cycle and it is gone from every byte on disk
    compact_postings(
        spark, pdir, bdir, tombstones=spark.createDataFrame([(0,)], "doc_id bigint")
    )
    assert store.committed_gen_dir(bdir).endswith("v=2e3")
    for f in _pfiles(bdir) + _pfiles(pdir):
        df = spark.read.parquet(f)
        assert df.where(F.col("doc_id").isin(0, 1)).count() == 0


def test_fold_after_erasure_epoch(spark, tmp_path):
    """A normal delta fold after an erasure-epoch rewrite reads the
    epoch dir as its base, writes a plain higher-cover generation, and
    keeps the erasure (no resurrection)."""
    pdir, bdir = str(tmp_path / "post"), str(tmp_path / "post__base")
    _ingest3(spark, pdir)
    compact_postings(spark, pdir, bdir, upto_batch_id=2)
    forget = spark.createDataFrame([(1,)], "doc_id bigint")
    compact_postings(spark, pdir, bdir, tombstones=forget)
    assert store.committed_gen_dir(bdir).endswith("v=2e1")
    postings_ingest_batch(
        spark.createDataFrame([(9, "brand new doc")], DOC_SCHEMA), 3, pdir
    )
    gen = compact_postings(spark, pdir, bdir, upto_batch_id=3)
    assert gen == 3 and store.committed_gen_dir(bdir).endswith("v=3")
    got = sorted(
        (r.doc_id, r.term)
        for r in read_postings(spark, pdir, base_dir=bdir).collect()
    )
    assert (9, "brand") in got
    assert all(d != 1 for d, _t in got)  # erased doc stays erased


def test_erasure_with_inflight_delta_not_folded(spark, tmp_path):
    """Erasure-only rewrite under a live stream: the in-flight newest
    delta is untouched (it still serves through the union read), but
    the BASE is rewritten without the forgotten id."""
    pdir, bdir = str(tmp_path / "post"), str(tmp_path / "post__base")
    _ingest3(spark, pdir)
    compact_postings(spark, pdir, bdir)  # folds 0..1, delta 2 in-flight
    # doc 1 lives only in batch 0/1 (now the base); forget it while
    # delta 2 is still in flight — fold set is empty, erasure is not
    forget = spark.createDataFrame([(1,)], "doc_id bigint")
    gen = compact_postings(spark, pdir, bdir, tombstones=forget)
    assert gen == 1 and store.committed_gen_dir(bdir).endswith("v=1e1")
    assert store.delta_batch_ids(pdir) == [2]  # in-flight untouched
    got = read_postings(spark, pdir, base_dir=bdir)
    assert got.where(F.col("doc_id") == 1).count() == 0
    assert got.where(F.col("doc_id") == 0).count() > 0  # delta 2 serves
    for f in _pfiles(store.committed_gen_dir(bdir)):
        assert spark.read.parquet(f).where(F.col("doc_id") == 1).count() == 0


def _clean_corpus(spark):
    # one-shot truth: each doc's LATEST text (B2 corrected docs 0, 3)
    latest = {d: t for d, t in [*B0, *B1, *B2]}
    return spark.createDataFrame(sorted(latest.items()), DOC_SCHEMA)


def _oneshot_hybrid(spark, qids):
    from streaming_recommendation_spark.streaming.hybrid import (
        doc_vectors_batch,
        hybrid_search_from_stores,
    )
    from streaming_recommendation_spark.streaming.postings import postings_batch

    docs = _clean_corpus(spark)
    return hybrid_search_from_stores(
        postings_batch(docs),
        doc_vectors_batch(docs, n_features=16),
        qids,
        k_leg=4,
        k=3,
    )


def _hybrid_rows(df):
    return sorted(map(tuple, df.select("query_doc", "doc_id", "rank").collect()))


@pytest.mark.slow  # >=10 s soak/parity tier (VERDICT r12 #3)
def test_mixed_generation_hybrid_read_consistency(spark, tmp_path):
    """VERDICT r11 #2 pin: a crash injected BETWEEN the two stores'
    compactions (postings folded through the correction, vectors not
    — and the reverse) must not change the hybrid serving answer.
    read_store_resolved makes each leg equal fold_deltas(full log)
    for ANY pair of per-store compaction points."""
    from streaming_recommendation_spark.streaming.hybrid import (
        hybrid_query,
        vectors_ingest_batch,
    )

    qids = spark.createDataFrame([(0,), (3,)], "query_doc bigint")
    want = _hybrid_rows(_oneshot_hybrid(spark, qids))

    for crash_side in ("vectors", "postings"):
        root = tmp_path / f"crash_{crash_side}"
        pdir, pb = str(root / "post"), str(root / "postb")
        vdir, vb = str(root / "vec"), str(root / "vecb")
        for bid, rows in enumerate((B0, B1, B2)):
            df = spark.createDataFrame(rows, DOC_SCHEMA)
            postings_ingest_batch(df, bid, pdir)
            vectors_ingest_batch(df, bid, vdir, n_features=16)
        # run ONE compaction through the correction batch, then
        # "crash" before the sibling store compacts at all
        if crash_side == "vectors":
            compact_postings(spark, pdir, pb, upto_batch_id=2)
        else:
            compact_doc_vectors(spark, vdir, vb, upto_batch_id=2)
        got = hybrid_query(
            spark, pdir, vdir, qids, k_leg=4, k=3,
            postings_base_dir=pb, vectors_base_dir=vb,
        )
        assert _hybrid_rows(got) == want, crash_side


def test_unresolved_mixed_read_would_differ(spark, tmp_path):
    """Sensitivity check for the pin above: the PLAIN base+deltas
    union double-serves the corrected docs (old and new vectors both
    live), so the resolved read is load-bearing, not a no-op."""
    from streaming_recommendation_spark.streaming.hybrid import (
        read_doc_vectors,
        vectors_ingest_batch,
    )

    vdir = str(tmp_path / "vec")
    for bid, rows in enumerate((B0, B1, B2)):
        vectors_ingest_batch(
            spark.createDataFrame(rows, DOC_SCHEMA), bid, vdir, n_features=16
        )
    raw = read_doc_vectors(spark, vdir, resolve=False)
    assert raw.where(F.col("doc_id") == 0).count() == 2  # both copies
    resolved = store.read_store_resolved(
        spark, vdir, "doc_id bigint, vec array<bigint>, batch_id bigint",
        None, ["doc_id"],
    )
    assert resolved.where(F.col("doc_id") == 0).count() == 1
    got = {
        (r.doc_id, r.batch_id): list(r.vec)
        for r in resolved.collect()
    }
    assert set(got) == {(0, 2), (1, 0), (2, 0), (3, 2), (4, 1), (5, 1)}


@pytest.mark.slow  # >=10 s soak/parity tier (VERDICT r12 #3)
def test_mixed_generation_erasure_crash_window(spark, tmp_path):
    """Erasure across two stores: after a crash between the two
    tombstone-folding compactions the caller keeps passing the forget
    set to hybrid_query (the documented contract) and the answer
    equals the fully-erased one-shot; once the second store's
    compaction folds the set, the no-filter read equals it too."""
    from streaming_recommendation_spark.streaming.hybrid import (
        doc_vectors_batch,
        hybrid_query,
        hybrid_search_from_stores,
        vectors_ingest_batch,
    )
    from streaming_recommendation_spark.streaming.postings import postings_batch

    pdir, pb = str(tmp_path / "post"), str(tmp_path / "postb")
    vdir, vb = str(tmp_path / "vec"), str(tmp_path / "vecb")
    for bid, rows in enumerate((B0, B1, B2)):
        df = spark.createDataFrame(rows, DOC_SCHEMA)
        postings_ingest_batch(df, bid, pdir)
        vectors_ingest_batch(df, bid, vdir, n_features=16)
    qids = spark.createDataFrame([(0,), (3,)], "query_doc bigint")
    erased_corpus = _clean_corpus(spark).where(F.col("doc_id") != 1)
    want = _hybrid_rows(
        hybrid_search_from_stores(
            postings_batch(erased_corpus),
            doc_vectors_batch(erased_corpus, n_features=16),
            qids,
            k_leg=4,
            k=3,
        )
    )
    forget = spark.createDataFrame([(1,)], "doc_id bigint")
    compact_postings(spark, pdir, pb, upto_batch_id=2, tombstones=forget)
    # crash before compact_doc_vectors: mixed erasure state — the
    # caller-supplied read filter carries the contract
    got_mid = hybrid_query(
        spark, pdir, vdir, qids, k_leg=4, k=3,
        postings_base_dir=pb, vectors_base_dir=vb, tombstones=forget,
    )
    assert _hybrid_rows(got_mid) == want
    # recovery: the second compaction folds the same forget set; the
    # no-filter read now equals the fully-erased one-shot
    compact_doc_vectors(spark, vdir, vb, upto_batch_id=2, tombstones=forget)
    got_after = hybrid_query(
        spark, pdir, vdir, qids, k_leg=4, k=3,
        postings_base_dir=pb, vectors_base_dir=vb,
    )
    assert _hybrid_rows(got_after) == want


@pytest.mark.slow  # >=10 s soak/parity tier (VERDICT r12 #3)
def test_prune_bound_over_long_run(spark, tmp_path):
    """Pinned retention bound (VERDICT r11 #3, the fast twin of
    ``python scripts/soak.py retention``): over a 24-batch run with in-stream
    compaction every 4 batches, a rolling upsert and a mid-run
    tombstone — at EVERY batch the committed generation dirs stay
    <= 2, delta partitions stay <= compact_every + 1, and after every
    compaction the upserted doc serves exactly its newest text and
    the tombstoned doc stays gone (no resurrection, no regression)."""
    pdir, pb = str(tmp_path / "post"), str(tmp_path / "postb")
    n_batches, every = 24, 4
    forget = spark.createDataFrame([(7,)], "doc_id bigint")
    texts = {}
    for b in range(n_batches):
        rows = [(b * 10 + i, f"w{b * 10 + i} common fox") for i in range(1, 10)]
        rows.append((0, f"fresh{b} zero doc"))
        texts[0] = f"fresh{b} zero doc"
        postings_ingest_batch(
            spark.createDataFrame(rows, DOC_SCHEMA), b, pdir
        )
        if b > 0 and b % every == 0:
            compact_postings(
                spark, pdir, pb, tombstones=forget if b >= 8 else None
            )
            live = store.read_store_resolved(
                spark, pdir,
                "doc_id bigint, term string, tf bigint, batch_id bigint",
                pb, ["doc_id"],
            )
            got0 = sorted(
                r.term for r in live.where(F.col("doc_id") == 0).collect()
            )
            assert got0 == sorted(set(texts[0].split())), f"batch {b}"
            if b >= 8:
                assert live.where(F.col("doc_id") == 7).count() == 0
        assert len(store.gen_entries(pb)) <= 2
        assert len(store.delta_batch_ids(pdir)) <= every + 1


def test_generation_changes_disk_feed(spark, tmp_path):
    """Change-data-feed over the two retained committed generations:
    after two compactions the feed classifies the upserted doc as
    update, the newly arrived doc as insert, the tombstoned doc as
    delete, and omits untouched docs; with <2 generations it refuses
    loudly instead of reading as 'no changes'."""
    import pytest as _pytest

    pdir, bdir = str(tmp_path / "post"), str(tmp_path / "postb")
    schema = "doc_id bigint, term string, tf bigint, batch_id bigint"
    postings_ingest_batch(spark.createDataFrame(B0, DOC_SCHEMA), 0, pdir)
    postings_ingest_batch(spark.createDataFrame(B1, DOC_SCHEMA), 1, pdir)
    compact_postings(spark, pdir, bdir, upto_batch_id=1)
    with _pytest.raises(ValueError, match="committed generation"):
        store.generation_changes(spark, bdir, schema, ["doc_id"])
    # batch 2: doc 0 and 3 corrected, doc 9 new; doc 1 forgotten
    postings_ingest_batch(
        spark.createDataFrame(B2 + [(9, "brand new doc")], DOC_SCHEMA), 2, pdir
    )
    forget = spark.createDataFrame([(1,)], "doc_id bigint")
    compact_postings(spark, pdir, bdir, upto_batch_id=2, tombstones=forget)
    feed = {
        r.doc_id: (r.change, r.rows_prev, r.rows_new)
        for r in store.generation_changes(
            spark, bdir, schema, ["doc_id"]
        ).collect()
    }
    assert feed[0][0] == "update" and feed[3][0] == "update"
    assert feed[9] == ("insert", 0, 3)
    assert feed[1][0] == "delete" and feed[1][2] == 0
    assert set(feed) == {0, 1, 3, 9}  # docs 2, 4, 5 untouched -> absent
    # an erasure-only epoch rewrite is itself a valid feed step:
    # forget doc 2 with nothing to fold -> feed shows exactly that
    compact_postings(
        spark, pdir, bdir,
        tombstones=spark.createDataFrame([(2,)], "doc_id bigint"),
    )
    feed2 = {
        r.doc_id: r.change
        for r in store.generation_changes(
            spark, bdir, schema, ["doc_id"]
        ).collect()
    }
    assert feed2 == {2: "delete"}


def test_change_rows_feed_is_algebraically_complete(spark, tmp_path):
    """diff_rows' signed deltas applied to an additive aggregate give
    exactly the recomputed aggregate (the q244 claim on disk via
    generation_change_rows): df/total_tf maintained across a
    compaction == recomputed from the new generation."""
    pdir, bdir = str(tmp_path / "post"), str(tmp_path / "postb")
    schema = "doc_id bigint, term string, tf bigint, batch_id bigint"
    postings_ingest_batch(spark.createDataFrame(B0, DOC_SCHEMA), 0, pdir)
    postings_ingest_batch(spark.createDataFrame(B1, DOC_SCHEMA), 1, pdir)
    compact_postings(spark, pdir, bdir, upto_batch_id=1)
    prev = spark.read.schema(schema).parquet(store.committed_gen_dir(bdir))
    postings_ingest_batch(
        spark.createDataFrame(B2 + [(9, "brand new doc")], DOC_SCHEMA), 2, pdir
    )
    forget = spark.createDataFrame([(1,)], "doc_id bigint")
    compact_postings(spark, pdir, bdir, upto_batch_id=2, tombstones=forget)
    feed = store.generation_change_rows(spark, bdir, schema, ["doc_id"])
    prev_stats = {
        r.term: (r.df, r.t)
        for r in prev.groupBy("term")
        .agg(F.count(F.lit(1)).alias("df"), F.sum("tf").alias("t"))
        .collect()
    }
    maintained = dict(prev_stats)
    for r in feed.collect():
        df0, t0 = maintained.get(r.term, (0, 0))
        maintained[r.term] = (df0 + r.delta, t0 + r.delta * r.tf)
    maintained = {k: v for k, v in maintained.items() if v[0] > 0}
    new = spark.read.schema(schema).parquet(store.committed_gen_dir(bdir))
    recomputed = {
        r.term: (r.df, r.t)
        for r in new.groupBy("term")
        .agg(F.count(F.lit(1)).alias("df"), F.sum("tf").alias("t"))
        .collect()
    }
    assert maintained == recomputed
