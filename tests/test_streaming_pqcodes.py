"""Streaming PQ-codes store (streaming/pqcodes.py): the real 2-batch
foreachBatch ingest under frozen books must serve ADC search from
disk identically to the one-shot frozen-books encode+search, retries
must be idempotent, and a missing books file must raise instead of
silently re-training an incompatible quantizer."""

from __future__ import annotations

from functools import partial

import pytest
from pyspark.sql import functions as F

from streaming_recommendation_spark.operators.similarity import (
    pq_adc_from_codes,
    pq_encode_with_books,
    pq_train,
)
from streaming_recommendation_spark.sources.testdata import load_table
from streaming_recommendation_spark.streaming.pipeline import start_fold
from streaming_recommendation_spark.streaming.pqcodes import (
    adc_query,
    load_books,
    pq_codes_batch,
    pq_ingest_batch,
    read_codes,
    save_books,
)

from .conftest import SF_DIR


@pytest.fixture(scope="module")
def emb(spark):
    return load_table(spark, "embeddings", SF_DIR)


@pytest.fixture(scope="module")
def books(spark, emb):
    return pq_train(emb.where(F.col("vec_id") < 250), dim=64)


def _adc_rows(df):
    return sorted(
        (r.query_id, r.neighbor_id, r.rank, r.adc_dist) for r in df.collect()
    )


def test_union_of_batches_is_whole_corpus_codes(spark, emb, books):
    b0 = emb.where(F.col("vec_id") < 250)
    b1 = emb.where(F.col("vec_id") >= 250)
    streamed = pq_codes_batch(b0, books, dim=64).unionByName(
        pq_codes_batch(b1, books, dim=64)
    )
    whole = pq_encode_with_books(emb, books, dim=64)
    key = lambda r: (r.vec_id, r.code_0, r.code_1, r.code_2, r.code_3, r.qdist)
    assert sorted(map(key, streamed.collect())) == sorted(
        map(key, whole.collect())
    )


def test_ingest_then_adc_serves_from_disk(spark, emb, books, tmp_path):
    cdir = str(tmp_path / "codes")
    bpath = str(tmp_path / "books.json")
    save_books(books, bpath)
    assert load_books(bpath) == books  # JSON round-trip is exact ints
    pq_ingest_batch(emb.where(F.col("vec_id") < 250), 0, cdir, books, dim=64)
    pq_ingest_batch(emb.where(F.col("vec_id") >= 250), 1, cdir, books, dim=64)

    idx = read_codes(spark, cdir, m=4)
    assert idx.select("batch_id").distinct().count() == 2
    assert idx.count() == emb.count()

    qdf = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    from_disk = adc_query(spark, cdir, bpath, qdf, k_neighbors=10, dim=64)
    codes = pq_encode_with_books(emb, books, dim=64).drop("qdist")
    want = pq_adc_from_codes(codes, qdf, books, k_neighbors=10, dim=64)
    assert _adc_rows(from_disk) == _adc_rows(want)
    assert _adc_rows(from_disk)


def test_retry_same_batch_is_idempotent(spark, emb, books, tmp_path):
    cdir = str(tmp_path / "codes")
    b0 = emb.where(F.col("vec_id") < 250)
    pq_ingest_batch(b0, 0, cdir, books, dim=64)
    once = read_codes(spark, cdir, m=4).count()
    pq_ingest_batch(b0, 0, cdir, books, dim=64)  # redelivery
    assert read_codes(spark, cdir, m=4).count() == once == b0.count()


def test_missing_books_file_raises(tmp_path):
    with pytest.raises(FileNotFoundError, match="train once on a seed"):
        load_books(str(tmp_path / "nope.json"))


def test_read_codes_wrong_id_col_fails_fast(spark, emb, books, tmp_path):
    cdir = str(tmp_path / "codes")
    pq_ingest_batch(emb.where(F.col("vec_id") < 250), 0, cdir, books, dim=64)
    with pytest.raises(ValueError, match="id_col 'item_id' is not"):
        read_codes(spark, cdir, m=4, id_col="item_id")


def test_real_foreachbatch_pipeline(spark, tmp_path):
    """The actual streaming query (pq_ingest_batch folded over a
    2-file source) accumulates the same codes as the direct batch
    calls."""
    import json as _json
    import os as _os

    vecs0 = [(i, [float((i * 7 + j) % 5) for j in range(8)]) for i in range(6)]
    vecs1 = [(i, [float((i * 3 + j) % 5) for j in range(8)]) for i in range(6, 12)]
    d = tmp_path / "vecs"
    d.mkdir()
    for name, batch, age in (("b0.jsonl", vecs0, 200), ("b1.jsonl", vecs1, 100)):
        p = d / name
        p.write_text(
            "\n".join(
                _json.dumps({"vec_id": i, "embedding": v}) for i, v in batch
            )
            + "\n"
        )
        now = p.stat().st_mtime
        _os.utime(p, (now - age, now - age))

    schema = "vec_id bigint, embedding array<float>"
    seed = spark.createDataFrame(vecs0, schema)
    books = pq_train(seed, dim=8)
    bpath = str(tmp_path / "books.json")
    save_books(books, bpath)

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)  # forces the 2-batch carry
        .json(str(d))
    )
    q = start_fold(
        stream,
        partial(
            pq_ingest_batch,
            codes_dir=str(tmp_path / "codes"),
            books=load_books(bpath),
            dim=8,
        ),
        str(tmp_path / "ckpt"),
    )
    q.awaitTermination(180)

    idx = read_codes(spark, str(tmp_path / "codes"), m=4)
    assert idx.select("batch_id").distinct().count() == 2
    whole = spark.createDataFrame(vecs0 + vecs1, schema)
    want = pq_encode_with_books(whole, books, dim=8)
    key = lambda r: (r.vec_id, r.code_0, r.code_1, r.code_2, r.code_3, r.qdist)
    assert sorted(map(key, idx.collect())) == sorted(map(key, want.collect()))


def test_adc_query_on_fully_compacted_store(spark, emb, books, tmp_path):
    """ADVICE r11: after a quiesced FULL compaction deletes every
    batch_id delta partition, read_codes/adc_query must fall back to
    the committed base generation's footer for the id_col guard
    instead of dying on schema inference over an empty delta dir."""
    from streaming_recommendation_spark.streaming.pqcodes import compact_codes
    from streaming_recommendation_spark.streaming import store

    cdir = str(tmp_path / "codes")
    bdir = str(tmp_path / "codes__base")
    bpath = str(tmp_path / "books.json")
    save_books(books, bpath)
    pq_ingest_batch(emb.where(F.col("vec_id") < 250), 0, cdir, books, dim=64)
    pq_ingest_batch(emb.where(F.col("vec_id") >= 250), 1, cdir, books, dim=64)
    gen = compact_codes(spark, cdir, bdir, m=4, upto_batch_id=1)  # quiesced
    assert gen == 1 and store.delta_batch_ids(cdir) == []

    qdf = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    from_disk = adc_query(
        spark, cdir, bpath, qdf, k_neighbors=10, dim=64, base_dir=bdir
    )
    codes = pq_encode_with_books(emb, books, dim=64).drop("qdist")
    want = pq_adc_from_codes(codes, qdf, books, k_neighbors=10, dim=64)
    assert _adc_rows(from_disk) == _adc_rows(want)
    assert _adc_rows(from_disk)
    # the guard still fires on a wrong id_col through the base footer
    with pytest.raises(ValueError, match="id_col 'item_id' is not"):
        read_codes(spark, cdir, m=4, id_col="item_id", base_dir=bdir)


def test_resolved_adc_between_compactions(spark, emb, books, tmp_path):
    """VERDICT r11 #2 generalized to the codes store: vectors 0-4
    re-ingested in batch 1 with DIFFERENT embeddings (their id+300
    donors'), no compaction — the resolved read (default) scores only
    the newest codes, so the served ADC equals the one-shot encode of
    the corrected corpus; resolve=False exposes both copies."""
    cdir = str(tmp_path / "codes")
    bpath = str(tmp_path / "books.json")
    save_books(books, bpath)
    pq_ingest_batch(emb, 0, cdir, books, dim=64)
    donor = emb.where(
        (F.col("vec_id") >= 300) & (F.col("vec_id") < 305)
    ).select((F.col("vec_id") - 300).alias("vec_id"), "embedding")
    pq_ingest_batch(donor, 1, cdir, books, dim=64)

    raw = read_codes(spark, cdir, m=4, resolve=False)
    assert raw.where(F.col("vec_id") == 0).count() == 2
    res = read_codes(spark, cdir, m=4)
    assert res.where(F.col("vec_id") == 0).count() == 1

    corrected = (
        emb.select("vec_id", "embedding")
        .where(F.col("vec_id") >= 5)
        .unionByName(donor)
    )
    qdf = emb.where(F.col("vec_id").between(100, 102)).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    want = pq_adc_from_codes(
        pq_encode_with_books(corrected, books, dim=64).drop("qdist"),
        qdf, books, k_neighbors=10, dim=64,
    )
    got = adc_query(spark, cdir, bpath, qdf, k_neighbors=10, dim=64)
    assert _adc_rows(got) == _adc_rows(want)
