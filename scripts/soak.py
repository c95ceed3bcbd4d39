"""One soak runner for the engine's streaming stores.

    python scripts/soak.py <name> [n_batches] [per_batch]

Each plug-in below feeds ``n_batches`` generated micro-batches of
``per_batch`` rows through one store's ``*_ingest_batch`` fold(s),
then reads the store back and checks what its generator planted. The
runner owns everything else: the session, one work dir (removed on
every exit path), persisting and counting each batch before the timed
fold, per-batch timing, the flatness rule, the one-line JSON print and
a non-zero exit when the plug-in's check fails.

The claim every fold-timed plug-in tests is the incremental-execution
property: per-batch cost tracks the batch, not the stored index, so
``flatness`` (late batches over early ones, see ``flatness``) stays
near 1 as the store grows. A super-linear trend means the fold
re-derives history. The ``profiles*`` plug-ins time the paper's
parse -> watermark dedup -> KV leg over a file stream instead (no
broker binary or connector jars are available, so the Kafka leg
itself stays out; the number is harness throughput, not a broker
soak).
"""
from __future__ import annotations

import glob
import json
import os
import random
import shutil
import sys
import tempfile
import time
from dataclasses import dataclass
from typing import Callable

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402


@dataclass
class Soak:
    """What a plug-in hands the runner: ``batch(b)`` builds batch b (or
    writes it out and returns None), ``folds`` are timed per batch in
    order, ``read()`` returns the measured fields plus one ``ok``."""

    batch: Callable
    folds: dict
    read: Callable
    warmup: int = 1


PLUGINS: dict = {}


def plugin(n_batches: int, per_batch: int):
    """Register ``fn(spark, work, n_batches, per_batch) -> Soak`` under
    its own name with its default sizes."""

    def register(fn):
        PLUGINS[fn.__name__] = (fn, n_batches, per_batch)
        return fn

    return register


def flatness(times: list, warmup: int = 1) -> float:
    """Mean of the last 3 batches over the first 3 after ``warmup``
    (batch 0 pays codegen). Shorter series use what is left."""
    steady = times[warmup:] or times
    k = min(3, len(steady))
    return round(sum(steady[-k:]) / max(sum(steady[:k]), 1e-9), 2)


def run(spark, name: str, n_batches: int | None = None,
        per_batch: int | None = None) -> dict:
    make, n_default, per_default = PLUGINS[name]
    n_batches, per_batch = n_batches or n_default, per_batch or per_default
    work = tempfile.mkdtemp(prefix=f"soak_{name}_")
    try:
        soak = make(spark, work, n_batches, per_batch)
        times = {label: [] for label in soak.folds}
        t_start = time.perf_counter()
        for b in range(n_batches):
            df = soak.batch(b)
            if df is not None:
                df = df.persist()
                df.count()
            for label, fold in soak.folds.items():
                t0 = time.perf_counter()
                fold(df, b)
                times[label].append(round(time.perf_counter() - t0, 3))
            if df is not None:
                df.unpersist()
        measured = soak.read()
        wall = time.perf_counter() - t_start
    finally:
        shutil.rmtree(work, ignore_errors=True)
    ok = bool(measured.pop("ok"))
    return {
        "soak": name,
        "n_batches": n_batches,
        "per_batch": per_batch,
        "wall_sec": round(wall, 2),
        "per_batch_sec": times,
        "flatness": {k: flatness(v, soak.warmup) for k, v in times.items()},
        **measured,
        "ok": ok,
    }


def main(argv: list, spark=None) -> int:
    if not 1 <= len(argv) <= 3 or argv[0] not in PLUGINS or not all(
            a.isdigit() and int(a) > 0 for a in argv[1:]):
        print(f"usage: soak.py {{{','.join(PLUGINS)}}} [n_batches] [per_batch]",
              file=sys.stderr)
        return 2
    if spark is None:
        from streaming_recommendation_spark.session import get_spark

        spark = get_spark(app_name=f"soak-{argv[0]}")
        spark.sparkContext.setLogLevel("ERROR")
    out = run(spark, argv[0], *(int(a) for a in argv[1:]))
    print(json.dumps(out), flush=True)
    return 0 if out["ok"] else 1


# --- shared generators ------------------------------------------------------

JUNK = "@@@ ### !!! $$$ %%% ^^^"  # punctuation salad: fails the quality gate


def words(k: int, n: int, vocab: int) -> str:
    """n words over a vocab-word alphabet seeded by k: distinct seeds
    give pairwise-distinct docs with overwhelming probability."""
    rng = random.Random(k)
    return " ".join(f"w{rng.randrange(vocab)}" for _ in range(n))


def prose(k: int) -> str:
    """26 seeded words with stopwords interleaved, so the quality
    gate's stop ratio clears for genuine docs."""
    out = []
    for i, w in enumerate(words(k, 26, 5000).split()):
        out += [w, "the" if i % 4 == 0 else "and"] if i % 2 == 0 else [w]
    return " ".join(out)


def docs(spark, b: int, per_batch: int, text: Callable):
    """Batch b of a doc stream: ids b*per_batch .. (b+1)*per_batch - 1."""
    ids = range(b * per_batch, (b + 1) * per_batch)
    return spark.createDataFrame(
        [(k, text(k)) for k in ids], "doc_id bigint, text string"
    )


def _rows(df) -> list:
    return sorted(map(tuple, df.collect()))


def _parquet_files(*dirs) -> list:
    return [f for d in dirs
            for f in glob.glob(f"{d}/**/*.parquet", recursive=True)]


def _best_of_2(fn) -> tuple:
    """(min wall seconds of two calls, both results)."""
    t, got = [], []
    for _ in range(2):
        t0 = time.perf_counter()
        got.append(fn())
        t.append(time.perf_counter() - t0)
    return round(min(t), 3), got


def _du(*dirs) -> int:
    return sum(os.path.getsize(os.path.join(root, f))
               for d in dirs for root, _, fs in os.walk(d) for f in fs)


# --- document stores --------------------------------------------------------


@plugin(12, 500)
def dedup(spark, work, n_batches, per_batch):
    """Incremental LSH dedup (streaming/dedup.py): the batch is hashed
    once and equi-joined against the signature index. Planted: each
    k % 10 == 3 doc past batch 0 replays the doc one batch earlier."""
    from streaming_recommendation_spark.streaming.dedup import (
        dedup_ingest_batch, read_candidates,
    )

    index, cands = f"{work}/index", f"{work}/cands"

    def text(k):
        return text(k - per_batch) if k % 10 == 3 and k >= per_batch else words(k, 30, 5000)

    def read():
        pairs = {tuple(sorted(r)) for r in read_candidates(spark, cands)
                 .select("new_id", "existing_id").collect()}
        planted = [k for k in range(per_batch, n_batches * per_batch) if k % 10 == 3]
        missed = [k for k in planted if (k - per_batch, k) not in pairs]
        return {"index_rows": spark.read.parquet(index).count(),
                "candidate_pairs": len(pairs), "planted_replays": len(planted),
                "missed_replays": len(missed), "ok": planted and not missed}

    return Soak(lambda b: docs(spark, b, per_batch, text),
                {"dedup": lambda df, b: dedup_ingest_batch(df, b, index, cands)},
                read)


def _gated_text(per_batch, body):
    """Curation stream: k % 10 == 3 past batch 0 replays the doc one
    batch earlier, k % 10 == 7 is junk, the rest is ``body(k)``."""

    def text(k):
        if k % 10 == 3 and k >= per_batch:
            return text(k - per_batch)
        return JUNK if k % 10 == 7 else body(k)

    return text


@plugin(12, 500)
def curation(spark, work, n_batches, per_batch):
    """Gate-at-ingest curation (streaming/curation.py): junk fails the
    map-side quality gate and is never hashed; the rest is deduped
    against the quality-passing signature index."""
    from streaming_recommendation_spark.streaming.curation import (
        curation_ingest_batch, read_verdicts,
    )

    index, verdicts = f"{work}/index", f"{work}/verdicts"
    text = _gated_text(per_batch, prose)

    def read():
        v = read_verdicts(spark, verdicts)
        ids = range(n_batches * per_batch)
        junk = sum(text(k) == JUNK for k in ids)
        replays = {k for k in ids if k % 10 == 3 and k >= per_batch and text(k) != JUNK}
        dups = {r.doc_id for r in v.where(F.col("is_dup") == 1).select("doc_id").collect()}
        rejected = v.where(F.col("quality_kept") == 0).count()
        return {"index_rows": spark.read.parquet(index).count(),
                "admitted": v.where(F.col("admitted") == 1).count(),
                "quality_rejected": rejected, "planted_junk": junk,
                "doc_dups": len(dups), "planted_replays": len(replays),
                "ok": junk > 0 and rejected == junk and replays and dups == replays}

    return Soak(lambda b: docs(spark, b, per_batch, text),
                {"curation": lambda df, b: curation_ingest_batch(df, b, index, verdicts)},
                read)


@plugin(12, 1000)
def salvage(spark, work, n_batches, per_batch):
    """Composed salvage ingest (quality gate -> signature dup check ->
    passage dedup of admitted docs): both indexes grow. Planted on top
    of the curation stream: k % 10 == 5 docs open with one shared
    16-word passage, which every such doc admitted but the first loses
    and no other doc does. (The shared passage also makes ~3% of them
    signature near-dups, which are not admitted.)"""
    from streaming_recommendation_spark.streaming.curation import (
        read_salvage_manifests, salvage_ingest_batch,
    )

    sigs, pas, man = f"{work}/sigs", f"{work}/passages", f"{work}/manifests"
    shared = " ".join(f"s{i}" for i in range(16))
    text = _gated_text(per_batch, lambda k: shared + " " + prose(k) if k % 10 == 5 else prose(k))

    def read():
        m = read_salvage_manifests(spark, man)
        junk = sum(text(k) == JUNK for k in range(n_batches * per_batch))
        rejected = m.where(F.col("quality_kept") == 0).count()
        admitted = m.where(F.col("admitted") == 1)
        shared = admitted.where(F.col("doc_id") % 10 == 5).count()
        salvaged = admitted.where(F.col("n_dup_passages") > 0)
        n_salvaged = salvaged.count()
        return {"sig_index_rows": spark.read.parquet(sigs).count(),
                "passage_index_rows": spark.read.parquet(pas).count(),
                "admitted": admitted.count(),
                "doc_dups": m.where(F.col("is_dup") == 1).count(),
                "quality_rejected": rejected, "planted_junk": junk,
                "salvaged": n_salvaged, "admitted_shared": shared,
                "ok": junk > 0 and rejected == junk and shared > 1
                and n_salvaged == shared - 1
                and salvaged.where(F.col("doc_id") % 10 != 5).count() == 0}

    return Soak(lambda b: docs(spark, b, per_batch, text),
                {"salvage": lambda df, b: salvage_ingest_batch(df, b, sigs, pas, man)},
                read)


@plugin(12, 1000)
def passages(spark, work, n_batches, per_batch):
    """Passage-hash dedup (streaming/passages.py): the index is a set
    bounded by novelty. Planted: every doc is 3 passages; a k % 10 == 3
    doc past batch 0 replays the doc one batch earlier, so exactly its
    3 passages flag and nothing else does."""
    from streaming_recommendation_spark.streaming.passages import (
        passage_ingest_batch, read_manifests,
    )

    index, manifests = f"{work}/index", f"{work}/manifests"

    def text(k):
        return text(k - per_batch) if k % 10 == 3 and k >= per_batch else words(k, 48, 100000)

    def read():
        m = read_manifests(spark, manifests)
        planted = (F.col("doc_id") % 10 == 3) & (F.col("doc_id") >= per_batch)
        wrong = m.where(planted & (F.col("n_dup_passages") != 3)).count()
        false_pos = m.where(~planted & (F.col("n_dup_passages") != 0)).count()
        seen, dups = m.agg(F.sum("n_passages"), F.sum("n_dup_passages")).first()
        return {"index_rows": spark.read.parquet(index).count(),
                "total_passages_seen": seen, "total_dup_passages": dups,
                "planted_with_wrong_dup_count": wrong, "false_positive_docs": false_pos,
                "ok": dups > 0 and wrong == 0 and false_pos == 0}

    return Soak(lambda b: docs(spark, b, per_batch, text),
                {"passages": lambda df, b: passage_ingest_batch(df, b, index, manifests)},
                read)


def _hybrid_search(spark, pdir, vdir, queries, **kw):
    from streaming_recommendation_spark.streaming.hybrid import hybrid_query

    return _rows(hybrid_query(spark, pdir, vdir, queries, k_leg=20, k=10, **kw))


@plugin(12, 1000)
def postings(spark, work, n_batches, per_batch):
    """Inverted index (streaming/postings.py): no cross-batch join at
    ingest. The store must equal one-shot tokenization of the whole
    corpus, and BM25 over it must equal batch ``bm25_search``."""
    from streaming_recommendation_spark.operators.text import bm25_search
    from streaming_recommendation_spark.streaming.postings import (
        bm25_query, postings_batch, postings_ingest_batch, read_postings,
    )

    pdir = f"{work}/postings"

    def text(k):
        return words(k, 40, 5000)

    def read():
        whole = docs(spark, 0, n_batches * per_batch, text)
        store = read_postings(spark, pdir).select("doc_id", "term", "tf")
        oneshot = postings_batch(whole)
        parity = store.exceptAll(oneshot).unionByName(oneshot.exceptAll(store)).count() == 0
        qids = whole.where(F.col("doc_id") < 3).select(F.col("doc_id").alias("query_doc"))
        t0 = time.perf_counter()
        from_disk = _rows(bm25_query(spark, pdir, qids, k=10))
        search = time.perf_counter() - t0
        batch = _rows(bm25_search(whole, F.col("doc_id") < 3, k=10))
        return {"store_rows": store.count(), "store_equals_oneshot": parity,
                "search_from_disk_equals_batch": from_disk == batch,
                "search_sec": round(search, 3),
                "ok": parity and from_disk and from_disk == batch}

    return Soak(lambda b: docs(spark, b, per_batch, text),
                {"postings": lambda df, b: postings_ingest_batch(df, b, pdir)},
                read)


@plugin(12, 1000)
def hybrid(spark, work, n_batches, per_batch):
    """Both hybrid ingest stores (postings tf index + doc vectors):
    the RRF search from the two stores must equal the one-shot batch
    fusion (q199's arithmetic) on the same corpus."""
    from streaming_recommendation_spark.operators.features import doc_hash_embed
    from streaming_recommendation_spark.operators.similarity import cosine_topk_i64
    from streaming_recommendation_spark.operators.text import bm25_search, rrf_fuse
    from streaming_recommendation_spark.streaming.hybrid import vectors_ingest_batch
    from streaming_recommendation_spark.streaming.postings import postings_ingest_batch

    pdir, vdir = f"{work}/postings", f"{work}/vectors"

    def text(k):
        return words(k, 40, 5000)

    def read():
        whole = docs(spark, 0, n_batches * per_batch, text)
        qids = whole.where(F.col("doc_id") < 3).select(F.col("doc_id").alias("query_doc"))
        t0 = time.perf_counter()
        from_disk = _hybrid_search(spark, pdir, vdir, qids)
        search = time.perf_counter() - t0
        bm = bm25_search(whole, F.col("doc_id") < 3, k=20, scale=1000).select(
            "query_doc", "doc_id", F.col("rank").alias("bm25_rank"))
        emb = doc_hash_embed(whole, n_features=64)
        qs = emb.where(F.col("doc_id") < 3).select(
            F.col("doc_id").alias("query_doc"), F.col("vec").alias("__qv"))
        er = cosine_topk_i64(qs, emb.select("doc_id", F.col("vec").alias("__cv")), k=20)
        batch = _rows(rrf_fuse(bm, er, k=10))
        return {"hybrid_from_stores_equals_batch": from_disk == batch,
                "search_sec": round(search, 3), "ok": from_disk and from_disk == batch}

    return Soak(lambda b: docs(spark, b, per_batch, text),
                {"postings": lambda df, b: postings_ingest_batch(df, b, pdir),
                 "vectors": lambda df, b: vectors_ingest_batch(df, b, vdir)},
                read)


@plugin(24, 1000)
def store_compact(spark, work, n_batches, per_batch):
    """What compaction buys the serving read: file counts before and
    after, the same hybrid search over the delta log vs the compacted
    base, and a forget set folded in (docs 7 and per_batch + 7) that
    must be gone from every surviving parquet file."""
    from streaming_recommendation_spark.streaming.hybrid import (
        compact_doc_vectors, vectors_ingest_batch,
    )
    from streaming_recommendation_spark.streaming.postings import (
        compact_postings, postings_ingest_batch,
    )

    pdir, vdir = f"{work}/postings", f"{work}/vectors"
    pb, vb = f"{work}/postings__base", f"{work}/vectors__base"
    forgotten = (7, per_batch + 7)
    qids = spark.createDataFrame([(0,), (1,), (2,)], "query_doc bigint")

    def text(k):
        return words(k, 40, 5000)

    def search(**kw):
        return _best_of_2(lambda: _hybrid_search(spark, pdir, vdir, qids, **kw))

    def read():
        files_before = len(_parquet_files(pdir, vdir))
        t_raw, raw = search()
        forget = spark.createDataFrame([(d,) for d in forgotten], "doc_id bigint")
        # read-time filtering must equal physical erasure (q223's parity)
        filtered = _hybrid_search(spark, pdir, vdir, qids, tombstones=forget)
        t0 = time.perf_counter()
        compact_postings(spark, pdir, pb, upto_batch_id=n_batches - 1, tombstones=forget)
        compact_doc_vectors(spark, vdir, vb, upto_batch_id=n_batches - 1, tombstones=forget)
        t_compact = time.perf_counter() - t0
        files = _parquet_files(pdir, vdir, pb, vb)
        t_compacted, got = search(postings_base_dir=pb, vectors_base_dir=vb)
        left = sum(spark.read.parquet(f).where(F.col("doc_id").isin(*forgotten)).count()
                   for f in files)
        return {"files_before": files_before, "files_after": len(files),
                "compact_sec": round(t_compact, 2), "search_raw_sec": t_raw,
                "search_compacted_sec": t_compacted, "forgotten_rows_in_files": left,
                "ok": raw[0] == raw[1] and got[0] == got[1] == filtered
                and left == 0 and all(r[1] not in forgotten for r in got[0])}

    return Soak(lambda b: docs(spark, b, per_batch, text),
                {"postings": lambda df, b: postings_ingest_batch(df, b, pdir),
                 "vectors": lambda df, b: vectors_ingest_batch(df, b, vdir)},
                read)


@plugin(20, 1000)
def skewed_store(spark, work, n_batches, per_batch):
    """Hybrid and passage serving reads under a power-law corpus: 30%
    of docs (k % 10 < 3) carry one hot term. The query side broadcasts
    into the postings scan and rank <= k compiles to WindowGroupLimit,
    so hot candidates collapse map-side; hot vs cold latency spread is
    recorded and the plan pins are checked (the structural pin is
    tests/test_plan_audit.py::test_skewed_store_read_plan)."""
    from streaming_recommendation_spark.operators.text import best_passage_from_positions
    from streaming_recommendation_spark.streaming import store
    from streaming_recommendation_spark.streaming.hybrid import (
        compact_doc_vectors, hybrid_query, vectors_ingest_batch,
    )
    from streaming_recommendation_spark.streaming.postings import (
        compact_positional, compact_postings, positional_ingest_batch,
        postings_ingest_batch,
    )

    hot = "hotterm"
    pdir, pb = f"{work}/post", f"{work}/postb"
    vdir, vb = f"{work}/vec", f"{work}/vecb"
    odir, ob = f"{work}/pos", f"{work}/posb"

    def text(k):
        w = words(k, 30, 5000).split()
        if k % 10 < 3:
            w[3] = w[11] = w[23] = hot
        return " ".join(w)

    def hybrid_read(q):
        return hybrid_query(spark, pdir, vdir, q, k_leg=20, k=10,
                            postings_base_dir=pb, vectors_base_dir=vb)

    def passage_read(q):
        pos = store.read_store_resolved(
            spark, odir, "doc_id bigint, term string, pos int, batch_id bigint",
            ob, ["doc_id"]).drop("batch_id")
        return best_passage_from_positions(pos, q, window=16, k_docs=5)

    def read():
        last = n_batches - 1
        compact_postings(spark, pdir, pb, upto_batch_id=last)
        compact_doc_vectors(spark, vdir, vb, upto_batch_id=last)
        compact_positional(spark, odir, ob, upto_batch_id=last)
        tf = store.read_store_resolved(
            spark, pdir, "doc_id bigint, term string, tf bigint, batch_id bigint",
            pb, ["doc_id"])
        n_docs = n_batches * per_batch
        n_hot = tf.where(F.col("term") == hot).count()
        # doc 0 carries the hot term; doc 5 does not
        hot_q = spark.createDataFrame([(0,)], "query_doc bigint")
        cold_q = spark.createDataFrame([(5,)], "query_doc bigint")
        t = {f"{kind}_{temp}_s": _best_of_2(lambda: fn(q).count())[0]
             for kind, fn in (("hybrid", hybrid_read), ("passage", passage_read))
             for temp, q in (("hot", hot_q), ("cold", cold_q))}
        plan = hybrid_read(hot_q)._jdf.queryExecution().executedPlan().toString()
        return {"n_docs": n_docs, "hot_doc_fraction": round(n_hot / n_docs, 3), **t,
                "hybrid_spread": round(t["hybrid_hot_s"] / t["hybrid_cold_s"], 2),
                "passage_spread": round(t["passage_hot_s"] / t["passage_cold_s"], 2),
                "window_group_limit_pinned": "WindowGroupLimit" in plan,
                "ok": "WindowGroupLimit" in plan and "CartesianProduct" not in plan
                and n_hot == sum(k % 10 < 3 for k in range(n_docs))}

    return Soak(lambda b: docs(spark, b, per_batch, text),
                {"postings": lambda df, b: postings_ingest_batch(df, b, pdir),
                 "vectors": lambda df, b: vectors_ingest_batch(df, b, vdir),
                 "positional": lambda df, b: positional_ingest_batch(df, b, odir)},
                read)


@plugin(200, 100)
def retention(spark, work, n_batches, per_batch):
    """Does versioned state keep disk bounded over a long stream, and
    does pruning ever resurrect or lose data?

    ``store``: the postings store compacts in-stream every 10 batches
    (default upto = newest - 1, the in-flight rule). Doc 0 is upserted
    with fresh text every batch and doc 7 is tombstoned from a quarter
    of the run on. After every batch: generation dirs <= 2 and delta
    partitions <= compact_every + 1; after every compaction doc 0
    reads exactly its newest text and doc 7 reads absent. Disk
    high-water must stay under 3x the final size.

    ``bucketed``: a per-key counter through ``state.fold_bucketed``
    with keep_versions=3: version dirs stay <= keep + 2 and the final
    read equals the full-log count."""
    from streaming_recommendation_spark.streaming import state, store
    from streaming_recommendation_spark.streaming.postings import (
        compact_postings, postings_ingest_batch,
    )

    compact_every, keep = 10, 3
    pdir, pb, sdir = f"{work}/postings", f"{work}/postings__base", f"{work}/counts"
    tf_schema = "doc_id bigint, term string, tf bigint, batch_id bigint"
    counts_schema = "k bigint, n bigint, bucket int"
    forget_from = n_batches // 4
    forget = spark.createDataFrame([(7,)], "doc_id bigint")
    rng, truth, broken = random.Random(1234), {}, []
    hw = {"store": 0, "bucketed": 0, "gens": 0, "deltas": 0, "versions": 0, "checks": 0}

    def text(k, salt=0):
        return words((k << 20) | salt, 30, 5000)

    def batch(b):
        rows = [(k, text(k)) for k in range(b * per_batch + 1, (b + 1) * per_batch)]
        return spark.createDataFrame(rows + [(0, text(0, salt=b + 1))],
                                     "doc_id bigint, text string")

    def check(cond, what, b):
        if not cond:
            broken.append(f"{what} at batch {b}")

    def live():
        return store.read_store_resolved(spark, pdir, tf_schema, pb, ["doc_id"])

    def fold_store(df, b):
        postings_ingest_batch(df, b, pdir)
        if b > 0 and b % compact_every == 0:
            compact_postings(spark, pdir, pb,
                             tombstones=forget if b >= forget_from else None)
            doc0 = sorted(r.term for r in live().where(F.col("doc_id") == 0).collect())
            check(doc0 == sorted(set(text(0, salt=b + 1).split())), "upsert resurrection", b)
            if b >= forget_from:
                check(live().where(F.col("doc_id") == 7).count() == 0, "erasure regression", b)
            hw["checks"] += 1
        n_gens, n_deltas = len(store.gen_entries(pb)), len(store.delta_batch_ids(pdir))
        check(n_gens <= 2, "generation retention leak", b)
        check(n_deltas <= compact_every + 1, "delta sweep leak", b)
        hw.update(store=max(hw["store"], _du(pdir, pb)), gens=max(hw["gens"], n_gens),
                  deltas=max(hw["deltas"], n_deltas))

    def merge(stored, batch_counts):
        return (stored.drop("bucket").unionByName(batch_counts)
                .groupBy("k").agg(F.sum("n").alias("n")))

    def fold_bucketed(_df, b):
        ks = [rng.randrange(500) for _ in range(50)]
        for k in ks:
            truth[k] = truth.get(k, 0) + 1
        counts = (spark.createDataFrame([(k,) for k in ks], "k bigint")
                  .groupBy("k").agg(F.count(F.lit(1)).alias("n")))
        state.fold_bucketed(counts, "k", sdir, counts_schema, b, n_buckets=8,
                            merge_fn=merge, keep_versions=keep)
        n_versions = len(state.versions(sdir))
        # touched buckets get a fresh copy each batch; stale copies
        # prune after `keep`, so the count never grows with b
        check(n_versions <= keep + 2, "version retention leak", b)
        hw.update(bucketed=max(hw["bucketed"], _du(sdir)),
                  versions=max(hw["versions"], n_versions))

    def read():
        compact_postings(spark, pdir, pb, upto_batch_id=n_batches - 1, tombstones=forget)
        final = live()
        check(final.where(F.col("doc_id") == 7).count() == 0, "erasure regression", "end")
        got = {r.k: r.n for r in state.read_bucketed(spark, sdir, counts_schema).collect()}
        check(got == truth, "bucketed state diverged from the full-log count", "end")
        store_bytes, counts_bytes = _du(pdir, pb), _du(sdir)
        # a growing corpus bounds high-water by final + one delta
        # window + one retained generation (~2x); 3x is the alarm
        check(hw["store"] <= 3 * store_bytes, "disk high-water unbounded", "end")
        return {"compact_every": compact_every, "keep_versions": keep,
                "n_docs_final": final.select("doc_id").distinct().count(),
                "store_hw_over_final": round(hw["store"] / store_bytes, 3),
                "bucketed_hw_over_final": round(hw["bucketed"] / counts_bytes, 3),
                "max_gen_dirs": hw["gens"], "max_delta_parts": hw["deltas"],
                "max_version_dirs": hw["versions"], "compaction_checks": hw["checks"],
                "broken": broken, "ok": hw["checks"] > 0 and not broken}

    return Soak(batch, {"store": fold_store, "bucketed": fold_bucketed}, read)


# --- event and vector stores ------------------------------------------------


@plugin(10, 5000)
def composed(spark, work, n_batches, per_batch):
    """One event stream drives SCD2 dimension maintenance, HLL
    cardinality and CMS frequency in one fold: SCD2 writes touch the
    affected buckets and sketch snapshots are constant-size. Planted:
    5000 users, and each user's event type rotates on every event, so
    every event opens exactly one SCD2 interval."""
    from streaming_recommendation_spark.operators.scd2 import scd2_finalize
    from streaming_recommendation_spark.streaming.scd2 import Scd2Stream
    from streaming_recommendation_spark.streaming.sketches import (
        CmsStreamSketch, HllStreamSketch, read_sketch_state, sketch_ingest_batch,
    )

    dim = Scd2Stream(f"{work}/scd2", n_buckets=16)
    hll = HllStreamSketch("user_id", ["event_type"], group_schema="event_type string")
    cms = CmsStreamSketch("user_id")

    def batch(b):
        ids = spark.range(b * per_batch, (b + 1) * per_batch)
        return ids.select(
            (F.col("id") % 5000).alias("user_id"),
            F.concat(F.lit("t"), (F.col("id") + F.floor(F.col("id") / 5000)) % 4)
            .alias("event_type"),
            F.col("id").alias("ts"),
            F.col("id").alias("event_id"),
        )

    def fold(df, b):
        dim.ingest_batch(df, b)
        sketch_ingest_batch(df, b, hll, f"{work}/hll")
        sketch_ingest_batch(df, b, cms, f"{work}/cms")

    def read():
        intervals = scd2_finalize(dim.read_state(spark)).count()
        return {"events": n_batches * per_batch, "scd2_intervals": intervals,
                "hll_state_rows": read_sketch_state(spark, f"{work}/hll", hll.schema()).count(),
                "cms_state_rows": read_sketch_state(spark, f"{work}/cms", cms.schema()).count(),
                "ok": intervals == n_batches * per_batch}

    return Soak(batch, {"composed": fold}, read)


@plugin(12, 50000)
def vector(spark, work, n_batches, per_batch):
    """IVF vector-index ingest (streaming/vectors.py) with 10% of each
    batch re-ingesting ids of the batch before (the upsert case): cell
    assignment never touches the stored corpus, and compaction keeps
    one row per id in one generation. ANN latency is read over the
    deltas, through the latest_only fallback, and post-compaction."""
    from streaming_recommendation_spark.streaming.vectors import VectorIndexStream

    dim = 64

    def vecs(ids):
        return ids.select(
            F.col("id").alias("vec_id"),
            F.transform(
                F.sequence(F.lit(1), F.lit(dim)),
                lambda i: (F.pmod(F.xxhash64(F.col("id") * 131 + i), F.lit(1000))
                           / 500.0 - 1.0).cast("float"),
            ).alias("embedding"),
        )

    def batch(b):
        fresh = spark.range(b * per_batch, (b + 1) * per_batch)
        if b == 0:
            return vecs(fresh)
        redo = spark.range((b - 1) * per_batch, (b - 1) * per_batch + per_batch // 10)
        return vecs(fresh.union(redo))

    vix = VectorIndexStream(f"{work}/index", f"{work}/lm")
    vix.init_landmarks(vecs(spark.range(0, per_batch)), num_landmarks=32)

    def read():
        queries = vecs(spark.range(0, 50)).select(
            F.col("vec_id").alias("query_id"), "embedding").persist()
        queries.count()

        def query_sec(**kw):
            t0 = time.perf_counter()
            vix.ann_query(spark, queries, k=10, n_probe=4, **kw).count()
            return round(time.perf_counter() - t0, 2)

        out = {"parquet_files_pre": len(_parquet_files(vix.index_dir)),
               "index_rows_pre_compact": vix.read_index(spark).count(),
               "query_default_over_deltas_sec": query_sec(),
               "query_latest_only_sec": query_sec(latest_only=True)}
        t0 = time.perf_counter()
        gen = vix.compact(spark, upto_batch_id=n_batches - 1)
        rows = vix.read_index(spark)
        post, distinct = rows.count(), rows.select("neighbor_id").distinct().count()
        queries.unpersist()
        return {**out, "compact_sec": round(time.perf_counter() - t0, 2),
                "index_rows_post_compact": post,
                "parquet_files_post": len(_parquet_files(f"{vix.base_dir}/v={gen}")),
                "query_default_post_compact_sec": query_sec(),
                "ok": post == distinct == n_batches * per_batch}

    return Soak(batch, {"vector": vix.ingest_batch}, read)


@plugin(16, 5000)
def itemcf(spark, work, n_batches, per_batch):
    """Item-CF maintenance (streaming/itemcf.py) with signed pair
    deltas: a fixed per-batch user count while total users and pairs
    grow, and every batch both adds and retracts pairs (8 new items a
    batch against a 20-item window evict old ones). Users cycle
    through 4 cohorts, so steady state starts when the first cohort
    returns at batch 4: the flatness warm-up. Planted: every cohort
    user seen so far holds a window of at most 20 items."""
    from streaming_recommendation_spark.streaming.itemcf import ItemCfStream

    cap, items_per_user, cohorts = 20, 8, 4
    cf = ItemCfStream(f"{work}/state", max_items=cap, n_user_buckets=16, n_pair_buckets=16)

    def batch(b):
        # recency strictly increases with b (per-user in-order); item
        # ids drift with b so windows churn, and overlap modestly
        # across users so pair counts exceed 1
        c = b % cohorts
        users = spark.range(c * per_batch, (c + 1) * per_batch).select(
            F.col("id").alias("user_id"),
            F.explode(F.sequence(F.lit(0), F.lit(items_per_user - 1))).alias("k"))
        return users.select(
            "user_id",
            F.pmod(F.xxhash64(F.col("user_id") * 7 + F.col("k") + b * 3), F.lit(500))
            .alias("item_id"),
            (F.lit(b * 1000) + F.col("k")).alias("ts"))

    def read():
        sizes = cf.read_windows(spark).groupBy("user_id").count()
        users, biggest = sizes.agg(F.count(F.lit(1)), F.max("count")).first()
        t0 = time.perf_counter()
        top = cf.similarity(spark, "cosine", min_pair_users=2).count()
        return {"interactions_per_batch": per_batch * items_per_user,
                "window_users": users, "max_window": biggest,
                "positive_pairs": cf.read_pair_counts(spark)
                .where(F.col("pair_users") > 0).count(),
                "similarity_rows_min2": top,
                "similarity_query_sec": round(time.perf_counter() - t0, 2),
                "ok": users == min(n_batches, cohorts) * per_batch and biggest <= cap}

    return Soak(batch, {"itemcf": cf.ingest_batch}, read, warmup=cohorts)


@plugin(12, 100000)
def funnel(spark, work, n_batches, per_batch):
    """Funnel + target-encode states (streaming/funnel.py, encode.py)
    over events for a rotating cohort of a fixed 20,000-user universe:
    funnel state stays <= users x stages rows and encode state <=
    users rows however many events fold in."""
    from streaming_recommendation_spark.streaming.encode import TargetEncodeStream
    from streaming_recommendation_spark.streaming.funnel import FunnelStream

    stages, n_users = ["view", "click", "purchase"], 20_000
    fs = FunnelStream(f"{work}/funnel", stages=stages, n_buckets=16, keep_versions=2)
    te = TargetEncodeStream(
        f"{work}/encode", category_col="user_id",
        target_predicate=lambda df: F.col("event_type") == "purchase",
        smoothing=100, n_buckets=16, keep_versions=2)

    def batch(b):
        types = F.array(*[F.lit(s) for s in stages + ["signup", "error"]])
        return spark.range(per_batch).select(
            ((F.col("id") * 13 + b * 7919) % n_users).alias("user_id"),
            (F.col("id") + b * per_batch).alias("event_id"),
            F.timestamp_seconds(F.lit(1704067200) + b * 3600
                                + F.pmod(F.col("id"), F.lit(3600))).alias("ts"),
            F.element_at(types, (F.pmod(F.xxhash64(F.col("id") + b), F.lit(5)) + 1)
                         .cast("int")).alias("event_type"))

    def fold(df, b):
        fs.ingest_batch(df, b)
        te.ingest_batch(df, b)

    def read():
        firsts, counts = fs.read_firsts(spark).count(), te.read_counts(spark).count()
        t0 = time.perf_counter()
        funnel_users = {r.stage: r.users for r in fs.funnel(spark).collect()}
        t_funnel = time.perf_counter() - t0
        t0 = time.perf_counter()
        te.encoding(spark).count()
        return {"firsts_rows": firsts, "firsts_bound": n_users * len(stages),
                "encode_rows": counts, "funnel_users": funnel_users,
                "funnel_query_sec": round(t_funnel, 2),
                "encoding_query_sec": round(time.perf_counter() - t0, 2),
                "ok": 0 < firsts <= n_users * len(stages) and 0 < counts <= n_users}

    return Soak(batch, {"funnel": fold}, read)


@plugin(12, 100000)
def anomaly(spark, work, n_batches, per_batch):
    """Continuous aggregate + alerting read (streaming/timeseries.py):
    each batch is one hour over 2,000 keys and reduces map-side to
    <= 1 row per (key, hour), so obs state grows with hours, never with
    events. Planted: a per-key spike on ~4 keys an hour, which the
    q173 rolling read (24-row window, 12-row baseline) must flag."""
    from streaming_recommendation_spark.streaming.timeseries import TimeBucketStream

    n_keys = 2_000
    ts = TimeBucketStream(f"{work}/state", bucket_seconds=3600, n_buckets=16, keep_versions=2)

    def batch(b):
        # the spike is per KEY so it survives the last-obs-per-bucket
        # reduction (an event-level spike almost never lands on the
        # bucket's last observation)
        key = F.pmod(F.col("id") * 31 + b, F.lit(n_keys))
        spike = F.when(F.pmod(key + b, F.lit(499)) == 0, F.lit(5000.0)).otherwise(0.0)
        return spark.range(per_batch).select(
            key.alias("user_id"),
            F.timestamp_seconds(F.lit(1704067200) + b * 3600
                                + F.pmod(F.col("id"), F.lit(3600))).alias("ts"),
            (F.pmod(F.xxhash64(F.col("id") + b * 7919), F.lit(100)).cast("double")
             + spike).alias("value"))

    def read():
        obs = ts.read_obs(spark).count()
        t0 = time.perf_counter()
        flagged = ts.anomalies(spark, window_rows=24, k_sigma=2, min_baseline=12).where(
            F.col("is_anomaly")).count()
        return {"obs_rows": obs, "obs_bound_keys_x_hours": n_keys * n_batches,
                "anomalies_flagged": flagged,
                "alerting_read_sec": round(time.perf_counter() - t0, 2),
                "ok": obs <= n_keys * n_batches and flagged > 0}

    return Soak(batch, {"anomaly": ts.ingest_batch}, read)


# --- the paper's profile ingest leg -----------------------------------------

ROCKSDB = "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
PROVIDER_KEY = "spark.sql.streaming.stateStore.providerClass"


def _profiles(spark, work, n_batches, per_batch, mode):
    """File-stream harness of the paper's ingest leg: parse ->
    watermark dedup -> versioned KV writes on executors. Each batch is
    one message file of distinct (user, ts) pairs, so the dedup keeps
    all of them and written keys == messages audits delivery."""
    from streaming_recommendation_spark.streaming.pipeline import profile_pipeline
    from streaming_recommendation_spark.streaming.sink import JsonlDirSink

    msgs, ckpt = f"{work}/msgs", f"{work}/ckpt"
    sink = JsonlDirSink(f"{work}/kv")
    total = n_batches * per_batch
    os.makedirs(msgs)

    def batch(b):
        with open(f"{msgs}/batch{b:04d}.txt", "w") as fh:
            for k in range(b * per_batch, (b + 1) * per_batch):
                fh.write(json.dumps({"user_id": f"u{k % 5000}",
                                     "history_items": [f"i{k % 97}", f"i{(k + 1) % 97}"],
                                     "timestamp": 1_700_000_000 + k}) + "\n")

    def drain(raw):
        q = profile_pipeline(raw, sink, checkpoint_dir=ckpt)
        if not q.awaitTermination(600):
            q.stop()  # before the work dir goes away under a live query
            raise RuntimeError(f"soak did not finish within 600 s ({total} messages)")
        return q

    def crash_then_drain():
        # leg 1: hard-stop after 4 non-empty micro-batches (a kill
        # mid-stream, not a clean drain); leg 2: restart from the
        # same checkpoint
        q = profile_pipeline(
            spark.readStream.option("maxFilesPerTrigger", max(1, n_batches // 8)).text(msgs),
            sink, checkpoint_dir=ckpt)
        while q.isActive and sum(p["numInputRows"] > 0 for p in q.recentProgress) < 4:
            time.sleep(0.05)
        q.stop()
        q.awaitTermination(120)
        return len(sink.read_all()), drain(spark.readStream.text(msgs))

    def read():
        prev = spark.conf.get(PROVIDER_KEY, None)
        t0 = time.perf_counter()
        try:
            if mode == "rocksdb":
                spark.conf.set(PROVIDER_KEY, ROCKSDB)
            if mode == "crash":
                interrupted, q = crash_then_drain()
            else:
                interrupted, q = None, drain(spark.readStream.text(msgs))
        finally:
            if prev is None:
                spark.conf.unset(PROVIDER_KEY)
            else:
                spark.conf.set(PROVIDER_KEY, prev)
        wall = time.perf_counter() - t0
        ops = [op for p in q.recentProgress for op in p["stateOperators"]]
        op = ops[-1] if ops else {}
        rocks = sorted(m for m in op.get("customMetrics", {}) if m.startswith("rocksdb"))
        written = len(sink.read_all())
        return {"mode": mode, "profiles_per_sec": round(total / wall, 1),
                "n_profiles": total, "stream_sec": round(wall, 2),
                "interrupted_keys": interrupted,
                "state_operator": op.get("operatorName"),
                "state_rows": op.get("numRowsTotal"),
                "state_memory_bytes": op.get("memoryUsedBytes"),
                "rocksdb_metrics": rocks[:3],
                "ok": written == total and (mode != "crash" or interrupted < total)
                and (mode != "rocksdb" or bool(rocks))}

    return Soak(batch, {}, read)


@plugin(25, 2000)
def profiles(spark, work, n_batches, per_batch):
    return _profiles(spark, work, n_batches, per_batch, "clean")


@plugin(25, 2000)
def profiles_rocksdb(spark, work, n_batches, per_batch):
    return _profiles(spark, work, n_batches, per_batch, "rocksdb")


@plugin(25, 2000)
def profiles_crash(spark, work, n_batches, per_batch):
    return _profiles(spark, work, n_batches, per_batch, "crash")


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
