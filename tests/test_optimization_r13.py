"""Round-layout tests for ``plans.audit.checkpoint_partitioned``, the
one materialization step of every iterative operator: widths sized
from a materialized frame's bytes (never the core count), session
settings restored, bytes read off the checkpoint's own RDD, the
static-side relayout rule, and output that does not depend on the
layout.

The VALUE semantics of every operator are pinned elsewhere
(test_suffix / test_bpe / test_graph / test_dedup brute-force parity
+ the DuckDB oracles); the layout-invariance test here runs each
operator at both extreme widths.
"""
from __future__ import annotations

import ast
import importlib
import pathlib

import pytest
from pyspark.sql import functions as F

audit_mod = importlib.import_module(
    "streaming_recommendation_spark.plans.audit"
)
from streaming_recommendation_spark.plans.audit import (  # noqa: E402
    checkpoint_partitioned,
    release,
)

from .conftest import SF_DIR, count_jobs  # noqa: E402


def _width_from(spark, size_from):
    return checkpoint_partitioned(
        spark.range(200).selectExpr("id", "id % 7 as k"), "k",
        size_from=size_from,
    ).rdd.getNumPartitions()


def test_round_width_arithmetic(spark, monkeypatch):
    cap = int(spark.conf.get("spark.sql.shuffle.partitions"))
    src = checkpoint_partitioned(spark.range(1000).selectExpr("id * 3 as v"))
    nbytes = audit_mod._checkpoint_bytes(src)
    # tiny frame -> floor 1
    assert _width_from(spark, src) == 1
    # exactly one target -> 1, one byte over -> 2
    monkeypatch.setattr(audit_mod, "ROUND_TARGET_BYTES", nbytes)
    assert _width_from(spark, src) == 1
    monkeypatch.setattr(audit_mod, "ROUND_TARGET_BYTES", nbytes - 1)
    assert _width_from(spark, src) == 2
    # huge frame -> capped at the session width (the 100 TB behavior)
    monkeypatch.setattr(audit_mod, "ROUND_TARGET_BYTES", 1)
    assert _width_from(spark, src) == cap
    # unknown bytes (no frame, a frame that is no checkpoint, or a
    # checkpoint with no partitions) -> the session default
    assert _width_from(spark, None) == cap
    assert _width_from(spark, spark.range(10)) == cap
    assert _width_from(spark, checkpoint_partitioned(spark.range(0))) == cap
    # an empty but partitioned checkpoint lists a few bytes: width 1
    monkeypatch.setattr(audit_mod, "ROUND_TARGET_BYTES", 8 << 20)
    empty = checkpoint_partitioned(spark.range(0).selectExpr("id as k"), "k")
    assert _width_from(spark, empty) == 1


def test_checkpoint_width_honored_and_conf_restored(spark, monkeypatch):
    aqe = spark.conf.get("spark.sql.adaptive.enabled")
    sp = spark.conf.get("spark.sql.shuffle.partitions")
    src = checkpoint_partitioned(spark.range(1000).selectExpr("id * 3 as v"))
    nbytes = audit_mod._checkpoint_bytes(src)
    monkeypatch.setattr(audit_mod, "ROUND_TARGET_BYTES", -(-nbytes // 3))
    df = spark.range(1000).selectExpr("id", "id % 7 as k")
    out = checkpoint_partitioned(df, "k", size_from=src)
    assert out.rdd.getNumPartitions() == 3
    part = out._jdf.queryExecution().executedPlan().outputPartitioning()
    assert "hashpartitioning(k" in part.toString()
    # session conf untouched after the materialization
    assert spark.conf.get("spark.sql.adaptive.enabled") == aqe
    assert spark.conf.get("spark.sql.shuffle.partitions") == sp
    # values identical regardless of layout width
    assert out.orderBy("id").collect() == df.orderBy("id").collect()


def test_checkpoint_conf_restored_on_failure(spark):
    aqe = spark.conf.get("spark.sql.adaptive.enabled")
    sp = spark.conf.get("spark.sql.shuffle.partitions")
    # a tiny source sizes the failing layout to width 1, so a window
    # left open would leave shuffle.partitions visibly changed
    src = checkpoint_partitioned(spark.range(10))
    assert int(sp) != 1

    @F.udf("long")
    def boom(x):
        raise ValueError("boom in a round udf")

    with pytest.raises(Exception, match="boom in a round udf"):
        checkpoint_partitioned(
            spark.range(100).select(boom("id").alias("k")), "k",
            size_from=src,
        )
    assert spark.conf.get("spark.sql.adaptive.enabled") == aqe
    assert spark.conf.get("spark.sql.shuffle.partitions") == sp


def test_narrow_static_layout_fires_only_when_small(spark, monkeypatch):
    sc = spark.sparkContext
    cap = int(spark.conf.get("spark.sql.shuffle.partitions"))

    def static(df, group):
        sc.setJobGroup(group, group)
        try:
            out = checkpoint_partitioned(df, "k", static=True)
        finally:
            sc.setJobGroup("idle", "idle")
        return out, len(sc.statusTracker().getJobIdsForGroup(group))

    df = spark.range(2000).selectExpr("id", "id % 13 as k")
    # tiny frame: one more materialization, laid out frame-sized but
    # at least 2 wide (a one-partition layout is SinglePartition, which
    # a keyed join re-shuffles)
    narrowed, jobs = static(df, "static-small")
    assert narrowed.rdd.getNumPartitions() == 2
    assert jobs == 2
    assert sorted(narrowed.collect()) == sorted(df.collect())
    # unknown bytes (no partitions): the layout stays as it was
    empty = checkpoint_partitioned(spark.range(0), static=True)
    assert audit_mod._checkpoint_bytes(empty) is None
    assert empty.rdd.getNumPartitions() == 0
    # "large" frame (bytes >> target): the relayout never runs — at
    # 100 TB a static side costs exactly one materialization
    monkeypatch.setattr(audit_mod, "ROUND_TARGET_BYTES", 1)
    wide, jobs = static(df, "static-large")
    assert wide.rdd.getNumPartitions() == cap
    assert jobs == 1


def test_local_checkpoint_measured_reports_bytes(spark):
    df = spark.range(5000).selectExpr("id * 2 as v")
    out = checkpoint_partitioned(df)
    nbytes = audit_mod._checkpoint_bytes(out)
    assert nbytes is not None and nbytes > 0
    assert out.count() == 5000
    # the size is read off the checkpoint a frame reads: a coalesce of
    # the checkpoint has its bytes, a frame that reads none has none
    assert audit_mod._checkpoint_bytes(out.coalesce(1)) == nbytes
    assert audit_mod._checkpoint_bytes(df) is None

    # an upstream persist the SAME action materializes gets its own
    # storage entry; the reported bytes are still exactly the
    # checkpoint's (equal to checkpointing the same rows with no
    # persist upstream), not the upstream's and not their sum
    sc = spark.sparkContext._jsc.sc()
    up = spark.range(5000).selectExpr("id", "id * 3 as w").persist()
    try:
        cached_before = {i.id() for i in sc.getRDDStorageInfo()}
        out2 = checkpoint_partitioned(up.selectExpr("id * 2 as v"))
        fresh = [i for i in sc.getRDDStorageInfo() if i.id() not in cached_before]
        assert len(fresh) == 2  # the upstream cache and the checkpoint
        assert audit_mod._checkpoint_bytes(out2) == nbytes
        assert sorted(out2.collect()) == sorted(out.collect())
    finally:
        up.unpersist()


# ---------------------------------------------------------------------------
# every caller: output identical at the widest and the narrowest layout
# ---------------------------------------------------------------------------

_EDGES = [(1, 2), (2, 3), (3, 1), (3, 4), (4, 5), (5, 6), (6, 4), (6, 7),
          (2, 5), (8, 9)]


def _edges(spark):
    return spark.createDataFrame(_EDGES, "src bigint, dst bigint")


def _seeds(spark):
    return spark.createDataFrame([(1,)], "node bigint")


def _pagerank(spark):
    from streaming_recommendation_spark.operators.graph import (
        pagerank_quantized,
    )

    return pagerank_quantized(_edges(spark), rounds=3, seeds=_seeds(spark))


def _bfs(spark):
    from streaming_recommendation_spark.operators.graph import bfs_distances

    # hops past the graph's depth from node 1 are empty
    return bfs_distances(_edges(spark), _seeds(spark), max_hops=6)


def _kcore(spark):
    from streaming_recommendation_spark.operators.graph import kcore

    return kcore(_edges(spark), 2, rounds=3)


def _walks(spark):
    from streaming_recommendation_spark.operators.graph import random_walks

    return random_walks(_edges(spark), walk_length=4, walks_per_node=2)


def _propagate(spark):
    from streaming_recommendation_spark.operators.graph import (
        propagate_embeddings,
    )

    feats = spark.createDataFrame(
        [(n, d, (n * 37 + d * 11) % 23 - 11) for n in range(1, 10)
         for d in range(2)],
        "node bigint, dim bigint, val bigint",
    )
    return propagate_embeddings(_edges(spark), feats, rounds=2)


def _components(spark):
    from streaming_recommendation_spark.operators.dedup import (
        connected_components,
    )

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (5, 6), (7, 7)], "a bigint, b bigint"
    )
    return connected_components(pairs)


_DOCS = [
    (1, "a b c d a b c d a b c d"),
    (2, "a b c d x y z w q r s t"),
    (3, "x y z w a b c d a b c d"),
]


def _bpe(spark):
    from streaming_recommendation_spark.operators.bpe import learn_bpe

    docs = spark.createDataFrame(
        [(i, f"{t} lower lowest newer newest") for i, t in _DOCS],
        "doc_id long, text string",
    )
    return learn_bpe(docs, num_merges=10, count_mode="delta")


def _exact_substring(spark):
    from streaming_recommendation_spark.operators.suffix import (
        exact_substring_duplicates,
    )

    docs = spark.createDataFrame(_DOCS, "doc_id long, text string")
    return exact_substring_duplicates(docs, min_len=4)


@pytest.mark.parametrize(
    "run",
    [_pagerank, _bfs, _kcore, _walks, _propagate, _components, _bpe,
     _exact_substring],
    ids=["pagerank_personalized", "bfs_distances", "kcore", "random_walks",
         "propagate_embeddings", "connected_components", "learn_bpe",
         "exact_substring_duplicates"],
)
def test_round_layout_invariant(spark, monkeypatch, run):
    # an operator's OUTPUT is identical whether its round layouts are
    # wide (target=1 byte -> width = session cap, no static relayout)
    # or fully collapsed (target=1 GiB -> width 1, keyed static sides
    # relaid out at width 2): layout is pure placement
    def once(target):
        monkeypatch.setattr(audit_mod, "ROUND_TARGET_BYTES", target)
        out = run(spark)
        # a merge list is ordered; a frame's rows are not
        return out if isinstance(out, list) else sorted(
            tuple(r) for r in out.collect()
        )

    wide, collapsed = once(1), once(1 << 30)
    assert wide == collapsed
    assert wide  # the fixture gives every operator something to do


def test_exact_substring_fixture_has_duplicates(spark):
    assert any(row[3] > 0 for row in _exact_substring(spark).collect())


def test_session_conf_set_only_in_checkpoint_window():
    # session-wide settings change in exactly one place: the
    # materialization window of checkpoint_partitioned (plus the
    # parquet-nanos read flag set where events are loaded)
    pkg = pathlib.Path(audit_mod.__file__).resolve().parents[1]
    found = set()
    for path in sorted(pkg.rglob("*.py")):
        src = path.read_text()
        if "conf.set(" not in src:
            continue
        funcs = [
            n for n in ast.walk(ast.parse(src))
            if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef))
        ]
        for lineno, line in enumerate(src.splitlines(), 1):
            if "conf.set(" in line:
                owners = [f for f in funcs if f.lineno <= lineno <= f.end_lineno]
                owner = min(owners, key=lambda f: f.end_lineno - f.lineno,
                            default=None)
                found.add((path.relative_to(pkg).as_posix(),
                           owner.name if owner else None))
    assert found == {
        ("plans/audit.py", "_checkpoint"),
        ("sources/testdata.py", "load_table"),
    }


def test_bare_local_checkpoints_only_shrink():
    # every round should materialize through checkpoint_partitioned;
    # the bare .localCheckpoint() calls left under operators/ may only
    # go down from here
    pkg = pathlib.Path(audit_mod.__file__).resolve().parents[1]
    n = sum(
        path.read_text().count(".localCheckpoint()")
        for path in sorted((pkg / "operators").rglob("*.py"))
    )
    assert n <= 11, n


# ---------------------------------------------------------------------------
# q148 (personalized PageRank): jobs per run, and released rounds
# ---------------------------------------------------------------------------


def _q148(spark):
    from streaming_recommendation_spark.queries import registry

    (q,) = [q for name, q in registry().items() if name.startswith("q148_")]
    return q.fn(spark, SF_DIR)


def test_q148_job_count(spark):
    # one AQE-off job per superstep: the edge side (its orders
    # broadcast, itself, its narrow relayout), the seed and seed-count
    # broadcasts, round 0, three rounds and the collect; the table
    # schemas are remembered from the first run
    first = _q148(spark).collect()
    rows = []
    run = lambda: rows.extend(_q148(spark).collect())
    jobs = count_jobs(spark.sparkContext, "q148-jobs", run)
    assert sorted(rows) == sorted(first)
    assert jobs <= 10, jobs


def test_pagerank_releases_its_rounds(spark):
    # every run leaves no cached checkpoint behind once its result is
    # released, and the result survives the release of its inputs
    sc = spark.sparkContext._jsc.sc()
    cached = lambda: {i.id(): i.memSize() + i.diskSize() for i in sc.getRDDStorageInfo()}
    before = set(cached())
    results = []
    for _ in range(3):
        out = _q148(spark)
        rows = sorted(out.collect())
        assert sorted(out.collect()) == rows
        results.append(rows)
        left = {k: v for k, v in cached().items() if k not in before}
        # only the result's own checkpoint is still cached
        assert len(left) == 1, left
        release(out)
        assert not set(cached()) - before
    assert results[0] == results[1] == results[2]
    assert results[0]
