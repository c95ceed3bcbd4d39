"""Every registry query with an oracle runs on Spark AND DuckDB at
sf0.001; results must match after column-name sort + row canonical-
ization — the same discipline the driver's CORRECTNESS gate applies
at sf0.01.
"""

from __future__ import annotations

import datetime
import math

import pytest

from streaming_recommendation_spark.queries import registry

from .conftest import SF_DIR, duck_con

# VERDICT r12 #3: this module replays the full registry vs DuckDB —
# ~850 s, 37% of the suite — and duplicates the external driver's own
# oracle gate (scripts/driver_sim.py / SELFCHECK.json at sf0.01, a
# LARGER scale than this sf0.001 sweep). Deselected from the default
# fast gate but for FAST_ORACLES; run with `pytest -m ""` (round
# close-outs do).
#
# ADVICE r13 #5: a few cheap oracle queries stay in the fast gate so
# it still checks result parity against DuckDB — the cascade family,
# whose fused numpy kernel must match the oracle's SQL replay.
FAST_ORACLES = {
    "q40_cascade_recommend",
    "q178_cascade_full_eval",
    "q179_list_diversity",
    "q180_catalog_coverage",
    "q245_capped_slate",
}


def _params(qs):
    return [
        pytest.param(q, id=q.name, marks=() if q.name in FAST_ORACLES else pytest.mark.slow)
        for q in qs
    ]


ORACLE_QUERIES = _params(q for q in registry().values() if q.oracle is not None)
ROWS_ONLY_QUERIES = _params(q for q in registry().values() if q.oracle is None)


def canon(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return f"{v:.6g}"
    if isinstance(v, datetime.datetime):
        return v.replace(tzinfo=None).isoformat()
    if isinstance(v, (list, tuple)):
        return tuple(canon(x) for x in v)
    return v


def canon_rows(columns, rows):
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    # sort key=repr: rows may contain None (e.g. rollup group keys),
    # which plain tuple comparison can't order against strings
    return sorted((tuple(canon(r[i]) for i in order) for r in rows), key=repr)


@pytest.mark.parametrize("q", ORACLE_QUERIES)
def test_matches_duckdb(q, spark):
    sdf = q.fn(spark, SF_DIR)
    spark_cols = [c.lower() for c in sdf.columns]
    spark_rows = [tuple(r) for r in sdf.collect()]

    con = duck_con(SF_DIR)
    res = con.execute(q.oracle)
    duck_cols = [d[0].lower() for d in res.description]
    duck_rows = res.fetchall()

    assert sorted(spark_cols) == sorted(duck_cols), f"{q.name}: column mismatch"
    assert len(spark_rows) == len(duck_rows), f"{q.name}: row count"
    s = canon_rows(spark_cols, spark_rows)
    d = canon_rows(duck_cols, duck_rows)
    mismatches = [i for i, (a, b) in enumerate(zip(s, d)) if a != b]
    assert not mismatches, (
        f"{q.name}: {len(mismatches)} row mismatches; first: "
        f"spark={s[mismatches[0]]} duck={d[mismatches[0]]}"
    )


@pytest.mark.parametrize("q", ROWS_ONLY_QUERIES)
def test_rows_only_runs(q, spark):
    df = q.fn(spark, SF_DIR)
    assert df.count() >= 0
    assert len(df.schema.fields) > 0


@pytest.mark.slow
def test_approx_distinct_within_tolerance(spark):
    """q57 has no oracle (sketches differ across engines); assert the
    HLL estimate lands within 5% of the exact distinct count."""
    from streaming_recommendation_spark.queries import registry
    from streaming_recommendation_spark.sources.testdata import load_table

    approx = {
        r.event_type: r.approx_users
        for r in registry()["q57_approx_distinct"].fn(spark, SF_DIR).collect()
    }
    ev = load_table(spark, "events", SF_DIR)
    import pyspark.sql.functions as F

    exact = {
        r.event_type: r.n
        for r in ev.groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("n"))
        .collect()
    }
    for t, est in approx.items():
        assert abs(est - exact[t]) / exact[t] < 0.05, (t, est, exact[t])


@pytest.mark.parametrize("q", ORACLE_QUERIES)
def test_dtype_parity_with_duckdb(q, spark):
    """The driver's value-hash canonicalizes through pandas, where a
    DuckDB HUGEINT (integer sum()) lands as float64 while Spark's
    BIGINT lands as int64 — equal values, different hashes (the q20
    round-2 red row). Guard the whole class: every oracle column's
    pandas dtype *kind* must match the Spark result's."""
    spdf = q.fn(spark, SF_DIR).toPandas()
    ddf = duck_con(SF_DIR).execute(q.oracle).df()
    sp = {c.lower(): spdf[c].dtype for c in spdf.columns}
    du = {c.lower(): ddf[c].dtype for c in ddf.columns}
    assert set(sp) == set(du), f"{q.name}: column sets differ"
    bad = {c: (sp[c], du[c]) for c in sp if sp[c].kind != du[c].kind}
    assert not bad, f"{q.name}: dtype-kind mismatches (spark, duck): {bad}"


@pytest.mark.slow
def test_driver_priority_prefix_is_valid():
    """The driver verifies a 50-entry registry prefix per round; the
    round-3 prefix must reference real queries, contain no dupes, and
    actually lead the ordering."""
    from streaming_recommendation_spark.queries import (
        _DRIVER_PRIORITY,
        queries,
        registry,
    )

    assert len(_DRIVER_PRIORITY) == len(set(_DRIVER_PRIORITY)) >= 50
    reg = registry()
    assert all(n in reg for n in _DRIVER_PRIORITY)
    assert list(queries())[: len(_DRIVER_PRIORITY)] == _DRIVER_PRIORITY
    # every prefix entry must carry a SQL oracle (that's the point of
    # spending a driver slot on it) — EXCEPT q57, rows-only BY DESIGN
    # (HLL estimate; no SQL replay), which the round-8 verdict queued
    # into the round-9 gate precisely to record its weaker rows-only
    # check externally
    no_oracle = {n for n in _DRIVER_PRIORITY if reg[n].oracle is None}
    assert no_oracle <= {"q57_approx_distinct"}, no_oracle


@pytest.mark.slow
def test_q25_except_is_non_degenerate(spark):
    """ADVICE r6: q25's EXCEPT must not be vacuous (an empty or
    all-viewers result would green-match a broken oracle). The cutoff
    is data-derived (max ts - 7 days), so this holds at any SF."""
    from streaming_recommendation_spark.queries import registry

    reg = registry()
    n_diff = reg["q25_viewers_no_recent_purchase"].fn(spark, SF_DIR).count()
    from streaming_recommendation_spark.sources.testdata import load_table
    from pyspark.sql import functions as F

    ev = load_table(spark, "events", SF_DIR)
    n_viewers = ev.where(F.col("event_type") == "view").select("user_id").distinct().count()
    assert 0 < n_diff < n_viewers
