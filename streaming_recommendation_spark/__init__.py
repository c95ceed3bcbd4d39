"""streaming_recommendation_spark — a PySpark-native analytics engine.

A ground-up, Spark-first rebuild of the query / data-processing
capabilities of ZZQzico/streaming-recommendation (reference studied at
/root/reference, read-only). Everything is expressed through the
DataFrame / SQL API so Catalyst + Tungsten pick the physical plan;
Python UDFs appear only where built-ins genuinely can't express the
semantics (model scoring, per-group stateful logic).

Layout:
    session.py    SparkSession factory tuned for the oracle harness
    sources/      testdata + reference-schema readers (CSV/JSON/Parquet)
    functions/    scalar + vector function library (SURVEY §2.7)
    operators/    composed relational operators (as-of join, top-k,
                  history windows, sampling, dedup, similarity, text)
    queries.py    named query registry: Spark callable + DuckDB oracle SQL
    streaming/    Structured Streaming pipeline + keyed sinks
    cascade/      the 3-stage recommendation cascade (one numpy kernel)
"""

__version__ = "0.1.0"
