from .pipeline import (
    CLICK_SCHEMA,
    PROFILE_SCHEMA,
    clicks_with_profiles,
    parse_click_stream,
    parse_profile_stream,
    profile_pipeline,
    read_kafka_stream,
    session_window_activity,
    sliding_window_activity,
    start_fold,
    versioned_profile_records,
)
from .dedup import (
    dedup_ingest_batch,
    read_candidates,
)
from .scd2 import Scd2Stream
from .sink import JsonlDirSink, RedisSink, foreach_batch_writer
from .vectors import VectorIndexStream
from .sketches import (
    CmsStreamSketch,
    HllStreamSketch,
    read_sketch_state,
    sketch_ingest_batch,
)

__all__ = [
    "CLICK_SCHEMA",
    "PROFILE_SCHEMA",
    "clicks_with_profiles",
    "parse_click_stream",
    "parse_profile_stream",
    "profile_pipeline",
    "read_kafka_stream",
    "session_window_activity",
    "sliding_window_activity",
    "start_fold",
    "versioned_profile_records",
    "dedup_ingest_batch",
    "read_candidates",
    "CmsStreamSketch",
    "HllStreamSketch",
    "read_sketch_state",
    "sketch_ingest_batch",
    "Scd2Stream",
    "VectorIndexStream",
    "JsonlDirSink",
    "RedisSink",
    "foreach_batch_writer",
]
