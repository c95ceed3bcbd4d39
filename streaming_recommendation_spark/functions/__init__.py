from .hashing import det_hash_long, det_hash_str, det_unit
from .scalars import (
    clean_price,
    hash_bucket,
    key_format,
    last_category,
    minmax_scale,
    pad_array,
    pipe_join,
    pipe_split,
    zero_vector_default,
)
from .vectors import cosine_similarity, dot, l2_norm

__all__ = [
    "det_hash_long",
    "det_hash_str",
    "det_unit",
    "clean_price",
    "hash_bucket",
    "key_format",
    "last_category",
    "minmax_scale",
    "pad_array",
    "pipe_join",
    "pipe_split",
    "zero_vector_default",
    "cosine_similarity",
    "dot",
    "l2_norm",
]
