"""Column-expression helpers (arrays, text, hashing, event time) — all JVM
built-ins."""

from dist_keras_spark.functions.arrays import cosine_similarity, dot, l2_norm
from dist_keras_spark.functions.text import (
    char_count,
    doc_fingerprint,
    shingles,
    stopword_ratio,
    token_count,
    tokens,
)

__all__ = [
    "cosine_similarity",
    "dot",
    "l2_norm",
    "tokens",
    "token_count",
    "char_count",
    "shingles",
    "stopword_ratio",
    "doc_fingerprint",
]
