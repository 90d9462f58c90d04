"""Vector math over array<float>/array<double> columns — pure Catalyst
expressions (zip_with / aggregate), no UDFs (SURVEY.md §2.J J4/J5).
Spark interprets these higher-order functions element by element, so
exact all-pairs top-k goes through operators.similarity.topk_scored, whose
numpy folds repeat the same operations in the same order.

All helpers cast to double FIRST and fold left-to-right, which makes
the result bit-identical to DuckDB's sequential list arithmetic — the
property the oracle hash comparison relies on.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def _d(x: Column) -> Column:
    return x.cast("double")


def dot(a: Column | str, b: Column | str) -> Column:
    """Σ aᵢ·bᵢ as a left fold over zip_with."""
    a, b = F.col(a) if isinstance(a, str) else a, F.col(b) if isinstance(b, str) else b
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: _d(x) * _d(y)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def l2_norm(a: Column | str) -> Column:
    a = F.col(a) if isinstance(a, str) else a
    return F.sqrt(
        F.aggregate(a, F.lit(0.0), lambda acc, x: acc + _d(x) * _d(x))
    )


def cosine_similarity(a: Column | str, b: Column | str) -> Column:
    """dot(a,b) / (‖a‖·‖b‖); NULL if either norm is zero."""
    a = F.col(a) if isinstance(a, str) else a
    b = F.col(b) if isinstance(b, str) else b
    denom = l2_norm(a) * l2_norm(b)
    return F.when(denom != 0, dot(a, b) / denom)


def int8_quantize(a: Column | str) -> Column:
    """Symmetric per-vector int8 quantization as longs:
    round(x · 127/max|x|). Spark's round is HALF_UP, as DuckDB's;
    numpy's rounds half to even, so quantization stays a Spark
    expression. The per-row scale rides in as a repeated array:
    referenced inside the lambda, Spark recomputes it for every element
    (3x the sf1 time of knn_int8_quantized_top5)."""
    a = F.col(a) if isinstance(a, str) else a
    scale = F.lit(127.0) / F.array_max(F.transform(a, lambda y: F.abs(_d(y))))
    return F.zip_with(
        a,
        F.array_repeat(scale, F.size(a)),
        lambda x, s: F.round(_d(x) * s).cast("long"),
    )
