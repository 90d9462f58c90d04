"""Round-8 operator gates: Gopher/C4 rule suite fires per-rule on
crafted documents (fixture text never trips the symbol/bullet rules,
so the oracle alone can't prove those thresholds)."""

from __future__ import annotations

import pyspark.sql.functions as F

from dist_keras_spark.operators.quality import gopher_rule_flags

# A base document that passes EVERY rule: 60 common-ish words
# including two stopwords, all alphabetic.
_CLEAN = " ".join(["the", "and"] + ["word"] * 58)

_TRIP = {
    # 10 words only → word_count
    "r_word_count": " ".join(["the", "and"] + ["word"] * 8),
    # 60 single-char words → mean word length 1 (and alpha stays ok)
    "r_mean_word_length": " ".join(["the", "and"] + ["a"] * 58),
    # 10 hashes over 60 words > 0.1 ratio
    "r_symbol_word_ratio": " ".join(["the", "and"] + ["#"] * 10 + ["word"] * 48),
    # every line bulleted
    "r_bullet_line_ratio": "\n".join(["- " + _CLEAN] * 3),
    # every line ends with ellipsis
    "r_ellipsis_line_ratio": "\n".join([_CLEAN + " ..."] * 2),
    # only one distinct stopword
    "r_stopword_presence": " ".join(["the"] + ["word"] * 59),
    # 30% numeric tokens < 80% alpha
    "r_alpha_word_ratio": " ".join(["the", "and"] + ["123"] * 20 + ["word"] * 38),
    "r_curly_brace": _CLEAN + " {x}",
    "r_lorem_ipsum": _CLEAN + " Lorem Ipsum dolor",
}

_RULES = list(_TRIP)


def test_gopher_rules_fire_exactly_per_rule(spark):
    rows = [(-1, _CLEAN)] + [
        (i, _TRIP[r]) for i, r in enumerate(_RULES)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]: {k: r[k] for k in _RULES}
        for r in gopher_rule_flags(df).collect()
    }
    # the clean doc passes everything
    assert not any(got[-1].values()), f"clean doc tripped: {got[-1]}"
    # each crafted doc trips its own rule
    for i, rule in enumerate(_RULES):
        assert got[i][rule], f"doc for {rule} did not trip it: {got[i]}"


def test_gopher_bullet_and_symbol_thresholds_are_strict(spark):
    """Ratios AT the published threshold pass (rejection is strictly
    greater-than): 10 lines with 9 bulleted = 0.9 exactly → keep."""
    doc_at = "\n".join(["- " + _CLEAN] * 9 + [_CLEAN])
    doc_over = "\n".join(["- " + _CLEAN] * 10)
    df = spark.createDataFrame(
        [(0, doc_at), (1, doc_over)], "doc_id long, text string"
    )
    got = {r["doc_id"]: r["r_bullet_line_ratio"] for r in gopher_rule_flags(df).collect()}
    assert got == {0: False, 1: True}


def test_power_iteration_matches_numpy_exactly(spark, sf_dir):
    """v1 = C·1 and v2 = C·v1 on the integer-quantized second-moment
    matrix, computed by numpy int64 dense algebra, must equal the
    X^T(Xv) factorized query BITWISE (all-integer arithmetic)."""
    import numpy as np

    from dist_keras_spark.plans.analytics5 import power_iteration_two_steps

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").collect()
    X = np.array(
        [
            np.floor(np.asarray(r["embedding"], dtype=np.float64) * 10.0)
            for r in emb
        ],
        dtype=np.int64,
    )
    C = X.T @ X
    v1 = C @ np.ones(X.shape[1], dtype=np.int64)
    v2 = C @ v1
    got = {
        r["component"]: (r["v1"], r["v2"])
        for r in power_iteration_two_steps(spark, sf_dir).collect()
    }
    for i in range(X.shape[1]):
        assert got[i + 1] == (v1[i], v2[i]), (i, got[i + 1], (v1[i], v2[i]))


def test_pq_codebook_vectors_encode_to_themselves(spark, sf_dir):
    """A codebook vector's nearest centroid in every subspace is
    itself (distance 0; random float fixtures make duplicate
    subvectors impossible), so its 8 codes must all equal its own
    vec_id — the structural invariant of the PQ encoder."""
    from pyspark.sql import functions as F

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = emb.select(
        "vec_id",
        F.transform(
            "embedding",
            lambda x: F.floor(x.cast("double") * F.lit(10.0)).cast("long"),
        ).alias("v"),
    )
    subs = q.select(
        "vec_id",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.lit(7)),
                lambda s: F.slice("v", s * 8 + 1, 8),
            )
        ).alias("s", "sub"),
    )
    cb = subs.filter(F.col("vec_id") < 16).select(
        F.col("vec_id").alias("c"), "s", F.col("sub").alias("cbsub")
    )
    d2 = F.aggregate(
        F.zip_with("sub", "cbsub", lambda a, b: (a - b) * (a - b)),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    codes = (
        subs.filter(F.col("vec_id") < 16)
        .join(F.broadcast(cb), "s")
        .select("vec_id", "s", "c", d2.alias("d2"))
        .groupBy("vec_id", "s")
        .agg(F.min(F.struct("d2", "c")).alias("m"))
        .select("vec_id", "s", F.col("m.c").alias("code"))
        .collect()
    )
    assert len(codes) == 16 * 8
    for r in codes:
        assert r["code"] == r["vec_id"], (r["vec_id"], r["s"], r["code"])


def test_pq_lloyd_step_reduces_sse(spark, sf_dir):
    """Lloyd monotonicity (up to centroid flooring): one refinement
    step must strictly reduce total quantization error on the
    fixtures."""
    from dist_keras_spark.plans.analytics5 import pq_lloyd_refined_sse

    r = pq_lloyd_refined_sse(spark, sf_dir).first()
    assert r["sse_trained"] < r["sse_seeded"], (
        r["sse_seeded"],
        r["sse_trained"],
    )


def test_poisson_bootstrap_replicas_center_on_truth(spark, sf_dir):
    """Poisson(1) multiplicities average 1, so replica totals must
    straddle the true total closely (deterministic fixture check:
    mean of 20 replicas within 5% of truth; every replica within
    20%)."""
    from pyspark.sql import functions as F

    from dist_keras_spark.plans.analytics5 import poisson_bootstrap_replicas

    truth = (
        spark.read.parquet(f"{sf_dir}/orders.parquet")
        .agg(F.sum(F.floor(F.col("o_totalprice") * 100).cast("long")))
        .first()[0]
    )
    totals = [
        r["total_cents"]
        for r in poisson_bootstrap_replicas(spark, sf_dir).collect()
    ]
    assert len(totals) == 20
    mean = sum(totals) / len(totals)
    assert abs(mean - truth) / truth < 0.05, (mean, truth)
    assert all(abs(t - truth) / truth < 0.20 for t in totals)


def test_token_budget_allocation_sums_to_budget(spark, sf_dir):
    """Hamilton apportionment invariant: Σ alloc == budget == total//2
    exactly, and every source gets base or base+1."""
    from pyspark.sql import functions as F

    from dist_keras_spark.plans.analytics5 import (
        token_budget_largest_remainder,
    )

    rows = token_budget_largest_remainder(spark, sf_dir).collect()
    total = sum(r["tokens"] for r in rows)
    budget = total // 2
    assert sum(r["alloc"] for r in rows) == budget
    assert all(r["extra"] in (0, 1) for r in rows)
    assert all(r["alloc"] - r["base_alloc"] == r["extra"] for r in rows)


def test_substring_poly_twin_matches_md5_pairs(spark, sf_dir):
    """The rolling-polynomial twin must report the SAME duplicate
    pair set (and span counts) as the md5 reference on the fixtures —
    collisions would show here as extra pairs."""
    from dist_keras_spark.plans.analytics5 import (
        substring_dedup_50gram,
        substring_dedup_50gram_poly,
    )

    md5_pairs = {
        (r["doc_a"], r["doc_b"]): r["n_shared"]
        for r in substring_dedup_50gram(spark, sf_dir).collect()
    }
    poly_pairs = {
        (r["doc_a"], r["doc_b"]): r["n_shared"]
        for r in substring_dedup_50gram_poly(spark, sf_dir).collect()
    }
    assert md5_pairs == poly_pairs


def test_argmin_code_fails_loudly_outside_the_bit_pack(spark):
    """The packed min(d2·2**_CODE_BITS + c) is the (d2, c) argmin only for
    0 <= c < 2**_CODE_BITS and d2 >= 0; anything else must fail the query,
    not return a silently wrong code."""
    import pytest

    from dist_keras_spark.plans.analytics5 import _CODE_BITS, _argmin_code

    schema = "vec_id bigint, s int, c bigint, d2 bigint"
    ok = spark.createDataFrame([(1, 0, 3, 5), (1, 0, 2, 5), (1, 0, 7, 4)], schema)
    assert [tuple(r) for r in _argmin_code(ok).collect()] == [(1, 0, 7, 4)]
    for c, d2 in ((1 << _CODE_BITS, 0), (0, -1)):
        bad = spark.createDataFrame([(1, 0, 3, 5), (1, 0, c, d2)], schema)
        with pytest.raises(Exception, match="_argmin_code"):
            _argmin_code(bad).collect()
