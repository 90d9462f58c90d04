"""similarity.topk_scored, the partition-local exact top-k kernel behind
knn_bruteforce and knn_int8_quantized_top5: in-memory frames, each case
checked row for row against a DuckDB query of the registered oracles'
shape (same fold, same round(·, 6), same row_number order)."""

from __future__ import annotations

import duckdb
import numpy as np
import pyarrow as pa
import pyspark.sql.functions as F
import pytest

from dist_keras_spark.operators.similarity import knn_bruteforce, topk_scored

_SCHEMA = "vec_id bigint, embedding array<float>"


def _cosine_oracle(rows, qids, k, dim):
    """knn_bruteforce_top5's oracle over (vec_id, embedding) rows, with
    its query predicate, k and dimension as parameters."""
    emb = pa.table(
        {
            "vec_id": pa.array([r[0] for r in rows], pa.int64()),
            "embedding": pa.array([r[1] for r in rows], pa.list_(pa.float32())),
        }
    )
    dot = lambda a, b: (  # noqa: E731
        f"list_sum(list_transform(range(1, {dim + 1}), i -> {a} * {b}))"
    )
    ev = "CAST(e.embedding[i] AS DOUBLE)"
    sql = f"""
WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
           FROM emb WHERE vec_id IN ({", ".join(map(str, qids))})),
scored AS (
    SELECT q.query_id, e.vec_id AS neighbor_id,
           round({dot(ev, "q.qv[i]")}
                 / (sqrt({dot(ev, ev)}) * sqrt({dot("q.qv[i]", "q.qv[i]")})), 6)
               AS cosine
    FROM emb e, q WHERE e.vec_id <> q.query_id
),
ranked AS (SELECT *, row_number() OVER (PARTITION BY query_id
                                        ORDER BY cosine DESC, neighbor_id) AS rank
           FROM scored)
SELECT query_id, neighbor_id, rank, cosine FROM ranked WHERE rank <= {k}
"""
    con = duckdb.connect()
    con.register("emb", emb)
    return sorted(con.execute(sql).fetchall())


def _knn(spark, rows, qids, k, dim=None):
    # descending ids: a batch's rows do not arrive in rank order
    e = spark.createDataFrame(rows[::-1], _SCHEMA)
    if dim is not None:
        e = e.select("vec_id", F.slice("embedding", 1, dim).alias("embedding"))
    q = e.filter(F.col("vec_id").isin(qids))
    return sorted(tuple(r) for r in knn_bruteforce(e, q, k=k).collect())


def _random_rows(n, dim, seed):
    rng = np.random.RandomState(seed)
    return [(i, [float(x) for x in rng.randn(dim)]) for i in range(n)]


def test_zero_vector_cosine_is_null_and_ranks_last(spark):
    rows = _random_rows(12, 4, 1)
    rows[3] = (3, [0.0] * 4)
    got = _knn(spark, rows, [0, 3], k=12)
    assert got == _cosine_oracle(rows, [0, 3], 12, 4)
    assert max((r for r in got if r[0] == 0), key=lambda r: r[2])[1] == 3
    assert all(r[3] is None for r in got if r[0] == 3)


def test_null_embedding_scores_null(spark):
    rows = _random_rows(12, 4, 2)
    rows[5] = (5, None)
    got = _knn(spark, rows, [0, 5, 7], k=4)
    assert got == _cosine_oracle(rows, [0, 5, 7], 4, 4)
    # the NULL query still gets k neighbors: the lowest ids, score NULL
    assert [r[1] for r in got if r[0] == 5] == [0, 1, 2, 3]


def test_k_at_least_corpus_size_returns_every_neighbor(spark):
    rows = _random_rows(9, 8, 3)
    got = _knn(spark, rows, [0, 4], k=20)
    assert got == _cosine_oracle(rows, [0, 4], 20, 8)
    assert len(got) == 2 * 8


def test_rounded_ties_straddling_the_band(spark):
    """Candidates c_j = (1, t_j) against q = (1, 0): every cosine lies
    within 2e-6 of 1, so many round to the same 6 dp value while their
    raw values differ. Ids fall as the raw cosine falls, so among equal
    rounded values the top k are the LOWEST raw values of the tie — a
    batch that admitted only its k highest raw cosines would lose them."""
    rows = [(0, [1.0, 0.0])] + [
        (100 - j, [1.0, 0.00102 + 0.00002 * j]) for j in range(40)
    ]
    want = _cosine_oracle(rows, [0], 3, 2)
    got = _knn(spark, rows, [0], k=3)
    assert got == want
    cos = {i: v[1] / np.hypot(v[0], v[1]) for i, v in rows if i}
    assert {r[1] for r in want} != set(sorted(cos, key=cos.get)[-3:])
    assert len({r[3] for r in want}) == 1


def test_truncated_16_dim_slice(spark):
    rows = _random_rows(60, 64, 4)
    qids = [i for i in range(60) if i % 20 == 0]
    assert _knn(spark, rows, qids, k=5, dim=16) == _cosine_oracle(rows, qids, 5, 16)


def test_mixed_vector_lengths_fail_loudly(spark):
    rows = _random_rows(8, 4, 5)
    rows[6] = (6, [1.0, 2.0, 3.0])
    with pytest.raises(Exception, match="vectors of length 3 and 4"):
        _knn(spark, rows, [0], k=3)
    with pytest.raises(ValueError, match="vectors of length"):
        _knn(spark, rows, [0, 6], k=3)


@pytest.mark.parametrize(
    "score, fn",
    [("dot", np.dot), ("neg_sqdist", lambda a, b: -np.sum((np.subtract(a, b)) ** 2))],
)
def test_integer_scores_tie_break_by_neighbor_id(spark, score, fn):
    rng = np.random.RandomState(6)
    rows = [(i, [int(x) for x in rng.randint(-2, 3, 3)]) for i in range(40)]
    e = spark.createDataFrame(rows[::-1], "vec_id bigint, v array<bigint>")
    q = e.filter("vec_id % 10 = 0")
    got = sorted(tuple(r) for r in topk_scored(e, q, score, "vec_id", "v", 4).collect())
    want = []
    for qid, qv in rows[::10]:
        ranked = sorted((-int(fn(v, qv)), i) for i, v in rows if i != qid)[:4]
        want += [(qid, i, r + 1, -s) for r, (s, i) in enumerate(ranked)]
    assert got == sorted(want)
