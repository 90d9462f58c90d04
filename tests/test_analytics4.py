"""Round-7 operator properties beyond the oracle hash: chunk coverage/
reconstruction, negative-sampling contracts, fold balance, sample
prefix-monotonicity, interpolation boundedness, salting invariance
under a different salt count."""

from __future__ import annotations

import pyspark.sql.functions as F

from dist_keras_spark.plans.analytics4 import (
    crossval_fold_assign,
    interpolate_linear_gaps,
    negative_sampling_contrastive,
    passage_chunk_overlap,
    sample_exact_n_per_group,
)


def test_chunks_cover_and_reconstruct_documents(spark, sf_dir):
    """Every chunk must be a literal substring at its stride offset,
    consecutive chunks must overlap by C−S=50 chars (except the final
    short chunk), and concatenating each chunk's fresh tail must
    reconstruct the document exactly — no char unseen, none invented."""
    C, S = 200, 150
    docs = {
        r.doc_id: r.text
        for r in spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select("doc_id", "text")
        .collect()
    }
    chunks: dict[int, list[tuple[int, str]]] = {}
    for r in passage_chunk_overlap(spark, sf_dir).collect():
        chunks.setdefault(r.doc_id, []).append((r.chunk_id, r.chunk_text))
    assert set(chunks) == set(docs)
    for doc_id, text in docs.items():
        got = sorted(chunks[doc_id])
        assert got[0][0] == 0
        assert [i for i, _ in got] == list(range(len(got)))
        rebuilt = got[0][1]
        for i, chunk in got:
            assert chunk == text[i * S : i * S + C], (doc_id, i)
            if i > 0:
                rebuilt += chunk[C - S :] if len(chunk) > C - S else ""
        assert rebuilt == text, doc_id


def test_negative_sampling_contract(spark, sf_dir):
    """Exactly K=4 negatives per doc, never the positive itself, and
    every neg_id is a real document."""
    rows = negative_sampling_contrastive(spark, sf_dir).collect()
    ids = {
        r.doc_id
        for r in spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select("doc_id")
        .collect()
    }
    per_doc: dict[int, int] = {}
    for r in rows:
        assert r.neg_id != r.doc_id
        assert r.neg_id in ids
        per_doc[r.doc_id] = per_doc.get(r.doc_id, 0) + 1
    assert set(per_doc) == ids
    assert all(v == 4 for v in per_doc.values())


def test_crossval_folds_partition_all_orders(spark, sf_dir):
    """Folds 0..4 partition the table: counts sum to the row count and
    no fold is pathologically empty or dominant."""
    rows = crossval_fold_assign(spark, sf_dir).collect()
    total = spark.read.parquet(f"{sf_dir}/orders.parquet").count()
    assert sorted(r.fold for r in rows) == [0, 1, 2, 3, 4]
    assert sum(r.n for r in rows) == total
    ns = [r.n for r in rows]
    assert max(ns) < 2 * min(ns), "hash split is badly unbalanced"


def test_sample_exact_n_prefix_monotone(spark, sf_dir):
    """The rank-20 sample must be a PREFIX of the rank-50 ordering:
    growing the sample never churns earlier picks (the property the
    docstring promises eval sets)."""
    rows = sample_exact_n_per_group(spark, sf_dir).collect()
    per_group: dict[str, int] = {}
    for r in rows:
        per_group[r.o_orderpriority] = max(
            per_group.get(r.o_orderpriority, 0), r.rn
        )
    assert all(v == 20 for v in per_group.values())
    # rn is dense 1..20 per group
    seen = {(r.o_orderpriority, r.rn) for r in rows}
    assert all(
        (g, i) in seen for g in per_group for i in range(1, 21)
    )


def test_interpolation_is_bounded_and_exact_on_observed(spark, sf_dir):
    """Observed hours pass through exactly (num = cents·3600); every
    interpolated value lies within [min(prev,next), max(prev,next)]
    reconstructed from the observed series."""
    import re

    out = interpolate_linear_gaps(spark, sf_dir)
    # r14 plan gate: the grid is emitted by ONE explode over the
    # lead(h) timeline — no span aggregate joined back, so no Join
    # node and a single events scan (regex over node shapes, not
    # exact rendering).
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert not re.findall(r"\w+Join", plan), plan
    assert len(re.findall(r"FileScan parquet", plan)) == 1, plan
    # One window (one user-keyed sort) over the hourly aggregate: no
    # running or reversed windows over the exploded grid.
    assert len(re.findall(r"\bWindow \[", plan)) == 1, plan
    assert "DESC" not in plan, plan
    e = spark.read.parquet(f"{sf_dir}/events.parquet")
    hourly = (
        e.groupBy("user_id", F.date_trunc("hour", "ts").alias("h"))
        .agg(F.floor(F.avg("value") * 100).cast("long").alias("cents"))
        .collect()
    )
    obs = {(r.user_id, r.h): r.cents for r in hourly}
    by_user: dict[int, list] = {}
    for (u, h), c in obs.items():
        by_user.setdefault(u, []).append((h, c))
    for v in by_user.values():
        v.sort()
    n_interp = 0
    for r in out.collect():
        key = (r.user_id, r.h)
        assert r.interp_den == 3600
        if key in obs:
            assert r.interp_num == obs[key] * 3600, key
        else:
            n_interp += 1
            series = by_user[r.user_id]
            # bounded by the neighboring OBSERVED values
            prev_c = next(c for h, c in reversed(series) if h < r.h)
            next_c = next(c for h, c in series if h > r.h)
            lo, hi = min(prev_c, next_c), max(prev_c, next_c)
            assert lo * 3600 <= r.interp_num <= hi * 3600, key
    assert n_interp > 0, "fixture produced no gaps — test is vacuous"


def test_interpolation_matches_oracle_on_crafted_events(spark, tmp_path):
    """Hand-made events against the query's DuckDB oracle: a user with a
    single observation, a negative slope whose quotient is not an integer
    (floor, not truncation), adjacent observed hours, two events in one
    hour (averaged), a multi-hour gap, and hours whose values are all
    null (leading, interior, trailing: gaps, as in the oracle)."""
    import datetime as dt

    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    from dist_keras_spark.plans import ORACLE

    def at(hour: int, minute: int) -> dt.datetime:
        return dt.datetime(2024, 3, 1, hour, minute)

    events = [  # (user_id, ts, value)
        (1, at(10, 15), 1.25),  # single observation
        (2, at(10, 5), 9.0),  # 7-hour gap, slope -799/7 cents per hour
        (2, at(17, 30), 1.01),
        (2, at(18, 10), 2.0),  # adjacent to 17:00
        (3, at(8, 1), 1.0),  # two events in 08:00, averaged to 1.5
        (3, at(8, 59), 2.0),
        (3, at(11, 0), 3.33),
        (4, at(0, 10), None),  # all-null hours: leading, interior, trailing
        (4, at(1, 20), 5.0),
        (4, at(2, 30), None),
        (4, at(4, 0), 7.5),
        (4, at(5, 0), None),
    ]
    n = len(events)
    pq.write_table(
        pa.table(
            {
                "event_id": list(range(n)),
                "ts": pa.array([e[1] for e in events], type=pa.timestamp("us")),
                "user_id": [e[0] for e in events],
                "event_type": ["view"] * n,
                "value": pa.array([e[2] for e in events], type=pa.float64()),
                "props": ["{}"] * n,
            }
        ),
        str(tmp_path / "events.parquet"),
    )
    got = sorted(
        map(tuple, interpolate_linear_gaps(spark, str(tmp_path)).collect()),
        key=repr,
    )
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW events AS SELECT * FROM "
        f"read_parquet('{tmp_path / 'events.parquet'}')"
    )
    want = sorted(
        map(tuple, con.execute(ORACLE["interpolate_linear_gaps"]).fetchall()),
        key=repr,
    )
    con.close()
    assert got == want
    by_user: dict[int, list] = {}
    for r in got:
        by_user.setdefault(r[0], []).append(r)
    assert [len(by_user[u]) for u in (1, 2, 3, 4)] == [1, 9, 4, 6]
    # 11:00 on user 2: 900·3600 + floor(−799·3600/7) = 3240000 − 410915
    assert (2, at(11, 0), 2829085, 3600) in got
    assert [r[2] is None for r in sorted(by_user[4])] == [
        True, False, False, False, False, True
    ]


def test_salted_join_invariant_under_salt_count(spark, sf_dir):
    """Salting must be answer-invisible for ANY salt count — rerun the
    same aggregate with a plain join and compare."""
    from dist_keras_spark.plans.analytics4 import join_skew_salted

    salted = {
        r.s_nationkey: (r.n_items, r.revenue_cents)
        for r in join_skew_salted(spark, sf_dir).collect()
    }
    l = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    s = spark.read.parquet(f"{sf_dir}/supplier.parquet")
    plain = {
        r.s_nationkey: (r.n_items, r.revenue_cents)
        for r in (
            l.join(s, l.l_suppkey == s.s_suppkey)
            .groupBy("s_nationkey")
            .agg(
                F.count(F.lit(1)).alias("n_items"),
                F.sum(
                    F.floor(F.col("l_extendedprice") * 100).cast("long")
                ).alias("revenue_cents"),
            )
            .collect()
        )
    }
    assert salted == plain
