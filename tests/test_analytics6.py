"""Round-8 second-session gates: semantic properties the oracle hash
alone can't prove — PII masking is residue-free and global; privacy
classes partition the table; winsorize thresholds are actual data
elements; ranking metrics / SemDeDup drops / audio energies rederive
exactly in Python-numpy; RAKE, DSIR and ABC verify on crafted or
rederived corpora; the PPJoin prefix index is measurably smaller AND
lossless; leakage-safe splits never split a cluster; change-point
finds an injected step; the MinHash estimate respects its error
bound."""

from __future__ import annotations

import pyspark.sql.functions as F

from dist_keras_spark.plans.analytics6 import (
    _EMAIL_RE,
    _NDCG_CUM,
    _NDCG_W,
    _PHONE_RE,
    dsir_importance_weights,
    k_anonymity_audit,
    pii_redact_mask,
    ranking_mrr_ndcg_at5,
    winsorize_clamp_stats,
)


def test_pii_masking_is_global_and_residue_free(spark):
    """Two emails + two phones in one document are ALL masked (Spark
    regexp_replace is global; the oracle's 'g' flag matches), and the
    masked text has zero residual matches for either pattern."""
    txt = (
        "a@b.example.com then +1-555-0001 and second x.y@z.io "
        "plus +1-555-9999 end"
    )
    df = spark.createDataFrame([(txt,)], "text string")
    out = df.select(
        F.regexp_count("text", F.lit(_EMAIL_RE)).alias("ne"),
        F.regexp_count("text", F.lit(_PHONE_RE)).alias("np"),
        F.regexp_replace(
            F.regexp_replace("text", _EMAIL_RE, "[EMAIL]"),
            _PHONE_RE,
            "[PHONE]",
        ).alias("masked"),
    ).collect()[0]
    assert out["ne"] == 2 and out["np"] == 2
    assert out["masked"].count("[EMAIL]") == 2
    assert out["masked"].count("[PHONE]") == 2
    residual = spark.createDataFrame(
        [(out["masked"],)], "text string"
    ).select(
        (
            F.regexp_count("text", F.lit(_EMAIL_RE))
            + F.regexp_count("text", F.lit(_PHONE_RE))
        ).alias("n")
    ).collect()[0]["n"]
    assert residual == 0


def test_pii_staged_rows_each_carry_one_email_one_phone(spark, sf_dir):
    rows = pii_redact_mask(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r["n_emails"] == 1 and r["n_phones"] == 1
        assert r["masked_len"] > 0


def test_k_anonymity_classes_partition_customer(spark, sf_dir):
    out = k_anonymity_audit(spark, sf_dir)
    total = out.agg(F.sum("class_size")).collect()[0][0]
    n_cust = spark.read.parquet(f"{sf_dir}/customer.parquet").count()
    assert total == n_cust
    bad = out.filter(
        (F.col("suppressed") == 1) != (F.col("class_size") < 5)
    ).count()
    assert bad == 0


def test_winsorize_thresholds_bound_tails(spark, sf_dir):
    rows = winsorize_clamp_stats(spark, sf_dir).collect()
    assert rows
    cents = (
        spark.read.parquet(f"{sf_dir}/orders.parquet")
        .select(
            "o_orderpriority",
            F.floor(F.col("o_totalprice") * 100).cast("long").alias("c"),
        )
        .groupBy("o_orderpriority")
        .agg(F.collect_list("c").alias("cs"))
        .collect()
    )
    by_prio = {r["o_orderpriority"]: sorted(r["cs"]) for r in cents}
    for r in rows:
        vals = by_prio[r["o_orderpriority"]]
        # thresholds are actual data elements (discrete percentile)
        assert r["p01_cents"] in vals and r["p99_cents"] in vals
        assert r["p01_cents"] <= r["p99_cents"]
        # strictly-below-p01 count < 1% of n (rank-selection bound);
        # same for strictly-above-p99
        assert r["n_clamped_low"] < 0.01 * r["n"]
        assert r["n_clamped_high"] < 0.01 * r["n"] + 1
        assert r["n"] * r["p01_cents"] <= r["wins_sum_cents"]
        assert r["wins_sum_cents"] <= r["n"] * r["p99_cents"]


def test_ranking_metrics_match_python_rederivation(spark, sf_dir):
    """Re-derive MRR/DCG/IDCG in plain Python from the int8 ranking +
    labels and require exact integer equality — an independent check
    of the metric arithmetic, not just the oracle replay."""
    from dist_keras_spark.plans.llm import knn_int8_quantized_top5

    base = knn_int8_quantized_top5(spark, sf_dir).collect()
    labels = {
        r["vec_id"]: r["label"]
        for r in spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        .select("vec_id", "label")
        .collect()
    }
    expect = {}
    for r in base:
        q = r["query_id"]
        rel = int(labels[q] == labels[r["neighbor_id"]])
        e = expect.setdefault(q, {"n_rel": 0, "rr": 0, "dcg": 0})
        e["n_rel"] += rel
        if rel:
            e["rr"] = max(e["rr"], 10**9 // r["knn_rank"])
            e["dcg"] += _NDCG_W[r["knn_rank"] - 1]
    got = {r["query_id"]: r for r in ranking_mrr_ndcg_at5(spark, sf_dir).collect()}
    assert set(got) == set(expect)
    for q, e in expect.items():
        g = got[q]
        assert g["n_rel"] == e["n_rel"]
        assert g["rr_e9"] == e["rr"]
        assert g["dcg_e9"] == e["dcg"]
        idcg = 0 if e["n_rel"] == 0 else _NDCG_CUM[e["n_rel"] - 1]
        assert g["idcg_e9"] == idcg
        assert g["dcg_e9"] <= g["idcg_e9"]


def test_dsir_weights_on_crafted_micro_corpus(spark, monkeypatch):
    """Token appearing ONLY in the target sources gets weight
    (1e6·(p+1)) div (q+1) with p == q (ratio ≈ 1e6·(p+1)/(p+1));
    a token absent from targets gets ≈ 1e6/(q+1)."""
    import dist_keras_spark.plans.analytics6 as a6

    docs = spark.createDataFrame(
        [
            (1, "hot hot cold", "en", "src0"),   # target
            (2, "hot cold cold", "en", "src9"),  # raw-only
        ],
        "doc_id long, text string, lang string, source string",
    )
    monkeypatch.setattr(a6, "_lt", lambda s, d, n: docs)
    got = {r["doc_id"]: r for r in dsir_importance_weights(spark, "x").collect()}
    # hot: p=2 (doc1), q=3 → w = 1e6*3 div 4 = 750000
    # cold: p=1, q=3 → w = 1e6*2 div 4 = 500000
    assert got[1]["score_e6"] == 2 * 750000 + 500000
    assert got[2]["score_e6"] == 750000 + 2 * 500000
    assert got[1]["n_tokens"] == 3 and got[2]["n_tokens"] == 3
    assert got[1]["per_token_e6"] == (2 * 750000 + 500000) // 3


def test_semdedup_drops_rederive_in_numpy(spark, sf_dir):
    """Re-derive the whole SemDeDup decision in numpy (int64): same
    quantization, same max-inner-product assignment, same
    cross-multiplied τ=0.3 predicate — every drop flag must match."""
    import hashlib

    import numpy as np

    from dist_keras_spark.plans.analytics6 import semdedup_cell_prune

    emb = (
        spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        .select("vec_id", "embedding")
        .collect()
    )
    ids = np.array([r["vec_id"] for r in emb])
    X = np.array([r["embedding"] for r in emb], dtype=np.float64)
    scale = 127.0 / np.abs(X).max(axis=1, keepdims=True)
    # numpy rint rounds half-to-even; Spark/DuckDB round() is
    # half-away-from-zero — replicate explicitly
    Q = np.floor(np.abs(X * scale) + 0.5).astype(np.int64) * np.sign(
        X
    ).astype(np.int64)
    order = sorted(
        range(len(ids)),
        key=lambda i: (
            hashlib.md5(f"{ids[i]}:42".encode()).hexdigest(),
            ids[i],
        ),
    )
    cent = Q[order[:16]]
    dots = Q @ cent.T  # (n, 16)
    cells = np.argmax(dots, axis=1)  # ties → lower cell (argmax rule)
    nn = (Q * Q).sum(axis=1)
    dropped = set()
    by_cell: dict[int, list[int]] = {}
    for i in np.argsort(ids):
        by_cell.setdefault(int(cells[i]), []).append(i)
    for members in by_cell.values():
        for ai, a in enumerate(members):
            for b in members[ai + 1 :]:
                d = int(Q[a] @ Q[b])
                if d > 0 and 100 * d * d >= 9 * int(nn[a]) * int(nn[b]):
                    dropped.add(int(ids[b]))
    got = {
        r["vec_id"]: (r["cell"], r["dropped"])
        for r in semdedup_cell_prune(spark, sf_dir).collect()
    }
    assert len(got) == len(ids)
    for i, vid in enumerate(ids):
        assert got[int(vid)][0] == int(cells[i]), f"cell mismatch vec {vid}"
        assert got[int(vid)][1] == int(int(vid) in dropped), (
            f"drop mismatch vec {vid}"
        )
    assert any(v[1] for v in got.values()), "no drops at all — trivial"


def test_changepoint_finds_injected_step(spark, monkeypatch):
    """A series with 10 days at ~2/day then 10 days at ~8/day must
    split exactly at day 10."""
    import datetime as dt

    import dist_keras_spark.plans.analytics6 as a6

    rows = []
    eid = 0
    for day in range(20):
        per = 2 if day < 10 else 8
        for k in range(per):
            rows.append(
                (
                    eid,
                    dt.datetime(2024, 3, 1 + day, 12, 0, k),
                    1,
                    "step",
                    0.0,
                    "{}",
                )
            )
            eid += 1
    ev = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    )
    monkeypatch.setattr(a6, "_lt", lambda s, d, n: ev)
    out = a6.changepoint_mean_shift(spark, "x").collect()
    assert len(out) == 1
    r = out[0]
    assert r["split_t"] == 10
    assert r["split_day"] == dt.date(2024, 3, 10)
    assert r["mean_before_e6"] == 2_000_000
    assert r["mean_after_e6"] == 8_000_000


def test_ppjoin_prefix_index_is_smaller_and_lossless(spark, sf_dir):
    """The 100 TB claim, measured: prefix postings < full postings;
    and a crafted ≥τ pair survives while a <τ pair does not."""
    import pyspark.sql.functions as F

    from dist_keras_spark.functions.text import shingles, tokens
    from dist_keras_spark.operators.dedup import ppjoin_prefix_pairs

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    sets = docs.select(
        F.size(
            shingles(tokens(F.col("text")), n=4, distinct=True)
        ).alias("ns")
    ).filter(F.col("ns") > 0)
    full = sets.agg(F.sum("ns")).collect()[0][0]
    prefix = sets.agg(
        F.sum(F.col("ns") - F.expr("(3 * ns + 4) div 5") + 1)
    ).collect()[0][0]
    assert prefix < full * 0.55, (prefix, full)

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    near = base + " extra"          # J(4-shingles) well above 0.6
    far = "one two three four five six seven eight nine ten"
    crafted = spark.createDataFrame(
        [(1, base), (2, near), (3, far)], "doc_id long, text string"
    )
    got = {
        (r["id_a"], r["id_b"]): r["jacc_e6"]
        for r in ppjoin_prefix_pairs(crafted, "doc_id", "text", n=4).collect()
    }
    assert (1, 2) in got and got[(1, 2)] >= 600000
    assert (1, 3) not in got and (2, 3) not in got


# Five documents over a 7-word vocabulary: several docs' prefixes end
# inside a run of shingles with equal document frequency, and a df cap
# of 2 drops two of the three τ ≥ 0.6 pairs.
PP_TIED_DOCS = [
    (1, "w4 w5 w0 w5 w3 w3 w2"),
    (2, "w3 w0 w1 w1 w4 w6 w0"),
    (3, "w4 w5 w0 w5 w3 w3 w2"),
    (4, "w3 w5 w1 w1 w4 w6 w0"),
    (5, "w4 w5 w0 w5 w3 w3 w5"),
]


def test_ppjoin_matches_both_oracles_when_prefix_dfs_tie(spark):
    """ppjoin_prefix_pairs against the plain-join oracle (no cap) and
    the dfcap oracle with its cap set to 2, on documents whose prefixes
    tie on df. Any consistent df-ascending order gives the same pairs,
    so this pins the order being global and df-first: ordering by
    shingle alone, or by df descending, changes the capped answer."""
    import duckdb
    import pandas as pd

    from dist_keras_spark.operators.dedup import ppjoin_prefix_pairs
    from dist_keras_spark.plans import ORACLE
    from dist_keras_spark.plans.analytics6 import _PP_DF_CAP

    con = duckdb.connect()
    con.register("documents", pd.DataFrame(PP_TIED_DOCS, columns=["doc_id", "text"]))
    cap_sql = ORACLE["ppjoin_dfcap_pairs"].replace(f"df <= {_PP_DF_CAP}", "df <= 2")
    assert cap_sql != ORACLE["ppjoin_dfcap_pairs"]
    plain = sorted(con.execute(ORACLE["ppjoin_prefix_filter_pairs"]).fetchall())
    capped = sorted(con.execute(cap_sql).fetchall())
    con.close()
    assert capped and len(capped) < len(plain)  # the cap decides pairs

    docs = spark.createDataFrame(PP_TIED_DOCS, "doc_id long, text string")

    def pairs(max_df):
        out = ppjoin_prefix_pairs(docs, "doc_id", "text", n=4, max_df=max_df)
        return sorted(map(tuple, out.collect()))

    assert pairs(None) == plain
    assert pairs(2) == capped


def test_ppjoin_stages_one_frame_per_call(spark, monkeypatch):
    from dist_keras_spark.operators import dedup

    calls = []
    real = dedup._stage

    def counting(df):
        calls.append(df.columns)
        return real(df)

    monkeypatch.setattr(dedup, "_stage", counting)
    docs = spark.createDataFrame(PP_TIED_DOCS, "doc_id long, text string")
    for max_df in (None, 2):
        before = len(calls)
        dedup.ppjoin_prefix_pairs(docs, "doc_id", "text", n=4, max_df=max_df)
        assert len(calls) == before + 1
    assert calls[0] == ["id", "ns", "sh", "pre"]


def test_label_propagation_labels_form_communities(spark, sf_dir):
    from dist_keras_spark.plans.analytics6 import label_propagation_two_rounds

    rows = label_propagation_two_rounds(spark, sf_dir).collect()
    assert rows
    brands = {r["brand"] for r in rows}
    for r in rows:
        assert r["label_r1"] in brands and r["label_r2"] in brands
        assert r["degree"] >= 1
    # propagation is non-trivial: at least one label is shared by >1
    # node after round 2 (communities emerged)
    from collections import Counter

    assert Counter(r["label_r2"] for r in rows).most_common(1)[0][1] > 1


def test_mixture_temperature_invariants(spark, sf_dir):
    from dist_keras_spark.plans.analytics6 import mixture_temperature_alloc

    rows = mixture_temperature_alloc(spark, sf_dir).collect()
    assert rows
    total = sum(r["tokens"] for r in rows)
    assert sum(r["quota"] for r in rows) == total // 2  # Σ quota == budget
    for r in rows:
        assert r["w_sqrt"] ** 2 <= r["tokens"] < (r["w_sqrt"] + 1) ** 2
        assert r["alloc_capped"] == min(r["quota"], r["tokens"])
        assert r["overflow"] == r["quota"] - r["alloc_capped"]


def test_l_diversity_flags_match_definition(spark, sf_dir):
    from dist_keras_spark.plans.analytics6 import l_diversity_audit

    rows = l_diversity_audit(spark, sf_dir).collect()
    assert rows
    n_cust = spark.read.parquet(f"{sf_dir}/customer.parquet").count()
    assert sum(r["class_size"] for r in rows) == n_cust
    for r in rows:
        assert 1 <= r["l_distinct"] <= min(r["class_size"], 5)
        assert r["l_violation"] == int(r["l_distinct"] < 3)


def test_hard_negatives_complement_relevant_in_top5(spark, sf_dir):
    """negatives ∪ relevant == the full int8 top-5 per query: the
    mining filter drops exactly the same-label rows."""
    from dist_keras_spark.plans.analytics6 import hard_negative_mining_top5
    from dist_keras_spark.plans.llm import knn_int8_quantized_top5

    neg = hard_negative_mining_top5(spark, sf_dir).collect()
    assert neg
    for r in neg:
        assert r["query_label"] != r["negative_label"]
    per_q_neg = {}
    for r in neg:
        per_q_neg[r["query_id"]] = per_q_neg.get(r["query_id"], 0) + 1
    labels = {
        r["vec_id"]: r["label"]
        for r in spark.read.parquet(f"{sf_dir}/embeddings.parquet").collect()
    }
    base = knn_int8_quantized_top5(spark, sf_dir).collect()
    per_q_rel = {}
    for r in base:
        if labels[r["query_id"]] == labels[r["neighbor_id"]]:
            per_q_rel[r["query_id"]] = per_q_rel.get(r["query_id"], 0) + 1
    for q in {r["query_id"] for r in base}:
        assert per_q_neg.get(q, 0) + per_q_rel.get(q, 0) == 5


def test_text_normalization_is_idempotent(spark, sf_dir):
    import pyspark.sql.functions as F

    def norm(c):
        return F.trim(
            F.regexp_replace(
                F.regexp_replace(F.lower(c), "[^a-z0-9 ]", ""), " +", " "
            )
        )

    crafted = spark.createDataFrame(
        [
            (1, "Hello,   World!!  "),
            (2, "a--b  c_d 42."),
            (3, "ALREADY lower and clean"),
        ],
        "doc_id long, text string",
    )
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )
    for df in (crafted, docs):
        bad = (
            df.select(norm(F.col("text")).alias("n1"))
            .select("n1", norm(F.col("n1")).alias("n2"))
            .filter(F.col("n1") != F.col("n2"))
            .count()
        )
        assert bad == 0
    got = {
        r["doc_id"]: r
        for r in crafted.select(
            "doc_id", norm(F.col("text")).alias("n")
        ).collect()
    }
    assert got[1]["n"] == "hello world"
    assert got[2]["n"] == "ab cd 42"


def test_leakage_safe_split_keeps_clusters_together(spark, sf_dir):
    import hashlib

    from dist_keras_spark.plans.analytics6 import leakage_safe_split_assign

    rows = leakage_safe_split_assign(spark, sf_dir).collect()
    assert rows
    by_cluster = {}
    for r in rows:
        by_cluster.setdefault(r["cluster_id"], set()).add(r["split"])
    assert all(len(s) == 1 for s in by_cluster.values())
    # at least one multi-doc cluster exists (else the property is vacuous)
    from collections import Counter

    sizes = Counter(r["cluster_id"] for r in rows)
    assert sizes.most_common(1)[0][1] > 1
    # split bucket rederives from md5 in Python
    for cid, splits in by_cluster.items():
        b = int(hashlib.md5(f"{cid}:gsplit".encode()).hexdigest()[:8], 16) % 10
        want = "train" if b < 8 else ("val" if b == 8 else "test")
        assert splits == {want}


def test_audio_energy_matches_python_decode(spark, sf_dir):
    """Full-vector check of the audio path (the query projects
    scalars): frame energies equal the numpy rederivation from the
    same sha256 PCM stream, and peak_frame is the first argmax."""
    import numpy as np

    from dist_keras_spark.operators.multimodal import fake_audio_samples
    from dist_keras_spark.plans.analytics6 import multimodal_audio_energy

    rows = multimodal_audio_energy(spark, sf_dir).collect()
    assert rows
    texts = {
        r["doc_id"]: r["text"]
        for r in spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select("doc_id", "text")
        .collect()
    }
    for r in rows[:50]:
        s = fake_audio_samples(texts[r["doc_id"]].encode(), 64)
        e = (s.reshape(4, 16) ** 2).sum(axis=1)
        assert [r["e0"], r["e1"], r["e2"], r["e3"]] == e.tolist()
        assert r["peak_frame"] == int(np.argmax(e))
        assert r["n_samples"] == 64


def test_fk_audit_counts_are_consistent(spark, sf_dir):
    from dist_keras_spark.plans.analytics6 import fk_orphan_audit

    rows = {r["relationship"]: r for r in fk_orphan_audit(spark, sf_dir).collect()}
    assert len(rows) == 4
    n_orders = spark.read.parquet(f"{sf_dir}/orders.parquet").count()
    n_cust = spark.read.parquet(f"{sf_dir}/customer.parquet").count()
    oc = rows["orders.o_custkey->customer"]
    assert oc["child_rows"] == n_orders and oc["parent_rows"] == n_cust
    # fixtures are referentially intact...
    assert all(r["orphan_children"] == 0 for r in rows.values())
    # ...but coverage is non-trivial: the events stream touches far
    # fewer users than the customer table holds at every SF
    assert rows["events.user_id->customer"]["unreferenced_parents"] > 0
    for r in rows.values():
        assert 0 <= r["unreferenced_parents"] <= r["parent_rows"]


def test_rake_scores_on_crafted_corpus(spark, monkeypatch):
    """'deep learning' rides a 2-phrase; 'cat' always appears alone —
    RAKE must score the phrase words higher despite equal frequency."""
    import dist_keras_spark.plans.analytics6 as a6

    docs = spark.createDataFrame(
        [
            (1, "deep learning for the cat", "en", "src0"),
            (2, "deep learning in a cat", "en", "src0"),
        ],
        "doc_id long, text string, lang string, source string",
    )
    monkeypatch.setattr(a6, "_lt", lambda s, d, n: docs)
    got = {r["token"]: r for r in a6.rake_keyword_scores(spark, "x").collect()}
    # 'deep'/'learning': freq 2, each phrase len 2 → deg 4 → 2.0
    assert got["deep"]["score_e6"] == 2_000_000
    assert got["learning"]["score_e6"] == 2_000_000
    # 'cat': freq 2, phrases len 1 → deg 2 → 1.0; 'a' is NOT an
    # island (it is a stopword) so never scored
    assert got["cat"]["score_e6"] == 1_000_000
    assert "a" not in got and "the" not in got


def test_lorenz_deciles_cover_and_increase(spark, sf_dir):
    import math

    from dist_keras_spark.plans.analytics6 import lorenz_curve_deciles

    rows = sorted(
        lorenz_curve_deciles(spark, sf_dir).collect(),
        key=lambda r: r["decile"],
    )
    assert [r["decile"] for r in rows] == list(range(1, 11))
    n = spark.read.parquet(f"{sf_dir}/orders.parquet").select(
        "o_custkey"
    ).distinct().count()
    shares = [r["cum_share_bp"] for r in rows]
    assert shares == sorted(shares)  # Lorenz curve is non-decreasing
    assert shares[-1] == 10000  # endpoint: full share
    # convexity of the ascending-sorted curve: share at decile d is
    # at most d/10 of the total (equality only under perfect equality)
    for r in rows:
        assert r["cum_share_bp"] <= r["decile"] * 1000
        assert r["boundary_rank"] == math.ceil(r["decile"] * n / 10)


def test_kcore_degrees_shrink_and_flag_consistent(spark, sf_dir):
    from dist_keras_spark.plans.analytics6 import kcore_peel_two_rounds

    rows = kcore_peel_two_rounds(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r["deg0"] >= r["deg1"] >= r["deg2"] >= 0
        assert r["in_core_after_2"] == int(r["deg2"] >= 3)
        # a node peeled in round 1 (deg0 < 3) can hold no edges after
        if r["deg0"] < 3:
            assert r["deg1"] == 0 and r["deg2"] == 0


def test_minhash_estimate_is_unbiasedish_and_bounded(spark, sf_dir):
    """est and exact live on the same scale; the k=16 estimator's
    observed mean |err| on near-dup pairs stays under 3·√(J(1−J)/16)
    ≈ 0.375 — a loose but real accuracy bound; exact-dup pairs
    (J == 1) must estimate exactly 1 (all minima equal)."""
    from dist_keras_spark.plans.analytics6 import minhash_estimate_error

    rows = minhash_estimate_error(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert 0 <= r["est_e6"] <= 1_000_000
        assert r["abs_err_e6"] == abs(r["jacc_e6"] - r["est_e6"])
        if r["jacc_e6"] == 1_000_000:
            assert r["est_e6"] == 1_000_000
    mean_err = sum(r["abs_err_e6"] for r in rows) / len(rows) / 1e6
    assert mean_err < 0.375, mean_err


def test_abc_classes_partition_revenue(spark, sf_dir):
    from dist_keras_spark.plans.analytics6 import abc_classification_parts

    rows = {r["abc_class"]: r for r in abc_classification_parts(spark, sf_dir).collect()}
    assert set(rows) == {"A", "B", "C"}
    total = sum(r["revenue_cents"] for r in rows.values())
    # A covers <= 80% (boundary part goes to B once cum passes 80%)
    assert rows["A"]["revenue_cents"] <= 0.80 * total
    assert rows["A"]["revenue_cents"] + rows["B"]["revenue_cents"] <= 0.95 * total
    assert sum(r["share_bp"] for r in rows.values()) <= 10000
    # full rederivation in Python (fixture revenue is near-uniform, so
    # class-SIZE assertions would be data-shape assumptions; the class
    # boundary arithmetic itself is what must hold)
    import math

    per_part = {}
    for r in (
        spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        .select(
            "l_partkey",
            F.floor(
                F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100
            )
            .cast("long")
            .alias("c"),
        )
        .groupBy("l_partkey")
        .agg(F.sum("c").alias("cents"))
        .collect()
    ):
        per_part[r["l_partkey"]] = r["cents"]
    ordered = sorted(per_part.items(), key=lambda kv: (-kv[1], kv[0]))
    tot = sum(per_part.values())
    cum, want = 0, {"A": [0, 0], "B": [0, 0], "C": [0, 0]}
    for _, cents in ordered:
        cum += cents
        cls = "A" if 100 * cum <= 80 * tot else ("B" if 100 * cum <= 95 * tot else "C")
        want[cls][0] += 1
        want[cls][1] += cents
    for cls in "ABC":
        assert rows[cls]["n_parts"] == want[cls][0]
        assert rows[cls]["revenue_cents"] == want[cls][1]
        assert rows[cls]["share_bp"] == (10000 * want[cls][1]) // tot


def test_bootstrap_ci_brackets_the_point_estimate(spark, sf_dir):
    from dist_keras_spark.plans.analytics6 import bootstrap_ci_mean

    r = bootstrap_ci_mean(spark, sf_dir).collect()
    assert len(r) == 1
    r = r[0]
    assert r["n_replicas"] == 20
    assert r["ci_lo_cents"] <= r["ci_hi_cents"]
    # Poisson(1) replica means center on the sample mean — for a
    # 90% CI from 20 replicas the point estimate falls inside
    assert r["ci_lo_cents"] <= r["point_mean_cents"] <= r["ci_hi_cents"]


def test_vocab_overlap_bounds_and_symmetric_pairs(spark, sf_dir):
    from dist_keras_spark.plans.analytics6 import source_vocab_overlap

    rows = source_vocab_overlap(spark, sf_dir).collect()
    n_src = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select("source")
        .distinct()
        .count()
    )
    assert len(rows) == n_src * (n_src - 1) // 2  # every unordered pair
    for r in rows:
        assert r["src_a"] < r["src_b"]
        assert 0 < r["n_shared"] <= min(r["nv_a"], r["nv_b"])
        assert 0 < r["vocab_jaccard_e6"] <= 1_000_000


def test_segment_migration_rows_cover_bihalf_customers(spark, sf_dir):
    import pyspark.sql.functions as F

    from dist_keras_spark.plans.analytics6 import segment_migration_matrix

    rows = segment_migration_matrix(spark, sf_dir).collect()
    assert rows
    segs = {(r["seg_h1"], r["seg_h2"]) for r in rows}
    assert segs <= {(i, j) for i in range(1, 5) for j in range(1, 5)}
    total = sum(r["n_customers"] for r in rows)
    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    b = o.agg(
        F.expr(
            "date_add(CAST(min(o_orderdate) AS DATE), "
            "CAST(datediff(CAST(max(o_orderdate) AS DATE), "
            "CAST(min(o_orderdate) AS DATE)) div 2 AS INT))"
        ).alias("dmid")
    ).collect()[0]["dmid"]
    h1 = o.filter(F.to_date("o_orderdate") <= F.lit(b)).select("o_custkey").distinct()
    h2 = o.filter(F.to_date("o_orderdate") > F.lit(b)).select("o_custkey").distinct()
    assert total == h1.join(h2, "o_custkey").count()


def test_fairness_rates_rederive_from_confusion(spark, sf_dir):
    from dist_keras_spark.plans.analytics6 import fairness_metrics_by_group
    from dist_keras_spark.plans.ml import ml_linear_scorer

    rows = {r["grp"]: r for r in fairness_metrics_by_group(spark, sf_dir).collect()}
    assert set(rows) == {0, 1, 2}
    scored = {r["vec_id"]: r["pred"] for r in ml_linear_scorer(spark, sf_dir).collect()}
    labels = {
        r["vec_id"]: r["label"]
        for r in spark.read.parquet(f"{sf_dir}/embeddings.parquet").collect()
    }
    import math

    agg = {g: {"n": 0, "pp": 0, "tp": 0, "p": 0, "fp": 0, "neg": 0} for g in range(3)}
    for vid, pred in scored.items():
        g = vid % 3
        t = int(labels[vid] % 2 == 0)
        a = agg[g]
        a["n"] += 1
        a["pp"] += pred
        a["p"] += t
        a["neg"] += 1 - t
        a["tp"] += pred & t
        a["fp"] += pred & (1 - t)
    for g, a in agg.items():
        r = rows[g]
        assert r["n"] == a["n"]
        assert r["pred_pos_rate_micro"] == math.floor(a["pp"] / a["n"] * 1e6)
        assert r["tpr_micro"] == math.floor(a["tp"] / a["p"] * 1e6)
        assert r["fpr_micro"] == math.floor(a["fp"] / a["neg"] * 1e6)


def test_conformal_coverage_hits_the_guarantee(spark, sf_dir):
    """Split-conformal's finite-sample guarantee: empirical test
    coverage ≥ 1−α−slack. With exchangeable folds the expected
    coverage is ≥ 0.9; allow binomial slack for the small fixture."""
    from dist_keras_spark.plans.analytics6 import conformal_interval_coverage

    r = conformal_interval_coverage(spark, sf_dir).collect()
    assert len(r) == 1
    r = r[0]
    assert r["n_cal"] > 0 and r["n_test"] > 0
    n = r["n_test"]
    slack = 3 * (0.09 / n) ** 0.5 * 1e6  # ~3σ binomial at p≈0.9
    assert r["coverage_micro"] >= 900000 - slack
    assert r["q_hat_micro"] >= 0


def test_blocking_quality_structure(spark, sf_dir):
    from dist_keras_spark.plans.analytics6 import blocking_quality_metrics

    r = blocking_quality_metrics(spark, sf_dir).collect()
    assert len(r) == 1
    r = r[0]
    assert 0 <= r["n_caught"] <= r["n_true"]
    assert r["n_caught"] <= r["n_candidates"]
    assert 0 <= r["pair_completeness_micro"] <= 1_000_000
    assert 0 <= r["reduction_ratio_micro"] <= 1_000_000
    # banding must eliminate the vast majority of the n^2/2 space
    assert r["reduction_ratio_micro"] > 900_000
    # and near-dup-heavy fixtures must keep most true pairs
    assert r["n_true"] > 0
    assert r["pair_completeness_micro"] >= 500_000


def test_blocking_quality_sampled_stratum_deterministic(spark, sf_dir):
    """VERDICT r8 #4: the sampled certification must be retry- and
    partitioning-stable (the whole point of a hash stratum), and its
    stratum must be the exact md5-bucket subset — re-running and
    re-partitioning the input may not move a single counter."""
    import pyspark.sql.functions as F

    from dist_keras_spark.operators.quality import deterministic_sample
    from dist_keras_spark.plans.analytics6 import blocking_quality_sampled

    r1 = blocking_quality_sampled(spark, sf_dir).collect()[0].asDict()
    r2 = blocking_quality_sampled(spark, sf_dir).collect()[0].asDict()
    assert r1 == r2
    # stratum membership is pure content hash: invariant under an
    # adversarial repartition of the source
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    ids_a = {
        r["doc_id"]
        for r in deterministic_sample(d, "doc_id", 50).select("doc_id").collect()
    }
    ids_b = {
        r["doc_id"]
        for r in deterministic_sample(d.repartition(7, "lang"), "doc_id", 50)
        .select("doc_id")
        .collect()
    }
    assert ids_a == ids_b
    n_docs = d.count()
    # a 50% bucket sample should land near half (binomial 3σ bound)
    assert abs(len(ids_a) - n_docs / 2) <= 3 * (n_docs * 0.25) ** 0.5
    assert r1["n_candidates"] >= r1["n_caught"]
    assert r1["n_true"] >= r1["n_caught"]
    assert 0 <= r1["pair_completeness_micro"] <= 1_000_000
    assert 0 <= r1["reduction_ratio_micro"] <= 1_000_000


def test_seasonal_strength_rederives_in_python(spark, sf_dir):
    import pyspark.sql.functions as F

    from dist_keras_spark.plans.analytics6 import seasonal_strength_dow

    rows = {r["event_type"]: r for r in seasonal_strength_dow(spark, sf_dir).collect()}
    daily = (
        spark.read.parquet(f"{sf_dir}/events.parquet")
        .groupBy(
            "event_type",
            F.to_date("ts").alias("day"),
            F.dayofweek(F.to_date("ts")).alias("dow"),
        )
        .count()
        .collect()
    )
    from collections import defaultdict

    per = defaultdict(lambda: {"n": 0, "s": 0, "ss": 0, "dw": defaultdict(lambda: [0, 0])})
    for r in daily:
        p = per[r["event_type"]]
        c = r["count"]
        p["n"] += 1
        p["s"] += c
        p["ss"] += c * c
        p["dw"][r["dow"]][0] += 1
        p["dw"][r["dow"]][1] += c
    for et, p in per.items():
        got = rows[et]
        sst = 10**6 * p["ss"] - (10**6 * p["s"] * p["s"]) // p["n"]
        ssb = sum((10**6 * sd * sd) // nd for nd, sd in p["dw"].values()) - (
            10**6 * p["s"] * p["s"]
        ) // p["n"]
        assert got["ss_total_e6"] == sst
        assert got["ss_between_e6"] == ssb
        assert got["strength_micro"] == (10**6 * ssb) // sst
        assert 0 <= got["strength_micro"] <= 1_000_000


def test_hhi_bounds_and_monopoly_limit(spark, sf_dir):
    from dist_keras_spark.plans.analytics6 import hhi_concentration_by_nation

    rows = hhi_concentration_by_nation(spark, sf_dir).collect()
    assert rows
    for r in rows:
        # HHI in bp^2: 1e8/n_suppliers (perfect equality, minus floor
        # slack) <= hhi <= 1e8 (monopoly)
        assert r["hhi_bp2"] <= 100_000_000
        lower = 10**8 // r["n_suppliers"] - 10000 * r["n_suppliers"]
        assert r["hhi_bp2"] >= max(lower, 0)


def test_table_profile_matches_direct_queries(spark, sf_dir):
    import re

    import pyspark.sql.functions as F

    from dist_keras_spark.plans.analytics6 import table_profile_orders

    df = table_profile_orders(spark, sf_dir)
    # r14 plan gate: the multi-distinct Expand pass must stay
    # HashAggregate — a string min/max buffer inside that aggregate
    # demotes the whole N·7-row frame to Sort + SortAggregate (the
    # r14 before-plan). String min/max live in a separate KEYLESS
    # aggregate, which may itself plan as SortAggregate (keys=[] ⇒ no
    # Sort inserted, harmless) — so the gate is: no KEYED
    # SortAggregate anywhere in the plan. Regex over node shape, not
    # exact rendering (ADVICE r13).
    plan = df._jdf.queryExecution().executedPlan().toString()
    keyed_sort_agg = re.findall(r"SortAggregate\(key=\[[^\]]", plan)
    assert not keyed_sort_agg, plan
    rows = {r["column_name"]: r for r in df.collect()}
    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    n = o.count()
    assert all(r["n_rows"] == n and r["n_nulls"] == 0 for r in rows.values())
    assert rows["o_orderkey"]["n_distinct"] == n  # primary key
    assert rows["o_orderstatus"]["n_distinct"] == o.select("o_orderstatus").distinct().count()
    mn, mx = o.agg(F.min("o_custkey"), F.max("o_custkey")).collect()[0]
    assert rows["o_custkey"]["min_repr"] == str(mn)
    assert rows["o_custkey"]["max_repr"] == str(mx)


def test_semdedup_scaled_cells_equals_baseline_at_clamped_k(spark, sf_dir):
    """At fixture scale (500 vectors) the k ∝ N formula clamps to the
    baseline's 16 cells, so semdedup_scaled_cells must produce
    EXACTLY semdedup_cell_prune's output — through a different
    physical path (Arrow int64-matmul argmax assignment vs the
    broadcast crossJoin + window). Bit-equality here proves the matmul
    kernel implements the same integer max-inner-product assignment,
    including the ties-to-lower-cell rule."""
    from dist_keras_spark.plans.analytics6 import (
        semdedup_cell_prune,
        semdedup_scaled_cells,
    )

    base = {
        r["vec_id"]: (r["cell"], r["dropped"])
        for r in semdedup_cell_prune(spark, sf_dir).collect()
    }
    scaled = {
        r["vec_id"]: (r["cell"], r["dropped"])
        for r in semdedup_scaled_cells(spark, sf_dir).collect()
    }
    assert scaled == base


def test_semdedup_scaled_cells_grows_k_with_corpus(spark):
    """At sf0.1 (2000 vectors) k = 2000//100 = 20 > 16: the scaled
    twin must actually use the larger cell count (cells 16..19
    populated) — this is the k ∝ N behavior the r10 sweep found
    missing."""
    from dist_keras_spark.plans.analytics6 import semdedup_scaled_cells

    out = semdedup_scaled_cells(spark, "/root/testdata/sf0.1").toPandas()
    assert out["cell"].max() == 19
    assert out["cell"].nunique() > 16


def test_materialize_storage_mode_staged_queries(spark, sf_dir, checkpoint_dir):
    """VERDICT r13 #3: the staged query plans must run the documented
    100 TB path (a reliable checkpoint to the session's checkpoint dir,
    taken by `_stage` whenever one is set) as executed code, not a
    docstring — and produce the identical result. One representative
    per touched file: conformal_interval_coverage (analytics6),
    kmeans_lloyd_two_iters (llm) and drift_chi2_daily (analytics — the
    6→1 events-scan staging)."""
    from dist_keras_spark.plans.analytics import drift_chi2_daily
    from dist_keras_spark.plans.analytics6 import conformal_interval_coverage
    from dist_keras_spark.plans.llm import kmeans_lloyd_two_iters

    fns = (conformal_interval_coverage, kmeans_lloyd_two_iters, drift_chi2_daily)
    local = [sorted(map(tuple, fn(spark, sf_dir).collect())) for fn in fns]
    ckpt = checkpoint_dir()
    for fn, want in zip(fns, local):
        assert sorted(map(tuple, fn(spark, sf_dir).collect())) == want, fn.__name__
    assert any(p.is_file() for p in ckpt.rglob("*"))
