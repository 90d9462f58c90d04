"""LLM-data-pipeline queries (SURVEY.md §2.J, north star): dedup
(exact / Jaccard / MinHash-LSH / SimHash), similarity search
(brute-force + LSH kNN), text analysis (stats, quality, lang-id,
TF-IDF, fingerprint), multimodal join.

Each query runs the real operator from operators/dedup.py /
operators/similarity.py / functions/text.py; the oracle replays the
semantics in ANSI SQL. Approximate operators (LSH variants) either
have a sharp oracle (verified candidates at a threshold where miss
probability < 1e-7) or register rows-only with a pytest recall gate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from dist_keras_spark.functions.arrays import int8_quantize
from dist_keras_spark.functions.text import (
    doc_fingerprint,
    lang_id_heuristic,
    stopword_ratio,
    tokens,
)
from dist_keras_spark.operators.dedup import (
    _stage,
    exact_dedup,
    jaccard_pairs,
    minhash_lsh_pairs,
    simhash_pairs,
)
from dist_keras_spark.operators.similarity import knn_bruteforce, knn_lsh, topk_scored
from dist_keras_spark.operators.utils import bounded_window_key
from dist_keras_spark.plans.registry import query
from dist_keras_spark.sources.tables import load_table as _lt

# Shared DuckDB fragment: doc_id → distinct 3-word shingle set.
_SHINGLES_CTE = """
shingle_sets AS (
    SELECT doc_id,
           list_distinct(list_transform(range(1, len(t) - 1),
                                        i -> array_to_string(t[i:i+2], ' '))) AS s
    FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents)
)
"""

_JACCARD_PAIRS_SQL = (
    "WITH "
    + _SHINGLES_CTE
    + """,
postings AS (SELECT doc_id, len(s) AS ns, unnest(s) AS shingle FROM shingle_sets),
shared AS (
    SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS c,
           any_value(a.ns) AS na, any_value(b.ns) AS nb
    FROM postings a JOIN postings b
      ON a.shingle = b.shingle AND a.doc_id < b.doc_id
    GROUP BY 1, 2
)
SELECT id_a, id_b, round(c * 1.0 / (na + nb - c), 4) AS jaccard
FROM shared WHERE c * 1.0 / (na + nb - c) >= {tau}
"""
)


@query(
    "dedup_exact_priority",
    oracle="""
SELECT doc_id, source, md5(text) AS text_md5
FROM (
    SELECT *, row_number() OVER (
        PARTITION BY md5(text)
        ORDER BY CASE WHEN source = 'copy' THEN 1 ELSE 0 END, doc_id) AS rn
    FROM (SELECT doc_id, text, lang, source, n_chars FROM documents
          UNION ALL
          SELECT doc_id, text, lang, 'copy' AS source, n_chars FROM documents
          WHERE doc_id % 3 = 0)
) WHERE rn = 1
""",
)
def dedup_exact_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1+J10: exact dedup by content hash with source priority.

    The fixture has no exact dups, so we union a 'copy'-source replica
    of every third doc; the operator must keep the original. One
    shuffle keyed on md5(text).
    """
    d = _lt(spark, sf_dir, "documents")
    copies = d.filter(F.col("doc_id") % 3 == 0).withColumn("source", F.lit("copy"))
    unioned = d.unionByName(copies)
    kept = exact_dedup(
        unioned,
        text_col="text",
        keep_order=[(F.col("source") == "copy").cast("int"), F.col("doc_id")],
    )
    return kept.select("doc_id", "source", F.md5("text").alias("text_md5"))


@query(
    "jaccard_neardup_pairs",
    oracle=_JACCARD_PAIRS_SQL.format(tau=0.5),
)
def jaccard_neardup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J3: exact 3-shingle Jaccard ≥ 0.5 via inverted-index join —
    never a cross join; candidate pairs exist only where a shingle is
    shared."""
    d = _lt(spark, sf_dir, "documents")
    out = jaccard_pairs(d, "doc_id", "text", n=3, threshold=0.5)
    return out.select("id_a", "id_b", F.round("jaccard", 4).alias("jaccard"))


@query(
    "minhash_lsh_neardup",
    oracle=_JACCARD_PAIRS_SQL.format(tau=0.8),
)
def minhash_lsh_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J2: MinHash (k=64) + LSH banding (16×4) near-dup pairs, verified
    with exact Jaccard ≥ 0.8. Oracle is the *exact* Jaccard SQL: at
    the fixture's duplicate similarity (j ≥ 0.9) the LSH miss
    probability is (1-0.9⁴)¹⁶ ≈ 4e-8, so exact equality is expected;
    the pytest suite additionally gates recall explicitly."""
    d = _lt(spark, sf_dir, "documents")
    out = minhash_lsh_pairs(d, "doc_id", "text", n=3, k=64, bands=16, threshold=0.8)
    return out.select("id_a", "id_b", F.round("jaccard", 4).alias("jaccard"))


@query(
    "neardup_cluster_assign",
    oracle="""
WITH RECURSIVE pairs AS (
    WITH """
    + _SHINGLES_CTE.strip()
    + """,
    postings AS (SELECT doc_id, len(s) AS ns, unnest(s) AS shingle FROM shingle_sets),
    shared AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS c,
               any_value(a.ns) AS na, any_value(b.ns) AS nb
        FROM postings a JOIN postings b
          ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY 1, 2)
    SELECT id_a, id_b FROM shared WHERE c * 1.0 / (na + nb - c) >= 0.5
),
edges AS (
    SELECT id_a AS src, id_b AS dst FROM pairs
    UNION ALL
    SELECT id_b AS src, id_a AS dst FROM pairs
),
reach(id, r) AS (
    SELECT doc_id, doc_id FROM documents
    UNION
    SELECT e.dst, r.r FROM reach r JOIN edges e ON e.src = r.id
)
SELECT id AS doc_id, CAST(min(r) AS BIGINT) AS cluster_id
FROM reach GROUP BY id
""",
)
def neardup_cluster_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J-dedup clustering: connected components over exact-Jaccard≥0.5
    near-dup pairs — every document labeled with the smallest doc id
    reachable through the pair graph (the cluster representative a
    keep-one-per-cluster dedup then selects).

    The Spark side runs iterative min-label propagation
    (operators/dedup.neardup_clusters — one shuffle-join per round,
    rounds = graph diameter); the oracle computes the identical unique
    fixpoint with a recursive CTE. Integer labels only, so the
    hash-check is exact despite the completely different execution
    strategies — an ITERATIVE algorithm with a sharp oracle.

    Two-step regime note (sf1→sf2 sweep, r11): exp 2.36 — the exact
    3-gram candidate join saturates the synthetic 31-word vocab's
    31³ ≈ 30k shingle space, after which postings pairs grow ∝ N²
    (the incremental_dedup_new_batch mechanism, 31× earlier than the
    4-gram ops). Kept as the exact ORACLE baseline; the registered
    scale-safe path is neardup_cluster_lsh (MinHash-band candidates,
    signature space never saturates)."""
    from dist_keras_spark.operators.dedup import jaccard_pairs, neardup_clusters

    d = _lt(spark, sf_dir, "documents")
    pairs = jaccard_pairs(d, "doc_id", "text", n=3, threshold=0.5).select(
        "id_a", "id_b"
    )
    verts = d.select(F.col("doc_id").alias("id"))
    return neardup_clusters(verts, pairs, id_col="id").select(
        F.col("id").alias("doc_id"), "cluster_id"
    )


@query(
    "neardup_cluster_lsh",
    oracle="""
WITH RECURSIVE pairs AS (
    WITH """
    + _SHINGLES_CTE.strip()
    + """,
    postings AS (SELECT doc_id, len(s) AS ns, unnest(s) AS shingle FROM shingle_sets),
    shared AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS c,
               any_value(a.ns) AS na, any_value(b.ns) AS nb
        FROM postings a JOIN postings b
          ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY 1, 2)
    SELECT id_a, id_b FROM shared WHERE c * 1.0 / (na + nb - c) >= 0.8
),
edges AS (
    SELECT id_a AS src, id_b AS dst FROM pairs
    UNION ALL
    SELECT id_b AS src, id_a AS dst FROM pairs
),
reach(id, r) AS (
    SELECT doc_id, doc_id FROM documents
    UNION
    SELECT e.dst, r.r FROM reach r JOIN edges e ON e.src = r.id
)
SELECT id AS doc_id, CAST(min(r) AS BIGINT) AS cluster_id
FROM reach GROUP BY id
""",
)
def neardup_cluster_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SCALE-SAFE twin of neardup_cluster_assign: identical
    min-label connected-components fixpoint, but candidate pairs come
    from MinHash-LSH banding (the minhash_lsh_neardup kernel, 16×4
    bands, verify at exact Jaccard ≥ 0.8) instead of the exact 3-gram
    postings self-join. The baseline's sf1→sf2 exponent is 2.36
    because the 31-word fixture vocab saturates the 3-gram space
    (31³ ≈ 30k shingles) and ANY shingle-keyed candidate join turns
    structurally quadratic past saturation (the incremental_dedup
    mechanism, bench_extended_trace "scaling_sf1_sf2"); MinHash band
    buckets key on signature SLICES, whose space never saturates —
    the LSH pair step measured exp 0.56 on the same sf1→sf2 step.

    Oracle: the same recursive-CTE fixpoint over EXACT Jaccard ≥ 0.8
    pairs — sharp because the fixture's true near-dups sit at j ≥ 0.9
    where the 16×4 band miss probability is (1−0.9⁴)¹⁶ ≈ 4e-8 (the
    minhash_lsh_neardup precedent, hash-green since r8); pytest
    additionally pins the clusters to a pure-Python union-find.
    Accepted-risk notes (ADVICE r11):
    - the oracle includes pairs at exactly j = 0.8, where the band
      miss probability is (1−0.8⁴)¹⁶ ≈ 2e-4 per pair — a latent
      divergence if a fixture/SF ever produces boundary-band pairs
      (the micro-nat-rounding class of note; raise bands if a corpus
      concentrates mass at the threshold);
    - minhash_lsh_pairs's max_bucket valve silently DROPS band
      buckets above the cap, which the exact oracle does not model —
      so the REGISTERED form disables the valve (max_bucket=None: no
      upper-bound filter in the plan, at the cost of re-exposing
      degenerate-bucket skew; production picks a finite cap and
      accepts the candidate loss). ADVICE r12: this used to pass a
      corpus-sized bound (max_bucket=d.count()), which was
      semantically identical but cost an eager full-table action at
      plan-construction time. cluster_cap_sample_lsh /
      leakage_safe_split_lsh inherit this setting by calling this
      query."""
    from dist_keras_spark.operators.dedup import minhash_lsh_pairs, neardup_clusters

    d = _lt(spark, sf_dir, "documents")
    pairs = minhash_lsh_pairs(
        d,
        "doc_id",
        "text",
        n=3,
        k=64,
        bands=16,
        threshold=0.8,
        # valve disabled ⇒ lossless vs the exact oracle, and no eager
        # count() at plan time (see docstring note)
        max_bucket=None,
    ).select("id_a", "id_b")
    verts = d.select(F.col("doc_id").alias("id"))
    return neardup_clusters(verts, pairs, id_col="id").select(
        F.col("id").alias("doc_id"), "cluster_id"
    )


@query(
    "pack_docs_into_contexts",
    oracle="""
SELECT doc_id, lang, n_tokens,
       CAST(floor((cum - n_tokens) / 512.0) AS INT) AS bin_id
FROM (
    SELECT doc_id, lang, n_tokens,
           sum(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
                               ROWS UNBOUNDED PRECEDING) AS cum
    FROM (SELECT doc_id, lang,
                 CAST(len(string_split(text, ' ')) AS INT) AS n_tokens
          FROM documents))
""",
)
def pack_docs_into_contexts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J-pipeline sequence packing: assign each document to the
    512-token context bin where it STARTS (bin = floor(tokens-before /
    512), per lang, deterministic doc_id order) — the standard
    pretraining packing layout, computed as one running-sum window.
    ONE shuffle on lang; integer token counts both engines, float only
    in the final floor-divide where both compute the identical value."""
    d = _lt(spark, sf_dir, "documents").select(
        "doc_id",
        "lang",
        F.size(F.split("text", " ")).cast("int").alias("n_tokens"),
    )
    w = (
        W.partitionBy("lang")
        .orderBy("doc_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    cum = F.sum("n_tokens").over(w)
    return d.select(
        "doc_id",
        "lang",
        "n_tokens",
        F.floor((cum - F.col("n_tokens")) / 512.0).cast("int").alias("bin_id"),
    )


@query(
    "quality_repetition_ratio",
    oracle="""
SELECT doc_id,
       CAST(len(t) AS INT)                AS total_tokens,
       CAST(len(list_distinct(t)) AS INT) AS distinct_tokens,
       round(1.0 - len(list_distinct(t)) * 1.0 / len(t), 6) AS rep_ratio,
       CASE WHEN 1.0 - len(list_distinct(t)) * 1.0 / len(t) > 0.6
            THEN 1 ELSE 0 END AS too_repetitive
FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents)
""",
)
def quality_repetition_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J7 repetition filter (Gopher/C4-style quality rule): the
    duplicate-token ratio 1 - distinct/total flags degenerate repeated
    text. Pure scan-side array expressions — at 100 TB this is a
    zero-shuffle pass like the other quality predicates."""
    toks = F.split(F.col("text"), " ")
    d = _lt(spark, sf_dir, "documents").select(
        "doc_id",
        F.size(toks).cast("int").alias("total_tokens"),
        F.size(F.array_distinct(toks)).cast("int").alias("distinct_tokens"),
    )
    ratio = 1.0 - F.col("distinct_tokens") / F.col("total_tokens")
    return d.select(
        "doc_id",
        "total_tokens",
        "distinct_tokens",
        F.round(ratio, 6).alias("rep_ratio"),
        F.when(ratio > 0.6, F.lit(1)).otherwise(F.lit(0)).alias("too_repetitive"),
    )


@query(
    "dataset_split_assign",
    oracle="""
SELECT doc_id,
       CASE WHEN b < 8 THEN 'train' WHEN b = 8 THEN 'val' ELSE 'test' END AS split
FROM (SELECT doc_id,
             ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':split'), 1, 8))::BIGINT
             % 10 AS b
      FROM documents)
""",
)
def dataset_split_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J-pipeline deterministic train/val/test split: bucket 0-7 →
    train, 8 → val, 9 → test by a salted md5 of the id — stable across
    runs, partitionings, AND engines (the md5 prefix parses to the
    identical integer in DuckDB, unlike xxhash64). Scan-side
    expression, no shuffle, no RNG state — the property a reproducible
    data pipeline needs from its split."""
    b = (
        F.conv(
            F.substring(F.md5(F.concat(F.col("doc_id").cast("string"), F.lit(":split"))), 1, 8),
            16,
            10,
        ).cast("long")
        % 10
    )
    return _lt(spark, sf_dir, "documents").select(
        "doc_id",
        F.when(b < 8, F.lit("train"))
        .when(b == 8, F.lit("val"))
        .otherwise(F.lit("test"))
        .alias("split"),
    )


@query(
    "decontaminate_vs_benchmark",
    oracle="WITH "
    + _SHINGLES_CTE
    + """,
bench AS (
    SELECT DISTINCT unnest(s) AS shingle FROM shingle_sets WHERE doc_id % 50 = 0
),
hits AS (
    SELECT DISTINCT p.doc_id
    FROM (SELECT doc_id, unnest(s) AS shingle FROM shingle_sets
          WHERE doc_id % 50 <> 0) p
    JOIN bench USING (shingle)
)
SELECT d.doc_id,
       CASE WHEN h.doc_id IS NULL THEN 0 ELSE 1 END AS contaminated
FROM (SELECT doc_id FROM documents WHERE doc_id % 50 <> 0) d
LEFT JOIN hits h ON d.doc_id = h.doc_id
""",
)
def decontaminate_vs_benchmark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J-pipeline decontamination: flag training documents that share
    any 3-shingle with a held-out benchmark set (docs with
    doc_id % 50 == 0 stand in for the benchmark).

    Scale shape: the benchmark side is SMALL by construction, so its
    distinct shingles BROADCAST — the corpus side explodes shingles
    scan-side and left-semi-joins the broadcast set with no shuffle of
    corpus data at all; the flagged-id set (tiny) joins back to the
    corpus the same way. At 100 TB this is two corpus scans and zero
    wide shuffles — the standard decontamination topology."""
    from dist_keras_spark.operators.dedup import shingle_postings

    d = _lt(spark, sf_dir, "documents")
    # codegen explode path (r9); the unused ns column prunes away.
    # The final left side stays the RAW documents frame: postings drop
    # docs shorter than 3 tokens, but every corpus doc gets a verdict.
    posts = shingle_postings(d, "doc_id", "text", 3).select("id", "shingle")
    bench_sh = (
        posts.filter(F.col("id") % 50 == 0).select("shingle").distinct()
    )
    hits = (
        posts.filter(F.col("id") % 50 != 0)
        .join(F.broadcast(bench_sh), "shingle", "left_semi")
        .select("id")
        .distinct()
        .withColumn("__hit", F.lit(1))
    )
    return (
        d.filter(F.col("doc_id") % 50 != 0)
        .select("doc_id")
        .join(F.broadcast(hits), F.col("doc_id") == F.col("id"), "left")
        .select(
            "doc_id",
            F.coalesce("__hit", F.lit(0)).alias("contaminated"),
        )
    )


@query(
    "data_mix_token_budget",
    oracle="""
SELECT doc_id, lang, n_tokens
FROM (
    SELECT doc_id, lang, n_tokens,
           sum(n_tokens) OVER (PARTITION BY lang ORDER BY n_chars DESC, doc_id
                               ROWS UNBOUNDED PRECEDING) AS cum
    FROM (SELECT doc_id, lang, n_chars,
                 CAST(len(string_split(text, ' ')) AS INT) AS n_tokens
          FROM documents))
WHERE cum <= 2000
""",
)
def data_mix_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J-pipeline mixture curation: per-language token budget — keep
    the longest documents per lang (n_chars DESC, doc_id tiebreak)
    until a 2000-token budget fills. The running-sum window shuffles
    once on lang; at 100 TB the per-lang sort is the cost, and a
    two-phase approx-quantile cutoff (approx_ntile_buckets pattern)
    is the documented scale fallback when lang cardinality is tiny
    and groups are huge."""
    d = _lt(spark, sf_dir, "documents").select(
        "doc_id",
        "lang",
        "n_chars",
        F.size(F.split("text", " ")).cast("int").alias("n_tokens"),
    )
    w = (
        W.partitionBy("lang")
        .orderBy(F.col("n_chars").desc(), "doc_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    return (
        d.withColumn("cum", F.sum("n_tokens").over(w))
        .filter(F.col("cum") <= 2000)
        .select("doc_id", "lang", "n_tokens")
    )


_BM25_TERMS = ("join", "scan", "vector")
_BM25_K1, _BM25_B, _BM25_K = 1.2, 0.75, 10


def _bm25_oracle_sql() -> str:
    """Replays the BM25 scoring SQL with the same formula structure as
    the Spark expression (association order preserved) so doubles agree
    to the last few ulps; ordering is on the ROUNDED score + doc_id so
    sub-1e-4 float noise can never reorder the top-k across engines."""
    k1, b, k = _BM25_K1, _BM25_B, _BM25_K
    per_doc = ", ".join(
        f"len(list_filter(toks, x -> x = '{t}')) AS tf_{t}" for t in _BM25_TERMS
    )
    dfs = ", ".join(
        f"sum(CASE WHEN tf_{t} > 0 THEN 1 ELSE 0 END) AS df_{t}" for t in _BM25_TERMS
    )
    score = " + ".join(
        f"ln((s.n - s.df_{t} + 0.5) / (s.df_{t} + 0.5) + 1)"
        f" * (d.tf_{t} * ({k1} + 1))"
        f" / (d.tf_{t} + {k1} * (1 - {b} + {b} * d.dl / s.avgdl))"
        for t in _BM25_TERMS
    )
    return f"""
WITH docs AS (
    SELECT doc_id, len(toks) AS dl, {per_doc}
    FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)
),
stats AS (
    SELECT count(*) AS n, avg(dl) AS avgdl, {dfs} FROM docs
),
scored AS (
    SELECT d.doc_id, round({score}, 4) AS bm25
    FROM docs d CROSS JOIN stats s
)
SELECT doc_id, bm25,
       CAST(row_number() OVER (ORDER BY bm25 DESC, doc_id) AS INT) AS bm25_rank
FROM scored
QUALIFY row_number() OVER (ORDER BY bm25 DESC, doc_id) <= {k}
"""


@query("bm25_topk_docs", oracle=_bm25_oracle_sql())
def bm25_topk_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J8 retrieval path: BM25 (k1=1.2, b=0.75, Lucene-style idf) of a
    fixed 3-term query over the corpus, top-10 docs.

    Scale shape: term frequencies and doc length are SCAN-SIDE array
    expressions (size(filter(tokens, …)) — no explode, no shuffle of
    token rows); corpus stats (N, avgdl, per-term df) are one tiny
    aggregate broadcast back via a 1-row cross join; the top-k is
    TakeOrderedAndProject on the rounded score. Two corpus scans total,
    zero wide shuffles — at 100 TB the stats row is the only thing that
    moves. Ordering is on the ROUNDED score (4dp) + doc_id so the
    cross-engine top-k set is deterministic despite last-ulp ln/division
    noise."""
    k1, b, k = _BM25_K1, _BM25_B, _BM25_K
    toks = F.split(F.col("text"), " ")

    def _tf(term: str) -> F.Column:
        # closure, not a defaulted lambda arg — Spark introspects
        # higher-order-function arity (see operators/dedup.py simhash)
        return F.size(F.filter(toks, lambda x: x == F.lit(term)))

    d = _lt(spark, sf_dir, "documents").select(
        "doc_id",
        F.size(toks).alias("dl"),
        *[_tf(t).alias(f"tf_{t}") for t in _BM25_TERMS],
    )
    stats = d.agg(
        F.count(F.lit(1)).alias("n"),
        F.avg("dl").alias("avgdl"),
        *[
            F.sum((F.col(f"tf_{t}") > 0).cast("int")).alias(f"df_{t}")
            for t in _BM25_TERMS
        ],
    )
    score = None
    for t in _BM25_TERMS:
        idf = F.log(
            (F.col("n") - F.col(f"df_{t}") + 0.5) / (F.col(f"df_{t}") + 0.5) + 1
        )
        part = idf * (F.col(f"tf_{t}") * (k1 + 1)) / (
            F.col(f"tf_{t}") + k1 * (1 - b + b * F.col("dl") / F.col("avgdl"))
        )
        score = part if score is None else score + part
    scored = d.crossJoin(F.broadcast(stats)).select(
        "doc_id", F.round(score, 4).alias("bm25")
    )
    # TakeOrderedAndProject first (per-partition top-k, merged), THEN
    # rank the k survivors — a bare row_number() over an unpartitioned
    # window would sort the whole scored corpus through one task (the
    # global-window rule the plan-hygiene gate enforces).
    w = W.partitionBy(bounded_window_key(F.col("doc_id"))).orderBy(
        F.col("bm25").desc(), "doc_id"
    )
    top = scored.orderBy(F.col("bm25").desc(), "doc_id").limit(k)
    return (
        top.withColumn("bm25_rank", F.row_number().over(w).cast("int"))
        .select("doc_id", "bm25", "bm25_rank")
    )


_SIMHASH_ORACLE_SQL = """
WITH tok AS (
    SELECT doc_id, ('0x' || substr(md5(t), 1, 15))::BIGINT AS h
    FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents)
),
bits AS (
    SELECT doc_id, p.p,
           CASE WHEN sum(CASE WHEN (h >> p.p) & 1 = 1 THEN 1 ELSE -1 END) > 0
                THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END AS b
    FROM tok CROSS JOIN (SELECT unnest(range(0, 60)) AS p) p
    GROUP BY doc_id, p.p
),
sig AS (SELECT doc_id, CAST(sum(b << p) AS BIGINT) AS s FROM bits GROUP BY doc_id),
banded AS (
    SELECT doc_id, s, bi.bi AS band, (s >> (bi.bi * 15)) & 32767 AS bkey
    FROM sig CROSS JOIN (SELECT unnest(range(0, 4)) AS bi) bi
),
cand AS (
    SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
           a.s AS sa, b.s AS sb
    FROM banded a JOIN banded b ON a.band = b.band AND a.bkey = b.bkey
    WHERE a.doc_id < b.doc_id
)
SELECT id_a, id_b, CAST(bit_count(xor(sa, sb)) AS INT) AS hamming
FROM cand WHERE bit_count(xor(sa, sb)) <= 3
"""


@query("simhash_neardup", oracle=_SIMHASH_ORACLE_SQL)
def simhash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs (60-bit md5-derived signature, Hamming
    radius 3 via 4×15-bit pigeonhole bands). SHARP oracle: the token
    hash is the first 15 hex chars of md5 — DuckDB computes the
    identical BIGINT, so the oracle replays signature construction
    (per-bit ±1 majority over the token multiset), banding, candidate
    join, and the bit_count(xor) verify exactly. Integer arithmetic
    end-to-end: no float divergence is possible. pytest additionally
    checks it finds the same near-dup clusters as exact Jaccard."""
    d = _lt(spark, sf_dir, "documents")
    return simhash_pairs(d, "doc_id", "text", radius=3)


@query(
    "knn_bruteforce_top5",
    oracle="""
WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
           FROM embeddings WHERE vec_id % 20 = 0),
scored AS (
    SELECT q.query_id, e.vec_id AS neighbor_id,
           round(
             list_sum(list_transform(range(1, 65),
                 i -> CAST(e.embedding[i] AS DOUBLE) * q.qv[i]))
             / (sqrt(list_sum(list_transform(range(1, 65),
                 i -> CAST(e.embedding[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE))))
              * sqrt(list_sum(list_transform(range(1, 65),
                 i -> q.qv[i] * q.qv[i])))), 6) AS cosine
    FROM embeddings e, q
    WHERE e.vec_id <> q.query_id
),
ranked AS (SELECT *, row_number() OVER (PARTITION BY query_id
                                        ORDER BY cosine DESC, neighbor_id) AS knn_rank
           FROM scored)
SELECT query_id, neighbor_id, knn_rank, cosine FROM ranked WHERE knn_rank <= 5
""",
)
def knn_bruteforce_top5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J5 exact path: top-5 cosine neighbors for every 20th vector, by
    similarity.topk_scored — the query side collected once, the spread
    corpus scored in Arrow batches, and only each batch's candidates
    for a query's top 5 shuffled to the ranking window.

    Scale regime: the query set grows with the corpus, so pairwise
    work is Θ(N²/20) BY CONSTRUCTION. Warm, 4 cores: 1.1-1.6s at sf0.1
    and 2.4-3.0s at sf1, where the array-expression fold it replaced
    took 1.6-2.7s and 63-65s, with identical rows. Carried as the
    exact-recall oracle the sub-quadratic registered paths
    (knn_ivf_top5, knn_ivf_pq_adc, knn_lsh_top5) re-rank against."""
    e = _lt(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") % 20 == 0)
    out = knn_bruteforce(e, q, "vec_id", "embedding", k=5)
    return out.select(
        "query_id", "neighbor_id", F.col("rank").alias("knn_rank"), "cosine"
    )


def _knn_lsh_oracle_sql(
    n_planes: int = 4, tables: int = 8, seed: int = 42, dim: int = 64, k: int = 5
) -> str:
    """Generate DuckDB SQL that replays knn_lsh EXACTLY: the seeded
    hyperplanes are embedded as full-precision literals (repr round-
    trips doubles), so bucketing, candidate union, and the exact
    re-rank are all reproduced — a SHARP hash oracle for an
    approximate-ANN path, not a rows-only check. Both engines fold the
    projection dot products left-to-right over doubles (see
    functions/arrays.py docstring), so sign bits agree except on
    measure-zero |proj| < 1e-15 boundaries."""
    from dist_keras_spark.operators.similarity import _hyperplanes

    rows = []
    for t in range(tables):
        for j, w in enumerate(_hyperplanes(dim, n_planes, seed + t)):
            lit = "[" + ", ".join(repr(float(x)) for x in w) + "]::DOUBLE[]"
            rows.append(f"({t}, {1 << j}, {lit})")
    values = ",\n  ".join(rows)
    cos = """round(
             list_sum(list_transform(range(1, 65),
                 i -> a.v[i] * b.v[i]))
             / (sqrt(list_sum(list_transform(range(1, 65), i -> a.v[i] * a.v[i])))
              * sqrt(list_sum(list_transform(range(1, 65), i -> b.v[i] * b.v[i])))), 6)"""
    return f"""
WITH corpus AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
planes(tbl, pw, w) AS (VALUES
  {values}),
sig AS (
    SELECT c.vec_id, p.tbl,
           CAST(sum(CASE WHEN list_sum(list_transform(range(1, 65),
                              i -> c.v[i] * p.w[i])) > 0
                         THEN p.pw ELSE 0 END) AS BIGINT) AS bucket
    FROM corpus c CROSS JOIN planes p
    GROUP BY c.vec_id, p.tbl),
cand AS (
    SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS neighbor_id
    FROM sig q JOIN sig c ON q.tbl = c.tbl AND q.bucket = c.bucket
    WHERE q.vec_id % 20 = 0 AND c.vec_id <> q.vec_id),
scored AS (
    SELECT cand.query_id, cand.neighbor_id,
           {cos} AS cosine
    FROM cand
    JOIN corpus a ON a.vec_id = cand.query_id
    JOIN corpus b ON b.vec_id = cand.neighbor_id),
ranked AS (SELECT *, row_number() OVER (PARTITION BY query_id
                                        ORDER BY cosine DESC, neighbor_id) AS knn_rank
           FROM scored)
SELECT query_id, neighbor_id, knn_rank, cosine FROM ranked WHERE knn_rank <= {k}
"""


@query("knn_lsh_top5", oracle=_knn_lsh_oracle_sql())
def knn_lsh_top5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J5 scale path: random-hyperplane LSH (4 planes × 8 tables),
    exact re-rank within buckets. Hash-verified against a generated
    DuckDB oracle that replays the same seeded hyperplanes as SQL
    literals (see _knn_lsh_oracle_sql) — the approximate candidate
    structure itself is deterministic, so the check is exact.

    Two-step regime note (sf1→sf2 sweep, r12): exp 1.12 — under the
    1.3 flag, but the mechanism is the pinned-parameter one: 4 planes
    ⇒ 16 buckets/table, so in-bucket candidate pairs grow ∝ N²/16
    once N ≫ buckets (the dedup_embedding_cosine 8-bit mechanism,
    arriving later because re-rank is per-query top-k, not all
    pairs). The registered growing-parameter dials are
    dedup_embedding_scaled_planes (band bits k = Θ(log N) from a
    fixed layout) and the IVF route (knn_ivf_scaled_top5, cells ∝ N);
    the same plane schedule applies verbatim here if this index is
    kept past ~1M vectors."""
    e = _lt(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") % 20 == 0)
    out = knn_lsh(e, q, "vec_id", "embedding", k=5, n_planes=4, tables=8, seed=42, dim=64)
    return out.select(
        "query_id", "neighbor_id", F.col("rank").alias("knn_rank"), "cosine"
    )


_MP_PLANES_SEED = 7
_MP_N_PLANES = 8
_MP_FLIPS = 3


def _mp_planes():
    from dist_keras_spark.operators.similarity import _hyperplanes

    return _hyperplanes(64, _MP_N_PLANES, _MP_PLANES_SEED)


def _knn_lsh_multiprobe_oracle_sql(k: int = 5) -> str:
    """Generated oracle replaying multi-probe LSH end-to-end: the same
    seeded hyperplanes as SQL literals (the _knn_lsh_oracle_sql
    technique), sign-bit bucket, margin ranking by (|projection|, bit),
    the 3 lowest-margin single-bit flips as extra probes, candidate
    join, exact cosine re-rank."""
    rows = []
    for j, w in enumerate(_mp_planes()):
        lit = "[" + ", ".join(repr(float(x)) for x in w) + "]::DOUBLE[]"
        rows.append(f"({j}, {lit})")
    values = ",\n  ".join(rows)
    cos = """round(
             list_sum(list_transform(range(1, 65),
                 i -> a.v[i] * b.v[i]))
             / (sqrt(list_sum(list_transform(range(1, 65), i -> a.v[i] * a.v[i])))
              * sqrt(list_sum(list_transform(range(1, 65), i -> b.v[i] * b.v[i])))), 6)"""
    return f"""
WITH corpus AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
planes(j, w) AS (VALUES
  {values}),
proj AS (
    SELECT c.vec_id, p.j,
           list_sum(list_transform(range(1, 65), i -> c.v[i] * p.w[i])) AS pr
    FROM corpus c CROSS JOIN planes p),
sig AS (
    SELECT vec_id,
           CAST(sum(CASE WHEN pr > 0 THEN (1 << j) ELSE 0 END) AS INT) AS bucket
    FROM proj GROUP BY vec_id),
marg AS (
    SELECT vec_id, j,
           row_number() OVER (PARTITION BY vec_id ORDER BY abs(pr), j) AS rk
    FROM proj),
probes AS (
    SELECT vec_id, bucket AS pb FROM sig WHERE vec_id % 20 = 0
    UNION ALL
    SELECT m.vec_id, CAST(xor(s.bucket, (1 << m.j)) AS INT) AS pb
    FROM marg m JOIN sig s USING (vec_id)
    WHERE m.rk <= {_MP_FLIPS} AND m.vec_id % 20 = 0),
cand AS (
    SELECT p.vec_id AS query_id, c.vec_id AS neighbor_id
    FROM probes p JOIN sig c ON c.bucket = p.pb
    WHERE c.vec_id <> p.vec_id),
scored AS (
    SELECT cand.query_id, cand.neighbor_id, {cos} AS cosine
    FROM cand
    JOIN corpus a ON a.vec_id = cand.query_id
    JOIN corpus b ON b.vec_id = cand.neighbor_id),
ranked AS (SELECT *, row_number() OVER (PARTITION BY query_id
                                        ORDER BY cosine DESC, neighbor_id) AS knn_rank
           FROM scored)
SELECT query_id, neighbor_id, knn_rank, cosine FROM ranked WHERE knn_rank <= {k}
"""


@query("knn_lsh_multiprobe_top5", oracle=_knn_lsh_multiprobe_oracle_sql())
def knn_lsh_multiprobe_top5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J5 third LSH form: MULTI-PROBE query-directed probing (Lv et
    al. 2007, public knowledge) — ONE hash table of 8 sign-bit planes
    (256 buckets), and each query probes its own bucket PLUS the 3
    buckets reached by flipping its lowest-|margin| sign bits (the
    bits most likely to be wrong for a boundary vector). The classic
    memory dial: multi-probe trades extra probes for fewer tables —
    knn_lsh_top5 stores 8 tables × 4 planes to get its recall; this
    form stores ONE table and recovers boundary recall at query time,
    an 8× index-memory cut.

    Determinism/oracle: planes are seeded literals replayed in SQL;
    bucket bits, margin ranking (|projection| asc, bit asc) and the
    single-bit XOR flips are exact integer/float arithmetic both
    engines compute identically (the accepted near-tie note of
    _knn_lsh_oracle_sql applies to sign and margin-order ties —
    measure-zero on continuous data). Probe buckets are distinct by
    construction (distinct flipped bits), so the candidate union is
    duplicate-free without a DISTINCT.

    100 TB shape: projections/bucket are scan-side literal-plane
    folds (no UDF, no shuffle); the probe join is a bucket equi-join
    with 4 probe rows per query; re-rank windows on query_id. The
    pinned 8-bit bucket space shares knn_lsh_top5's regime ceiling
    (in-bucket mass ∝ N²/256 eventually) — measured 10× exp 0.08
    (overhead-dominated) and sf1→sf2 exp 1.19 (the ceiling arriving,
    still under the 1.3 flag at 100k vectors); the growing-parameter
    dials named there apply verbatim; multi-probe is orthogonal to
    (and composes with) both."""
    from dist_keras_spark.functions.arrays import cosine_similarity
    from dist_keras_spark.operators.dedup import spread

    planes = _mp_planes()
    e = spread(_lt(spark, sf_dir, "embeddings"), "vec_id")
    projs = []
    for plane in planes:
        projs.append(
            F.aggregate(
                F.zip_with(
                    F.col("embedding"),
                    F.array(*[F.lit(float(w)) for w in plane]),
                    lambda x, y: x.cast("double") * y,
                ),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
        )
    bucket = F.lit(0)
    for j in range(_MP_N_PLANES):
        bucket = bucket + F.when(projs[j] > 0, F.lit(1 << j)).otherwise(F.lit(0))
    margs = F.array(
        *[
            F.struct(F.abs(projs[j]).alias("m"), F.lit(j).alias("j"))
            for j in range(_MP_N_PLANES)
        ]
    )
    base = e.select(
        "vec_id",
        "embedding",
        bucket.cast("int").alias("bucket"),
        margs.alias("margs"),
    )
    c = base.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("cvec"),
        "bucket",
    )
    q = (
        base.filter(F.col("vec_id") % 20 == 0)
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("qvec"),
            F.explode(
                F.expr(
                    "concat(array(bucket), "
                    f"transform(slice(sort_array(margs), 1, {_MP_FLIPS}), "
                    "s -> cast(bucket ^ shiftleft(1, s.j) as int)))"
                )
            ).alias("bucket"),
        )
    )
    cand = (
        c.join(q, "bucket")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "qvec", "neighbor_id", "cvec")
    )
    scored = cand.withColumn(
        "cosine", F.round(cosine_similarity("qvec", "cvec"), 6)
    )
    w = W.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("knn_rank", F.row_number().over(w))
        .filter(F.col("knn_rank") <= 5)
        .select("query_id", "neighbor_id", "knn_rank", "cosine")
    )


def _knn_ivf_oracle_sql(
    n_cells: int = 16,
    n_probe: int = 8,
    seed: int = 42,
    dim: int = 64,
    k: int = 5,
    query_mod: int = 20,
    scaled_cells: bool = False,
) -> str:
    """DuckDB SQL that replays knn_ivf end-to-end — the same technique
    as _knn_lsh_oracle_sql, but the quantizer is DATA-derived, so the
    oracle recomputes it from the table instead of embedding literals:
    the centroid sample orders by md5(vec_id || ':seed') (portable —
    this is exactly why knn_ivf samples by md5, not xxhash64), cell
    assignment ranks cosine-to-centroid with ties toward the lower
    cell (Spark side uses a stable argsort for the same reason), the
    corpus keeps its top cell, queries probe the top n_probe, and the
    exact re-rank folds the same left-to-right double arithmetic as
    Spark's F.aggregate kernel. Residual risk (documented, accepted):
    Spark's assignment sims come from numpy matmul (pairwise/SIMD
    summation), so a near-tie between two cells can assign differently
    — measure-zero on continuous data, same class of risk as the
    knn_lsh fold-order note."""
    cos = """round(
             list_sum(list_transform(range(1, 65),
                 i -> a.v[i] * b.v[i]))
             / (sqrt(list_sum(list_transform(range(1, 65), i -> a.v[i] * a.v[i])))
              * sqrt(list_sum(list_transform(range(1, 65), i -> b.v[i] * b.v[i])))), 6)"""
    centsim = """(list_sum(list_transform(range(1, 65), i -> c.v[i] * ct.v[i]))
             / (greatest(sqrt(list_sum(list_transform(range(1, 65), i -> c.v[i] * c.v[i]))), 1e-12)
              * greatest(sqrt(list_sum(list_transform(range(1, 65), i -> ct.v[i] * ct.v[i]))), 1e-12)))"""
    # Scaled quantizer (knn_ivf_scaled_top5): n_cells derived from the
    # data with the same integer rule as the Spark side — max(16,
    # N div 1000) — so cells grow ∝ N while n_probe stays fixed and
    # per-query candidate work (n_probe · N/cells ≈ 8000 vectors)
    # stays CONSTANT.
    ncells_sql = (
        "(SELECT greatest(16, count(*) // 1000) FROM corpus)"
        if scaled_cells
        else str(n_cells)
    )
    return f"""
WITH corpus AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
cent AS (
    SELECT row_number() OVER (
               ORDER BY md5(CAST(vec_id AS VARCHAR) || ':{seed}'), vec_id) - 1 AS cell,
           v
    FROM corpus
    QUALIFY row_number() OVER (
               ORDER BY md5(CAST(vec_id AS VARCHAR) || ':{seed}'), vec_id) <= {ncells_sql}),
assign AS (
    SELECT c.vec_id, ct.cell,
           row_number() OVER (PARTITION BY c.vec_id
                              ORDER BY {centsim} DESC, ct.cell) AS pr
    FROM corpus c CROSS JOIN cent ct),
corpus_cell AS (SELECT vec_id, cell FROM assign WHERE pr = 1),
query_cell  AS (SELECT vec_id, cell FROM assign
                WHERE pr <= {n_probe} AND vec_id % {query_mod} = 0),
cand AS (
    SELECT q.vec_id AS query_id, cc.vec_id AS neighbor_id
    FROM query_cell q JOIN corpus_cell cc USING (cell)
    WHERE cc.vec_id <> q.vec_id),
scored AS (
    SELECT cand.query_id, cand.neighbor_id, {cos} AS cosine
    FROM cand
    JOIN corpus a ON a.vec_id = cand.query_id
    JOIN corpus b ON b.vec_id = cand.neighbor_id),
ranked AS (SELECT *, row_number() OVER (PARTITION BY query_id
                                        ORDER BY cosine DESC, neighbor_id) AS knn_rank
           FROM scored)
SELECT query_id, neighbor_id, knn_rank, cosine FROM ranked WHERE knn_rank <= {k}
"""


@query("knn_ivf_top5", oracle=_knn_ivf_oracle_sql())
def knn_ivf_top5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J5 second scale path: IVF coarse quantizer (16 sampled cells,
    probe 8), exact re-rank within probed cells — scans ~half the
    corpus per query instead of all of it (n_probe/n_cells tunes the
    fraction; the near-orthogonal fixture needs a generous probe).
    Hash-verified: the md5-ordered centroid sample is replayed by the
    generated DuckDB oracle (see _knn_ivf_oracle_sql)."""
    from dist_keras_spark.operators.similarity import knn_ivf

    e = _lt(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") % 20 == 0)
    out = knn_ivf(e, q, "vec_id", "embedding", k=5, n_cells=16, n_probe=8, seed=42)
    return out.select(
        "query_id", "neighbor_id", F.col("rank").alias("knn_rank"), "cosine"
    )


@query(
    "knn_ivf_scaled_top5",
    oracle=_knn_ivf_oracle_sql(scaled_cells=True),
)
def knn_ivf_scaled_top5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SCALE-SAFE twin of knn_ivf_top5 / knn_ivf_persisted_top5:
    identical IVF pipeline, but the quantizer GROWS with the corpus —
    n_cells = max(16, N div 1000) — while n_probe stays 8, so each
    query scans n_probe · N/cells ≈ 8000 vectors REGARDLESS of N and
    total work is Θ(queries · 8000) — linear when queries ∝ N. The
    pinned-16-cell baselines are quadratic by construction once
    queries scale with the corpus (each query re-ranks n_probe/16 of
    ALL of N): measured exp 1.95 on the sf1→sf2 step for the
    persisted form (bench_extended_trace "scaling_sf1_sf2") — the
    semdedup_cell_prune pinned-parameter mechanism. Recall trade:
    shrinking the probed FRACTION (8/cells) lowers boundary-neighbor
    recall on near-orthogonal data; production tunes n_probe ∝
    log(cells) — here the fixed probe keeps the oracle sharp (the
    oracle replays the same pipeline with the same data-derived cell
    count, so the hash check is exact at every N; at fixture sizes
    the schedule clamps to 16 and output EQUALS knn_ivf_top5,
    pytest-pinned).

    Driver ceiling (ADVICE r11): the centroid table is still a
    driver-side collect shipped into the Arrow assignment kernel, so
    it grows ∝ N/1000 × dim doubles — ~0.5 MB per million corpus rows.
    The 'constant per-query fan-out' claim is therefore bounded by
    driver/broadcast memory at roughly 1e8–1e9 corpus rows (~0.05–0.5
    GB of centroids); past that the quantizer goes hierarchical — and
    that step is now IMPLEMENTED, not promised (r13):
    operators/similarity.knn_ivf_two_level collects only ceil(√cells)
    coarse centroids and keeps the cells-sized sub-centroid table
    distributed, registered + hash-verified as `knn_ivf_hier_top5`.
    rrf_fusion_scaled_top5 / ivf_pq_scaled_top5 and the two
    analytics6 twins inherit this ceiling and its implemented
    continuation."""
    from dist_keras_spark.operators.similarity import knn_ivf

    e = _lt(spark, sf_dir, "embeddings")
    cells = max(16, e.count() // 1000)
    q = e.filter(F.col("vec_id") % 20 == 0)
    out = knn_ivf(
        e, q, "vec_id", "embedding", k=5, n_cells=cells, n_probe=8, seed=42
    )
    return out.select(
        "query_id", "neighbor_id", F.col("rank").alias("knn_rank"), "cosine"
    )


def _knn_ivf_hier_oracle_sql(
    seed: int = 42,
    n_probe_coarse: int = 4,
    n_probe_sub: int = 2,
    k: int = 5,
    base_delta: bool = False,
    emit: str = "search",
) -> str:
    """Replays knn_ivf_two_level end-to-end: milli quantization, the
    √cells coarse sample (md5 order), exact-integer coarse assignment,
    per-coarse-cell sub-centroid selection (second md5 order),
    exact-integer fine assignment, the 4×2 probe schedule, and the
    float-cosine re-rank — every comparison before the final cosine is
    int64, so assignments are bit-identical across engines.

    `base_delta=True` replays the FROZEN-structure ingest variant
    (ivf_hier_base_delta_top5): the schedule, coarse sample, and
    sub-centroid selection all see ONLY the base stratum (md5 bucket
    < _IVF_BASE_PCT), while assignment/probing/re-rank cover the full
    base+delta union (reads the module-level bucket constants at call
    time — callers sit below their definitions)."""
    cos = """round(
             list_sum(list_transform(range(1, 65),
                 i -> a.v[i] * b.v[i]))
             / (sqrt(list_sum(list_transform(range(1, 65), i -> a.v[i] * a.v[i])))
              * sqrt(list_sum(list_transform(range(1, 65), i -> b.v[i] * b.v[i])))), 6)"""
    d2 = (
        "list_sum(list_transform(range(1, 65),"
        " i -> ({x}.vq[i] - {c}.{cv}[i]) * ({x}.vq[i] - {c}.{cv}[i])))"
    )
    base_col = (
        f",\n           ({_IVF_VEC_BUCKET} < {_IVF_BASE_PCT}) AS is_base"
        if base_delta
        else ""
    )
    base_pred = " WHERE is_base" if base_delta else ""
    sub_base_pred = " AND c.is_base" if base_delta else ""
    tail = _hier_oracle_tails(d2, cos, n_probe_coarse, n_probe_sub, k, emit)
    return f"""
WITH corpus AS (
    SELECT vec_id, embedding::DOUBLE[] AS v,
           list_transform(embedding,
               x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS vq{base_col}
    FROM embeddings),
params AS (
    SELECT n_cells, n_coarse,
           (n_cells + n_coarse - 1) // n_coarse AS n_sub
    FROM (SELECT greatest(16, count(*) // 1000) AS n_cells,
                 CAST(ceil(sqrt(greatest(16, count(*) // 1000))) AS BIGINT)
                     AS n_coarse
          FROM corpus{base_pred})),
coarse AS (
    SELECT row_number() OVER (
               ORDER BY md5(CAST(vec_id AS VARCHAR) || ':{seed}'), vec_id) - 1
               AS cc,
           vq
    FROM corpus{base_pred}
    QUALIFY row_number() OVER (
               ORDER BY md5(CAST(vec_id AS VARCHAR) || ':{seed}'), vec_id)
            <= (SELECT n_coarse FROM params)),
cassign AS (
    SELECT vec_id, cc FROM (
        SELECT c.vec_id, ct.cc,
               row_number() OVER (PARTITION BY c.vec_id
                   ORDER BY {d2.format(x='c', c='ct', cv='vq')}, ct.cc) AS rn
        FROM corpus c CROSS JOIN coarse ct)
    WHERE rn = 1),
subc AS (
    SELECT a.cc,
           row_number() OVER (PARTITION BY a.cc
               ORDER BY md5(CAST(c.vec_id AS VARCHAR) || ':{seed}:sub'),
                        c.vec_id) AS sub_rank,
           c.vq AS sq
    FROM cassign a JOIN corpus c ON c.vec_id = a.vec_id{sub_base_pred}
    QUALIFY sub_rank <= (SELECT n_sub FROM params)),
fine AS (
    SELECT vec_id, cc, sub_rank FROM (
        SELECT c.vec_id, a.cc, s.sub_rank,
               row_number() OVER (PARTITION BY c.vec_id
                   ORDER BY {d2.format(x='c', c='s', cv='sq')}, s.sub_rank)
                   AS rn
        FROM cassign a
        JOIN corpus c USING (vec_id)
        JOIN subc s ON s.cc = a.cc)
    WHERE rn = 1){tail}
"""


def _hier_oracle_tails(
    d2: str, cos: str, n_probe_coarse: int, n_probe_sub: int, k: int, emit: str
) -> str:
    """The CTE tail after `fine`: the top-k search pipeline, or the
    per-leaf base/delta occupancy rollup (emit='drift')."""
    if emit == "drift":
        return """,
occ AS (
    SELECT f.cc AS coarse, f.sub_rank,
           CAST(sum(CASE WHEN c.is_base THEN 1 ELSE 0 END) AS BIGINT)
               AS n_base,
           CAST(sum(CASE WHEN c.is_base THEN 0 ELSE 1 END) AS BIGINT)
               AS n_delta
    FROM fine f JOIN corpus c ON c.vec_id = f.vec_id
    GROUP BY f.cc, f.sub_rank)
SELECT coarse, sub_rank, n_base, n_delta,
       CAST((1000000 * n_delta) // greatest(n_base + n_delta, 1) AS BIGINT)
           AS delta_share_micro
FROM occ"""
    return f""",
qcoarse AS (
    SELECT vec_id, cc FROM (
        SELECT c.vec_id, ct.cc,
               row_number() OVER (PARTITION BY c.vec_id
                   ORDER BY {d2.format(x='c', c='ct', cv='vq')}, ct.cc) AS rn
        FROM corpus c CROSS JOIN coarse ct
        WHERE c.vec_id % 20 = 0)
    WHERE rn <= {n_probe_coarse}),
qprobe AS (
    SELECT vec_id, cc, sub_rank FROM (
        SELECT qc.vec_id, qc.cc, s.sub_rank,
               row_number() OVER (PARTITION BY qc.vec_id, qc.cc
                   ORDER BY {d2.format(x='c', c='s', cv='sq')}, s.sub_rank)
                   AS rn
        FROM qcoarse qc
        JOIN corpus c USING (vec_id)
        JOIN subc s ON s.cc = qc.cc)
    WHERE rn <= {n_probe_sub}),
cand AS (
    SELECT DISTINCT p.vec_id AS query_id, f.vec_id AS neighbor_id
    FROM qprobe p JOIN fine f
      ON f.cc = p.cc AND f.sub_rank = p.sub_rank
    WHERE f.vec_id <> p.vec_id),
scored AS (
    SELECT cand.query_id, cand.neighbor_id, {cos} AS cosine
    FROM cand
    JOIN corpus a ON a.vec_id = cand.query_id
    JOIN corpus b ON b.vec_id = cand.neighbor_id),
ranked AS (
    SELECT *, row_number() OVER (PARTITION BY query_id
                                 ORDER BY cosine DESC, neighbor_id) AS knn_rank
    FROM scored)
SELECT query_id, neighbor_id, knn_rank, cosine FROM ranked WHERE knn_rank <= {k}"""


@query("knn_ivf_hier_top5", oracle=_knn_ivf_hier_oracle_sql())
def knn_ivf_hier_top5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TWO-LEVEL IVF under the cells = max(16, N div 1000) schedule —
    the registered proof of the hierarchical step every scaled-IVF
    ceiling paragraph used to promise (VERDICT r12 #6): the driver
    collect shrinks from cells (∝ N/1000 — the ~1e8-row ceiling the
    flat family documents) to ceil(√cells) coarse centroids (~1000
    rows at N = 10⁹), and the cells-sized sub-centroid table stays a
    DataFrame on the cluster. Assignment work per vector drops from
    Θ(cells) to Θ(√cells) dot products (coarse Arrow kernel + a
    bounded n_sub fan-out join), so quantizer cost is Θ(N·√cells)
    while per-query probe fan-out stays the constant
    n_probe_coarse·n_probe_sub·N/cells ≈ 8000 vectors of the flat
    scaled form.

    Exactness: every assignment comparison (both levels, both sides)
    is an int64 squared distance over milli-quantized coordinates
    (the kmeans_lloyd_two_iters technique) — no float-parity surface
    until the final cosine re-rank, which reuses the family's proven
    round-6 expression. At the fixture clamp: 16 cells → 4 coarse ×
    4 sub, probes 4×2 = 8 leaves (the same probed fraction as
    knn_ivf_top5's 8/16). Recall trade vs flat: a sub-cell in an
    unprobed coarse cell is invisible even if globally close —
    n_probe_coarse is the dial (FAISS IVF-coarse-quantizer shape).

    The flat scaled family (knn_ivf_scaled_top5, semdedup, ivf_pq,
    freshness loop) keeps its single-level quantizer below the
    documented ceiling; THIS query is the implemented continuation
    past it, behind the same operator surface
    (operators/similarity.knn_ivf_two_level).

    MEASURED (r13, quiet window): 10× exp 0.65 (2.8s → 12.4s —
    absolute parity with the flat scaled form at sf1), sf1→sf2 exp
    0.82. The spread() in _rerank_candidates is load-bearing: the
    vid-window's AQE-coalesced handful of partitions otherwise
    serializes the candidate-cosine stage (measured 72s → 12s at
    sf1, a 4.5× recovery)."""
    from dist_keras_spark.operators.similarity import knn_ivf_two_level

    e = _lt(spark, sf_dir, "embeddings")
    cells = max(16, e.count() // 1000)
    q = e.filter(F.col("vec_id") % 20 == 0)
    out = knn_ivf_two_level(
        e,
        q,
        "vec_id",
        "embedding",
        k=5,
        n_cells=cells,
        n_probe_coarse=4,
        n_probe_sub=2,
        seed=42,
    )
    return out.select(
        "query_id", "neighbor_id", F.col("rank").alias("knn_rank"), "cosine"
    )


@query("knn_ivf_hier_persisted_top5", oracle=_knn_ivf_hier_oracle_sql())
def knn_ivf_hier_persisted_top5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The two-level index MATERIALIZED (r13) — hierarchical
    quantization meets the build-once/search-many posture: corpus
    written parquet partitioned by (coarse, sub_rank) LEAF directory,
    `_coarse_centroids` (√cells rows — the only thing search ever
    collects) and `_sub_centroids` (cells-sized, read as a DataFrame)
    persisted alongside. Each search prunes to its
    n_probe_coarse·n_probe_sub probed leaf directories at the storage
    layer, so per-query read cost is the constant ≈ 8000 vectors of
    the scaled family while the driver footprint stays √cells at ANY
    index size — the composition that holds past BOTH the flat
    family's ~1e8-row centroid ceiling and its per-query scan cost.

    Same quantizer, same probes, same re-rank as the inline form, so
    output EQUALS knn_ivf_hier_top5 row-for-row (pytest-pinned) and
    the same generated oracle applies. Path encodes the cell count
    (build_ivf_two_level_index's idempotent short-circuit contract).
    MEASURED (r13, quiet window): 10× exp 0.84, sf1→sf2 exp 0.77."""
    from dist_keras_spark.operators.similarity import (
        build_ivf_two_level_index,
        search_ivf_two_level_index,
    )
    from dist_keras_spark.sources.sinks import scratch_path

    e = _lt(spark, sf_dir, "embeddings")
    cells = max(16, e.count() // 1000)
    tag = sf_dir.rstrip("/").rsplit("/", 1)[-1]
    path = scratch_path(spark, f"ivf_hier_index_{tag}_c{cells}")
    build_ivf_two_level_index(e, path, "vec_id", "embedding", n_cells=cells, seed=42)
    q = e.filter(F.col("vec_id") % 20 == 0)
    out = search_ivf_two_level_index(
        spark, path, q, "vec_id", "embedding", k=5, n_probe_coarse=4, n_probe_sub=2
    )
    return out.select(
        "query_id", "neighbor_id", F.col("rank").alias("knn_rank"), "cosine"
    )


@query(
    "cosine_pairs_threshold",
    oracle="""
WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
           FROM embeddings WHERE vec_id % 20 = 0)
SELECT q.query_id, e.vec_id AS neighbor_id,
       round(
         list_sum(list_transform(range(1, 65),
             i -> CAST(e.embedding[i] AS DOUBLE) * q.qv[i]))
         / (sqrt(list_sum(list_transform(range(1, 65),
             i -> CAST(e.embedding[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE))))
          * sqrt(list_sum(list_transform(range(1, 65),
             i -> q.qv[i] * q.qv[i])))), 4) AS cosine
FROM embeddings e, q
WHERE e.vec_id <> q.query_id
  AND list_sum(list_transform(range(1, 65),
          i -> CAST(e.embedding[i] AS DOUBLE) * q.qv[i]))
      / (sqrt(list_sum(list_transform(range(1, 65),
          i -> CAST(e.embedding[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE))))
       * sqrt(list_sum(list_transform(range(1, 65),
          i -> q.qv[i] * q.qv[i])))) >= 0.2
""",
)
def cosine_pairs_threshold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J4: pairwise cosine ≥ 0.2 between sampled queries and the corpus
    — the pairwise-similarity primitive under the dedup/knn operators.

    Pairwise-stage discipline (r10 scaling sweep): the per-pair fold
    is an INTERPRETED HOF, so (a) spread()
    the corpus — the single-partition local scan otherwise serializes
    the whole pairwise stage onto one core; (b) precompute norms per
    SIDE so each pair costs one fold, not three; (c) compute the
    cosine ONCE in a projection and filter on the column — Spark does
    not CSE interpreted HOFs across a filter+project pair, so the old
    filter(cos).select(round(cos)) shape evaluated the fold twice per
    pair. Same result; measured numbers in bench_extended_trace.json
    "scaling_10x".

    Scale regime: at θ=0.2 roughly 5–6% of random 64-dim pairs pass
    (cosine of random unit vectors ≈ N(0, 1/64), 0.2 ≈ 1.6σ), so the
    OUTPUT itself is Θ(N²/20) — no sublinear algorithm can emit it.
    Two-step sweep: exp 1.12 at sf0.1→sf1, 1.88 at sf1→sf2 — the
    quadratic regime arriving on schedule. Carried as the exact
    pairwise oracle; the production high-threshold form with linear
    candidates is dedup_embedding_cosine (banded θ=0.9, exp 1.01 at
    10×), and top-k-per-query needs are the knn family's."""
    from dist_keras_spark.functions.arrays import dot, l2_norm
    from dist_keras_spark.operators.dedup import spread

    e = spread(_lt(spark, sf_dir, "embeddings"), "vec_id")
    q = e.filter(F.col("vec_id") % 20 == 0).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qvec"),
        l2_norm("embedding").alias("qnorm"),
    )
    c = e.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("cvec"),
        l2_norm("embedding").alias("cnorm"),
    )
    scored = (
        c.join(F.broadcast(q), F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.when(
                F.col("qnorm") * F.col("cnorm") != 0,
                dot("qvec", "cvec") / (F.col("qnorm") * F.col("cnorm")),
            ).alias("cos_raw"),
        )
    )
    return scored.filter(F.col("cos_raw") >= 0.2).select(
        "query_id", "neighbor_id", F.round("cos_raw", 4).alias("cosine")
    )


@query(
    "text_stats_by_lang",
    oracle="""
SELECT lang,
       count(*)                                        AS n_docs,
       round(avg(n_chars), 2)                          AS avg_chars,
       round(avg(len(string_split(text, ' '))), 2)     AS avg_tokens,
       count(DISTINCT source)                          AS n_sources
FROM documents
GROUP BY lang
""",
)
def text_stats_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J6: corpus statistics per language."""
    d = _lt(spark, sf_dir, "documents")
    return d.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.round(F.avg("n_chars"), 2).alias("avg_chars"),
        F.round(F.avg(F.size(tokens("text"))), 2).alias("avg_tokens"),
        F.countDistinct("source").alias("n_sources"),
    )


@query(
    "quality_filter",
    oracle="""
SELECT doc_id, n_tokens, stop_ratio
FROM (
    SELECT doc_id,
           len(string_split(text, ' ')) AS n_tokens,
           round(len(list_filter(string_split(text, ' '),
                     t -> list_contains(['the','and','of','to','a','in','is','for','on','with'], t)))
                 * 1.0 / greatest(len(string_split(text, ' ')), 1), 4) AS stop_ratio,
           regexp_matches(text, '^[a-z ]+$') AS clean_charset
    FROM documents
)
WHERE n_tokens BETWEEN 5 AND 900 AND clean_charset
""",
)
def quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J7: quality filtering — token-count bounds, charset whitelist,
    stopword-ratio signal. All scan-side predicates."""
    d = _lt(spark, sf_dir, "documents")
    toks = tokens("text")
    return (
        d.withColumn("n_tokens", F.size(toks))
        .withColumn("stop_ratio", F.round(stopword_ratio(toks, "en"), 4))
        .filter(
            F.col("n_tokens").between(5, 900) & F.col("text").rlike("^[a-z ]+$")
        )
        .select("doc_id", "n_tokens", "stop_ratio")
    )


@query(
    "lang_id_fingerprint",
    oracle="""
SELECT doc_id,
       CASE WHEN hits_es > greatest(hits_en, 0) THEN 'es'
            WHEN hits_en > 0 THEN 'en'
            ELSE 'und' END AS lang_pred,
       CAST(list_sum(list_transform(range(1, len(t) + 1),
            i -> i * (ascii(substring(t[i], 1, 1)) * 31 + length(t[i]))))
            AS BIGINT) AS fingerprint
FROM (
    SELECT doc_id, t,
           len(list_filter(t, x -> list_contains(
               ['the','and','of','to','a','in','is','for','on','with'], x))) AS hits_en,
           len(list_filter(t, x -> list_contains(
               ['el','la','de','que','y','en','un','es','por','los'], x))) AS hits_es
    FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents)
)
""",
)
def lang_id_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J6/J8: n-gram language-ID heuristic + order-sensitive rolling-hash
    document fingerprint, both pure column expressions."""
    d = _lt(spark, sf_dir, "documents")
    toks = tokens("text")
    return d.select(
        "doc_id",
        lang_id_heuristic(toks).alias("lang_pred"),
        doc_fingerprint(toks).alias("fingerprint"),
    )


@query(
    "tfidf_top_term",
    oracle="""
WITH tf AS (SELECT doc_id, token, count(*) AS tf
            FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS token
                  FROM documents)
            GROUP BY 1, 2),
df AS (SELECT token, count(DISTINCT doc_id) AS df FROM tf GROUP BY 1),
n AS (SELECT count(*) AS n_docs FROM documents),
scored AS (SELECT tf.doc_id, tf.token,
                  round(tf.tf * ln(n.n_docs * 1.0 / df.df), 6) AS tfidf
           FROM tf JOIN df USING (token) CROSS JOIN n)
SELECT doc_id, token AS top_term, tfidf
FROM (SELECT *, row_number() OVER (PARTITION BY doc_id
                                   ORDER BY tfidf DESC, token) AS rn
      FROM scored)
WHERE rn = 1
""",
)
def tfidf_top_term(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J8: TF-IDF (explode → tf, df, idf=ln(N/df)) and the top-scoring
    term per document. N computed as a broadcast scalar, not a collect.

    df comes from a count window over tf — tf already holds exactly one
    row per (doc, token), so rows-per-token == distinct docs per token.
    The window form keeps ONE lineage: a separate groupBy(token)+join
    re-evaluates the whole explode subtree (Catalyst only reuses
    identical exchanges) and costs an extra shuffle of the token
    stream."""
    d = _lt(spark, sf_dir, "documents")
    tf = (
        d.select("doc_id", F.explode(tokens("text")).alias("token"))
        .groupBy("doc_id", "token")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    n = d.agg(F.count(F.lit(1)).alias("n_docs"))
    scored = (
        tf.withColumn("df", F.count(F.lit(1)).over(W.partitionBy("token")))
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            "token",
            F.round(
                F.col("tf") * F.log(F.col("n_docs") / F.col("df")), 6
            ).alias("tfidf"),
        )
    )
    w = W.partitionBy("doc_id").orderBy(F.col("tfidf").desc(), "token")
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("doc_id", F.col("token").alias("top_term"), "tfidf")
    )


@query(
    "token_count_bpeish",
    oracle="""
SELECT doc_id,
       len(string_split(text, ' '))                                   AS ws_tokens,
       CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]'))
            AS INT)                                                   AS bpeish_tokens,
       CAST(ceil(length(text) / 4.0) AS INT)                          AS char4_estimate
FROM documents
""",
)
def token_count_bpeish(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J8/north star: token counting three ways — whitespace, a BPE-ish
    regex (alpha runs | digit runs | single punctuation), and the
    chars/4 heuristic LLM pipelines use for budget estimates."""
    d = _lt(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.size(tokens("text")).alias("ws_tokens"),
        F.size(F.expr("regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]', 0)")).alias(
            "bpeish_tokens"
        ),
        F.ceil(F.length("text") / 4.0).cast("int").alias("char4_estimate"),
    )


@query(
    "events_signup_conversion",
    oracle="""
WITH first_signup AS (
    SELECT user_id, min(ts) AS signup_ts
    FROM events WHERE event_type = 'signup' GROUP BY user_id
)
SELECT f.user_id,
       CAST(count(e.event_id) AS BIGINT)          AS purchases_after_signup,
       round(coalesce(sum(e.value), 0), 2)        AS purchase_value
FROM first_signup f
LEFT JOIN events e
  ON e.user_id = f.user_id AND e.event_type = 'purchase' AND e.ts > f.signup_ts
GROUP BY f.user_id
""",
)
def events_signup_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Funnel analysis: purchases after each user's first signup —
    aggregate-then-join (first_signup shrinks to one row per user
    before touching the fact again)."""
    e = _lt(spark, sf_dir, "events")
    first_signup = (
        e.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("ts").alias("signup_ts"))
    )
    purchases = e.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("pu"), "event_id", "ts", "value"
    )
    return (
        first_signup.join(
            purchases,
            (F.col("user_id") == F.col("pu")) & (F.col("ts") > F.col("signup_ts")),
            "left",
        )
        .groupBy("user_id")
        .agg(
            F.count("event_id").alias("purchases_after_signup"),
            F.round(F.coalesce(F.sum("value"), F.lit(0.0)), 2).alias("purchase_value"),
        )
    )


@query(
    "multimodal_join",
    oracle="""
SELECT doc_id, lang, label,
       len(embedding) AS dim,
       round(sqrt(list_sum(list_transform(embedding,
             x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))), 4) AS emb_norm
FROM documents JOIN embeddings ON doc_id = vec_id
""",
)
def multimodal_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J9: text ⋈ embedding by id — the multimodal row (typed columns
    side by side; binary decode plumbing lives in operators/multimodal)."""
    from dist_keras_spark.functions.arrays import l2_norm

    d = _lt(spark, sf_dir, "documents")
    e = _lt(spark, sf_dir, "embeddings")
    return d.join(e, d.doc_id == e.vec_id).select(
        "doc_id",
        "lang",
        "label",
        F.size("embedding").alias("dim"),
        F.round(l2_norm("embedding"), 4).alias("emb_norm"),
    )


@query(
    "quality_ttr_hapax",
    oracle="""
WITH tok AS (
    SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents
), tf AS (
    SELECT doc_id, token, count(*) AS c FROM tok GROUP BY doc_id, token
)
SELECT doc_id,
       CAST(sum(c) AS BIGINT) AS n_tokens,
       count(*) AS n_types,
       round(count(*) * 1.0 / sum(c), 4) AS ttr,
       CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_hapax
FROM tf GROUP BY doc_id
""",
)
def quality_ttr_hapax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J7 lexical-diversity quality metrics per document: type-token
    ratio (distinct words / words) and hapax-legomena count (words
    occurring exactly once) — the standard diversity signals next to
    the repetition-ratio filter (low TTR = boilerplate / spam). Shape:
    explode → per-(doc, token) count → per-doc aggregate; both
    aggregations key on doc_id so the token explosion never leaves its
    partition chain, and map-side partial aggregation collapses
    duplicate tokens before the shuffle. Same single-space tokenizer
    as every other J-op (split(' '), no empty-token filtering — the
    corpus is single-spaced)."""
    d = _lt(spark, sf_dir, "documents")
    tf = (
        d.select("doc_id", F.explode(F.split("text", " ")).alias("token"))
        .groupBy("doc_id", "token")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    return tf.groupBy("doc_id").agg(
        F.sum("c").alias("n_tokens"),
        F.count(F.lit(1)).alias("n_types"),
        F.round(F.count(F.lit(1)) / F.sum("c"), 4).alias("ttr"),
        F.sum(F.when(F.col("c") == 1, 1).otherwise(0)).alias("n_hapax"),
    )


@query(
    "knn_int8_quantized_top5",
    oracle="""
WITH sc AS (
    SELECT vec_id, embedding,
           127.0 / list_max(list_transform(embedding,
                            y -> abs(CAST(y AS DOUBLE)))) AS scale
    FROM embeddings
), q8 AS (
    SELECT vec_id,
           list_transform(embedding,
               x -> CAST(round(CAST(x AS DOUBLE) * scale) AS BIGINT)) AS v
    FROM sc
), scored AS (
    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
           CAST(list_sum(list_transform(range(1, 65),
               i -> c.v[i] * q.v[i])) AS BIGINT) AS dot8
    FROM q8 c, q8 q
    WHERE q.vec_id % 20 = 0 AND c.vec_id <> q.vec_id
), ranked AS (
    SELECT *, row_number() OVER (PARTITION BY query_id
                                 ORDER BY dot8 DESC, neighbor_id) AS knn_rank
    FROM scored
)
SELECT query_id, neighbor_id, knn_rank, dot8 FROM ranked WHERE knn_rank <= 5
""",
)
def knn_int8_quantized_top5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J5 scale variant: symmetric per-vector int8 quantization
    (scale = 127/max|x|, q = round(x·scale)) then INTEGER dot-product
    top-5 — the memory-bandwidth play for 100 TB ANN: a quantized
    corpus is 4× smaller than float32, and the score is exact integer
    arithmetic, so the DuckDB oracle replays it bit-for-bit.
    Quantization is scan-side column math; the ranking is
    similarity.topk_scored's int64 path, knn_bruteforce_top5's shape.

    Scale regime: same Θ(N²/20) construction as knn_bruteforce_top5.
    Warm, 4 cores: 3.4-3.5s at sf1, where the interpreted zip_with
    fold it replaced took 64-73s, with identical rows. Exact oracle
    baseline; the quantization's production role is inside the
    bounded-candidate paths (pq_adc re-rank, ivf probes), not
    corpus×query scans."""
    e = _lt(spark, sf_dir, "embeddings")
    q8 = e.select("vec_id", int8_quantize("embedding").alias("v"))
    queries = q8.filter(F.col("vec_id") % 20 == 0)
    out = topk_scored(q8, queries, "dot", "vec_id", "v", k=5)
    return out.select(
        "query_id", "neighbor_id", F.col("rank").alias("knn_rank"), F.col("score").alias("dot8")
    )


@query(
    "pipeline_curation_end2end",
    oracle="""
WITH unioned AS (
    SELECT doc_id, text, lang, 0 AS is_copy FROM documents
    UNION ALL
    SELECT doc_id, text, lang, 1 AS is_copy FROM documents WHERE doc_id % 5 = 0
), gated AS (
    SELECT doc_id, text, lang, is_copy,
           len(string_split(text, ' ')) AS n_tokens
    FROM unioned
    WHERE len(string_split(text, ' ')) BETWEEN 5 AND 900
      AND regexp_matches(text, '^[a-z ]+$')
), deduped AS (
    SELECT doc_id, lang, n_tokens
    FROM (SELECT *, row_number() OVER (PARTITION BY md5(text)
                                       ORDER BY is_copy, doc_id) AS rn
          FROM gated)
    WHERE rn = 1
), split AS (
    SELECT lang, n_tokens,
           CASE WHEN b < 8 THEN 'train' WHEN b = 8 THEN 'val'
                ELSE 'test' END AS split
    FROM (SELECT *,
                 ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':split'), 1, 8))::BIGINT
                 % 10 AS b
          FROM deduped)
)
SELECT split, lang,
       count(*) AS n_docs,
       CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
       round(avg(n_tokens), 4) AS avg_tokens
FROM split GROUP BY split, lang
""",
)
def pipeline_curation_end2end(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The curation pipeline END-TO-END in one Catalyst plan: corpus
    (with planted every-5th-doc copies) → quality gate (token bounds +
    charset) → exact dedup with source priority (originals beat
    copies) → deterministic salted-md5 train/val/test split → per
    (split, lang) dataset statistics. The point of the composite: each
    stage is the SAME operator its standalone query verifies
    (quality_filter, dedup_exact_priority, dataset_split_assign), and
    chained they stay ONE declarative plan — the quality filter runs
    scan-side BEFORE the dedup shuffle (Catalyst pushes it through),
    the split is a zero-shuffle projection after the dedup window, and
    the whole thing pays exactly two Exchanges (md5 dedup key, final
    group-by). That is the 100 TB curation shape: filter early, one
    content-hash shuffle, stats on the reduced stream."""
    d = _lt(spark, sf_dir, "documents")
    copies = d.filter(F.col("doc_id") % 5 == 0).withColumn("is_copy", F.lit(1))
    unioned = d.withColumn("is_copy", F.lit(0)).unionByName(copies)
    toks = F.size(F.split("text", " "))
    gated = unioned.filter(
        toks.between(5, 900) & F.col("text").rlike("^[a-z ]+$")
    ).select("doc_id", "text", "lang", "is_copy", toks.alias("n_tokens"))
    rn = F.row_number().over(
        W.partitionBy(F.md5("text")).orderBy("is_copy", "doc_id")
    )
    deduped = gated.withColumn("rn", rn).filter(F.col("rn") == 1)
    b = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.col("doc_id").cast("string"), F.lit(":split"))), 1, 8
            ),
            16,
            10,
        ).cast("long")
        % 10
    )
    split = deduped.select(
        "lang",
        "n_tokens",
        F.when(b < 8, F.lit("train"))
        .when(b == 8, F.lit("val"))
        .otherwise(F.lit("test"))
        .alias("split"),
    )
    return split.groupBy("split", "lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").cast("long").alias("total_tokens"),
        F.round(F.avg("n_tokens"), 4).alias("avg_tokens"),
    )


@query(
    "bpe_first_merges",
    oracle="""
WITH toks AS (
    SELECT doc_id, string_split(text, ' ') AS t FROM documents
), pairs AS (
    SELECT unnest(list_transform(range(1, len(t)),
                  i -> t[i] || ' ' || t[i + 1])) AS pair
    FROM toks
), counted AS (
    SELECT pair, count(*) AS cnt FROM pairs GROUP BY pair
), ranked AS (
    SELECT pair, cnt,
           row_number() OVER (ORDER BY cnt DESC, pair ASC) AS merge_rank
    FROM counted
)
SELECT merge_rank, pair, cnt FROM ranked WHERE merge_rank <= 10
""",
)
def bpe_first_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J8 tokenizer induction: the first round of BPE training — count
    every ADJACENT token pair corpus-wide and rank the top merge
    candidates (deterministic tie-break: count desc, pair asc). The
    pair expansion is a pure higher-order-function projection
    (transform over a sliced array — no UDF, no self-join), the count
    is one partial/final hash aggregate, and the top-10 is a
    TakeOrdered — so one full BPE training round at 100 TB is one
    scan + one shuffle, iterated per merge."""
    d = _lt(spark, sf_dir, "documents")
    # bigram rows on the codegen explode path (positions → element_at
    # as plain row expressions) — exploding a transform()-built array
    # evaluates the interpreted lambda while flattening (r9 boundary,
    # operators/dedup.py::shingle_postings).
    counted = (
        d.select(F.split("text", " ").alias("tk"))
        .where(F.size("tk") >= 2)
        .select(
            F.explode(F.sequence(F.lit(1), F.size("tk") - 1)).alias("i"),
            "tk",
        )
        .select(
            F.expr(
                "concat(element_at(tk, i), ' ', element_at(tk, i + 1))"
            ).alias("pair")
        )
        .groupBy("pair")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    # TakeOrderedAndProject FIRST (per-partition top-10 then merge —
    # never a global sort of the whole pair vocabulary), THEN rank the
    # 10 survivors; a bare row_number() over an unpartitioned window
    # would drag every distinct pair through one task.
    top = counted.orderBy(F.desc("cnt"), F.asc("pair")).limit(10)
    rn = F.row_number().over(
        W.partitionBy(bounded_window_key(F.col("cnt"))).orderBy(
            F.desc("cnt"), F.asc("pair")
        )
    )
    return top.withColumn("merge_rank", rn).select("merge_rank", "pair", "cnt")


@query(
    "embedding_centroid_by_label",
    oracle="""
SELECT label, i - 1 AS pos,
       CAST(sum(CAST(round(CAST(embedding[i] AS DOUBLE) * 1000) AS BIGINT))
            AS BIGINT) AS sum_milli,
       count(*) AS n
FROM embeddings, (SELECT unnest(range(1, 65)) AS i)
GROUP BY label, i
""",
)
def embedding_centroid_by_label(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J4/J5 building block: per-label embedding centroids (the class
    prototype / IVF-cell seed computation) — element-wise accumulation
    of 64-dim vectors per label as (label, pos, sum, count) rows, the
    mergeable partial state every distributed centroid update ships.
    Components are quantized PER ELEMENT (round(x·1000) — deterministic
    IEEE math on each value) and summed as INTEGERS, so the result is
    bit-exact in any engine and at any partitioning — a float sum of
    near-zero symmetric values would differ in the last ulp by
    accumulation order and flip rounding/sign (-0.0 vs 0.0) at the
    boundary, which is exactly what the first draft of this oracle
    did. posexplode is a narrow map-side transform; the aggregate
    shuffles (label, pos) keys — 64× the group count, not the data."""
    e = _lt(spark, sf_dir, "embeddings")
    return (
        e.select("label", F.posexplode("embedding").alias("pos", "x"))
        .groupBy("label", "pos")
        .agg(
            F.sum(F.round(F.col("x").cast("double") * 1000).cast("long")).alias(
                "sum_milli"
            ),
            F.count(F.lit(1)).alias("n"),
        )
    )


@query("knn_ivf_persisted_top5", oracle=_knn_ivf_oracle_sql())
def knn_ivf_persisted_top5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J5 build-once/search-many: the IVF index MATERIALIZED — corpus
    written parquet partitioned by quantizer cell with the centroids
    persisted alongside (operators/similarity.build_ivf_index), then
    searched from disk (search_ivf_index). Same quantizer, same
    probes, same oracle as knn_ivf_top5 — what changes is WHERE the
    n_probe/n_cells cost cut happens: at the storage layer (partition
    pruning on the cell directories) instead of inside the query. At
    100 TB this is how ANN actually runs — the Arrow assignment pass
    over every vector is paid once at build, and each search reads
    only its probed cells.

    Two-step regime note (sf1→sf2 sweep, r11): exp 1.95 — with
    n_cells pinned at 16 and the query set scaling with the corpus
    (vec_id % 20), each query re-ranks n_probe/16 of ALL N vectors,
    so total work is Θ(N²/40) by construction. Kept as the
    fixed-parameter ORACLE baseline; the registered scale-safe path
    is knn_ivf_scaled_top5 (cells ∝ N, constant ~8000-vector probe
    fan-out per query).

    r14 audit (kept as-is): fixed final-plan audit shows ZERO
    duplicate scans in the executed search plan (the earlier
    embeddings×2 reading was the un-executed initial plan; at runtime
    the DPP subquery over the query panel is reused/trivial). Warm
    min 1.42s is ~8 fixed driver jobs (idempotency check, two
    centroid collects, broadcast, probed-cell scan, top-k window) —
    per-query latency that amortizes at scale; the cold 3.9s trace
    wall is the one-time build (assignment + partitioned write), the
    build-once lifecycle under test. Nothing to remove without
    deleting the capability."""
    from dist_keras_spark.operators.similarity import (
        build_ivf_index,
        search_ivf_index,
    )
    from dist_keras_spark.sources.sinks import scratch_path

    e = _lt(spark, sf_dir, "embeddings")
    path = scratch_path(spark, f"ivf_index_{sf_dir.rstrip('/').rsplit('/', 1)[-1]}")
    build_ivf_index(e, path, "vec_id", "embedding", n_cells=16, seed=42)
    q = e.filter(F.col("vec_id") % 20 == 0)
    out = search_ivf_index(spark, path, q, "vec_id", "embedding", k=5, n_probe=8)
    return out.select(
        "query_id", "neighbor_id", F.col("rank").alias("knn_rank"), "cosine"
    )


@query(
    "knn_ivf_persisted_scaled_top5",
    oracle=_knn_ivf_oracle_sql(scaled_cells=True),
)
def knn_ivf_persisted_scaled_top5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The production composition at 100 TB (r12): BUILD-ONCE storage
    pruning AND the N-proportional quantizer in one registered query —
    the corpus materialized parquet partitioned by a cells =
    max(16, N div 1000) quantizer (knn_ivf_scaled_top5's schedule),
    searched from disk with fixed n_probe = 8. Each search reads only
    its probed cell DIRECTORIES (partition pruning pays the
    n_probe·N/cells ≈ 8000-vector cost cut at the storage layer), and
    because cells grow with the corpus, that per-query read stays
    CONSTANT as the index grows — the pinned-16-cell persisted
    baseline re-reads n_probe/16 of everything (sf1→sf2 exp 1.95).

    Same md5 centroid sample, same Arrow assignment, same re-rank as
    the inline scaled form, so output EQUALS knn_ivf_scaled_top5
    row-for-row (pytest-pinned) and the same generated oracle applies.
    The scratch path encodes the cell count (build_ivf_index's
    path-encodes-params contract), so fixture-size and scaled builds
    never collide. Inherits the documented centroid driver ceiling
    (knn_ivf_scaled_top5 note)."""
    from dist_keras_spark.operators.similarity import (
        build_ivf_index,
        search_ivf_index,
    )
    from dist_keras_spark.sources.sinks import scratch_path

    e = _lt(spark, sf_dir, "embeddings")
    cells = max(16, e.count() // 1000)
    tag = sf_dir.rstrip("/").rsplit("/", 1)[-1]
    path = scratch_path(spark, f"ivf_index_scaled_{tag}_c{cells}")
    build_ivf_index(e, path, "vec_id", "embedding", n_cells=cells, seed=42)
    q = e.filter(F.col("vec_id") % 20 == 0)
    out = search_ivf_index(spark, path, q, "vec_id", "embedding", k=5, n_probe=8)
    return out.select(
        "query_id", "neighbor_id", F.col("rank").alias("knn_rank"), "cosine"
    )


# md5-bucket split of embeddings into base (< _IVF_BASE_PCT) and delta
# — the house hash_split convention spelled digit-by-digit for DuckDB
# (the _IDB_BUCKET technique, keyed on vec_id).
_IVF_BASE_PCT = 80
_IVF_VEC_BUCKET = (
    "((strpos('0123456789abcdef', substring(md5(CAST(vec_id AS VARCHAR)),1,1))-1)*4096"
    "+(strpos('0123456789abcdef', substring(md5(CAST(vec_id AS VARCHAR)),2,1))-1)*256"
    "+(strpos('0123456789abcdef', substring(md5(CAST(vec_id AS VARCHAR)),3,1))-1)*16"
    "+(strpos('0123456789abcdef', substring(md5(CAST(vec_id AS VARCHAR)),4,1))-1)) % 100"
)


def _ivf_incr_oracle_sql(
    kind: str, seed: int = 42, n_probe: int = 8, k: int = 5
) -> str:
    """Base+delta IVF oracle: centroids are md5-order-sampled from the
    BASE stratum only (cells = max(16, base_count div 1000)); EVERY
    vector — base and delta — is assigned against those frozen
    centroids. kind='search' emits the top-k ranking over the union;
    kind='drift' emits per-cell base/delta occupancy."""
    cos = """round(
             list_sum(list_transform(range(1, 65),
                 i -> a.v[i] * b.v[i]))
             / (sqrt(list_sum(list_transform(range(1, 65), i -> a.v[i] * a.v[i])))
              * sqrt(list_sum(list_transform(range(1, 65), i -> b.v[i] * b.v[i])))), 6)"""
    centsim = """(list_sum(list_transform(range(1, 65), i -> c.v[i] * ct.v[i]))
             / (greatest(sqrt(list_sum(list_transform(range(1, 65), i -> c.v[i] * c.v[i]))), 1e-12)
              * greatest(sqrt(list_sum(list_transform(range(1, 65), i -> ct.v[i] * ct.v[i]))), 1e-12)))"""
    head = f"""
WITH corpus AS (SELECT vec_id, embedding::DOUBLE[] AS v,
                       ({_IVF_VEC_BUCKET} < {_IVF_BASE_PCT}) AS is_base
                FROM embeddings),
cent AS (
    SELECT row_number() OVER (
               ORDER BY md5(CAST(vec_id AS VARCHAR) || ':{seed}'), vec_id) - 1 AS cell,
           v
    FROM corpus WHERE is_base
    QUALIFY row_number() OVER (
               ORDER BY md5(CAST(vec_id AS VARCHAR) || ':{seed}'), vec_id)
            <= (SELECT greatest(16, count(*) // 1000) FROM corpus WHERE is_base)),
assign AS (
    SELECT c.vec_id, c.is_base, ct.cell,
           row_number() OVER (PARTITION BY c.vec_id
                              ORDER BY {centsim} DESC, ct.cell) AS pr
    FROM corpus c CROSS JOIN cent ct)"""
    if kind == "drift":
        return (
            head
            + """
SELECT CAST(cell AS INT) AS cell,
       CAST(sum(CASE WHEN is_base THEN 1 ELSE 0 END) AS BIGINT) AS n_base,
       CAST(sum(CASE WHEN is_base THEN 0 ELSE 1 END) AS BIGINT) AS n_delta,
       CAST(1000000 * sum(CASE WHEN is_base THEN 0 ELSE 1 END)
            // count(*) AS BIGINT) AS delta_share_micro
FROM assign WHERE pr = 1
GROUP BY cell
"""
        )
    if kind == "refresh_budgeted":
        d_expr = (
            "CAST(list_sum(list_transform(range(1, 65), "
            "i -> (v.vq[i] * c.n - c.s[i]) * (v.vq[i] * c.n - c.s[i]))) "
            "AS DOUBLE) / (c.n * c.n)"
        )
        return (
            head
            + f""",
before_all AS (SELECT vec_id, is_base, cell FROM assign WHERE pr = 1),
hot AS (
    SELECT cell FROM (
        SELECT cell,
               sum(CASE WHEN is_base THEN 0 ELSE 1 END) AS n_delta
        FROM before_all GROUP BY cell)
    ORDER BY n_delta DESC, cell LIMIT 4),
before AS (
    SELECT b.vec_id, b.cell FROM before_all b JOIN hot USING (cell)),
qv AS (
    SELECT vec_id,
           list_transform(embedding,
               x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS vq
    FROM embeddings),
newc AS (
    SELECT cell AS cid, list(sm ORDER BY i) AS s, CAST(min(n) AS BIGINT) AS n
    FROM (
        SELECT b.cell, t.i,
               CAST(sum(qv.vq[t.i]) AS BIGINT) AS sm,
               count(*) AS n
        FROM before b JOIN qv USING (vec_id),
             (SELECT unnest(range(1, 65)) AS i) t
        GROUP BY b.cell, t.i)
    GROUP BY cell
), after AS (
    SELECT vec_id, cid FROM (
        SELECT v.vec_id, c.cid,
               row_number() OVER (PARTITION BY v.vec_id
                                  ORDER BY {d_expr}, c.cid) AS rn
        FROM (SELECT qv.* FROM qv JOIN before USING (vec_id)) v
        CROSS JOIN newc c)
    WHERE rn = 1
)
SELECT CAST(b.cell AS INT) AS cell_before,
       CAST(a.cid AS INT) AS cell_after,
       CAST(count(*) AS BIGINT) AS n_vecs
FROM before b JOIN after a USING (vec_id)
GROUP BY b.cell, a.cid
"""
        )
    if kind == "refresh":
        # one exact Lloyd step over the frozen assignment, in the
        # integer-millis rational-centroid domain of _kmeans_oracle_sql
        d_expr = (
            "CAST(list_sum(list_transform(range(1, 65), "
            "i -> (v.vq[i] * c.n - c.s[i]) * (v.vq[i] * c.n - c.s[i]))) "
            "AS DOUBLE) / (c.n * c.n)"
        )
        return (
            head
            + f""",
before AS (SELECT vec_id, cell FROM assign WHERE pr = 1),
qv AS (
    SELECT vec_id,
           list_transform(embedding,
               x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS vq
    FROM embeddings),
newc AS (
    SELECT cell AS cid, list(sm ORDER BY i) AS s, CAST(min(n) AS BIGINT) AS n
    FROM (
        SELECT b.cell, t.i,
               CAST(sum(qv.vq[t.i]) AS BIGINT) AS sm,
               count(*) AS n
        FROM before b JOIN qv USING (vec_id),
             (SELECT unnest(range(1, 65)) AS i) t
        GROUP BY b.cell, t.i)
    GROUP BY cell
), after AS (
    SELECT vec_id, cid FROM (
        SELECT v.vec_id, c.cid,
               row_number() OVER (PARTITION BY v.vec_id
                                  ORDER BY {d_expr}, c.cid) AS rn
        FROM qv v CROSS JOIN newc c)
    WHERE rn = 1
)
SELECT CAST(b.cell AS INT) AS cell_before,
       CAST(a.cid AS INT) AS cell_after,
       CAST(count(*) AS BIGINT) AS n_vecs
FROM before b JOIN after a USING (vec_id)
GROUP BY b.cell, a.cid
"""
        )
    assert kind == "search"
    return (
        head
        + f""",
corpus_cell AS (SELECT vec_id, cell FROM assign WHERE pr = 1),
query_cell  AS (SELECT vec_id, cell FROM assign
                WHERE pr <= {n_probe} AND vec_id % 20 = 0),
cand AS (
    SELECT q.vec_id AS query_id, cc.vec_id AS neighbor_id
    FROM query_cell q JOIN corpus_cell cc USING (cell)
    WHERE cc.vec_id <> q.vec_id),
scored AS (
    SELECT cand.query_id, cand.neighbor_id, {cos} AS cosine
    FROM cand
    JOIN corpus a ON a.vec_id = cand.query_id
    JOIN corpus b ON b.vec_id = cand.neighbor_id),
ranked AS (SELECT *, row_number() OVER (PARTITION BY query_id
                                        ORDER BY cosine DESC, neighbor_id) AS knn_rank
           FROM scored)
SELECT query_id, neighbor_id, knn_rank, cosine FROM ranked WHERE knn_rank <= {k}
"""
    )


@query("ivf_search_base_delta_top5", oracle=_ivf_incr_oracle_sql("search"))
def ivf_search_base_delta_top5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INDEX FRESHNESS, the ingestion half (r12): an IVF index built
    ONCE from the base corpus (md5-bucket < 80% of vectors, cells =
    max(16, base div 1000)), then a late-arriving 20% DELTA batch
    assigned with the FROZEN persisted centroids and written as a
    SEPARATE cell-partitioned delta segment — no rebuild, no
    re-cluster, base untouched. Search probes its n_probe = 8 cells
    across BOTH segments (they share the quantizer, so partition
    pruning works identically on each) — the LSM-ish pattern a
    production ANN corpus actually runs between periodic re-clusters:
    appends are cheap (one assignment pass over the delta only), reads
    stay pruned, and ivf_centroid_occupancy_drift (below) is the
    metric that schedules the re-cluster.

    Idempotency: the delta segment is written with mode=overwrite to
    its own path (re-runs replace, never accrete — the reason this is
    base+delta, not append-in-place); the base build short-circuits on
    its _centroids sidecar (build_ivf_index). The oracle replays the
    md5 80/20 split, base-only centroid sampling, frozen-centroid
    assignment of EVERY vector, probing, and exact re-rank; the
    query panel (vec_id % 20) spans base and delta, so the check also
    pins that delta vectors are both FINDABLE and SERVING as queries.
    Accepted residual: the cosine near-tie assignment note of
    _knn_ivf_oracle_sql."""
    import numpy as np

    from dist_keras_spark.operators.quality import hash_split
    from dist_keras_spark.operators.similarity import (
        _cell_assign_udf,
        build_ivf_index,
        search_ivf_index,
    )
    from dist_keras_spark.sources.sinks import scratch_path

    e = _lt(spark, sf_dir, "embeddings")
    bucket = hash_split(e, "vec_id", 100)
    base = e.filter(bucket < _IVF_BASE_PCT)
    delta = e.filter(bucket >= _IVF_BASE_PCT)
    cells = max(16, base.count() // 1000)
    tag = sf_dir.rstrip("/").rsplit("/", 1)[-1]
    base_path = scratch_path(spark, f"ivf_base_{tag}_c{cells}")
    cents_raw = build_ivf_index(
        base, base_path, "vec_id", "embedding", n_cells=cells, seed=42
    )
    cents = cents_raw / np.maximum(
        np.linalg.norm(cents_raw, axis=1, keepdims=True), 1e-12
    )
    delta_path = scratch_path(spark, f"ivf_delta_{tag}_c{cells}")
    delta.select(
        "vec_id",
        "embedding",
        F.element_at(_cell_assign_udf(cents, 1)("embedding"), 1).alias("cell"),
    ).write.mode("overwrite").partitionBy("cell").parquet(delta_path)
    q = e.filter(F.col("vec_id") % 20 == 0)
    out = search_ivf_index(
        spark,
        base_path,
        q,
        "vec_id",
        "embedding",
        k=5,
        n_probe=8,
        delta_paths=(delta_path,),
    )
    return out.select(
        "query_id", "neighbor_id", F.col("rank").alias("knn_rank"), "cosine"
    )


@query(
    "ivf_hier_base_delta_top5",
    oracle=_knn_ivf_hier_oracle_sql(base_delta=True),
)
def ivf_hier_base_delta_top5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The index-freshness story AT TWO LEVELS (r13): the hierarchical
    quantizer (coarse sample + sub-centroid table, both built from the
    BASE stratum only — md5 bucket < 80) serves a base+delta union,
    with late-arriving delta vectors assigned by
    `two_level_assign_frozen` against the FROZEN structure: one Arrow
    coarse pass + the bounded n_sub join — appends land in existing
    leaf cells without re-sampling, re-windowing, or touching the
    driver (√cells footprint unchanged). Completes the composition
    matrix: flat×{{inline, persisted, base+delta, drift, refresh}} and
    now hier×{{inline, persisted, base+delta}} — an ingesting
    hierarchical index at 100 TB runs THIS query's plan.

    Assignment parity is the hier family's (exact int64 milli
    distances both levels, zero float surface before the final
    cosine); the oracle replays schedule/sample/sub-selection on the
    base stratum and assignment over the union, digit-for-digit.
    Queries (vec_id % 20) span base AND delta — freshness means new
    vectors are both findable and probing. MEASURED (r13): 10× exp
    0.79, sf1→sf2 0.84 — the hier family's sub-linear band."""
    from dist_keras_spark.operators.quality import hash_split
    from dist_keras_spark.operators.similarity import (
        _two_level_quantize,
        _two_level_probes,
        _rerank_candidates,
        two_level_assign_frozen,
    )
    from dist_keras_spark.operators.dedup import spread

    e = _lt(spark, sf_dir, "embeddings")
    bucket = hash_split(e, "vec_id", 100)
    base = e.filter(bucket < _IVF_BASE_PCT)
    delta = e.filter(bucket >= _IVF_BASE_PCT)
    cells = max(16, base.count() // 1000)
    fine_base, subcents, coarse = _two_level_quantize(
        base, "vec_id", "embedding", cells, 42
    )
    fine_delta = two_level_assign_frozen(
        delta, subcents, coarse, "vec_id", "embedding"
    )
    fine = spread(fine_base.unionByName(fine_delta), "vid")
    q = e.filter(F.col("vec_id") % 20 == 0)
    probes = _two_level_probes(
        q, subcents, coarse, "vec_id", "embedding", 4, 2
    )
    out = _rerank_candidates(fine, probes, 5)
    return out.select(
        "query_id", "neighbor_id", F.col("rank").alias("knn_rank"), "cosine"
    )


@query(
    "ivf_hier_occupancy_drift",
    oracle=_knn_ivf_hier_oracle_sql(base_delta=True, emit="drift"),
)
def ivf_hier_occupancy_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The re-cluster trigger for the TWO-LEVEL index (r13): per-LEAF
    (coarse, sub_rank) base/delta occupancy plus the integer delta
    share — the monitoring metric an ingesting hierarchical index
    watches to decide WHICH leaves (and which coarse regions) the
    budgeted refresh should touch. Completes the hier lifecycle
    matrix: inline / persisted / base+delta serve / drift monitor —
    mirroring the flat family's ivf_centroid_occupancy_drift one
    level down, where the signal is finer (a hot leaf inside a calm
    coarse region is visible; the flat monitor would average it
    away).

    Plan shape: the frozen base+delta assignment (one Arrow coarse
    pass + bounded sub join per segment) followed by ONE ≤cells-sized
    partial aggregate — the monitor costs one exchange over leaf
    keys. Assignment parity is the hier family's (exact int64 both
    levels); the oracle replays structure-on-base / assign-on-union
    and the integer share digit-for-digit. MEASURED (r13): 10× exp
    0.11, sf1→sf2 0.53."""
    from dist_keras_spark.operators.quality import hash_split
    from dist_keras_spark.operators.similarity import (
        _two_level_quantize,
        two_level_assign_frozen,
    )

    e = _lt(spark, sf_dir, "embeddings")
    bucket = hash_split(e, "vec_id", 100)
    base = e.filter(bucket < _IVF_BASE_PCT)
    delta = e.filter(bucket >= _IVF_BASE_PCT)
    cells = max(16, base.count() // 1000)
    fine_base, subcents, coarse = _two_level_quantize(
        base, "vec_id", "embedding", cells, 42
    )
    fine_delta = two_level_assign_frozen(
        delta, subcents, coarse, "vec_id", "embedding"
    )
    occ = (
        fine_base.select("coarse", "sub_rank", F.lit(1).alias("is_base"))
        .unionByName(
            fine_delta.select(
                "coarse", "sub_rank", F.lit(0).alias("is_base")
            )
        )
        .groupBy("coarse", "sub_rank")
        .agg(
            F.sum("is_base").cast("long").alias("n_base"),
            F.sum(1 - F.col("is_base")).cast("long").alias("n_delta"),
        )
    )
    return occ.select(
        F.col("coarse").cast("long").alias("coarse"),
        F.col("sub_rank").cast("long").alias("sub_rank"),
        "n_base",
        "n_delta",
        F.expr(
            "(1000000 * n_delta) div greatest(n_base + n_delta, 1)"
        ).cast("long").alias("delta_share_micro"),
    )


@query("ivf_centroid_occupancy_drift", oracle=_ivf_incr_oracle_sql("drift"))
def ivf_centroid_occupancy_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INDEX FRESHNESS, the monitoring half (r12): per-cell occupancy
    of the frozen base-trained quantizer, split base vs delta — the
    signal that schedules a re-cluster. If the delta batch is drawn
    from the same distribution, every cell's delta_share_micro sits
    near the global delta fraction (~200000 here — the fixture's null
    result, asserted loosely in pytest); a DRIFTED corpus concentrates
    delta mass in few cells (share → 1e6 in the hot cells), which is
    exactly when frozen centroids start costing recall and the
    build-once index should re-train. Integer shares via exact div;
    one cell-keyed aggregate over the assignment pass — the same scan
    the delta ingestion already pays, so monitoring is free at ingest
    time.

    100 TB shape: assignment is the Arrow kernel scan (no shuffle);
    the only exchange is the ≤cells-sized partial agg. Oracle replays
    split, sampling, and frozen assignment for every vector. The
    REFRESH leg this metric triggers is already a registered exact
    operator: kmeans_lloyd_two_iters (integer-rational Lloyd steps) —
    monitor (this op) → ingest (ivf_search_base_delta_top5) →
    re-cluster (Lloyd) closes the index-freshness loop."""
    import numpy as np

    from dist_keras_spark.operators.quality import hash_split
    from dist_keras_spark.operators.similarity import (
        _cell_assign_udf,
        sample_centroids,
    )

    e = _lt(spark, sf_dir, "embeddings")
    bucket = hash_split(e, "vec_id", 100)
    base = e.filter(bucket < _IVF_BASE_PCT)
    cells = max(16, base.count() // 1000)
    cents = sample_centroids(base, "vec_id", "embedding", cells, 42)
    cents = cents / np.maximum(
        np.linalg.norm(cents, axis=1, keepdims=True), 1e-12
    )
    assigned = e.select(
        (bucket < _IVF_BASE_PCT).alias("is_base"),
        F.element_at(_cell_assign_udf(cents, 1)("embedding"), 1)
        .cast("int")
        .alias("cell"),
    )
    return assigned.groupBy("cell").agg(
        F.sum(F.when(F.col("is_base"), 1).otherwise(0))
        .cast("long")
        .alias("n_base"),
        F.sum(F.when(F.col("is_base"), 0).otherwise(1))
        .cast("long")
        .alias("n_delta"),
        F.expr(
            "CAST(1000000 * sum(CASE WHEN is_base THEN 0 ELSE 1 END)"
            " div count(1) AS BIGINT)"
        ).alias("delta_share_micro"),
    )


@query("ivf_refresh_migration", oracle=_ivf_incr_oracle_sql("refresh"))
def ivf_refresh_migration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INDEX FRESHNESS, the refresh leg (r12) — closing the loop the
    drift metric opens: ONE exact Lloyd step over the frozen
    base-trained assignment, emitting the CELL MIGRATION MATRIX
    (cell_before, cell_after, n_vecs) — how many vectors each
    re-trained centroid pulls from where. The diagonal is the stable
    mass; off-diagonal rows are exactly the vectors the frozen
    quantizer was mis-serving (the recall the drift metric predicted
    was at risk). In production this matrix prices the re-cluster:
    repartition cost ∝ off-diagonal mass, and a near-diagonal matrix
    says DON'T rebuild yet.

    Hash-exactness: the frozen assignment replays the cosine kernel
    (accepted near-tie note); the Lloyd step runs in
    kmeans_lloyd_two_iters' integer-millis rational-centroid domain —
    centroids stay (Σ-vector, count), distance·n² is pure int64
    converted to DOUBLE once for the argmin, ties to the lower cell —
    so the refreshed assignment is engine-exact (same int64 valve:
    n < ~6e6 members/cell before the fold needs DECIMAL(38,0)).
    Empty frozen cells simply have no refreshed centroid (Lloyd drops
    them) — identical on both engines.

    100 TB shape: one posexplode partial-agg builds the new centroids
    (mergeable (cid, dim) sums — never collect_list of vectors); the
    re-assignment is a corpus × broadcast-centroids scan; the matrix
    is a ≤cells² aggregate. monitor (ivf_centroid_occupancy_drift) →
    ingest (ivf_search_base_delta_top5) → refresh (THIS) is the whole
    freshness loop, each leg a registered hash-checked query.

    Two-step regime note (sf1→sf2 sweep, r12, measured at
    registration): exp 1.9 — COUNTED mechanism: cells = max(16,
    base div 1000) goes 16 → 32 across the step while N doubles, so
    the re-assignment's interpreted integer folds do N·cells = 4×
    the work (exp 2 predicted, 1.9 measured). A FULL refresh with
    cells ∝ N is Θ(N²/1000) by construction. Production dials, in
    preference order: (a) refresh ONLY the cells the drift metric
    flags — re-assignment then costs Θ(drifted-mass · cells), and a
    near-diagonal corpus pays almost nothing (the reason the matrix
    exists is to show most mass IS diagonal); (b) vectorize the
    argmin via the expansion n²|v|² − 2n·(v·s) + |s|² in an Arrow
    int64 matmul kernel (exact while n²|v|² < 2⁵³ ⇒ cell size
    ≲ 1e5 at milli-quantization — int_argmax_cell_udf's technique on
    rational centroids). Kept exact-interpreted as the registered
    ORACLE form: a refresh is an OFFLINE maintenance job run at drift
    events, not a per-query path."""
    import numpy as np

    from dist_keras_spark.operators.quality import hash_split
    from dist_keras_spark.operators.similarity import (
        _cell_assign_udf,
        sample_centroids,
    )

    e = _lt(spark, sf_dir, "embeddings")
    bucket = hash_split(e, "vec_id", 100)
    base = e.filter(bucket < _IVF_BASE_PCT)
    cells = max(16, base.count() // 1000)
    cents = sample_centroids(base, "vec_id", "embedding", cells, 42)
    cents = cents / np.maximum(
        np.linalg.norm(cents, axis=1, keepdims=True), 1e-12
    )
    # r13 (guide §2.4): `before` (full-N Arrow assignment) feeds both
    # the Lloyd-step sum AND the final migration join, and `q` feeds
    # the sum AND the re-assignment crossJoin — the copies' projections
    # differ, so both subtrees re-executed (4 embeddings scans, zero
    # ReusedExchange).  Stage each once per run (lineage truncation,
    # not caching; the ppjoin/gini convention).
    before = _stage(
        e.select(
            "vec_id",
            F.element_at(_cell_assign_udf(cents, 1)("embedding"), 1)
            .cast("int")
            .alias("cell"),
        )
    )
    q = _stage(
        e.select(
            "vec_id",
            F.transform(
                "embedding",
                lambda x: F.round(x.cast("double") * 1000).cast("long"),
            ).alias("vq"),
        )
    )
    per_dim = (
        before.join(q, "vec_id")
        .select("cell", F.posexplode("vq").alias("i", "x"))
        .groupBy("cell", "i")
        .agg(F.sum("x").alias("sm"), F.count(F.lit(1)).alias("n"))
    )
    newc = per_dim.groupBy("cell").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("i", "sm"))),
            lambda st: st["sm"],
        ).alias("s"),
        F.min("n").alias("n"),
    ).select(F.col("cell").alias("cid"), "s", "n")
    j = q.crossJoin(F.broadcast(newc))
    dist2 = F.aggregate(
        F.zip_with(
            "vq",
            "s",
            lambda v, sc: (v * F.col("n") - sc) * (v * F.col("n") - sc),
        ),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    ).cast("double") / (F.col("n") * F.col("n"))
    w = W.partitionBy("vec_id").orderBy(dist2, "cid")
    after = (
        j.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("vec_id", F.col("cid").cast("int").alias("cid"))
    )
    return (
        before.join(after, "vec_id")
        .groupBy(
            F.col("cell").alias("cell_before"),
            F.col("cid").alias("cell_after"),
        )
        .agg(F.count(F.lit(1)).alias("n_vecs"))
    )


@query(
    "ivf_refresh_budgeted",
    oracle=_ivf_incr_oracle_sql("refresh_budgeted"),
)
def ivf_refresh_budgeted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SCALE-SAFE twin of ivf_refresh_migration (r12): refresh a
    BUDGET of B = 4 cells per maintenance pass — the ones that
    ingested the most delta mass (n_delta desc, cell asc; the signal
    ivf_centroid_occupancy_drift computes) — with one exact Lloyd step
    re-balancing those cells' vectors among the region's refreshed
    centroids. Local moves only: mass cannot leave the region in one
    pass; successive passes sweep other regions — exactly how sharded
    re-clustering runs in production (re-cluster a shard at a time,
    bounded blast radius, index serves throughout).

    Scale shape: region mass is B · N/cells ≈ 4000 vectors at ANY N
    under the cells ∝ N schedule, and the region argmin compares
    against B = 4 centroids, so the Lloyd step is CONSTANT work per
    pass; the only N-scaling stages are the frozen-assignment scan
    and the cell-count aggregate (both linear, both already paid by
    the drift monitor). The full-refresh baseline is Θ(N²/1000) by
    construction (measured exp 1.9, counted N·cells mechanism — see
    its regime note). Same integer-millis rational-centroid exactness,
    same migration-matrix output schema, hot-cell selection replayed
    by the oracle (counts are exact integers; ties to the lower
    cell). Measured at registration: 10× exp 0.32, sf1→sf2 exp 0.28
    (vs the full refresh's 1.9)."""
    import numpy as np

    from dist_keras_spark.operators.quality import hash_split
    from dist_keras_spark.operators.similarity import (
        _cell_assign_udf,
        sample_centroids,
    )

    e = _lt(spark, sf_dir, "embeddings")
    bucket = hash_split(e, "vec_id", 100)
    base = e.filter(bucket < _IVF_BASE_PCT)
    cells = max(16, base.count() // 1000)
    cents = sample_centroids(base, "vec_id", "embedding", cells, 42)
    cents = cents / np.maximum(
        np.linalg.norm(cents, axis=1, keepdims=True), 1e-12
    )
    # r13 (guide §2.4): before_all (full-N Arrow assignment) feeds the
    # hot-cell agg, the region filter, the Lloyd sum and the final
    # migration join — four consumers with differing projections, so
    # the assignment kernel re-executed per consumer (8 embeddings
    # scans, zero ReusedExchange).  Stage it (ids+cell only — no
    # vectors) and the quantized frame once per run (lineage
    # truncation, not caching).
    before_all = _stage(
        e.select(
            "vec_id",
            (bucket < _IVF_BASE_PCT).alias("is_base"),
            F.element_at(_cell_assign_udf(cents, 1)("embedding"), 1)
            .cast("int")
            .alias("cell"),
        )
    )
    hot = (
        before_all.groupBy("cell")
        .agg(
            F.sum(F.when(F.col("is_base"), 0).otherwise(1)).alias("n_delta")
        )
        .orderBy(F.desc("n_delta"), F.asc("cell"))
        .limit(4)
        .select("cell")
    )
    before = before_all.join(F.broadcast(hot), "cell").select(
        "vec_id", "cell"
    )
    q = _stage(
        e.select(
            "vec_id",
            F.transform(
                "embedding",
                lambda x: F.round(x.cast("double") * 1000).cast("long"),
            ).alias("vq"),
        )
    )
    region = q.join(before.select("vec_id"), "vec_id")
    per_dim = (
        before.join(q, "vec_id")
        .select("cell", F.posexplode("vq").alias("i", "x"))
        .groupBy("cell", "i")
        .agg(F.sum("x").alias("sm"), F.count(F.lit(1)).alias("n"))
    )
    newc = per_dim.groupBy("cell").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("i", "sm"))),
            lambda st: st["sm"],
        ).alias("s"),
        F.min("n").alias("n"),
    ).select(F.col("cell").alias("cid"), "s", "n")
    j = region.crossJoin(F.broadcast(newc))
    dist2 = F.aggregate(
        F.zip_with(
            "vq",
            "s",
            lambda v, sc: (v * F.col("n") - sc) * (v * F.col("n") - sc),
        ),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    ).cast("double") / (F.col("n") * F.col("n"))
    w = W.partitionBy("vec_id").orderBy(dist2, "cid")
    after = (
        j.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("vec_id", F.col("cid").cast("int").alias("cid"))
    )
    return (
        before.join(after, "vec_id")
        .groupBy(
            F.col("cell").alias("cell_before"),
            F.col("cid").alias("cell_after"),
        )
        .agg(F.count(F.lit(1)).alias("n_vecs"))
    )


def _kmeans_oracle_sql(k: int = 8, dim: int = 64) -> str:
    """DuckDB SQL replaying TWO exact Lloyd iterations (see
    kmeans_lloyd_two_iters). All distance comparisons happen on
    integer-exact quantities (quantized coords, centroid kept as a
    (sum-vector, count) rational — distance·n² is a pure int64 sum,
    converted to DOUBLE once for the cross-centroid compare), so both
    engines pick identical assignments."""
    d_expr = (
        "CAST(list_sum(list_transform(range(1, {d1}), "
        "i -> (v.vq[i] * c.n - c.s[i]) * (v.vq[i] * c.n - c.s[i]))) "
        "AS DOUBLE) / (c.n * c.n)"
    ).format(d1=dim + 1)
    return f"""
WITH q AS (
    SELECT vec_id,
           list_transform(embedding,
               x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS vq
    FROM embeddings
), init AS (
    SELECT vec_id AS cid, vq AS s, CAST(1 AS BIGINT) AS n
    FROM q ORDER BY vec_id LIMIT {k}
), a1 AS (
    SELECT vec_id, cid FROM (
        SELECT v.vec_id, c.cid,
               row_number() OVER (PARTITION BY v.vec_id
                                  ORDER BY {d_expr}, c.cid) AS rn
        FROM q v CROSS JOIN init c)
    WHERE rn = 1
), c1 AS (
    SELECT cid, list(sm ORDER BY i) AS s, CAST(min(n) AS BIGINT) AS n
    FROM (
        SELECT a1.cid, t.i,
               CAST(sum(q.vq[t.i]) AS BIGINT) AS sm,
               count(*) AS n
        FROM a1 JOIN q USING (vec_id),
             (SELECT unnest(range(1, {dim + 1})) AS i) t
        GROUP BY a1.cid, t.i)
    GROUP BY cid
), a2 AS (
    SELECT vec_id, cid FROM (
        SELECT v.vec_id, c.cid,
               row_number() OVER (PARTITION BY v.vec_id
                                  ORDER BY {d_expr}, c.cid) AS rn
        FROM q v CROSS JOIN c1 c)
    WHERE rn = 1
)
SELECT a2.cid AS cluster_id, count(*) AS n_members,
       CAST(sum(list_sum(q.vq)) AS BIGINT) AS coord_sum
FROM a2 JOIN q USING (vec_id)
GROUP BY a2.cid
"""


@query("kmeans_lloyd_two_iters", oracle=_kmeans_oracle_sql())
def kmeans_lloyd_two_iters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-means (Lloyd's algorithm), two iterations, EXACTLY replayed by
    the SQL oracle — the iterative-ML pattern with a hash-checkable
    result. The trick making a float-centroid algorithm cross-engine
    exact: coords quantize to integer millis and a centroid is never
    materialized as floats — it stays the rational (Σ-vector, count),
    so squared-distance·n² is integer arithmetic, converted to DOUBLE
    once for the argmin (identical in both engines; ties break on
    centroid id).

    Scale shape per iteration: assignment = corpus ⨯ broadcast
    k-centroids (k·dim ints — model-sized), argmin via a vec_id-keyed
    window; update = posexplode to (cid, dim) partial sums — the
    mergeable-state form (never collect_list of vectors). Driver holds
    nothing; iterations chain as one lazy plan. More iterations = the
    same two stages repeated; a convergence loop would check
    assignment-change counts per round (deliberately fixed at 2 here
    so the oracle is finitely expressible).

    int64 valve (ADVICE r6): the distance accumulator sums
    (v·n − s)² over dim=64 terms. With |coord|≤C millis and cluster
    size n, each term ≤ (2·C·n)², so the sum stays in int64 while
    dim·4·C²·n² < 2⁶³ — for C≈1e3 (unit-norm embeddings quantized
    ·1000) that bounds n < ~6e6 members per cluster. Past that,
    promote the fold accumulator to DECIMAL(38,0) (or carry the
    centroid as (Σ/g, n/g) with g = gcd) before trusting the
    arithmetic; the query asserts nothing at larger n.

    r14 (guide §2.4, VERDICT r13 #4): the quantized frame `q` feeds
    FIVE consumers (init limit, both assignment crossJoins, the
    update join, the final membership join) — the fixed final-plan
    audit read 5 embeddings scans, zero ReusedExchange, the per-row
    quantize transform re-run each time. `q` is staged once per run
    through `_stage`; the per-iteration re-assignment stays lazy — it
    IS the declared computation.
    Interleaved A/B at sf0.1: 1.575 → 1.334s min (staged won 5/5
    alternated rounds); oracle hash-green at 3 SFs."""
    k, dim = 8, 64
    e = _lt(spark, sf_dir, "embeddings")
    q = _stage(
        e.select(
            "vec_id",
            F.transform(
                "embedding",
                lambda x: F.round(x.cast("double") * 1000).cast("long"),
            ).alias("vq"),
        )
    )
    init = (
        q.orderBy("vec_id")
        .limit(k)
        .select(
            F.col("vec_id").alias("cid"),
            F.col("vq").alias("s"),
            F.lit(1).cast("long").alias("n"),
        )
    )

    def assign(vecs: DataFrame, cents: DataFrame) -> DataFrame:
        j = vecs.crossJoin(F.broadcast(cents))
        dist2 = F.aggregate(
            F.zip_with(
                "vq",
                "s",
                lambda v, sc: (v * F.col("n") - sc) * (v * F.col("n") - sc),
            ),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        ).cast("double") / (F.col("n") * F.col("n"))
        w = W.partitionBy("vec_id").orderBy(dist2, "cid")
        return (
            j.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select("vec_id", "cid")
        )

    def update(assigned: DataFrame) -> DataFrame:
        per_dim = (
            assigned.join(q, "vec_id")
            .select("cid", F.posexplode("vq").alias("i", "x"))
            .groupBy("cid", "i")
            .agg(F.sum("x").alias("sm"), F.count(F.lit(1)).alias("n"))
        )
        return per_dim.groupBy("cid").agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("i", "sm"))),
                lambda st: st["sm"],
            ).alias("s"),
            F.min("n").alias("n"),
        )

    a2 = assign(q, update(assign(q, init)))
    return (
        a2.join(q, "vec_id")
        .groupBy(F.col("cid").alias("cluster_id"))
        .agg(
            F.count(F.lit(1)).alias("n_members"),
            F.sum(
                F.aggregate("vq", F.lit(0).cast("long"), lambda a, x: a + x)
            ).alias("coord_sum"),
        )
    )
