"""Round-8 operators: exact-substring (50-gram) training-data dedup,
the Gopher/C4 named quality-rule suite, and the AveragingTrainer
weight-mean replay.

All three extend the LLM training-data layer (SURVEY.md §2.J) or close
a trainer blind spot (§2.I) the optimizer-replay way. dist-keras has
no analogue for the first two — "beyond the reference" surface, mapped
in COVERAGE.md.

House rules: md5 is the engine-portable fingerprint (Spark md5() ==
DuckDB md5() byte-for-byte); integer cents via floor(x*100); every
float constant that must agree across engines is the repr() of the
same Python-computed IEEE double on both sides.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from dist_keras_spark.functions.arrays import (
    cosine_similarity as _cosine_similarity,
)
from dist_keras_spark.operators.dedup import _stage, substring_dup_pairs
from dist_keras_spark.plans.registry import query
from dist_keras_spark.operators.dedup import spread as _spread
from dist_keras_spark.operators.similarity import topk_scored
from dist_keras_spark.sources.tables import load_table as _lt


@query(
    "substring_dedup_50gram",
    oracle="""
WITH toks AS (
  SELECT doc_id, string_split(text, ' ') AS t FROM documents
), grams AS (
  SELECT DISTINCT doc_id, md5(array_to_string(t[i:i+49], ' ')) AS fp
  FROM toks, unnest(range(1, len(t) - 49 + 1)) AS r(i)
  WHERE len(t) >= 50
)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       CAST(count(*) AS BIGINT) AS n_shared
FROM grams a JOIN grams b USING (fp)
WHERE a.doc_id < b.doc_id
GROUP BY a.doc_id, b.doc_id
""",
)
def substring_dedup_50gram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact substring dedup at 50-grams — the Lee et al. 2022
    ExactSubstr criterion (documents sharing any 50-token span are
    duplicates), computed via a bucketed inverted index of md5 span
    fingerprints instead of the paper's single-node suffix array.
    The oracle replays the IDENTICAL fingerprint arithmetic in DuckDB
    (md5 agrees across engines), so candidate generation, not just
    the final pair set, is pinned. One (id, fp) shuffle; text never
    leaves the scan stage. See operators/dedup.py:substring_dup_pairs
    for the 100 TB shape and the max_df stop-span valve."""
    docs = _lt(spark, sf_dir, "documents")
    return substring_dup_pairs(docs, n=50)


@query(
    "weight_average_exact",
    oracle="""
WITH sh AS (
  SELECT l_suppkey % 8 AS shard,
         count(*) AS n,
         CAST(sum(CAST(l_quantity AS BIGINT)) % 997 AS BIGINT) AS w1,
         CAST(sum(CAST(floor(l_extendedprice * 100) AS BIGINT)) % 997
              AS BIGINT) AS w2,
         CAST(sum(l_partkey) % 997 AS BIGINT) AS w3,
         CAST(sum(l_orderkey) % 997 AS BIGINT) AS w4
  FROM lineitem GROUP BY 1
), unp AS (
  SELECT shard, n, 'w1' AS component, w1 AS w FROM sh
  UNION ALL SELECT shard, n, 'w2', w2 FROM sh
  UNION ALL SELECT shard, n, 'w3', w3 FROM sh
  UNION ALL SELECT shard, n, 'w4', w4 FROM sh
)
SELECT component,
       CAST(sum(w * n) AS DOUBLE) / CAST(sum(n) AS DOUBLE) AS merged,
       CAST(count(*) AS BIGINT) AS n_shards
FROM unp GROUP BY component
""",
)
def weight_average_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash-exact replay of the AveragingTrainer merge rule (I3/D10,
    operators/trainers.py:weighted_mean_merge) — the last trainer
    whose arithmetic had no oracle twin. Eight 'shards' are built from
    lineitem (shard = l_suppkey mod 8) with a 4-component
    integer-quantized weight vector per shard (mod-997 sums, so every
    payload·n product stays far under 2^53); the merge
    Σ(w·n) / Σn is computed with INTEGER sums and ONE final double
    division — bitwise-identical across Spark, DuckDB, and the
    trainer's own numpy merge (integer-valued float64 sums are exact
    in any order; tests/test_ml.py pins weighted_mean_merge to this
    query's formulation on the same shard values).

    100 TB shape: one groupBy(shard) partial-aggregated scan, a
    4-row-per-shard stack, and an 8·4-row final agg — the merge cost
    is O(shards·components), never O(rows)."""
    l = _lt(spark, sf_dir, "lineitem")
    sh = l.groupBy(F.pmod(F.col("l_suppkey"), F.lit(8)).alias("shard")).agg(
        F.count(F.lit(1)).alias("n"),
        F.pmod(F.sum(F.col("l_quantity").cast("long")), F.lit(997)).alias("w1"),
        F.pmod(
            F.sum(F.floor(F.col("l_extendedprice") * 100).cast("long")),
            F.lit(997),
        ).alias("w2"),
        F.pmod(F.sum(F.col("l_partkey").cast("long")), F.lit(997)).alias("w3"),
        F.pmod(F.sum(F.col("l_orderkey").cast("long")), F.lit(997)).alias("w4"),
    )
    unp = sh.select(
        "shard",
        "n",
        F.expr(
            "stack(4, 'w1', w1, 'w2', w2, 'w3', w3, 'w4', w4) AS (component, w)"
        ),
    )
    return unp.groupBy("component").agg(
        (
            F.sum(F.col("w") * F.col("n")).cast("double")
            / F.sum("n").cast("double")
        ).alias("merged"),
        F.count(F.lit(1)).alias("n_shards"),
    )



def _quant(col: str = "embedding"):
    """The shared integer quantization floor(x·10) (float→double cast
    first — exact, and double·10 is the identical IEEE op in DuckDB's
    list_transform twin). Every linear-algebra/ANN query in this
    module quantizes embeddings through this one expression."""
    return F.transform(
        col, lambda x: F.floor(x.cast("double") * F.lit(10.0)).cast("long")
    )


_CODE_BITS = 6  # codebook ids are 0..15 (< 2**6); d2 << 6 is tiny vs int64

def _argmin_code(cdist: DataFrame) -> DataFrame:
    """groupBy(vec_id, s) argmin of (d2, c), ties toward the lower
    code id, over a PQ distance frame (vec_id, s, c, d2).

    r14 (guide §7.2): this used to be min(struct(d2, c)) — a struct
    aggregation buffer excludes HashAggregateExec, so the N·8·16-row
    distance frame (the hottest frame in PQ coding) was demoted to
    Sort + SortAggregate at BOTH partial and final levels. Packing
    the pair into ONE bigint min(d2·64 + c) keeps the aggregate
    hash-based. Exact while d2 ≥ 0 (integer sum of squares) and
    0 ≤ c < 2**_CODE_BITS: the packed order IS the lexicographic
    (d2, c) order bit for bit. A row outside that range fails the
    query rather than corrupt the argmin. Returns
    (vec_id, s, code, d2).

    Same-session interleaved A/B (tools-pattern, variants alternated
    per round, per-run busy/steal recorded): packed won 4/6 rounds on
    pq_adc at sf0.1 (min 0.969 vs 1.015) and 4/5 clean rounds on
    pq_recall_vs_served (the one loss carried 14.7% steal); WASH at
    sf1 on pq_lloyd (struct 4/6, overlapping margins) because the
    distance frame arrives pre-clustered by (vec_id, s) from the
    posexplode generator — the demoted sorts ran over nearly-sorted
    narrow rows and the partial collapse is 16→1 within one map task
    either way. Kept for the strictly lighter plan (no Sort nodes)
    and the marginal sf0.1 win; oracle hash-green at 3 SFs for all 8
    consumer queries."""
    packed = F.when(
        (F.col("d2") >= 0) & (F.col("c") >= 0) & (F.col("c") < 1 << _CODE_BITS),
        F.shiftleft(F.col("d2"), _CODE_BITS) + F.col("c"),
    ).otherwise(
        F.raise_error(
            F.lit(f"_argmin_code: needs d2 >= 0 and 0 <= code < {1 << _CODE_BITS}")
        )
    )
    return (
        cdist.groupBy("vec_id", "s")
        .agg(F.min(packed).alias("mp"))
        .select(
            "vec_id",
            "s",
            F.col("mp")
            .bitwiseAND(F.lit((1 << _CODE_BITS) - 1))
            .alias("code"),
            F.shiftright(F.col("mp"), _CODE_BITS).alias("d2"),
        )
    )


_GOPHER_RULES = [
    "word_count",
    "mean_word_length",
    "symbol_word_ratio",
    "bullet_line_ratio",
    "ellipsis_line_ratio",
    "stopword_presence",
    "alpha_word_ratio",
    "curly_brace",
    "lorem_ipsum",
]


@query(
    "quality_gopher_rules",
    oracle="""
WITH d AS (
  SELECT text,
         len(string_split(text, ' ')) AS nw,
         string_split(text, chr(10)) AS ln,
         len(string_split(text, chr(10))) AS nl,
         string_split(text, ' ') AS t
  FROM documents
), f AS (
  SELECT
    (nw < 50 OR nw > 100000) AS r_word_count,
    (length(replace(text, ' ', '')) / nw < 3
     OR length(replace(text, ' ', '')) / nw > 10) AS r_mean_word_length,
    (((length(text) - length(replace(text, '#', '')))
      + (length(text) - length(replace(text, '...', ''))) / 3
      + (length(text) - length(replace(text, '…', '')))) / nw
     > 0.1) AS r_symbol_word_ratio,
    (len(list_filter(ln, l -> starts_with(l, '- ') OR starts_with(l, '* ')
                              OR starts_with(l, '• '))) / nl
     > 0.9) AS r_bullet_line_ratio,
    (len(list_filter(ln, l -> ends_with(l, '...') OR ends_with(l, '…'))) / nl
     > 0.3) AS r_ellipsis_line_ratio,
    (len(list_intersect(list_distinct(t),
         ['the','be','to','of','and','that','have','with','a','in'])) < 2)
        AS r_stopword_presence,
    (len(list_filter(t, x -> regexp_matches(x, '[a-zA-Z]'))) / nw < 0.8)
        AS r_alpha_word_ratio,
    contains(text, '{') AS r_curly_brace,
    contains(lower(text), 'lorem ipsum') AS r_lorem_ipsum
  FROM d
), w AS (
  SELECT
    CAST(sum(CAST(r_word_count AS BIGINT)) AS BIGINT) AS word_count,
    CAST(sum(CAST(r_mean_word_length AS BIGINT)) AS BIGINT) AS mean_word_length,
    CAST(sum(CAST(r_symbol_word_ratio AS BIGINT)) AS BIGINT) AS symbol_word_ratio,
    CAST(sum(CAST(r_bullet_line_ratio AS BIGINT)) AS BIGINT) AS bullet_line_ratio,
    CAST(sum(CAST(r_ellipsis_line_ratio AS BIGINT)) AS BIGINT) AS ellipsis_line_ratio,
    CAST(sum(CAST(r_stopword_presence AS BIGINT)) AS BIGINT) AS stopword_presence,
    CAST(sum(CAST(r_alpha_word_ratio AS BIGINT)) AS BIGINT) AS alpha_word_ratio,
    CAST(sum(CAST(r_curly_brace AS BIGINT)) AS BIGINT) AS curly_brace,
    CAST(sum(CAST(r_lorem_ipsum AS BIGINT)) AS BIGINT) AS lorem_ipsum,
    CAST(sum(CAST((r_word_count OR r_mean_word_length OR r_symbol_word_ratio
         OR r_bullet_line_ratio OR r_ellipsis_line_ratio
         OR r_stopword_presence OR r_alpha_word_ratio OR r_curly_brace
         OR r_lorem_ipsum) AS BIGINT)) AS BIGINT) AS any_rule,
    CAST(count(*) AS BIGINT) AS total_docs
  FROM f
)
SELECT 'word_count' AS rule, word_count AS n_rejected FROM w
UNION ALL SELECT 'mean_word_length', mean_word_length FROM w
UNION ALL SELECT 'symbol_word_ratio', symbol_word_ratio FROM w
UNION ALL SELECT 'bullet_line_ratio', bullet_line_ratio FROM w
UNION ALL SELECT 'ellipsis_line_ratio', ellipsis_line_ratio FROM w
UNION ALL SELECT 'stopword_presence', stopword_presence FROM w
UNION ALL SELECT 'alpha_word_ratio', alpha_word_ratio FROM w
UNION ALL SELECT 'curly_brace', curly_brace FROM w
UNION ALL SELECT 'lorem_ipsum', lorem_ipsum FROM w
UNION ALL SELECT 'any_rule', any_rule FROM w
UNION ALL SELECT 'total_docs', total_docs FROM w
""",
)
def quality_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The named Gopher/C4 quality-filter suite (J7 extended from
    generic predicates to the published rule set production corpora
    use) as ONE zero-shuffle scan: every rule is a column expression
    over the document text (operators/quality.py:gopher_rule_flags),
    the per-rule rejection counters come from a single partial
    aggregation, and the 11-row (rule, n_rejected) output includes
    the any-rule union and the total for rejection-rate math. Each
    counter is independently oracle-checked — the DuckDB side replays
    the SAME rule arithmetic, so a drifted threshold or expression
    fails the hash, not just the row count.

    100 TB shape: scan → map-side combine → 1-row exchange. No
    shuffle touches document text."""
    from dist_keras_spark.operators.quality import gopher_rule_flags

    docs = _lt(spark, sf_dir, "documents")
    flags = gopher_rule_flags(docs)
    rules = _GOPHER_RULES
    any_rule = None
    for r in rules:
        c = F.col(f"r_{r}")
        any_rule = c if any_rule is None else (any_rule | c)
    aggs = [
        F.sum(F.col(f"r_{r}").cast("long")).alias(r) for r in rules
    ] + [
        F.sum(any_rule.cast("long")).alias("any_rule"),
        F.count(F.lit(1)).alias("total_docs"),
    ]
    wide = flags.agg(*aggs)
    stack_args = ", ".join(f"'{r}', {r}" for r in rules + ["any_rule", "total_docs"])
    return wide.select(
        F.expr(f"stack({len(rules) + 2}, {stack_args}) AS (rule, n_rejected)")
    )


@query(
    "power_iteration_two_steps",
    oracle="""
WITH q AS (
  SELECT vec_id,
         list_transform(embedding,
             x -> CAST(floor(CAST(x AS DOUBLE) * 10.0) AS BIGINT)) AS qv
  FROM embeddings
), post AS (
  SELECT vec_id, i.i AS i, qv[i.i] AS qi
  FROM q, unnest(range(1, 65)) i(i)
), t AS (
  SELECT vec_id, CAST(sum(qi) AS BIGINT) AS t FROM post GROUP BY vec_id
), v1 AS (
  SELECT p.i, CAST(sum(p.qi * t.t) AS BIGINT) AS v1
  FROM post p JOIN t ON p.vec_id = t.vec_id GROUP BY p.i
), u AS (
  SELECT p.vec_id, CAST(sum(p.qi * v1.v1) AS BIGINT) AS u
  FROM post p JOIN v1 ON p.i = v1.i GROUP BY p.vec_id
), v2 AS (
  SELECT p.i, CAST(sum(p.qi * u.u) AS BIGINT) AS v2
  FROM post p JOIN u ON p.vec_id = u.vec_id GROUP BY p.i
)
SELECT v1.i AS component, v1.v1 AS v1, v2.v2 AS v2
FROM v1 JOIN v2 ON v1.i = v2.i
""",
)
def power_iteration_two_steps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TWO exact power-iteration steps toward the dominant eigenvector
    of the embedding second-moment matrix C = XᵀX — the iterative
    linear-algebra family (PCA/spectral init) driver-checked the
    optimizer-replay way. Embeddings are integer-quantized
    (floor(x·10), float→double cast first — exact and identical IEEE
    on both engines), v0 = ones, and every step stays in BIGINT, so
    engine sum order cannot perturb a bit.

    THE SCALE SHAPE: C is d×d but is NEVER materialized — each step
    is vₖ₊₁ = Xᵀ(X·vₖ), two passes over the (row, i, qᵢ) postings:
    a per-row dot product u_r = q_r·vₖ (64-row broadcast-sized join),
    then component sums Σ_r qᵢ·u_r. At 100 TB that is two shuffles of
    d-width partial sums instead of an O(d²)-cell covariance build —
    and v1 = C·1 needs no join at all (t_r = Σⱼ q_r[j] is scan-side
    arithmetic). Magnitudes: |q|≤10·64 ⇒ |t|≤640, |v1|≤~3e7 at
    sf0.1, |v2|≤~2e15 — int64-safe with 3 orders of margin
    (valve: re-quantize v between steps beyond ~1e7 rows)."""
    # spread() first (r10 scaling sweep): the corpus-wide quantize +
    # subspace-distance folds are INTERPRETED HOFs, and the local
    # single-partition scan would serialize them onto one core; at
    # cluster scale this is a no-op-sized shuffle (dedup.spread).
    emb = _spread(_lt(spark, sf_dir, "embeddings"), "vec_id")
    q = emb.select(
        "vec_id",
        _quant().alias("qv"),
    )
    post = q.select(
        "vec_id",
        F.posexplode("qv").alias("i0", "qi"),
    ).select("vec_id", (F.col("i0") + 1).alias("i"), "qi")
    t = q.select(
        "vec_id",
        F.aggregate(
            "qv", F.lit(0).cast("long"), lambda acc, x: acc + x
        ).alias("t"),
    )
    v1 = (
        post.join(t, "vec_id")
        .groupBy("i")
        .agg(F.sum(F.col("qi") * F.col("t")).alias("v1"))
    )
    u = (
        post.join(F.broadcast(v1), "i")
        .groupBy("vec_id")
        .agg(F.sum(F.col("qi") * F.col("v1")).alias("u"))
    )
    v2 = (
        post.join(u, "vec_id")
        .groupBy("i")
        .agg(F.sum(F.col("qi") * F.col("u")).alias("v2"))
    )
    return (
        v1.join(v2, "i")
        .select(F.col("i").alias("component"), "v1", "v2")
    )


@query(
    "bigram_pmi_top",
    oracle="""
WITH toks AS (
  SELECT doc_id, string_split(text, ' ') AS t FROM documents
), big AS (
  SELECT t[i.i] AS w1, t[i.i + 1] AS w2, count(*) AS c12
  FROM toks, unnest(range(1, len(t))) i(i)
  GROUP BY 1, 2
), uni AS (
  SELECT w, count(*) AS c FROM (SELECT unnest(t) AS w FROM toks)
  GROUP BY 1
), tot AS (
  SELECT CAST((SELECT sum(c) FROM uni) AS BIGINT) AS n_uni,
         CAST((SELECT sum(c12) FROM big) AS BIGINT) AS n_big
)
SELECT w1, w2, CAST(c12 AS BIGINT) AS c12,
       CAST(floor(
           CAST(c12 * n_uni * n_uni AS DOUBLE)
           / CAST(u1.c * u2.c * n_big AS DOUBLE) * 1000000.0
       ) AS BIGINT) AS pmi_micro
FROM big
JOIN uni u1 ON big.w1 = u1.w
JOIN uni u2 ON big.w2 = u2.w
CROSS JOIN tot
WHERE c12 >= 5
ORDER BY pmi_micro DESC, w1, w2
LIMIT 50
""",
)
def bigram_pmi_top(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-50 adjacent-token bigrams by pointwise mutual information —
    the corpus-statistics collocation measure (J6/J8 family). PMI's
    log is monotone, so ranking by the RATIO p(w1,w2)/(p(w1)p(w2)) =
    c12·N²/(c1·c2·N_big) is the same ranking with no libm in the
    answer: integer products first (all < 2^53, so the int→double
    casts are exact), then ONE division and the floor(·1e6)
    micro-quantization — two float ops, bit-identical across engines.
    Ties broken by (w1, w2) for a deterministic top-50 SET under the
    driver's order-insensitive hash. c12 ≥ 5 is the standard PMI
    noise floor.

    100 TB shape: bigrams are scan-side zip_with (text never
    shuffles), counts are two partial-agg shuffles keyed on the
    bigram/token, totals broadcast back, and the top-50 is a
    TakeOrdered — no global sort materialization. Count magnitudes:
    c12·N² ≲ 1e15 at sf0.1 needs int64 anyway; the valve at larger
    corpora is dropping the ·N² scale factor into the final double
    (ranking-invariant)."""
    docs = _lt(spark, sf_dir, "documents")
    toks = docs.select(F.split("text", " ").alias("t"))
    big = (
        toks.select(
            F.explode(
                F.filter(
                    F.zip_with(
                        "t",
                        F.slice(F.col("t"), 2, F.size("t") - 1),
                        lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
                    ),
                    lambda s: s["w2"].isNotNull(),
                )
            ).alias("bg")
        )
        .select("bg.w1", "bg.w2")
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("c12"))
    )
    uni = (
        toks.select(F.explode("t").alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    tot = uni.agg(F.sum("c").alias("n_uni")).crossJoin(
        big.agg(F.sum("c12").alias("n_big"))
    )
    u1 = uni.select(F.col("w").alias("w1"), F.col("c").alias("c1"))
    u2 = uni.select(F.col("w").alias("w2"), F.col("c").alias("c2"))
    score = F.floor(
        (F.col("c12") * F.col("n_uni") * F.col("n_uni")).cast("double")
        / (F.col("c1") * F.col("c2") * F.col("n_big")).cast("double")
        * F.lit(1000000.0)
    ).cast("long")
    return (
        big.filter(F.col("c12") >= 5)
        .join(F.broadcast(u1), "w1")
        .join(F.broadcast(u2), "w2")
        .crossJoin(F.broadcast(tot))
        .select("w1", "w2", "c12", score.alias("pmi_micro"))
        .orderBy(F.col("pmi_micro").desc(), "w1", "w2")
        .limit(50)
    )


@query(
    "substring_dedup_survivors",
    oracle="""
WITH toks AS (
  SELECT doc_id, string_split(text, ' ') AS t FROM documents
), grams AS (
  SELECT DISTINCT doc_id, md5(array_to_string(t[i:i+49], ' ')) AS fp
  FROM toks, unnest(range(1, len(t) - 49 + 1)) AS r(i)
  WHERE len(t) >= 50
), blockers AS (
  SELECT b.doc_id,
         min(a.doc_id) AS min_blocker,
         CAST(count(DISTINCT a.doc_id) AS BIGINT) AS n_blockers
  FROM grams a JOIN grams b USING (fp)
  WHERE a.doc_id < b.doc_id
  GROUP BY b.doc_id
)
SELECT d.doc_id,
       (bl.doc_id IS NULL) AS keep,
       bl.min_blocker,
       COALESCE(bl.n_blockers, 0) AS n_blockers
FROM documents d LEFT JOIN blockers bl ON d.doc_id = bl.doc_id
""",
)
def substring_dedup_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ACTION half of exact-substring dedup: Lee et al. keep the
    first occurrence, so a document is dropped when it shares any
    50-token span with a LOWER doc_id. Per document: the keep flag,
    the lowest blocking doc, and how many distinct earlier documents
    block it — the keep-list a curation pipeline joins back to the
    corpus (kept docs pass through; NULL min_blocker marks
    survivors). Pairwise keep-first is deliberately NOT transitive
    closure: each drop is witnessed by a retained-or-dropped earlier
    doc sharing literal text, matching the paper's pairwise criterion
    (the clustering variant is neardup_clusters).

    Same 100 TB shape as substring_dedup_50gram — one (id, fp)
    postings shuffle, a fingerprint-bucketed self-join, then a
    broadcast-sized left join of blockers back onto the corpus
    keyed by doc_id."""
    from dist_keras_spark.operators.dedup import substring_fingerprints

    docs = _lt(spark, sf_dir, "documents")
    grams = substring_fingerprints(docs, n=50)
    a = grams.select(F.col("id").alias("blocker"), "fp")
    b = grams.select(F.col("id").alias("doc_id"), "fp")
    blockers = (
        a.join(b, "fp")
        .filter(F.col("blocker") < F.col("doc_id"))
        .groupBy("doc_id")
        .agg(
            F.min("blocker").alias("min_blocker"),
            F.countDistinct("blocker").alias("n_blockers"),
        )
    )
    return (
        docs.select("doc_id")
        .join(blockers.withColumnRenamed("doc_id", "bid"),
              F.col("doc_id") == F.col("bid"), "left")
        .select(
            "doc_id",
            F.col("bid").isNull().alias("keep"),
            "min_blocker",
            F.coalesce("n_blockers", F.lit(0).cast("long")).alias("n_blockers"),
        )
    )


@query(
    "vocab_coverage_topn",
    oracle="""
WITH uni AS (
  SELECT w, count(*) AS c
  FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
  GROUP BY 1
), ranked AS (
  SELECT w, CAST(c AS BIGINT) AS c,
         row_number() OVER (ORDER BY c DESC, w) AS rank,
         CAST(sum(c) OVER (ORDER BY c DESC, w
              ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum,
         CAST(sum(c) OVER () AS BIGINT) AS total
  FROM uni
)
SELECT CAST(rank AS BIGINT) AS rank, w AS word, c, cum,
       CAST(floor(CAST(cum AS DOUBLE) / CAST(total AS DOUBLE)
            * 1000000.0) AS BIGINT) AS coverage_micro
FROM ranked
WHERE rank <= 50
""",
)
def vocab_coverage_topn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary coverage curve — the tokenizer-design statistic
    (J8 family): rank words by corpus frequency and report what
    fraction of all token occurrences the top-N cover. Drives vocab
    truncation / OOV-rate decisions before training a tokenizer.
    Deterministic total order (count desc, word asc); coverage is the
    floor(·1e6) micro-quantized double of an exact-integer quotient —
    one division + one multiply, bit-identical across engines.

    100 TB shape: token counts partial-aggregate in the scan; the
    ranking window runs over the VOCABULARY (≪ corpus, bounded by
    distinct words), not the token stream — a reviewed bounded-input
    window carrying bounded_window_key (the non-foldable constant-zero
    partition key; VERDICT r6 #7). Top-50 keeps the result
    driver-sized."""
    from pyspark.sql import Window as W

    from dist_keras_spark.operators.utils import bounded_window_key

    docs = _lt(spark, sf_dir, "documents")
    uni = (
        docs.select(F.explode(F.split("text", " ")).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    order = [F.col("c").desc(), F.col("w").asc()]
    bk = bounded_window_key(F.col("w"))
    wr = W.partitionBy(bk).orderBy(*order)
    wcum = (
        W.partitionBy(bk)
        .orderBy(*order)
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    wtot = W.partitionBy(bk)
    ranked = uni.select(
        F.row_number().over(wr).cast("long").alias("rank"),
        F.col("w").alias("word"),
        "c",
        F.sum("c").over(wcum).alias("cum"),
        F.sum("c").over(wtot).alias("total"),
    )
    return ranked.filter(F.col("rank") <= 50).select(
        "rank",
        "word",
        "c",
        "cum",
        F.floor(
            F.col("cum").cast("double") / F.col("total").cast("double")
            * F.lit(1000000.0)
        ).cast("long").alias("coverage_micro"),
    )


@query(
    "token_budget_largest_remainder",
    oracle="""
WITH src AS (
  SELECT source,
         CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS tokens
  FROM documents GROUP BY source
), tot AS (
  SELECT CAST(sum(tokens) AS BIGINT) AS total,
         CAST(sum(tokens) // 2 AS BIGINT) AS budget
  FROM src
), base AS (
  SELECT source, tokens,
         CAST((budget * tokens) // total AS BIGINT) AS base_alloc,
         CAST((budget * tokens) % total AS BIGINT) AS rem,
         budget, total
  FROM src, tot
), seats AS (
  SELECT CAST(max(budget) - sum(base_alloc) AS BIGINT) AS leftover FROM base
)
SELECT source, tokens, base_alloc,
       CAST(CASE WHEN row_number() OVER (ORDER BY rem DESC, source)
                 <= leftover THEN 1 ELSE 0 END AS BIGINT) AS extra,
       CAST(base_alloc + CASE WHEN row_number()
            OVER (ORDER BY rem DESC, source) <= leftover
            THEN 1 ELSE 0 END AS BIGINT) AS alloc
FROM base, seats
""",
)
def token_budget_largest_remainder(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Token-budget apportionment across sources by the largest-
    remainder (Hamilton) method — the data-mixture accounting step a
    training run does before sampling: give source s
    floor(B·tokens_s / total) tokens of a budget B (here total/2),
    then hand the Σfloor shortfall out one token each to the largest
    integer remainders (ties by source name). ALL-INTEGER arithmetic:
    div/% on int64 (positive operands, so Spark `div` == DuckDB `//`),
    so the allocation is exact and Σ alloc == B by construction —
    the invariant the oracle hash pins.

    100 TB shape: per-source token counts partial-aggregate in the
    scan; apportionment runs over the SOURCE dimension (a handful of
    rows) under a reviewed bounded-input window carrying
    bounded_window_key."""
    from pyspark.sql import Window as W

    from dist_keras_spark.operators.utils import bounded_window_key

    docs = _lt(spark, sf_dir, "documents")
    src = docs.groupBy("source").agg(
        F.sum(F.size(F.split("text", " "))).alias("tokens")
    )
    tot = src.agg(
        F.sum("tokens").alias("total"),
        F.expr("sum(tokens) div 2").alias("budget"),
    )
    base = src.crossJoin(F.broadcast(tot)).select(
        "source",
        "tokens",
        F.expr("(budget * tokens) div total").alias("base_alloc"),
        ((F.col("budget") * F.col("tokens")) % F.col("total")).alias("rem"),
        "budget",
    )
    seats = base.agg(
        (F.max("budget") - F.sum("base_alloc")).alias("leftover")
    )
    wr = W.partitionBy(bounded_window_key(F.col("source"))).orderBy(
        F.col("rem").desc(), F.col("source").asc()
    )
    return (
        base.crossJoin(F.broadcast(seats))
        .select(
            "source",
            "tokens",
            "base_alloc",
            (F.row_number().over(wr) <= F.col("leftover"))
            .cast("long")
            .alias("extra"),
        )
        .select(
            "source",
            "tokens",
            "base_alloc",
            "extra",
            (F.col("base_alloc") + F.col("extra")).alias("alloc"),
        )
    )


@query(
    "pq_adc_top5",
    oracle="""
WITH q AS (
  SELECT vec_id,
         list_transform(embedding,
             x -> CAST(floor(CAST(x AS DOUBLE) * 10.0) AS BIGINT)) AS v
  FROM embeddings
), subs AS (
  SELECT vec_id, t.s,
         v[CAST(t.s * 8 + 1 AS BIGINT):CAST(t.s * 8 + 8 AS BIGINT)] AS sub
  FROM q, unnest(range(0, 8)) t(s)
), cb AS (
  SELECT vec_id AS c, s, sub AS cbsub FROM subs WHERE vec_id < 16
), cdist AS (
  SELECT subs.vec_id, subs.s, cb.c,
         CAST(list_sum(list_transform(range(1, 9),
              i -> (sub[i] - cbsub[i]) * (sub[i] - cbsub[i])))
              AS BIGINT) AS d2
  FROM subs JOIN cb ON subs.s = cb.s
), codes AS (
  SELECT vec_id, s, c AS code
  FROM (SELECT *, row_number() OVER (PARTITION BY vec_id, s
                                     ORDER BY d2, c) AS rn FROM cdist)
  WHERE rn = 1
), qtab AS (
  SELECT vec_id AS query_id, s, c,
         d2 AS t
  FROM cdist WHERE vec_id % 20 = 0
), scored AS (
  SELECT qt.query_id, cd.vec_id AS neighbor_id,
         CAST(sum(qt.t) AS BIGINT) AS adist
  FROM codes cd JOIN qtab qt ON cd.s = qt.s AND cd.code = qt.c
  WHERE cd.vec_id <> qt.query_id
  GROUP BY 1, 2
), ranked AS (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY adist, neighbor_id) AS pq_rank
  FROM scored
)
SELECT query_id, neighbor_id, pq_rank, adist FROM ranked WHERE pq_rank <= 5
""",
)
def pq_adc_top5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J5 compressed-domain variant: Product Quantization with
    Asymmetric Distance Computation (Jégou et al. 2011, public) —
    THE standard billion-scale ANN compression. The 64-dim
    integer-quantized vector is split into m=8 subspaces of 8 dims;
    each subspace gets a k=16-entry codebook (deterministically the
    16 lowest vec_ids' subvectors — a seeding, not a trained
    k-means, so every engine agrees bit-for-bit); a corpus vector
    compresses to 8 nibbles (codes = argmin squared distance,
    ties to the lowest centroid via the (d2, c) struct-min). A query
    is NOT compressed: it precomputes an 8×16 distance TABLE and a
    neighbor's score is Σ_s table[s][code_s] — all int64, so the
    oracle replays the identical arithmetic.

    100 TB shape: encoding is a corpus×16-centroid broadcast join with
    partial-agg argmin (the corpus never shuffles for it); the 8×16
    per-query tables broadcast; scoring shuffles only
    (query_id, vec_id, partial-sum) triples. The fixture-scale scorer
    is exhaustive over codes — at real scale the SAME codes join
    composes with the IVF cell pruning (knn_ivf_persisted_top5) for
    the classic IVF-PQ index; 4-bit codes cut the corpus to
    64 bits/vector, which is the whole point.

    Two-step regime note (sf1→sf2 sweep, r12): exp 1.89 — the
    exhaustive code-sharing join is Θ(N·queries) with a corpus-
    scaling panel, quadratic by construction (the knn_bruteforce
    regime in the compressed domain). Declared flat-ADC ORACLE
    baseline; the registered scale-safe composition is
    ivf_pq_scaled_top5 (ADC only within probed scaled cells, exp
    0.80), persisted form knn_ivf_persisted_scaled_top5."""
    # spread() first (r10 scaling sweep): the corpus-wide quantize +
    # subspace-distance folds are INTERPRETED HOFs, and the local
    # single-partition scan would serialize them onto one core; at
    # cluster scale this is a no-op-sized shuffle (dedup.spread).
    emb = _spread(_lt(spark, sf_dir, "embeddings"), "vec_id")
    q = emb.select(
        "vec_id",
        _quant().alias("v"),
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
    cdist = subs.join(F.broadcast(cb), "s").select(
        "vec_id", "s", "c", d2.alias("d2")
    )
    codes = _argmin_code(cdist).select("vec_id", "s", "code")
    qtab = cdist.filter(F.col("vec_id") % 20 == 0).select(
        F.col("vec_id").alias("query_id"),
        F.col("s").alias("qs"),
        "c",
        F.col("d2").alias("t"),
    )
    scored = (
        codes.join(
            F.broadcast(qtab),
            (F.col("s") == F.col("qs")) & (F.col("code") == F.col("c")),
        )
        .filter(F.col("vec_id") != F.col("query_id"))
        .groupBy("query_id", "vec_id")
        .agg(F.sum("t").alias("adist"))
    )
    rn = F.row_number().over(
        W.partitionBy("query_id").orderBy(F.asc("adist"), F.asc("vec_id"))
    )
    return (
        scored.withColumn("pq_rank", rn)
        .filter(F.col("pq_rank") <= 5)
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            "pq_rank",
            "adist",
        )
    )


@query(
    "pq_recall_vs_exact",
    oracle="""
WITH q AS (
  SELECT vec_id,
         list_transform(embedding,
             x -> CAST(floor(CAST(x AS DOUBLE) * 10.0) AS BIGINT)) AS v
  FROM embeddings
), subs AS (
  SELECT vec_id, t.s,
         v[CAST(t.s * 8 + 1 AS BIGINT):CAST(t.s * 8 + 8 AS BIGINT)] AS sub
  FROM q, unnest(range(0, 8)) t(s)
), cb AS (
  SELECT vec_id AS c, s, sub AS cbsub FROM subs WHERE vec_id < 16
), cdist AS (
  SELECT subs.vec_id, subs.s, cb.c,
         CAST(list_sum(list_transform(range(1, 9),
              i -> (sub[i] - cbsub[i]) * (sub[i] - cbsub[i])))
              AS BIGINT) AS d2
  FROM subs JOIN cb ON subs.s = cb.s
), codes AS (
  SELECT vec_id, s, c AS code
  FROM (SELECT *, row_number() OVER (PARTITION BY vec_id, s
                                     ORDER BY d2, c) AS rn FROM cdist)
  WHERE rn = 1
), qtab AS (
  SELECT vec_id AS query_id, s, c, d2 AS t
  FROM cdist WHERE vec_id % 20 = 0
), pq5 AS (
  SELECT query_id, neighbor_id FROM (
    SELECT qt.query_id, cd.vec_id AS neighbor_id,
           row_number() OVER (PARTITION BY qt.query_id
               ORDER BY sum(qt.t), cd.vec_id) AS pq_rank
    FROM codes cd JOIN qtab qt ON cd.s = qt.s AND cd.code = qt.c
    WHERE cd.vec_id <> qt.query_id
    GROUP BY qt.query_id, cd.vec_id
  ) WHERE pq_rank <= 5
), ex5 AS (
  SELECT query_id, neighbor_id FROM (
    SELECT qq.vec_id AS query_id, c.vec_id AS neighbor_id,
           row_number() OVER (PARTITION BY qq.vec_id
               ORDER BY list_sum(list_transform(range(1, 65),
                   i -> (c.v[i] - qq.v[i]) * (c.v[i] - qq.v[i]))),
                   c.vec_id) AS ex_rank
    FROM q c, q qq
    WHERE qq.vec_id % 20 = 0 AND c.vec_id <> qq.vec_id
  ) WHERE ex_rank <= 5
)
SELECT e.query_id,
       CAST(count(p.neighbor_id) AS BIGINT) AS n_common,
       CAST(floor(count(p.neighbor_id) / 5.0 * 1000000.0) AS BIGINT)
           AS recall_micro
FROM ex5 e LEFT JOIN pq5 p
  ON e.query_id = p.query_id AND e.neighbor_id = p.neighbor_id
GROUP BY e.query_id
""",
)
def pq_recall_vs_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@5 of the PQ-ADC index against the EXACT top-5 on the
    same integer-quantized vectors — the measurement that makes a
    compressed ANN index trustworthy (a claimed speedup without a
    recall number is not an index, it's a guess). Both rankings are
    deterministic integer arithmetic with (dist, id) tie-breaks, so
    the per-query overlap count is oracle-exact; recall is the
    floor-micro quotient of ints.

    100 TB shape: the exact side is the brute-force O(corpus·queries)
    baseline you run on a SAMPLE of queries to certify the index
    (here every 20th vector); the PQ side reuses the codes/table
    joins of pq_adc_top5. Self-measurement composes: swap the PQ CTE
    for the IVF-PQ one to certify cell-pruning loss too.

    Two-step regime note (sf1→sf2 sweep, r12): exp 1.95 — the exact
    arm scores queries × corpus and the panel scales with the
    corpus, so the audit is Θ(N²/20) BY DEFINITION (recall against
    the exact top-5; the mrl_truncation_recall / colbert_maxsim
    status). Declared exact-audit baseline; the registered scale-safe
    audit of the same index family is pq_recall_vs_served (both arms
    over the shared scaled-cells candidate pool, r12)."""
    pq5 = pq_adc_top5(spark, sf_dir).select(
        "query_id", "neighbor_id"
    )
    q = _lt(spark, sf_dir, "embeddings").select("vec_id", _quant().alias("v"))
    ex5 = _exact_l2_rank(q, 5).select("query_id", "neighbor_id")
    joined = ex5.join(
        pq5.withColumnRenamed("neighbor_id", "pq_neighbor").withColumnRenamed(
            "query_id", "pq_query"
        ),
        (F.col("query_id") == F.col("pq_query"))
        & (F.col("neighbor_id") == F.col("pq_neighbor")),
        "left",
    )
    return joined.groupBy("query_id").agg(
        F.count("pq_neighbor").alias("n_common"),
        F.floor(
            F.count("pq_neighbor") / F.lit(5.0) * F.lit(1000000.0)
        ).cast("long").alias("recall_micro"),
    )


@query(
    "ngram_novelty_rate",
    oracle="""
WITH toks AS (
  SELECT doc_id, string_split(text, ' ') AS t FROM documents
), grams AS (
  SELECT DISTINCT doc_id, md5(array_to_string(t[i:i+2], ' ')) AS fp
  FROM toks, unnest(range(1, len(t) - 2 + 1)) AS r(i)
  WHERE len(t) >= 3
), firsts AS (
  SELECT fp, min(doc_id) AS first_doc FROM grams GROUP BY fp
)
SELECT g.doc_id,
       CAST(count(*) AS BIGINT) AS n_grams,
       CAST(sum(CASE WHEN f.first_doc = g.doc_id THEN 1 ELSE 0 END)
            AS BIGINT) AS n_novel,
       CAST(floor(
           CAST(sum(CASE WHEN f.first_doc = g.doc_id THEN 1 ELSE 0 END)
                AS DOUBLE)
           / CAST(count(*) AS DOUBLE) * 1000000.0) AS BIGINT)
           AS novelty_micro
FROM grams g JOIN firsts f ON g.fp = f.fp
GROUP BY g.doc_id
""",
)
def ngram_novelty_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document n-gram NOVELTY — the memorization-risk metric a
    curation pipeline tracks per ingestion batch: the fraction of a
    document's distinct 3-gram shingles whose FIRST corpus occurrence
    (lowest doc_id — ingestion order) is this document. Low novelty
    = the document is mostly restating earlier text (near-boilerplate
    even when no single 50-gram span matches); the metric complements
    exact-substring dedup the way soft near-dup complements exact.

    100 TB shape: shingles fingerprint to md5 scan-side (text never
    shuffles), first-occurrence is ONE fingerprint-keyed shuffle, and
    the novelty quotient is floor-micro of an exact-int ratio —
    engine bit-identical.

    r14 (guide §2.4, dup-scan sweep): first-occurrence used to be a
    groupBy(fp).min self-JOINed back onto the gram frame — two
    consumers of the expensive shingle explode (documents×2, 0
    runtime reuse) plus a join shuffle. It is now a whole-partition
    window min(doc_id) OVER (PARTITION BY fp) — the same value
    attached to every gram row in one fp-keyed pass (an unordered
    window frame is computed once per partition, O(rows)). Plan:
    documents scans 2→1, join gone, exchanges 3→2. Oracle unchanged,
    hash-green at 3 SFs."""
    from dist_keras_spark.operators.dedup import substring_fingerprints

    docs = _lt(spark, sf_dir, "documents")
    # (doc_id, fp) distinct 3-gram fingerprints on the codegen explode
    # path (substring_fingerprints) — not the interpreted transform()
    # array; same rows, ~5× cheaper per evaluation (r9 measured).
    grams = substring_fingerprints(docs, "doc_id", "text", 3).select(
        F.col("id").alias("doc_id"), "fp"
    )
    first_doc = F.min("doc_id").over(W.partitionBy("fp"))
    flagged = grams.select(
        "doc_id", (first_doc == F.col("doc_id")).cast("long").alias("novel")
    )
    return (
        flagged.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum("novel").alias("n_novel"),
            F.floor(
                F.sum("novel").cast("double")
                / F.count(F.lit(1)).cast("double")
                * F.lit(1000000.0)
            ).cast("long").alias("novelty_micro"),
        )
    )


# Integer inverse-CDF thresholds for Poisson(1): floor(P(X<=k) * 2^32)
# for k = 0..5 (computed once in Python from exp(-1)/k!; beyond 5 the
# tail mass is 3e-7 and the multiplicity caps at 6). Comparing the
# 32-bit row hash against INTEGER thresholds keeps the whole bootstrap
# float-free, hence engine-exact.
_POIS_T = [1580030168, 3160060337, 3950075421, 4213413783, 4279248373,
           4292415291]
_KNUTH = 2654435761
_MIX = 968665207
_M32 = 4294967296


def _pois_case_sql(h: str) -> str:
    """CASE expression mapping a 32-bit hash to a Poisson(1) draw —
    identical text works in Spark SQL and DuckDB."""
    branches = " ".join(
        f"WHEN {h} < {t} THEN {k}" for k, t in enumerate(_POIS_T)
    )
    return f"CASE {branches} ELSE 6 END"


@query(
    "poisson_bootstrap_replicas",
    oracle=f"""
WITH reps AS (
  SELECT o_orderkey,
         CAST(floor(o_totalprice * 100) AS BIGINT) AS cents,
         b.b AS replica,
         (o_orderkey * {_KNUTH} + b.b * {_MIX}) % {_M32} AS h
  FROM orders, unnest(range(0, 20)) b(b)
)
SELECT CAST(replica AS BIGINT) AS replica,
       CAST(sum(({_pois_case_sql('h')}) * cents) AS BIGINT)
           AS total_cents,
       CAST(sum({_pois_case_sql('h')}) AS BIGINT) AS n_sampled
FROM reps GROUP BY replica
""",
)
def poisson_bootstrap_replicas(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Poisson bootstrap (Chamandy et al., Google 2012 — the
    large-scale bootstrap: per-replica multiplicities drawn
    independently per row as Poisson(1), so resampling never needs
    the global row count or a shuffle) over total order revenue,
    B = 20 replicas — the uncertainty-quantification step for any
    pipeline metric. DETERMINISTIC: the 'draw' is the row's Knuth
    multiplicative hash mixed with the replica id, mapped through
    integer inverse-CDF thresholds floor(P(X≤k)·2³²) — no RNG state,
    no floats anywhere, so replicas are reproducible across engines,
    retries, and partitionings, and the oracle hash-pins all 20
    totals. Downstream CI = percentiles over the replica column.

    100 TB shape: the ×20 replica fan-out is scan-side (explode of a
    20-element sequence), multiplicities are column arithmetic, and
    the only shuffle is a 20-group partial-agg — the bootstrap costs
    one extra scan constant, not a resample-sized shuffle."""
    o = _lt(spark, sf_dir, "orders")
    reps = o.select(
        F.col("o_orderkey").cast("long").alias("o_orderkey"),
        F.floor(F.col("o_totalprice") * 100).cast("long").alias("cents"),
        F.explode(
            F.sequence(F.lit(0).cast("long"), F.lit(19).cast("long"))
        ).alias("replica"),
    ).withColumn(
        "h",
        (
            F.col("o_orderkey") * F.lit(_KNUTH)
            + F.col("replica") * F.lit(_MIX)
        )
        % F.lit(_M32),
    )
    mult = F.expr(_pois_case_sql("h"))
    return reps.groupBy(F.col("replica").cast("long").alias("replica")).agg(
        F.sum(mult * F.col("cents")).alias("total_cents"),
        F.sum(mult).alias("n_sampled"),
    )


def _pq_codes_qtab(q: DataFrame) -> tuple[DataFrame, DataFrame]:
    """PQ coding stage shared by ivf_pq_top5, _pq_rank20 and
    ivf_pq_scaled_top5 over the quantized frame `q` (vec_id, v):
    8×8 subspace split, 16-data-vector codebook (vec_id < 16),
    integer subspace squared distances, argmins tie-broken toward the
    lower code id. Returns (codes, qtab):

      codes = (code_vec, code_s, code) — each corpus vector's nearest
              codebook entry per subspace (the compressed index: 8
              small ints per vector, built in ONE corpus×16 broadcast
              join — linear in N);
      qtab  = (tq, qs, qc, t) — the ADC lookup table for the vec_id%20
              query panel (t = integer query↔code subspace distance;
              queries × 8 × 16 rows — linear in the panel).

    All integer arithmetic, so every consumer's oracle replays it
    exactly (the ivf_pq_top5 / rrf_fusion oracles' subs/cb/cdist/
    codes/qtab CTEs are this function in SQL)."""
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
    d2sub = F.aggregate(
        F.zip_with("sub", "cbsub", lambda a, b: (a - b) * (a - b)),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    cdist = subs.join(F.broadcast(cb), "s").select(
        "vec_id", "s", "c", d2sub.alias("d2")
    )
    codes = _argmin_code(cdist).select(
        F.col("vec_id").alias("code_vec"),
        F.col("s").alias("code_s"),
        "code",
    )
    qtab = cdist.filter(F.col("vec_id") % 20 == 0).select(
        F.col("vec_id").alias("tq"),
        F.col("s").alias("qs"),
        F.col("c").alias("qc"),
        F.col("d2").alias("t"),
    )
    return codes, qtab


@query(
    "ivf_pq_top5",
    oracle="""
WITH q AS (
  SELECT vec_id,
         list_transform(embedding,
             x -> CAST(floor(CAST(x AS DOUBLE) * 10.0) AS BIGINT)) AS v
  FROM embeddings
), subs AS (
  SELECT vec_id, t.s,
         v[CAST(t.s * 8 + 1 AS BIGINT):CAST(t.s * 8 + 8 AS BIGINT)] AS sub
  FROM q, unnest(range(0, 8)) t(s)
), cb AS (
  SELECT vec_id AS c, s, sub AS cbsub FROM subs WHERE vec_id < 16
), cdist AS (
  SELECT subs.vec_id, subs.s, cb.c,
         CAST(list_sum(list_transform(range(1, 9),
              i -> (sub[i] - cbsub[i]) * (sub[i] - cbsub[i])))
              AS BIGINT) AS d2
  FROM subs JOIN cb ON subs.s = cb.s
), codes AS (
  SELECT vec_id, s, c AS code
  FROM (SELECT *, row_number() OVER (PARTITION BY vec_id, s
                                     ORDER BY d2, c) AS rn FROM cdist)
  WHERE rn = 1
), qtab AS (
  SELECT vec_id AS query_id, s, c, d2 AS t
  FROM cdist WHERE vec_id % 20 = 0
), coarse AS (
  SELECT vec_id AS j, v AS cv FROM q WHERE vec_id >= 16 AND vec_id < 24
), adist_full AS (
  SELECT q.vec_id, coarse.j,
         CAST(list_sum(list_transform(range(1, 65),
              i -> (q.v[i] - cv[i]) * (q.v[i] - cv[i]))) AS BIGINT)
             AS d2full
  FROM q, coarse
), cells AS (
  SELECT vec_id, j AS cell
  FROM (SELECT *, row_number() OVER (PARTITION BY vec_id
                                     ORDER BY d2full, j) AS rn
        FROM adist_full)
  WHERE rn = 1
), probes AS (
  SELECT vec_id AS query_id, j AS cell
  FROM (SELECT *, row_number() OVER (PARTITION BY vec_id
                                     ORDER BY d2full, j) AS rn
        FROM adist_full)
  WHERE rn <= 2 AND vec_id % 20 = 0
), cand AS (
  SELECT p.query_id, c.vec_id AS neighbor_id, c.cell
  FROM probes p JOIN cells c ON p.cell = c.cell
  WHERE c.vec_id <> p.query_id
), scored AS (
  SELECT ca.query_id, ca.neighbor_id, ca.cell,
         CAST(sum(qt.t) AS BIGINT) AS adist
  FROM cand ca
  JOIN codes cd ON cd.vec_id = ca.neighbor_id
  JOIN qtab qt ON qt.query_id = ca.query_id
              AND qt.s = cd.s AND qt.c = cd.code
  GROUP BY 1, 2, 3
), ranked AS (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY adist, neighbor_id) AS ivfpq_rank
  FROM scored
)
SELECT query_id, neighbor_id, ivfpq_rank, adist, CAST(cell AS BIGINT) AS cell
FROM ranked WHERE ivfpq_rank <= 5
""",
)
def ivf_pq_top5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ — the composition the billion-scale indexes actually
    ship (FAISS IVFPQ, public): a COARSE quantizer (8 full-dim
    centroids, deterministically vec_ids 16–23) partitions the corpus
    into cells; a query probes its nprobe=2 nearest cells and scores
    ONLY those candidates with the PQ-ADC table of pq_adc_top5. All
    integer arithmetic end-to-end (assignment, probing, and scoring
    argmins tie-broken by id), so the full index — pruning included —
    is replayed exactly by the oracle.

    100 TB shape: the cell assignment is a corpus×8 broadcast-join
    argmin computed once at index build (in production: persisted and
    partitioned BY cell, as knn_ivf_persisted_top5 demonstrates —
    probing then reads 2/8 of the data by partition pruning); query
    tables broadcast; the candidate join is cell-bucketed. Scoring
    work drops by the probe ratio vs pq_adc_top5 — recall loss is
    measurable by swapping this CTE into pq_recall_vs_exact.

    Two-step regime note (sf1→sf2 sweep, r11): exp 1.6 — the
    quantizer is PINNED at 16 cells with corpus-scaling queries, so
    probed candidates per query are nprobe·N/16 (the knn_ivf pinned-
    parameter regime, softened by the probe ratio). Kept as the
    fixed-parameter ORACLE baseline; its registered SCALE-SAFE twin
    is ivf_pq_scaled_top5 (r12) — the same PQ-ADC scoring under
    knn_ivf_scaled_top5's cells ∝ N schedule, constant ~8000-candidate
    per-query fan-out."""
    # spread() first (r10 scaling sweep): the corpus-wide quantize +
    # subspace-distance folds are INTERPRETED HOFs, and the local
    # single-partition scan would serialize them onto one core; at
    # cluster scale this is a no-op-sized shuffle (dedup.spread).
    emb = _spread(_lt(spark, sf_dir, "embeddings"), "vec_id")
    q = emb.select("vec_id", _quant().alias("v"))
    codes, qtab = _pq_codes_qtab(q)
    coarse = q.filter(
        (F.col("vec_id") >= 16) & (F.col("vec_id") < 24)
    ).select(F.col("vec_id").alias("j"), F.col("v").alias("cv"))
    d2full = F.aggregate(
        F.zip_with("v", "cv", lambda a, b: (a - b) * (a - b)),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    afull = q.crossJoin(F.broadcast(coarse)).select(
        "vec_id", "j", d2full.alias("d2full")
    )
    rn_cell = F.row_number().over(
        W.partitionBy("vec_id").orderBy(F.asc("d2full"), F.asc("j"))
    )
    ranked_cells = afull.withColumn("rn", rn_cell)
    cells = ranked_cells.filter(F.col("rn") == 1).select(
        "vec_id", F.col("j").alias("cell")
    )
    probes = (
        ranked_cells.filter(
            (F.col("rn") <= 2) & (F.col("vec_id") % 20 == 0)
        )
        .select(F.col("vec_id").alias("query_id"), F.col("j").alias("cell"))
    )
    cand = (
        probes.join(cells, "cell")
        .filter(F.col("vec_id") != F.col("query_id"))
        .select("query_id", F.col("vec_id").alias("neighbor_id"), "cell")
    )
    scored = (
        cand.join(
            codes, F.col("neighbor_id") == F.col("code_vec")
        )
        .join(
            F.broadcast(qtab),
            (F.col("query_id") == F.col("tq"))
            & (F.col("qs") == F.col("code_s"))
            & (F.col("qc") == F.col("code")),
        )
        .groupBy("query_id", "neighbor_id", "cell")
        .agg(F.sum("t").alias("adist"))
    )
    rn = F.row_number().over(
        W.partitionBy("query_id").orderBy(F.asc("adist"), F.asc("neighbor_id"))
    )
    return (
        scored.withColumn("ivfpq_rank", rn)
        .filter(F.col("ivfpq_rank") <= 5)
        .select(
            "query_id",
            "neighbor_id",
            "ivfpq_rank",
            "adist",
            F.col("cell").cast("long").alias("cell"),
        )
    )


@query(
    "quality_filter_effect_by_source",
    oracle="""
WITH d AS (
  SELECT source, text,
         len(string_split(text, ' ')) AS nw,
         string_split(text, chr(10)) AS ln,
         len(string_split(text, chr(10))) AS nl,
         string_split(text, ' ') AS t
  FROM documents
), f AS (
  SELECT source, nw,
    ((nw < 50 OR nw > 100000)
     OR (length(replace(text, ' ', '')) / nw < 3
         OR length(replace(text, ' ', '')) / nw > 10)
     OR (((length(text) - length(replace(text, '#', '')))
          + (length(text) - length(replace(text, '...', ''))) / 3
          + (length(text) - length(replace(text, '…', '')))) / nw > 0.1)
     OR (len(list_filter(ln, l -> starts_with(l, '- ')
             OR starts_with(l, '* ') OR starts_with(l, '• '))) / nl > 0.9)
     OR (len(list_filter(ln, l -> ends_with(l, '...')
             OR ends_with(l, '…'))) / nl > 0.3)
     OR (len(list_intersect(list_distinct(t),
             ['the','be','to','of','and','that','have','with','a','in'])) < 2)
     OR (len(list_filter(t, x -> regexp_matches(x, '[a-zA-Z]'))) / nw < 0.8)
     OR contains(text, '{')
     OR contains(lower(text), 'lorem ipsum')) AS rejected
  FROM d
)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(CASE WHEN rejected THEN 0 ELSE 1 END) AS BIGINT)
           AS n_kept,
       CAST(sum(nw) AS BIGINT) AS tokens_total,
       CAST(sum(CASE WHEN rejected THEN 0 ELSE nw END) AS BIGINT)
           AS tokens_kept,
       CAST(floor(CAST(sum(CASE WHEN rejected THEN 0 ELSE nw END) AS DOUBLE)
            / CAST(sum(nw) AS DOUBLE) * 1000000.0) AS BIGINT)
           AS kept_micro
FROM f GROUP BY source
""",
)
def quality_filter_effect_by_source(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """What the Gopher/C4 gate actually does to the corpus, per
    source: documents and TOKENS kept vs total, and the kept-token
    ratio — the number a mixture budget (see
    token_budget_largest_remainder) must be computed AFTER, not
    before, filtering. Same single-scan shape as quality_gopher_rules
    (the flags are the identical expressions via gopher_rule_flags);
    the only shuffle is the per-source partial agg."""
    from dist_keras_spark.operators.quality import gopher_rule_flags

    docs = _lt(spark, sf_dir, "documents")
    flags = gopher_rule_flags(docs)
    rejected = None
    for r in _GOPHER_RULES:
        c = F.col(f"r_{r}")
        rejected = c if rejected is None else (rejected | c)
    nw = F.size(F.split("text", " "))
    kept_tokens = F.sum(F.when(rejected, F.lit(0)).otherwise(nw))
    return flags.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.when(rejected, F.lit(0)).otherwise(F.lit(1))).alias("n_kept"),
        F.sum(nw).alias("tokens_total"),
        kept_tokens.alias("tokens_kept"),
        F.floor(
            kept_tokens.cast("double") / F.sum(nw).cast("double")
            * F.lit(1000000.0)
        ).cast("long").alias("kept_micro"),
    )


@query(
    "binary_eval_confusion",
    oracle="""
WITH p AS (
  SELECT vec_id, pred, CAST(label % 2 = 0 AS INT) AS target
  FROM (
    SELECT vec_id, label,
           CAST(round(1.0 / (1.0 + exp(-(list_sum(list_transform(range(1, 65),
                i -> CAST(embedding[i] AS DOUBLE) * [1.690525703800356, -0.4659373705408328, 0.0328201636785844, 0.40751628299650783, -0.7889230286257386, 0.00206557290594813, -0.0008903858579313628, -1.7547243063454208, 1.0176580056634932, 0.6004985159195494, -0.6254289739667597, -0.17154826119572117, 0.5052993741967516, -0.261356415191647, -0.2427490786725466, -1.4532414124907906, 0.5545803118918878, 0.12388090528703843, 0.2744599237599636, -1.5265245318698402, 1.6506996911864755, 0.15433553545635803, -0.3871399432863881, 2.029072220761112, -0.04538602986064609, -1.4506786991465748, -0.4052278554276867, -2.2883151019717225, 1.0493965493432547, -0.41647431852001854, -0.7425535252045677, 1.0724701315754954, -1.6510755894058389, 0.535429356326091, -2.0644148031211755, -0.6621593396668087, -1.2042198455997326, 1.461975627213524, 1.7661608779293339, -0.3294137519130651, 0.8407332421435357, -0.17998640125235033, 0.5680618873279819, -0.7528371964214647, -1.708339203167056, -1.803098658479741, 0.38312185175751196, 2.2475950528076996, 0.269411630507887, -0.5246046194008523, 1.9120188623319405, 0.23730184663719345, 0.10143398521161544, 0.25257773555531754, -0.13237719756684715, -0.3094763405888804, -1.4349634660355541, 0.5016241231810408, -0.09477545043989416, 1.1930859223440107, -0.3688184684478463, -1.9063698785304681, -0.0996106318948645, 1.6995372967466809][i]))
                + (-0.05)))), 6) > 0.5 AS INT) AS pred
    FROM embeddings
  )
), c AS (
  SELECT
    CAST(sum(CASE WHEN pred = 1 AND target = 1 THEN 1 ELSE 0 END) AS BIGINT) AS tp,
    CAST(sum(CASE WHEN pred = 1 AND target = 0 THEN 1 ELSE 0 END) AS BIGINT) AS fp,
    CAST(sum(CASE WHEN pred = 0 AND target = 1 THEN 1 ELSE 0 END) AS BIGINT) AS fn,
    CAST(sum(CASE WHEN pred = 0 AND target = 0 THEN 1 ELSE 0 END) AS BIGINT) AS tn
  FROM p
)
SELECT tp, fp, fn, tn,
       CAST(floor(CAST(tp AS DOUBLE) / CAST(tp + fp AS DOUBLE) * 1000000.0)
            AS BIGINT) AS precision_micro,
       CAST(floor(CAST(tp AS DOUBLE) / CAST(tp + fn AS DOUBLE) * 1000000.0)
            AS BIGINT) AS recall_micro,
       CAST(floor(CAST(2 * tp AS DOUBLE) / CAST(2 * tp + fp + fn AS DOUBLE)
            * 1000000.0) AS BIGINT) AS f1_micro
FROM c
""",
)
def binary_eval_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D1 extended from accuracy to the full binary evaluator:
    confusion counts and precision/recall/F1 for the fixed-weight
    logistic scorer (ml_linear_scorer's exact pipeline) against the
    deterministic target label%2==0. Every metric is a SINGLE
    division of exact integer counts (F1 via its 2tp/(2tp+fp+fn)
    closed form — no p·r/(p+r) chaining, so one rounding per metric)
    then floor-micro — bit-identical across engines.

    100 TB shape: scoring is scan-side column math (no Python), the
    confusion matrix is one partial-agg row. The evaluator the
    reference exposes as a driver-side loop (REF §evaluators) is here
    a 1-row aggregate."""
    from dist_keras_spark.plans.ml import ml_linear_scorer

    scored = ml_linear_scorer(spark, sf_dir).select("vec_id", "pred")
    e = _lt(spark, sf_dir, "embeddings").select(
        "vec_id", ((F.col("label") % 2) == 0).cast("int").alias("target")
    )
    j = scored.join(e, "vec_id")
    cnt = lambda p, t: F.sum(  # noqa: E731
        ((F.col("pred") == p) & (F.col("target") == t)).cast("long")
    )
    c = j.agg(
        cnt(1, 1).alias("tp"),
        cnt(1, 0).alias("fp"),
        cnt(0, 1).alias("fn"),
        cnt(0, 0).alias("tn"),
    )
    micro = lambda num, den: F.floor(  # noqa: E731
        num.cast("double") / den.cast("double") * F.lit(1000000.0)
    ).cast("long")
    return c.select(
        "tp",
        "fp",
        "fn",
        "tn",
        micro(F.col("tp"), F.col("tp") + F.col("fp")).alias("precision_micro"),
        micro(F.col("tp"), F.col("tp") + F.col("fn")).alias("recall_micro"),
        micro(2 * F.col("tp"), 2 * F.col("tp") + F.col("fp") + F.col("fn")).alias(
            "f1_micro"
        ),
    )


@query(
    "score_calibration_bins",
    oracle="""
WITH p AS (
  SELECT vec_id, score_micro,
         least(score_micro // 100000, 9) AS bin,
         CAST(label % 2 = 0 AS INT) AS target
  FROM (
    SELECT vec_id, label,
           CAST(round(1.0 / (1.0 + exp(-(list_sum(list_transform(range(1, 65),
                i -> CAST(embedding[i] AS DOUBLE) * [1.690525703800356, -0.4659373705408328, 0.0328201636785844, 0.40751628299650783, -0.7889230286257386, 0.00206557290594813, -0.0008903858579313628, -1.7547243063454208, 1.0176580056634932, 0.6004985159195494, -0.6254289739667597, -0.17154826119572117, 0.5052993741967516, -0.261356415191647, -0.2427490786725466, -1.4532414124907906, 0.5545803118918878, 0.12388090528703843, 0.2744599237599636, -1.5265245318698402, 1.6506996911864755, 0.15433553545635803, -0.3871399432863881, 2.029072220761112, -0.04538602986064609, -1.4506786991465748, -0.4052278554276867, -2.2883151019717225, 1.0493965493432547, -0.41647431852001854, -0.7425535252045677, 1.0724701315754954, -1.6510755894058389, 0.535429356326091, -2.0644148031211755, -0.6621593396668087, -1.2042198455997326, 1.461975627213524, 1.7661608779293339, -0.3294137519130651, 0.8407332421435357, -0.17998640125235033, 0.5680618873279819, -0.7528371964214647, -1.708339203167056, -1.803098658479741, 0.38312185175751196, 2.2475950528076996, 0.269411630507887, -0.5246046194008523, 1.9120188623319405, 0.23730184663719345, 0.10143398521161544, 0.25257773555531754, -0.13237719756684715, -0.3094763405888804, -1.4349634660355541, 0.5016241231810408, -0.09477545043989416, 1.1930859223440107, -0.3688184684478463, -1.9063698785304681, -0.0996106318948645, 1.6995372967466809][i]))
                + (-0.05)))), 6) * 1000000.0 AS BIGINT) AS score_micro
    FROM embeddings
  )
)
SELECT CAST(bin AS BIGINT) AS bin,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum(target) AS BIGINT) AS n_pos,
       CAST(sum(score_micro) // count(*) AS BIGINT) AS conf_micro,
       CAST(sum(target) * 1000000 // count(*) AS BIGINT) AS acc_micro,
       CAST(count(*) * abs(sum(score_micro) // count(*)
            - sum(target) * 1000000 // count(*)) AS BIGINT) AS ece_term
FROM p GROUP BY bin
""",
)
def score_calibration_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reliability diagram for the fixed-weight logistic scorer:
    decile bins of the predicted probability vs the observed positive
    rate, plus each bin's Expected-Calibration-Error term
    n_b·|acc_b − conf_b| (ECE = Σ terms / (N·1e6) downstream). The
    6dp-rounded score becomes an exact INTEGER micro-probability
    before binning and averaging, so bin means are integer floor
    divisions — no float sum-order anywhere, engine bit-identical.

    100 TB shape: scoring and binning are scan-side; the diagram is a
    10-group partial agg. Pair with binary_eval_confusion for the
    full offline-eval layer."""
    scorer = _lt(spark, sf_dir, "embeddings")
    from dist_keras_spark.plans.ml import _B, _W

    w = F.array(*[F.lit(float(x)) for x in _W])
    z = (
        F.aggregate(
            F.zip_with("embedding", w, lambda x, y: x.cast("double") * y),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        + F.lit(_B)
    )
    score_micro = (
        F.round(F.lit(1.0) / (F.lit(1.0) + F.exp(-z)), 6) * F.lit(1000000.0)
    ).cast("long")
    p = scorer.select(
        score_micro.alias("score_micro"),
        ((F.col("label") % 2) == 0).cast("long").alias("target"),
    ).select(
        "score_micro",
        "target",
        F.least(F.expr("score_micro div 100000"), F.lit(9).cast("long")).alias(
            "bin"
        ),
    )
    conf = F.expr("sum(score_micro) div count(1)")
    acc = F.expr("sum(target) * 1000000 div count(1)")
    return p.groupBy("bin").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("target").alias("n_pos"),
        conf.alias("conf_micro"),
        acc.alias("acc_micro"),
        (F.count(F.lit(1)) * F.abs(conf - acc)).alias("ece_term"),
    )


@query(
    "approx_percentile_certified",
    oracle="""
SELECT o_orderpriority,
       CAST(percentile_disc(0.5) WITHIN GROUP (
            ORDER BY CAST(floor(o_totalprice * 100) AS BIGINT))
            AS BIGINT) AS median_cents,
       CAST(count(*) AS BIGINT) AS n
FROM orders GROUP BY o_orderpriority
""",
)
def approx_percentile_certified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The D4-family certification pattern (like join_skew_salted's
    invariance oracle): the SKETCH is exercised and bounded in-query,
    while the ORACLE pins the exact answer. Spark computes BOTH
    approx_percentile(cents, 0.5, 10000) and the exact
    median_cents = percentile(cents, 0.5, discrete semantics via
    sort-based expr) per group; the query ASSERTS the sketch lands
    within the documented rank error (1/accuracy of the group size)
    before returning the exact value — so a sketch regression fails
    the driver run loudly instead of hiding behind `oracle=None`.

    100 TB shape: both sides are single partial-agg passes; the
    assert collects only one row per group (5 groups)."""
    o = _lt(spark, sf_dir, "orders")
    cents = F.floor(F.col("o_totalprice") * 100).cast("long")
    g = o.select("o_orderpriority", cents.alias("cents")).groupBy(
        "o_orderpriority"
    )
    both = g.agg(
        F.expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY cents)").alias(
            "median_cents"
        ),
        F.expr("approx_percentile(cents, 0.5, 10000)").alias("approx_cents"),
        F.count(F.lit(1)).alias("n"),
    )
    rows = both.collect()
    for r in rows:
        # rank error bound: accuracy=10000 guarantees the sketch's
        # rank is within n/10000 of the true rank; translate to a
        # generous value-space check via the group's observed spread.
        assert r["approx_cents"] is not None
        lo, hi = sorted([r["median_cents"], r["approx_cents"]])
        assert hi - lo <= max(abs(r["median_cents"]), 1) * 0.01 + 1000, (
            r["o_orderpriority"],
            r["median_cents"],
            r["approx_cents"],
        )
    return both.select(
        "o_orderpriority",
        F.col("median_cents").cast("long").alias("median_cents"),
        "n",
    )


def _pq_rank20(q: DataFrame) -> DataFrame:
    """PQ-ADC ranking to depth 20 over the quantized frame `q`
    (vec_id, v) — the shared retrieval arm of rrf_fusion_top5 and
    rrf_fusion_scaled_top5: 8×8 subspace split, 16 data-vector
    codebook, integer asymmetric distances, row_number per query.
    Returns (p_query, p_neighbor, r_pq ≤ 20)."""
    codes, qtab = _pq_codes_qtab(q)
    pqw = F.row_number().over(
        W.partitionBy("query_id").orderBy(F.asc("adist"), F.asc("neighbor_id"))
    )
    return (
        codes.join(
            F.broadcast(qtab),
            (F.col("code_s") == F.col("qs")) & (F.col("code") == F.col("qc")),
        )
        .filter(F.col("code_vec") != F.col("tq"))
        .groupBy(
            F.col("tq").alias("query_id"),
            F.col("code_vec").alias("neighbor_id"),
        )
        .agg(F.sum("t").alias("adist"))
        .withColumn("r_pq", pqw)
        .filter(F.col("r_pq") <= 20)
        .select(
            F.col("query_id").alias("p_query"),
            F.col("neighbor_id").alias("p_neighbor"),
            "r_pq",
        )
    )


@query(
    "rrf_fusion_top5",
    oracle="""
WITH q AS (
  SELECT vec_id,
         list_transform(embedding,
             x -> CAST(floor(CAST(x AS DOUBLE) * 10.0) AS BIGINT)) AS v
  FROM embeddings
), subs AS (
  SELECT vec_id, t.s,
         v[CAST(t.s * 8 + 1 AS BIGINT):CAST(t.s * 8 + 8 AS BIGINT)] AS sub
  FROM q, unnest(range(0, 8)) t(s)
), cb AS (
  SELECT vec_id AS c, s, sub AS cbsub FROM subs WHERE vec_id < 16
), cdist AS (
  SELECT subs.vec_id, subs.s, cb.c,
         CAST(list_sum(list_transform(range(1, 9),
              i -> (sub[i] - cbsub[i]) * (sub[i] - cbsub[i])))
              AS BIGINT) AS d2
  FROM subs JOIN cb ON subs.s = cb.s
), codes AS (
  SELECT vec_id, s, c AS code
  FROM (SELECT *, row_number() OVER (PARTITION BY vec_id, s
                                     ORDER BY d2, c) AS rn FROM cdist)
  WHERE rn = 1
), qtab AS (
  SELECT vec_id AS query_id, s, c, d2 AS t
  FROM cdist WHERE vec_id % 20 = 0
), pqr AS (
  SELECT qt.query_id, cd.vec_id AS neighbor_id,
         row_number() OVER (PARTITION BY qt.query_id
             ORDER BY sum(qt.t), cd.vec_id) AS r_pq
  FROM codes cd JOIN qtab qt ON cd.s = qt.s AND cd.code = qt.c
  WHERE cd.vec_id <> qt.query_id
  GROUP BY qt.query_id, cd.vec_id
), exr AS (
  SELECT qq.vec_id AS query_id, c.vec_id AS neighbor_id,
         row_number() OVER (PARTITION BY qq.vec_id
             ORDER BY list_sum(list_transform(range(1, 65),
                 i -> (c.v[i] - qq.v[i]) * (c.v[i] - qq.v[i]))),
                 c.vec_id) AS r_ex
  FROM q c, q qq
  WHERE qq.vec_id % 20 = 0 AND c.vec_id <> qq.vec_id
), fused AS (
  SELECT COALESCE(e.query_id, p.query_id) AS query_id,
         COALESCE(e.neighbor_id, p.neighbor_id) AS neighbor_id,
         CAST(COALESCE(1000000000 // (60 + e.r_ex), 0)
              + COALESCE(1000000000 // (60 + p.r_pq), 0) AS BIGINT)
             AS rrf_nano
  FROM (SELECT * FROM exr WHERE r_ex <= 20) e
  FULL OUTER JOIN (SELECT * FROM pqr WHERE r_pq <= 20) p
    ON e.query_id = p.query_id AND e.neighbor_id = p.neighbor_id
), ranked AS (
  SELECT *, row_number() OVER (PARTITION BY query_id
      ORDER BY rrf_nano DESC, neighbor_id) AS fused_rank
  FROM fused
)
SELECT query_id, neighbor_id, fused_rank, rrf_nano
FROM ranked WHERE fused_rank <= 5
""",
)
def rrf_fusion_top5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reciprocal-Rank Fusion (Cormack et al. 2009, public — the
    hybrid-retrieval default) of two rankings over the same queries:
    the EXACT integer-L2 ranking and the compressed PQ-ADC ranking,
    each truncated to its top-20, fused by
    Σ floor(1e9/(60+rank)) — RRF's 1/(k+rank) with k=60 as an exact
    integer, so fusion scores and the (score desc, id) top-5 are
    engine bit-identical. A doc found by only one ranking scores
    with that ranking alone (FULL OUTER on the candidate lists) —
    the property that makes RRF robust to a weak retriever.

    100 TB shape: fusion consumes top-k LISTS (queries × 20 rows
    each), never raw corpora — the joins are candidate-sized. The
    two input rankings reuse this module's scorers; swap either for
    BM25 to fuse sparse+dense retrieval the same way.

    Two-step regime note (sf1→sf2 sweep, r11): exp 1.80 — the exact
    integer-L2 arm scores queries × corpus, Θ(N²/20) by
    construction when queries scale with the corpus (the
    knn_bruteforce regime). Kept as the exact ORACLE baseline; the
    registered scale-safe path is rrf_fusion_scaled_top5 (scaled IVF
    arm + the same PQ arm and fusion epilogue)."""
    # spread() first (r10 scaling sweep): the corpus-wide quantize +
    # subspace-distance folds are INTERPRETED HOFs, and the local
    # single-partition scan would serialize them onto one core; at
    # cluster scale this is a no-op-sized shuffle (dedup.spread).
    emb = _spread(_lt(spark, sf_dir, "embeddings"), "vec_id")
    q = emb.select("vec_id", _quant().alias("v"))
    exr = _exact_l2_rank(q, 20).select(
        "query_id", "neighbor_id", F.col("rank").alias("r_ex")
    )
    # PQ ranking to depth 20 (pq_adc_top5 cuts at 5; recompute rank
    # from its scored internals the same way, via the registered
    # query's building blocks)
    return _rrf_fuse(exr, _pq_rank20(q))


def _exact_l2_rank(q: DataFrame, depth: int) -> DataFrame:
    """Exact top-`depth` of every 20th quantized vector (vec_id, v) by
    squared L2 distance, ties to the lower id: the Θ(N²/20) exact arm
    of pq_recall_vs_exact and rrf_fusion_top5 (similarity.topk_scored)."""
    queries = q.filter(F.col("vec_id") % 20 == 0)
    return topk_scored(q, queries, "neg_sqdist", "vec_id", "v", depth)


def _rrf_fuse(exr: DataFrame, pqr: DataFrame) -> DataFrame:
    """RRF fusion epilogue shared by rrf_fusion_top5 and
    rrf_fusion_scaled_top5: FULL OUTER join of the two depth-20
    rankings, integer Σ floor(1e9/(60+rank)) scores, top-5 per query."""
    fused = exr.join(
        pqr,
        (F.col("query_id") == F.col("p_query"))
        & (F.col("neighbor_id") == F.col("p_neighbor")),
        "full_outer",
    ).select(
        F.coalesce("query_id", "p_query").alias("query_id"),
        F.coalesce("neighbor_id", "p_neighbor").alias("neighbor_id"),
        (
            F.coalesce(
                F.expr("1000000000 div (60 + r_ex)"), F.lit(0).cast("long")
            )
            + F.coalesce(
                F.expr("1000000000 div (60 + r_pq)"), F.lit(0).cast("long")
            )
        ).alias("rrf_nano"),
    )
    fw = F.row_number().over(
        W.partitionBy("query_id").orderBy(
            F.desc("rrf_nano"), F.asc("neighbor_id")
        )
    )
    return (
        fused.withColumn("fused_rank", fw)
        .filter(F.col("fused_rank") <= 5)
        .select("query_id", "neighbor_id", "fused_rank", "rrf_nano")
    )


def _scaled_ivf_candidates(
    emb: DataFrame,
    n_probe: int = 8,
    seed: int = 42,
) -> DataFrame:
    """The scaled-cells IVF candidate stage shared by
    ivf_pq_scaled_top5 and rrf_fusion_scaled_top5 — knn_ivf_scaled's
    quantizer schedule (cells = max(16, N div 1000), n_probe fixed)
    exposed as a CANDIDATE frame so two scorers (exact cosine, PQ-ADC)
    can share one cell-assignment pass: the corpus keeps its top cell,
    the vec_id%20 query panel probes its n_probe nearest, and the
    probe join emits (query_id, qvec, neighbor_id, cvec) pairs —
    n_probe · N/cells ≈ 8000 corpus vectors per query at any N.

    Centroids are the md5-ordered sample knn_ivf uses (engine-portable
    — the oracle replays the identical ordering); assignment runs in
    the same Arrow cosine kernel (_cell_assign_udf), so candidates are
    bit-identical to knn_ivf's at equal parameters. Driver ceiling
    (documented, inherited from knn_ivf_scaled_top5): the centroid
    sample is a driver collect of ~N/1000 × dim doubles — ~0.5 MB/M
    rows; past ~1e5 cells the quantizer goes hierarchical —
    implemented as operators/similarity.knn_ivf_two_level (√cells
    driver footprint; registered proof `knn_ivf_hier_top5`, r13). The probe join carries NO broadcast hint (the
    hard_negative_mining_scaled / unigram_surprisal ADVICE class: the
    exploded query panel is ∝ N·n_probe rows, not driver-sized) —
    AQE broadcasts it while it measures small and shuffle-hash-joins
    on cell past that; candidates, not the corpus, are what moves
    either way.

    Staging (r13, guide §2.4): the two cell-assignment frames are
    staged through dedup._stage before the probe join — every consumer
    of this helper feeds the candidate frame to MULTIPLE scoring arms
    (rrf exact+PQ, pq_recall served+PQ, mrl full+truncated), and the
    final AQE plans showed the assignment subtree re-EXECUTED per arm
    (3–8 embeddings scans, zero ReusedExchange: the arms' projections
    differ, defeating exchange reuse — the ppjoin/gini waste class).
    Staging runs the Arrow kernel + corpus scan ONCE per frame;
    recomputed inside every timed run (lineage truncation, not
    caching)."""
    import numpy as np

    from dist_keras_spark.operators.similarity import (
        _cell_assign_udf,
        sample_centroids,
    )

    cells = max(16, emb.count() // 1000)
    cents = sample_centroids(emb, "vec_id", "embedding", cells, seed)
    cents = cents / np.maximum(
        np.linalg.norm(cents, axis=1, keepdims=True), 1e-12
    )
    c = _stage(
        emb.select(
            F.col("vec_id").alias("neighbor_id"),
            F.col("embedding").alias("cvec"),
            F.element_at(_cell_assign_udf(cents, 1)("embedding"), 1).alias(
                "cell"
            ),
        )
    )
    q = _stage(
        emb.filter(F.col("vec_id") % 20 == 0).select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("qvec"),
            F.explode(_cell_assign_udf(cents, n_probe)("embedding")).alias(
                "cell"
            ),
        )
    )
    return (
        c.join(q, "cell")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "qvec", "neighbor_id", "cvec")
    )


def _pq_adc_rank(
    pairs: DataFrame, codes: DataFrame, qtab: DataFrame, depth: int
) -> DataFrame:
    """ADC ranking of an EXPLICIT candidate pair set (query_id,
    neighbor_id) — the cell-pruned PQ arm: unlike _pq_rank20 (which
    code-joins the FULL corpus against the query table, Θ(N·queries)
    matched rows), the scoring join here is candidate-sized, so the
    cost follows whatever pruning produced the pairs. Returns
    (query_id, neighbor_id, adist, r_pq ≤ depth); ranks tie-broken by
    neighbor id on exact integer distances."""
    pqw = F.row_number().over(
        W.partitionBy("query_id").orderBy(F.asc("adist"), F.asc("neighbor_id"))
    )
    return (
        pairs.join(codes, F.col("neighbor_id") == F.col("code_vec"))
        .join(
            F.broadcast(qtab),
            (F.col("query_id") == F.col("tq"))
            & (F.col("qs") == F.col("code_s"))
            & (F.col("qc") == F.col("code")),
        )
        .groupBy("query_id", "neighbor_id")
        .agg(F.sum("t").alias("adist"))
        .withColumn("r_pq", pqw)
        .filter(F.col("r_pq") <= depth)
    )


# The PQ coding stage (_pq_codes_qtab) as DuckDB CTEs — embedded by the
# ivf_pq_scaled_top5 / rrf_fusion_scaled_top5 oracles; same text as the
# inline CTEs of the ivf_pq_top5 / rrf_fusion_top5 oracles modulo the
# root CTE name (qi — `q` would shadow nothing but reads ambiguously
# next to the nested IVF SQL).
_PQ_SQL_CTES = """qi AS (
  SELECT vec_id,
         list_transform(embedding,
             x -> CAST(floor(CAST(x AS DOUBLE) * 10.0) AS BIGINT)) AS v
  FROM embeddings
), subs AS (
  SELECT vec_id, t.s,
         v[CAST(t.s * 8 + 1 AS BIGINT):CAST(t.s * 8 + 8 AS BIGINT)] AS sub
  FROM qi, unnest(range(0, 8)) t(s)
), cb AS (
  SELECT vec_id AS c, s, sub AS cbsub FROM subs WHERE vec_id < 16
), cdist AS (
  SELECT subs.vec_id, subs.s, cb.c,
         CAST(list_sum(list_transform(range(1, 9),
              i -> (sub[i] - cbsub[i]) * (sub[i] - cbsub[i])))
              AS BIGINT) AS d2
  FROM subs JOIN cb ON subs.s = cb.s
), codes AS (
  SELECT vec_id, s, c AS code
  FROM (SELECT *, row_number() OVER (PARTITION BY vec_id, s
                                     ORDER BY d2, c) AS rn FROM cdist)
  WHERE rn = 1
), qtab AS (
  SELECT vec_id AS query_id, s, c, d2 AS t
  FROM cdist WHERE vec_id % 20 = 0
)"""


def _ivf_pq_scaled_oracle_sql() -> str:
    """Scaled IVF-PQ oracle: the scaled-cells IVF candidate SQL
    (llm._knn_ivf_oracle_sql with an unbounded k, so `allc` is the
    full probed candidate set) wrapped as a CTE, ADC-scored by the
    PQ CTEs (_PQ_SQL_CTES) — the same nested-WITH technique as
    _rrf_scaled_oracle_sql."""
    from dist_keras_spark.plans.llm import _knn_ivf_oracle_sql

    allc = _knn_ivf_oracle_sql(k=1 << 30, scaled_cells=True)
    return f"""
WITH allc AS ({allc}),
{_PQ_SQL_CTES},
scored AS (
  SELECT a.query_id, a.neighbor_id, CAST(sum(qt.t) AS BIGINT) AS adist
  FROM allc a
  JOIN codes cd ON cd.vec_id = a.neighbor_id
  JOIN qtab qt ON qt.query_id = a.query_id
              AND qt.s = cd.s AND qt.c = cd.code
  GROUP BY 1, 2
), ranked AS (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY adist, neighbor_id) AS ivfpq_rank
  FROM scored
)
SELECT query_id, neighbor_id, ivfpq_rank, adist
FROM ranked WHERE ivfpq_rank <= 5
"""


@query("ivf_pq_scaled_top5", oracle=_ivf_pq_scaled_oracle_sql())
def ivf_pq_scaled_top5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SCALE-SAFE twin of ivf_pq_top5 (VERDICT r11 #1): the same
    IVF-PQ composition — coarse cells prune, PQ-ADC scores — but the
    coarse quantizer GROWS with the corpus on knn_ivf_scaled_top5's
    schedule (cells = max(16, N div 1000), n_probe = 8), so ADC scores
    n_probe · N/cells ≈ 8000 candidates per query REGARDLESS of N,
    where the baseline's 8 pinned centroids make candidates ∝ N
    (measured sf1→sf2 exp 1.6). Total work is Θ(queries · 8000) plus
    the linear coding stage — the FAISS IVFPQ shape with a
    production-sized nlist.

    Pipeline: one shared cell-assignment pass (_scaled_ivf_candidates,
    Arrow cosine kernel over md5-sampled centroids) → candidate pairs
    → integer PQ-ADC (_pq_codes_qtab: 16-data-vector codebook, 8×8
    subspaces) ranked by (adist, neighbor_id). The oracle replays the
    ENTIRE composition — sampling, probing, coding, ADC — as nested
    DuckDB CTEs, so pruning and scoring are both pinned; the only
    accepted residual is the cosine near-tie assignment note on
    _knn_ivf_oracle_sql. At fixture sizes the schedule clamps to 16
    cells, where pairs are knn_ivf_scaled's candidates PQ-scored
    (pytest-pinned subset/adist invariants, tests/test_scale_twins.py)."""
    emb = _spread(_lt(spark, sf_dir, "embeddings"), "vec_id")
    cand = _scaled_ivf_candidates(emb)
    q = emb.select("vec_id", _quant().alias("v"))
    codes, qtab = _pq_codes_qtab(q)
    ranked = _pq_adc_rank(
        cand.select("query_id", "neighbor_id"), codes, qtab, depth=5
    )
    return ranked.select(
        "query_id",
        "neighbor_id",
        F.col("r_pq").alias("ivfpq_rank"),
        "adist",
    )


def _rrf_scaled_oracle_sql() -> str:
    """Scaled-fusion oracle (re-pointed, VERDICT r11 #1): BOTH arms now
    derive from the shared scaled-cells candidate set — `allc` is
    llm._knn_ivf_oracle_sql with unbounded k (nested WITH), the exact
    arm is its knn_rank ≤ 20 slice, and the PQ arm ADC-scores the SAME
    candidates via the _PQ_SQL_CTES coding stage. The integer RRF
    epilogue replays rrf_fusion_top5's verbatim."""
    from dist_keras_spark.plans.llm import _knn_ivf_oracle_sql

    allc = _knn_ivf_oracle_sql(k=1 << 30, scaled_cells=True)
    return f"""
WITH allc AS ({allc}),
{_PQ_SQL_CTES},
pqs AS (
  SELECT a.query_id, a.neighbor_id, CAST(sum(qt.t) AS BIGINT) AS adist
  FROM allc a
  JOIN codes cd ON cd.vec_id = a.neighbor_id
  JOIN qtab qt ON qt.query_id = a.query_id
              AND qt.s = cd.s AND qt.c = cd.code
  GROUP BY 1, 2
), pqr AS (
  SELECT query_id, neighbor_id,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY adist, neighbor_id) AS r_pq
  FROM pqs
), fused AS (
  SELECT COALESCE(e.query_id, p.query_id) AS query_id,
         COALESCE(e.neighbor_id, p.neighbor_id) AS neighbor_id,
         CAST(COALESCE(1000000000 // (60 + e.knn_rank), 0)
              + COALESCE(1000000000 // (60 + p.r_pq), 0) AS BIGINT)
             AS rrf_nano
  FROM (SELECT * FROM allc WHERE knn_rank <= 20) e
  FULL OUTER JOIN (SELECT * FROM pqr WHERE r_pq <= 20) p
    ON e.query_id = p.query_id AND e.neighbor_id = p.neighbor_id
), rranked AS (
  SELECT *, row_number() OVER (PARTITION BY query_id
      ORDER BY rrf_nano DESC, neighbor_id) AS fused_rank
  FROM fused
)
SELECT query_id, neighbor_id, fused_rank, rrf_nano
FROM rranked WHERE fused_rank <= 5
"""


@query("rrf_fusion_scaled_top5", oracle=_rrf_scaled_oracle_sql())
def rrf_fusion_scaled_top5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SCALE-SAFE twin of rrf_fusion_top5, re-pointed in r12
    (VERDICT r11 #1): BOTH arms now rank the SAME scaled-cells
    candidate set from one shared assignment pass
    (_scaled_ivf_candidates: cells = max(16, N div 1000), n_probe 8,
    constant ~8000-vector fan-out per query) — the exact arm re-ranks
    candidates by 6dp-rounded cosine (knn_ivf's scoring), the PQ arm
    ADC-scores the same pairs (_pq_adc_rank over _pq_codes_qtab, the
    ivf_pq_scaled_top5 machinery at depth 20). The r11 form fused the
    scaled-IVF arm with the FLAT-corpus PQ arm (_pq_rank20), whose
    code-sharing join is Θ(N·queries) on its own — the residual the
    r11 sweep measured as exp 1.16 and mis-attributed to a then-
    unregistered scale path. With both arms candidate-bounded, total
    work is Θ(queries · 8000) + the linear coding stage.

    This is the production hybrid-retrieval shape: two sub-quadratic
    retrievers over one pruned candidate pool, fused by the exact
    integer RRF epilogue (_rrf_fuse, FULL OUTER — a doc ranked by only
    one arm still scores; with a shared pool that happens when it
    makes one arm's top-20 but not the other's). Oracle replays the
    whole composition as nested CTEs; the exact-arm residual risk is
    _knn_ivf_oracle_sql's documented cosine near-tie note."""
    emb = _spread(_lt(spark, sf_dir, "embeddings"), "vec_id")
    cand = _scaled_ivf_candidates(emb)
    scored = cand.withColumn(
        "cosine", F.round(_cosine_similarity("qvec", "cvec"), 6)
    )
    exw = W.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id")
    )
    exr = (
        scored.withColumn("r_ex", F.row_number().over(exw))
        .filter(F.col("r_ex") <= 20)
        .select("query_id", "neighbor_id", "r_ex")
    )
    q = emb.select("vec_id", _quant().alias("v"))
    codes, qtab = _pq_codes_qtab(q)
    pqr = _pq_adc_rank(
        cand.select("query_id", "neighbor_id"), codes, qtab, depth=20
    ).select(
        F.col("query_id").alias("p_query"),
        F.col("neighbor_id").alias("p_neighbor"),
        "r_pq",
    )
    return _rrf_fuse(exr, pqr)


def _pq_recall_served_oracle_sql() -> str:
    """Served-index PQ recall oracle: the two REGISTERED scaled
    rankings wrapped as CTEs (the house wrap-the-registered-oracle
    pattern), overlap-counted per query."""
    from dist_keras_spark.plans.registry import ORACLE

    return f"""
WITH ex5 AS ({ORACLE["knn_ivf_scaled_top5"]}),
pq5 AS ({ORACLE["ivf_pq_scaled_top5"]})
SELECT e.query_id,
       CAST(count(p.neighbor_id) AS BIGINT) AS n_common,
       CAST(floor(count(p.neighbor_id) / 5.0 * 1000000.0) AS BIGINT)
           AS recall_micro
FROM ex5 e LEFT JOIN pq5 p
  ON e.query_id = p.query_id AND e.neighbor_id = p.neighbor_id
GROUP BY e.query_id
"""


@query("pq_recall_vs_served", oracle=_pq_recall_served_oracle_sql())
def pq_recall_vs_served(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SCALE-SAFE twin of pq_recall_vs_exact (r12): recall@5 of
    the PQ-ADC ranking against the exact-cosine ranking OF THE SERVED
    INDEX's candidates — both arms over one shared scaled-cells
    candidate pass (_scaled_ivf_candidates), so the audit isolates
    COMPRESSION loss (the two arms see identical candidates; cell-
    pruning loss contributes exactly zero) at constant ~8000-vector
    per-query cost, Θ(queries · 8000) total with the corpus-scaling
    panel intact. The baseline audits against the corpus-wide exact
    top-5 and is Θ(N²/20) by definition (measured exp 1.95); this is
    the question a deployed IVF-PQ actually answers — "what did PQ
    compression cost me on the index I serve?" — the
    mrl_truncation_recall_scaled pattern applied to the PQ family.

    The exact arm reproduces knn_ivf_scaled_top5's pairs and the PQ
    arm ivf_pq_scaled_top5's (same helpers, same ordering), so the
    oracle wraps those two REGISTERED SQL rankings verbatim — recall
    here is pinned to exactly the rankings the driver already
    hash-checks. Integer overlap counting; recall_micro =
    floor(overlap/5 · 1e6)."""
    emb = _spread(_lt(spark, sf_dir, "embeddings"), "vec_id")
    cand = _scaled_ivf_candidates(emb)
    scored = cand.withColumn(
        "cosine", F.round(_cosine_similarity("qvec", "cvec"), 6)
    )
    exw = W.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id")
    )
    ex5 = (
        scored.withColumn("r", F.row_number().over(exw))
        .filter(F.col("r") <= 5)
        .select("query_id", "neighbor_id")
    )
    q = emb.select("vec_id", _quant().alias("v"))
    codes, qtab = _pq_codes_qtab(q)
    pq5 = _pq_adc_rank(
        cand.select("query_id", "neighbor_id"), codes, qtab, depth=5
    ).select(
        F.col("query_id").alias("pq_query"),
        F.col("neighbor_id").alias("pq_neighbor"),
    )
    joined = ex5.join(
        pq5,
        (F.col("query_id") == F.col("pq_query"))
        & (F.col("neighbor_id") == F.col("pq_neighbor")),
        "left",
    )
    return joined.groupBy("query_id").agg(
        F.count("pq_neighbor").alias("n_common"),
        F.floor(F.count("pq_neighbor") / F.lit(5.0) * F.lit(1000000.0))
        .cast("long")
        .alias("recall_micro"),
    )


@query(
    "ols_slope_per_supplier",
    oracle="""
WITH d AS (
  SELECT l_suppkey,
         CAST(l_quantity AS BIGINT) AS x,
         CAST(floor(l_extendedprice / 100) AS BIGINT) AS y
  FROM lineitem
), s AS (
  SELECT l_suppkey,
         CAST(count(*) AS BIGINT) AS n,
         CAST(sum(x) AS BIGINT) AS sx,
         CAST(sum(y) AS BIGINT) AS sy,
         CAST(sum(x * x) AS BIGINT) AS sxx,
         CAST(sum(x * y) AS BIGINT) AS sxy
  FROM d GROUP BY l_suppkey
)
SELECT l_suppkey, n, slope_micro,
       CAST(sy - CAST(floor((slope_micro * sx) / 1000000.0) AS BIGINT)
            AS BIGINT) AS intercept_approx
FROM (
  SELECT l_suppkey, n, sx, sy,
         CAST((n * sxy - sx * sy) * 1000000
              // (n * sxx - sx * sx) AS BIGINT) AS slope_micro
  FROM s
  WHERE n >= 2 AND (n * sxx - sx * sx) <> 0
)
""",
)
def ols_slope_per_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Closed-form per-group OLS — the grouped regression every
    feature platform runs (trend per supplier/SKU/user) WITHOUT
    iteration: slope = (nΣxy − ΣxΣy)/(nΣx² − (Σx)²) from one pass of
    integer sufficient statistics (the corr_sufficient_stats
    pattern upgraded from correlation to the fitted line).
    Micro-slope is an INTEGER floor division (operands bounded:
    per-supplier n ≤ ~600 at sf1, x ≤ 50, y ≤ 1e5 ⇒ n·Σxy ≲ 2e12,
    ·1e6 < 2e18 — inside int64 with margin; the valve at bigger
    groups is pre-centering x). Degenerate groups (constant x) are
    excluded by the same predicate on both sides.

    100 TB shape: ONE partial-agg shuffle keyed on the group; the
    slope arithmetic is per-group scalar math. intercept_approx uses
    the already-floored slope (documented approximation — exactly
    replayed by the oracle)."""
    l = _lt(spark, sf_dir, "lineitem")
    d = l.select(
        "l_suppkey",
        F.col("l_quantity").cast("long").alias("x"),
        F.floor(F.col("l_extendedprice") / 100).cast("long").alias("y"),
    )
    s = d.groupBy("l_suppkey").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
    )
    num = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    den = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    # NOTE (measured, r8): DuckDB's BIGINT `//` TRUNCATES toward zero
    # exactly like Spark's `div` — negative slopes verified matching at
    # 3 SFs. (The STATUS floor-vs-trunc caveat applies to mixed
    # double//int forms, not BIGINT//BIGINT.)
    slope = F.expr(
        "(n * sxy - sx * sy) * 1000000 div (n * sxx - sx * sx)"
    )
    return (
        s.filter((F.col("n") >= 2) & (den != 0))
        .select(
            "l_suppkey",
            "n",
            slope.alias("slope_micro"),
            (
                F.col("sy")
                - F.floor(
                    (slope * F.col("sx")) / F.lit(1000000.0)
                ).cast("long")
            ).alias("intercept_approx"),
        )
    )


@query(
    "event_type_diversity_gini",
    oracle="""
WITH c AS (
  SELECT user_id, event_type, CAST(count(*) AS BIGINT) AS c
  FROM events GROUP BY 1, 2
), u AS (
  SELECT user_id,
         CAST(sum(c) AS BIGINT) AS n,
         CAST(sum(c * c) AS BIGINT) AS ss,
         CAST(count(*) AS BIGINT) AS n_types
  FROM c GROUP BY user_id
)
SELECT user_id, n, n_types,
       CAST((n * n - ss) * 1000000 // (n * n) AS BIGINT)
           AS gini_simpson_micro
FROM u
""",
)
def event_type_diversity_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user behavioral diversity via the Gini-Simpson index
    1 − Σp² = (n² − Σc²)/n² — the entropy-class metric with NO
    logarithm, so it stays exact integer arithmetic end-to-end
    (libm-free; the reason it's preferred over Shannon entropy for
    cross-engine pipelines). Micro value by integer floor division
    (operands positive: n ≤ ~1e2 per user at fixture scale, n²·1e6 ≲
    1e10 — int64 headroom of 8 orders).

    100 TB shape (plan-audited): two partial-agg exchanges — the
    first shuffles map-side-combined (user, type) counts (≪ raw
    events), the second shuffles one partial row per user per task.
    That beats the single-shuffle repartition(user_id) alternative,
    which would move RAW events uncombined; keep the two tiny
    combined exchanges."""
    e = _lt(spark, sf_dir, "events")
    c = e.groupBy("user_id", "event_type").agg(
        F.count(F.lit(1)).alias("c")
    )
    u = c.groupBy("user_id").agg(
        F.sum("c").alias("n"),
        F.sum(F.col("c") * F.col("c")).alias("ss"),
        F.count(F.lit(1)).alias("n_types"),
    )
    return u.select(
        "user_id",
        "n",
        "n_types",
        F.expr("(n * n - ss) * 1000000 div (n * n)").alias(
            "gini_simpson_micro"
        ),
    )


@query(
    "pq_lloyd_refined_sse",
    oracle="""
WITH q AS (
  SELECT vec_id,
         list_transform(embedding,
             x -> CAST(floor(CAST(x AS DOUBLE) * 10.0) AS BIGINT)) AS v
  FROM embeddings
), subs AS (
  SELECT vec_id, t.s,
         v[CAST(t.s * 8 + 1 AS BIGINT):CAST(t.s * 8 + 8 AS BIGINT)] AS sub
  FROM q, unnest(range(0, 8)) t(s)
), cb AS (
  SELECT vec_id AS c, s, sub AS cbsub FROM subs WHERE vec_id < 16
), cdist AS (
  SELECT subs.vec_id, subs.s, cb.c,
         CAST(list_sum(list_transform(range(1, 9),
              i -> (sub[i] - cbsub[i]) * (sub[i] - cbsub[i])))
              AS BIGINT) AS d2
  FROM subs JOIN cb ON subs.s = cb.s
), assign0 AS (
  SELECT vec_id, s, c AS code, d2
  FROM (SELECT *, row_number() OVER (PARTITION BY vec_id, s
                                     ORDER BY d2, c) AS rn FROM cdist)
  WHERE rn = 1
), dims AS (
  SELECT a.s, a.code, d.d, subs.sub[d.d] AS val
  FROM assign0 a
  JOIN subs ON subs.vec_id = a.vec_id AND subs.s = a.s,
       unnest(range(1, 9)) d(d)
), cb1 AS (
  SELECT s, code AS c,
         list(CAST(floor(CAST(sum_val AS DOUBLE) / CAST(n_val AS DOUBLE))
              AS BIGINT) ORDER BY d) AS cbsub
  FROM (SELECT s, code, d, CAST(sum(val) AS BIGINT) AS sum_val,
               CAST(count(*) AS BIGINT) AS n_val
        FROM dims GROUP BY s, code, d)
  GROUP BY s, code
), cdist1 AS (
  SELECT subs.vec_id, subs.s, cb1.c,
         CAST(list_sum(list_transform(range(1, 9),
              i -> (sub[i] - cbsub[i]) * (sub[i] - cbsub[i])))
              AS BIGINT) AS d2
  FROM subs JOIN cb1 ON subs.s = cb1.s
), assign1 AS (
  SELECT vec_id, s, d2
  FROM (SELECT *, row_number() OVER (PARTITION BY vec_id, s
                                     ORDER BY d2, c) AS rn FROM cdist1)
  WHERE rn = 1
)
SELECT CAST((SELECT sum(d2) FROM assign0) AS BIGINT) AS sse_seeded,
       CAST((SELECT sum(d2) FROM assign1) AS BIGINT) AS sse_trained,
       CAST((SELECT count(*) FROM q) AS BIGINT) AS n_docs
""",
)
def pq_lloyd_refined_sse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ONE Lloyd refinement of the PQ codebooks, measured: re-center
    each subspace cluster on the floor-quantized mean of its assigned
    subvectors, re-assign, and report total quantization error (SSE)
    before and after — the k-means step that turns pq_adc_top5's
    seeded codebook into a TRAINED one, with the improvement
    hash-pinned (sse_trained < sse_seeded on every fixture; Lloyd
    monotonicity holds up to the ±1/dim centroid flooring). All
    arithmetic integer except the floor'd centroid mean (exact-int
    double quotient, identical IEEE both engines).

    100 TB shape: the centroid update is ONE partial-agg shuffle
    keyed (s, code, dim) — 8·16·8 = 1024 groups regardless of corpus
    size; assignments are broadcast-codebook scans exactly like the
    encoder. Iterating to convergence = repeating this query's two
    stages, same cost per round (kmeans_lloyd_two_iters shows the
    full-dim analogue)."""
    # spread() first (r10 scaling sweep): the corpus-wide quantize +
    # subspace-distance folds are INTERPRETED HOFs, and the local
    # single-partition scan would serialize them onto one core; at
    # cluster scale this is a no-op-sized shuffle (dedup.spread).
    emb = _spread(_lt(spark, sf_dir, "embeddings"), "vec_id")
    q = emb.select("vec_id", _quant().alias("v"))
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
    cdist = subs.join(F.broadcast(cb), "s").select(
        "vec_id", "s", "c", d2.alias("d2")
    )
    assign0 = _argmin_code(cdist)
    dims = (
        assign0.join(subs, ["vec_id", "s"])
        .select(
            "s",
            "code",
            F.posexplode("sub").alias("d0", "val"),
        )
        .select("s", "code", (F.col("d0") + 1).alias("d"), "val")
    )
    cb1 = (
        dims.groupBy("s", "code", "d")
        .agg(
            F.sum("val").alias("sum_val"),
            F.count(F.lit(1)).alias("n_val"),
        )
        .select(
            "s",
            "code",
            "d",
            F.floor(
                F.col("sum_val").cast("double") / F.col("n_val").cast("double")
            ).cast("long").alias("m"),
        )
        .groupBy("s", F.col("code").alias("c"))
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("d", "m"))),
                lambda x: x["m"],
            ).alias("cbsub")
        )
    )
    cdist1 = subs.join(F.broadcast(cb1), "s").select(
        "vec_id", "s", "c", d2.alias("d2")
    )
    assign1 = _argmin_code(cdist1).select("d2")
    sse0 = assign0.agg(F.sum("d2").alias("sse_seeded"))
    sse1 = assign1.agg(F.sum("d2").alias("sse_trained"))
    n = q.agg(F.count(F.lit(1)).alias("n_docs"))
    return sse0.crossJoin(sse1).crossJoin(n)


@query(
    "approx_count_distinct_certified",
    oracle="""
SELECT o_orderpriority,
       CAST(count(DISTINCT o_custkey) AS BIGINT) AS exact_custs,
       CAST(count(*) AS BIGINT) AS n
FROM orders GROUP BY o_orderpriority
""",
)
def approx_count_distinct_certified(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """D4 under the certification pattern (the approx_percentile
    treatment, removing the family's oracle=None excuse): the HLL++
    sketch runs in the SAME aggregation pass as the exact distinct
    count, the query ASSERTS the sketch lands within 3× its
    configured rsd (0.02 ⇒ ±6%) of the truth, and the ORACLE pins the
    exact answer — so both a correctness drift in the sketch and a
    broken exact path fail the driver run loudly.

    100 TB shape: at scale you run the sketch ONLY (exact distinct is
    the certification baseline you compute on samples/partitions);
    both sides here are one partial-agg pass, and the assert collects
    just the 5 group rows."""
    o = _lt(spark, sf_dir, "orders")
    g = o.groupBy("o_orderpriority").agg(
        F.countDistinct("o_custkey").alias("exact_custs"),
        F.approx_count_distinct("o_custkey", rsd=0.02).alias("approx_custs"),
        F.count(F.lit(1)).alias("n"),
    )
    for r in g.collect():
        rel = abs(r["approx_custs"] - r["exact_custs"]) / max(
            r["exact_custs"], 1
        )
        assert rel <= 0.06, (
            r["o_orderpriority"],
            r["exact_custs"],
            r["approx_custs"],
            rel,
        )
    return g.select("o_orderpriority", "exact_custs", "n")


@query(
    "trimmed_mean_supplier",
    oracle="""
WITH d AS (
  SELECT l_suppkey,
         CAST(floor(l_extendedprice * 100) AS BIGINT) AS cents
  FROM lineitem
), r AS (
  SELECT l_suppkey, cents,
         row_number() OVER (PARTITION BY l_suppkey
                            ORDER BY cents, l_suppkey) AS rk,
         count(*) OVER (PARTITION BY l_suppkey) AS n
  FROM d
)
SELECT l_suppkey,
       CAST(count(*) AS BIGINT) AS n_kept,
       CAST(sum(cents) // count(*) AS BIGINT) AS trimmed_mean_cents
FROM r
WHERE rk > n * 5 // 100 AND rk <= n - n * 5 // 100
GROUP BY l_suppkey
""",
)
def trimmed_mean_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """5%-trimmed mean revenue per supplier — the robust-statistics
    aggregate (outlier-resistant without MAD's double percentile
    pass): rank within group, drop the bottom and top ⌊n·5/100⌋
    rows, integer-floor the mean of the kept cents. Deterministic
    tie order (cents, then the partition key itself — rows within a
    supplier with equal cents are interchangeable, so any stable
    tiebreak yields the same SUM). All integer: trim offsets and the
    mean are int64 floor divisions (positive operands — DuckDB `//`
    measured trunc-identical to Spark `div` r8).

    100 TB shape: ONE shuffle on the group key; the rank window and
    the aggregation share it (Catalyst reuses the partitioning). The
    valve for mega-groups is the binned-Lorenz approach of
    gini_histogram_binned."""
    from pyspark.sql import Window as W2

    l = _lt(spark, sf_dir, "lineitem")
    d = l.select(
        "l_suppkey",
        F.floor(F.col("l_extendedprice") * 100).cast("long").alias("cents"),
    )
    w = W2.partitionBy("l_suppkey").orderBy(
        F.asc("cents"), F.asc("l_suppkey")
    )
    wn = W2.partitionBy("l_suppkey")
    r = d.select(
        "l_suppkey",
        "cents",
        F.row_number().over(w).alias("rk"),
        F.count(F.lit(1)).over(wn).alias("n"),
    )
    kept = r.filter(
        (F.col("rk") > F.expr("n * 5 div 100"))
        & (F.col("rk") <= F.col("n") - F.expr("n * 5 div 100"))
    )
    return kept.groupBy("l_suppkey").agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.expr("sum(cents) div count(1)").alias("trimmed_mean_cents"),
    )


def _poly_oracle() -> str:
    from dist_keras_spark.operators.dedup import (
        _POLY_B1,
        _POLY_B2,
        _POLY_P1,
        _POLY_P2,
        _pow_table,
    )

    bp1 = ", ".join(str(v) for v in _pow_table(_POLY_B1, _POLY_P1))
    bp2 = ", ".join(str(v) for v in _pow_table(_POLY_B2, _POLY_P2))
    ib1 = ", ".join(str(v) for v in _pow_table(_POLY_B1, _POLY_P1, True))
    ib2 = ", ".join(str(v) for v in _pow_table(_POLY_B2, _POLY_P2, True))
    return f"""
WITH toks AS (
  SELECT doc_id, string_split(text, ' ') AS t FROM documents
), posts AS (
  SELECT doc_id, i.i - 1 AS pos, t[i.i] AS w
  FROM toks, unnest(range(1, len(t) + 1)) i(i)
  WHERE len(t) >= 50
), terms AS (
  SELECT doc_id, pos,
         (CAST(('0x' || substring(md5(w), 1, 8)) AS BIGINT) % {_POLY_P1})
             * ([{bp1}])[pos + 1] % {_POLY_P1} AS term1,
         (CAST(('0x' || substring(md5(w), 1, 8)) AS BIGINT) % {_POLY_P2})
             * ([{bp2}])[pos + 1] % {_POLY_P2} AS term2
  FROM posts
), cums AS (
  SELECT doc_id, pos, term1, term2,
         sum(term1) OVER (PARTITION BY doc_id ORDER BY pos
                          ROWS UNBOUNDED PRECEDING) AS c1,
         sum(term2) OVER (PARTITION BY doc_id ORDER BY pos
                          ROWS UNBOUNDED PRECEDING) AS c2
  FROM terms
), spans AS (
  SELECT doc_id, pos,
         lead(c1, 49) OVER (PARTITION BY doc_id ORDER BY pos) AS l1,
         lead(c2, 49) OVER (PARTITION BY doc_id ORDER BY pos) AS l2,
         c1, c2, term1, term2
  FROM cums
), fps AS (
  SELECT doc_id,
         CAST((CAST(l1 - (c1 - term1) AS BIGINT) % {_POLY_P1})
              * ([{ib1}])[pos + 1] % {_POLY_P1} AS BIGINT) AS f1,
         CAST((CAST(l2 - (c2 - term2) AS BIGINT) % {_POLY_P2})
              * ([{ib2}])[pos + 1] % {_POLY_P2} AS BIGINT) AS f2
  FROM spans WHERE l1 IS NOT NULL
), post AS (
  SELECT DISTINCT doc_id, f1, f2 FROM fps
)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       CAST(count(*) AS BIGINT) AS n_shared
FROM post a JOIN post b USING (f1, f2)
WHERE a.doc_id < b.doc_id
GROUP BY 1, 2
"""


@query("substring_dedup_50gram_poly", oracle=_poly_oracle())
def substring_dedup_50gram_poly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The measured twin of substring_dedup_50gram (the
    udtf→mapInArrow pattern applied to dedup): identical pair
    semantics, spans fingerprinted by a ROLLING double polynomial
    hash — O(1) per span via per-doc prefix-sum windows and modular
    inverses, one md5 per TOKEN, 16-byte (f1, f2) join keys. See
    operators/dedup.py:substring_dup_pairs_poly for the cost model
    AND the negative result it encodes: the per-span aggregate() HOF
    formulation measured ~100× SLOWER than md5 strings (Spark
    evaluates HOF lambdas interpreted), so the windowed codegen
    formulation is the one that ships. Both twins stay registered;
    bench_extended_trace.json times both."""
    docs = _lt(spark, sf_dir, "documents")
    from dist_keras_spark.operators.dedup import substring_dup_pairs_poly

    return substring_dup_pairs_poly(docs, n=50)


@query(
    "containment_pairs",
    oracle="""
WITH sets AS (
  SELECT doc_id,
         list_distinct(list_transform(range(1, len(t) - 2 + 1),
             i -> array_to_string(t[i:i+2], ' '))) AS sh
  FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents)
  WHERE len(t) >= 3
), post AS (
  SELECT doc_id, len(sh) AS ns, unnest(sh) AS shingle FROM sets
), shared AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         CAST(count(*) AS BIGINT) AS c,
         CAST(min(a.ns) AS BIGINT) AS na,
         CAST(min(b.ns) AS BIGINT) AS nb
  FROM post a JOIN post b USING (shingle)
  WHERE a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT id_a, id_b, c, na, nb,
       CAST(c * 1000000 // least(na, nb) AS BIGINT) AS containment_micro
FROM shared
WHERE c * 1000000 >= 800000 * least(na, nb)
""",
)
def containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jaccard-CONTAINMENT near-dedup (Broder's containment,
    |A∩B|/min(|A|,|B|)): catches a document that is a near-SUBSET of
    another — the curation case Jaccard similarity misses (a long doc
    that swallows a short one scores low similarity but ~1.0
    containment). Same 3-shingle inverted-index shape as
    jaccard_neardup_pairs (operators/dedup.py): only pairs sharing a
    shingle materialize; the ≥0.8 threshold is an exact INTEGER
    cross-multiplication (c·1e6 ≥ 0.8e6·min sizes), no float
    boundary anywhere.

    100 TB: identical valves as J3 — max_df stop-shingle cut and
    id-only postings; containment adds zero extra passes (the pair
    aggregate already carries both set sizes)."""
    from dist_keras_spark.operators.dedup import shingle_postings

    docs = _lt(spark, sf_dir, "documents")
    # codegen explode path, not the interpreted transform() array —
    # same postings, ~5× cheaper per evaluation (r9 measured).
    post = shingle_postings(docs, "doc_id", "text", 3)
    a = post.select(F.col("id").alias("id_a"), F.col("ns").alias("na"), "shingle")
    b = post.select(F.col("id").alias("id_b"), F.col("ns").alias("nb"), "shingle")
    shared = (
        a.join(b, "shingle")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(
            F.count(F.lit(1)).alias("c"),
            F.min("na").alias("na"),
            F.min("nb").alias("nb"),
        )
    )
    mn = F.least(F.col("na"), F.col("nb"))
    return shared.filter(F.col("c") * 1000000 >= 800000 * mn).select(
        "id_a",
        "id_b",
        "c",
        "na",
        "nb",
        F.expr("c * 1000000 div least(na, nb)").alias("containment_micro"),
    )


@query(
    "langid_confusion",
    oracle="""
WITH t AS (
  SELECT lang, string_split(text, ' ') AS toks FROM documents
), h AS (
  SELECT lang,
         len(list_filter(toks, x -> list_contains(
             ['the','and','of','to','a','in','is','for','on','with'], x)))
             AS hits_en,
         len(list_filter(toks, x -> list_contains(
             ['el','la','de','que','y','en','un','es','por','los'], x)))
             AS hits_es
  FROM t
), p AS (
  SELECT lang,
         CASE WHEN hits_es > greatest(hits_en, 0) THEN 'es'
              WHEN hits_en > 0 THEN 'en'
              ELSE 'und' END AS predicted
  FROM h
)
SELECT lang, predicted, CAST(count(*) AS BIGINT) AS n
FROM p GROUP BY lang, predicted
""",
)
def langid_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Confusion matrix of the J6 language-ID heuristic against the
    labeled `lang` column — the eval-layer treatment applied to the
    text family (a heuristic without a measured confusion matrix is a
    guess). Uses the PRODUCTION expression
    (functions/text.py:lang_id_heuristic) — the oracle spells out its
    exact tie-break semantics (stopword-OCCURRENCE counts; 'es' wins
    only with STRICTLY more hits; zero hits → 'und'), so a drift in
    the heuristic's ordering fails the hash, not just accuracy.

    100 TB: pure scan-side column logic + one (lang, predicted)
    partial agg."""
    from dist_keras_spark.functions.text import lang_id_heuristic, tokens

    docs = _lt(spark, sf_dir, "documents")
    return (
        docs.select(
            "lang",
            lang_id_heuristic(tokens(F.col("text"))).alias("predicted"),
        )
        .groupBy("lang", "predicted")
        .agg(F.count(F.lit(1)).alias("n"))
    )


@query(
    "parquet_schema_evolution_scan",
    oracle="""
SELECT n_nationkey, n_name, CAST(NULL AS INTEGER) AS n_regionkey,
       CAST(1 AS INTEGER) AS batch
FROM nation
UNION ALL
SELECT n_nationkey, n_name, n_regionkey, CAST(2 AS INTEGER) AS batch
FROM nation
""",
)
def parquet_schema_evolution_scan(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """A2 schema evolution: a dataset whose parquet files were written
    under DIFFERENT schemas over time (batch 1 before the
    `n_regionkey` column existed, batch 2 after) read as ONE table
    via mergeSchema — old files surface NULL for columns they
    predate. This is the ingest reality of any long-lived 100 TB
    dataset; the oracle replays the union-with-null semantics from
    the source table. The `batch` column proves per-file lineage
    survives the merge.

    At scale: mergeSchema reads FOOTERS of all files at planning time
    — production pins the merged schema in a metastore/manifest
    instead (sources/snapshots.py); this query verifies the read
    semantics those manifests rely on."""
    import shutil

    from dist_keras_spark.sources.sinks import scratch_path

    n = _lt(spark, sf_dir, "nation")
    path = scratch_path(spark, "schema_evo")
    shutil.rmtree(path, ignore_errors=True)
    n.select(
        "n_nationkey", "n_name", F.lit(1).cast("int").alias("batch")
    ).write.mode("overwrite").parquet(path + "/b1")
    n.select(
        "n_nationkey", "n_name", "n_regionkey",
        F.lit(2).cast("int").alias("batch"),
    ).write.mode("overwrite").parquet(path + "/b2")
    merged = (
        spark.read.option("mergeSchema", "true")
        .option("recursiveFileLookup", "true")
        .parquet(path)
    )
    return merged.select("n_nationkey", "n_name", "n_regionkey", "batch")


_RECURSIVE_SQL_SPARK = """
WITH RECURSIVE chain(custkey, cur, path_cents, steps) AS (
  SELECT c_custkey, c_custkey,
         CAST(floor(c_acctbal * 100) AS BIGINT), 1
  FROM {customer}
  UNION ALL
  SELECT ch.custkey, c.c_custkey,
         ch.path_cents + CAST(floor(c.c_acctbal * 100) AS BIGINT),
         ch.steps + 1
  FROM chain ch JOIN {customer} c ON c.c_custkey = ch.cur {div} 10
  WHERE ch.cur >= 10
)
SELECT custkey, steps AS chain_len, path_cents
FROM chain
WHERE cur < 10
ORDER BY path_cents DESC, custkey
LIMIT 50
"""


@query(
    "recursive_cte_rollup",
    oracle=_RECURSIVE_SQL_SPARK.format(customer="customer", div="//"),
)
def recursive_cte_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WITH RECURSIVE on Spark 4.1 (SPARK-24497 — new engine surface
    this round): every customer walks its ancestor chain in a derived
    10-ary tree (parent = custkey div 10), accumulating
    integer-cents balances along the path; top-50 chains by path
    total. The SAME SQL text runs on both engines (only the integer
    division operator differs: Spark `div`, DuckDB `//` — measured
    trunc-identical on positives), so this doubles as a recursion-
    semantics parity check: anchor + UNION ALL step, termination by
    WHERE, column evolution across iterations.

    100 TB shape: each iteration is an equi-join of the frontier
    against the parent table — depth is log₁₀(maxkey) (≤7 at sf1000),
    so the recursion is 7 bounded joins, each shrinking. The
    non-recursive formulation (iterative joins in a Python loop —
    neardup_clusters) remains the fallback where the planner's
    recursion limits bite."""
    from dist_keras_spark.sources.tables import register_views

    register_views(spark, sf_dir, ("customer",))
    return spark.sql(_RECURSIVE_SQL_SPARK.format(customer="customer", div="div"))


_LATERAL_SQL = """
SELECT n.n_name, t.c_custkey, t.cents
FROM {nation} n{comma} LATERAL (
  SELECT c_custkey, CAST(floor(c_acctbal * 100) AS BIGINT) AS cents
  FROM {customer} c
  WHERE c.c_nationkey = n.n_nationkey
  ORDER BY cents DESC, c_custkey
  LIMIT 3
) t
"""


@query(
    "lateral_topn_per_group",
    oracle=_LATERAL_SQL.format(nation="nation", customer="customer", comma=","),
)
def lateral_topn_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated LATERAL subquery (SQL-standard surface for
    top-N-per-group — the form analysts write before anyone teaches
    them window functions): for each nation, the LATERAL derived
    table returns its own top-3 customers by balance. Same SQL text
    on both engines (modulo the join comma), integer cents, total
    (cents desc, custkey) order inside the LATERAL so ties cannot
    flip the emitted set.

    At scale Catalyst DECORRELATES this into the same
    window/rank-per-key plan as topk_per_group — LATERAL is surface
    syntax, not a nested-loop sentence; the plan audit shows no
    per-row re-execution."""
    from dist_keras_spark.sources.tables import register_views

    register_views(spark, sf_dir, ("nation", "customer"))
    return spark.sql(
        _LATERAL_SQL.format(nation="nation", customer="customer", comma=",")
    )
