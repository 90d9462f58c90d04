"""Round-9 wave: the completion queries the r8 families pointed at —
t-closeness (finishing the k-anonymity / l-diversity privacy trio),
exact AUC via the Mann-Whitney rank statistic (finishing the
binary-evaluation family), MAD robust scale (finishing winsorize's
robust-stats family), per-node clustering coefficients (fifth
algorithm on the house brand graph), Matryoshka truncation recall and
ColBERT-style MaxSim late interaction (retrieval family), cluster-cap
sampling and incremental batch-vs-corpus dedup (training-data
curation), capped sessionization, a Heaps-law vocabulary growth curve,
and the documents-table profile.

dist-keras has no analogue for any of these — "beyond the reference"
training-data-pipeline surface (brief: dedup / similarity / text
analysis are first-class), mapped in COVERAGE.md.

House rules (see analytics5.py): md5 is the engine-portable
fingerprint; integer micro units via exact `div`; BIGINT `div`
(Spark) == `//` (DuckDB) ONLY while every operand stays integer (one
`/` poisons the chain to DOUBLE and DuckDB `bigint // double` does
not floor — measured r9, verify-skill gotcha); floor(double) then
CAST is portable, bare CAST of a non-integral double is not.
"""

from __future__ import annotations

import numpy as np

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from dist_keras_spark.functions.time import epoch_s
from dist_keras_spark.plans.registry import ORACLE, query
from dist_keras_spark.sources.tables import load_table as _lt


# --------------------------------------------------------------------------
# Privacy trio completion: t-closeness
# --------------------------------------------------------------------------


@query(
    "t_closeness_audit",
    oracle="""
WITH base AS (
    SELECT CAST(c_nationkey AS BIGINT) AS qi_nation,
           CAST(floor(c_acctbal / 2000.0) AS BIGINT) AS qi_band,
           c_mktsegment AS seg
    FROM customer
), gseg AS (
    SELECT seg, CAST(count(*) AS BIGINT) AS big_c FROM base GROUP BY seg
), nn AS (SELECT CAST(count(*) AS BIGINT) AS big_n FROM base),
cls AS (
    SELECT qi_nation, qi_band, seg, CAST(count(*) AS BIGINT) AS c
    FROM base GROUP BY 1, 2, 3
), sz AS (
    SELECT qi_nation, qi_band, CAST(sum(c) AS BIGINT) AS n
    FROM cls GROUP BY 1, 2
), dist AS (
    -- variational distance on a common denominator: t = Σ|p−q|/2 with
    -- p = c/n, q = C/N  ⇒  t_e6 = (1e6 · Σ|c·N − C·n|) div (2·n·N).
    -- Segments absent from a class contribute |0·N − C·n| = C·n, so
    -- the glob × sz cross join (segments × classes, domain-bounded)
    -- is the complete support, left-joined with observed counts.
    SELECT s.qi_nation, s.qi_band, s.n,
           CAST(sum(abs(coalesce(c.c, 0) * nn.big_n - g.big_c * s.n))
                AS BIGINT) AS num
    FROM sz s CROSS JOIN gseg g CROSS JOIN nn
    LEFT JOIN cls c ON c.qi_nation = s.qi_nation
                   AND c.qi_band = s.qi_band AND c.seg = g.seg
    GROUP BY 1, 2, 3
)
SELECT d.qi_nation, d.qi_band, d.n AS class_size,
       CAST((1000000 * d.num) // (2 * d.n * nn.big_n) AS BIGINT)
           AS t_e6,
       CAST(CASE WHEN (1000000 * d.num) // (2 * d.n * nn.big_n) > 250000
                 THEN 1 ELSE 0 END AS BIGINT) AS t_violation
FROM dist d CROSS JOIN nn
""",
)
def t_closeness_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Privacy audit #3 — t-closeness (Li, Li & Venkatasubramanian
    2007, public knowledge), completing the k-anonymity (class size)
    → l-diversity (distinct sensitive values) → t-closeness
    (sensitive-value DISTRIBUTION) escalation on the same QI
    machinery: per (nation, 2000-unit balance band) class, the
    variational distance between the class's market-segment
    distribution and the global one, flagged when t > 0.25. Exact
    integers on a common denominator — t_e6 = (1e6·Σ|c·N − C·n|) div
    (2·n·N) — so the hash has no float to trip on. Absent segments
    contribute their full global mass (the distance a homogeneity
    attack exploits), via the domain-bounded class × segment support.

    100 TB shape: one QI×segment hash aggregation (map-side partial),
    then arithmetic on QI-domain-bounded frames — the global segment
    histogram and total broadcast. INT64 headroom: c·N ≤ n_rows² ⇒
    past ~3e9 rows rescale q to a 1e6 fixed-point global share first
    (the conformal_interval_coverage discipline)."""
    c = _lt(spark, sf_dir, "customer")
    base = c.select(
        F.col("c_nationkey").cast("long").alias("qi_nation"),
        F.floor(F.col("c_acctbal") / 2000.0).cast("long").alias("qi_band"),
        F.col("c_mktsegment").alias("seg"),
    )
    glob = base.groupBy("seg").agg(F.count(F.lit(1)).alias("big_c"))
    nn = base.agg(F.count(F.lit(1)).alias("big_n"))
    cls = base.groupBy("qi_nation", "qi_band", "seg").agg(
        F.count(F.lit(1)).alias("c")
    )
    sz = cls.groupBy("qi_nation", "qi_band").agg(F.sum("c").alias("n"))
    support = sz.crossJoin(F.broadcast(glob)).crossJoin(F.broadcast(nn))
    dist = (
        support.join(cls, ["qi_nation", "qi_band", "seg"], "left")
        .groupBy("qi_nation", "qi_band", "n", "big_n")
        .agg(
            F.sum(
                F.abs(
                    F.coalesce(F.col("c"), F.lit(0)) * F.col("big_n")
                    - F.col("big_c") * F.col("n")
                )
            ).alias("num")
        )
    )
    t_e6 = F.expr("(1000000 * num) div (2 * n * big_n)")
    return dist.select(
        "qi_nation",
        "qi_band",
        F.col("n").alias("class_size"),
        t_e6.cast("long").alias("t_e6"),
        F.when(t_e6 > 250000, F.lit(1)).otherwise(F.lit(0)).cast("long").alias(
            "t_violation"
        ),
    )


# --------------------------------------------------------------------------
# Evaluation family completion: exact AUC via Mann-Whitney
# --------------------------------------------------------------------------

# Fixed integer scoring weights for the AUC probe: drawn once
# (RandomState(7), ±9 range) and inlined as literals on BOTH sides so
# the score is exact integer arithmetic. 64 dims · max|w|=9 ·
# max|floor(e·1000)| ≈ 1000 bounds |score| ≤ ~576k — a BOUNDED score
# grid regardless of row count (load-bearing for the window below).
_AUC_W = [int(v) for v in np.random.RandomState(7).randint(-9, 10, 64)]


def _auc_oracle_sql() -> str:
    wlit = "[" + ", ".join(str(v) for v in _AUC_W) + "]"
    return f"""
WITH scored AS (
    SELECT vec_id,
           CAST(list_sum(list_transform(range(1, 65),
               i -> CAST(floor(CAST(embedding[i] AS DOUBLE) * 1000)
                         AS BIGINT) * ({wlit})[i])) AS BIGINT) AS s,
           CAST(CASE WHEN label % 2 = 0 THEN 1 ELSE 0 END AS BIGINT) AS pos
    FROM embeddings
), grid AS (
    SELECT s, CAST(sum(pos) AS BIGINT) AS np_s,
           CAST(count(*) - sum(pos) AS BIGINT) AS nn_s
    FROM scored GROUP BY s
), cum AS (
    SELECT s, np_s, nn_s,
           CAST(coalesce(sum(nn_s) OVER (ORDER BY s
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                AS BIGINT) AS neg_below
    FROM grid
), tot AS (
    SELECT CAST(sum(np_s) AS BIGINT) AS n_pos,
           CAST(sum(nn_s) AS BIGINT) AS n_neg,
           CAST(sum(np_s * (2 * neg_below + nn_s)) AS BIGINT) AS u2
    FROM cum
)
SELECT n_pos, n_neg, u2,
       CAST((1000000 * u2) // (2 * n_pos * n_neg) AS BIGINT) AS auc_e6
FROM tot
"""


@query("auc_mann_whitney", oracle=_auc_oracle_sql())
def auc_mann_whitney(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT ROC-AUC via the Mann-Whitney U statistic (public
    knowledge: AUC = P(score⁺ > score⁻) + ½P(tie)), completing the
    binary-evaluation family (confusion → calibration bins → ranking
    MRR/NDCG → THIS). Scores are integer dot products of
    floor(e·1000) against fixed ±9 literal weights, so ties are real
    and handled exactly: U2 = Σ_s n_pos(s)·(2·neg_below(s) + n_neg(s))
    counts each concordant pair twice and each tied pair once —
    auc_e6 = (1e6·U2) div (2·n_pos·n_neg), no float anywhere.

    100 TB shape: scoring is scan-side column math; the only
    aggregation is groupBy(score) with map-side combine onto a grid
    BOUNDED by the score range (|s| ≤ 64·9·1000 ≈ 576k distinct
    values regardless of row count — the quantization is what makes
    the cumulative window bounded-input); the cumulative sum runs on
    that bounded grid, never on rows. The pair-counting join
    formulation would be n_pos·n_neg — this is the rank-statistic
    shape that replaces it."""
    from dist_keras_spark.operators.utils import bounded_window_key

    e = _lt(spark, sf_dir, "embeddings")
    warr = F.array(*[F.lit(v) for v in _AUC_W])
    score = F.aggregate(
        F.zip_with(
            F.transform(
                "embedding", lambda x: F.floor(x.cast("double") * 1000).cast("long")
            ),
            warr,
            lambda a, b: a * b,
        ),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    scored = e.select(
        score.alias("s"),
        ((F.col("label") % 2) == 0).cast("long").alias("pos"),
    )
    grid = scored.groupBy("s").agg(
        F.sum("pos").alias("np_s"),
        (F.count(F.lit(1)) - F.sum("pos")).alias("nn_s"),
    )
    # bounded-input window: the score grid is ≤ ~1.15M rows by
    # construction (see docstring) — reviewed global cumulative
    win = (
        W.partitionBy(bounded_window_key(F.col("s")))
        .orderBy("s")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    cum = grid.select(
        "s",
        "np_s",
        "nn_s",
        F.coalesce(F.sum("nn_s").over(win), F.lit(0)).alias("neg_below"),
    )
    tot = cum.agg(
        F.sum("np_s").alias("n_pos"),
        F.sum("nn_s").alias("n_neg"),
        F.sum(
            F.col("np_s") * (2 * F.col("neg_below") + F.col("nn_s"))
        ).alias("u2"),
    )
    return tot.select(
        "n_pos",
        "n_neg",
        "u2",
        F.expr("(1000000 * u2) div (2 * n_pos * n_neg)").cast("long").alias(
            "auc_e6"
        ),
    )


# --------------------------------------------------------------------------
# Robust-stats family completion: median absolute deviation
# --------------------------------------------------------------------------


@query(
    "mad_robust_scale",
    oracle="""
WITH d AS (
    SELECT l_suppkey, CAST(l_quantity AS BIGINT) AS q,
           l_orderkey * 10 + l_linenumber AS rid
    FROM lineitem
), r1 AS (
    SELECT l_suppkey, q,
           row_number() OVER (PARTITION BY l_suppkey ORDER BY q, rid) AS rn,
           count(*) OVER (PARTITION BY l_suppkey) AS n
    FROM d
), med AS (
    SELECT l_suppkey, q AS median_qty, n FROM r1 WHERE rn = (n + 1) // 2
), dev AS (
    SELECT d.l_suppkey, abs(d.q - m.median_qty) AS ad, d.rid, m.median_qty, m.n
    FROM d JOIN med m ON m.l_suppkey = d.l_suppkey
), r2 AS (
    SELECT l_suppkey, ad, median_qty, n,
           row_number() OVER (PARTITION BY l_suppkey ORDER BY ad, rid) AS rn
    FROM dev
)
SELECT l_suppkey AS suppkey, CAST(n AS BIGINT) AS n,
       CAST(median_qty AS BIGINT) AS median_qty,
       CAST(ad AS BIGINT) AS mad_qty
FROM r2 WHERE rn = (n + 1) // 2
""",
)
def mad_robust_scale(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Median absolute deviation per supplier — the robust scale
    estimator that pairs with winsorize_clamp_stats's robust location
    (public knowledge: MAD = median(|x − median(x)|), breakdown point
    50% vs stddev's 0%). Both medians use the house DISCRETE rank
    selection (the (n+1)//2-th smallest, rid tie-break) so every
    value is an observed integer quantity — no interpolation, no
    float, hash-exact by construction. Sibling of
    robust_outliers_mad (analytics.py), which is the INTERPOLATED-
    percentile float convention on event values; this is the
    discrete-integer convention on quantities — the two conventions
    any production MAD must pick between, both covered.

    100 TB shape: two supplier-keyed window passes over the same
    shuffle key (Catalyst reuses the partitioning; the second pass
    consumes the first's broadcast-joined median) — the canonical
    two-pass nested-median plan; partitions scale with the supplier
    key, never global. At true scale the inner selection swaps for
    the certified sketch (approx_percentile_certified) per group."""
    li = _lt(spark, sf_dir, "lineitem")
    d = li.select(
        "l_suppkey",
        F.col("l_quantity").cast("long").alias("q"),
        (F.col("l_orderkey") * 10 + F.col("l_linenumber")).alias("rid"),
    )
    w1 = W.partitionBy("l_suppkey").orderBy("q", "rid")
    r1 = d.select(
        "l_suppkey",
        "q",
        F.row_number().over(w1).alias("rn"),
        F.count(F.lit(1)).over(W.partitionBy("l_suppkey")).alias("n"),
    )
    med = r1.filter(F.col("rn") == F.expr("(n + 1) div 2")).select(
        "l_suppkey", F.col("q").alias("median_qty"), "n"
    )
    dev = d.join(med, "l_suppkey").select(
        "l_suppkey",
        F.abs(F.col("q") - F.col("median_qty")).alias("ad"),
        "rid",
        "median_qty",
        "n",
    )
    w2 = W.partitionBy("l_suppkey").orderBy("ad", "rid")
    r2 = dev.withColumn("rn", F.row_number().over(w2))
    return r2.filter(F.col("rn") == F.expr("(n + 1) div 2")).select(
        F.col("l_suppkey").alias("suppkey"),
        F.col("n").cast("long").alias("n"),
        F.col("median_qty").cast("long").alias("median_qty"),
        F.col("ad").cast("long").alias("mad_qty"),
    )


# --------------------------------------------------------------------------
# Graph family #5: per-node clustering coefficient
# --------------------------------------------------------------------------


@query(
    "clustering_coefficient_nodes",
    oracle="""
WITH baskets AS (
    SELECT DISTINCT l.l_orderkey, p.p_brand
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
), pairs AS (
    SELECT a.p_brand AS x, b.p_brand AS y, count(*) AS n_ab
    FROM baskets a JOIN baskets b
      ON a.l_orderkey = b.l_orderkey AND a.p_brand < b.p_brand
    GROUP BY 1, 2
), thresh AS (SELECT CAST(count(*) AS BIGINT) AS n_pairs,
                     CAST(sum(n_ab) AS BIGINT) AS sum_ab FROM pairs),
und AS (
    SELECT x, y FROM pairs, thresh WHERE n_pairs * n_ab >= sum_ab
), edges AS (
    SELECT x AS src, y AS dst FROM und
    UNION ALL
    SELECT y AS src, x AS dst FROM und
), deg AS (
    SELECT src AS node, CAST(count(*) AS BIGINT) AS degree
    FROM edges GROUP BY src
), tri AS (
    SELECT e1.x AS a, e1.y AS b, e2.y AS c
    FROM und e1
    JOIN und e2 ON e1.y = e2.x
    JOIN und e3 ON e3.x = e1.x AND e3.y = e2.y
), tnode AS (
    SELECT node, CAST(count(*) AS BIGINT) AS n_tri FROM (
        SELECT a AS node FROM tri
        UNION ALL SELECT b FROM tri
        UNION ALL SELECT c FROM tri
    ) GROUP BY node
)
SELECT d.node AS brand, d.degree,
       CAST(coalesce(t.n_tri, 0) AS BIGINT) AS n_triangles,
       CASE WHEN d.degree >= 2
            THEN CAST((2000000 * coalesce(t.n_tri, 0))
                      // (d.degree * (d.degree - 1)) AS BIGINT) END
           AS clustering_e6
FROM deg d LEFT JOIN tnode t ON t.node = d.node
""",
)
def clustering_coefficient_nodes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node clustering coefficient on the house brand graph —
    fifth algorithm on the same edge list (PageRank, triangles, label
    propagation, k-core, THIS): C(v) = 2·tri(v) / (deg(v)·(deg(v)−1))
    (Watts & Strogatz 1998, public knowledge), reported in exact e6
    fixed point; degree-1 nodes get NULL (undefined, the fairness-
    audit guard discipline). Triangles enumerate once in canonical
    a<b<c orientation then explode to their three corners.

    100 TB shape: the wedge join e1⋈e2 is the standard bottleneck —
    on a power-law graph, degree-order each edge first (low endpoint
    first) to bound it, as triangle_count_brands documents; per-node
    counts are one corner-explode aggregation. The brand fixture
    graph is dim-sized; the heavy work is the shared basket
    aggregation, reused by Catalyst across the five algorithms."""
    l = _lt(spark, sf_dir, "lineitem")
    p = _lt(spark, sf_dir, "part")
    baskets = (
        l.join(p, l.l_partkey == p.p_partkey)
        .select("l_orderkey", "p_brand")
        .distinct()
    )
    a = baskets.alias("a")
    b = baskets.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.p_brand") < F.col("b.p_brand")),
        )
        .groupBy(F.col("a.p_brand").alias("x"), F.col("b.p_brand").alias("y"))
        .agg(F.count(F.lit(1)).alias("n_ab"))
    )
    thresh = pairs.agg(
        F.count(F.lit(1)).alias("n_pairs"), F.sum("n_ab").alias("sum_ab")
    )
    und = (
        pairs.crossJoin(F.broadcast(thresh))
        .filter(F.col("n_pairs") * F.col("n_ab") >= F.col("sum_ab"))
        .select("x", "y")
    )
    edges = und.select(F.col("x").alias("src"), F.col("y").alias("dst")).unionByName(
        und.select(F.col("y").alias("src"), F.col("x").alias("dst"))
    )
    deg = edges.groupBy(F.col("src").alias("node")).agg(
        F.count(F.lit(1)).alias("degree")
    )
    e1 = und.alias("e1")
    e2 = und.alias("e2")
    e3 = und.alias("e3")
    tri = (
        e1.join(e2, F.col("e1.y") == F.col("e2.x"))
        .join(
            e3,
            (F.col("e3.x") == F.col("e1.x")) & (F.col("e3.y") == F.col("e2.y")),
        )
        .select(
            F.col("e1.x").alias("a"), F.col("e1.y").alias("b"), F.col("e2.y").alias("c")
        )
    )
    corners = (
        tri.select(F.col("a").alias("node"))
        .unionByName(tri.select(F.col("b").alias("node")))
        .unionByName(tri.select(F.col("c").alias("node")))
    )
    tnode = corners.groupBy("node").agg(F.count(F.lit(1)).alias("n_tri"))
    joined = deg.join(tnode, "node", "left").select(
        F.col("node").alias("brand"),
        "degree",
        F.coalesce(F.col("n_tri"), F.lit(0)).cast("long").alias("n_triangles"),
    )
    return joined.select(
        "brand",
        "degree",
        "n_triangles",
        F.when(
            F.col("degree") >= 2,
            F.expr("(2000000 * n_triangles) div (degree * (degree - 1))").cast(
                "long"
            ),
        ).alias("clustering_e6"),
    )


# --------------------------------------------------------------------------
# Text family: Heaps-law vocabulary growth at geometric checkpoints
# --------------------------------------------------------------------------

_VOCAB_CHECKPOINTS = [64, 128, 256, 512, 1024, 2048, 4096, 8192, 16384]


def _vocab_growth_oracle_sql() -> str:
    docs = ", ".join(
        f"CAST(sum(CASE WHEN doc_id < {c} THEN 1 ELSE 0 END) AS BIGINT)"
        f" AS d{c}"
        for c in _VOCAB_CHECKPOINTS
    )
    vocab = ", ".join(
        f"CAST(sum(CASE WHEN first_doc < {c} THEN 1 ELSE 0 END) AS BIGINT)"
        f" AS v{c}"
        for c in _VOCAB_CHECKPOINTS
    )
    stack = " UNION ALL ".join(
        f"SELECT {c} AS checkpoint, d.d{c} AS n_docs, v.v{c} AS vocab_size"
        f" FROM d, v"
        for c in _VOCAB_CHECKPOINTS
    )
    return f"""
WITH firsts AS (
    SELECT token, CAST(min(doc_id) AS BIGINT) AS first_doc
    FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS token
          FROM documents)
    WHERE token <> ''
    GROUP BY token
), d AS (SELECT {docs} FROM documents),
v AS (SELECT {vocab} FROM firsts)
SELECT checkpoint, n_docs, vocab_size FROM ({stack})
WHERE n_docs > 0
ORDER BY checkpoint
"""


@query("vocab_growth_curve", oracle=_vocab_growth_oracle_sql())
def vocab_growth_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps-law vocabulary growth measurement (public knowledge:
    V(n) ≈ K·nᵝ): distinct-token vocabulary size after the first
    64/128/…/16384 documents in ingest (doc_id) order — the curve a
    tokenizer-budget or dedup-saturation decision reads. Key move for
    scale: NO global row ranking — each token reduces to its FIRST
    containing doc (one groupBy min), and every checkpoint is then a
    conditional partial-aggregate over that token frame, all
    checkpoints in ONE pass. Checkpoints with no documents yet are
    dropped (SF-stable output semantics). Everything integer.

    100 TB shape: explode→min-groupBy is the inverted-index build
    (one shuffle on token, map-side combined); checkpoint sums are a
    single 1-row aggregate stacked — the curve costs one index pass
    regardless of how many checkpoints."""
    d = _lt(spark, sf_dir, "documents")
    firsts = (
        d.select(
            "doc_id", F.explode(F.split(F.col("text"), " ")).alias("token")
        )
        .filter(F.col("token") != "")
        .groupBy("token")
        .agg(F.min("doc_id").alias("first_doc"))
    )
    dagg = d.agg(
        *[
            F.sum((F.col("doc_id") < c).cast("long")).alias(f"d{c}")
            for c in _VOCAB_CHECKPOINTS
        ]
    )
    vagg = firsts.agg(
        *[
            F.sum((F.col("first_doc") < c).cast("long")).alias(f"v{c}")
            for c in _VOCAB_CHECKPOINTS
        ]
    )
    stacked = (
        dagg.crossJoin(vagg)
        .select(
            F.expr(
                "stack("
                + str(len(_VOCAB_CHECKPOINTS))
                + ", "
                + ", ".join(
                    f"{c}L, d{c}, v{c}" for c in _VOCAB_CHECKPOINTS
                )
                + ") AS (checkpoint, n_docs, vocab_size)"
            )
        )
        .filter(F.col("n_docs") > 0)
    )
    return stacked.select("checkpoint", "n_docs", "vocab_size")


# --------------------------------------------------------------------------
# Retrieval family: Matryoshka truncation recall + ColBERT-style MaxSim
# --------------------------------------------------------------------------


def _mrl_oracle_sql() -> str:
    return f"""
WITH full_knn AS ({ORACLE["knn_bruteforce_top5"]}),
q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
      FROM embeddings WHERE vec_id % 20 = 0),
tscored AS (
    SELECT q.query_id, e.vec_id AS neighbor_id,
           round(
             list_sum(list_transform(range(1, 17),
                 i -> CAST(e.embedding[i] AS DOUBLE) * q.qv[i]))
             / (sqrt(list_sum(list_transform(range(1, 17),
                 i -> CAST(e.embedding[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE))))
              * sqrt(list_sum(list_transform(range(1, 17),
                 i -> q.qv[i] * q.qv[i])))), 6) AS cosine
    FROM embeddings e, q
    WHERE e.vec_id <> q.query_id
),
tranked AS (SELECT *, row_number() OVER (PARTITION BY query_id
                ORDER BY cosine DESC, neighbor_id) AS knn_rank
            FROM tscored),
trunc_knn AS (SELECT query_id, neighbor_id FROM tranked WHERE knn_rank <= 5)
SELECT f.query_id,
       CAST(count(t.neighbor_id) AS BIGINT) AS n_overlap_at5,
       CAST(200000 * count(t.neighbor_id) AS BIGINT) AS recall_e6
FROM full_knn f
LEFT JOIN trunc_knn t
  ON t.query_id = f.query_id AND t.neighbor_id = f.neighbor_id
GROUP BY f.query_id
"""


@query("mrl_truncation_recall", oracle=_mrl_oracle_sql())
def mrl_truncation_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka-representation truncation audit (Kusupati et al.
    2022, public knowledge): recall@5 of the FIRST-16-DIMS cosine
    ranking against the full-64-dim exact top-5, per query — the
    measurement that decides whether a truncated (4× cheaper, 4×
    smaller) index is good enough to serve. The full side is the
    REGISTERED knn_bruteforce_top5 oracle wrapped as a CTE, pinning
    this audit to the exact ranking the driver already hash-checks;
    the truncated side is the same machinery over a prefix slice.
    Overlap counting is integer; recall_e6 = overlap·1e6/5.

    Two-step regime note (sf1→sf2 sweep, r11): exp 2.12 — BOTH arms
    are exact brute-force rankings over corpus-scaling queries, which
    is the DEFINITION of this audit (recall is measured against the
    exact top-5; a sublinear ground truth would beg the question) —
    the same exact-oracle-by-design status as colbert_maxsim_top3.
    The registered SCALE-SAFE twin is mrl_truncation_recall_scaled
    (r12): both arms over the scaled-cells IVF candidate set —
    constant per-query fan-out with the corpus-scaling panel intact —
    auditing truncation against the SERVED index's ranking; the other
    production dial (a FIXED query panel — recall estimates converge
    with panel size) keeps this exact form at Θ(panel·N).

    100 TB shape: both rankings collect the query side and score the
    corpus once each (the truncated scan reads 4× fewer bytes — at
    scale it reads a separate 16-dim projection column and the
    measured recall justifies or rejects that index)."""
    from dist_keras_spark.operators.similarity import knn_bruteforce

    e = _lt(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") % 20 == 0)
    full = knn_bruteforce(e, q, "vec_id", "embedding", k=5).select(
        "query_id", "neighbor_id"
    )
    e16 = e.select("vec_id", F.slice("embedding", 1, 16).alias("embedding"))
    q16 = e16.filter(F.col("vec_id") % 20 == 0)
    trunc = knn_bruteforce(e16, q16, "vec_id", "embedding", k=5).select(
        F.col("query_id").alias("t_query_id"),
        F.col("neighbor_id").alias("t_neighbor_id"),
    )
    overlap = full.join(
        trunc,
        (F.col("query_id") == F.col("t_query_id"))
        & (F.col("neighbor_id") == F.col("t_neighbor_id")),
        "left",
    )
    return overlap.groupBy("query_id").agg(
        F.count("t_neighbor_id").alias("n_overlap_at5"),
        (200000 * F.count("t_neighbor_id")).alias("recall_e6"),
    )


def _mrl_scaled_oracle_sql() -> str:
    """Scaled MRL audit oracle: both arms over the scaled-cells IVF
    candidate set (llm._knn_ivf_oracle_sql with unbounded k as the
    `allc` CTE) — the full-dim arm is its knn_rank ≤ 5 slice, the
    truncated arm re-ranks the SAME candidates by first-16-dims
    cosine."""
    from dist_keras_spark.plans.llm import _knn_ivf_oracle_sql

    allc = _knn_ivf_oracle_sql(k=1 << 30, scaled_cells=True)
    return f"""
WITH allc AS ({allc}),
c16 AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
tscored AS (
    SELECT a.query_id, a.neighbor_id,
           round(
             list_sum(list_transform(range(1, 17), i -> b.v[i] * q.v[i]))
             / (sqrt(list_sum(list_transform(range(1, 17), i -> b.v[i] * b.v[i])))
              * sqrt(list_sum(list_transform(range(1, 17), i -> q.v[i] * q.v[i])))),
             6) AS cosine
    FROM allc a
    JOIN c16 b ON b.vec_id = a.neighbor_id
    JOIN c16 q ON q.vec_id = a.query_id
),
tranked AS (SELECT *, row_number() OVER (PARTITION BY query_id
                ORDER BY cosine DESC, neighbor_id) AS r FROM tscored),
trunc5 AS (SELECT query_id, neighbor_id FROM tranked WHERE r <= 5),
full5 AS (SELECT query_id, neighbor_id FROM allc WHERE knn_rank <= 5)
SELECT f.query_id,
       CAST(count(t.neighbor_id) AS BIGINT) AS n_overlap_at5,
       CAST(200000 * count(t.neighbor_id) AS BIGINT) AS recall_e6
FROM full5 f
LEFT JOIN trunc5 t
  ON t.query_id = f.query_id AND t.neighbor_id = f.neighbor_id
GROUP BY f.query_id
"""


@query("mrl_truncation_recall_scaled", oracle=_mrl_scaled_oracle_sql())
def mrl_truncation_recall_scaled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SCALE-SAFE twin of mrl_truncation_recall (VERDICT r11 #3a):
    the same Matryoshka truncation audit — does the first-16-dims
    ranking reproduce the full-64-dim top-5? — but BOTH arms rank the
    scaled-cells IVF candidate set (_scaled_ivf_candidates: cells =
    max(16, N div 1000), n_probe 8) instead of brute-force scanning
    the corpus per query. Per-query cost is the constant ~8000-vector
    fan-out, so the audit is Θ(queries · 8000) with the query panel
    still ∝ N — the audit itself now scales with the corpus it
    certifies, where the baseline is Θ(panel · N) = Θ(N²/20) by
    construction (measured sf1→sf2 exp 2.12).

    What changes semantically — and why it's the PRODUCTION question:
    recall is measured against the full-dim ranking OF THE SERVED
    INDEX's candidates (the deployed IVF), not against the exact
    corpus-wide top-5 — i.e. "if I truncate my production index's
    vectors to 16 dims, do I still serve the same top-5?" The exact
    ground-truth audit stays available as the declared oracle-role
    baseline (its regime note, colbert_maxsim precedent). Both arms
    share ONE cell-assignment pass; the truncated arm re-ranks the
    identical candidate pairs by prefix-slice cosine, so the
    comparison isolates truncation — candidate drift contributes
    exactly zero. Oracle replays candidates + both rankings as nested
    CTEs; integer overlap counting, recall_e6 = overlap·2e5."""
    from dist_keras_spark.functions.arrays import cosine_similarity
    from dist_keras_spark.operators.dedup import spread
    from dist_keras_spark.plans.analytics5 import _scaled_ivf_candidates

    emb = spread(_lt(spark, sf_dir, "embeddings"), "vec_id")
    cand = _scaled_ivf_candidates(emb)
    scored = cand.select(
        "query_id",
        "neighbor_id",
        F.round(cosine_similarity("qvec", "cvec"), 6).alias("cos64"),
        F.round(
            cosine_similarity(
                F.slice("qvec", 1, 16), F.slice("cvec", 1, 16)
            ),
            6,
        ).alias("cos16"),
    )
    w64 = W.partitionBy("query_id").orderBy(
        F.col("cos64").desc(), F.col("neighbor_id")
    )
    w16 = W.partitionBy("query_id").orderBy(
        F.col("cos16").desc(), F.col("neighbor_id")
    )
    full5 = (
        scored.withColumn("r", F.row_number().over(w64))
        .filter(F.col("r") <= 5)
        .select("query_id", "neighbor_id")
    )
    trunc5 = (
        scored.withColumn("r", F.row_number().over(w16))
        .filter(F.col("r") <= 5)
        .select(
            F.col("query_id").alias("t_query_id"),
            F.col("neighbor_id").alias("t_neighbor_id"),
        )
    )
    overlap = full5.join(
        trunc5,
        (F.col("query_id") == F.col("t_query_id"))
        & (F.col("neighbor_id") == F.col("t_neighbor_id")),
        "left",
    )
    return overlap.groupBy("query_id").agg(
        F.count("t_neighbor_id").alias("n_overlap_at5"),
        (200000 * F.count("t_neighbor_id")).alias("recall_e6"),
    )


_COLBERT_OFFSETS = [0, 16, 32, 48]


def _maxsim_sql() -> str:
    """Σ_{query tokens} max_{doc tokens} ⟨qt, dt⟩ over q.v / d.v
    (quantized BIGINT lists) — shared by the exact-baseline and the
    retrieve-then-rerank oracles so the scoring arithmetic cannot
    drift between them."""

    def dot(oq: int, od: int) -> str:
        return (
            f"list_sum(list_transform(range(1, 17),"
            f" i -> q.v[{oq} + i] * d.v[{od} + i]))"
        )

    return " + ".join(
        "greatest(" + ", ".join(dot(oq, od) for od in _COLBERT_OFFSETS) + ")"
        for oq in _COLBERT_OFFSETS
    )


def _maxsim_expr():
    """Spark twin of _maxsim_sql over columns `qv` (query tokens) and
    `v` (doc tokens): exact int64 4×4 dot grid → per-query-token max →
    sum."""

    def tok_dot(oq: int, od: int):
        return F.aggregate(
            F.zip_with(
                F.slice("qv", oq + 1, 16),
                F.slice("v", od + 1, 16),
                lambda a, b: a * b,
            ),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        )

    maxsim = None
    for oq in _COLBERT_OFFSETS:
        term = F.greatest(*[tok_dot(oq, od) for od in _COLBERT_OFFSETS])
        maxsim = term if maxsim is None else maxsim + term
    return maxsim


def _colbert_oracle_sql() -> str:
    maxsim = _maxsim_sql()
    return f"""
WITH q8 AS (
    SELECT vec_id,
           list_transform(embedding,
               x -> CAST(floor(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS v
    FROM embeddings
), scored AS (
    SELECT q.vec_id AS query_id, d.vec_id AS neighbor_id,
           CAST({maxsim} AS BIGINT) AS maxsim
    FROM q8 q, q8 d
    WHERE q.vec_id % 50 = 0 AND d.vec_id <> q.vec_id
), ranked AS (
    SELECT *, row_number() OVER (PARTITION BY query_id
                                 ORDER BY maxsim DESC, neighbor_id) AS rk
    FROM scored
)
SELECT query_id, neighbor_id, rk, maxsim FROM ranked WHERE rk <= 3
"""


@query("colbert_maxsim_top3", oracle=_colbert_oracle_sql())
def colbert_maxsim_top3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ColBERT-style late-interaction retrieval (Khattab & Zaharia
    2020, public knowledge): each vector is treated as 4 token
    vectors (16-dim slices), score(q,d) = Σ_{query tokens} max_{doc
    tokens} ⟨qt, dt⟩ — MaxSim keeps per-token alignment information a
    single pooled dot product destroys. Token dots are integer
    (floor(e·1000) quantization, the knn_int8 discipline), so the
    4×4 dot grid, the per-query-token max, and the sum are all exact
    int64 and the ranking hash-checks bit-for-bit.

    100 TB shape: the scoring is a pure column expression — the
    query side (every 50th vector) broadcasts with its 4 slices, the
    corpus scans once and (after the r10 spread) never re-shuffles,
    ranking is a per-query-key window. 256 multiplies/pair in
    interpreted HOF lambdas is the fixture path; at true scale the
    same 4×4 MaxSim grid moves into the Arrow kernel
    (operators/similarity.py's ivf machinery) with this query as its
    exact oracle.

    MEASURED at 10× (r10 scaling sweep): exp ≈ 1.49, the highest in
    the catalog — queries AND corpus both scale, so exact MaxSim is
    inherently quadratic with a 16-fold constant; the sf1→sf2 second
    step (r12, manual single-op protocol) measures exp 1.94 — the
    asymptote arriving exactly as the construction predicts
    (52.7s → 202.3s; pair count ×4 at a ×2 step). This is the exact
    BASELINE by design; the production shape is retrieve-then-rerank
    (Khattab & Zaharia §3.3): single-vector ANN candidates first
    (knn_ivf / mrl_truncation machinery), MaxSim only over the ≤k
    candidates per query — linear scan cost, candidate-bounded
    rerank, this query as the rerank's exact oracle — REGISTERED as
    colbert_rerank_top3 (r11, below), measured at exp ≈ 0.53 with
    planted-corpus top-1 fidelity 40/40."""
    from dist_keras_spark.operators.dedup import spread

    # spread() first (r10): the per-pair maxsim folds are interpreted
    e = spread(_lt(spark, sf_dir, "embeddings"), "vec_id")
    q8 = e.select(
        "vec_id",
        F.transform(
            "embedding", lambda x: F.floor(x.cast("double") * 1000).cast("long")
        ).alias("v"),
    )
    queries = q8.filter(F.col("vec_id") % 50 == 0).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv")
    )
    scored = (
        q8.crossJoin(F.broadcast(queries))
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            _maxsim_expr().alias("maxsim"),
        )
    )
    rk = F.row_number().over(
        W.partitionBy("query_id").orderBy(F.desc("maxsim"), F.asc("neighbor_id"))
    )
    return (
        scored.withColumn("rk", rk)
        .filter(F.col("rk") <= 3)
        .select("query_id", "neighbor_id", "rk", "maxsim")
    )


_COLBERT_CANDIDATES = 16


def _colbert_rerank_oracle_sql(c: int = _COLBERT_CANDIDATES) -> str:
    """Full end-to-end replay of retrieve-then-rerank: the candidate
    CTE is the generated knn_ivf oracle (md5 centroid sample, cosine
    cell assignment, probe, exact re-rank — the identical machinery
    the driver already hash-checks as knn_ivf_top5) parameterized to
    this query set (% 50) and candidate count; the rerank applies the
    shared _maxsim_sql over ONLY those candidates."""
    from dist_keras_spark.plans.llm import _knn_ivf_oracle_sql

    cand = _knn_ivf_oracle_sql(n_cells=16, n_probe=8, seed=42, k=c, query_mod=50)
    return f"""
WITH cand AS ({cand}),
q8 AS (
    SELECT vec_id,
           list_transform(embedding,
               x -> CAST(floor(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS v
    FROM embeddings
), scored AS (
    SELECT c.query_id, c.neighbor_id,
           CAST({_maxsim_sql()} AS BIGINT) AS maxsim
    FROM cand c
    JOIN q8 q ON q.vec_id = c.query_id
    JOIN q8 d ON d.vec_id = c.neighbor_id
), ranked AS (
    SELECT *, row_number() OVER (PARTITION BY query_id
                                 ORDER BY maxsim DESC, neighbor_id) AS rk
    FROM scored
)
SELECT query_id, neighbor_id, rk, maxsim FROM ranked WHERE rk <= 3
"""


@query("colbert_rerank_top3", oracle=_colbert_rerank_oracle_sql())
def colbert_rerank_top3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale-safe twin of colbert_maxsim_top3 (VERDICT r10 #1a): the
    PRODUCTION retrieve-then-rerank shape of late interaction (Khattab
    & Zaharia 2020 §3.3). Stage 1 retrieves 16 single-vector ANN
    candidates per query with the existing IVF machinery
    (operators/similarity.py knn_ivf — 16 md5-sampled cells, probe 8,
    exact cosine re-rank within probed cells); stage 2 runs the exact
    integer MaxSim (shared _maxsim_sql/_maxsim_expr with the baseline)
    over ONLY those candidates and keeps the top 3.

    Why this is the 100 TB form: the baseline scores Q × N pairs at
    256 interpreted multiplies each (sweep exp ≈ 1.49 — inherently
    quadratic); here the 256-multiply MaxSim touches Q × 16 rows no
    matter how large the corpus, and the corpus-proportional work is
    the IVF candidate stage, whose cost shape (scan-side Arrow
    assignment, probe-pruned exact cosine) is the already-measured
    knn_ivf path. MEASURED at 10× (r11 sweep, bench_extended_trace
    "scaling_10x"): exp ≈ 0.53 (2.6s → 8.8s) vs the exact baseline's
    1.49 (6.5s → 65s) — the twin is 7× faster at sf1 and the gap
    widens another ~9× per decade. Candidates arrive ids-only and vectors are joined
    back by id (the r10 knn_lsh discipline); both the candidate table
    (Q·16 rows) and the query-token table (Q rows) broadcast, so the
    corpus never shuffles.

    Fidelity vs the exact baseline is measured, not assumed
    (tools/measure_rerank_agreement.py → bench_extended_trace.json
    "colbert_rerank_agreement", r11): on a corpus WITH true neighbor
    structure (the seed-42 planted near-dup variant of sf0.1,
    benchdata/planted) top-1 agreement is 40/40 — the twin finds
    every real near-duplicate the exact ranking finds. On the
    unmodified fixtures agreement is 0.05-0.23 recall@3, and that is
    a FIXTURE property, not a retrieval failure: the corpora are
    near-orthogonal noise (measured: zero of sf0.1's ~2M pairs exceed
    cosine 0.8), so the exact top-3 there is a noise ranking that no
    sublinear retrieval — IVF, LSH, or token-level — can reproduce
    (numpy A/B, r11: exact single-vector top-256 candidates reach
    only 0.27; per-token retrieval 0.65 at equal-or-higher cost)."""
    from dist_keras_spark.operators.similarity import knn_ivf

    e = _lt(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") % 50 == 0)
    cand = knn_ivf(
        e, q, "vec_id", "embedding",
        k=_COLBERT_CANDIDATES, n_cells=16, n_probe=8, seed=42,
    ).select("query_id", "neighbor_id")
    q8 = e.select(
        "vec_id",
        F.transform(
            "embedding", lambda x: F.floor(x.cast("double") * 1000).cast("long")
        ).alias("v"),
    )
    qv = q8.filter(F.col("vec_id") % 50 == 0).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv")
    )
    dv = q8.select(F.col("vec_id").alias("neighbor_id"), "v")
    scored = (
        dv.join(F.broadcast(cand), "neighbor_id")
        .join(F.broadcast(qv), "query_id")
        .select("query_id", "neighbor_id", _maxsim_expr().alias("maxsim"))
    )
    rk = F.row_number().over(
        W.partitionBy("query_id").orderBy(F.desc("maxsim"), F.asc("neighbor_id"))
    )
    return (
        scored.withColumn("rk", rk)
        .filter(F.col("rk") <= 3)
        .select("query_id", "neighbor_id", "rk", "maxsim")
    )


# --------------------------------------------------------------------------
# Training-data curation: cluster-cap sampling + incremental batch dedup
# --------------------------------------------------------------------------


def _cluster_cap_oracle_sql() -> str:
    return f"""
WITH cc AS ({ORACLE["neardup_cluster_assign"]}),
ranked AS (
    SELECT d.doc_id, cc.cluster_id, d.n_chars,
           row_number() OVER (PARTITION BY cc.cluster_id
                              ORDER BY d.n_chars DESC, d.doc_id) AS rank_in_cluster
    FROM documents d JOIN cc ON cc.doc_id = d.doc_id
)
SELECT doc_id, CAST(cluster_id AS BIGINT) AS cluster_id,
       CAST(rank_in_cluster AS BIGINT) AS rank_in_cluster
FROM ranked WHERE rank_in_cluster <= 2
"""


@query("cluster_cap_sample", oracle=_cluster_cap_oracle_sql())
def cluster_cap_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-cap sampling — the web-corpus curation step that keeps
    at most K representatives per near-dup cluster instead of exactly
    one (public knowledge: RefinedWeb/FineWeb-style pipelines cap
    rather than hard-dedup, preserving natural-duplication signal
    while bounding any one template's mass). Clusters are the
    REGISTERED neardup_cluster_assign connected components wrapped as
    a CTE — this query is pinned to the exact clustering the driver
    already hash-checks; the keep-rank orders by quality proxy
    (n_chars DESC, the longest-representative heuristic) with doc_id
    tie-break, K = 2.

    100 TB shape: one join of documents with the cluster map (both
    keyed on doc_id — co-partitioned), one cluster-keyed window;
    singleton clusters (the overwhelming mass) pass through rank 1
    untouched. The cap is a WHERE on a rank, so changing K is free.

    Two-step regime note (sf1→sf2 sweep, r11): exp 2.62 — INHERITED
    from neardup_cluster_assign's exact 3-gram candidate join (the
    saturated-shingle-space mechanism); the cap machinery itself is
    one join + one window. Kept as the exact ORACLE baseline; the
    registered scale-safe path is cluster_cap_sample_lsh."""
    from dist_keras_spark.plans.llm import neardup_cluster_assign

    cc = neardup_cluster_assign(spark, sf_dir)
    d = _lt(spark, sf_dir, "documents").select("doc_id", "n_chars")
    ranked = d.join(cc, "doc_id").withColumn(
        "rank_in_cluster",
        F.row_number().over(
            W.partitionBy("cluster_id").orderBy(
                F.desc("n_chars"), F.asc("doc_id")
            )
        ),
    )
    return (
        ranked.filter(F.col("rank_in_cluster") <= 2)
        .select(
            "doc_id",
            F.col("cluster_id").cast("long").alias("cluster_id"),
            F.col("rank_in_cluster").cast("long").alias("rank_in_cluster"),
        )
    )


def _cluster_cap_lsh_oracle_sql() -> str:
    return f"""
WITH cc AS ({ORACLE["neardup_cluster_lsh"]}),
ranked AS (
    SELECT d.doc_id, cc.cluster_id, d.n_chars,
           row_number() OVER (PARTITION BY cc.cluster_id
                              ORDER BY d.n_chars DESC, d.doc_id) AS rank_in_cluster
    FROM documents d JOIN cc ON cc.doc_id = d.doc_id
)
SELECT doc_id, CAST(cluster_id AS BIGINT) AS cluster_id,
       CAST(rank_in_cluster AS BIGINT) AS rank_in_cluster
FROM ranked WHERE rank_in_cluster <= 2
"""


@query("cluster_cap_sample_lsh", oracle=_cluster_cap_lsh_oracle_sql())
def cluster_cap_sample_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SCALE-SAFE twin of cluster_cap_sample: the identical
    keep-≤2-per-cluster epilogue (n_chars DESC quality proxy, doc_id
    tie-break) over neardup_cluster_lsh's MinHash-band clusters
    (τ = 0.8) instead of the exact 3-gram postings clustering whose
    candidate join saturates the fixture shingle space (baseline
    sf1→sf2 exp 2.62, inherited — see cluster_cap_sample). Oracle
    wraps the REGISTERED neardup_cluster_lsh recursive-CTE fixpoint,
    so the cap is pinned to exactly the clustering the driver already
    hash-checks. Inherits neardup_cluster_lsh's max_bucket=None (the
    band-bucket drop valve is DISABLED in the registered form — no
    upper-bound filter, no eager count; ADVICE r12 — see its
    accepted-risk notes)."""
    from dist_keras_spark.plans.llm import neardup_cluster_lsh

    cc = neardup_cluster_lsh(spark, sf_dir)
    d = _lt(spark, sf_dir, "documents").select("doc_id", "n_chars")
    ranked = d.join(cc, "doc_id").withColumn(
        "rank_in_cluster",
        F.row_number().over(
            W.partitionBy("cluster_id").orderBy(
                F.desc("n_chars"), F.asc("doc_id")
            )
        ),
    )
    return (
        ranked.filter(F.col("rank_in_cluster") <= 2)
        .select(
            "doc_id",
            F.col("cluster_id").cast("long").alias("cluster_id"),
            F.col("rank_in_cluster").cast("long").alias("rank_in_cluster"),
        )
    )


_IDB_BUCKET = (
    "((strpos('0123456789abcdef', substring(md5(CAST(doc_id AS VARCHAR)),1,1))-1)*4096"
    "+(strpos('0123456789abcdef', substring(md5(CAST(doc_id AS VARCHAR)),2,1))-1)*256"
    "+(strpos('0123456789abcdef', substring(md5(CAST(doc_id AS VARCHAR)),3,1))-1)*16"
    "+(strpos('0123456789abcdef', substring(md5(CAST(doc_id AS VARCHAR)),4,1))-1)) % 100"
)


@query(
    "incremental_dedup_new_batch",
    oracle=f"""
WITH batch AS (SELECT * FROM documents WHERE {_IDB_BUCKET} < 20),
corpus AS (SELECT * FROM documents WHERE {_IDB_BUCKET} >= 20),
exact AS (
    SELECT DISTINCT b.doc_id
    FROM batch b JOIN corpus c ON md5(b.text) = md5(c.text)
),
bs AS (
    SELECT doc_id,
           list_distinct(list_transform(range(1, len(t) - 1),
                         i -> array_to_string(t[i:i+2], ' '))) AS s
    FROM (SELECT doc_id, string_split(text, ' ') AS t FROM batch)
),
cs AS (
    SELECT doc_id,
           list_distinct(list_transform(range(1, len(t) - 1),
                         i -> array_to_string(t[i:i+2], ' '))) AS s
    FROM (SELECT doc_id, string_split(text, ' ') AS t FROM corpus)
),
bp AS (SELECT doc_id, len(s) AS ns, unnest(s) AS shingle FROM bs WHERE len(s) > 0),
cp AS (SELECT doc_id, len(s) AS ns, unnest(s) AS shingle FROM cs WHERE len(s) > 0),
near AS (
    SELECT b.doc_id AS batch_id, c.doc_id AS corpus_id
    FROM bp b JOIN cp c ON b.shingle = c.shingle
    GROUP BY 1, 2
    HAVING 2 * count(*) >= any_value(b.ns) + any_value(c.ns) - count(*)
),
nearn AS (
    SELECT batch_id, CAST(count(*) AS BIGINT) AS n_near_matches
    FROM near GROUP BY batch_id
)
SELECT b.doc_id,
       CAST(CASE WHEN e.doc_id IS NOT NULL THEN 1 ELSE 0 END AS BIGINT)
           AS exact_dup,
       CAST(coalesce(n.n_near_matches, 0) AS BIGINT) AS n_near_matches,
       CAST(CASE WHEN e.doc_id IS NULL AND n.batch_id IS NULL THEN 1
                 ELSE 0 END AS BIGINT) AS keep
FROM batch b
LEFT JOIN exact e ON e.doc_id = b.doc_id
LEFT JOIN nearn n ON n.batch_id = b.doc_id
""",
)
def incremental_dedup_new_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL dedup — the production shape every crawl pipeline
    actually runs: dedup a NEW BATCH (deterministic 20% md5 stratum)
    against the EXISTING CORPUS (the other 80%), never corpus ×
    corpus. Exact layer: md5(text) anti-profile against the corpus
    hash set. Near layer: ASYMMETRIC inverted-index join — batch
    postings probe corpus postings, exact Jaccard ≥ 0.5 decided by
    the integer cross-multiplied form (2c ≥ na+nb−c). Per batch doc:
    exact_dup, near-match count, and the keep verdict.

    100 TB shape: the cost is |batch|·df-bounded, NOT corpus² — the
    corpus side contributes only postings matching a batch shingle
    (predicate-pushed through the join); at true scale the corpus
    postings/hashes are a maintained index (the snapshot/IVM
    machinery in sources/snapshots.py) so each nightly batch pays
    only its own scan plus probes. The md5 split makes the fixture
    self-contained; production swaps the stratum for arrival date.

    The "df-bounded" term is the load-bearing assumption, and the r11
    second scale step measured its failure on the dense synthetic
    vocab: the 3-gram space is 31³ ≈ 30k, saturated early, per-shingle
    df ∝ N, probe pairs ∝ N²/30k — exp ≈ 3.7 at sf1→sf2 on a quiet
    window ("scaling_sf1_sf2"). Real text concentrates the same mass
    in the trigram df head instead. The production twin with the
    absolute-df-cap probe is REGISTERED as incremental_dedup_dfcap
    (below): structural precision 1, pairs/shingle constant."""
    from dist_keras_spark.operators.dedup import shingle_postings
    from dist_keras_spark.operators.quality import hash_split

    d = _lt(spark, sf_dir, "documents")
    bucket = hash_split(d, "doc_id", 100)
    batch = d.filter(bucket < 20)
    corpus = d.filter(bucket >= 20)
    exact = (
        batch.alias("b")
        .join(
            corpus.alias("c"),
            F.md5(F.col("b.text")) == F.md5(F.col("c.text")),
        )
        .select(F.col("b.doc_id").alias("doc_id"))
        .distinct()
        .withColumn("exact_hit", F.lit(1))
    )

    def postings(df: DataFrame, out_id: str) -> DataFrame:
        # codegen explode path (shingle_postings), not the interpreted
        # transform() array — same rows, ~5× cheaper (r9 measured).
        return shingle_postings(df, "doc_id", "text", 3).select(
            F.col("id").alias(out_id),
            F.col("ns").alias(f"{out_id}_ns"),
            "shingle",
        )

    bp = postings(batch, "batch_id")
    cp = postings(corpus, "corpus_id")
    near = (
        bp.join(cp, "shingle")
        .groupBy("batch_id", "corpus_id")
        .agg(
            F.count(F.lit(1)).alias("c"),
            F.first("batch_id_ns").alias("na"),
            F.first("corpus_id_ns").alias("nb"),
        )
        .filter(2 * F.col("c") >= F.col("na") + F.col("nb") - F.col("c"))
    )
    nearn = near.groupBy("batch_id").agg(
        F.count(F.lit(1)).alias("n_near_matches")
    )
    return (
        batch.select("doc_id")
        .join(exact, "doc_id", "left")
        .join(nearn, batch.doc_id == nearn.batch_id, "left")
        .select(
            "doc_id",
            F.coalesce(F.col("exact_hit"), F.lit(0)).cast("long").alias(
                "exact_dup"
            ),
            F.coalesce(F.col("n_near_matches"), F.lit(0)).cast("long").alias(
                "n_near_matches"
            ),
            F.when(
                F.col("exact_hit").isNull() & F.col("batch_id").isNull(),
                F.lit(1),
            )
            .otherwise(F.lit(0))
            .cast("long")
            .alias("keep"),
        )
    )


_IDB_DFCAP = 64  # absolute corpus-df cap on probe shingles (tfidf_dfcap dial)


@query(
    "incremental_dedup_dfcap",
    oracle=f"""
WITH batch AS (SELECT * FROM documents WHERE {_IDB_BUCKET} < 20),
corpus AS (SELECT * FROM documents WHERE {_IDB_BUCKET} >= 20),
exact AS (
    SELECT DISTINCT b.doc_id
    FROM batch b JOIN corpus c ON md5(b.text) = md5(c.text)
),
bs AS (
    SELECT doc_id,
           list_distinct(list_transform(range(1, len(t) - 1),
                         i -> array_to_string(t[i:i+2], ' '))) AS s
    FROM (SELECT doc_id, string_split(text, ' ') AS t FROM batch)
),
cs AS (
    SELECT doc_id,
           list_distinct(list_transform(range(1, len(t) - 1),
                         i -> array_to_string(t[i:i+2], ' '))) AS s
    FROM (SELECT doc_id, string_split(text, ' ') AS t FROM corpus)
),
bp AS (SELECT doc_id, len(s) AS ns, unnest(s) AS shingle FROM bs WHERE len(s) > 0),
cp AS (SELECT doc_id, len(s) AS ns, unnest(s) AS shingle FROM cs WHERE len(s) > 0),
cpc AS (
    SELECT cp.doc_id, cp.ns, cp.shingle
    FROM cp JOIN (SELECT shingle FROM cp GROUP BY shingle
                  HAVING count(*) <= {_IDB_DFCAP}) ok USING (shingle)
),
near AS (
    SELECT b.doc_id AS batch_id, c.doc_id AS corpus_id
    FROM bp b JOIN cpc c ON b.shingle = c.shingle
    GROUP BY 1, 2
    HAVING 2 * count(*) >= any_value(b.ns) + any_value(c.ns) - count(*)
),
nearn AS (
    SELECT batch_id, CAST(count(*) AS BIGINT) AS n_near_matches
    FROM near GROUP BY batch_id
)
SELECT b.doc_id,
       CAST(CASE WHEN e.doc_id IS NOT NULL THEN 1 ELSE 0 END AS BIGINT)
           AS exact_dup,
       CAST(coalesce(n.n_near_matches, 0) AS BIGINT) AS n_near_matches,
       CAST(CASE WHEN e.doc_id IS NULL AND n.batch_id IS NULL THEN 1
                 ELSE 0 END AS BIGINT) AS keep
FROM batch b
LEFT JOIN exact e ON e.doc_id = b.doc_id
LEFT JOIN nearn n ON n.batch_id = b.doc_id
""",
)
def incremental_dedup_dfcap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale-safe twin of incremental_dedup_new_batch: absolute
    corpus-df ≤ 64 cap on the probe join (the tfidf_cosine_pairs_
    dfcap dial applied to the Jaccard layer). The r11 second scale
    step measured the uncapped probe at exp ≈ 3.7 on a quiet window
    (sf1→sf2, "scaling_sf1_sf2"): its 3-gram shingle space is only
    31³ ≈ 30k on the synthetic vocab, SATURATED ~31× earlier than
    ppjoin's 4-gram space, so per-shingle df grows ∝ N and the
    batch×corpus posting join pairs grow ∝ N²/30k. Real Zipfian text
    has the same failure concentrated in the df head ("of the and"
    trigrams), which is why production crawl dedup always caps or
    drops hot shingles from the index probe.

    Correctness structure (the dfcap lower-bound argument, Jaccard
    form): capping only shrinks the counted intersection c′ ≤ c while
    na/nb stay FULL distinct-shingle counts, and 2c′ ≥ na+nb−c′
    implies 2c ≥ na+nb−c — so every emitted near-match is a TRUE
    Jaccard ≥ 0.5 pair (structural precision 1; recall is the traded
    quantity, pytest-pinned equal to the uncapped answer on the
    fixtures, where 3-gram df never exceeds the cap). `keep` is
    correspondingly an over-approximation: a doc kept here may be
    dropped by the full probe, never vice versa.

    100 TB shape: identical to the baseline except the probe join
    input is bounded at 64 corpus postings per shingle — pairs per
    shingle constant, so the join is |batch postings|·O(64)
    regardless of corpus density; the df profile is ONE count on the
    maintained postings index (production keeps it as index metadata).

    Reference: cerndb/dist-keras has no dedup surface; the brief's
    training-data pipeline ops make incremental crawl dedup
    first-class (COVERAGE.md)."""
    from dist_keras_spark.operators.dedup import shingle_postings
    from dist_keras_spark.operators.quality import hash_split

    d = _lt(spark, sf_dir, "documents")
    bucket = hash_split(d, "doc_id", 100)
    batch = d.filter(bucket < 20)
    corpus = d.filter(bucket >= 20)
    exact = (
        batch.alias("b")
        .join(
            corpus.alias("c"),
            F.md5(F.col("b.text")) == F.md5(F.col("c.text")),
        )
        .select(F.col("b.doc_id").alias("doc_id"))
        .distinct()
        .withColumn("exact_hit", F.lit(1))
    )

    def postings(df: DataFrame, out_id: str) -> DataFrame:
        return shingle_postings(df, "doc_id", "text", 3).select(
            F.col("id").alias(out_id),
            F.col("ns").alias(f"{out_id}_ns"),
            "shingle",
        )

    bp = postings(batch, "batch_id")
    cp = postings(corpus, "corpus_id")
    ok = (
        cp.groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("cdf"))
        .filter(F.col("cdf") <= _IDB_DFCAP)
        .select("shingle")
    )
    cpc = cp.join(ok, "shingle")
    near = (
        bp.join(cpc, "shingle")
        .groupBy("batch_id", "corpus_id")
        .agg(
            F.count(F.lit(1)).alias("c"),
            F.first("batch_id_ns").alias("na"),
            F.first("corpus_id_ns").alias("nb"),
        )
        .filter(2 * F.col("c") >= F.col("na") + F.col("nb") - F.col("c"))
    )
    nearn = near.groupBy("batch_id").agg(
        F.count(F.lit(1)).alias("n_near_matches")
    )
    return (
        batch.select("doc_id")
        .join(exact, "doc_id", "left")
        .join(nearn, batch.doc_id == nearn.batch_id, "left")
        .select(
            "doc_id",
            F.coalesce(F.col("exact_hit"), F.lit(0)).cast("long").alias(
                "exact_dup"
            ),
            F.coalesce(F.col("n_near_matches"), F.lit(0)).cast("long").alias(
                "n_near_matches"
            ),
            F.when(
                F.col("exact_hit").isNull() & F.col("batch_id").isNull(),
                F.lit(1),
            )
            .otherwise(F.lit(0))
            .cast("long")
            .alias("keep"),
        )
    )


# --------------------------------------------------------------------------
# Events family: sessionization with a hard duration cap
# --------------------------------------------------------------------------


_CAP_SESSIONS_SQL = """
WITH prevd AS (
    SELECT user_id, ts, event_id,
           lag(ts) OVER (PARTITION BY user_id
                         ORDER BY ts, event_id) AS prev_ts
    FROM events
), flagged AS (
    -- second-truncated gap on BOTH engines (date_diff('second') ==
    -- Spark unix_timestamp subtraction): the cap family works in
    -- whole seconds throughout, so the gap test must too
    SELECT user_id, ts, event_id,
           CASE WHEN date_diff('second', prev_ts, ts) <= 1800
                THEN 0 ELSE 1 END AS new_sess
    FROM prevd
), numbered AS (
    SELECT user_id, ts, event_id,
           sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                               ROWS UNBOUNDED PRECEDING) AS sid
    FROM flagged
), anchored AS (
    SELECT user_id, ts, sid,
           min(ts) OVER (PARTITION BY user_id, sid) AS gap_start
    FROM numbered
), capped AS (
    SELECT user_id, ts, sid,
           CAST(date_diff('second', gap_start, ts) AS BIGINT) // 7200 AS sub
    FROM anchored
)
SELECT user_id,
       min(ts) AS session_start,
       CAST(count(*) AS BIGINT) AS n,
       CAST(date_diff('second', min(ts), max(ts)) AS BIGINT) AS span_s
FROM capped
GROUP BY user_id, sid, sub
"""


@query("sessionize_with_cap", oracle=_CAP_SESSIONS_SQL)
def sessionize_with_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dual-boundary sessionization: the 30-minute inactivity gap of
    events_session_window PLUS a hard 2-hour duration cap — the
    analytics contract most product pipelines actually use (a
    always-on device never closes its gap session; the cap bounds
    state and session length). Gap and cap both work in WHOLE
    seconds (second-truncated diffs agree across engines; the
    interval-exact gap of events_session_window differs only for
    sub-second boundary grazes). Two deterministic passes: gaps-and-
    islands (lag → cumulative flag sum) anchors each gap-session's
    start, then the cap splits it at whole 2-hour offsets from that
    anchor — each event's final session is pure arithmetic on its
    own timestamp, no iteration. Second-boundary diffs are integer
    on both engines (date_diff('second') == unix truncation for
    positive timestamps).

    100 TB shape: every window partitions on user_id (the data-
    scaling key) over ONE shuffle — Catalyst reuses the (user_id)
    exchange across the lag, the cumulative sum, the anchor min and
    the final aggregation. This is also the batch oracle for the
    streaming state-bound story: the cap is what makes
    applyInPandasWithState state provably bounded per key."""
    e = _lt(spark, sf_dir, "events")
    wo = W.partitionBy("user_id").orderBy("ts", "event_id")
    flagged = e.select(
        "user_id",
        "ts",
        "event_id",
        F.when(
            epoch_s("ts") - epoch_s(F.lag(F.col("ts")).over(wo)) <= 1800,
            F.lit(0),
        )
        .otherwise(F.lit(1))
        .alias("new_sess"),
    )
    numbered = flagged.withColumn(
        "sid",
        F.sum("new_sess").over(wo.rowsBetween(W.unboundedPreceding, 0)),
    )
    anchored = numbered.withColumn(
        "gap_start", F.min("ts").over(W.partitionBy("user_id", "sid"))
    )
    capped = anchored.withColumn(
        "sub",
        ((epoch_s("ts") - epoch_s("gap_start")) / F.lit(7200)).cast("long"),
    )
    return capped.groupBy("user_id", "sid", "sub").agg(
        F.min("ts").alias("session_start"),
        F.count(F.lit(1)).alias("n"),
        (epoch_s(F.max("ts")) - epoch_s(F.min("ts"))).alias("span_s"),
    ).select("user_id", "session_start", "n", "span_s")


# --------------------------------------------------------------------------
# Profiler breadth: the documents table (string-heavy profile)
# --------------------------------------------------------------------------


@query(
    "table_profile_documents",
    oracle="""
WITH s AS (
    SELECT CAST(count(*) AS BIGINT) AS n_rows,
           CAST(count(*) - count(doc_id) AS BIGINT) AS nu_i,
           CAST(count(DISTINCT doc_id) AS BIGINT) AS nd_i,
           CAST(min(doc_id) AS VARCHAR) AS mn_i,
           CAST(max(doc_id) AS VARCHAR) AS mx_i,
           CAST(count(*) - count(text) AS BIGINT) AS nu_t,
           CAST(count(DISTINCT length(text)) AS BIGINT) AS nd_t,
           CAST(min(length(text)) AS VARCHAR) AS mn_t,
           CAST(max(length(text)) AS VARCHAR) AS mx_t,
           CAST(count(*) - count(lang) AS BIGINT) AS nu_l,
           CAST(count(DISTINCT lang) AS BIGINT) AS nd_l,
           min(lang) AS mn_l, max(lang) AS mx_l,
           CAST(count(*) - count(source) AS BIGINT) AS nu_s,
           CAST(count(DISTINCT source) AS BIGINT) AS nd_s,
           min(source) AS mn_s, max(source) AS mx_s,
           CAST(count(*) - count(n_chars) AS BIGINT) AS nu_c,
           CAST(count(DISTINCT n_chars) AS BIGINT) AS nd_c,
           CAST(min(n_chars) AS VARCHAR) AS mn_c,
           CAST(max(n_chars) AS VARCHAR) AS mx_c
    FROM documents
)
SELECT column_name, n_rows, n_nulls, n_distinct, min_repr, max_repr
FROM (
    SELECT n_rows, 'doc_id' AS column_name, nu_i AS n_nulls,
           nd_i AS n_distinct, mn_i AS min_repr, mx_i AS max_repr FROM s
    UNION ALL SELECT n_rows, 'text_len', nu_t, nd_t, mn_t, mx_t FROM s
    UNION ALL SELECT n_rows, 'lang', nu_l, nd_l, mn_l, mx_l FROM s
    UNION ALL SELECT n_rows, 'source', nu_s, nd_s, mn_s, mx_s FROM s
    UNION ALL SELECT n_rows, 'n_chars', nu_c, nd_c, mn_c, mx_c FROM s
)
""",
)
def table_profile_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The one-pass profiler (table_profile_orders's twin) on the
    STRING-HEAVY documents table — the data-catalog ingest step for a
    text corpus: per column, nulls / exact distincts / min / max in
    ONE aggregate scan. The text column profiles by LENGTH (raw
    multi-KB strings as min/max reprs would bloat the catalog row and
    teach nothing; length distribution is what a corpus profile
    reads). lang/source min/max are ASCII — byte-order comparable
    identically on both engines.

    100 TB shape: one scan, all columns' partials together (Spark's
    multi-distinct Expand shares it); 5-row stack output. Exact
    distincts swap for HLL at true scale with
    approx_count_distinct_certified as the certification pattern.

    r14 (same fix as table_profile_orders, guide §7.2): min/max over
    the lang/source STRING columns used to sit inside the
    multi-distinct aggregate; a string aggregation buffer excludes
    HashAggregateExec, demoting the whole 6×-Expanded frame to
    Sort + SortAggregate. The string min/max now ride a keyless
    side-aggregate (no sort regardless of operator) broadcast back;
    the Expand pass plans as HashAggregate (keyed SortAggregate 8→0,
    full-frame Sorts 4→0, one extra 2-column scan). Interleaved A/B:
    wash at sf0.1 (0.69 vs 0.62 / 0.80 vs 0.79 min — the table is
    tiny there), decisive at sf1 where the sort cost shows: 0.830 vs
    1.258 and 0.871 vs 1.354 min (0.65×), alternated rounds. Result
    bit-identical (oracle hash-green at 3 SFs)."""
    d = _lt(spark, sf_dir, "documents")
    str_mm = d.agg(
        F.min("lang").alias("mn_l"),
        F.max("lang").alias("mx_l"),
        F.min("source").alias("mn_s"),
        F.max("source").alias("mx_s"),
    )
    s = d.agg(
        F.count(F.lit(1)).alias("n_rows"),
        (F.count(F.lit(1)) - F.count("doc_id")).alias("nu_i"),
        F.countDistinct("doc_id").alias("nd_i"),
        F.min("doc_id").cast("string").alias("mn_i"),
        F.max("doc_id").cast("string").alias("mx_i"),
        (F.count(F.lit(1)) - F.count("text")).alias("nu_t"),
        F.countDistinct(F.length("text")).alias("nd_t"),
        F.min(F.length("text")).cast("string").alias("mn_t"),
        F.max(F.length("text")).cast("string").alias("mx_t"),
        (F.count(F.lit(1)) - F.count("lang")).alias("nu_l"),
        F.countDistinct("lang").alias("nd_l"),
        (F.count(F.lit(1)) - F.count("source")).alias("nu_s"),
        F.countDistinct("source").alias("nd_s"),
        (F.count(F.lit(1)) - F.count("n_chars")).alias("nu_c"),
        F.countDistinct("n_chars").alias("nd_c"),
        F.min("n_chars").cast("string").alias("mn_c"),
        F.max("n_chars").cast("string").alias("mx_c"),
    )
    s = s.crossJoin(F.broadcast(str_mm))  # 1 row × 1 row: sanctioned
    return s.select(
        F.expr(
            "stack(5,"
            " 'doc_id', nu_i, nd_i, mn_i, mx_i,"
            " 'text_len', nu_t, nd_t, mn_t, mx_t,"
            " 'lang', nu_l, nd_l, mn_l, mx_l,"
            " 'source', nu_s, nd_s, mn_s, mx_s,"
            " 'n_chars', nu_c, nd_c, mn_c, mx_c"
            ") AS (column_name, n_nulls, n_distinct, min_repr, max_repr)"
        ),
        "n_rows",
    ).select(
        "column_name", "n_rows", "n_nulls", "n_distinct", "min_repr", "max_repr"
    )


# --------------------------------------------------------------------------
# Multimodal trio completion: VIDEO frame-sampling
# --------------------------------------------------------------------------


def _video_oracle_sql() -> str:
    def byte(idx_expr: str) -> str:
        return (
            f"('0x' || substr(sha256(text || ':' ||"
            f" CAST(({idx_expr}) // 32 AS VARCHAR)),"
            f" 2 * (({idx_expr}) % 32) + 1, 2))::BIGINT"
        )

    return f"""
WITH fr AS (SELECT unnest([0, 2, 4, 6]) AS frame_idx),
px AS (
    SELECT doc_id, fr.frame_idx,
           list_transform(range(0, 16),
               j -> {byte("16 * fr.frame_idx + j")}) AS p,
           CASE WHEN fr.frame_idx = 0 THEN NULL
                ELSE list_transform(range(0, 16),
                    j -> {byte("16 * (fr.frame_idx - 2) + j")}) END AS q
    FROM documents, fr
)
SELECT doc_id, CAST(frame_idx AS BIGINT) AS frame_idx,
       CAST(list_sum(p) AS BIGINT) AS pixel_sum,
       CAST(list_min(p) AS BIGINT) AS pixel_min,
       CAST(list_max(p) AS BIGINT) AS pixel_max,
       CAST(CASE WHEN q IS NULL THEN 0
                 ELSE list_sum(list_transform(range(1, 17),
                      j -> abs(p[j] - q[j]))) END AS BIGINT) AS motion
FROM px
"""


@query("multimodal_video_framestats", oracle=_video_oracle_sql())
def multimodal_video_framestats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J9 VIDEO modality, completing the trio (image: env-blocked
    behind decode_image's documented NotImplementedError; audio:
    multimodal_audio_energy; video: THIS): opaque blob → Arrow
    mapInPandas decode → temporal FRAME SAMPLING (every 2nd of 8
    frames) → one row per sampled frame with exact int64 pixel
    sum/min/max and the Σ|pₜ−pₜ₋₂| motion proxy against the previous
    sampled frame. The decoder is the deterministic counter-mode
    sha256 stand-in (same stream the audio op documents, so the
    oracle replays frame t pixel j as flat byte 16t+j); a real codec
    is a drop-in at operators/multimodal.py::fake_video_frames.

    100 TB shape: blobs decode ONCE inside the scan-side Arrow batch
    and explode to frame rows at decode time — raw video bytes never
    shuffle; the stride is the standard cost dial (sampling 1-in-30
    frames is 30× less tensor traffic); frame rows carry only stats
    and land on whatever key the downstream trainer joins."""
    from dist_keras_spark.operators.multimodal import (
        attach_blob,
        fake_video_frame_stats,
    )

    d = attach_blob(_lt(spark, sf_dir, "documents"))
    out = fake_video_frame_stats(
        d, n_frames=8, frame_px=16, stride=2
    )
    return out.select(
        "doc_id",
        F.col("frame_idx").cast("long").alias("frame_idx"),
        "pixel_sum",
        "pixel_min",
        "pixel_max",
        "motion",
    )


# --------------------------------------------------------------------------
# Warehouse telemetry: cumulative distinct users, partition skew audit,
# Zipf rank-frequency head
# --------------------------------------------------------------------------


@query(
    "cumulative_distinct_users",
    oracle="""
WITH firsts AS (
    SELECT event_type, user_id, min(CAST(ts AS DATE)) AS first_day
    FROM events GROUP BY 1, 2
), per_day AS (
    SELECT event_type, first_day AS day,
           CAST(count(*) AS BIGINT) AS n_new
    FROM firsts GROUP BY 1, 2
)
SELECT event_type, day, n_new,
       CAST(sum(n_new) OVER (PARTITION BY event_type ORDER BY day
                             ROWS UNBOUNDED PRECEDING) AS BIGINT)
           AS n_cum
FROM per_day
""",
)
def cumulative_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Users-to-date growth curve per event type — the warehouse DAU/
    cumulative-reach metric, computed WITHOUT a cumulative distinct
    (which has no efficient distributive form): each (type, user)
    reduces to its FIRST day (one hash agg), daily new-user counts
    roll up from that, and the cumulative sum runs over the CALENDAR
    grid, never over events. A new day's refresh appends one grid
    row — the same incremental argument as incremental_rollup_merge.
    Complements win_cumulative_distinct (analytics.py), which is the
    per-EVENT running distinct at row grain; this is the corpus
    growth curve at calendar grain with an incremental refresh shape.

    100 TB shape: the only data-sized operation is the (type, user)
    first-touch aggregation (map-side combined); everything after is
    calendar × type bounded. Window partitions on event_type."""
    e = _lt(spark, sf_dir, "events")
    firsts = e.groupBy("event_type", "user_id").agg(
        F.min(F.to_date("ts")).alias("first_day")
    )
    per_day = firsts.groupBy(
        "event_type", F.col("first_day").alias("day")
    ).agg(F.count(F.lit(1)).alias("n_new"))
    win = (
        W.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(W.unboundedPreceding, 0)
    )
    return per_day.select(
        "event_type",
        "day",
        "n_new",
        F.sum("n_new").over(win).cast("long").alias("n_cum"),
    )


@query(
    "partition_skew_stats",
    oracle="""
WITH b AS (
    SELECT ((strpos('0123456789abcdef',
                substring(md5(CAST(l_orderkey AS VARCHAR)), 1, 1)) - 1) * 16
          + (strpos('0123456789abcdef',
                substring(md5(CAST(l_orderkey AS VARCHAR)), 2, 1)) - 1)) % 32
               AS bucket,
           l_orderkey
    FROM lineitem
), per AS (
    SELECT CAST(bucket AS BIGINT) AS bucket,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(count(DISTINCT l_orderkey) AS BIGINT) AS n_keys
    FROM b GROUP BY bucket
), tot AS (SELECT CAST(sum(n_rows) AS BIGINT) AS total,
                  CAST(count(*) AS BIGINT) AS n_buckets FROM per)
SELECT p.bucket, p.n_rows, p.n_keys,
       CAST((10000 * p.n_rows) // t.total AS BIGINT) AS share_bp,
       CAST(CASE WHEN p.n_rows * t.n_buckets * 100 > 120 * t.total
                 THEN 1 ELSE 0 END AS BIGINT) AS hot
FROM per p CROSS JOIN tot t
""",
)
def partition_skew_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shuffle-partition skew audit — the diagnosis you run BEFORE
    picking a join/agg key at scale: rows and distinct keys per
    md5-bucket (32 buckets stand in for shuffle partitions; md5
    rather than Spark's internal hash so the oracle replays the
    assignment), each bucket's share in basis points, and a hot flag
    at >1.2× the fair share via the integer cross-multiplied form
    (n·B·100 > 120·total — no division, no float). Feeds the salting
    decision: a hot bucket with FEW distinct keys salts; one with
    many keys just repartitions.

    100 TB shape: one hash aggregation, bucket-bounded output; this
    is the cheap dry-run twin of AQE's runtime skew detection, and
    the audit the join_skew_salted plan cites as its trigger."""
    li = _lt(spark, sf_dir, "lineitem")
    bucket = F.pmod(
        F.conv(
            F.substring(F.md5(F.col("l_orderkey").cast("string")), 1, 2), 16, 10
        ).cast("long"),
        F.lit(32),
    )
    per = li.groupBy(bucket.alias("bucket")).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.countDistinct("l_orderkey").alias("n_keys"),
    )
    tot = per.agg(
        F.sum("n_rows").alias("total"), F.count(F.lit(1)).alias("n_buckets")
    )
    return per.crossJoin(F.broadcast(tot)).select(
        F.col("bucket").cast("long").alias("bucket"),
        "n_rows",
        "n_keys",
        F.expr("(10000 * n_rows) div total").cast("long").alias("share_bp"),
        F.when(
            F.col("n_rows") * F.col("n_buckets") * 100 > 120 * F.col("total"),
            F.lit(1),
        )
        .otherwise(F.lit(0))
        .cast("long")
        .alias("hot"),
    )


@query(
    "zipf_rank_frequency",
    oracle="""
WITH freq AS (
    SELECT token, CAST(count(*) AS BIGINT) AS f
    FROM (SELECT unnest(string_split(text, ' ')) AS token FROM documents)
    WHERE token <> ''
    GROUP BY token
), tot AS (SELECT CAST(sum(f) AS BIGINT) AS total FROM freq),
top AS (
    SELECT token, f FROM freq ORDER BY f DESC, token LIMIT 50
)
SELECT token,
       CAST(row_number() OVER (ORDER BY f DESC, token) AS BIGINT) AS rank,
       f AS freq,
       CAST(row_number() OVER (ORDER BY f DESC, token) * f AS BIGINT)
           AS rf_product,
       CAST((1000000 * f) // t.total AS BIGINT) AS share_e6
FROM top CROSS JOIN tot t
""",
)
def zipf_rank_frequency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf head diagnostic (public knowledge: rank × frequency ≈
    constant in natural text): the top-50 tokens with rank, count,
    the r·f product whose flatness IS the Zipf check, and each
    token's corpus share in e6 fixed point. A sharply non-flat r·f
    head is the boilerplate/template signal the dedup valves
    (max_df, PPJoin prefix) key off — this query is their measured
    justification on any corpus.

    100 TB shape: one token count (map-side combined), a top-50
    LIMIT, then a POST-LIMIT bounded ranking window (the reviewed
    bounded-window pattern) — the vocabulary never sorts globally
    beyond the top-k selection."""
    from dist_keras_spark.operators.utils import bounded_window_key

    d = _lt(spark, sf_dir, "documents")
    freq = (
        d.select(F.explode(F.split("text", " ")).alias("token"))
        .filter(F.col("token") != "")
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("f"))
    )
    tot = freq.agg(F.sum("f").alias("total"))
    top = freq.orderBy(F.desc("f"), F.asc("token")).limit(50)
    rank = F.row_number().over(
        W.partitionBy(bounded_window_key(F.col("token"))).orderBy(
            F.desc("f"), F.asc("token")
        )
    )
    return (
        top.crossJoin(F.broadcast(tot))
        .withColumn("rank", rank.cast("long"))
        .select(
            "token",
            "rank",
            F.col("f").alias("freq"),
            (F.col("rank") * F.col("f")).cast("long").alias("rf_product"),
            F.expr("(1000000 * f) div total").cast("long").alias("share_e6"),
        )
    )


@query("streaming_capped_sessions_live", oracle=_CAP_SESSIONS_SQL)
def streaming_capped_sessions_live(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """K7 custom-stateful as REAL streaming: gap + hard-cap
    sessionization via applyInPandasWithState, AvailableNow-drained —
    the live twin of `sessionize_with_cap`, sharing its oracle. The
    cap is the logic no built-in session_window can express (it
    splits relative to the GAP-session anchor), and it is also what
    makes this the showcase stateful op: per-user state is the OPEN
    session only — six longs, provably bounded BECAUSE of the cap —
    while closed sessions emit incrementally and the open one
    re-emits flagged per batch. The drained sink is reduced to each
    session's LATEST summary (max n per (user, session_start) — the
    idempotent-upsert convention), which after a full drain equals
    the batch gaps-and-islands result exactly: second-truncated gap
    arithmetic on int64 microseconds matches date_diff('second') on
    both engines.

    Scale: state store holds one tuple per ACTIVE user; emission is
    append-mostly (one update row per open session per batch). The
    memory-sink dedup below is the test-harness stand-in for the
    foreachBatch MERGE sink (run_foreach_batch_upsert) a production
    deployment uses."""
    from dist_keras_spark.streaming.pipelines import (
        run_available_now,
        stream_events,
    )
    from dist_keras_spark.streaming.stateful import capped_sessions

    drained, _ = run_available_now(
        capped_sessions(stream_events(spark, sf_dir)), output_mode="update"
    )
    latest = F.row_number().over(
        W.partitionBy("user_id", "session_start").orderBy(
            F.desc("n"), F.asc("is_open")
        )
    )
    return (
        drained.withColumn("rn", latest)
        .filter(F.col("rn") == 1)
        .select("user_id", "session_start", "n", "span_s")
    )


# --------------------------------------------------------------------------
# Mergeable-sketch certifications: KMV distinct estimator, Count-Min
# --------------------------------------------------------------------------


@query(
    "kmv_distinct_certified",
    oracle="""
WITH h AS (
    SELECT DISTINCT
        ('0x' || substr(md5(CAST(l_orderkey AS VARCHAR) || ':kmv'), 1, 12))::BIGINT
            AS hv
    FROM lineitem
), kmin AS (
    SELECT hv FROM h ORDER BY hv LIMIT 64
), kth AS (
    SELECT CAST(max(hv) AS BIGINT) AS h_k,
           CAST(count(*) AS BIGINT) AS k_used
    FROM kmin
), ex AS (
    SELECT CAST(count(DISTINCT l_orderkey) AS BIGINT) AS exact_ndv
    FROM lineitem
)
SELECT ex.exact_ndv, kth.k_used, kth.h_k,
       CAST(CASE WHEN kth.k_used < 64 THEN ex.exact_ndv
                 ELSE ((kth.k_used - 1) * 281474976710656) // kth.h_k END
            AS BIGINT) AS est_ndv,
       CAST(abs(ex.exact_ndv -
                CASE WHEN kth.k_used < 64 THEN ex.exact_ndv
                     ELSE ((kth.k_used - 1) * 281474976710656) // kth.h_k END)
            AS BIGINT) AS abs_err
FROM ex CROSS JOIN kth
""",
)
def kmv_distinct_certified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV (k-minimum-values) distinct-count sketch, CERTIFIED next
    to the exact answer (Bar-Yossef et al. 2002, public knowledge:
    est = (k−1)·H / h₍ₖ₎ with H the hash space, σ ≈ NDV/√k). Unlike
    HLL (whose register layout is implementation-defined, hence
    agg_approx_count_distinct stays rows-only), KMV is DETERMINISTIC
    given the hash — md5-prefix 48-bit here — so the sketch itself
    replays exactly in SQL and the driver hash-checks estimator AND
    certification. Under-filled sketches (NDV < k) return exact by
    definition. Completes the certification family's sketch row:
    percentile (KLL-style bound), NDV-by-HLL (rsd assert), NDV-by-KMV
    (THIS — exact replay).

    100 TB shape: the k smallest of DISTINCT hashes — a distinct on
    the hash (map-side combined) then a global top-k LIMIT (Spark's
    TakeOrdered, no full sort); the sketch is 64 longs and MERGEABLE
    (union = k smallest of the union — how it beats exact distinct
    across partitions/days at scale). The exact side exists to
    certify; production drops it."""
    li = _lt(spark, sf_dir, "lineitem")
    hv = (
        li.select(
            F.conv(
                F.substring(
                    F.md5(F.concat(F.col("l_orderkey").cast("string"), F.lit(":kmv"))),
                    1,
                    12,
                ),
                16,
                10,
            )
            .cast("long")
            .alias("hv")
        )
        .distinct()
    )
    kmin = hv.orderBy("hv").limit(64)
    kth = kmin.agg(
        F.max("hv").alias("h_k"), F.count(F.lit(1)).alias("k_used")
    )
    ex = li.agg(F.countDistinct("l_orderkey").alias("exact_ndv"))
    est = F.when(
        F.col("k_used") < 64, F.col("exact_ndv")
    ).otherwise(F.expr("((k_used - 1) * 281474976710656) div h_k"))
    return (
        ex.crossJoin(F.broadcast(kth))
        .withColumn("est_ndv", est.cast("long"))
        .select(
            "exact_ndv",
            "k_used",
            "h_k",
            "est_ndv",
            F.abs(F.col("exact_ndv") - F.col("est_ndv")).cast("long").alias(
                "abs_err"
            ),
        )
    )


_CMS_ROWS = 3
_CMS_W = 128


def _cms_bucket_sql(row: int) -> str:
    return (
        f"('0x' || substr(md5(token || ':cms{row}'), 1, 8))::BIGINT % {_CMS_W}"
    )


def _cms_oracle_sql() -> str:
    counters = " UNION ALL ".join(
        f"SELECT {r} AS r, {_cms_bucket_sql(r)} AS b,"
        f" CAST(count(*) AS BIGINT) AS c FROM toks2 GROUP BY 2"
        for r in range(_CMS_ROWS)
    )
    probe_buckets = ", ".join(
        f"{_cms_bucket_sql(r)} AS pb{r}" for r in range(_CMS_ROWS)
    )
    joins = " ".join(
        f"JOIN counters x{r} ON x{r}.r = {r} AND x{r}.b = t.pb{r}"
        for r in range(_CMS_ROWS)
    )
    est = "least(" + ", ".join(f"x{r}.c" for r in range(_CMS_ROWS)) + ")"
    return f"""
WITH toks AS (
    SELECT unnest(string_split(text, ' ')) AS token FROM documents
), toks2 AS (SELECT token FROM toks WHERE token <> ''),
counters AS ({counters}),
total AS (SELECT CAST(count(*) AS BIGINT) AS n FROM toks2),
top AS (
    SELECT token, CAST(count(*) AS BIGINT) AS true_count, {probe_buckets}
    FROM toks2 GROUP BY token ORDER BY true_count DESC, token LIMIT 10
)
SELECT t.token, t.true_count,
       CAST({est} AS BIGINT) AS est_count,
       CAST({est} - t.true_count AS BIGINT) AS overcount,
       tot.n AS stream_len
FROM top t {joins}
CROSS JOIN total tot
"""


@query("countmin_sketch_certified", oracle=_cms_oracle_sql())
def countmin_sketch_certified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min sketch (Cormode & Muthukrishnan 2005, public
    knowledge) built and PROBED in-query, certified against exact
    counts: 3 rows × 128 md5-bucket counters over the token stream,
    point estimate = min over rows — always ≥ the true count (the
    one-sided CM guarantee, asserted per probe in pytest along with
    the ε = e/w bound). Deterministic hash ⇒ the entire sketch
    replays in SQL, so unlike HLL this sketch is hash-checked, not
    trusted. Probes are the exact top-10 tokens (the heavy hitters a
    CMS exists to answer).

    100 TB shape: the sketch build is ONE groupBy (row, bucket)
    aggregation with map-side combine onto a 3×128 grid — constant
    state, embarrassingly MERGEABLE (entrywise sum), which is the
    whole point at scale: per-partition/per-day sketches sum into the
    global one without touching rows again. The exact top-10 exists
    to certify; production reads the sketch alone.

    r14 negative result (dup-scan sweep follow-up, kept for the
    record): the final plan scans documents 5× (3 sketch rows +
    stream_len + top-10) with zero runtime reuse, and a fused
    rewrite — ONE posexplode(3 bucket ids) pass groupBy (r, b), probe
    join once on (r, b), stream_len = sum(c) div 3, byte-identical
    consumers so ReusedExchange fired (docs 5→2) — was built, oracle-
    verified at 3 SFs, and measured SLOWER on alternated A/B rounds:
    min 1.51 vs 1.13 at sf0.1 and 9.19 vs 4.61 at sf1. The five lazy
    branches are cheap map-side-combined aggregations that run
    CONCURRENTLY in one job, while the fused form serializes a
    3×-exploded generator stage onto the critical path ahead of both
    broadcast consumers. Fewer scans ≠ faster when the duplicated
    branches are embarrassingly parallel; kept as five branches."""
    d = _lt(spark, sf_dir, "documents")
    toks = (
        d.select(F.explode(F.split("text", " ")).alias("token"))
        .filter(F.col("token") != "")
    )

    def bucket(col, r: int):
        return F.pmod(
            F.conv(
                F.substring(F.md5(F.concat(col, F.lit(f":cms{r}"))), 1, 8),
                16,
                10,
            ).cast("long"),
            F.lit(_CMS_W),
        )

    counters = None
    for r in range(_CMS_ROWS):
        part = toks.groupBy(bucket(F.col("token"), r).alias("b")).agg(
            F.count(F.lit(1)).alias("c")
        ).select(F.lit(r).alias("r"), "b", "c")
        counters = part if counters is None else counters.unionByName(part)
    total = toks.agg(F.count(F.lit(1)).alias("stream_len"))
    top = (
        toks.groupBy("token")
        .agg(F.count(F.lit(1)).alias("true_count"))
        .orderBy(F.desc("true_count"), F.asc("token"))
        .limit(10)
    )
    probed = top
    for r in range(_CMS_ROWS):
        cr = counters.filter(F.col("r") == r).select(
            F.col("b").alias(f"b{r}"), F.col("c").alias(f"c{r}")
        )
        probed = probed.join(
            F.broadcast(cr), bucket(F.col("token"), r) == F.col(f"b{r}")
        )
    est = F.least(*[F.col(f"c{r}") for r in range(_CMS_ROWS)])
    return (
        probed.crossJoin(F.broadcast(total))
        .select(
            "token",
            "true_count",
            est.cast("long").alias("est_count"),
            (est - F.col("true_count")).cast("long").alias("overcount"),
            "stream_len",
        )
    )


# --------------------------------------------------------------------------
# Join optimization pattern: binned range join (no equi key)
# --------------------------------------------------------------------------


@query(
    "range_join_binned",
    oracle="""
WITH iv AS (
    SELECT o_orderkey AS iid,
           CAST(date_diff('day', DATE '1970-01-01', o_orderdate) AS BIGINT)
               AS start_day
    FROM orders WHERE o_orderkey % 1000 = 0
), pts AS (
    SELECT CAST(date_diff('day', DATE '1970-01-01', o_orderdate) AS BIGINT)
               AS day
    FROM orders
)
SELECT iv.iid, iv.start_day,
       CAST(count(p.day) AS BIGINT) AS n_orders_in_window
FROM iv LEFT JOIN pts p
  ON p.day >= iv.start_day AND p.day <= iv.start_day + 30
GROUP BY 1, 2
""",
)
def range_join_binned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PURE range join (no equi key) done scalably: every 1000th
    order opens a 31-day window; count all orders falling inside
    each. Spark's native plan for interval containment is a
    BroadcastNestedLoopJoin — O(|intervals|·|points|) comparisons.
    The BINNED rewrite makes it an EQUI join: fixed 32-day bins,
    each interval explodes to the ≤2 bins it overlaps (bin width ≥
    interval length ⇒ ceil+1 bins), each point maps to exactly one
    bin; join on bin, then the exact range predicate filters
    residuals. Comparisons drop from n·m to Σ per-bin products —
    the standard time-binning trick (DuckDB's IEJoin and Spark range
    -join hints solve the same problem engine-side; this is the
    portable plan-level form). The pytest gate asserts the physical
    plan contains NO nested-loop join.

    100 TB shape: both sides shuffle on the bin key (AQE handles
    bin skew); interval duplication is bounded by ceil(len/width)+1
    = 2 rows per interval. The LEFT join keeps empty windows via an
    interval-side count of matched points only."""
    o = _lt(spark, sf_dir, "orders")
    day = F.datediff(F.col("o_orderdate").cast("date"), F.lit("1970-01-01"))
    iv = o.filter(F.col("o_orderkey") % 1000 == 0).select(
        F.col("o_orderkey").alias("iid"),
        day.cast("long").alias("start_day"),
    )
    pts = o.select(day.cast("long").alias("day"))
    # bin width 32 ≥ window 31 ⇒ an interval spans at most 2 bins
    ivb = iv.select(
        "iid",
        "start_day",
        F.explode(
            F.sequence(
                F.expr("start_day div 32"), F.expr("(start_day + 30) div 32")
            )
        ).alias("bin"),
    )
    ptb = pts.select("day", F.expr("day div 32").alias("bin"))
    matched = (
        ivb.join(ptb, "bin")
        .filter(
            (F.col("day") >= F.col("start_day"))
            & (F.col("day") <= F.col("start_day") + 30)
        )
        .groupBy("iid", "start_day")
        .agg(F.count(F.lit(1)).alias("n_orders_in_window"))
    )
    # restore empty windows (left-join semantics of the oracle)
    return (
        iv.join(matched, ["iid", "start_day"], "left")
        .select(
            "iid",
            "start_day",
            F.coalesce(F.col("n_orders_in_window"), F.lit(0))
            .cast("long")
            .alias("n_orders_in_window"),
        )
    )
