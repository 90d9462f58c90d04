"""Similarity search over embedding columns (SURVEY.md §2.J J4/J5).

Two paths:
  - `knn_bruteforce` (`topk_scored`): exact top-k. The query set is
    collected once and shipped with the scoring function; the corpus is
    spread() and scored in Arrow batches by numpy folds, and each batch
    emits only the candidates that can still reach a query's top k. A
    window on the query id ranks those: about k × batches rows per
    query shuffle, not every scored pair.
  - `knn_lsh`: approximate. Random-hyperplane LSH (sign bits of
    projections) buckets both sides; only same-bucket pairs are
    scored. Hyperplanes are seeded-deterministic literals, multi-probe
    via `tables` independent hash tables. The scale path when the
    query set itself is large.
"""

from __future__ import annotations

import sys

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
from pyspark import cloudpickle
from pyspark.sql import DataFrame
from pyspark.sql import Window as W
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, LongType, StructField, StructType

from dist_keras_spark.functions.arrays import cosine_similarity

# topk_scored's batch function calls this module's helpers in Python
# workers, whose path need not hold this package: ship them by value.
cloudpickle.register_pickle_by_value(sys.modules[__name__])


def _cosine(c: np.ndarray, q: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Cosines of a corpus tile × query tile, and where they are NULL
    (a zero norm). Every sum is a left-to-right float64 fold, the
    operations and order of `functions.arrays.dot`/`l2_norm` and of
    DuckDB's list_sum, so each double is bit-identical to theirs."""
    ct, qt = np.ascontiguousarray(c.T), np.ascontiguousarray(q.T)
    dot, term = np.zeros((len(c), len(q))), np.empty((len(c), len(q)))
    for ci, qi in zip(ct, qt):
        dot += np.multiply(ci[:, None], qi[None, :], out=term)
    den = np.outer(np.sqrt(sum(x * x for x in ct)), np.sqrt(sum(x * x for x in qt)))
    with np.errstate(divide="ignore", invalid="ignore"):
        return dot / den, den == 0


# score -> (tile kernel, vector dtype, Spark type, admission band). A
# kernel returns the scores and where they are NULL. Integer sums are
# exact in any order. A cosine ranks on round(·, 6), and two raw values
# round equal only if they differ by less than 1e-6: the band is twice
# that, so the subtraction's own rounding cannot drop such a tie.
_SCORES = {
    "cosine": (_cosine, np.float64, DoubleType(), 2e-6),
    "dot": (lambda c, q: (c @ q.T, False), np.int64, LongType(), 0),
    "neg_sqdist": (
        lambda c, q: (2 * (c @ q.T) - (c * c).sum(1)[:, None] - (q * q).sum(1), False),
        np.int64,
        LongType(),
        0,
    ),
}
_QUERY_BLOCK = 256  # queries per tile: a tile holds batch rows × 256 scores


def _vector_matrix(vecs, dim: int | None, dtype) -> tuple[np.ndarray, np.ndarray]:
    """Rows × dim matrix of an Arrow list column (`dim` None: the longest
    vector's length), and which rows have a score: a NULL vector or
    element makes the row's scores NULL, as in the array-expression
    fold. A vector of another length is an error."""
    if isinstance(vecs, pa.ChunkedArray):
        vecs = vecs.combine_chunks()
    lengths = pc.list_value_length(vecs)
    valid = lengths.is_valid().to_numpy(zero_copy_only=False)
    if dim is None:
        dim = pc.max(lengths).as_py() or 0
    bad = pc.drop_null(pc.filter(lengths, pc.not_equal(lengths, dim)))
    if len(bad):
        raise ValueError(
            f"topk_scored: vectors of length {bad[0]} and {dim} in one search"
        )
    flat, shape = pc.list_flatten(vecs), (int(valid.sum()), dim)
    mat = np.zeros((len(vecs), dim), dtype)
    mat[valid] = flat.fill_null(0).to_numpy(zero_copy_only=False).reshape(shape)
    holes = flat.is_null().to_numpy(zero_copy_only=False).reshape(shape).any(1)
    valid[np.flatnonzero(valid)[holes]] = False
    return mat, valid


def _admit(raw, null, elig, ids, k: int, band) -> np.ndarray:
    """The pairs of one tile that can still reach their query's top k
    under score descending (NaN first, NULL last), then neighbor id: a
    query with k scored candidates in the tile admits those within
    `band` of its k-th score; otherwise all of them plus the
    lowest-id NULL-scored ones, up to k."""
    scored = elig & ~null
    key = np.where(scored, np.where(np.isnan(raw), np.inf, raw), -np.inf)
    n_scored = scored.sum(axis=0)
    keep = scored.copy()
    full = n_scored >= k
    if full.any():
        kth = np.partition(key[:, full], len(key) - k, axis=0)[len(key) - k]
        keep[:, full] &= key[:, full] >= kth - band
    for j in np.flatnonzero(~full):
        nulls = np.flatnonzero(elig[:, j] & null[:, j])
        keep[nulls[np.argsort(ids[nulls], kind="stable")[: k - n_scored[j]]], j] = True
    return keep


def topk_scored(
    corpus: DataFrame,
    queries: DataFrame,
    score: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
) -> DataFrame:
    """Exact top-k neighbors of every query vector, as (query_id,
    neighbor_id, rank, score); self-matches and NULL ids excluded.

    `score` is "cosine" (rounded to 6 dp, NULL when a norm is zero),
    or for integer vectors the exact int64 "dot" product or
    "neg_sqdist", minus the squared L2 distance. Rank orders score
    descending, NULL last, then neighbor id, so ties reproduce across
    engines. Every vector must have the query vectors' length.

    Partition-local top-k with a global merge: the query side is
    collected once (one Spark job) and shipped with the batch function;
    the corpus is spread() and scored in `mapInArrow`, `_QUERY_BLOCK`
    queries at a time so a task's memory stays bounded. Each batch
    emits only the pairs `_admit` keeps, so the ranking window sees
    about k × batches rows per query, not every pair.
    """
    from dist_keras_spark.operators.dedup import spread

    kernel, dtype, raw_type, band = _SCORES[score]
    live = F.col(id_col).isNotNull()
    qtab = queries.select(id_col, vec_col).where(live).toArrow()
    qmat, qvalid = _vector_matrix(qtab.column(vec_col), None, dtype)
    qids = qtab.column(id_col).combine_chunks()
    qids_np = qids.to_numpy(zero_copy_only=False)

    def score_batches(batches):
        for batch in batches:
            cmat, cvalid = _vector_matrix(batch.column(vec_col), qmat.shape[1], dtype)
            cids = batch.column(id_col)
            cids_np = cids.to_numpy(zero_copy_only=False)
            for lo in range(0, len(qids), _QUERY_BLOCK):
                block = slice(lo, lo + _QUERY_BLOCK)
                raw, null = kernel(cmat, qmat[block])
                null = null | ~np.outer(cvalid, qvalid[block])
                elig = cids_np[:, None] != qids_np[None, block]
                rows, cols = np.nonzero(_admit(raw, null, elig, cids_np, k, band))
                raw = pa.array(raw[rows, cols], mask=null[rows, cols])
                yield pa.RecordBatch.from_arrays(
                    [qids.take(cols + lo), cids.take(rows), raw], names=out.names
                )

    types = queries.schema[id_col].dataType, corpus.schema[id_col].dataType, raw_type
    out = StructType(list(map(StructField, ["query_id", "neighbor_id", "raw"], types)))
    cand = spread(corpus.select(id_col, vec_col).where(live), id_col)
    w = W.partitionBy("query_id").orderBy(F.col("score").desc(), F.col("neighbor_id"))
    return (
        cand.mapInArrow(score_batches, out)
        .withColumn("score", F.round("raw", 6) if score == "cosine" else F.col("raw"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "score")
    )


def knn_bruteforce(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
) -> DataFrame:
    """Exact top-k cosine neighbors for each query vector: the cosine
    `topk_scored`, as (query_id, neighbor_id, rank, cosine)."""
    out = topk_scored(corpus, queries, "cosine", id_col, vec_col, k)
    return out.withColumnRenamed("score", "cosine")


def approx_quantile_buckets(
    df: DataFrame,
    value_col: str,
    n_buckets: int = 4,
    id_cols: list[str] | None = None,
    relative_error: float = 0.001,
) -> DataFrame:
    """Scale-path alternative to ntile(n) OVER (ORDER BY value): bucket
    by approxQuantile boundaries instead of a global single-reducer
    sort. Two passes: a tiny sketch aggregation for the boundaries,
    then a scan-side CASE — no global window, no skew point. Bucket
    populations are approximately (not exactly) equal, the standard
    trade at 100 TB."""
    probs = [i / n_buckets for i in range(1, n_buckets)]
    bounds = df.approxQuantile(value_col, probs, relative_error)
    bucket = F.lit(1)
    for b in bounds:
        bucket = bucket + (F.col(value_col) > F.lit(float(b))).cast("int")
    cols = id_cols or [c for c in df.columns if c != value_col]
    return df.select(*cols, value_col, bucket.alias("bucket"))


def _hyperplanes(dim: int, n_planes: int, seed: int) -> np.ndarray:
    rng = np.random.RandomState(seed)
    return rng.randn(n_planes, dim)


def _peek_dim(df: DataFrame, vec_col: str, caller: str) -> int:
    """Vector dimensionality from the first row — a driver-side
    metadata peek with a clear failure on empty input (an unguarded
    `.first()[0]` raises a bare TypeError; VERDICT r3/r4 ADVICE)."""
    row = df.select(vec_col).first()
    if row is None or row[0] is None:
        raise ValueError(
            f"{caller}: cannot infer vector dim from an empty corpus — "
            f"pass dim= explicitly or provide non-empty input"
        )
    return len(row[0])


def lsh_bucket_expr(vec_col: str, planes: np.ndarray) -> F.Column:
    """Bucket id = integer of sign bits of ⟨v, plane_j⟩ — pure column
    expressions over literal hyperplanes (no UDF)."""
    bits = []
    for j, plane in enumerate(planes):
        proj = F.aggregate(
            F.zip_with(
                F.col(vec_col),
                F.array(*[F.lit(float(w)) for w in plane]),
                lambda x, y: x.cast("double") * y,
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        bits.append(F.when(proj > 0, F.lit(1 << j)).otherwise(F.lit(0)))
    out = bits[0]
    for b in bits[1:]:
        out = out + b
    return out


def knn_lsh(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    n_planes: int = 4,
    tables: int = 8,
    seed: int = 42,
    dim: int | None = None,
) -> DataFrame:
    """Approximate top-k: `tables` independent hyperplane hash tables;
    candidates = same bucket in ANY table; exact cosine re-rank.

    Recall is tunable by (n_planes, tables); tests measure it against
    knn_bruteforce. Defaults favor short codes × many tables because
    hyperplane LSH recall collapses on near-orthogonal corpora (the
    fixture's regime: top-neighbor cosine ≈ 0.3-0.45 → per-plane
    agreement ≈ 0.6, so 8-bit codes keep only 0.6⁸ ≈ 2% per table).

    Pass `dim` to keep plan construction job-free; when omitted it is
    read from the first corpus row (driver-side metadata peek, not a
    data collect — but still a Spark job at plan-build; VERDICT r4 #7).

    Candidate-stage discipline (r10 scaling sweep — the
    embedding_neardup_pairs pattern): candidates carry IDS ONLY
    through the bucket join and distinct; vectors are joined back BY
    ID for the exact re-rank. The previous form ran distinct over
    (ids + both 64-float vectors) — at sf1 that shuffled ~GBs of
    vector payload per run and, with the 32 interpreted bucket folds
    on the unspread single-partition scan, never finished inside the
    sweep budget. Now: spread() the corpus, bucket ids-only, verify
    O(candidates) with per-side precomputed norms and ONE interpreted
    fold per pair.

    PRECONDITION: `id_col` must be unique within `corpus` (and within
    `queries`). The ids-only candidate stage dedups on (query_id,
    neighbor_id), so a corpus with a repeated id re-expands at the
    join-back and the duplicate neighbor consumes top-k rank slots —
    the pre-r10 distinct over (ids + vectors) happened to collapse
    such rows; this form deliberately does not pay that vector-payload
    shuffle. Dedup the corpus on id upstream if ids can repeat
    (exact_dedup in operators/dedup.py is the one-shuffle way).
    """
    from dist_keras_spark.functions.arrays import dot, l2_norm
    from dist_keras_spark.operators.dedup import spread

    if dim is None:
        dim = _peek_dim(corpus, vec_col, "knn_lsh")
    corpus = spread(corpus, id_col)
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("qvec"),
        l2_norm(vec_col).alias("qnorm"),
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("cvec"),
        l2_norm(vec_col).alias("cnorm"),
    )

    def bucketed(df: DataFrame, idc: str, vc: str, out: str) -> DataFrame:
        pieces = [
            F.struct(
                F.lit(t).alias("table"),
                lsh_bucket_expr(vc, _hyperplanes(dim, n_planes, seed + t)).alias("bucket"),
            )
            for t in range(tables)
        ]
        return df.select(idc, F.explode(F.array(*pieces)).alias(out)).select(
            idc, f"{out}.table", f"{out}.bucket"
        )

    qb = bucketed(q, "query_id", "qvec", "qb")
    cb = bucketed(c, "neighbor_id", "cvec", "cb")
    cand = (
        cb.join(F.broadcast(qb), ["table", "bucket"])
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id")
        .distinct()
    )
    scored = (
        cand.join(F.broadcast(q), "query_id")
        .join(c, "neighbor_id")
        .withColumn(
            "cosine",
            F.round(
                F.when(
                    F.col("qnorm") * F.col("cnorm") != 0,
                    dot("qvec", "cvec") / (F.col("qnorm") * F.col("cnorm")),
                ),
                6,
            ),
        )
    )
    w = W.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "cosine")
    )


def embedding_neardup_pairs(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.9,
    n_planes: int = 8,
    tables: int = 16,
    seed: int = 42,
    dim: int | None = None,
    layout_planes: int | None = None,
) -> DataFrame:
    """All (id_lo, id_hi, cosine) pairs with exact cosine >= threshold,
    found through BUCKETED candidates — never an all-pairs self-join.

    `layout_planes` (when set, must be >= n_planes) draws table t's
    planes from rows [t·layout_planes, t·layout_planes + n_planes) of
    a FIXED (tables × layout_planes) matrix, so a caller that grows
    n_planes with corpus size (dedup_embedding_scaled_planes) keeps
    every already-used plane stable while adding bits — and an oracle
    can embed the full fixed layout as literals once.

    Banding scheme (SimHash-style sign-random-projection, same shape as
    the MinHash band kernel in operators/dedup.py): one Arrow kernel
    computes `tables` independent `n_planes`-bit codes per vector; a
    pair is a candidate iff it shares any full code. Candidates carry
    only ids through the band shuffle; embeddings are joined back by id
    for the exact cosine verify, so at 100 TB the wide vector column
    crosses the wire O(candidates), not O(rows × tables).

    Recall math (p = 1 - θ/π per plane): with the 8-bit × 16-table
    default, a pair at exactly cos 0.90 (p≈0.856) is missed with
    prob (1-p⁸)¹⁶ ≈ 0.4%; a true near-dup at cos 0.98 (p≈0.936) with
    prob ≈ 7e-7. Random near-orthogonal pairs collide in ≈ tables/2^planes
    ≈ 6% of cases — the pairwise exact-verify work drops ~16× vs
    all-pairs while keeping dedup-grade recall. Raise `tables` for
    stricter recall, `n_planes` for sparser buckets.
    """
    from pyspark.sql.types import ArrayType, IntegerType

    from dist_keras_spark.functions.arrays import dot, l2_norm

    if dim is None:
        dim = _peek_dim(df, vec_col, "embedding_neardup_pairs")
    if layout_planes is None:
        planes = _hyperplanes(dim, tables * n_planes, seed)  # (tables*n_planes, dim)
    else:
        if layout_planes < n_planes:
            raise ValueError(
                f"layout_planes={layout_planes} < n_planes={n_planes}"
            )
        full = _hyperplanes(dim, tables * layout_planes, seed)
        planes = np.concatenate(
            [
                full[t * layout_planes : t * layout_planes + n_planes]
                for t in range(tables)
            ]
        )
    weights = 1 << np.arange(n_planes)

    @F.pandas_udf(ArrayType(IntegerType()))
    def band_codes(vs: pd.Series) -> pd.Series:
        x = np.stack(vs.to_numpy()).astype(np.float64)
        bits = (x @ planes.T > 0).astype(np.int64)  # (batch, tables*n_planes)
        codes = bits.reshape(len(x), tables, n_planes) @ weights  # (batch, tables)
        return pd.Series(list(codes.astype(np.int32)))

    sig = df.select(
        F.col(id_col).alias("_id"),
        F.posexplode(band_codes(vec_col)).alias("table", "bucket"),
    )
    a = sig.select(F.col("_id").alias("id_lo"), "table", "bucket")
    b = sig.select(F.col("_id").alias("id_hi"), "table", "bucket")
    cand = (
        a.join(b, ["table", "bucket"])
        .filter(F.col("id_lo") < F.col("id_hi"))
        .select("id_lo", "id_hi")
        .distinct()
    )
    vecs = df.select(
        F.col(id_col).alias("_vid"),
        F.col(vec_col).alias("_v"),
        l2_norm(vec_col).alias("_n"),
    )
    lo = vecs.select(
        F.col("_vid").alias("id_lo"), F.col("_v").alias("_vlo"), F.col("_n").alias("_nlo")
    )
    hi = vecs.select(
        F.col("_vid").alias("id_hi"), F.col("_v").alias("_vhi"), F.col("_n").alias("_nhi")
    )
    return (
        cand.join(lo, "id_lo")
        .join(hi, "id_hi")
        .withColumn("cosine", dot("_vlo", "_vhi") / (F.col("_nlo") * F.col("_nhi")))
        .filter(F.col("cosine") >= threshold)
        .select("id_lo", "id_hi", "cosine")
    )


def _cell_assign_udf(cents: np.ndarray, top: int):
    """Arrow kernel assigning each vector its `top` nearest quantizer
    cells by cosine (centroids pre-normalized). Stable sort: sim ties
    break toward the LOWER cell index, mirroring the oracle's
    ORDER BY sim DESC, cell ASC."""
    from pyspark.sql.types import ArrayType, IntegerType

    @F.pandas_udf(ArrayType(IntegerType()))
    def assign(vs: pd.Series) -> pd.Series:
        x = np.stack(vs.to_numpy()).astype(np.float64)
        x = x / np.maximum(np.linalg.norm(x, axis=1, keepdims=True), 1e-12)
        sims = x @ cents.T  # (batch × n_cells)
        idx = np.argsort(-sims, axis=1, kind="stable")[:, :top].astype(np.int32)
        return pd.Series(list(idx))

    return assign


def int_argmax_cell_udf(cents: np.ndarray):
    """Arrow kernel assigning each INTEGER-quantized vector the cell
    with the maximum integer inner product. Exact int64 matmul — both
    engines compute identical integers, so unlike the cosine
    assignment there is no float tie risk at all; np.argmax is
    first-max-wins, i.e. ties break toward the LOWER cell index,
    mirroring the oracle's ORDER BY dot DESC, cell ASC.

    This is what makes k ∝ N cell counts affordable: the crossJoin
    assignment is O(N·k) interpreted-HOF dot products (the k=16
    fixture path), while one (batch × dim) @ (dim × k) BLAS-shaped
    integer matmul per Arrow batch keeps assignment scan-side and
    vectorized at any k. Bounds: |v|≤127, dim 64 → |dot| ≤ 127²·64
    ≈ 1.03e6, nowhere near int64."""
    from pyspark.sql.types import IntegerType

    c = cents.astype(np.int64)

    @F.pandas_udf(IntegerType())
    def assign(vs: pd.Series) -> pd.Series:
        x = np.stack(vs.to_numpy()).astype(np.int64)
        sims = x @ c.T  # exact integer inner products (batch × k)
        return pd.Series(np.argmax(sims, axis=1).astype(np.int32))

    return assign


def sample_centroids(
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
    n_cells: int,
    seed: int,
) -> np.ndarray:
    """Deterministic coarse-quantizer sample: order by
    md5(id || ':' || seed) — stable across runs/partitionings AND
    portable (DuckDB computes the identical ordering, which is what
    makes the IVF sharp oracles possible). Model-sized driver
    collect."""
    sample = (
        corpus.select(id_col, vec_col)
        .orderBy(
            F.md5(F.concat(F.col(id_col).cast("string"), F.lit(f":{seed}"))),
            F.col(id_col),
        )
        .limit(n_cells)
        .collect()
    )
    if not sample:
        raise ValueError("sample_centroids: corpus is empty")
    return np.stack([np.asarray(r[vec_col], dtype=np.float64) for r in sample])


def knn_ivf(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    n_cells: int = 16,
    n_probe: int = 4,
    seed: int = 42,
    centroids: np.ndarray | None = None,
) -> DataFrame:
    """Approximate top-k via an IVF (inverted-file) index: a coarse
    quantizer of `n_cells` sampled centroids partitions the corpus into
    cells; each query probes its `n_probe` nearest cells and re-ranks
    exactly within them.

    Complements knn_lsh as the second ANN scale path (J5): IVF recall
    degrades gracefully on near-orthogonal corpora where hyperplane
    sign bits collapse, and n_probe/n_cells tune the scanned fraction
    (~n_probe/n_cells of the corpus per query) independently of
    dimensionality.

    Scale design: centroids are a driver-side sample of n_cells
    vectors (model-sized, like trainer weights — NOT a data collect)
    shipped inside one Arrow-batched assignment kernel, so cell
    assignment is scan-side with no shuffle; the probe join shuffles
    only (cell_id, query) pairs against corpus rows hash-partitioned
    by cell, and the broadcast query side keeps the corpus in place.
    Cell skew is bounded by the quantizer (cells split the sphere);
    degenerate corpora can raise n_cells.
    """
    from pyspark.sql.types import ArrayType, IntegerType

    from dist_keras_spark.operators.dedup import spread

    if n_cells < 1 or n_probe < 1:
        raise ValueError(f"knn_ivf: n_cells={n_cells} and n_probe={n_probe} must be >= 1")
    corpus = spread(corpus, id_col)
    if centroids is None:
        # Pass `centroids` to skip this collect (a model-sized driver
        # job at plan-build otherwise) — see sample_centroids.
        try:
            centroids = sample_centroids(corpus, id_col, vec_col, n_cells, seed)
        except ValueError:
            raise ValueError("knn_ivf: corpus is empty")
    cents = centroids / np.maximum(
        np.linalg.norm(centroids, axis=1, keepdims=True), 1e-12
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("cvec"),
        F.element_at(_cell_assign_udf(cents, 1)(vec_col), 1).alias("cell"),
    )
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("qvec"),
        F.explode(_cell_assign_udf(cents, n_probe)(vec_col)).alias("cell"),
    )
    cand = (
        c.join(F.broadcast(q), "cell")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "qvec", "neighbor_id", "cvec")
    )
    scored = cand.withColumn("cosine", F.round(cosine_similarity("qvec", "cvec"), 6))
    w = W.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "cosine")
    )


def build_ivf_index(
    corpus: DataFrame,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_cells: int = 16,
    seed: int = 42,
) -> np.ndarray:
    """Materialize an IVF index: the corpus written parquet
    PARTITIONED BY its quantizer cell (one directory per cell), with
    the sampled centroids persisted alongside (`path/_centroids`).

    This is the build-once/search-many posture a 100 TB ANN corpus
    actually runs: cell assignment (the expensive Arrow pass over
    every vector) is paid at WRITE time, and every later search scans
    only its probed cells' directories — partition pruning does the
    n_probe/n_cells cost cut at the storage layer instead of inside
    the query. Returns the centroid matrix.

    Idempotent: if the index was already materialized at `path` (its
    `_centroids` sidecar exists), the build is skipped and the
    persisted centroids are returned — build-ONCE means repeat
    callers in the same session (bench warm-ups, retries) reuse the
    on-disk index instead of re-paying the assignment pass.

    `path` ENCODES the build parameters: the short-circuit validates
    the cached index against this call (centroid count == n_cells,
    centroid dim == corpus vector dim) and raises on mismatch rather
    than silently serving a stale index built with different
    parameters (ADVICE r6) — callers wanting a different build must
    use a different path (or delete the old one). A different corpus
    or seed at the same path and same shape is undetectable from the
    sidecar; the path-encodes-params contract covers it."""
    import os

    spark0 = corpus.sparkSession
    if os.path.isdir(f"{path}/_centroids"):
        rows = (
            spark0.read.parquet(f"{path}/_centroids")
            .orderBy("cell")
            .collect()
        )
        if len(rows) != n_cells:
            raise ValueError(
                f"stale IVF index at {path!r}: persisted {len(rows)} "
                f"centroids but this build asked for n_cells={n_cells}; "
                "the path encodes the build params — use a new path or "
                "delete the old index"
            )
        dim = len(rows[0].centroid)
        first_vec = corpus.select(vec_col).first()
        if first_vec is not None and len(first_vec[0]) != dim:
            raise ValueError(
                f"stale IVF index at {path!r}: centroid dim {dim} != "
                f"corpus vector dim {len(first_vec[0])}"
            )
        return np.array([r.centroid for r in rows])
    cents_raw = sample_centroids(corpus, id_col, vec_col, n_cells, seed)
    cents = cents_raw / np.maximum(
        np.linalg.norm(cents_raw, axis=1, keepdims=True), 1e-12
    )
    assigned = corpus.select(
        id_col,
        vec_col,
        F.element_at(_cell_assign_udf(cents, 1)(vec_col), 1).alias("cell"),
    )
    assigned.write.mode("overwrite").partitionBy("cell").parquet(path)
    spark = corpus.sparkSession
    spark.createDataFrame(
        [(i, [float(x) for x in row]) for i, row in enumerate(cents_raw)],
        "cell int, centroid array<double>",
    ).coalesce(1).write.mode("overwrite").parquet(f"{path}/_centroids")
    return cents_raw


def search_ivf_index(
    spark,
    path: str,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    n_probe: int = 4,
    delta_paths: tuple[str, ...] = (),
) -> DataFrame:
    """Search a `build_ivf_index` layout: queries are assigned their
    `n_probe` nearest cells with the PERSISTED centroids (model-sized
    driver read — no resample, so build and search stay consistent),
    then joined against the cell-partitioned corpus and exactly
    re-ranked within probed cells. The broadcast query side keeps the
    index in place; only probed partitions are read.

    `delta_paths` (r12): additional cell-partitioned segments written
    AFTER the base build (new vectors assigned with the SAME persisted
    centroids — see ivf_search_base_delta_top5) are unioned into the
    search. This is the LSM-ish freshness pattern: appends land as
    delta segments without touching the base or re-clustering; probed
    cells prune across every segment identically because they share
    the quantizer."""
    cents_rows = sorted(
        spark.read.parquet(f"{path}/_centroids").collect(),
        key=lambda r: r["cell"],
    )
    cents_raw = np.stack(
        [np.asarray(r["centroid"], dtype=np.float64) for r in cents_rows]
    )
    cents = cents_raw / np.maximum(
        np.linalg.norm(cents_raw, axis=1, keepdims=True), 1e-12
    )
    # each segment is its own partitioned root — load separately and
    # union (multi-root partition discovery is ambiguous by design);
    # pruning on `cell` still reaches every segment's scan
    index = spark.read.parquet(path)
    for dp in delta_paths:
        index = index.unionByName(spark.read.parquet(dp))
    c = index.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("cvec"),
        F.col("cell").cast("int").alias("cell"),
    )
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("qvec"),
        F.explode(_cell_assign_udf(cents, n_probe)(vec_col)).alias("cell"),
    )
    cand = (
        c.join(F.broadcast(q), "cell")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "qvec", "neighbor_id", "cvec")
    )
    scored = cand.withColumn("cosine", F.round(cosine_similarity("qvec", "cvec"), 6))
    w = W.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "cosine")
    )


def _int_argsort_cells_udf(cents_milli: np.ndarray, top: int):
    """Arrow kernel ranking INTEGER-milli quantizer cells for each
    integer-milli vector by exact squared L2 distance, returning the
    `top` nearest cell indices. All arithmetic is int64 (|coord| ≤
    ~1e3 millis → per-term diff² ≤ ~4e6, ×dim ≪ 2⁶³), so both engines
    compute identical distances; np.argsort(kind='stable') breaks
    exact ties toward the LOWER cell index, mirroring the oracle's
    ORDER BY dist2, cell."""
    from pyspark.sql.types import ArrayType, IntegerType

    c = cents_milli.astype(np.int64)

    @F.pandas_udf(ArrayType(IntegerType()))
    def rank_cells(vs: pd.Series) -> pd.Series:
        x = np.stack(vs.to_numpy()).astype(np.int64)
        # (batch × cells) exact integer squared distances
        d2 = ((x[:, None, :] - c[None, :, :]) ** 2).sum(axis=2)
        idx = np.argsort(d2, axis=1, kind="stable")[:, :top].astype(np.int32)
        return pd.Series(list(idx))

    return rank_cells


def _milli(col) -> F.Column:
    """round(x·1000) per element as int64 — the engine-exact embedding
    quantization convention (embedding_centroid_by_label /
    kmeans_lloyd_two_iters)."""
    return F.transform(
        col, lambda x: F.round(x.cast("double") * 1000).cast("long")
    )


def _two_level_parts(n_cells: int) -> tuple[int, int]:
    """(n_coarse, n_sub) = (ceil(sqrt(cells)), ceil(cells/n_coarse)) — one
    correctly-rounded IEEE sqrt + exact integer ceil-div, identical in
    Python and the SQL oracle's scalar subquery."""
    import math

    n_coarse = math.ceil(math.sqrt(n_cells))
    return n_coarse, (n_cells + n_coarse - 1) // n_coarse


def _two_level_quantize(
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
    n_cells: int,
    seed: int,
) -> tuple[DataFrame, DataFrame, np.ndarray]:
    """Shared two-level quantizer pipeline: returns (fine, subcents,
    coarse) where `fine` = every corpus vector with its (coarse,
    sub_rank) leaf assignment plus the original float vector, `subcents`
    = the distributed (coarse, sub_rank, sq) sub-centroid table, and
    `coarse` = the ceil(sqrt(cells)) milli-int coarse matrix (the ONLY
    driver-side object). Used by the inline form (knn_ivf_two_level)
    and the persisted build (build_ivf_two_level_index).

    The coarse-assigned corpus is staged via dedup._stage: the
    assigned table feeds THREE separate subtrees
    (fine's left side, the sub-centroid window, the probe join) and
    ReuseExchange does NOT dedupe them (different downstream
    Exchanges), so lazy lineage re-runs the corpus-wide Arrow kernel
    per subtree — measured 3× the staged cost at sf1 (the persisted
    build pays the pass once at write time and needs no staging)."""
    from dist_keras_spark.operators.dedup import _stage, spread

    n_coarse, n_sub = _two_level_parts(n_cells)
    corpus = spread(corpus, id_col)
    cq = corpus.select(
        F.col(id_col).alias("vid"),
        F.col(vec_col).alias("vec"),
        _milli(vec_col).alias("vq"),
    )
    coarse_rows = (
        cq.select("vid", "vq")
        .orderBy(
            F.md5(F.concat(F.col("vid").cast("string"), F.lit(f":{seed}"))),
            F.col("vid"),
        )
        .limit(n_coarse)
        .collect()
    )
    if not coarse_rows:
        raise ValueError("two-level IVF: corpus is empty")
    coarse = np.stack([np.asarray(r["vq"], dtype=np.int64) for r in coarse_rows])

    assigned = _stage(
        cq.withColumn(
            "coarse",
            F.element_at(_int_argsort_cells_udf(coarse, 1)("vq"), 1),
        )
    )
    # sub-centroid table: per coarse cell, first n_sub members in
    # md5(id:seed:sub) order — distributed, never collected
    ws = W.partitionBy("coarse").orderBy(
        F.md5(F.concat(F.col("vid").cast("string"), F.lit(f":{seed}:sub"))),
        F.col("vid"),
    )
    subcents = (
        assigned.withColumn("sub_rank", F.row_number().over(ws))
        .filter(F.col("sub_rank") <= n_sub)
        .select("coarse", "sub_rank", F.col("vq").alias("sq"))
    )
    fine = _fine_argmin(assigned, subcents)
    return fine, subcents, coarse


def _fine_argmin(assigned: DataFrame, subcents: DataFrame) -> DataFrame:
    """Leaf assignment: each (vid, vec, vq, coarse) row joins its
    coarse cell's sub-centroids (bounded n_sub fan-out) and keeps the
    exact-int argmin — shared by the quantizer build and the
    frozen-structure delta assignment."""
    wv = W.partitionBy("vid").orderBy(
        _sub_dist2().asc(), F.col("sub_rank").asc()
    )
    return (
        assigned.join(subcents, "coarse")
        .withColumn("rn", F.row_number().over(wv))
        .filter(F.col("rn") == 1)
        .select("vid", "vec", "coarse", "sub_rank")
    )


def two_level_assign_frozen(
    vectors: DataFrame,
    subcents: DataFrame,
    coarse: np.ndarray,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Assign NEW vectors against a FROZEN two-level structure (the
    base-trained coarse matrix + sub-centroid table) — the delta-
    segment ingest path: appends land in existing leaf cells without
    touching the quantizer (the LSM-ish freshness pattern,
    ivf_search_base_delta's contract at two levels). One Arrow coarse
    pass + the bounded sub join; no sample, no window over the base."""
    cq = vectors.select(
        F.col(id_col).alias("vid"),
        F.col(vec_col).alias("vec"),
        _milli(vec_col).alias("vq"),
    )
    assigned = cq.withColumn(
        "coarse",
        F.element_at(_int_argsort_cells_udf(coarse, 1)("vq"), 1),
    )
    return _fine_argmin(assigned, subcents)


def _sub_dist2() -> F.Column:
    """Exact int64 squared distance between the row's milli vector `vq`
    and a sub-centroid's `sq` (interpreted HOF fold — acceptable at
    n_sub ≈ sqrt(cells) candidates per row; the Arrow-matmul cogroup is
    the named dial past that)."""
    return F.aggregate(
        F.zip_with("vq", "sq", lambda v, s: (v - s) * (v - s)),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )


def _two_level_probes(
    queries: DataFrame,
    subcents: DataFrame,
    coarse: np.ndarray,
    id_col: str,
    vec_col: str,
    n_probe_coarse: int,
    n_probe_sub: int,
) -> DataFrame:
    """Probe rows (query_id, qvec, coarse, sub_rank): each query's
    n_probe_coarse nearest coarse cells (Arrow int kernel), then its
    n_probe_sub nearest sub-cells within each (bounded join + ranked
    window) — n_probe_coarse·n_probe_sub leaves per query."""
    qv = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("qvec"),
        _milli(vec_col).alias("vq"),
    ).select(
        "query_id",
        "qvec",
        "vq",
        F.explode(
            _int_argsort_cells_udf(coarse, n_probe_coarse)("vq")
        ).alias("coarse"),
    )
    wq = W.partitionBy("query_id", "coarse").orderBy(
        _sub_dist2().asc(), F.col("sub_rank").asc()
    )
    return (
        qv.join(subcents, "coarse")
        .withColumn("rn", F.row_number().over(wq))
        .filter(F.col("rn") <= n_probe_sub)
        .select("query_id", "qvec", "coarse", "sub_rank")
    )


def _rerank_candidates(fine: DataFrame, probes: DataFrame, k: int) -> DataFrame:
    """Exact float-cosine top-k within probed leaves (the family's
    shared final stage). `fine` columns: (vid, vec, coarse, sub_rank).

    Callers must hand in a well-partitioned `fine`: the broadcast
    join below inflates each input row ~n_probe·queries/cells-fold
    IN PLACE, so however many partitions `fine` arrives with is the
    parallelism of the whole cosine stage. The inline form re-spreads
    its window output (AQE coalesces the tiny vid-shuffle to a
    handful of partitions — measured 72s vs 12s at benchdata/sf1 on
    5 of 32 cores); the persisted search passes its parquet scan
    directly so leaf-directory pruning reaches the file index."""
    cand = (
        fine.select(
            F.col("vid").alias("neighbor_id"),
            F.col("vec").alias("cvec"),
            "coarse",
            "sub_rank",
        )
        .join(F.broadcast(probes), ["coarse", "sub_rank"])
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
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "cosine")
    )


def knn_ivf_two_level(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    n_cells: int = 16,
    n_probe_coarse: int = 4,
    n_probe_sub: int = 2,
    seed: int = 42,
) -> DataFrame:
    """Two-level (hierarchical) IVF — the path past knn_ivf's driver
    ceiling (the FAISS IVF-with-coarse-quantizer shape): the driver
    holds only ~sqrt(n_cells) COARSE centroids; the full cells-sized
    sub-centroid table is a DataFrame that never leaves the cluster.

    Structure (everything deterministic and engine-replayable):
      - n_coarse = ceil(sqrt(n_cells)) coarse centroids: first n_coarse
        corpus vectors in md5(id:seed) order — the sample_centroids
        convention, but the collect is sqrt(cells)-sized (at N = 1e9
        under the cells = N/1000 schedule: 1e6 cells -> 1000 coarse
        rows ~ 0.5 MB, vs the flat form's 0.5 GB).
      - Every vector (corpus AND queries) is coarse-assigned scan-side
        by one Arrow kernel over exact INTEGER-milli squared distances
        (ties -> lower cell; kmeans_lloyd_two_iters' exactness
        technique, so there is no float-parity surface in either
        assignment level).
      - Sub-centroids: within each coarse cell, the first
        n_sub = ceil(n_cells/n_coarse) members in md5(id:seed:sub)
        order — ONE window over the coarse-assigned corpus; stays
        distributed.
      - Fine assignment: corpus joins its coarse cell's sub-centroids
        (<= n_sub rows each — a bounded fan-out join, NOT a cross
        join), exact integer dist2, argmin per vector via a vec-keyed
        window. Work is Theta(N*sqrt(cells)) instead of the flat
        quantizer's Theta(N*cells).
      - Queries probe their n_probe_coarse nearest coarse cells, then
        the n_probe_sub nearest sub-cells within each; candidates
        re-rank by exact float cosine (round 6), the same final stage
        as knn_ivf.

    At the fixture clamp (n_cells=16 -> 4 coarse x 4 sub, probes
    4x2=8 leaves) the probed-fraction matches knn_ivf's n_probe=8/16.
    Scale dial: the fine-assign fold is an interpreted HOF per
    (vector, sub-centroid) pair — at extreme N swap it for a cogrouped
    applyInPandas integer matmul per coarse cell (the
    int_argmax_cell_udf technique, batch x n_sub); semantics
    unchanged."""
    if n_cells < 1 or n_probe_coarse < 1 or n_probe_sub < 1:
        raise ValueError("knn_ivf_two_level: cells/probes must be >= 1")
    from dist_keras_spark.operators.dedup import spread

    fine, subcents, coarse = _two_level_quantize(
        corpus, id_col, vec_col, n_cells, seed
    )
    probes = _two_level_probes(
        queries, subcents, coarse, id_col, vec_col, n_probe_coarse, n_probe_sub
    )
    # re-spread the window output: see _rerank_candidates' parallelism
    # contract
    return _rerank_candidates(spread(fine, "vid"), probes, k)


def build_ivf_two_level_index(
    corpus: DataFrame,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_cells: int = 16,
    seed: int = 42,
) -> None:
    """Materialize the two-level IVF index: corpus written parquet
    PARTITIONED BY (coarse, sub_rank) — one directory per LEAF cell —
    with two sidecars: `_coarse_centroids` (the sqrt(cells) milli
    matrix, the only thing search ever collects) and `_sub_centroids`
    (the cells-sized table, read as a DataFrame). Same build-once /
    path-encodes-params / idempotent contract as build_ivf_index:
    re-calls at the same path validate the persisted coarse count and
    skip the assignment pass."""
    import os

    spark0 = corpus.sparkSession
    n_coarse, n_sub = _two_level_parts(n_cells)
    if os.path.isdir(f"{path}/_coarse_centroids"):
        n_persisted = spark0.read.parquet(f"{path}/_coarse_centroids").count()
        if n_persisted != n_coarse:
            raise ValueError(
                f"stale two-level IVF index at {path!r}: persisted "
                f"{n_persisted} coarse centroids but this build implies "
                f"n_coarse={n_coarse}; the path encodes the build params"
            )
        return
    fine, subcents, coarse = _two_level_quantize(
        corpus, id_col, vec_col, n_cells, seed
    )
    fine.select(
        F.col("vid").alias(id_col),
        F.col("vec").alias(vec_col),
        "coarse",
        "sub_rank",
    ).write.mode("overwrite").partitionBy("coarse", "sub_rank").parquet(path)
    subcents.write.mode("overwrite").parquet(f"{path}/_sub_centroids")
    spark0.createDataFrame(
        [(i, [int(x) for x in row]) for i, row in enumerate(coarse)],
        "cell int, vq array<long>",
    ).coalesce(1).write.mode("overwrite").parquet(f"{path}/_coarse_centroids")


def search_ivf_two_level_index(
    spark,
    path: str,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    n_probe_coarse: int = 4,
    n_probe_sub: int = 2,
) -> DataFrame:
    """Search a build_ivf_two_level_index layout: the driver reads ONLY
    the sqrt(cells) `_coarse_centroids` sidecar; sub-centroids load as
    a DataFrame; probed (coarse, sub_rank) LEAF directories prune at
    the storage layer (two-key partition pruning via the broadcast
    probe side), and the re-rank is the family's shared cosine stage.
    Per-query read cost is n_probe_coarse*n_probe_sub*N/cells vectors
    — constant under the cells-proportional-to-N schedule — while the
    driver footprint stays sqrt(cells) at ANY index size."""
    cents_rows = sorted(
        spark.read.parquet(f"{path}/_coarse_centroids").collect(),
        key=lambda r: r["cell"],
    )
    coarse = np.stack(
        [np.asarray(r["vq"], dtype=np.int64) for r in cents_rows]
    )
    subcents = spark.read.parquet(f"{path}/_sub_centroids")
    fine = spark.read.parquet(path).select(
        F.col(id_col).alias("vid"),
        F.col(vec_col).alias("vec"),
        F.col("coarse").cast("int").alias("coarse"),
        F.col("sub_rank").cast("int").alias("sub_rank"),
    )
    probes = _two_level_probes(
        queries, subcents, coarse, id_col, vec_col, n_probe_coarse, n_probe_sub
    )
    return _rerank_candidates(fine, probes, k)
