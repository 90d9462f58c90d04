"""Deduplication operators (SURVEY.md §2.J J1/J2/J10 + north star):
exact, priority-keyed, n-gram Jaccard, MinHash+LSH banding, SimHash.

Scale design (the whole point at 100 TB):
  - exact dedup: one hash-partition shuffle on the content hash; the
    text column itself never shuffles (only hash + keys).
  - Jaccard pairs: inverted-index join on shingles — candidate pairs
    are generated only where a shingle is shared, never a cross join.
  - MinHash LSH: signatures are computed scan-side (per-row array
    expressions, no shuffle); the only shuffles are the band-bucket
    groupBy and the candidate verification join. Band buckets with a
    single member produce no candidates (skew-safe: a degenerate
    shingle that bucket-floods is capped by `max_bucket`).
  - SimHash: 64-bit signature scan-side; near-dup candidates via
    16-bit Hamming bands (4 exact-match sub-keys), verified with
    bit_count(xor) <= radius.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from dist_keras_spark.functions.text import shingles, tokens

# Large prime for minhash modulus (fits comfortably in a long).
_MINHASH_PRIME = 2_147_483_647


def _stage(df: DataFrame) -> DataFrame:
    """Materialize an intermediate to truncate expression-heavy lineage.

    The package's one staging rule: `checkpoint(eager=True)` when the
    SparkContext has a checkpoint dir (the deployment's reliable store,
    HDFS/object store at scale), else `localCheckpoint(eager=True)`.
    Spark MLlib's `checkpointInterval` uses the same convention.

    Local checkpoints are right for single-node / interactive use, NOT
    for 100 TB: the staged frame must fit in executor block storage
    and dies with the executors. Retained-block cost (ADVICE r13): each
    invocation checkpoints a fresh RDD and nothing unpersists it until
    the DataFrame is GC'd on the driver (ContextCleaner then drops the
    blocks), so tight re-invocation loops (bench.time_query's timed runs)
    accumulate executor block-manager storage between GCs. Fine for
    fixture-sized staged frames (narrow id/hash columns); at larger SFs
    set a checkpoint dir, or hold no references so the cleaner can run.

    Both branches are eager: Spark jobs run at CONSTRUCTION time, so a
    query function that stages executes work before any action on the
    returned DataFrame, and the staged plan is frozen under the confs
    in effect at the call.
    """
    if df.sparkSession.sparkContext.getCheckpointDir() is not None:
        return df.checkpoint(eager=True)
    return df.localCheckpoint(eager=True)


def exact_dedup(
    df: DataFrame, text_col: str = "text", keep_order: list[str] | None = None
) -> DataFrame:
    """J1: keep one row per distinct md5(text_col); `keep_order` columns
    decide the survivor (ascending), default lowest-first by all key
    columns present. Implemented as one ranked window over the hash —
    a single shuffle keyed on md5, no full-row comparison."""
    order = [
        F.col(c).asc() if isinstance(c, str) else c.asc()
        for c in (keep_order or df.columns)
    ]
    w = W.partitionBy(F.md5(F.col(text_col))).orderBy(*order)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def spread(df: DataFrame, key: str) -> DataFrame:
    """Hash-repartition up to the session's default parallelism.

    Small local fixture files arrive as ONE input partition, which
    serializes every downstream per-row expression onto one core; at
    cluster scale the scan is already split and this repartition is a
    cheap no-op-sized shuffle. Compute-heavy per-row operators
    (signatures, pairwise scoring) call this first.
    """
    # Plan-free guard: building df.rdd just to read its partition count
    # materializes the RDD lineage on every query construction. A plain
    # repartition to default parallelism is a no-op-sized shuffle when
    # the scan is already split, so just always ask for it.
    target = df.sparkSession.sparkContext.defaultParallelism
    return df.repartition(target, key)


def shingle_sets(df: DataFrame, id_col: str, text_col: str, n: int = 3) -> DataFrame:
    """id → distinct n-word shingle set (scan-side, no shuffle)."""
    return df.select(
        F.col(id_col).alias("id"),
        shingles(tokens(F.col(text_col)), n=n, distinct=True).alias("sh"),
    )


def shingle_postings(
    df: DataFrame, id_col: str, text_col: str, n: int = 3
) -> DataFrame:
    """id → DISTINCT n-word shingle postings (id, ns, shingle), built
    on the whole-stage-codegen path: explode token POSITIONS, then
    slice + array_join as plain row expressions.

    Identical output to exploding the transform()-built array
    (shingle_sets), and measured 3.3× faster in an r9 same-session A/B
    at sf0.1 (postings n=3: 4.1–4.8s transform-explode vs 1.1–1.8s
    this form; n=50 fingerprints: 2.2s vs ~1.0s). The penalty is in
    EXPLODING a HOF-built array into a row stream — Spark evaluates
    the interpreted lambda chain while flattening; once positions are
    exploded first, slice/array_join are plain codegen row
    expressions. When the ARRAY itself is the product the transform
    chain is actually FASTER (0.5s vs 0.8s — collect_list's shuffle
    costs more than the lambda), so shingle_sets deliberately remains
    for array consumers (the minhash Arrow kernel's input).

    ns = set cardinality (count over the id partition AFTER distinct
    == size(array_distinct(...))); docs shorter than n tokens produce
    no postings in both forms. Two shuffles, both on data-scaling
    keys: distinct on (id, shingle), the ns window on id — plus the
    spread() no-op-sized pre-shuffle below.

    spread() first (ADVICE r9 #3, re-measured in the r10 scaling
    sweep): the single-partition local fixture scan serializes the
    explode/array_join/md5 stage onto one core until the distinct
    shuffle; spreading the doc rows first parallelizes it. At cluster
    scale the scan is already split and this is a no-op-sized shuffle
    of (id, text) rows.
    """
    base = spread(df, id_col)
    t = tokens(F.col(text_col))
    base = base.select(F.col(id_col).alias("id"), t.alias("t")).where(
        F.size("t") >= n
    )
    rows = base.select(
        "id",
        F.explode(F.sequence(F.lit(1), F.size("t") - (n - 1))).alias("i"),
        "t",
    ).select(
        "id", F.expr(f"array_join(slice(t, i, {n}), ' ')").alias("shingle")
    )
    return (
        rows.distinct()
        .withColumn("ns", F.count(F.lit(1)).over(W.partitionBy("id")))
        .select("id", "ns", "shingle")
    )


def jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.5,
    max_df: int | None = None,
    keep_counts: bool = False,
) -> DataFrame:
    """J3: exact n-gram Jaccard over an inverted index.

    explode(shingle) → self-join postings on shingle → count shared →
    |A∩B| / (|A|+|B|−|A∩B|). Only pairs sharing ≥1 shingle are ever
    materialized. Returns (id_a, id_b, jaccard) with id_a < id_b.

    `max_df` is the 100 TB skew valve: a shingle appearing in m docs
    contributes m² join rows, so one boilerplate shingle can explode
    the join. Setting max_df drops postings for shingles with document
    frequency > max_df BEFORE the self-join — candidate recall for
    near-dups is preserved (near-identical docs share many rare
    shingles) but the computed jaccard becomes approximate, so the
    default (None) keeps exact semantics for the oracle.
    """
    postings = shingle_postings(df, id_col, text_col, n)
    if max_df is not None:
        dfreq = postings.groupBy("shingle").agg(F.count(F.lit(1)).alias("__df"))
        postings = postings.join(
            dfreq.filter(F.col("__df") <= max_df).select("shingle"), "shingle"
        )
    a = postings.select(
        F.col("id").alias("id_a"), F.col("ns").alias("na"), "shingle"
    )
    b = postings.select(
        F.col("id").alias("id_b"), F.col("ns").alias("nb"), "shingle"
    )
    shared = (
        a.join(b, ["shingle"])
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("c"), F.first("na").alias("na"), F.first("nb").alias("nb"))
    )
    jac = F.col("c") / (F.col("na") + F.col("nb") - F.col("c"))
    extra = ["c", "na", "nb"] if keep_counts else []
    # `keep_counts` exposes the exact integer sufficient statistics
    # (|A∩B|, |A|, |B|) so certification queries can derive
    # integer-exact fixed-point ratios ((1e6*c) div (na+nb-c)) instead
    # of flooring the IEEE quotient — the two disagree by 1 ulp-floor
    # for many exact ratios (ADVICE r8 #1).
    return shared.select(
        "id_a", "id_b", jac.alias("jaccard"), *extra
    ).filter(F.col("jaccard") >= threshold)


def _minhash_udf(k: int, band_count: int):
    """Arrow-batched minhash kernel: k affine rehashes
    hᵢ(x) = (aᵢ·x + bᵢ) mod p over the precomputed shingle-hash array —
    k·|S| multiply-adds instead of k·|S| string concat+hash (≈20×
    cheaper; this is the scan-stage hot loop of near-dedup at 100 TB).
    numpy does the whole batch as a (k × Σ|S|) broadcasted matrix with
    segment-mins. Alternatives measured at sf0.1: k unrolled
    array_min(transform(...)) expressions are 3.7s warm but generate a
    huge codegen class that recompiles (~10s spikes) in long sessions;
    a relational explode×seeds+min-agg is stable but 20s (19M-row
    expansion). This path is ~1s warm and flat, PROVIDED the input is
    spread across partitions (see spread()).

    Each band of r=k/band_count minima folds into ONE 64-bit
    band hash inside the same numpy pass (seeded odd multipliers,
    wrap-around sum): equal band slices ⇒ equal hash, so LSH recall is
    unchanged, and the per-row payload shrinks k/band_count× while the separate
    banding expression stage disappears entirely.
    """
    from pyspark.sql.types import ArrayType, LongType

    if k % band_count != 0:
        # fail at plan time, not as a cryptic reshape ValueError on
        # executors mid-job (the pre-Arrow F.slice banding silently
        # ignored the tail minima; explicit beats silent degradation)
        raise ValueError(
            f"minhash: k={k} must be divisible by band_count={band_count}"
        )
    rng = np.random.RandomState(42)
    a_np = rng.randint(1, _MINHASH_PRIME, size=k).astype(np.uint64)[:, None]
    b_np = rng.randint(0, _MINHASH_PRIME, size=k).astype(np.uint64)[:, None]

    r = k // band_count
    mix = (
        np.random.RandomState(7)
        .randint(1, 2**62, size=(band_count, r), dtype=np.uint64)
        | np.uint64(1)
    )

    def rows(mins: np.ndarray) -> np.ndarray:  # (k × m) → (b × m)
        prod = mins.reshape(band_count, r, -1) * mix[:, :, None]
        s = prod.sum(axis=1, dtype=np.uint64)  # wrap mod 2^64: deterministic
        return (s & np.uint64(0x7FFFFFFFFFFFFFFF)).astype(np.int64)

    empty_row = rows(np.full((k, 1), _MINHASH_PRIME, dtype=np.uint64))[:, 0]

    @F.pandas_udf(ArrayType(LongType()))
    def _sig(hs: pd.Series) -> pd.Series:
        lengths = hs.map(len).to_numpy()
        if lengths.sum() == 0:
            return pd.Series([empty_row] * len(hs))
        flat = np.concatenate([np.asarray(x, dtype=np.uint64) for x in hs])
        mat = (a_np * flat[None, :] + b_np) % np.uint64(_MINHASH_PRIME)  # k × N
        starts = np.zeros(len(hs), dtype=np.int64)
        starts[1:] = np.cumsum(lengths)[:-1]
        nonzero = lengths > 0
        vals = rows(np.minimum.reduceat(mat, starts[nonzero], axis=1))
        out: list[np.ndarray] = []
        j = 0
        for nz in nonzero:
            if nz:
                out.append(vals[:, j])
                j += 1
            else:
                out.append(empty_row)
        return pd.Series(out)

    return _sig


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    k: int = 64,
    bands: int = 16,
    threshold: float = 0.8,
    max_bucket: int | None = 1000,
    full_output: bool = False,
) -> DataFrame:
    """J2: MinHash+LSH near-duplicate pairs, verified with exact Jaccard.

    `full_output=True` additionally returns the exact verify counts
    (c, na, nb) so consumers needing the ppjoin output contract
    (integer jacc_e6 from exact set sizes) can derive it without a
    second intersection pass.

    banding: signature split into `bands` bands of k/bands rows; docs
    colliding on any band hash become candidates; candidates are then
    verified exactly, so false positives cost only the verify step and
    the miss probability at jaccard j is (1-j^r)^b (≈4e-8 at j=0.9
    with k=64, b=16). `max_bucket` caps degenerate buckets (e.g. the
    empty-shingle bucket) — dropped buckets are logged by count, the
    skew-safety valve at scale. `max_bucket=None` disables the valve
    entirely (no upper-bound filter in the plan): callers wanting the
    lossless form should pass None rather than a corpus-sized bound,
    which would cost an eager count() action at plan-construction time
    just to build an inert predicate (ADVICE r12).
    """
    # ONE pass computes the shingle sets; both the LSH candidate side
    # (→ xxhash64 → Arrow band-hash kernel) and the exact-Jaccard
    # verify side derive from it — and at 100 TB, ONE scan of the
    # corpus instead of two is the main structural win. The ARRAY form
    # deliberately stays on the transform() chain: an r9 same-session
    # A/B measured it FASTER than explode→distinct→collect_list when
    # the array itself is the product (0.5s vs 0.8s at sf0.1 — the
    # HOF penalty bites when arrays are EXPLODED into row streams, the
    # shingle_postings case, not when they stay arrays), and it keeps
    # deterministic element order. Band hashes come straight out of
    # the Arrow kernel (signature minima never leave the UDF): no
    # separate banding expression stage, and the shuffled payload is
    # `bands` longs per doc instead of k.
    sets = _stage(
        shingle_sets(spread(df, id_col), id_col, text_col, n).withColumn(
            "ns", F.size("sh")
        )
    )
    hashed = sets.withColumn(
        "hs",
        F.transform(
            F.col("sh"), lambda sh: F.pmod(F.xxhash64(sh), F.lit(_MINHASH_PRIME))
        ),
    )
    # The banding output is staged: THREE consumers read it (the bucket
    # counts and both self-join sides), and without materialization
    # each would re-run the Arrow kernel. It is `bands` longs per doc —
    # the narrowest artifact in the pipeline, far smaller than the
    # shingle sets.
    banded = _stage(
        hashed.select("id", _minhash_udf(k, bands)("hs").alias("bh")).select(
            "id", F.posexplode("bh").alias("band", "bh")
        )
    )
    # Candidate pairs via bucket COUNT pre-prune + self-join — not
    # collect_set. count() partial-aggregates map-side (the shuffle
    # carries one row per bucket, not every id), the prune drops the
    # singleton buckets (the vast majority) BEFORE any join, and
    # max_bucket is the degenerate-bucket skew valve. collect_set was
    # also measured 4-8× slower locally: it shuffles full id lists into
    # single reducers and its object-hash aggregate falls back to
    # sort-based on wide key counts. (id, band) is unique by
    # construction, so count(*) per (band, bh) == distinct ids.
    good = (
        banded.groupBy("band", "bh")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(
            F.col("n") > 1
            if max_bucket is None
            else (F.col("n") > 1) & (F.col("n") <= max_bucket)
        )
        .select("band", "bh")
    )
    pruned = banded.join(good, ["band", "bh"])
    cand = (
        pruned.select(F.col("id").alias("id_a"), "band", "bh")
        .join(pruned.select(F.col("id").alias("id_b"), "band", "bh"), ["band", "bh"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    verified = (
        cand.join(
            sets.select(
                F.col("id").alias("id_a"), F.col("sh").alias("sh_a"), F.col("ns").alias("na")
            ),
            "id_a",
        )
        .join(
            sets.select(
                F.col("id").alias("id_b"), F.col("sh").alias("sh_b"), F.col("ns").alias("nb")
            ),
            "id_b",
        )
        .withColumn("c", F.size(F.array_intersect("sh_a", "sh_b")))
        .withColumn("jaccard", F.col("c") / (F.col("na") + F.col("nb") - F.col("c")))
        .filter(F.col("jaccard") >= threshold)
    )
    if full_output:
        return verified.select("id_a", "id_b", "c", "na", "nb", "jaccard")
    return verified.select("id_a", "id_b", "jaccard")


SIMHASH_BITS = 60  # 15 hex chars of md5 — fits BIGINT on both engines
SIMHASH_BANDS = 4  # pigeonhole: radius 3 ⇒ one of 4 bands matches exactly


def simhash(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """60-bit SimHash of the token multiset as a BIGINT: bit p is set
    iff Σ_tokens (±1 by bit p of the token hash) > 0.

    The token hash is the first 15 hex chars of md5 parsed as an
    integer — PORTABLE: DuckDB computes the identical value via
    ('0x' || substr(md5(t),1,15))::BIGINT, which is what lets
    simhash_neardup carry a sharp replayed oracle (xxhash64, the
    previous hash, exists only in Spark). Token hashes are computed
    ONCE per token into an array; the per-bit ±1 fold shifts by a
    Python-literal p (Spark's shiftright requires literal shift
    amounts — the reason this is a generate-60-expressions loop, not a
    lambda over sequence()). Scan-side expressions, no shuffle.
    """
    from pyspark.sql.types import LongType

    toks = tokens(F.col(text_col))
    # Token hashes stay JVM-side (md5 + conv are codegen'd built-ins);
    # only the 60-bit majority vote runs in the Arrow kernel below. An
    # all-expression version (60 fold-aggregates) was measured at
    # ~3.5s of pure analysis/codegen constant for the giant tree — the
    # kernel does the identical INTEGER math vectorized, so oracle
    # parity is exact (no float anywhere).
    hashed = F.transform(
        toks,
        lambda t: F.conv(F.substring(F.md5(t), 1, 15), 16, 10).cast("long"),
    )

    bit_idx = np.arange(SIMHASH_BITS, dtype=np.int64)

    @F.pandas_udf(LongType())
    def _sig(hs: pd.Series) -> pd.Series:
        out = np.zeros(len(hs), dtype=np.int64)
        lengths = hs.map(len).to_numpy()
        if lengths.sum() == 0:
            return pd.Series(out)
        flat = np.concatenate([np.asarray(x, dtype=np.int64) for x in hs])
        pm = (((flat[:, None] >> bit_idx) & 1) * 2 - 1).astype(np.int64)  # N×60 ±1
        starts = np.zeros(len(hs), dtype=np.int64)
        starts[1:] = np.cumsum(lengths)[:-1]
        nonzero = lengths > 0
        sums = np.add.reduceat(pm, starts[nonzero], axis=0)  # docs×60
        sigs = ((sums > 0).astype(np.int64) << bit_idx).sum(axis=1)
        out[nonzero] = sigs
        return pd.Series(out)

    return df.select(F.col(id_col).alias("id"), _sig(hashed).alias("simhash"))


def simhash_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    radius: int = 3,
) -> DataFrame:
    """SimHash near-dup pairs within a Hamming radius: band the 60-bit
    signature into 4×15-bit sub-keys (pigeonhole: ≤3 differing bits →
    at least one band matches exactly), bucket-join on each band, then
    verify bit_count(xor) <= radius.

    The signatures (one long per doc) are staged via `_stage` before
    the band explode and the self-join — lazy, the md5+Arrow signature
    subtree re-evaluates once per join side and the runtime blows up
    ~6× (same reason minhash_lsh_pairs stages its band hashes)."""
    band_bits = SIMHASH_BITS // SIMHASH_BANDS
    mask = (1 << band_bits) - 1
    sigs = _stage(simhash(spread(df, id_col), id_col, text_col))
    banded = sigs.select(
        "id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(bi).alias("band"),
                        F.shiftright(F.col("simhash"), bi * band_bits)
                        .bitwiseAND(F.lit(mask))
                        .alias("bkey"),
                    )
                    for bi in range(SIMHASH_BANDS)
                ]
            )
        ).alias("b"),
    ).select("id", "simhash", F.col("b.band").alias("band"), F.col("b.bkey").alias("bkey"))
    a = banded.select(
        F.col("id").alias("id_a"), F.col("simhash").alias("sig_a"), "band", "bkey"
    )
    b = banded.select(
        F.col("id").alias("id_b"), F.col("simhash").alias("sig_b"), "band", "bkey"
    )
    cand = (
        a.join(b, ["band", "bkey"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "sig_a", "sig_b")
        .distinct()
    )
    hamming = F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b"))).cast("int")
    return (
        cand.withColumn("hamming", hamming)
        .filter(F.col("hamming") <= radius)
        .select("id_a", "id_b", "hamming")
    )


def neardup_clusters(
    vertices: DataFrame,
    pairs: DataFrame,
    id_col: str = "id",
    max_iter: int = 20,
) -> DataFrame:
    """Connected components over near-dup pairs → (id, cluster_id),
    cluster_id = the smallest doc id reachable through the pair graph.

    Algorithm: iterative min-label propagation — every vertex starts
    labeled with itself; each round takes the min of its own label and
    its neighbors' labels; stop when a round changes nothing. This is
    the standard large-scale CC algorithm (label propagation over an
    edge list): each round is one shuffle-join keyed on vertex id, and
    the round count is the graph diameter (near-dup clusters are
    shallow — pairs/chains — so 2-3 rounds in practice). Labels are
    staged per round (`_stage`) to truncate the growing lineage. The
    fixpoint is unique regardless of execution order, so the result is
    deterministic and SQL-replayable (recursive CTE).

    `max_iter` bounds a pathological path-graph; hitting it raises
    rather than returning a half-converged labeling.
    """
    # Stage the edge list ONCE: `pairs` usually carries an expensive
    # candidate-generation lineage (inverted-index joins), and every
    # propagation round + change-count references it — without this,
    # the pair generation re-executes ~2× per round (measured ~30%+ off
    # leakage_safe_split_assign at sf0.1; see bench_extended_trace). Ids
    # only, so the checkpoint is tiny.
    und = _stage(
        pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
        .unionByName(
            pairs.select(F.col("id_b").alias("src"), F.col("id_a").alias("dst"))
        )
    )
    labels = _stage(
        vertices.select(F.col(id_col).alias("vid"), F.col(id_col).alias("label"))
    )
    for _ in range(max_iter):
        neighbor_min = (
            und.join(labels, und.src == labels.vid)
            .groupBy(F.col("dst").alias("vid2"))
            .agg(F.min("label").alias("nmin"))
        )
        new_labels = _stage(
            labels.join(neighbor_min, labels.vid == neighbor_min.vid2, "left")
            .select(
                "vid",
                F.least(
                    F.col("label"), F.coalesce(F.col("nmin"), F.col("label"))
                ).alias("label"),
            )
        )
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "vid")
            .filter(F.col("n.label") != F.col("o.label"))
            .count()
        )
        labels = new_labels
        if changed == 0:
            return labels.select(F.col("vid").alias(id_col), F.col("label").alias("cluster_id"))
    raise RuntimeError(
        f"neardup_clusters: no fixpoint after {max_iter} rounds — "
        "graph diameter exceeds max_iter; raise it for path-like graphs"
    )


def substring_fingerprints(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text", n: int = 50
) -> DataFrame:
    """(id, fp) postings: md5 fingerprint of every DISTINCT n-token
    span of the document. Scan-side: tokenize → sliding n-gram →
    md5 — the gram text exists only inside the scan stage; nothing
    bigger than (id, 32-hex-char fp) ever reaches a shuffle. md5 is
    the house engine-portable fingerprint (J1 exact dedup uses it the
    same way): Spark's md5() and DuckDB's md5() agree byte-for-byte,
    so the oracle replays the identical fingerprint arithmetic.
    Documents shorter than n tokens yield no postings. Built on the
    codegen explode path (positions → slice/array_join as plain row
    expressions), not the interpreted transform() array — at n = 50
    each interpreted lambda call slices and joins 50 tokens, so this
    site paid the r8-documented HOF penalty hardest (r9 measured the
    3-gram chain at ~5s/evaluation over 5k sf0.1 docs; the 50-gram
    chain is proportionally worse). Distinct runs on (id, gram)
    BEFORE md5 — exactly array_distinct's semantics."""
    t = tokens(F.col(text_col))
    base = df.select(F.col(id_col).alias("id"), t.alias("t")).where(
        F.size("t") >= n
    )
    return (
        base.select(
            "id",
            F.explode(F.sequence(F.lit(1), F.size("t") - (n - 1))).alias("i"),
            "t",
        )
        .select(
            "id", F.expr(f"array_join(slice(t, i, {n}), ' ')").alias("gram")
        )
        .distinct()
        .select("id", F.md5("gram").alias("fp"))
    )


def substring_dup_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 50,
    max_df: int | None = None,
) -> DataFrame:
    """Exact substring dedup at n-grams — the Lee et al. 2022
    ("Deduplicating Training Data Makes Language Models Better",
    public knowledge) ExactSubstr shape re-expressed for Spark: two
    documents are duplicates when they share ANY n-token span
    (n=50 canonical). Instead of the paper's single-node suffix
    array, candidates come from a bucketed inverted index of n-gram
    fingerprints: explode spans scan-side, md5 each, self-join the
    (id, fp) postings list on fp. Returns (doc_a, doc_b, n_shared)
    with doc_a < doc_b, n_shared = number of distinct shared spans.

    100 TB shape: ONE shuffle of (id, 32-byte fp) postings — document
    text never shuffles; the self-join is bucketed by fingerprint so
    only documents sharing a span ever meet. `max_df` is the same
    stop-shingle valve as jaccard_pairs/tfidf: a boilerplate span
    appearing in m docs contributes m² join rows, so production runs
    cap document frequency (recall for real duplicates is preserved —
    near-identical docs share many rare spans); the default None
    keeps exact semantics for the oracle."""
    postings = substring_fingerprints(df, id_col, text_col, n)
    if max_df is not None:
        dfreq = postings.groupBy("fp").agg(F.count(F.lit(1)).alias("__df"))
        postings = postings.join(
            dfreq.filter(F.col("__df") <= max_df).select("fp"), "fp"
        )
    a = postings.select(F.col("id").alias("doc_a"), "fp")
    b = postings.select(F.col("id").alias("doc_b"), "fp")
    return (
        a.join(b, "fp")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )


# Double polynomial span-fingerprinting (the fast twin of
# substring_fingerprints): two independent primes push the collision
# rate to ~2^-62, and every constant is engine-portable int64 math.
_POLY_P1, _POLY_B1 = 2147483629, 1000003
_POLY_P2, _POLY_B2 = 2147483587, 1000033
# Literal tables B^pos mod P and B^-pos mod P. 256 caps document
# length for this operator (ANSI element_at fails LOUDLY beyond it);
# the valve for longer docs is passage-chunking first, or per-segment
# base resets.
_POLY_MAXTOK = 256


def _pow_table(b: int, p: int, inverse: bool = False) -> list[int]:
    base = pow(b, -1, p) if inverse else b
    out, acc = [], 1
    for _ in range(_POLY_MAXTOK):
        out.append(acc)
        acc = (acc * base) % p
    return out


def substring_dup_pairs_poly(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 50,
) -> DataFrame:
    """The MEASURED fast twin of substring_dup_pairs: identical pair
    semantics, spans fingerprinted by a DOUBLE polynomial rolling
    hash in O(1) per span — prefix sums of h_i·B^i mod P via a
    running window, span hash = (C_{j+n-1} − C_{j-1})·B^-j mod P
    with literal power tables. Everything stays in whole-stage
    codegen: one md5 per TOKEN (hex→int via conv), integer
    mult-mods, a per-doc running-sum + lead window.

    WHY NOT the 'obvious' per-span aggregate(): MEASURED 42.7s at
    sf0.01 vs md5's ~0.5s — Spark evaluates higher-order-function
    lambdas INTERPRETED per element, so nested transform(aggregate)
    loses to codegen'd string building + md5 by ~100×. The windowed
    prefix-sum formulation is both asymptotically better (O(tokens)
    vs O(tokens·n)) and codegen-friendly. Collision rate ~2^-62 on
    the (f1, f2) key pair vs md5's 2^-128 — both negligible; the
    oracle replays identical arithmetic so even a collision-induced
    pair would match.

    100 TB: the window shuffles (id, pos, two int64 terms) — compare
    the md5 twin's zero-shuffle-but-O(tokens·n·bytes) scan; pick by
    measurement (bench_extended_trace.json times both)."""
    toks = tokens(F.col(text_col))
    base = df.filter(F.size(toks) >= n).select(
        F.col(id_col).alias("id"), toks.alias("t")
    )
    posts = base.select(
        "id", F.size("t").alias("nt"), F.posexplode("t").alias("pos", "w")
    )
    hexh = F.conv(F.substring(F.md5("w"), 1, 8), 16, 10).cast("long")
    terms = posts.select(
        "id",
        "pos",
        *[
            F.pmod(
                F.pmod(hexh, F.lit(p))
                * F.element_at(
                    F.array(*[F.lit(v) for v in _pow_table(b, p)]),
                    (F.col("pos") + 1).cast("int"),
                ),
                F.lit(p),
            ).alias(f"term{k}")
            for k, (p, b) in ((1, (_POLY_P1, _POLY_B1)), (2, (_POLY_P2, _POLY_B2)))
        ],
    )
    wrun = (
        W.partitionBy("id")
        .orderBy("pos")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    wlead = W.partitionBy("id").orderBy("pos")
    cums = terms.select(
        "id",
        "pos",
        "term1",
        "term2",
        F.sum("term1").over(wrun).alias("c1"),
        F.sum("term2").over(wrun).alias("c2"),
    )
    spans = cums.select(
        "id",
        "pos",
        *[
            F.pmod(
                F.pmod(
                    F.lead(f"c{k}", n - 1).over(wlead)
                    - (F.col(f"c{k}") - F.col(f"term{k}")),
                    F.lit(p),
                )
                * F.element_at(
                    F.array(*[F.lit(v) for v in _pow_table(b, p, inverse=True)]),
                    (F.col("pos") + 1).cast("int"),
                ),
                F.lit(p),
            ).alias(f"f{k}")
            for k, (p, b) in ((1, (_POLY_P1, _POLY_B1)), (2, (_POLY_P2, _POLY_B2)))
        ],
        F.lead("c1", n - 1).over(wlead).alias("__valid"),
    )
    postings = (
        spans.filter(F.col("__valid").isNotNull())
        .select("id", "f1", "f2")
        .distinct()
    )
    a = postings.select(F.col("id").alias("doc_a"), "f1", "f2")
    b_ = postings.select(F.col("id").alias("doc_b"), "f1", "f2")
    return (
        a.join(b_, ["f1", "f2"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )


def ppjoin_prefix_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 4,
    tau_num: int = 3,
    tau_den: int = 5,
    max_df: int | None = None,
) -> DataFrame:
    """Prefix-filtered set-similarity join (the PPJoin/AllPairs family,
    Chaudhuri et al. 2006 / Xiao et al. 2008 — public knowledge).

    One staged per-document frame, docs(id, ns, sh, pre): the distinct
    postings of shingle_postings (its ns window is pruned, unused), each
    posting's document frequency as a count window over its shingle,
    then per id `sort_array(collect_list(struct(dfreq, shingle)))` —
    the (df asc, shingle asc) rarest-first order — whose shingles are
    `sh` and whose first plen structs are `pre`. Candidates come from
    exploding `pre`; verify joins `docs` on both ids and counts
    c = size(array_intersect(sa, sb)) (both sets are distinct). The
    frame goes through `_stage` once: otherwise each of its four
    consumers (both prefix sides, both verify sides) re-plans the
    documents scan and explode. Measured on 4 local cores
    (interleaved, noop sink, min of runs): sf0.1 1.06s, 0.95s with
    max_df=64; sf1 12.0–12.5s, 11.5–11.9s (1.44s / 1.58s and
    13.4–14.4s / 13.3–13.5s for the plan with a staged postings frame,
    a staged prefix frame and a postings⋈postings verify join).

    `max_df` (r12, VERDICT r11 #3b): optional ABSOLUTE document-
    frequency cap on the prefix CANDIDATE index — the tfidf_dfcap dial
    applied to the one stage of this join that can turn quadratic
    (post-saturation, every prefix shingle's df grows ∝ N and the
    prefix self-join inherits the full index's blowup). With the cap,
    posting lists entering the self-join are ≤ max_df rows ⇒ candidate
    pairs per shingle ≤ max_df·(max_df−1)/2, a CONSTANT. PRECISION IS
    STRUCTURAL: the cap only drops CANDIDATES — the verify stage still
    intersects the FULL shingle sets of both docs, so every
    emitted pair carries its exact c/na/nb/jaccard and passes the exact
    τ test; what's lost is RECALL for pairs whose entire τ-prefix is
    frequent shingles (df > max_df) — on Zipf text the rarest-first
    prefix order makes that the measure-small corner, on saturated
    synthetic corpora see the registered twin's measured-recall note.
    None (default) keeps the lossless exact join.

    Same ANSWER as the plain inverted-index Jaccard join at threshold
    τ = tau_num/tau_den, but the candidate-generating self-join indexes
    only each set's PREFIX — the first |x| − ceil(τ·|x|) + 1 shingles
    under a global frequency order (rarest first). The prefix-filter
    guarantee is exact: two sets with Jaccard ≥ τ MUST share a prefix
    token, so recall is lossless — which is why the oracle for this
    operator is the PLAIN join (optimization must be answer-invisible,
    the join_skew_salted contract).

    Shape at 100 TB: postings for the self-join shrink to ~(1−τ) of
    the full index — and because the prefix keeps the RAREST tokens,
    the quadratic per-token join blowup concentrates exactly where
    document frequency is lowest. The frequent-token mass that forces
    max_df valves in jaccard_pairs never enters the join here; the df
    ranking itself is one token-keyed count window over the postings.

    Prefix-filter linearity ASSUMES the rarest-shingle df stays O(1)
    as the corpus grows — true on real text, where the shingle space
    (vocab^n, Zipf vocab) is effectively unbounded. The r11 two-step
    sweep measured the assumption's failure mode on the synthetic
    31-word-vocab corpus: the 4-gram space (31⁴ ≈ 923k) SATURATES at
    ~50k docs (97% of all possible shingles present at sf1), past
    which every doc's rarest df grows ∝ N (measured 1.13 → 2.22
    sf1→sf2) and the prefix join turns structurally quadratic
    (exp ≈ 3.0 at sf1→sf2, vs 0.76 at the pre-saturation 10× step).
    The in-suite control ops prove it's the space, not the plan: the
    50-gram substring/winnowing consumers on the SAME corpus measure
    exp 0.79 / 0.03 at the same step — their shingle space cannot
    saturate. Production dial on dense corpora: longer shingles
    (n ≥ 5 multiplies the space 31×) or the cluster-level paths
    (minhash_lsh: exp 0.56 at sf1→sf2 on this same corpus).

    All-integer threshold: tau_den·c ≥ tau_num·(na+nb−c); returned
    jacc_e6 = (1e6·c) div (na+nb−c).
    """
    posts = shingle_postings(df, id_col, text_col, n).select(
        "id",
        F.struct(
            F.count(F.lit(1)).over(W.partitionBy("shingle")).alias("dfreq"),
            "shingle",
        ).alias("p"),
    )
    # (df asc, shingle asc): the rarest-first global order
    order = F.sort_array(F.collect_list("p"))
    per_doc = posts.groupBy("id").agg(order.alias("o"))
    per_doc = per_doc.withColumn("ns", F.size("o").cast("long"))
    # prefix length: ns − ceil(τ·ns) + 1, all-integer ceil
    plen = (
        F.col("ns")
        - F.expr(f"({tau_num} * ns + {tau_den - 1}) div {tau_den}")
        + 1
    )
    docs = _stage(
        per_doc.select(
            "id",
            "ns",
            F.col("o.shingle").alias("sh"),
            F.slice("o", 1, plen.cast("int")).alias("pre"),
        )
    )
    prefix = docs.select("id", F.explode("pre").alias("p"))
    if max_df is not None:
        prefix = prefix.filter(F.col("p.dfreq") <= max_df)
    prefix = prefix.select("id", F.col("p.shingle").alias("shingle"))
    cand = (
        prefix.select(F.col("id").alias("id_a"), "shingle")
        .join(prefix.select(F.col("id").alias("id_b"), "shingle"), "shingle")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    da = docs.select(
        F.col("id").alias("id_a"), F.col("ns").alias("na"), F.col("sh").alias("sa")
    )
    db = docs.select(
        F.col("id").alias("id_b"), F.col("ns").alias("nb"), F.col("sh").alias("sb")
    )
    c = F.size(F.array_intersect("sa", "sb")).cast("long")
    inter = cand.join(da, "id_a").join(db, "id_b").select(
        "id_a", "id_b", c.alias("c"), "na", "nb"
    )
    union_sz = F.col("na") + F.col("nb") - F.col("c")
    return (
        inter.filter(F.lit(tau_den) * F.col("c") >= F.lit(tau_num) * union_sz)
        .select(
            "id_a",
            "id_b",
            "c",
            "na",
            "nb",
            F.expr("(1000000 * c) div (na + nb - c)").alias("jacc_e6"),
        )
    )
