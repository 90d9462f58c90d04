"""Round-5 analytics operators: funnels, time-series resample/gap-fill,
EWMA smoothing, trailing-window anomaly flags, deterministic sampling,
fixed-width histograms, merge/upsert (SCD), forward/nearest as-of
joins, running-distinct and numeric-RANGE windows, A/B t-statistics,
closed-form OLS trends, data-quality expectation suites, regex
masking, try_cast-tolerant parsing, z-order layout stats, null-safe
joins, bitmap set-membership aggregates, and explode_outer semantics.

These extend SURVEY.md §2 families C/D/E/H/K and the
training-data-pipeline set with the analytics shapes a warehouse user
expects (funnel/retention/resample are the classic product-analytics
trio; dist-keras has no analogue — this is the "beyond the reference"
surface the brief asks for). COVERAGE.md maps each query to its
inventory row.

Scale notes are per-query; the common rules: every window partitions
on a key whose cardinality scales with the data (user_id, or
(event_type, day) — never a constant-cardinality global sort; the
plan-hygiene test enforces this engine-wide), spines are
dimension-sized (hours × types), and sampling/merge are pure column
expressions with one key-shuffle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from dist_keras_spark.functions.time import epoch_s, epoch_us, trunc
from dist_keras_spark.operators.dedup import _stage
from dist_keras_spark.operators.utils import bounded_window_key
from dist_keras_spark.plans.registry import query
from dist_keras_spark.sources.tables import load_table as _lt


@query(
    "events_funnel_steps",
    oracle="""
WITH s AS (
    SELECT user_id, min(ts) AS t0 FROM events
    WHERE event_type = 'signup' GROUP BY user_id
), c AS (
    SELECT e.user_id, min(e.ts) AS t1
    FROM events e JOIN s ON e.user_id = s.user_id
    WHERE e.event_type = 'click' AND e.ts > s.t0
    GROUP BY e.user_id
), p AS (
    SELECT e.user_id, min(e.ts) AS t2
    FROM events e JOIN c ON e.user_id = c.user_id
    WHERE e.event_type = 'purchase' AND e.ts > c.t1
    GROUP BY e.user_id
)
SELECT (SELECT count(*) FROM s) AS step_signup,
       (SELECT count(*) FROM c) AS step_click,
       (SELECT count(*) FROM p) AS step_purchase
""",
)
def events_funnel_steps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered three-step funnel (signup → click → purchase): how many
    users completed each prefix IN ORDER (a later click counts only
    after the first signup, a purchase only after that click).

    Shape: three aggregate-then-join rounds, ALL keyed on user_id — at
    scale that is three hash shuffles on the same key (AQE coalesces;
    a pre-bucketed events table would make them co-located). No
    windows, no state: min(ts) per step is enough because steps are
    monotone (first qualifying timestamp dominates)."""
    e = _lt(spark, sf_dir, "events")
    s = (
        e.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t0"))
    )
    c = (
        e.filter(F.col("event_type") == "click")
        .join(s, "user_id")
        .filter(F.col("ts") > F.col("t0"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t1"))
    )
    p = (
        e.filter(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .filter(F.col("ts") > F.col("t1"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t2"))
    )
    return (
        s.agg(F.count(F.lit(1)).alias("step_signup"))
        .crossJoin(c.agg(F.count(F.lit(1)).alias("step_click")))
        .crossJoin(p.agg(F.count(F.lit(1)).alias("step_purchase")))
    )


@query(
    "events_hourly_gapfill",
    oracle="""
WITH bounds AS (
    SELECT date_trunc('hour', min(ts)) AS lo,
           date_trunc('hour', max(ts)) AS hi
    FROM events
), hours AS (
    SELECT unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS hour
    FROM bounds
), types AS (
    SELECT DISTINCT event_type FROM events
), spine AS (
    SELECT hour, event_type FROM hours, types
), hourly AS (
    SELECT date_trunc('hour', ts) AS hour, event_type,
           count(*) AS n, sum(value) AS sv
    FROM events GROUP BY 1, 2
)
SELECT s.event_type, s.hour,
       coalesce(h.n, 0) AS n,
       round(last_value(h.sv IGNORE NULLS) OVER (
           PARTITION BY s.event_type ORDER BY s.hour
           ROWS UNBOUNDED PRECEDING), 2) AS sum_value_filled
FROM spine s LEFT JOIN hourly h
  ON s.hour = h.hour AND s.event_type = h.event_type
""",
)
def events_hourly_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series resample + gap-fill (the hypertable `time_bucket_gapfill`
    / `locf` shape): a dense hour × event_type spine, hourly aggregates
    left-joined on, missing hours carried forward with
    last-observation-carried-forward.

    Scale: the spine is DIMENSION-sized (hours-in-range × #types — a
    year of hourly buckets for 1000 types is 8.8M rows, trivial), so
    the crossJoin of two tiny derived frames is sanctioned; the one
    data-sized shuffle is the hourly groupBy. The LOCF window
    partitions by event_type over the SPINE (not the raw events), so
    its sort is spine-sized. Raw events are never sorted globally.

    r14 (guide §2.4, dup-scan sweep): bounds and the type list used
    to be separate aggregates over raw events — three differently-
    pruned consumers of the same scan, so the final plan read events
    3× with zero runtime reuse. Both now derive from the staged
    `hourly` aggregate, which is exact: date_trunc('hour') is
    monotonic (min/max of truncated hours == truncated min/max ts),
    and every event lands in a group so DISTINCT event_type over the
    aggregate equals DISTINCT over events. Final plan: events scans
    3→1 (staged via `_stage`); oracle unchanged and hash-green at
    3 SFs."""
    e = _lt(spark, sf_dir, "events")
    hourly = _stage(
        e.groupBy(
            trunc("hour", "ts").alias("hour"), "event_type"
        ).agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("sv"))
    )
    bounds = hourly.agg(
        F.min("hour").alias("lo"), F.max("hour").alias("hi")
    )
    hours = bounds.select(
        F.explode(F.sequence("lo", "hi", F.expr("INTERVAL 1 HOUR"))).alias("hour")
    )
    types = hourly.select("event_type").distinct()
    spine = hours.crossJoin(types)  # dim-sized × dim-sized: sanctioned
    joined = spine.join(hourly, ["hour", "event_type"], "left")
    return joined.select(
        "event_type",
        "hour",
        F.coalesce("n", F.lit(0)).alias("n"),
        F.round(F.last("sv", ignorenulls=True).over(
            W.partitionBy("event_type").orderBy("hour")
            .rowsBetween(W.unboundedPreceding, W.currentRow)
        ), 2).alias("sum_value_filled"),
    )


@query(
    "events_ewma_last",
    oracle="""
WITH seq AS (
    SELECT user_id, value,
           row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS i,
           count(*)    OVER (PARTITION BY user_id)                        AS n
    FROM events
)
SELECT user_id,
       max(n) AS n_events,
       round(sum(CASE WHEN i = 1 THEN power(0.7, n - 1)
                      ELSE 0.3 * power(0.7, n - i) END * value), 2) AS ewma
FROM seq GROUP BY user_id
""",
)
def events_ewma_last(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EWMA smoothing (α=0.3, s1=x1, s_n = α·x_n + (1-α)·s_{n-1}) per
    user, reporting the final smoothed value. The recurrence is
    rewritten to its closed form — a weighted sum with weights
    α·(1-α)^(n-i) (and (1-α)^(n-1) for the seed) — so the whole thing
    is ONE window pass (row_number + per-key count) plus ONE groupBy:
    no iterative driver loop, no applyInPandas. Scale: both the window
    and the aggregate key on user_id, whose cardinality scales with
    the data; per-key history length is what bounds the float
    underflow ((1-α)^k vanishes past k≈200, which is also why the
    closed form is numerically fine for bounded sessions)."""
    e = _lt(spark, sf_dir, "events")
    wk = W.partitionBy("user_id").orderBy("ts", "event_id")
    seq = e.select(
        "user_id",
        "value",
        F.row_number().over(wk).alias("i"),
        F.count(F.lit(1)).over(W.partitionBy("user_id")).alias("n"),
    )
    weight = F.when(
        F.col("i") == 1, F.pow(F.lit(0.7), F.col("n") - 1)
    ).otherwise(F.lit(0.3) * F.pow(F.lit(0.7), F.col("n") - F.col("i")))
    return seq.groupBy("user_id").agg(
        F.max("n").alias("n_events"),
        F.round(F.sum(weight * F.col("value")), 2).alias("ewma"),
    )


@query(
    "events_anomaly_trailing_z",
    oracle="""
WITH scored AS (
    SELECT event_type, value,
           avg(value) OVER w AS m,
           stddev_samp(value) OVER w AS s,
           count(*) OVER w AS k
    FROM events
    WINDOW w AS (PARTITION BY event_type, date_trunc('day', ts)
                 ORDER BY ts, event_id
                 ROWS BETWEEN 20 PRECEDING AND 1 PRECEDING)
)
SELECT event_type,
       count(*) AS n_scored,
       CAST(sum(CASE WHEN k >= 10 AND s > 0 AND abs(value - m) / s > 3.0
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_anomalies
FROM scored GROUP BY event_type
""",
)
def events_anomaly_trailing_z(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-window anomaly detection: each event is z-scored
    against the 20 events BEFORE it (never itself — no leakage) within
    its (event_type, day) partition; |z| > 3 with ≥10 trailing samples
    flags an anomaly. Output is the per-type anomaly count.

    Scale: the window partitions on (event_type, day) — cardinality
    grows with the data's time span, so no partition exceeds one
    type-day of events (vs. partitioning on event_type alone, which
    would serialize ALL history for a hot type through one task). The
    day boundary reset is the standard trade for unbounded streams."""
    e = _lt(spark, sf_dir, "events")
    w = (
        W.partitionBy("event_type", F.to_date("ts"))
        .orderBy("ts", "event_id")
        .rowsBetween(-20, -1)
    )
    scored = e.select(
        "event_type",
        "value",
        F.avg("value").over(w).alias("m"),
        F.stddev_samp("value").over(w).alias("s"),
        F.count(F.lit(1)).over(w).alias("k"),
    )
    is_anom = (
        (F.col("k") >= 10)
        & (F.col("s") > 0)
        & (F.abs(F.col("value") - F.col("m")) / F.col("s") > 3.0)
    )
    return scored.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_scored"),
        F.sum(F.when(is_anom, 1).otherwise(0)).alias("n_anomalies"),
    )


@query(
    "grouped_mode_event_type",
    oracle="""
WITH counts AS (
    SELECT user_id, event_type, count(*) AS cnt
    FROM events GROUP BY user_id, event_type
), ranked AS (
    SELECT user_id, event_type, cnt,
           row_number() OVER (PARTITION BY user_id
                              ORDER BY cnt DESC, event_type ASC) AS rn
    FROM counts
)
SELECT user_id, event_type AS mode_type, cnt AS mode_cnt
FROM ranked WHERE rn = 1
""",
)
def grouped_mode_event_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group mode (most frequent value) with a DETERMINISTIC
    tie-break (higher count, then lexicographically smaller value) —
    the deterministic version of the `mode()` aggregate. Shape:
    count-per-(key,value) then top-1-per-key window; both stages
    shuffle on user_id (the second on user_id alone — the window's
    partition count scales with key cardinality). The map-side partial
    aggregation of the first groupBy does the heavy lifting at scale."""
    e = _lt(spark, sf_dir, "events")
    counts = e.groupBy("user_id", "event_type").agg(F.count(F.lit(1)).alias("cnt"))
    rn = F.row_number().over(
        W.partitionBy("user_id").orderBy(F.desc("cnt"), F.asc("event_type"))
    )
    return (
        counts.withColumn("rn", rn)
        .filter(F.col("rn") == 1)
        .select("user_id", F.col("event_type").alias("mode_type"), F.col("cnt").alias("mode_cnt"))
    )


@query(
    "histogram_fixed_width",
    oracle="""
SELECT cast(floor(l_extendedprice * 21 / 105000) AS int) AS bucket,
       count(*) AS n,
       round(sum(l_extendedprice), 2) AS total
FROM lineitem
GROUP BY 1
""",
)
def histogram_fixed_width(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width histogram (21 buckets over [0, 105000)) of lineitem
    prices — the single-pass, pure-column-expression histogram (vs.
    approx_ntile_buckets' equi-depth sketch). The bucket expression
    `floor(x·21/105000)` is identical IEEE double arithmetic in both
    engines, so the oracle matches bit-exactly. Scale: one map-side
    partial aggregate into ≤21 groups — the cheapest distributed shape
    there is; bounds are compile-time literals so no extra pass."""
    li = _lt(spark, sf_dir, "lineitem")
    bucket = F.floor(F.col("l_extendedprice") * 21 / 105000).cast("int")
    return (
        li.groupBy(bucket.alias("bucket"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("l_extendedprice"), 2).alias("total"),
        )
    )


@query(
    "sample_stratified_hash",
    oracle="""
SELECT o_orderpriority,
       count(*) AS n_sampled,
       round(sum(o_totalprice), 2) AS sampled_total
FROM orders
WHERE substr(md5(cast(o_orderkey AS varchar)), 1, 2) < '1a'
GROUP BY o_orderpriority
""",
)
def sample_stratified_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic ~10% stratified sample: a row is sampled iff the
    first md5 byte of its key is < 0x1a (26/256 ≈ 10.2%) — the
    portable, seed-free analogue of `sampleBy` that every engine
    reproduces bit-for-bit (same trick as `dataset_split_assign`).
    Scale: the predicate is a pure column expression evaluated at the
    scan (no shuffle to sample), then a tiny per-stratum aggregate.
    Unlike rand()-based sampling it is stable across retries/stragglers
    — a re-executed task samples the SAME rows, so speculative
    execution can't corrupt the sample."""
    o = _lt(spark, sf_dir, "orders")
    sampled = o.filter(
        F.substring(F.md5(F.col("o_orderkey").cast("string")), 1, 2) < "1a"
    )
    return sampled.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_sampled"),
        F.round(F.sum("o_totalprice"), 2).alias("sampled_total"),
    )


@query(
    "merge_upsert_scd",
    oracle="""
WITH updates AS (
    SELECT o_custkey AS key, round(max(o_totalprice) / 1000, 2) AS delta
    FROM orders WHERE o_orderpriority = '1-URGENT'
    GROUP BY o_custkey
), inserts AS (
    SELECT key + 10000000 AS key, delta FROM updates WHERE key % 7 = 0
), source AS (
    SELECT * FROM updates UNION ALL SELECT * FROM inserts
)
SELECT coalesce(c.c_custkey, s.key) AS key,
       CASE WHEN c.c_custkey IS NULL THEN 'insert'
            WHEN s.key IS NULL THEN 'keep'
            ELSE 'update' END AS action,
       round(CASE WHEN c.c_custkey IS NULL THEN s.delta
                  WHEN s.key IS NULL THEN c.c_acctbal
                  ELSE c.c_acctbal + s.delta END, 2) AS new_balance
FROM customer c FULL OUTER JOIN source s ON c.c_custkey = s.key
""",
)
def merge_upsert_scd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE INTO / upsert expressed Spark-first: a full-outer join of
    the target (customer) against a change-set derived from orders,
    classifying every output row as update / insert / keep and
    computing the post-merge value — the exact row-level semantics of
    `MERGE WHEN MATCHED THEN UPDATE WHEN NOT MATCHED THEN INSERT`,
    which plain parquet has no native statement for. Scale: one
    key-shuffle full-outer sort-merge join; the change-set aggregate
    shuffles on the same key, so AQE reuses the partitioning. A lake
    deployment would feed this frame to a partition-overwrite sink
    (see sources/sinks.py) — copy-on-write MERGE."""
    c = _lt(spark, sf_dir, "customer")
    updates = (
        _lt(spark, sf_dir, "orders")
        .filter(F.col("o_orderpriority") == "1-URGENT")
        # max, not sum: max of doubles is order-insensitive and exact,
        # so the oracle reproduces it bit-for-bit at every SF (a
        # sum's accumulation order differs between engines and flips
        # half-cent rounding boundaries at large row counts)
        .groupBy(F.col("o_custkey").alias("key"))
        .agg(F.round(F.max("o_totalprice") / 1000, 2).alias("delta"))
    )
    inserts = updates.filter(F.col("key") % 7 == 0).select(
        (F.col("key") + 10000000).alias("key"), "delta"
    )
    source = updates.unionAll(inserts)
    joined = c.join(source, c.c_custkey == source.key, "full_outer")
    action = (
        F.when(F.col("c_custkey").isNull(), "insert")
        .when(F.col("key").isNull(), "keep")
        .otherwise("update")
    )
    new_balance = (
        F.when(F.col("c_custkey").isNull(), F.col("delta"))
        .when(F.col("key").isNull(), F.col("c_acctbal"))
        .otherwise(F.col("c_acctbal") + F.col("delta"))
    )
    return joined.select(
        F.coalesce("c_custkey", "key").alias("key"),
        action.alias("action"),
        F.round(new_balance, 2).alias("new_balance"),
    )


@query(
    "join_asof_forward",
    oracle="""
SELECT click_id, purchase_id, gap_sec
FROM (
    SELECT c.event_id AS click_id, p.event_id AS purchase_id,
           CAST(floor(epoch(p.ts)) AS BIGINT)
         - CAST(floor(epoch(c.ts)) AS BIGINT) AS gap_sec,
           row_number() OVER (PARTITION BY c.event_id
                              ORDER BY p.ts ASC, p.event_id ASC) AS rn
    FROM events c JOIN events p
      ON c.user_id = p.user_id AND p.ts >= c.ts
    WHERE c.event_type = 'click' AND p.event_type = 'purchase'
) WHERE rn = 1
""",
)
def join_asof_forward(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C8 forward direction: each click matched to the user's EARLIEST
    purchase at-or-after it (time-to-conversion — the product-analytics
    twin of the backward as-of). Runs the same union+window operator as
    `join_asof` with direction='forward': ONE shuffle on user_id, a
    per-key sort, first()-over-forward-frame — never the quadratic
    range join the oracle spells out. Tiebreak at equal timestamps:
    smallest purchase event_id."""
    from dist_keras_spark.operators.asof import asof_join

    e = _lt(spark, sf_dir, "events")
    clicks = e.filter(F.col("event_type") == "click").select(
        "user_id", F.col("event_id").alias("click_id"), "ts"
    )
    purchases = e.filter(F.col("event_type") == "purchase").select(
        "user_id",
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("p_ts"),
    )
    joined = asof_join(
        clicks,
        purchases,
        key="user_id",
        left_ts="ts",
        right_ts="p_ts",
        value_cols=["purchase_id", "p_ts"],
        how="inner",
        tiebreak="purchase_id",
        direction="forward",
    )
    return joined.select(
        "click_id",
        "purchase_id",
        (epoch_s("p_ts") - epoch_s("ts")).alias("gap_sec"),
    )


@query(
    "join_asof_left",
    oracle="""
WITH c AS (
    SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'
), m AS (
    SELECT c.event_id AS click_id, p.event_id AS pid,
           row_number() OVER (PARTITION BY c.event_id
                              ORDER BY p.ts DESC, p.event_id DESC) AS rn
    FROM c JOIN events p
      ON c.user_id = p.user_id AND p.ts <= c.ts
    WHERE p.event_type = 'purchase'
)
SELECT c.event_id AS click_id,
       CAST(coalesce(m.pid, -1) AS BIGINT) AS prior_purchase_id,
       m.pid IS NOT NULL AS had_prior
FROM c LEFT JOIN m ON m.click_id = c.event_id AND m.rn = 1
""",
)
def join_asof_left(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C8 left (keep-unmatched) semantics — the common production
    shape: every click is kept, annotated with the user's latest prior
    purchase or a COALESCE default when none exists yet (a user's
    clicks BEFORE their first purchase are the unmatched rows, so the
    branch is genuinely exercised at fixture scale). Exercises
    `asof_join(how='left')` (operators/asof.py:116-117 — unit-tested
    but never oracle-checked before; VERDICT r5 #5). Same one-shuffle
    union+window plan as every other as-of direction; the left branch
    only changes the final null filter."""
    from dist_keras_spark.operators.asof import asof_join

    e = _lt(spark, sf_dir, "events")
    clicks = e.filter(F.col("event_type") == "click").select(
        "user_id", F.col("event_id").alias("click_id"), "ts"
    )
    purchases = e.filter(F.col("event_type") == "purchase").select(
        "user_id",
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("p_ts"),
    )
    joined = asof_join(
        clicks,
        purchases,
        key="user_id",
        left_ts="ts",
        right_ts="p_ts",
        value_cols=["purchase_id"],
        how="left",
        tiebreak="purchase_id",
    )
    return joined.select(
        "click_id",
        F.coalesce(F.col("purchase_id"), F.lit(-1)).cast("long").alias(
            "prior_purchase_id"
        ),
        F.col("purchase_id").isNotNull().alias("had_prior"),
    )


@query(
    "win_cumulative_distinct",
    oracle="""
WITH flagged AS (
    SELECT user_id, event_id, ts,
           row_number() OVER (PARTITION BY user_id, event_type
                              ORDER BY ts, event_id) AS occ
    FROM events
)
SELECT user_id, event_id,
       CAST(sum(CASE WHEN occ = 1 THEN 1 ELSE 0 END) OVER (
            PARTITION BY user_id ORDER BY ts, event_id
            ROWS UNBOUNDED PRECEDING) AS BIGINT) AS distinct_types_so_far
FROM flagged
""",
)
def win_cumulative_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E-family: RUNNING DISTINCT COUNT per key (how many distinct
    event types has this user produced up to each event). Neither
    engine supports count(DISTINCT) OVER — and the naive
    size(collect_set() OVER) holds a per-row set in window state
    (memory ∝ distinct values × rows — dead at scale). The scale
    rewrite: flag each (user, type)'s FIRST occurrence with one
    row_number window, then a plain running sum of the flag — O(1)
    window state, two windows both partitioned on user-derived keys
    whose cardinality scales with the data."""
    e = _lt(spark, sf_dir, "events")
    occ = F.row_number().over(
        W.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    )
    running = (
        W.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    return (
        e.select("user_id", "event_id", "ts", occ.alias("occ"))
        .select(
            "user_id",
            "event_id",
            F.sum(F.when(F.col("occ") == 1, 1).otherwise(0))
            .over(running)
            .alias("distinct_types_so_far"),
        )
    )


@query(
    "scalar_regex_mask",
    oracle="""
SELECT event_id,
       regexp_replace(props, '[0-9]', '#', 'g') AS props_masked,
       length(regexp_replace(props, '[^0-9]', '', 'g')) AS n_digits
FROM events
""",
)
def scalar_regex_mask(spark: SparkSession, sf_dir: str) -> DataFrame:
    """H-family / pipeline scrubbing: regex masking of every digit in a
    payload column plus a digit count — the shape of PII redaction
    (mask account numbers / phones before a corpus ships to training).
    Pure scan-side column expressions (Spark regexp_replace is global
    by default; the oracle passes the 'g' flag) — zero shuffles, and
    the simple character-class pattern avoids regex-dialect divergence
    between engines."""
    e = _lt(spark, sf_dir, "events")
    return e.select(
        "event_id",
        F.regexp_replace("props", "[0-9]", "#").alias("props_masked"),
        F.length(F.regexp_replace("props", "[^0-9]", "")).alias("n_digits"),
    )


@query(
    "events_transition_matrix",
    oracle="""
WITH seq AS (
    SELECT user_id, event_type,
           lead(event_type) OVER (PARTITION BY user_id
                                  ORDER BY ts, event_id) AS next_type
    FROM events
)
SELECT event_type AS from_type, next_type AS to_type, count(*) AS n
FROM seq WHERE next_type IS NOT NULL
GROUP BY 1, 2
""",
)
def events_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """User-journey transition matrix: counts of consecutive
    (event → next event) pairs per user — the input to Markov-chain
    journey models. One lead() window partitioned on user_id (key
    cardinality scales with data) feeding a tiny #types² aggregate;
    the heavy lifting is the same single key-shuffle every per-user
    window op here pays, reused by AQE if composed with them."""
    e = _lt(spark, sf_dir, "events")
    nxt = F.lead("event_type").over(
        W.partitionBy("user_id").orderBy("ts", "event_id")
    )
    return (
        e.select(F.col("event_type").alias("from_type"), nxt.alias("to_type"))
        .filter(F.col("to_type").isNotNull())
        .groupBy("from_type", "to_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def _zorder_oracle_sql(bits: int = 12, shift: int = 18) -> str:
    """Replay the Morton interleave as a DuckDB bit-arithmetic sum —
    exact integer math, so the oracle is sharp."""
    terms = []
    for i in range(bits):
        terms.append(f"(((((l_partkey * 2654435761) % 4096) >> {i}) & 1) << {2 * i})")
        terms.append(f"(((((l_suppkey * 2654435761) % 4096) >> {i}) & 1) << {2 * i + 1})")
    z = " + ".join(terms)
    return f"""
SELECT ({z}) >> {shift} AS z_bucket,
       count(*) AS n,
       min((l_partkey * 2654435761) % 4096) AS min_a,
       max((l_partkey * 2654435761) % 4096) AS max_a,
       min((l_suppkey * 2654435761) % 4096) AS min_b,
       max((l_suppkey * 2654435761) % 4096) AS max_b
FROM lineitem
GROUP BY 1
"""


@query("zorder_cluster_stats", oracle=_zorder_oracle_sql())
def zorder_cluster_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton) data layout: interleave the low 12 bits of
    (l_partkey, l_suppkey) into a z-value, bucket by its top 6 bits
    (64 z-ranges = what 64 output files would cover after
    repartitionByRange(z) + write), and report each bucket's min/max
    in BOTH dimensions. The clustering property this proves: every
    bucket spans ≤ 1/8 of each dimension's range simultaneously —
    i.e. file-level min/max stats prune scans on EITHER column (the
    lakehouse OPTIMIZE ZORDER BY effect), vs. a single-column sort
    that clusters one dimension and leaves the other unpruned.
    Pure integer bit arithmetic (functions/zorder.z_value), one hash
    aggregate — the oracle replays the interleave exactly."""
    from dist_keras_spark.functions.zorder import z_value

    li = _lt(spark, sf_dir, "lineitem")
    # Knuth multiplicative mixing before the modulo spreads keys over
    # the full 12-bit range at every SF (raw keys at tiny SF occupy a
    # sliver, leaving most z-buckets empty); exact bigint math, portable.
    a = (F.col("l_partkey") * 2654435761) % 4096
    b = (F.col("l_suppkey") * 2654435761) % 4096
    z = z_value(a, b, bits=12)
    return (
        li.select(a.alias("a"), b.alias("b"), z.alias("z"))
        .groupBy(F.shiftright("z", 18).alias("z_bucket"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("a").alias("min_a"),
            F.max("a").alias("max_a"),
            F.min("b").alias("min_b"),
            F.max("b").alias("max_b"),
        )
    )


@query(
    "share_of_total_broadcast",
    oracle="""
WITH per_nation AS (
    SELECT n.n_name, round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    GROUP BY n.n_name
), total AS (SELECT sum(revenue) AS t FROM per_nation)
SELECT n_name, revenue, round(revenue / t, 6) AS share
FROM per_nation, total
""",
)
def share_of_total_broadcast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Percent-of-total the SCALABLE way: aggregate per group FIRST,
    then take the grand total over the already-reduced per-group frame
    (group-count rows — 25 nations, SF-invariant — never data rows).

    r13 optimization (guide §2.4, remove shuffles outright): the total
    used to be a second aggregate over `per_nation` crossJoined back,
    which Catalyst plans as a SECOND copy of the whole 3-join subtree —
    two lineitem scans, two join pipelines, two n_name exchanges
    (measured: AQE does NOT reuse the duplicated stage; 1.10s → 0.82s
    same-session A/B at sf0.1). Now the total is a window sum over the
    25-row aggregate: one subtree, one extra single-partition exchange
    of 25 rows. `sum(x) OVER ()` on RAW data stays banned (that moves
    every data row to one task); over a bounded post-aggregation frame
    it is the cheapest correct plan, and `bounded_window_key` marks it
    as a reviewed bounded-input global window."""
    li = _lt(spark, sf_dir, "lineitem")
    o = _lt(spark, sf_dir, "orders")
    c = _lt(spark, sf_dir, "customer")
    n = _lt(spark, sf_dir, "nation")
    per_nation = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
    )
    wt = W.partitionBy(bounded_window_key(F.col("n_name")))
    return per_nation.select(
        "n_name",
        "revenue",
        F.round(F.col("revenue") / F.sum("revenue").over(wt), 6).alias("share"),
    )


@query(
    "events_session_bounce_rate",
    oracle="""
WITH flagged AS (
    SELECT user_id, event_id, us,
           CASE WHEN prev_us IS NULL OR us - prev_us > 1800000000
                THEN 1 ELSE 0 END AS is_new
    FROM (
        SELECT user_id, event_id, epoch_us(ts) AS us,
               lag(epoch_us(ts)) OVER (PARTITION BY user_id
                                       ORDER BY epoch_us(ts), event_id) AS prev_us
        FROM events)
), sessions AS (
    SELECT user_id,
           CAST(sum(is_new) OVER (PARTITION BY user_id ORDER BY us, event_id
                                  ROWS UNBOUNDED PRECEDING) AS INT) AS sid
    FROM flagged
), sized AS (
    SELECT user_id, sid, count(*) AS n_events
    FROM sessions GROUP BY user_id, sid
)
SELECT count(*) AS n_sessions,
       CAST(sum(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_bounces,
       round(sum(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) * 1.0
             / count(*), 6) AS bounce_rate
FROM sized
""",
)
def events_session_bounce_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounce rate over 30-minute gap sessions: share of sessions with
    exactly one event. Composes the gaps-and-islands sessionizer (same
    1800s gap rule as events_sessionize_rows — lag + running sum of
    new-session flags, both windows on user_id) with a per-session
    size aggregate and one global 3-number reduce. The only full-data
    shuffle is the user_id window; session ids never leave their key
    partition."""
    e = _lt(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        epoch_us("ts").alias("us"),
    )
    wlag = W.partitionBy("user_id").orderBy("us", "event_id")
    flagged = e.select(
        "user_id",
        "event_id",
        "us",
        F.when(
            F.lag("us").over(wlag).isNull()
            | ((F.col("us") - F.lag("us").over(wlag)) > 1_800_000_000),
            F.lit(1),
        )
        .otherwise(F.lit(0))
        .alias("is_new"),
    )
    wrun = wlag.rowsBetween(W.unboundedPreceding, W.currentRow)
    sessions = flagged.select(
        "user_id", F.sum("is_new").over(wrun).cast("int").alias("sid")
    )
    sized = sessions.groupBy("user_id", "sid").agg(F.count(F.lit(1)).alias("n_events"))
    return sized.agg(
        F.count(F.lit(1)).alias("n_sessions"),
        F.sum(F.when(F.col("n_events") == 1, 1).otherwise(0)).alias("n_bounces"),
        F.round(
            F.sum(F.when(F.col("n_events") == 1, 1).otherwise(0))
            / F.count(F.lit(1)),
            6,
        ).alias("bounce_rate"),
    )


@query(
    "ab_test_t_stat",
    oracle="""
WITH assigned AS (
    SELECT CASE WHEN ('0x' || substr(md5(CAST(event_id AS VARCHAR) || ':ab'), 1, 8))::BIGINT
                     % 2 = 0 THEN 'A' ELSE 'B' END AS variant,
           value
    FROM events
), stats AS (
    SELECT variant, count(*) AS n, avg(value) AS m, var_samp(value) AS v
    FROM assigned GROUP BY variant
)
SELECT a.n AS n_a, b.n AS n_b,
       round(a.m, 4) AS mean_a, round(b.m, 4) AS mean_b,
       round((a.m - b.m) / sqrt(a.v / a.n + b.v / b.n), 4) AS t_stat
FROM (SELECT * FROM stats WHERE variant = 'A') a,
     (SELECT * FROM stats WHERE variant = 'B') b
""",
)
def ab_test_t_stat(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A/B experiment analysis end-to-end: deterministic salted-md5
    variant assignment (the same engine-portable trick as
    dataset_split_assign — no RNG, retry-stable) and Welch's
    t-statistic from per-variant (n, mean, variance). The statistic is
    a closed-form over THREE aggregate values per arm, so the whole
    analysis is one scan + one aggregate — nothing resembling a
    per-row Python loop, and the same plan at any scale.

    r14 (guide §2.4, dup-scan sweep): the per-arm values used to be
    filter(variant)-ed out of a 2-group aggregate and crossJoined —
    the variant filters pushed below the aggregate into the derived
    bucket expression, so the events scan + aggregate ran TWICE (one
    per arm, zero runtime reuse). Both arms now come from ONE keyless
    conditional aggregate (count/avg/var_samp over the when-masked
    value; null-skipping makes them the exact per-arm statistics).
    Plan: events scans 2→1, crossJoin gone, exchanges 3→1. Alternated
    A/B mins: 0.559 vs 0.602 (sf0.1), 0.924 vs 1.193 (sf1, 0.77×).
    Oracle unchanged (round(.,4) on the float outputs), hash-green
    ×3 SFs."""
    e = _lt(spark, sf_dir, "events")
    bucket = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.col("event_id").cast("string"), F.lit(":ab"))), 1, 8
            ),
            16,
            10,
        ).cast("long")
        % 2
    )
    assigned = e.select(
        F.when(bucket == 0, "A").otherwise("B").alias("variant"), "value"
    )
    va = F.when(F.col("variant") == "A", F.col("value"))
    vb = F.when(F.col("variant") == "B", F.col("value"))
    stats = assigned.agg(
        # count(when(cond, 1)), not count(masked value): the original
        # per-group count(1) counts arm ROWS, value-nulls included
        F.count(F.when(F.col("variant") == "A", 1)).alias("n_a"),
        F.count(F.when(F.col("variant") == "B", 1)).alias("n_b"),
        F.avg(va).alias("m_a"),
        F.avg(vb).alias("m_b"),
        F.var_samp(va).alias("v_a"),
        F.var_samp(vb).alias("v_b"),
    )
    # an empty arm gives no row, as the oracle's per-arm cross join does
    both = stats.filter((F.col("n_a") > 0) & (F.col("n_b") > 0))
    return both.select(
        "n_a",
        "n_b",
        F.round("m_a", 4).alias("mean_a"),
        F.round("m_b", 4).alias("mean_b"),
        F.round(
            (F.col("m_a") - F.col("m_b"))
            / F.sqrt(F.col("v_a") / F.col("n_a") + F.col("v_b") / F.col("n_b")),
            4,
        ).alias("t_stat"),
    )


@query(
    "regression_trend_slope",
    oracle="""
WITH pts AS (
    SELECT event_type,
           CAST(floor(epoch(ts)) AS BIGINT) / 3600.0 AS x,
           value AS y
    FROM events
)
SELECT event_type,
       count(*) AS n,
       round(regr_slope(y, x), 6)     AS slope,
       round(regr_intercept(y, x), 4) AS intercept
FROM pts GROUP BY event_type
""",
)
def regression_trend_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trend detection as pure aggregates: ordinary-least-squares slope
    and intercept of value over time, per event type — regr_slope /
    regr_intercept, the SQL-standard closed form (cov/var), no MLlib
    and no iteration. One scan, one partial/final aggregate whose
    state is five running sums per group: the cheapest possible
    distributed regression, and exactly how you'd sweep millions of
    per-key trends at 100 TB."""
    e = _lt(spark, sf_dir, "events")
    x = (epoch_s("ts") / 3600.0).alias("x")
    pts = e.select("event_type", x, F.col("value").alias("y"))
    return pts.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.regr_slope("y", "x"), 6).alias("slope"),
        F.round(F.regr_intercept("y", "x"), 4).alias("intercept"),
    )


@query(
    "dq_expectations_orders",
    oracle="""
SELECT 'orderkey_unique' AS check_name,
       CAST(count(*) - count(DISTINCT o_orderkey) AS BIGINT) AS n_violations
FROM orders
UNION ALL
SELECT 'totalprice_positive',
       CAST(sum(CASE WHEN o_totalprice <= 0 OR o_totalprice IS NULL
                     THEN 1 ELSE 0 END) AS BIGINT)
FROM orders
UNION ALL
SELECT 'custkey_not_null',
       CAST(sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
FROM orders
UNION ALL
SELECT 'orderdate_in_range',
       CAST(sum(CASE WHEN o_orderdate < TIMESTAMP '1990-01-01'
                       OR o_orderdate > TIMESTAMP '2005-01-01'
                     THEN 1 ELSE 0 END) AS BIGINT)
FROM orders
UNION ALL
SELECT 'custkey_fk_valid',
       (SELECT CAST(count(*) AS BIGINT) FROM orders o
        WHERE NOT EXISTS (SELECT 1 FROM customer c
                          WHERE c.c_custkey = o.o_custkey))
""",
)
def dq_expectations_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-quality expectations suite over orders — uniqueness,
    positivity, null, range, and referential-integrity checks, each
    reported as a violation COUNT (0 = pass). The four column checks
    fold into aggregates over ONE scan; the FK check is a left-anti
    join against customer (broadcast at dim scale, shuffle otherwise).
    This is the pipeline-gate pattern: run the expectation frame after
    every load, alert on any nonzero row — at 100 TB it costs one scan
    plus one key-join, not five."""
    o = _lt(spark, sf_dir, "orders")
    c = _lt(spark, sf_dir, "customer")
    col_checks = o.agg(
        (F.count(F.lit(1)) - F.countDistinct("o_orderkey")).alias("orderkey_unique"),
        F.sum(
            F.when(
                F.col("o_totalprice").isNull() | (F.col("o_totalprice") <= 0), 1
            ).otherwise(0)
        ).alias("totalprice_positive"),
        F.sum(F.when(F.col("o_custkey").isNull(), 1).otherwise(0)).alias(
            "custkey_not_null"
        ),
        F.sum(
            F.when(
                (F.col("o_orderdate") < F.lit("1990-01-01").cast("timestamp_ntz"))
                | (F.col("o_orderdate") > F.lit("2005-01-01").cast("timestamp_ntz")),
                1,
            ).otherwise(0)
        ).alias("orderdate_in_range"),
    )
    melted = col_checks.unpivot(
        [], list(col_checks.columns), "check_name", "n_violations"
    )
    fk = (
        o.join(c, o.o_custkey == c.c_custkey, "left_anti")
        .agg(F.count(F.lit(1)).alias("n_violations"))
        .select(F.lit("custkey_fk_valid").alias("check_name"), "n_violations")
    )
    return melted.unionByName(fk)


@query(
    "scalar_try_cast_tolerant",
    oracle="""
SELECT event_id,
       try_cast(regexp_extract(props, '[0-9]+', 0) AS BIGINT) AS k_num,
       try_cast(props AS BIGINT) AS junk_num,
       coalesce(try_cast(regexp_extract(props, '[0-9]+', 0) AS BIGINT), -1)
           AS k_or_default
FROM events
""",
)
def scalar_try_cast_tolerant(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Error-tolerant parsing: try_cast yields NULL instead of failing
    the job on malformed input — the difference between a 100 TB
    ingest that quarantines bad rows and one that dies at hour nine.
    The digit-extract parses cleanly; casting the whole JSON blob
    deliberately fails to NULL; coalesce applies the default. All
    scan-side expressions (ANSI-mode safe)."""
    e = _lt(spark, sf_dir, "events")
    return e.select(
        "event_id",
        F.expr("try_cast(regexp_extract(props, '[0-9]+', 0) AS BIGINT)").alias("k_num"),
        F.expr("try_cast(props AS BIGINT)").alias("junk_num"),
        F.coalesce(
            F.expr("try_cast(regexp_extract(props, '[0-9]+', 0) AS BIGINT)"),
            F.lit(-1),
        ).alias("k_or_default"),
    )


@query(
    "join_null_safe_eq",
    oracle="""
WITH a AS (
    SELECT n_nationkey,
           CASE WHEN n_regionkey = 0 THEN NULL ELSE n_regionkey END AS rk
    FROM nation
), b AS (
    SELECT r_regionkey,
           CASE WHEN r_regionkey = 0 THEN NULL ELSE r_regionkey END AS rk,
           r_name
    FROM region
)
SELECT a.n_nationkey, b.r_name
FROM a JOIN b ON a.rk IS NOT DISTINCT FROM b.rk
""",
)
def join_null_safe_eq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C-family semantics: NULL-safe equality join (`<=>` / IS NOT
    DISTINCT FROM) — NULL keys MATCH each other instead of silently
    dropping, the behavior an equi-join on nullable dimension keys
    actually needs (plain `=` makes NULL-keyed rows vanish without a
    trace). Region 0 is nulled on both sides, so the null-bucket
    really joins. Still hash-partitionable (null hashes to one
    bucket — at scale a hot NULL bucket is the classic skew case the
    salting valve handles)."""
    n = _lt(spark, sf_dir, "nation").select(
        "n_nationkey",
        F.when(F.col("n_regionkey") == 0, None)
        .otherwise(F.col("n_regionkey"))
        .alias("rk_a"),
    )
    r = _lt(spark, sf_dir, "region").select(
        F.when(F.col("r_regionkey") == 0, None)
        .otherwise(F.col("r_regionkey"))
        .alias("rk_b"),
        "r_name",
    )
    return n.join(r, F.col("rk_a").eqNullSafe(F.col("rk_b"))).select(
        "n_nationkey", "r_name"
    )


@query(
    "win_range_numeric",
    oracle="""
SELECT o_orderkey, o_custkey,
       count(*) OVER (PARTITION BY o_custkey ORDER BY o_totalprice
                      RANGE BETWEEN 1000 PRECEDING AND 1000 FOLLOWING)
           AS n_similar_price,
       round(sum(o_totalprice) OVER (
             PARTITION BY o_custkey ORDER BY o_totalprice
             RANGE BETWEEN 1000 PRECEDING AND 1000 FOLLOWING), 2)
           AS band_total
FROM orders
""",
)
def win_range_numeric(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E5 numeric twin: RANGE frame over a NUMERIC ordering (orders
    within ±1000 of each row's price, per customer) — the
    similar-value neighborhood query. RANGE frames bound by VALUE, so
    peers with equal ordering keys share one frame (unlike ROWS);
    per-customer partitioning keeps the sort local and
    cardinality-scaling."""
    o = _lt(spark, sf_dir, "orders")
    w = (
        W.partitionBy("o_custkey")
        .orderBy("o_totalprice")
        .rangeBetween(-1000, 1000)
    )
    return o.select(
        "o_orderkey",
        "o_custkey",
        F.count(F.lit(1)).over(w).alias("n_similar_price"),
        F.round(F.sum("o_totalprice").over(w), 2).alias("band_total"),
    )


@query(
    "explode_outer_empty_arrays",
    oracle="""
WITH t AS (
    SELECT doc_id,
           list_filter(string_split(text, ' '), x -> x = 'customer') AS l
    FROM documents
)
SELECT doc_id, unnest(l) AS tok FROM t WHERE len(l) > 0
UNION ALL
-- NULL text: Spark's split(NULL) is a NULL array and explode_outer
-- keeps the doc as one NULL row, exactly like the empty-array case.
SELECT doc_id, NULL AS tok FROM t WHERE len(l) = 0 OR l IS NULL
""",
)
def explode_outer_empty_arrays(spark: SparkSession, sf_dir: str) -> DataFrame:
    """explode vs explode_outer semantics: filtering each document's
    tokens to occurrences of 'customer' leaves many EMPTY arrays —
    plain explode silently DROPS those documents, explode_outer keeps
    them as a NULL row. Losing rows to empty arrays is the classic
    silent-data-loss bug in token pipelines; the oracle spells the
    outer semantics out as a UNION of the two cases. Map-side narrow
    transform, no shuffle."""
    d = _lt(spark, sf_dir, "documents")
    toks = F.filter(F.split("text", " "), lambda x: x == "customer")
    return d.select("doc_id", F.explode_outer(toks).alias("tok"))


@query(
    "agg_bitmap_event_types",
    oracle="""
SELECT user_id,
       CAST(bit_or(1 << CASE event_type
                        WHEN 'click' THEN 0 WHEN 'error' THEN 1
                        WHEN 'purchase' THEN 2 WHEN 'signup' THEN 3
                        ELSE 4 END) AS BIGINT) AS type_mask,
       count(DISTINCT event_type) AS n_types
FROM events
GROUP BY user_id
""",
)
def agg_bitmap_event_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bitmap aggregation: per user, OR together one bit per event
    type — a 5-type membership set in a single long. bit_or partial-
    aggregates map-side like any sum, so set-membership over billions
    of rows shuffles ONE long per key (the compact alternative to
    collect_set for low-cardinality domains; popcount of the mask
    must equal count distinct, which the oracle cross-checks)."""
    e = _lt(spark, sf_dir, "events")
    # shiftleft's bit count must be an expression here, so the whole
    # bit column is SQL text (F.shiftleft only takes a literal int)
    bit = F.expr(
        "shiftleft(1L, CASE event_type WHEN 'click' THEN 0 WHEN 'error' THEN 1 "
        "WHEN 'purchase' THEN 2 WHEN 'signup' THEN 3 ELSE 4 END)"
    )
    return e.groupBy("user_id").agg(
        F.bit_or(bit).cast("long").alias("type_mask"),
        F.countDistinct("event_type").alias("n_types"),
    )


@query(
    "join_asof_nearest",
    oracle="""
SELECT click_id, purchase_id
FROM (
    SELECT c.event_id AS click_id, p.event_id AS purchase_id,
           row_number() OVER (
               PARTITION BY c.event_id
               ORDER BY abs(epoch_us(p.ts) - epoch_us(c.ts)),
                        CASE WHEN p.ts <= c.ts THEN 0 ELSE 1 END,
                        p.event_id) AS rn
    FROM events c JOIN events p ON c.user_id = p.user_id
    WHERE c.event_type = 'click' AND p.event_type = 'purchase'
) WHERE rn = 1
""",
)
def join_asof_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C8 completion — direction='nearest' (the third pandas
    merge_asof mode): each click matched to the purchase with the
    SMALLEST absolute time gap, ties broken backward-first then by
    event id. Still no range-join explosion anywhere, while the
    oracle spells out the quadratic formulation. A click missing one
    side falls back to the other.

    r13 (guide §2.4): previously composed from TWO directional
    asof_join calls joined back on click_id — Catalyst planned that
    as two complete union+window subtrees (4 events scans, 2 key
    Exchanges) plus a broadcast join. Both directional fills are now
    computed over ONE tagged union: the backward pass is
    last(purchase, ignorenulls) over (__t asc, right-before-left,
    neg-id asc) and the forward pass the same running frame over the
    REVERSED total order (__t desc — last over the reversed prefix ==
    first over the forward suffix, the O(rows) form; [currentRow,
    unboundedFollowing] recomputes per row, O(rows²) per key). Both
    windows partition on __k, so the plan is ONE Exchange with two
    local Sorts: 2 scans, 1 Exchange, 0 joins (plan diff in
    plans/r13/, oracle hash-green at 3 SFs). Tie semantics are
    byte-identical to the two-leg form: at equal __t right rows sort
    before the click in BOTH orders (a simultaneous purchase is
    visible to <= and >=), backward ties pick the smallest id via the
    negated-id asc / last() pair, forward via id desc / last().

    The struct carries the purchase time as epoch µs (a plain long),
    derived once per row."""
    e = _lt(spark, sf_dir, "events")
    rv_t = "struct<purchase_id:bigint,p_us:bigint>"
    clicks = e.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("__k"),
        F.col("ts").alias("__t"),
        F.lit(1).alias("__is_left"),
        F.col("event_id").alias("click_id"),
        F.lit(None).cast(rv_t).alias("__rv"),
        F.lit(None).cast("long").alias("__tb"),
    )
    purchases = e.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("__k"),
        F.col("ts").alias("__t"),
        F.lit(0).alias("__is_left"),
        F.lit(None).cast("long").alias("click_id"),
        F.struct(
            F.col("event_id").alias("purchase_id"),
            epoch_us("ts").alias("p_us"),
        ).cast(rv_t).alias("__rv"),
        F.col("event_id").alias("__tb"),
    )
    run = lambda wo: wo.rowsBetween(W.unboundedPreceding, 0)
    wb = run(
        W.partitionBy("__k").orderBy(
            F.col("__t").asc(), F.col("__is_left").asc(), (-F.col("__tb")).asc()
        )
    )
    wf = run(
        W.partitionBy("__k").orderBy(
            F.col("__t").desc(), F.col("__is_left").asc(), F.col("__tb").desc()
        )
    )
    both = (
        clicks.unionByName(purchases)
        .select(
            "__is_left",
            "click_id",
            "__t",
            F.last("__rv", ignorenulls=True).over(wb).alias("__b"),
            F.last("__rv", ignorenulls=True).over(wf).alias("__f"),
        )
        .filter(F.col("__is_left") == 1)
    )
    t_us = epoch_us("__t")
    gap_b = t_us - F.col("__b.p_us")  # >= 0 when backward match exists
    gap_f = F.col("__f.p_us") - t_us  # >= 0 when forward match exists
    pick_backward = F.col("__b").isNotNull() & (
        F.col("__f").isNull() | (gap_b <= gap_f)  # tie → backward
    )
    return both.select(
        "click_id",
        F.when(pick_backward, F.col("__b.purchase_id"))
        .otherwise(F.col("__f.purchase_id"))
        .alias("purchase_id"),
    ).filter(F.col("purchase_id").isNotNull())


@query(
    "robust_outliers_mad",
    oracle="""
WITH med AS (
    SELECT event_type, quantile_cont(value, 0.5) AS med
    FROM events GROUP BY event_type
), dev AS (
    SELECT e.event_type, e.value, m.med,
           abs(e.value - m.med) AS adev
    FROM events e JOIN med m USING (event_type)
), mad AS (
    SELECT event_type, quantile_cont(adev, 0.5) AS mad
    FROM dev GROUP BY event_type
)
SELECT d.event_type,
       round(any_value(d.med), 4) AS med,
       round(any_value(m.mad), 4) AS mad,
       CAST(sum(CASE WHEN abs(d.value - d.med) > 3 * m.mad
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
FROM dev d JOIN mad m USING (event_type)
GROUP BY d.event_type
""",
)
def robust_outliers_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust outlier detection via Median Absolute Deviation: per
    event type, median, MAD = median(|x − median|), and the count of
    points beyond 3·MAD — the estimator that, unlike z-scores, isn't
    dragged by the outliers it hunts. Two exact-median aggregation
    passes with the medians broadcast back (group-count-sized frames);
    exact interpolated percentiles agree across engines (the
    agg_median_percentile parity), so the oracle is sharp."""
    e = _lt(spark, sf_dir, "events")
    med = e.groupBy("event_type").agg(
        F.expr("percentile(value, 0.5)").alias("med")
    )
    dev = e.join(F.broadcast(med), "event_type").select(
        "event_type", "value", "med", F.abs(F.col("value") - F.col("med")).alias("adev")
    )
    mad = dev.groupBy("event_type").agg(
        F.expr("percentile(adev, 0.5)").alias("mad")
    )
    return (
        dev.join(F.broadcast(mad), "event_type")
        .groupBy("event_type")
        .agg(
            F.round(F.first("med"), 4).alias("med"),
            F.round(F.first("mad"), 4).alias("mad"),
            F.sum(
                F.when(F.abs(F.col("value") - F.col("med")) > 3 * F.col("mad"), 1)
                .otherwise(0)
            ).alias("n_outliers"),
        )
    )


@query(
    "user_event_entropy",
    oracle="""
WITH c AS (
    SELECT user_id, event_type, count(*) AS k FROM events
    GROUP BY user_id, event_type
), tot AS (
    SELECT user_id, sum(k) AS n FROM c GROUP BY user_id
)
SELECT c.user_id,
       round(-sum((k * 1.0 / n) * ln(k * 1.0 / n)), 4) AS entropy,
       count(*) AS n_types
FROM c JOIN tot USING (user_id)
GROUP BY c.user_id
""",
)
def user_event_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shannon entropy of each user's event-type distribution — the
    behavioral-diversity metric (0 = single-type bot, ln 5 ≈ 1.609 =
    uniform across the 5 types); the same computation scores corpus
    diversity in a data-mixing pipeline. Shape: count per (user, type),
    per-user totals attached by a window over the same key, entropy
    as a ≤5-term sum of exact-rational p·ln p.

    r14 (guide §2.4, dup-scan sweep): the per-user total used to be a
    second groupBy joined back — two differently-pruned consumers of
    the (user, type) aggregate, so the events scan + count ran twice
    (events×2, 0 runtime reuse). sum(k) OVER (PARTITION BY user_id)
    attaches the identical total in one pass; the final per-user
    aggregate then reuses the window's partitioning. Plan: events
    2→1 scans, join gone, exchanges 3→2. Same-JVM interleaved A/B:
    window won 7/8 alternated rounds (mins 0.577 vs 0.765 at sf0.1,
    0.706 vs 1.039 at sf1). Oracle unchanged, hash-green ×3 SFs."""
    e = _lt(spark, sf_dir, "events")
    c = e.groupBy("user_id", "event_type").agg(F.count(F.lit(1)).alias("k"))
    n = F.sum("k").over(W.partitionBy("user_id"))
    p = F.col("k") / F.col("n")
    return (
        c.withColumn("n", n)
        .groupBy("user_id")
        .agg(
            F.round(-F.sum(p * F.log(p)), 4).alias("entropy"),
            F.count(F.lit(1)).alias("n_types"),
        )
    )


@query(
    "gini_customer_spend",
    oracle="""
WITH spend AS (
    SELECT o_custkey,
           CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS cents
    FROM orders GROUP BY o_custkey
), ranked AS (
    SELECT cents,
           row_number() OVER (ORDER BY cents, o_custkey) AS i,
           count(*) OVER () AS n,
           sum(cents) OVER () AS tot
    FROM spend
)
SELECT round(2.0 * sum(i * cents) / (any_value(n) * any_value(tot))
             - (any_value(n) + 1.0) / any_value(n), 6) AS gini,
       CAST(any_value(n) AS BIGINT) AS n_customers
FROM ranked
""",
)
def gini_customer_spend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of customer spend (0 = equal, →1 = one whale):
    the standard sorted-cumulative formula G = 2·Σᵢ i·xᵢ/(n·Σx) −
    (n+1)/n. Everything that accumulates is INTEGER (spend quantized
    to cents per order before summing), so Σ i·xᵢ and Σx are exact in
    both engines and only the final division is float — no
    sum-order divergence. Σ i·xᵢ ≤ n·M breaches int64 past
    n·M ≈ 9.2e18 (the r11 sf2 sweep hit this on the histogram
    sibling), so the accumulator is exact DECIMAL(38,0) on the Spark
    side; DuckDB's sum(BIGINT) already promotes to HUGEINT. The rank window IS an unpartitioned sort —
    over the per-customer aggregate (customer-count rows, not orders),
    which is the smallest frame the statistic can be computed on; a
    true 100 TB deployment would bin spend and integrate the
    histogram instead (the approx_ntile path)."""
    o = _lt(spark, sf_dir, "orders")
    spend = o.groupBy("o_custkey").agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias("cents")
    )
    wi = W.partitionBy(bounded_window_key(F.col("o_custkey"))).orderBy(
        "cents", "o_custkey"
    )
    ranked = spend.select(
        "cents",
        F.row_number().over(wi).alias("i"),
    )
    # Σ i·xᵢ ≤ n·M breaches int64 once n·M > 9.2e18 (the r11 sf2 sweep
    # crashed the histogram sibling on exactly this bound) — accumulate
    # in DECIMAL(38,0): per-term i·cents stays long-safe, the SUM is
    # exact decimal, and decimal→double is correctly rounded from the
    # same exact integer on both engines (DuckDB sum(BIGINT) already
    # promotes to HUGEINT, so the oracle needs no change).
    agg = ranked.agg(
        F.sum(
            (F.col("i").cast("long") * F.col("cents")).cast("decimal(38,0)")
        ).alias("s_ix"),
        F.sum("cents").alias("tot"),
        F.count(F.lit(1)).alias("n"),
    )
    # n·tot breaches int64 at the same bound — multiply as doubles
    # (both operands < 2^53 are exactly representable, so the rounded
    # double product equals the exact-integer-then-cast product).
    return agg.select(
        F.round(
            2.0 * F.col("s_ix").cast("double")
            / (F.col("n").cast("double") * F.col("tot").cast("double"))
            - (F.col("n") + 1.0) / F.col("n"),
            6,
        ).alias("gini"),
        F.col("n").cast("long").alias("n_customers"),
    )


@query(
    "gini_histogram_binned",
    oracle="""
WITH spend AS (
    SELECT o_custkey,
           CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS cents
    FROM orders GROUP BY o_custkey
), hi AS (SELECT max(cents) AS h FROM spend),
binned AS (
    SELECT CASE WHEN cents * 1000 // h >= 1000 THEN 999
                ELSE CAST(cents * 1000 // h AS INT) END AS bin,
           count(*) AS cnt,
           CAST(sum(cents) AS BIGINT) AS mass
    FROM spend, hi GROUP BY 1
), lorenz AS (
    SELECT bin, cnt, mass,
           sum(mass) OVER (ORDER BY bin ROWS UNBOUNDED PRECEDING) AS cm
    FROM binned
)
SELECT round(1.0 - CAST(sum(cnt * (cm + (cm - mass))) AS DOUBLE)
                   / ((SELECT count(*) FROM spend)
                      * CAST((SELECT sum(cents) FROM spend) AS DOUBLE)), 6)
           AS gini_hist,
       CAST((SELECT count(*) FROM spend) AS BIGINT) AS n_customers,
       count(*) AS n_bins_used
FROM lorenz
""",
)
def gini_histogram_binned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100 TB Gini: integrate the Lorenz curve from a 1000-bin
    spend HISTOGRAM instead of ranking every customer —
    gini = 1 − Σ_b cnt_b·(cm_b + cm_{b−1}) / (n·M) with integer bin
    counts and integer cumulative mass, so the only float operation is
    the final division. The trapezoid numerator is bounded by 2·n·M,
    which breaches int64 past n·M ≈ 9.2e18 — the r11 sf2 sweep (3M
    orders) crashed the long accumulator on exactly that bound, so
    the numerator now accumulates in exact DECIMAL(38,0) (Spark) /
    HUGEINT (DuckDB's automatic sum promotion): same exact integer,
    same correctly-rounded double, no SF ceiling until DECIMAL(38)
    itself (~1e38). The per-customer aggregate shuffles on the key; the
    histogram reduces it to ≤1000 rows, and the cumulative window runs
    over that BIN DIMENSION — never the data. Accuracy vs the exact
    rank formula is pinned by a pytest (<0.01 absolute at every SF);
    binning replaces the exact variant's global customer sort."""
    o = _lt(spark, sf_dir, "orders")
    # r13 (guide §2.4/§5): the per-customer cents aggregate used to be
    # planned THREE times (max-h branch, n/m-totals branch, binning
    # branch — 3 orders scans + 3 custkey exchanges; AQE measurably
    # does not reuse the duplicated stages). `_stage` pins it once —
    # ~customer-count rows (two longs each, 100× smaller than orders),
    # the same lineage-truncation pattern minhash_lsh_pairs stages —
    # and ONE combined stats aggregate (h, n, m) replaces the two
    # separate global-agg branches.
    # Same-session A/B at sf0.1: 0.78s → 0.62s min-of-5.
    spend = _stage(
        o.groupBy("o_custkey").agg(
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias("cents")
        )
    )
    stats = spend.agg(
        F.max("cents").alias("h"),
        F.count(F.lit(1)).alias("n"),
        F.sum("cents").alias("m"),
    )
    binned = (
        spend.crossJoin(F.broadcast(stats))
        .select(
            F.when(F.expr("cents * 1000 div h") >= 1000, 999)
            .otherwise(F.expr("cents * 1000 div h").cast("int"))
            .alias("bin"),
            "cents",
            "n",
            "m",
        )
        .groupBy("bin")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.sum("cents").alias("mass"),
            F.min("n").alias("n"),
            F.min("m").alias("m"),
        )
    )
    wb = (
        W.partitionBy(bounded_window_key(F.col("bin")))
        .orderBy("bin")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    lorenz = binned.select(
        "bin", "cnt", "mass", "n", "m", F.sum("mass").over(wb).alias("cm")
    )
    # The documented rescale path, now exercised: the r11 sf2 sweep
    # (20× sf0.1) crashed this aggregate with ARITHMETIC_OVERFLOW —
    # cnt_b·(2·cm_b − mass_b) reaches ~2·n·M ≈ 4.5e19 > int64 once
    # n·M > 9.2e18 (3M orders). Widen the per-term product to
    # DECIMAL(38,0) BEFORE multiplying (the term itself overflows, not
    # just the sum); decimal→double is correctly rounded from the same
    # exact integer on both engines, and DuckDB's HUGEINT promotion
    # keeps the oracle side exact unchanged.
    return (
        lorenz.agg(
            F.sum(
                F.col("cnt").cast("decimal(38,0)")
                * (F.col("cm") + (F.col("cm") - F.col("mass")))
            ).alias("num"),
            F.count(F.lit(1)).alias("n_bins_used"),
            F.min("n").alias("n"),
            F.min("m").alias("m"),
        )
        .select(
            F.round(
                1.0
                - F.col("num").cast("double")
                / (F.col("n").cast("double") * F.col("m").cast("double")),
                6,
            ).alias("gini_hist"),
            F.col("n").cast("long").alias("n_customers"),
            "n_bins_used",
        )
    )


@query(
    "setop_multiset_all",
    oracle="""
WITH a AS (SELECT l_orderkey % 100 AS k FROM lineitem),
     b AS (SELECT o_orderkey % 100 AS k FROM orders)
SELECT 'except_all' AS op, k, count(*) AS n FROM (
    SELECT k FROM a EXCEPT ALL SELECT k FROM b
) GROUP BY k
UNION ALL
SELECT 'intersect_all' AS op, k, count(*) AS n FROM (
    SELECT k FROM a INTERSECT ALL SELECT k FROM b
) GROUP BY k
""",
)
def setop_multiset_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G-family completion: the MULTISET set operations — exceptAll
    keeps max(m−n, 0) copies of each row, intersectAll keeps min(m, n)
    — vs. the DISTINCT variants already covered. Spark plans both as a
    single aggregate computing per-row counts on each side then
    replicating (no sort, one shuffle on the row value); the grouped
    output keeps the driver hash small while still pinning every
    multiplicity."""
    li = _lt(spark, sf_dir, "lineitem").select(
        (F.col("l_orderkey") % 100).alias("k")
    )
    o = _lt(spark, sf_dir, "orders").select((F.col("o_orderkey") % 100).alias("k"))
    ex = (
        li.exceptAll(o)
        .groupBy("k")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.lit("except_all").alias("op"), "k", "n")
    )
    inter = (
        li.intersectAll(o)
        .groupBy("k")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.lit("intersect_all").alias("op"), "k", "n")
    )
    return ex.unionByName(inter)


@query(
    "sort_null_ordering",
    oracle="""
SELECT n_nationkey, rk
FROM (SELECT n_nationkey,
             CASE WHEN n_regionkey = 2 THEN NULL ELSE n_regionkey END AS rk
      FROM nation)
ORDER BY rk DESC NULLS FIRST, n_nationkey ASC
""",
)
def sort_null_ordering(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F-family completion: explicit NULL placement in sorts —
    `desc_nulls_first` pins where NULL keys land instead of
    inheriting the engine default (Spark: NULLS LAST on DESC; the
    oracle must say NULLS FIRST explicitly or the two engines order
    differently — exactly the portability trap this query documents).
    The driver hash is order-insensitive, so the ORDER is pinned by a
    rank test in pytest, and the oracle pins the same row set."""
    n = _lt(spark, sf_dir, "nation").select(
        "n_nationkey",
        F.when(F.col("n_regionkey") == 2, None)
        .otherwise(F.col("n_regionkey"))
        .alias("rk"),
    )
    return n.orderBy(F.col("rk").desc_nulls_first(), F.col("n_nationkey").asc())


@query(
    "join_shuffle_hash_hint",
    oracle="""
SELECT c.c_mktsegment,
       count(*) AS n_orders,
       round(sum(o.o_totalprice), 2) AS total
FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
GROUP BY c.c_mktsegment
""",
)
def join_shuffle_hash_hint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C2 complement: the SHUFFLE_HASH join hint — builds a hash map on
    the (smaller) customer side per partition instead of sorting both
    sides (SMJ) or broadcasting. The right call when both sides are too
    big to broadcast but one is much smaller than the other: it skips
    both sort passes at the cost of the build-side hash map fitting in
    memory per partition. Results are hint-invariant (the oracle is the
    plain join); the pytest asserts ShuffledHashJoin actually appears
    in the plan — hints are requests, and a silently ignored hint is
    the bug this query guards against."""
    o = _lt(spark, sf_dir, "orders")
    c = _lt(spark, sf_dir, "customer").hint("shuffle_hash")
    return (
        o.join(c, o.o_custkey == c.c_custkey)
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("total"),
        )
    )


@query(
    "observed_scan_metrics",
    oracle="""
SELECT l_returnflag,
       count(*) AS n,
       round(sum(l_extendedprice), 2) AS total
FROM lineitem WHERE l_quantity >= 10
GROUP BY l_returnflag
""",
)
def observed_scan_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DataFrame.observe: named accumulator metrics (rows scanned, rows
    kept, revenue sum) attached to the SAME pass that answers the
    query — production observability with ZERO extra scans (the
    alternative, a second count() job, doubles the 100 TB read). The
    observation rides the plan as an internal aggregate; the query
    result is unchanged (the oracle checks it) and the metric values
    are asserted against independent aggregates in pytest. Metrics
    surface via the Observation handle after any action."""
    from pyspark.sql import Observation

    li = _lt(spark, sf_dir, "lineitem")
    obs = Observation("scan_metrics")
    observed = li.observe(
        obs,
        F.count(F.lit(1)).alias("rows_scanned"),
        F.sum(F.when(F.col("l_quantity") >= 10, 1).otherwise(0)).alias("rows_kept"),
    )
    out = (
        observed.filter(F.col("l_quantity") >= 10)
        .groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("l_extendedprice"), 2).alias("total"),
        )
    )
    # the Observation handle travels with the DataFrame for callers
    # (tests) that want the metrics after an action
    out._observation = obs  # type: ignore[attr-defined]
    return out


@query(
    "grouped_agg_pandas_udaf",
    oracle="""
SELECT event_type,
       round(exp(avg(ln(value + 1))) - 1, 4) AS geo_mean,
       count(*) AS n
FROM events
GROUP BY event_type
""",
)
def grouped_agg_pandas_udaf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.L GROUPED_AGG pandas UDAF: a custom aggregate (geometric
    mean) as an Arrow-batched vectorized function — the escape hatch
    when no builtin aggregate composes to the statistic (here it does
    — exp(avg(ln x)) — which is exactly what the oracle replays; the
    point is exercising the UDAF surface with a verifiable function).
    The UDAF receives each group's column as ONE pandas Series
    (Arrow transfer, numpy reduction inside); Spark still plans
    partial aggregation around it per group, and the shuffle carries
    group keys only. Mean-of-logs in float64 matches avg(ln) to well
    inside the 4-decimal rounding."""
    import numpy as np
    from pyspark.sql.functions import PandasUDFType, pandas_udf

    # functionType passed explicitly: this module's
    # `from __future__ import annotations` stringifies signatures, so
    # pandas_udf can't infer GROUPED_AGG from `pd.Series -> float`
    @pandas_udf("double", PandasUDFType.GROUPED_AGG)
    def geo_mean(v):
        # shifted (+1) geometric mean: defined for value = 0 rows,
        # which appear at sf0.1 (plain ln(0) is -inf / a DuckDB error)
        return float(np.exp(np.log(v.to_numpy() + 1.0).mean()) - 1.0)

    # Spark refuses to mix GROUPED_AGG pandas UDFs with JVM aggregates
    # in one agg (INVALID_PANDAS_UDF_PLACEMENT) — the count is a second
    # pandas UDAF so both ride the same grouped Arrow batch
    @pandas_udf("long", PandasUDFType.GROUPED_AGG)
    def grp_count(v):
        return len(v)

    e = _lt(spark, sf_dir, "events")
    return e.groupBy("event_type").agg(
        F.round(geo_mean("value"), 4).alias("geo_mean"),
        grp_count("value").alias("n"),
    )


@query(
    "heavy_hitters_support",
    oracle="""
WITH per AS (SELECT user_id, count(*) AS n FROM events GROUP BY 1),
tot AS (SELECT count(*) AS total, count(DISTINCT user_id) AS u FROM events)
SELECT user_id, n, CAST(n * 10000 // total AS BIGINT) AS support_bp
FROM per, tot
WHERE n * u > total
""",
)
def heavy_hitters_support(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heavy hitters by relative support: users whose event count
    strictly exceeds the corpus mean (n · n_users > total — a
    SF-invariant cut, where any fixed support fraction goes to zero
    rows as the key domain scales; this fixture's per-user counts are
    deliberately uniform, so the mean is the only discriminating
    threshold), reported with integer basis-point support. The grand
    total is ONE row cross-joined back (window-free — the
    share_of_total pattern), and both the predicate and the support
    are integer arithmetic, so no float boundary exists for a count
    to sit on. At 100 TB this is one map-side-combined count shuffle
    + a broadcast of a single row; it is the exact-oracle baseline
    for sketch-based heavy hitters (Misra-Gries/CMS), which trade
    this plan's full key set for bounded memory."""
    e = _lt(spark, sf_dir, "events")
    per = e.groupBy("user_id").agg(F.count(F.lit(1)).alias("n"))
    tot = e.agg(
        F.count(F.lit(1)).alias("total"),
        F.countDistinct("user_id").alias("u"),
    )
    return (
        per.crossJoin(F.broadcast(tot))  # 1-row total: sanctioned
        .filter(F.col("n") * F.col("u") > F.col("total"))
        .select("user_id", "n", F.expr("n * 10000 div total").alias("support_bp"))
    )


@query(
    "drift_chi2_daily",
    oracle="""
WITH daily AS (
    SELECT date_trunc('day', ts) AS day, event_type, count(*) AS o
    FROM events GROUP BY 1, 2
),
spine AS (
    SELECT d.day, t.event_type, dn.dn, g.g, gt.t
    FROM (SELECT DISTINCT day FROM daily) d
    CROSS JOIN (SELECT DISTINCT event_type FROM daily) t
    JOIN (SELECT day, sum(o) AS dn FROM daily GROUP BY 1) dn USING (day)
    JOIN (SELECT event_type, sum(o) AS g FROM daily GROUP BY 1) g
        USING (event_type)
    CROSS JOIN (SELECT sum(o) AS t FROM daily) gt
),
cells AS (
    SELECT s.day, s.dn * s.g * 1.0 / s.t AS e, coalesce(d.o, 0) AS o
    FROM spine s LEFT JOIN daily d
        ON d.day = s.day AND d.event_type = s.event_type
)
SELECT CAST(day AS DATE) AS day, CAST(sum(o) AS BIGINT) AS n_events,
       round(sum((o - e) * (o - e) / e), 4) AS chi2
FROM cells GROUP BY day
""",
)
def drift_chi2_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution-drift monitor: per-day χ² statistic of the
    event-type mix against the whole-corpus mix — the standard
    data-quality alarm for 'today's traffic looks different'. Expected
    cells come from a (day × type) SPINE (dim-sized cross join,
    sanctioned) so zero-observed cells contribute their full expected
    mass instead of silently vanishing — dropping them understates
    drift exactly when a category disappears, the case the monitor
    exists to catch. Counts are exact integers; the only floats are
    per-cell expected values (identical products of identical
    integers) and a 5-term sum rounded to 4dp.

    r14 (guide §2.4, the r13 staging methodology): the dim-sized
    `daily` aggregate feeds SIX consumers (days, types, day_tot,
    glob, gt, and the left join), and Catalyst prunes each branch
    differently (the distinct-only branches drop the count), so the
    subtrees are not byte-identical and runtime ReusedExchange never
    fires — the final plan re-ran the full events scan + aggregate
    6×. `daily` (days × 5 types rows, three narrow columns) is now
    staged once via `_stage`; final plan 6→1 events
    scans. Oracle hash-green at 3 SFs."""
    e = _lt(spark, sf_dir, "events")
    daily = _stage(
        e.groupBy(
            trunc("day", "ts").alias("day"), "event_type"
        ).agg(F.count(F.lit(1)).alias("o"))
    )
    days = daily.select("day").distinct()
    types = daily.select("event_type").distinct()
    day_tot = daily.groupBy("day").agg(F.sum("o").alias("dn"))
    glob = daily.groupBy("event_type").agg(F.sum("o").alias("g"))
    gt = daily.agg(F.sum("o").alias("t"))
    spine = (
        days.crossJoin(F.broadcast(types))  # dim-sized spine: sanctioned
        .join(day_tot, "day")
        .join(F.broadcast(glob), "event_type")
        .crossJoin(F.broadcast(gt))  # 1-row total: sanctioned
    )
    cells = spine.join(daily, ["day", "event_type"], "left").select(
        "day",
        (F.col("dn") * F.col("g") * F.lit(1.0) / F.col("t")).alias("e"),
        F.coalesce(F.col("o"), F.lit(0)).alias("o"),
    )
    chi = (F.col("o") - F.col("e")) * (F.col("o") - F.col("e")) / F.col("e")
    return (
        cells.groupBy("day")
        .agg(
            F.sum("o").cast("long").alias("n_events"),
            F.round(F.sum(chi), 4).alias("chi2"),
        )
        .select(F.col("day").cast("date").alias("day"), "n_events", "chi2")
    )


@query(
    "win_reset_running_sum",
    oracle="""
WITH flagged AS (
    SELECT user_id, event_id, ts, value,
           CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id
                                        ORDER BY ts, event_id)
                     <= INTERVAL 30 MINUTE
                THEN 0 ELSE 1 END AS new_sess
    FROM events
),
numbered AS (
    SELECT *, sum(new_sess) OVER (PARTITION BY user_id
                                  ORDER BY ts, event_id
                                  ROWS UNBOUNDED PRECEDING) AS sid
    FROM flagged
)
SELECT event_id, user_id, CAST(sid AS BIGINT) AS sid,
       round(sum(value) OVER (PARTITION BY user_id, sid
                              ORDER BY ts, event_id
                              ROWS UNBOUNDED PRECEDING), 2) AS run_sum
FROM numbered
""",
)
def win_reset_running_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional cumulative sum: a per-user running total that
    RESETS at every session boundary (>30 min gap) — the
    gaps-and-islands session id (lag flag → running count) feeding a
    second running sum partitioned by (user, session). The common
    'spend so far this session' feature. Both windows partition on
    data-scaling keys (user, then user×session) and use ROWS frames,
    so per-key state is O(1) and the accumulation order is pinned by
    (ts, event_id) — identical float sequences in both engines."""
    e = _lt(spark, sf_dir, "events")
    w_user = W.partitionBy("user_id").orderBy("ts", "event_id")
    # µs-exact gap (seconds would truncate 1800.5s to 1800 and flip the
    # boundary vs the oracle's INTERVAL comparison)
    us = epoch_us("ts")
    gap_ok = (us - F.lag(us).over(w_user)) <= 1800 * 1_000_000
    flagged = e.select(
        "event_id",
        "user_id",
        "ts",
        "value",
        F.when(gap_ok, F.lit(0)).otherwise(F.lit(1)).alias("new_sess"),
    )
    numbered = flagged.withColumn(
        "sid",
        F.sum("new_sess").over(w_user.rowsBetween(W.unboundedPreceding, 0)),
    )
    w_sess = (
        W.partitionBy("user_id", "sid")
        .orderBy("ts", "event_id")
        .rowsBetween(W.unboundedPreceding, 0)
    )
    return numbered.select(
        "event_id",
        "user_id",
        F.col("sid").cast("long").alias("sid"),
        F.round(F.sum("value").over(w_sess), 2).alias("run_sum"),
    )


@query(
    "attribution_linear_touch",
    oracle="""
WITH c AS (
    SELECT user_id, event_id AS click_id, ts AS cts
    FROM events WHERE event_type = 'click'
), p AS (
    SELECT user_id, event_id AS purchase_id, ts AS pts, value
    FROM events WHERE event_type = 'purchase'
), touches AS (
    SELECT c.click_id, p.purchase_id, p.value,
           count(*) OVER (PARTITION BY p.purchase_id) AS n_touch
    FROM c JOIN p ON c.user_id = p.user_id
    WHERE c.cts <= p.pts
      AND p.pts - c.cts <= INTERVAL 7 DAY
)
SELECT click_id,
       count(*) AS n_purchases,
       CAST(sum((CAST(floor(value * 10000) AS BIGINT) * 100000) // n_touch)
            AS BIGINT) AS attributed_fp
FROM touches
GROUP BY click_id
""",
)
def attribution_linear_touch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear multi-touch attribution: each purchase's value is split
    EQUALLY across the user's clicks in the preceding 7 days, and each
    click reports how much revenue it carried — the standard marketing
    attribution shape (first/last-touch are the as-of joins; linear is
    the windowed-join + share-out). The time-bounded pair join is
    user-keyed (equi component drives the shuffle; the 7-day bound
    post-filters — the C7 pattern), and the per-purchase touch count
    is a window on the purchase id, so nothing exceeds one key
    shuffle + one pair-bounded window. Attribution arithmetic is
    FIXED-POINT: value in 1e-4 units (floor — engine-portable on the
    shared binary double, unlike round) scaled by 1e5 then
    integer-divided by the touch count, so the per-click sums are
    exact BIGINTs — the float-quotient draft differed in the last
    rounded digit between engines purely from summation order."""
    e = _lt(spark, sf_dir, "events")
    c = e.filter(F.col("event_type") == "click").select(
        "user_id", F.col("event_id").alias("click_id"), F.col("ts").alias("cts")
    )
    p = e.filter(F.col("event_type") == "purchase").select(
        "user_id",
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("pts"),
        "value",
    )
    touches = (
        c.join(p, "user_id")
        .filter(
            (F.col("cts") <= F.col("pts"))
            & (epoch_us("pts") - epoch_us("cts") <= 7 * 86400 * 1_000_000)
        )
        .withColumn(
            "n_touch", F.count(F.lit(1)).over(W.partitionBy("purchase_id"))
        )
    )
    share = F.expr(
        "(CAST(floor(value * 10000) AS BIGINT) * 100000) div n_touch"
    )
    return touches.groupBy("click_id").agg(
        F.count(F.lit(1)).alias("n_purchases"),
        F.sum(share).cast("long").alias("attributed_fp"),
    )
