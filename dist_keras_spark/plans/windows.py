"""Window functions (SURVEY.md §2.E) — none exist in the reference
(no `over(` anywhere in distkeras/); all ENG surface.

Every window here partitions by a real key (customer / user) so the
single shuffle it costs is hash-distributed; none uses a global
unpartitioned ordering except ntile, which is documented as a
driver-chosen global ranking (bounded input).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from dist_keras_spark.functions.time import epoch_s
from dist_keras_spark.operators.utils import bounded_window_key
from dist_keras_spark.plans.registry import query
from dist_keras_spark.sources.tables import load_table as _lt


@query(
    "win_rank_orders",
    oracle="""
SELECT o_custkey, o_orderkey, rn, rk, drk
FROM (SELECT o_custkey, o_orderkey,
             row_number() OVER w AS rn,
             rank()       OVER w AS rk,
             dense_rank() OVER w AS drk
      FROM orders
      WINDOW w AS (PARTITION BY o_custkey
                   ORDER BY o_orderdate DESC, o_orderkey DESC))
WHERE rn <= 2
""",
)
def win_rank_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E1: row_number / rank / dense_rank — 2 most recent orders per customer."""
    o = _lt(spark, sf_dir, "orders")
    w = W.partitionBy("o_custkey").orderBy(
        F.col("o_orderdate").desc(), F.col("o_orderkey").desc()
    )
    return (
        o.select(
            "o_custkey",
            "o_orderkey",
            F.row_number().over(w).alias("rn"),
            F.rank().over(w).alias("rk"),
            F.dense_rank().over(w).alias("drk"),
        )
        .filter(F.col("rn") <= 2)
    )


@query(
    "win_lag_lead",
    oracle="""
SELECT event_id,
       lag(value)     OVER w AS prev_value,
       lead(value)    OVER w AS next_value,
       lag(event_id)  OVER w AS prev_event
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
""",
)
def win_lag_lead(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E2: lag/lead over per-user event time (deterministic tiebreak)."""
    e = _lt(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    return e.select(
        "event_id",
        F.lag("value").over(w).alias("prev_value"),
        F.lead("value").over(w).alias("next_value"),
        F.lag("event_id").over(w).alias("prev_event"),
    )


@query(
    "win_running_sum",
    oracle="""
SELECT o_custkey, o_orderkey,
       round(sum(o_totalprice) OVER (PARTITION BY o_custkey
                                     ORDER BY o_orderdate, o_orderkey
                                     ROWS UNBOUNDED PRECEDING), 2)
           AS running_spend
FROM orders
""",
)
def win_running_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E4: running aggregate with an explicit ROWS frame."""
    o = _lt(spark, sf_dir, "orders")
    w = (
        W.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(W.unboundedPreceding, 0)
    )
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.round(F.sum("o_totalprice").over(w), 2).alias("running_spend"),
    )


@query(
    "win_range_frame",
    oracle="""
SELECT event_id,
       round(sum(value) OVER (PARTITION BY user_id ORDER BY sec
                              RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW), 2)
           AS rolling_1h
FROM (SELECT event_id, user_id, value,
             CAST(floor(epoch(ts)) AS BIGINT) AS sec
      FROM events)
""",
)
def win_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E5: time-based sliding aggregate — RANGE frame over epoch seconds.

    Both engines define sec = floor(epoch), so frame membership is
    identical; RANGE includes all peers, making ties order-insensitive.
    """
    e = _lt(spark, sf_dir, "events").withColumn("sec", epoch_s("ts"))
    w = W.partitionBy("user_id").orderBy("sec").rangeBetween(-3600, 0)
    return e.select(
        "event_id", F.round(F.sum("value").over(w), 2).alias("rolling_1h")
    )


@query(
    "win_first_last",
    oracle="""
SELECT event_id,
       first_value(value) OVER w AS first_val,
       last_value(value)  OVER w AS last_val
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
""",
)
def win_first_last(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E3: first/last over the full partition frame (deterministic)."""
    e = _lt(spark, sf_dir, "events")
    w = (
        W.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
    )
    return e.select(
        "event_id",
        F.first("value").over(w).alias("first_val"),
        F.last("value").over(w).alias("last_val"),
    )


@query(
    "win_ntile",
    oracle="""
SELECT o_orderkey,
       ntile(4) OVER (ORDER BY o_totalprice DESC, o_orderkey) AS price_quartile
FROM orders
""",
)
def win_ntile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E1: ntile quartiles by price. Global ordering — acceptable only
    because orders-per-window is bounded; at 100 TB you'd bucket by
    percentile_approx instead (see tests for that variant)."""
    o = _lt(spark, sf_dir, "orders")
    w = W.partitionBy(bounded_window_key(F.col("o_orderkey"))).orderBy(
        F.col("o_totalprice").desc(), "o_orderkey"
    )
    return o.select("o_orderkey", F.ntile(4).over(w).alias("price_quartile"))


@query(
    "win_distribution_funcs",
    oracle="""
SELECT o_custkey, o_orderkey,
       round(pr, 6) AS pr, round(cd, 6) AS cd, nth
FROM (SELECT o_custkey, o_orderkey,
             percent_rank() OVER w AS pr,
             cume_dist()    OVER w AS cd,
             nth_value(o_orderkey, 2) OVER (PARTITION BY o_custkey
                                            ORDER BY o_totalprice DESC, o_orderkey
                                            ROWS BETWEEN UNBOUNDED PRECEDING
                                                     AND UNBOUNDED FOLLOWING) AS nth
      FROM orders
      WINDOW w AS (PARTITION BY o_custkey
                   ORDER BY o_totalprice DESC, o_orderkey))
WHERE o_custkey % 10 = 0
""",
)
def win_distribution_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E1 extension: percent_rank / cume_dist / nth_value — the
    distribution family over the same single per-customer shuffle.
    nth_value needs the full-frame (DuckDB default frame for nth_value
    is the whole partition only with the explicit ROWS clause)."""
    o = _lt(spark, sf_dir, "orders")
    w = W.partitionBy("o_custkey").orderBy(F.col("o_totalprice").desc(), "o_orderkey")
    wf = (
        W.partitionBy("o_custkey")
        .orderBy(F.col("o_totalprice").desc(), "o_orderkey")
        .rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
    )
    return (
        o.select(
            "o_custkey",
            "o_orderkey",
            F.round(F.percent_rank().over(w), 6).alias("pr"),
            F.round(F.cume_dist().over(w), 6).alias("cd"),
            F.nth_value("o_orderkey", 2).over(wf).alias("nth"),
        )
        .filter(F.col("o_custkey") % 10 == 0)
    )


@query(
    "win_moving_median",
    oracle="""
SELECT event_id, event_type,
       round(quantile_cont(value, 0.5) OVER (
           PARTITION BY event_type ORDER BY ts, event_id
           ROWS BETWEEN 49 PRECEDING AND CURRENT ROW), 4) AS med50
FROM events
""",
)
def win_moving_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Moving MEDIAN (50-row trailing window per event type) — the
    robust smoother for telemetry with outliers, where a moving mean
    chases every spike. An exact order-statistic over a ROWS frame:
    both engines interpolate the continuous median over the same
    50-row window contents in the same (ts, event_id) order, so the
    values agree exactly. Cost model: O(frame) per row with
    re-accumulation — at 100 TB prefer the fixed-width histogram
    approximation per window (gini_histogram_binned's trick) when the
    frame grows beyond ~10³ rows; this is the exact baseline."""
    e = _lt(spark, sf_dir, "events")
    w = (
        W.partitionBy("event_type")
        .orderBy("ts", "event_id")
        .rowsBetween(-49, 0)
    )
    return e.select(
        "event_id",
        "event_type",
        F.round(F.expr("percentile(value, 0.5)").over(w), 4).alias("med50"),
    )


@query(
    "win_locf_forward_fill",
    oracle="""
SELECT event_id, user_id,
       last_value(CASE WHEN event_type = 'purchase'
                       THEN CAST(floor(value * 100) AS BIGINT) END
                  IGNORE NULLS) OVER (
           PARTITION BY user_id ORDER BY ts, event_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS carried_purchase_cents
FROM events
""",
)
def win_locf_forward_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E3 depth: last-observation-carried-forward over the RAW fact —
    every event carries the most recent purchase amount at-or-before
    it (NULL before a user's first purchase). `last(expr,
    ignorenulls=True)` over a running frame is the IGNORE NULLS
    null-treatment surface; unlike the gap-fill query (which fills a
    dim-sized spine) this propagates state across every fact row.

    Scale: one user_id-keyed window (data-scaling key), O(1) frame
    state — LOCF at 100 TB is exactly this plan."""
    e = _lt(spark, sf_dir, "events")
    w = (
        W.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(W.unboundedPreceding, 0)
    )
    marked = F.when(
        F.col("event_type") == "purchase",
        F.floor(F.col("value") * 100).cast("long"),
    )
    return e.select(
        "event_id",
        "user_id",
        F.last(marked, ignorenulls=True).over(w).alias("carried_purchase_cents"),
    )
