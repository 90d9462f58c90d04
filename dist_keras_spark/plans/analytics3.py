"""Round-6 (second wave) analytics operators: market-basket lift,
CDC snapshot diffs, SCD2 history construction, sweep-line interval
concurrency, MATCH_RECOGNIZE-style sequence patterns, and
month-over-month growth.

These extend SURVEY.md §2.M with the remaining classic warehouse /
product-analytics shapes (association rules, change-data-capture,
slowly-changing-dimension builds, peak-concurrency, path regexes,
period-over-period deltas). dist-keras has no analogue — this is
"beyond the reference" surface per the brief; COVERAGE.md maps each
query to its inventory row.

House rules applied throughout: integer-cents via floor(x*100) (the
round(x,2) boundary-double divergence, STATUS.md), windows partitioned
on data-scaling keys (user_id / l_suppkey) or over provably
SF-invariant aggregate outputs (nation x month), `div`-free signed
arithmetic (floor of a double quotient is engine-portable; integer
`//` on negatives is not).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from dist_keras_spark.functions.time import trunc
from dist_keras_spark.plans.registry import query
from dist_keras_spark.sources.tables import load_table as _lt


@query(
    "market_basket_lift",
    oracle="""
WITH baskets AS (
    SELECT DISTINCT l.l_orderkey, p.p_brand
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
), tot AS (
    SELECT count(DISTINCT l_orderkey) AS n_orders FROM baskets
), brand_n AS (
    SELECT p_brand, count(*) AS n FROM baskets GROUP BY p_brand
), pairs AS (
    SELECT a.p_brand AS brand_a, b.p_brand AS brand_b,
           count(*) AS n_ab
    FROM baskets a JOIN baskets b
      ON a.l_orderkey = b.l_orderkey AND a.p_brand < b.p_brand
    GROUP BY 1, 2
)
SELECT p.brand_a, p.brand_b, CAST(p.n_ab AS BIGINT) AS n_ab,
       CAST(na.n AS BIGINT) AS n_a, CAST(nb.n AS BIGINT) AS n_b,
       CAST(floor(1000.0 * t.n_orders * p.n_ab / (na.n * nb.n))
            AS BIGINT) AS lift_milli
FROM pairs p
JOIN brand_n na ON p.brand_a = na.p_brand
JOIN brand_n nb ON p.brand_b = nb.p_brand
CROSS JOIN tot t
""",
)
def market_basket_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Association rules over order baskets: for every brand pair
    co-occurring in an order, support count and lift
    lift = N·n(ab) / (n(a)·n(b)), reported as floor(1000·lift) so the
    comparison is a floor of one double expression (portable), not a
    rounded float.

    Scale shape: baskets = one DISTINCT shuffle keyed (orderkey,
    brand); the pair self-join is keyed on l_orderkey — co-partitioned,
    and per-order fanout is bounded by (brands-per-order choose 2) with
    a 25-brand universe, so the join can never go quadratic in rows.
    Pair cardinality is at most C(25,2)=300 groups regardless of SF;
    brand_n (25 rows) and the 1-row total broadcast onto the pairs.
    The 1000.0·N·n_ab product stays in double space (exact for counts
    < 2^52); nothing here overflows at SF 1e5."""
    l = _lt(spark, sf_dir, "lineitem")
    p = _lt(spark, sf_dir, "part")
    baskets = (
        l.join(p, l.l_partkey == p.p_partkey)
        .select("l_orderkey", "p_brand")
        .distinct()
    )
    tot = baskets.agg(F.countDistinct("l_orderkey").alias("n_orders"))
    brand_n = baskets.groupBy("p_brand").agg(F.count(F.lit(1)).alias("n"))
    a = baskets.alias("a")
    b = baskets.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.p_brand") < F.col("b.p_brand")),
        )
        .groupBy(
            F.col("a.p_brand").alias("brand_a"),
            F.col("b.p_brand").alias("brand_b"),
        )
        .agg(F.count(F.lit(1)).alias("n_ab"))
    )
    na = F.broadcast(brand_n.withColumnRenamed("p_brand", "brand_a").withColumnRenamed("n", "n_a"))
    nb = F.broadcast(brand_n.withColumnRenamed("p_brand", "brand_b").withColumnRenamed("n", "n_b"))
    return (
        pairs.join(na, "brand_a")
        .join(nb, "brand_b")
        .crossJoin(F.broadcast(tot))
        .select(
            "brand_a",
            "brand_b",
            "n_ab",
            "n_a",
            "n_b",
            F.floor(
                1000.0 * F.col("n_orders") * F.col("n_ab")
                / (F.col("n_a") * F.col("n_b"))
            ).alias("lift_milli"),
        )
    )


@query(
    "cdc_snapshot_diff",
    oracle="""
WITH old AS (
    SELECT o_custkey, count(*) AS n,
           CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS cents
    FROM orders WHERE o_orderdate < TIMESTAMP '1998-01-01'
    GROUP BY o_custkey
), new AS (
    SELECT o_custkey, count(*) AS n,
           CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS cents
    FROM orders WHERE o_orderdate >= TIMESTAMP '1998-01-01'
    GROUP BY o_custkey
), diff AS (
    SELECT coalesce(o.o_custkey, n.o_custkey) AS k,
           CASE WHEN o.o_custkey IS NULL THEN 'insert'
                WHEN n.o_custkey IS NULL THEN 'delete'
                WHEN o.n = n.n AND o.cents = n.cents THEN 'unchanged'
                ELSE 'update' END AS change_type,
           coalesce(o.cents, 0) AS old_cents,
           coalesce(n.cents, 0) AS new_cents
    FROM old o FULL OUTER JOIN new n ON o.o_custkey = n.o_custkey
)
SELECT change_type, count(*) AS n_keys,
       CAST(sum(old_cents) AS BIGINT) AS old_cents,
       CAST(sum(new_cents) AS BIGINT) AS new_cents
FROM diff GROUP BY change_type
""",
)
def cdc_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Change-data-capture diff between two per-customer order
    snapshots (orders before vs after 1998-01-01): each key is
    classified insert / delete / update / unchanged via FULL OUTER
    JOIN, then summarized per change type with integer-cent checksums.

    This is the batch CDC primitive behind incremental pipelines
    (compare yesterday's aggregate state to today's and emit only the
    delta rows downstream). Scale shape: two partial-aggregated scans
    of the same fact (both keyed o_custkey), one co-keyed full-outer
    shuffle join, then a 4-group rollup — the diff itself never
    materializes unaggregated fact rows. Amounts use
    floor(price·100) int cents; sums exact in int64."""
    o = _lt(spark, sf_dir, "orders")
    cents = F.floor(F.col("o_totalprice") * 100).cast("long")
    split = F.lit("1998-01-01").cast("timestamp_ntz")

    def snap(pred):
        return (
            o.filter(pred)
            .groupBy("o_custkey")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(cents).alias("cents"),
            )
        )

    old = snap(F.col("o_orderdate") < split).alias("o")
    new = snap(F.col("o_orderdate") >= split).alias("n")
    diff = old.join(
        new, F.col("o.o_custkey") == F.col("n.o_custkey"), "full_outer"
    ).select(
        F.when(F.col("o.o_custkey").isNull(), F.lit("insert"))
        .when(F.col("n.o_custkey").isNull(), F.lit("delete"))
        .when(
            (F.col("o.n") == F.col("n.n"))
            & (F.col("o.cents") == F.col("n.cents")),
            F.lit("unchanged"),
        )
        .otherwise(F.lit("update"))
        .alias("change_type"),
        F.coalesce(F.col("o.cents"), F.lit(0)).alias("old_cents"),
        F.coalesce(F.col("n.cents"), F.lit(0)).alias("new_cents"),
    )
    return diff.groupBy("change_type").agg(
        F.count(F.lit(1)).alias("n_keys"),
        F.sum("old_cents").alias("old_cents"),
        F.sum("new_cents").alias("new_cents"),
    )


@query(
    "scd2_from_events",
    oracle="""
WITH ordered AS (
    SELECT user_id, ts, event_id, event_type,
           CASE WHEN lag(event_type) OVER w IS DISTINCT FROM event_type
                THEN 1 ELSE 0 END AS chg
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), runs AS (
    SELECT user_id, ts, event_type,
           sum(chg) OVER (PARTITION BY user_id ORDER BY ts, event_id
                          ROWS UNBOUNDED PRECEDING) AS version
    FROM ordered
), hist AS (
    SELECT user_id, CAST(version AS BIGINT) AS version,
           min(event_type) AS state,
           min(ts) AS valid_from,
           count(*) AS n_events
    FROM runs GROUP BY user_id, version
)
SELECT user_id, version, state, valid_from,
       lead(valid_from) OVER (PARTITION BY user_id ORDER BY version)
           AS valid_to,
       CAST(n_events AS BIGINT) AS n_events
FROM hist
""",
)
def scd2_from_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Build a type-2 slowly-changing-dimension history from a change
    stream: consecutive runs of the same per-user event_type collapse
    into one versioned row with [valid_from, valid_to) validity
    (valid_to NULL = current). Classic gaps-and-islands: lag-compare →
    cumulative change count = version → per-version min/count → lead
    for the closing timestamp.

    Scale shape: every window partitions on user_id (data-scaling
    key); the run aggregation is keyed (user_id, version) on the same
    shuffle; output rows = number of state changes, strictly fewer
    than input rows. This is exactly how a 100 TB dimension history
    rebuild should look — one key shuffle, no self-joins."""
    e = _lt(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    chg = F.when(
        ~F.lag("event_type").over(w).eqNullSafe(F.col("event_type")), 1
    ).otherwise(0)
    runs = e.select(
        "user_id",
        "ts",
        "event_type",
        F.sum(chg).over(w.rowsBetween(W.unboundedPreceding, 0)).alias(
            "version"
        ),
    )
    hist = runs.groupBy("user_id", "version").agg(
        F.min("event_type").alias("state"),
        F.min("ts").alias("valid_from"),
        F.count(F.lit(1)).alias("n_events"),
    )
    wv = W.partitionBy("user_id").orderBy("version")
    return hist.select(
        "user_id",
        "version",
        "state",
        "valid_from",
        F.lead("valid_from").over(wv).alias("valid_to"),
        "n_events",
    )


@query(
    "concurrent_intervals_peak",
    oracle="""
WITH sweep AS (
    SELECT l.l_suppkey, o.o_orderdate AS t, 1 AS d
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    UNION ALL
    SELECT l_suppkey, l_shipdate AS t, -1 AS d FROM lineitem
), running AS (
    SELECT l_suppkey, t, d,
           sum(d) OVER (PARTITION BY l_suppkey ORDER BY t, d
                        ROWS UNBOUNDED PRECEDING) AS r
    FROM sweep
), peaks AS (
    SELECT l_suppkey, max(r) AS peak FROM running GROUP BY l_suppkey
)
SELECT r.l_suppkey, CAST(p.peak AS BIGINT) AS peak,
       min(r.t) AS peak_first_at
FROM running r JOIN peaks p
  ON r.l_suppkey = p.l_suppkey AND r.r = p.peak
GROUP BY r.l_suppkey, p.peak
""",
)
def concurrent_intervals_peak(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Peak interval concurrency via sweep-line: each lineitem is
    "open" from its order date to its ship date; per supplier, find
    the maximum number of simultaneously open lineitems and the first
    instant it is reached. +1/-1 delta rows, running sum ordered by
    (t, d) — the d tiebreak closes intervals before opening new ones
    at the same instant (half-open [start, end) semantics, the
    convention that makes back-to-back intervals non-overlapping).

    Equal-(t,d) row order is immaterial: all tied deltas are equal, so
    the running sum visits the same value set in any order — the
    max/argmin are engine-stable without a full unique sort key.

    Scale shape: the sweep is 2 rows per lineitem, ONE shuffle keyed
    l_suppkey shared by the window, the peak aggregation, and the
    argmin re-join (AQE sees identical partitioning). No all-pairs
    overlap join — the O(n log n) sweep is the 100 TB-safe plan for
    interval overlap."""
    l = _lt(spark, sf_dir, "lineitem")
    o = _lt(spark, sf_dir, "orders")
    opens = (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .select("l_suppkey", F.col("o_orderdate").alias("t"), F.lit(1).alias("d"))
    )
    closes = l.select("l_suppkey", F.col("l_shipdate").alias("t"), F.lit(-1).alias("d"))
    sweep = opens.unionByName(closes)
    w = (
        W.partitionBy("l_suppkey")
        .orderBy("t", "d")
        .rowsBetween(W.unboundedPreceding, 0)
    )
    running = sweep.withColumn("r", F.sum("d").over(w)).alias("run")
    peaks = (
        running.groupBy("l_suppkey")
        .agg(F.max("r").alias("peak"))
        .withColumnRenamed("l_suppkey", "pk_suppkey")
    )
    return (
        running.join(
            peaks,
            (F.col("run.l_suppkey") == F.col("pk_suppkey"))
            & (F.col("run.r") == F.col("peak")),
        )
        .groupBy(F.col("run.l_suppkey").alias("l_suppkey"), F.col("peak"))
        .agg(F.min("t").alias("peak_first_at"))
    )


@query(
    "sequence_pattern_match",
    oracle="""
WITH coded AS (
    SELECT user_id,
           string_agg(CASE event_type WHEN 'signup' THEN 's'
                                      WHEN 'click' THEN 'c'
                                      WHEN 'purchase' THEN 'p'
                                      WHEN 'error' THEN 'e'
                                      ELSE 'v' END,
                      '' ORDER BY ts, event_id) AS path
    FROM events GROUP BY user_id
)
SELECT count(*) AS n_users,
       CAST(sum(CASE WHEN regexp_matches(path, 's[^e]*p')
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_clean_conversion,
       CAST(sum(CASE WHEN regexp_matches(path, 'e[cv]*p')
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_error_recovery,
       CAST(sum(CASE WHEN regexp_matches(path, '^v')
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_view_first
FROM coded
""",
)
def sequence_pattern_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MATCH_RECOGNIZE-style sequence pattern matching: encode each
    user's ordered event stream as a 1-char-per-event string, then
    count users whose path matches behavioral regexes (signup→purchase
    with no intervening error; purchase reached from an error through
    only clicks/views; view-first sessions). Regex alternation/classes
    only — no lookarounds — so Java and RE2 semantics agree.

    Scale shape: one groupBy(user_id) shuffle; per-user state is the
    event string (bounded by events-per-user — fine for user streams,
    and the same plan sharded by (user, day) caps it for hot keys).
    The sort happens inside the aggregated array (array_sort on
    (ts, event_id, code) structs), not as a global orderBy."""
    e = _lt(spark, sf_dir, "events")
    code = (
        F.when(F.col("event_type") == "signup", "s")
        .when(F.col("event_type") == "click", "c")
        .when(F.col("event_type") == "purchase", "p")
        .when(F.col("event_type") == "error", "e")
        .otherwise("v")
    )
    coded = (
        e.select("user_id", "ts", "event_id", code.alias("code"))
        .groupBy("user_id")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("ts", "event_id", "code"))
                    ),
                    lambda x: x["code"],
                ),
                "",
            ).alias("path")
        )
    )
    m = lambda pat: F.sum(  # noqa: E731
        F.when(F.col("path").rlike(pat), 1).otherwise(0)
    )
    return coded.agg(
        F.count(F.lit(1)).alias("n_users"),
        m("s[^e]*p").alias("n_clean_conversion"),
        m("e[cv]*p").alias("n_error_recovery"),
        m("^v").alias("n_view_first"),
    )


@query(
    "revenue_mom_growth",
    oracle="""
WITH monthly AS (
    SELECT n.n_name,
           CAST(date_trunc('month', o.o_orderdate) AS DATE) AS month,
           CAST(sum(CAST(floor(l.l_extendedprice * (1 - l.l_discount)
                               * 100) AS BIGINT)) AS BIGINT) AS rev_cents
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    GROUP BY 1, 2
)
SELECT n_name, month, rev_cents,
       lag(rev_cents) OVER w AS prev_cents,
       CAST(floor(10000.0 * (rev_cents - lag(rev_cents) OVER w)
                  / lag(rev_cents) OVER w) AS BIGINT) AS growth_bp
FROM monthly
WINDOW w AS (PARTITION BY n_name ORDER BY month)
""",
)
def revenue_mom_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Month-over-month revenue growth per nation in basis points —
    the canonical period-over-period BI query. Growth is
    floor(10000·Δ/prev) computed as a floor of ONE double quotient
    (portable even for negative deltas — integer `div`/`//` semantics
    on negatives differ across engines and are avoided).

    Scale shape: the star join partial-aggregates lineitem down to
    (nation × month) — an SF-INVARIANT grid (25 × ~80) — before any
    window runs, so the lag window's modest 25-key partitioning sits
    on a dim-sized input, not the fact table. Region/nation broadcast;
    fact joins stay AQE-planned."""
    l = _lt(spark, sf_dir, "lineitem")
    o = _lt(spark, sf_dir, "orders")
    c = _lt(spark, sf_dir, "customer")
    n = _lt(spark, sf_dir, "nation")
    monthly = (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy(
            "n_name",
            trunc("month", "o_orderdate").cast("date").alias("month"),
        )
        .agg(
            F.sum(
                F.floor(
                    F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100
                ).cast("long")
            ).alias("rev_cents")
        )
    )
    w = W.partitionBy("n_name").orderBy("month")
    prev = F.lag("rev_cents").over(w)
    return monthly.select(
        "n_name",
        "month",
        "rev_cents",
        prev.alias("prev_cents"),
        F.floor(10000.0 * (F.col("rev_cents") - prev) / prev)
        .cast("long")
        .alias("growth_bp"),
    )


@query(
    "rfm_segment_quantile",
    oracle="""
WITH per_cust AS (
    SELECT o_custkey,
           date_diff('day', CAST(max(o_orderdate) AS DATE),
                     (SELECT CAST(max(o_orderdate) AS DATE) FROM orders))
               AS rec_days,
           count(*) AS freq,
           CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS mon_cents
    FROM orders GROUP BY o_custkey
), q AS (
    SELECT quantile_cont(rec_days, [0.25, 0.5, 0.75]) AS rq,
           quantile_cont(freq,     [0.25, 0.5, 0.75]) AS fq,
           quantile_cont(mon_cents,[0.25, 0.5, 0.75]) AS mq
    FROM per_cust
), scored AS (
    SELECT (1 + CASE WHEN rec_days  > rq[1] THEN 1 ELSE 0 END
              + CASE WHEN rec_days  > rq[2] THEN 1 ELSE 0 END
              + CASE WHEN rec_days  > rq[3] THEN 1 ELSE 0 END) AS r_band,
           (1 + CASE WHEN freq      > fq[1] THEN 1 ELSE 0 END
              + CASE WHEN freq      > fq[2] THEN 1 ELSE 0 END
              + CASE WHEN freq      > fq[3] THEN 1 ELSE 0 END) AS f_band,
           (1 + CASE WHEN mon_cents > mq[1] THEN 1 ELSE 0 END
              + CASE WHEN mon_cents > mq[2] THEN 1 ELSE 0 END
              + CASE WHEN mon_cents > mq[3] THEN 1 ELSE 0 END) AS m_band,
           mon_cents
    FROM per_cust, q
)
SELECT r_band, f_band, m_band,
       count(*) AS n_customers,
       CAST(sum(mon_cents) AS BIGINT) AS mon_cents
FROM scored GROUP BY 1, 2, 3
""",
)
def rfm_segment_quantile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM (recency/frequency/monetary) customer segmentation with
    quartile bands assigned by BROADCAST QUANTILE BOUNDARIES, not
    ntile: an ntile(4) needs a global sort of every customer — the
    classic 100 TB anti-pattern — whereas exact percentile is a proper
    distributed AGGREGATE (partial per partition, merged), and band
    assignment is then three broadcast comparisons per row. Both
    engines interpolate percentiles identically (percentile_cont
    semantics, index p·(n-1)) over integer inputs, so the double
    boundaries match bit-for-bit.

    Scale shape: one keyed per-customer aggregate, a 1-row boundary
    aggregate broadcast back, a ≤64-group rollup. Zero sorts."""
    o = _lt(spark, sf_dir, "orders")
    gmax = o.agg(F.max(F.col("o_orderdate").cast("date")).alias("gmax"))
    per_cust = (
        o.groupBy("o_custkey")
        .agg(
            F.max(F.col("o_orderdate").cast("date")).alias("last_order"),
            F.count(F.lit(1)).alias("freq"),
            F.sum(F.floor(F.col("o_totalprice") * 100).cast("long")).alias(
                "mon_cents"
            ),
        )
        .crossJoin(F.broadcast(gmax))
        .select(
            "o_custkey",
            F.datediff("gmax", "last_order").alias("rec_days"),
            "freq",
            "mon_cents",
        )
    )
    q = per_cust.agg(
        F.expr("percentile(rec_days, array(0.25, 0.5, 0.75))").alias("rq"),
        F.expr("percentile(freq, array(0.25, 0.5, 0.75))").alias("fq"),
        F.expr("percentile(mon_cents, array(0.25, 0.5, 0.75))").alias("mq"),
    )

    def band(col: str, qcol: str):
        return (
            F.lit(1)
            + F.when(F.col(col) > F.col(qcol)[0], 1).otherwise(0)
            + F.when(F.col(col) > F.col(qcol)[1], 1).otherwise(0)
            + F.when(F.col(col) > F.col(qcol)[2], 1).otherwise(0)
        )

    return (
        per_cust.crossJoin(F.broadcast(q))
        .select(
            band("rec_days", "rq").alias("r_band"),
            band("freq", "fq").alias("f_band"),
            band("mon_cents", "mq").alias("m_band"),
            "mon_cents",
        )
        .groupBy("r_band", "f_band", "m_band")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.sum("mon_cents").alias("mon_cents"),
        )
    )


@query(
    "weighted_median_by_supplier",
    oracle="""
WITH w AS (
    SELECT l_suppkey,
           CAST(floor(l_extendedprice * 100) AS BIGINT) AS price_cents,
           CAST(l_quantity AS BIGINT) AS wt,
           l_orderkey, l_linenumber
    FROM lineitem
), cum AS (
    SELECT l_suppkey, price_cents, wt,
           sum(wt) OVER (PARTITION BY l_suppkey
                         ORDER BY price_cents, l_orderkey, l_linenumber
                         ROWS UNBOUNDED PRECEDING) AS c,
           sum(wt) OVER (PARTITION BY l_suppkey) AS total
    FROM w
)
SELECT l_suppkey,
       CAST(min(CASE WHEN 2 * c >= total THEN price_cents END) AS BIGINT)
           AS wmedian_cents,
       CAST(min(total) AS BIGINT) AS total_qty,
       count(*) AS n_items
FROM cum GROUP BY l_suppkey
""",
)
def weighted_median_by_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted median (lower weighted median: first value whose
    cumulative weight reaches half the total) of line price weighted
    by quantity, per supplier. Built-in percentile/median cannot
    weight; the cumulative-weight window is the standard distributed
    formulation.

    Scale shape: both windows and the final aggregate share ONE
    l_suppkey shuffle (a data-scaling key; ~600 lineitems per supplier
    at every SF, so per-partition sort state is bounded). Quantities
    are integral in the fixture → the comparison 2·cum ≥ total is
    exact integer arithmetic; the qualifying set is a suffix of the
    price order, so min() picks the weighted median without a second
    window."""
    l = _lt(spark, sf_dir, "lineitem")
    w = l.select(
        "l_suppkey",
        F.floor(F.col("l_extendedprice") * 100).cast("long").alias("price_cents"),
        F.col("l_quantity").cast("long").alias("wt"),
        "l_orderkey",
        "l_linenumber",
    )
    wc = (
        W.partitionBy("l_suppkey")
        .orderBy("price_cents", "l_orderkey", "l_linenumber")
        .rowsBetween(W.unboundedPreceding, 0)
    )
    wt = W.partitionBy("l_suppkey")
    cum = w.select(
        "l_suppkey",
        "price_cents",
        F.sum("wt").over(wc).alias("c"),
        F.sum("wt").over(wt).alias("total"),
    )
    return cum.groupBy("l_suppkey").agg(
        F.min(
            F.when(2 * F.col("c") >= F.col("total"), F.col("price_cents"))
        ).alias("wmedian_cents"),
        F.min("total").alias("total_qty"),
        F.count(F.lit(1)).alias("n_items"),
    )


@query(
    "pareto_frontier_brand",
    oracle="""
SELECT p.p_brand, p.p_partkey,
       CAST(floor(p.p_retailprice * 100) AS BIGINT) AS price_cents,
       p.p_size
FROM part p
WHERE NOT EXISTS (
    SELECT 1 FROM part q
    WHERE q.p_brand = p.p_brand
      AND floor(q.p_retailprice * 100) <= floor(p.p_retailprice * 100)
      AND q.p_size >= p.p_size
      AND (floor(q.p_retailprice * 100) < floor(p.p_retailprice * 100)
           OR q.p_size > p.p_size)
)
""",
)
def pareto_frontier_brand(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skyline / Pareto frontier per brand: parts not dominated by any
    same-brand part that is cheaper-or-equal AND bigger-or-equal
    (strictly better somewhere). The Spark plan is the O(n log n)
    sweep — running max(p_size) over strictly-cheaper rows (numeric
    RANGE window) plus a same-price tie window — NOT the O(n²)
    NOT-EXISTS self-join; the ORACLE deliberately uses the quadratic
    NOT EXISTS formulation, so two independent algorithms must agree.

    Scale shape: one window shuffle keyed by brand. Skylines compose
    (the global skyline is a subset of the union of partition-local
    skylines), so at extreme per-brand cardinality the same sweep runs
    per (brand, hash-shard) first and re-runs on the survivors —
    documented valve, not needed at fixture scale."""
    p = _lt(spark, sf_dir, "part").select(
        "p_brand",
        "p_partkey",
        F.floor(F.col("p_retailprice") * 100).cast("long").alias("price_cents"),
        "p_size",
    )
    w_strict = (
        W.partitionBy("p_brand")
        .orderBy("price_cents")
        .rangeBetween(W.unboundedPreceding, -1)
    )
    w_tie = W.partitionBy("p_brand").orderBy("price_cents").rangeBetween(0, 0)
    flagged = p.select(
        "p_brand",
        "p_partkey",
        "price_cents",
        "p_size",
        F.max("p_size").over(w_strict).alias("max_cheaper"),
        F.max("p_size").over(w_tie).alias("max_tie"),
    )
    dominated = (
        F.coalesce(F.col("max_cheaper") >= F.col("p_size"), F.lit(False))
    ) | (F.col("max_tie") > F.col("p_size"))
    return flagged.filter(~dominated).select(
        "p_brand", "p_partkey", "price_cents", "p_size"
    )


@query(
    "corr_sufficient_stats",
    oracle="""
WITH s AS (
    SELECT l_returnflag,
           count(*) AS n,
           CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sx,
           CAST(sum(CAST(floor(l_extendedprice) AS BIGINT)) AS BIGINT) AS sy,
           CAST(sum(CAST(l_quantity AS BIGINT)
                    * CAST(floor(l_extendedprice) AS BIGINT)) AS BIGINT)
               AS sxy,
           CAST(sum(CAST(l_quantity AS BIGINT)
                    * CAST(l_quantity AS BIGINT)) AS BIGINT) AS sxx,
           CAST(sum(CAST(floor(l_extendedprice) AS BIGINT)
                    * CAST(floor(l_extendedprice) AS BIGINT)) AS BIGINT)
               AS syy
    FROM lineitem GROUP BY l_returnflag
)
SELECT l_returnflag, n, sx, sy,
       CAST(floor(1000000.0
            * (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
               - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
            / sqrt((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                    - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                   * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                      - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))))
            AS BIGINT) AS corr_micro
FROM s
""",
)
def corr_sufficient_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson correlation from INTEGER sufficient statistics
    (n, Σx, Σy, Σxy, Σx², Σy² — quantity units × whole-dollar prices):
    the mergeable-state pattern that makes second-moment statistics
    exact and retry-stable where naive float accumulation is
    fold-order-dependent (the reason builtin corr() is not
    cross-engine hashable). The final formula runs once per group on
    identical integers, so both engines produce bit-identical doubles;
    floor(1e6·corr) avoids the round() boundary-double divergence.

    Scale shape: pure partial-aggregation — six int64 sums per group,
    no shuffle beyond the 3-group rollup. int64 bounds: Σy² ≈ rows·1e10
    stays exact to SF ≈ 1e2; past that, promote the moment sums to
    DECIMAL(38,0) (same plan shape) — documented valve."""
    l = _lt(spark, sf_dir, "lineitem")
    x = F.col("l_quantity").cast("long")
    y = F.floor(F.col("l_extendedprice")).cast("long")
    s = l.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(x).alias("sx"),
        F.sum(y).alias("sy"),
        F.sum(x * y).alias("sxy"),
        F.sum(x * x).alias("sxx"),
        F.sum(y * y).alias("syy"),
    )
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    num = d("n") * d("sxy") - d("sx") * d("sy")
    den = F.sqrt(
        (d("n") * d("sxx") - d("sx") * d("sx"))
        * (d("n") * d("syy") - d("sy") * d("sy"))
    )
    return s.select(
        "l_returnflag",
        "n",
        "sx",
        "sy",
        F.floor(1000000.0 * num / den).cast("long").alias("corr_micro"),
    )


@query(
    "events_funnel_within_24h",
    oracle="""
WITH s AS (
    SELECT user_id, min(ts) AS t0 FROM events
    WHERE event_type = 'signup' GROUP BY user_id
), c AS (
    SELECT e.user_id, min(e.ts) AS t1
    FROM events e JOIN s ON e.user_id = s.user_id
    WHERE e.event_type = 'click' AND e.ts > s.t0
      AND e.ts <= s.t0 + INTERVAL 24 HOUR
    GROUP BY e.user_id
), p AS (
    SELECT e.user_id, min(e.ts) AS t2
    FROM events e JOIN c ON e.user_id = c.user_id
    WHERE e.event_type = 'purchase' AND e.ts > c.t1
      AND e.ts <= c.t1 + INTERVAL 24 HOUR
    GROUP BY e.user_id
)
SELECT (SELECT count(*) FROM s) AS step_signup,
       (SELECT count(*) FROM c) AS step_click_24h,
       (SELECT count(*) FROM p) AS step_purchase_24h
""",
)
def events_funnel_within_24h(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-bounded conversion funnel: each step must happen within 24
    hours of the previous step's first completion — the form product
    teams actually ship (an unbounded funnel overcounts eternal
    laggards). Same three aggregate-then-join rounds as
    events_funnel_steps, all keyed user_id, with the conversion window
    as an extra join-side predicate; the windowing changes NOTHING
    about the scale shape."""
    e = _lt(spark, sf_dir, "events")
    day = F.expr("INTERVAL 24 HOURS")
    s = (
        e.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t0"))
    )
    c = (
        e.filter(F.col("event_type") == "click")
        .join(s, "user_id")
        .filter((F.col("ts") > F.col("t0")) & (F.col("ts") <= F.col("t0") + day))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t1"))
    )
    p = (
        e.filter(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .filter((F.col("ts") > F.col("t1")) & (F.col("ts") <= F.col("t1") + day))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t2"))
    )
    return (
        s.agg(F.count(F.lit(1)).alias("step_signup"))
        .crossJoin(c.agg(F.count(F.lit(1)).alias("step_click_24h")))
        .crossJoin(p.agg(F.count(F.lit(1)).alias("step_purchase_24h")))
    )


@query(
    "triangle_count_brands",
    oracle="""
WITH baskets AS (
    SELECT DISTINCT l.l_orderkey, p.p_brand
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
), pairs AS (
    SELECT a.p_brand AS x, b.p_brand AS y, count(*) AS n_ab
    FROM baskets a JOIN baskets b
      ON a.l_orderkey = b.l_orderkey AND a.p_brand < b.p_brand
    GROUP BY 1, 2
), thresh AS (
    SELECT CAST(count(*) AS BIGINT) AS n_pairs,
           CAST(sum(n_ab) AS BIGINT) AS sum_ab FROM pairs
), edges AS (
    SELECT x, y FROM pairs, thresh WHERE n_pairs * n_ab >= sum_ab
), tri AS (
    SELECT e1.x AS a, e1.y AS b, e2.y AS c
    FROM edges e1
    JOIN edges e2 ON e1.y = e2.x
    JOIN edges e3 ON e3.x = e1.x AND e3.y = e2.y
)
SELECT (SELECT count(*) FROM edges) AS n_edges,
       (SELECT count(*) FROM tri) AS n_triangles
""",
)
def triangle_count_brands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Graph-motif analytics: triangle count over the brand
    co-occurrence graph (edge = brand pair bought together at least
    the mean pair-count — mean-relative because the fixture is uniform
    and fixed thresholds collapse across SFs). Canonical a<b<c
    orientation makes each triangle count exactly once via two
    edge-keyed equi-joins.

    Scale: the graph is brand-cardinality-sized (≤300 edges at any SF)
    — the heavy lifting is the basket aggregation, shared with
    market_basket_lift. On a large vertex set the same plan holds
    after degree-ordering each edge (low-degree endpoint first), the
    standard bound on the e1⋈e2 wedge explosion."""
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
        .groupBy(
            F.col("a.p_brand").alias("x"), F.col("b.p_brand").alias("y")
        )
        .agg(F.count(F.lit(1)).alias("n_ab"))
    )
    # Integer-exact mean threshold (ADVICE r8 #4 applied graph-wide):
    # count(*)*n_ab >= sum(n_ab) is avg-threshold in exact int64.
    thresh = pairs.agg(
        F.count(F.lit(1)).alias("n_pairs"), F.sum("n_ab").alias("sum_ab")
    )
    edges = (
        pairs.crossJoin(F.broadcast(thresh))
        .filter(F.col("n_pairs") * F.col("n_ab") >= F.col("sum_ab"))
        .select("x", "y")
    )
    e1 = edges.alias("e1")
    e2 = edges.alias("e2")
    e3 = edges.alias("e3")
    tri = (
        e1.join(e2, F.col("e1.y") == F.col("e2.x"))
        .join(
            e3,
            (F.col("e3.x") == F.col("e1.x")) & (F.col("e3.y") == F.col("e2.y")),
        )
    )
    return (
        edges.agg(F.count(F.lit(1)).alias("n_edges"))
        .crossJoin(tri.agg(F.count(F.lit(1)).alias("n_triangles")))
    )


@query(
    "pagerank_two_iters",
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
edges AS (
    SELECT x AS src, y AS dst FROM pairs, thresh
    WHERE n_pairs * n_ab >= sum_ab
    UNION ALL
    SELECT y AS src, x AS dst FROM pairs, thresh
    WHERE n_pairs * n_ab >= sum_ab
), nodes AS (SELECT DISTINCT src AS node FROM edges),
deg AS (SELECT src AS node, count(*) AS d FROM edges GROUP BY src),
nn AS (SELECT count(*) AS n FROM nodes),
r0 AS (
    SELECT node, CAST(1000000000000 // n AS BIGINT) AS r FROM nodes, nn
), r1 AS (
    SELECT e.dst AS node,
           CAST(1000000000000 * 15 // 100 // nn.n
                + 85 * sum(r0.r // deg.d) // 100 AS BIGINT) AS r
    FROM edges e
    JOIN r0 ON r0.node = e.src
    JOIN deg ON deg.node = e.src
    CROSS JOIN nn
    GROUP BY e.dst, nn.n
), r2 AS (
    SELECT e.dst AS node,
           CAST(1000000000000 * 15 // 100 // nn.n
                + 85 * sum(r1.r // deg.d) // 100 AS BIGINT) AS r
    FROM edges e
    JOIN r1 ON r1.node = e.src
    JOIN deg ON deg.node = e.src
    CROSS JOIN nn
    GROUP BY e.dst, nn.n
)
SELECT r2.node AS brand, r2.r AS rank_fp, CAST(deg.d AS BIGINT) AS degree
FROM r2 JOIN deg ON deg.node = r2.node
""",
)
def pagerank_two_iters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank, two exact iterations over the brand co-occurrence
    graph — the iterative-graph-algorithm pattern with a hash-exact
    oracle. Ranks live in 1e12 fixed point; every step is positive-
    integer arithmetic (floor division is identical in both engines on
    positive operands), so there is no float drift for the hash to
    trip on. Damping 0.85, uniform teleport.

    Scale shape per iteration: one join of the edge list with the
    current rank vector (both keyed on the source node), one dst-keyed
    aggregation — the standard message-passing round. Iterations chain
    lazily; at web scale the same loop runs with the rank vector
    checkpointed per round and AQE handling the power-law skew (the
    salting valve in operators/skew.py applies to hub nodes). The
    fixture graph is brand-sized; the heavy work is the shared basket
    aggregation."""
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
    # Integer-exact mean threshold (ADVICE r8 #4 applied graph-wide).
    thresh = pairs.agg(
        F.count(F.lit(1)).alias("n_pairs"), F.sum("n_ab").alias("sum_ab")
    )
    und = pairs.crossJoin(F.broadcast(thresh)).filter(
        F.col("n_pairs") * F.col("n_ab") >= F.col("sum_ab")
    )
    edges = und.select(F.col("x").alias("src"), F.col("y").alias("dst")).unionByName(
        und.select(F.col("y").alias("src"), F.col("x").alias("dst"))
    )
    deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("d"))
    n_nodes = deg.agg(F.count(F.lit(1)).alias("n"))
    r = deg.crossJoin(F.broadcast(n_nodes)).select(
        F.col("src").alias("node"),
        F.expr("1000000000000 div n").alias("r"),
    )

    def step(rank: DataFrame) -> DataFrame:
        contrib = (
            edges.join(rank.withColumnRenamed("node", "src"), "src")
            .join(deg, "src")
            .select("dst", F.expr("r div d").alias("c"))
            .groupBy("dst")
            .agg(F.sum("c").alias("sc"))
        )
        return (
            contrib.crossJoin(F.broadcast(n_nodes))
            .select(
                F.col("dst").alias("node"),
                F.expr("1000000000000 * 15 div 100 div n + 85 * sc div 100").alias(
                    "r"
                ),
            )
        )

    r2 = step(step(r))
    return (
        r2.join(deg.withColumnRenamed("src", "node"), "node")
        .select(
            F.col("node").alias("brand"),
            F.col("r").alias("rank_fp"),
            F.col("d").alias("degree"),
        )
    )


@query(
    "logistic_newton_step",
    oracle="""
WITH s AS (
    SELECT o_orderstatus,
           count(*) AS n,
           CAST(sum(CASE WHEN o_orderpriority = '1-URGENT'
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_pos,
           CAST(sum(CAST(floor(o_totalprice / 1000) AS BIGINT)) AS BIGINT)
               AS sx,
           CAST(sum(CAST(floor(o_totalprice / 1000) AS BIGINT)
                    * CAST(floor(o_totalprice / 1000) AS BIGINT)) AS BIGINT)
               AS sxx,
           CAST(sum(CASE WHEN o_orderpriority = '1-URGENT'
                         THEN 1 ELSE -1 END) AS BIGINT) AS s1,
           CAST(sum(CAST(floor(o_totalprice / 1000) AS BIGINT)
                    * CASE WHEN o_orderpriority = '1-URGENT'
                           THEN 1 ELSE -1 END) AS BIGINT) AS sx1
    FROM orders GROUP BY o_orderstatus
)
SELECT o_orderstatus, n, n_pos,
       CAST(floor(1000000.0
            * 2.0 * (CAST(sxx AS DOUBLE) * CAST(s1 AS DOUBLE)
                     - CAST(sx AS DOUBLE) * CAST(sx1 AS DOUBLE))
            / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
               - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))) AS BIGINT)
           AS beta0_micro,
       CAST(floor(1000000.0
            * 2.0 * (CAST(n AS DOUBLE) * CAST(sx1 AS DOUBLE)
                     - CAST(sx AS DOUBLE) * CAST(s1 AS DOUBLE))
            / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
               - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))) AS BIGINT)
           AS beta1_micro
FROM s
""",
)
def logistic_newton_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One exact Newton-Raphson step of logistic regression
    (urgent-priority ~ order value, per order status), from β = 0.
    At β = 0 every fitted probability is exactly ½, so the Hessian is
    ¼·X'X and the gradient ½·X'(2y−1) — both pure INTEGER sufficient
    statistics; the closed-form 2×2 solve is one double expression
    over exact ints, identical in both engines (same pattern as
    corr_sufficient_stats, extended from moments to an actual model
    update). β_micro floors avoid round()'s boundary divergence.

    This is the distributed-GLM iteration shape: each Newton step is
    ONE partial-aggregated scan collecting {n, Σx, Σx², Σ(2y−1),
    Σx(2y−1)} per group, a model-sized solve, repeat — exactly how
    IRLS runs on 100 TB (later steps weight the same sums by p(1−p)
    computed scan-side from the broadcast β). int64 bound: Σx² ≈
    rows·(totalprice/1000)² stays exact past SF 100; the DOUBLE
    conversion keeps determinism regardless."""
    o = _lt(spark, sf_dir, "orders")
    x = F.floor(F.col("o_totalprice") / 1000).cast("long")
    ypm = F.when(F.col("o_orderpriority") == "1-URGENT", 1).otherwise(-1)
    s = o.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(
            F.when(F.col("o_orderpriority") == "1-URGENT", 1).otherwise(0)
        ).alias("n_pos"),
        F.sum(x).alias("sx"),
        F.sum(x * x).alias("sxx"),
        F.sum(ypm).alias("s1"),
        F.sum(x * ypm).alias("sx1"),
    )
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    det = d("n") * d("sxx") - d("sx") * d("sx")
    b0 = 2.0 * (d("sxx") * d("s1") - d("sx") * d("sx1")) / det
    b1 = 2.0 * (d("n") * d("sx1") - d("sx") * d("s1")) / det
    return s.select(
        "o_orderstatus",
        "n",
        "n_pos",
        F.floor(1000000.0 * b0).cast("long").alias("beta0_micro"),
        F.floor(1000000.0 * b1).cast("long").alias("beta1_micro"),
    )


@query(
    "point_in_time_features",
    oracle="""
WITH p AS (
    SELECT user_id, event_id AS label_id, ts,
           CAST(floor(value * 100) AS BIGINT) AS v
    FROM events WHERE event_type = 'purchase'
), f2 AS (
    SELECT user_id, label_id, ts,
           count(*) OVER wprev AS prior_n,
           CAST(coalesce(sum(v) OVER wprev, 0) AS BIGINT)
               AS prior_spend_cents
    FROM p
    WINDOW wprev AS (PARTITION BY user_id ORDER BY ts, label_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
), c AS (
    SELECT user_id, ts, event_id,
           CAST(floor(value * 100) AS BIGINT) AS cc
    FROM events WHERE event_type = 'click'
), f1 AS (
    SELECT label_id, cc FROM (
        SELECT f2.label_id, c.cc,
               row_number() OVER (PARTITION BY f2.label_id
                                  ORDER BY c.ts DESC, c.event_id DESC) AS rn
        FROM f2 JOIN c ON c.user_id = f2.user_id AND c.ts <= f2.ts)
    WHERE rn = 1
)
SELECT f2.user_id, f2.label_id, f2.prior_n, f2.prior_spend_cents,
       f1.cc AS last_click_cents
FROM f2 LEFT JOIN f1 USING (label_id)
""",
)
def point_in_time_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature-store point-in-time training-set assembly: for every
    purchase (the label spine), gather features AS OF that instant —
    the customer's prior purchase count/spend (window, unbounded→−1
    frame: never sees the label row or the future) and the last click
    value at-or-before the label (backward as-of join). This is THE
    leakage-safe construction every ML training pipeline needs; doing
    it with a plain join-and-filter silently leaks future data.

    Scale shape: the prior-spend window and the as-of join both key on
    user_id — one data-scaling shuffle key end to end; the as-of leg
    is the union+window plan (operators/asof.py), never a range-join
    explosion. Adding more feature tables = more as-of legs on the
    same key."""
    from dist_keras_spark.operators.asof import asof_join

    e = _lt(spark, sf_dir, "events")
    cents = F.floor(F.col("value") * 100).cast("long")
    p = e.filter(F.col("event_type") == "purchase").select(
        "user_id",
        F.col("event_id").alias("label_id"),
        "ts",
        cents.alias("v"),
    )
    wprev = (
        W.partitionBy("user_id")
        .orderBy("ts", "label_id")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    f2 = p.select(
        "user_id",
        "label_id",
        "ts",
        F.count(F.lit(1)).over(wprev).alias("prior_n"),
        F.coalesce(F.sum("v").over(wprev), F.lit(0)).alias("prior_spend_cents"),
    )
    clicks = e.filter(F.col("event_type") == "click").select(
        "user_id",
        F.col("ts").alias("c_ts"),
        "event_id",
        cents.alias("last_click_cents"),
    )
    out = asof_join(
        f2,
        clicks,
        key="user_id",
        left_ts="ts",
        right_ts="c_ts",
        value_cols=["last_click_cents"],
        how="left",
        tiebreak="event_id",
    )
    return out.select(
        "user_id", "label_id", "prior_n", "prior_spend_cents", "last_click_cents"
    )


@query(
    "events_cohort_ltv_triangle",
    oracle="""
WITH first_seen AS (
    SELECT user_id,
           CAST(date_trunc('week', min(ts)) AS DATE) AS cohort_week
    FROM events GROUP BY user_id
), spend AS (
    SELECT f.cohort_week,
           CAST(date_diff('week',
                          f.cohort_week,
                          CAST(date_trunc('week', e.ts) AS DATE)) AS INT)
               AS age_weeks,
           CAST(sum(CAST(floor(e.value * 100) AS BIGINT)) AS BIGINT)
               AS week_cents,
           count(DISTINCT e.user_id) AS n_active
    FROM events e JOIN first_seen f ON e.user_id = f.user_id
    WHERE e.event_type = 'purchase'
    GROUP BY 1, 2
)
SELECT cohort_week, age_weeks, n_active, week_cents,
       CAST(sum(week_cents) OVER (
           PARTITION BY cohort_week ORDER BY age_weeks
           ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_cents
FROM spend
""",
)
def events_cohort_ltv_triangle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The cohort-LTV triangle: users grouped by first-seen week, each
    cohort's purchase revenue accumulated by age-in-weeks — the
    standard growth-accounting artifact (rows = cohorts, columns =
    ages, values = cumulative spend). Week buckets and the week
    difference are computed identically on both engines via
    date_trunc('week') (both ISO-Monday).

    Scale shape: first-seen is one user-keyed aggregate; the spend
    aggregate is keyed (cohort, age) — an SF-INVARIANT grid (weeks ×
    weeks), so the cumulative window runs over dim-sized input. The
    only data-sized work is the two keyed scans."""
    e = _lt(spark, sf_dir, "events")
    first_seen = e.groupBy("user_id").agg(
        trunc("week", F.min("ts")).cast("date").alias("cohort_week")
    )
    spend = (
        e.filter(F.col("event_type") == "purchase")
        .join(first_seen, "user_id")
        .groupBy(
            "cohort_week",
            (
                F.datediff(
                    trunc("week", "ts").cast("date"), F.col("cohort_week")
                )
                / 7
            )
            .cast("int")
            .alias("age_weeks"),
        )
        .agg(
            F.sum(F.floor(F.col("value") * 100).cast("long")).alias("week_cents"),
            F.countDistinct("user_id").alias("n_active"),
        )
    )
    w = (
        W.partitionBy("cohort_week")
        .orderBy("age_weeks")
        .rowsBetween(W.unboundedPreceding, 0)
    )
    return spend.select(
        "cohort_week",
        "age_weeks",
        "n_active",
        "week_cents",
        F.sum("week_cents").over(w).alias("cum_cents"),
    )
