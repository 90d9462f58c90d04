"""Relational core queries over the TPC-H-ish fixture star schema.

These exercise scans (SURVEY.md §2.A), filters/projections (§2.B),
joins (§2.C), aggregations (§2.D) and sorts (§2.F) as single Catalyst
plans. The reference engine had no relational surface at all — its
pipelines were single-table RDD maps — so every query here is ENG
surface per SURVEY.md §2.C/§2.D provenance.

Scale notes (100 TB posture):
  - Only SF-invariant dimensions (region 5 rows, nation 25, supplier)
    carry explicit broadcast hints. customer / orders / part scale
    linearly with SF, so their joins carry NO hint: AQE converts them
    to broadcast joins at small SF from observed sizes and keeps them
    as shuffle joins at 100 TB, where broadcasting them would OOM every
    executor.
  - Aggregates are expressed as built-in hash aggregates → Spark plans
    partial (map-side) + final aggregation automatically; no Python.
  - Float sums are rounded to 2dp *in the plan* only because the
    DuckDB-oracle hash comparison demands cross-engine bit equality
    (SURVEY.md §7.2); at scale you'd drop the round.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dist_keras_spark.plans.registry import query
from dist_keras_spark.sources.tables import load_table


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


# ---------------------------------------------------------------------------
# Flagship (M0): revenue by nation — scan → filter → 3 joins → agg → sort.
# ---------------------------------------------------------------------------

REVENUE_BY_NATION_ORACLE = """
SELECT
    n_name,
    round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
    count(*) AS n_items
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation   ON c_nationkey = n_nationkey
WHERE l_shipdate >= TIMESTAMP '1995-01-01'
GROUP BY n_name
ORDER BY revenue DESC, n_name
"""


@query("revenue_by_nation", oracle=REVENUE_BY_NATION_ORACLE)
def revenue_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lineitem ⋈ orders ⋈ customer ⋈ nation, filtered, grouped, sorted.

    Plan shape: the l_shipdate predicate pushes into the parquet scan;
    nation (25 rows, SF-invariant) joins broadcast. customer and orders
    scale with SF, so they carry NO broadcast hint — at small SF the AQE
    runtime planner converts them to broadcast joins on observed size;
    at 100 TB they become shuffle joins, which is the only plan that
    fits. The final shuffle is the hash aggregation on n_name (25
    groups).
    """
    lineitem = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    customer = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")

    return (
        lineitem.filter(F.col("l_shipdate") >= F.lit("1995-01-01").cast("timestamp_ntz"))
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(customer, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("n_name")
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
                "revenue"
            ),
            F.count(F.lit(1)).alias("n_items"),
        )
        .orderBy(F.col("revenue").desc(), F.col("n_name"))
    )


# ---------------------------------------------------------------------------
# Q5-style: the full 6-table star join (deepest plan in the suite).
# ---------------------------------------------------------------------------


@query(
    "tpch_q5_local_supplier",
    oracle="""
SELECT n_name, round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
FROM region
JOIN nation   ON n_regionkey = r_regionkey
JOIN customer ON c_nationkey = n_nationkey
JOIN orders   ON o_custkey = c_custkey
JOIN lineitem ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey AND s_nationkey = c_nationkey
WHERE r_name IN ('ASIA', 'EUROPE')
  AND o_orderdate >= TIMESTAMP '1996-01-01'
GROUP BY n_name
ORDER BY revenue DESC, n_name
""",
)
def tpch_q5_local_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: 6-table join where supplier and customer must
    share a nation. Only the truly SF-invariant dims (region 5 rows,
    nation 25) carry broadcast hints. supplier, like customer and
    orders, scales linearly with SF (SF·10k rows — at 100 TB lineitem
    ≈ SF 1e5 that's ~1e9 rows, hundreds of GB), so it must NOT be
    hint-broadcast: AQE already broadcasts it at any SF where its
    observed size fits, and the hint only removes that safety net.
    lineitem is scanned once with the orderdate filter reducing the
    orders side first."""
    region = _t(spark, sf_dir, "region").filter(F.col("r_name").isin("ASIA", "EUROPE"))
    nation = _t(spark, sf_dir, "nation")
    customer = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp_ntz")
    )
    lineitem = _t(spark, sf_dir, "lineitem")
    supplier = _t(spark, sf_dir, "supplier")
    return (
        lineitem.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(customer, F.col("o_custkey") == F.col("c_custkey"))
        .join(
            supplier,
            (F.col("l_suppkey") == F.col("s_suppkey"))
            & (F.col("s_nationkey") == F.col("c_nationkey")),
        )
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy("n_name")
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
                "revenue"
            )
        )
        .orderBy(F.col("revenue").desc(), "n_name")
    )


@query(
    "tpch_q6_revenue_forecast",
    oracle="""
SELECT round(sum(l_extendedprice * l_discount), 2) AS revenue
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01'
  AND l_shipdate < TIMESTAMP '1997-01-01'
  AND l_discount BETWEEN 0.03 AND 0.07
  AND l_quantity < 24
""",
)
def tpch_q6_revenue_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6: pure scan-side predicates + single global aggregate —
    the canonical pushdown benchmark (all four filters reach parquet)."""
    li = _t(spark, sf_dir, "lineitem")
    return li.filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp_ntz"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp_ntz"))
        & F.col("l_discount").between(0.03, 0.07)
        & (F.col("l_quantity") < 24)
    ).agg(
        F.round(F.sum(F.col("l_extendedprice") * F.col("l_discount")), 2).alias("revenue")
    )


@query(
    "tpch_q10_returned_items",
    oracle="""
SELECT c_custkey, c_name, n_name,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
FROM customer
JOIN orders   ON o_custkey = c_custkey
JOIN lineitem ON l_orderkey = o_orderkey
JOIN nation   ON c_nationkey = n_nationkey
WHERE l_returnflag = 'R'
GROUP BY c_custkey, c_name, n_name
ORDER BY revenue DESC, c_custkey
LIMIT 20
""",
)
def tpch_q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape: returned-item revenue per customer, top 20 —
    grouped on a high-cardinality composite key then TakeOrdered.
    customer scales with SF → no broadcast hint (AQE decides);
    nation is SF-invariant → broadcast."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    n = _t(spark, sf_dir, "nation")
    return (
        li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(c, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
                "revenue"
            )
        )
        .orderBy(F.col("revenue").desc(), "c_custkey")
        .limit(20)
    )


@query(
    "agg_having",
    oracle="""
SELECT o_orderpriority, count(*) AS n
FROM orders
GROUP BY o_orderpriority
HAVING count(*) > 100 AND avg(o_totalprice) > 50000
""",
)
def agg_having(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUP BY + HAVING (post-aggregation predicate)."""
    o = _t(spark, sf_dir, "orders")
    return (
        o.groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n"), F.avg("o_totalprice").alias("__avg"))
        .filter((F.col("n") > 100) & (F.col("__avg") > 50000))
        .drop("__avg")
    )


_EXISTS_SQL = """
SELECT p_partkey, p_name
FROM part p
WHERE EXISTS (SELECT 1 FROM lineitem l
              WHERE l.l_partkey = p.p_partkey AND l.l_quantity > 45)
ORDER BY p_partkey
"""


@query("sql_correlated_exists", oracle=_EXISTS_SQL)
def sql_correlated_exists(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§4.2 subquery decorrelation: a correlated EXISTS submitted as SQL
    text — Catalyst rewrites it to a left-semi join (same text runs on
    DuckDB as the oracle)."""
    from dist_keras_spark.sources.tables import register_views

    register_views(spark, sf_dir, ("part", "lineitem"))
    return spark.sql(_EXISTS_SQL)


_Q18_SQL = """
SELECT c_custkey, o_orderkey, round(o_totalprice, 2) AS totalprice, qty
FROM customer
JOIN orders ON o_custkey = c_custkey
JOIN (SELECT l_orderkey, CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty
      FROM lineitem GROUP BY l_orderkey) big
  ON big.l_orderkey = o_orderkey
WHERE big.qty > 140
ORDER BY totalprice DESC, o_orderkey
LIMIT 50
"""


@query("tpch_q18_large_orders", oracle=_Q18_SQL)
def tpch_q18_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape: orders whose total quantity exceeds a threshold
    — aggregate-then-join (the aggregate side shrinks before the join,
    the order that matters at scale)."""
    from dist_keras_spark.sources.tables import register_views

    register_views(spark, sf_dir, ("customer", "orders", "lineitem"))
    return spark.sql(_Q18_SQL)


@query(
    "sql_correlated_min",
    oracle="""
SELECT l_orderkey, l_linenumber, round(l_extendedprice, 2) AS price
FROM lineitem l1
WHERE l_extendedprice = (SELECT min(l_extendedprice) FROM lineitem l2
                         WHERE l2.l_orderkey = l1.l_orderkey)
ORDER BY l_orderkey, l_linenumber
""",
)
def sql_correlated_min(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape: correlated scalar aggregate subquery (cheapest
    line per order) — Catalyst decorrelates it to an aggregate+join."""
    from dist_keras_spark.sources.tables import register_views

    register_views(spark, sf_dir, ("lineitem",))
    return spark.sql(
        """
SELECT l_orderkey, l_linenumber, round(l_extendedprice, 2) AS price
FROM lineitem l1
WHERE l_extendedprice = (SELECT min(l_extendedprice) FROM lineitem l2
                         WHERE l2.l_orderkey = l1.l_orderkey)
ORDER BY l_orderkey, l_linenumber
"""
    )


_Q15_SQL = """
WITH revenue AS (
    SELECT l_suppkey AS supplier_no,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS total_revenue
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate < TIMESTAMP '1996-04-01'
    GROUP BY l_suppkey
)
SELECT s_suppkey, s_name, total_revenue
FROM supplier JOIN revenue ON s_suppkey = supplier_no
WHERE total_revenue = (SELECT max(total_revenue) FROM revenue)
ORDER BY s_suppkey
"""


@query("tpch_q15_top_supplier", oracle=_Q15_SQL)
def tpch_q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 shape: CTE 'view' referenced twice (revenue + its max)
    — Catalyst materializes the scalar max as a subquery over the same
    aggregate."""
    from dist_keras_spark.sources.tables import register_views

    register_views(spark, sf_dir, ("supplier", "lineitem"))
    return spark.sql(_Q15_SQL)


_Q21_SQL = """
SELECT s_name, count(*) AS numwait
FROM supplier
JOIN lineitem l1 ON s_suppkey = l1.l_suppkey
JOIN orders ON o_orderkey = l1.l_orderkey
WHERE o_orderstatus = 'F'
  AND EXISTS (SELECT 1 FROM lineitem l2
              WHERE l2.l_orderkey = l1.l_orderkey
                AND l2.l_suppkey <> l1.l_suppkey)
  AND NOT EXISTS (SELECT 1 FROM lineitem l3
                  WHERE l3.l_orderkey = l1.l_orderkey
                    AND l3.l_suppkey <> l1.l_suppkey
                    AND l3.l_linenumber > l1.l_linenumber)
GROUP BY s_name
ORDER BY numwait DESC, s_name
"""


@query("tpch_q21_waiting_supplier", oracle=_Q21_SQL)
def tpch_q21_waiting_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape: EXISTS + NOT EXISTS on the same fact —
    decorrelates to a left-semi and a left-anti join stacked on one
    scan."""
    from dist_keras_spark.sources.tables import register_views

    register_views(spark, sf_dir, ("supplier", "lineitem", "orders"))
    return spark.sql(_Q21_SQL)


_SCALAR_SUBQ_SQL = """
SELECT c_custkey, round(c_acctbal, 2) AS acctbal
FROM customer
WHERE c_acctbal > (SELECT avg(c_acctbal) * 1.5 FROM customer)
ORDER BY c_custkey
"""


@query("sql_scalar_subquery", oracle=_SCALAR_SUBQ_SQL)
def sql_scalar_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§4.2 scalar-subquery handling: customers 50% above the mean
    balance — the scalar aggregate plans as a separate tiny job whose
    result folds into the main scan's filter."""
    from dist_keras_spark.sources.tables import register_views

    register_views(spark, sf_dir, ("customer",))
    return spark.sql(_SCALAR_SUBQ_SQL)


# ---------------------------------------------------------------------------
# Q1-style pricing summary: the canonical multi-aggregate hash agg.
# ---------------------------------------------------------------------------


@query(
    "pricing_summary",
    oracle="""
SELECT
    l_returnflag,
    l_linestatus,
    round(sum(l_quantity), 2)                                      AS sum_qty,
    round(sum(l_extendedprice), 2)                                 AS sum_base_price,
    round(sum(l_extendedprice * (1 - l_discount)), 2)              AS sum_disc_price,
    round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2) AS sum_charge,
    round(avg(l_quantity), 4)                                      AS avg_qty,
    round(avg(l_extendedprice), 4)                                 AS avg_price,
    round(avg(l_discount), 4)                                      AS avg_disc,
    count(*)                                                       AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02'
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
""",
)
def pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape: single scan, pushed filter, 8-way hash aggregate.

    Whole plan stays in whole-stage codegen; partial aggregation on the
    map side means the shuffle carries ~|groups|×|partitions| rows only.
    """
    li = _t(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp_ntz"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(disc_price), 2).alias("sum_disc_price"),
            F.round(F.sum(disc_price * (1 + F.col("l_tax"))), 2).alias("sum_charge"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 4).alias("avg_price"),
            F.round(F.avg("l_discount"), 4).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


_Q4_SQL = """
SELECT o_orderpriority, count(*) AS order_count
FROM orders o
WHERE o.o_orderdate >= TIMESTAMP '1996-01-01'
  AND o.o_orderdate < TIMESTAMP '1997-01-01'
  AND EXISTS (SELECT 1 FROM lineitem l
              WHERE l.l_orderkey = o.o_orderkey
                AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAYS)
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""


@query("tpch_q4_order_priority", oracle=_Q4_SQL)
def tpch_q4_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape (§4.2 decorrelation): correlated EXISTS with a
    RANGE predicate on the outer column (l_shipdate > o_orderdate + 60
    days — the fixture has no commit/receipt dates, so "late shipment"
    stands in for "late commit"). Catalyst decorrelates to a left-semi
    join; the identical text runs on DuckDB as the oracle.

    Scale: the date filter prunes orders at the scan; the semi join
    shuffles on l_orderkey/o_orderkey and carries only the join key +
    the two compared columns — no payload."""
    from dist_keras_spark.sources.tables import register_views

    register_views(spark, sf_dir, ("orders", "lineitem"))
    return spark.sql(_Q4_SQL)


_Q16_SQL = """
SELECT p_brand, p_size, count(DISTINCT l_suppkey) AS supplier_cnt
FROM part
JOIN lineitem ON l_partkey = p_partkey
WHERE p_brand <> 'Brand#45'
  AND p_size IN (1, 4, 7)
  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
GROUP BY p_brand, p_size
ORDER BY supplier_cnt DESC, p_brand, p_size
"""


@query("tpch_q16_supplier_cnt", oracle=_Q16_SQL)
def tpch_q16_supplier_cnt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape: NOT IN subquery (→ null-aware anti join) +
    count(DISTINCT) over a selective dimension filter (the fixture has
    no partsupp, so lineitem supplies the part↔supplier pairs and
    s_acctbal < 0 stands in for the complaints predicate).

    Scale: p_size IN (1,4,7) + brand filter prune part at the scan
    (~6% selectivity); the excluded-supplier set is tiny and
    broadcast; the distinct-agg shuffles (brand, size, suppkey) only."""
    from dist_keras_spark.sources.tables import register_views

    register_views(spark, sf_dir, ("part", "lineitem", "supplier"))
    return spark.sql(_Q16_SQL)


@query(
    "tpch_q14_promo_revenue",
    oracle="""
SELECT round(100.00 * sum(CASE WHEN p_type = 'PROMO'
                               THEN l_extendedprice * (1 - l_discount)
                               ELSE 0 END)
             / sum(l_extendedprice * (1 - l_discount)), 4) AS promo_revenue
FROM lineitem
JOIN part ON l_partkey = p_partkey
WHERE l_shipdate >= TIMESTAMP '1996-01-01'
  AND l_shipdate < TIMESTAMP '1996-04-01'
""",
)
def tpch_q14_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape: conditional (CASE) aggregation over a
    fact⋈dim join — promo revenue share in a shipdate window.

    Scale: shipdate range pushes to the lineitem scan; part joins
    without a hint (scales with SF — AQE broadcasts when it fits);
    the CASE folds into the partial aggregate, so one shuffle of two
    partial sums, one output row."""
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1996-01-01") & (F.col("l_shipdate") < "1996-04-01")
    )
    p = _t(spark, sf_dir, "part")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(p, li.l_partkey == p.p_partkey)
        .agg(
            F.round(
                100.0
                * F.sum(F.when(F.col("p_type") == "PROMO", rev).otherwise(0.0))
                / F.sum(rev),
                4,
            ).alias("promo_revenue")
        )
    )


_Q13_SQL = """
SELECT c_count, count(*) AS custdist
FROM (SELECT c.c_custkey, count(o.o_orderkey) AS c_count
      FROM customer c
      LEFT OUTER JOIN orders o
        ON c.c_custkey = o.o_custkey AND o.o_orderpriority <> '1-URGENT'
      GROUP BY c.c_custkey) c_orders
GROUP BY c_count
ORDER BY custdist DESC, c_count DESC
"""


@query("tpch_q13_customer_distribution", oracle=_Q13_SQL)
def tpch_q13_customer_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape: LEFT OUTER join with an extra join-side
    predicate (kept in the ON clause — moving it to WHERE would turn
    the outer join inner and lose zero-order customers), then a
    two-level aggregation (orders per customer → customers per count).

    Scale: both aggregations are partial+final hash aggregates; the
    outer join shuffles on custkey; the second groupBy's key space is
    tiny (distinct order counts)."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    per_cust = (
        c.join(
            o,
            (c.c_custkey == o.o_custkey) & (o.o_orderpriority != "1-URGENT"),
            "left_outer",
        )
        .groupBy(c.c_custkey)
        .agg(F.count(o.o_orderkey).alias("c_count"))
    )
    return (
        per_cust.groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
        .orderBy(F.col("custdist").desc(), F.col("c_count").desc())
    )
