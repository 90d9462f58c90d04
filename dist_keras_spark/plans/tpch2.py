"""Second TPC-H batch (Q7 / Q8 / Q17 / Q19 / Q22 shapes), adapted to
the fixture's columns. Registered AFTER the curated first-50 window
(plans/__init__.py import order) so round 2's driver coverage is
untouched; these rotate in next round. All hash-verified locally via
tools/verify_local.py at sf0.01 and sf0.1.

Like plans/tpch.py these exist to prove distinctive optimizer shapes:
two-sided dimension chains (Q7), a 7-table conditional-share join
(Q8), correlated scalar aggregates (Q17), disjunctive multi-column
predicates (Q19), and scalar-subquery + anti-join combination (Q22).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dist_keras_spark.plans.registry import query
from dist_keras_spark.sources.tables import load_table


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


_Q7_SQL = """
SELECT supp_nation, cust_nation, l_year,
       round(sum(volume), 2) AS revenue
FROM (SELECT n1.n_name AS supp_nation,
             n2.n_name AS cust_nation,
             CAST(year(l.l_shipdate) AS INT) AS l_year,
             l.l_extendedprice * (1 - l.l_discount) AS volume
      FROM lineitem l
      JOIN supplier s ON s.s_suppkey = l.l_suppkey
      JOIN orders o   ON o.o_orderkey = l.l_orderkey
      JOIN customer c ON c.c_custkey = o.o_custkey
      JOIN nation n1  ON n1.n_nationkey = s.s_nationkey
      JOIN nation n2  ON n2.n_nationkey = c.c_nationkey
      WHERE ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
          OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))) shipping
GROUP BY supp_nation, cust_nation, l_year
ORDER BY supp_nation, cust_nation, l_year
"""


@query("tpch_q7_nation_volume", oracle=_Q7_SQL)
def tpch_q7_nation_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape: revenue between a nation PAIR by year — the
    supplier-side and customer-side dimension chains meet at lineitem.

    Scale: nation joins broadcast (hinted, SF-invariant); supplier/
    customer/orders join hint-free; the pair filter prunes after the
    (broadcast) nation joins so only matching rows reach the agg."""
    li, s, o, c = (
        _t(spark, sf_dir, "lineitem"),
        _t(spark, sf_dir, "supplier"),
        _t(spark, sf_dir, "orders"),
        _t(spark, sf_dir, "customer"),
    )
    n1 = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation")
    )
    n2 = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("cust_nation")
    )
    pair = (
        (F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2")
    ) | ((F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1"))
    return (
        li.join(s, li.l_suppkey == s.s_suppkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("n1_key"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("n2_key"))
        .filter(pair)
        .withColumn("l_year", F.year("l_shipdate").cast("int"))
        .groupBy("supp_nation", "cust_nation", "l_year")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
        .orderBy("supp_nation", "cust_nation", "l_year")
    )


_Q17_SQL = """
SELECT round(sum(l_extendedprice) / 7.0, 2) AS avg_yearly
FROM lineitem l
JOIN part p ON p.p_partkey = l.l_partkey
WHERE p.p_brand = 'Brand#1'
  AND l.l_quantity < (SELECT 0.5 * avg(l2.l_quantity)
                      FROM lineitem l2
                      WHERE l2.l_partkey = p.p_partkey)
"""


@query("tpch_q17_small_quantity", oracle=_Q17_SQL)
def tpch_q17_small_quantity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape: correlated scalar AGGREGATE subquery — revenue
    of orders below half the part's average quantity. Submitted as SQL
    text; Catalyst decorrelates the per-part average into an aggregate
    + join (one pass over lineitem for the averages, no per-row
    re-execution), which is the only viable plan at 100 TB."""
    from dist_keras_spark.sources.tables import register_views

    register_views(spark, sf_dir, ("lineitem", "part"))
    return spark.sql(_Q17_SQL)


_Q19_SQL = """
SELECT round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
FROM lineitem l
JOIN part p ON p.p_partkey = l.l_partkey
WHERE (p.p_brand = 'Brand#1' AND p.p_size BETWEEN 1 AND 10
       AND l.l_quantity >= 1 AND l.l_quantity <= 20)
   OR (p.p_brand = 'Brand#2' AND p.p_size BETWEEN 5 AND 20
       AND l.l_quantity >= 10 AND l.l_quantity <= 30)
   OR (p.p_brand = 'Brand#3' AND p.p_size BETWEEN 10 AND 40
       AND l.l_quantity >= 20 AND l.l_quantity <= 40)
"""


@query("tpch_q19_disjunctive", oracle=_Q19_SQL)
def tpch_q19_disjunctive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape: three OR'd conjunctions mixing columns from
    both join sides. Catalyst extracts the common join key and pushes
    the single-side disjuncts (brand/size to the part scan, quantity
    to lineitem) while the cross-side residual evaluates post-join —
    the pattern naive planners turn into a cartesian filter."""
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part")
    j = li.join(p, li.l_partkey == p.p_partkey)
    c1 = (
        (F.col("p_brand") == "Brand#1")
        & F.col("p_size").between(1, 10)
        & F.col("l_quantity").between(1, 20)
    )
    c2 = (
        (F.col("p_brand") == "Brand#2")
        & F.col("p_size").between(5, 20)
        & F.col("l_quantity").between(10, 30)
    )
    c3 = (
        (F.col("p_brand") == "Brand#3")
        & F.col("p_size").between(10, 40)
        & F.col("l_quantity").between(20, 40)
    )
    return j.filter(c1 | c2 | c3).agg(
        F.round(
            F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
        ).alias("revenue")
    )


_Q22_SQL = """
SELECT n_nationkey AS cntry, count(*) AS numcust,
       round(sum(c_acctbal), 2) AS totacctbal
FROM (SELECT c.c_nationkey AS n_nationkey, c.c_acctbal
      FROM customer c
      WHERE c.c_acctbal > (SELECT avg(c2.c_acctbal) FROM customer c2
                           WHERE c2.c_acctbal > 0.0)
        AND NOT EXISTS (SELECT 1 FROM orders o
                        WHERE o.o_custkey = c.c_custkey
                          AND o.o_orderpriority = '1-URGENT')) rich_idle
GROUP BY n_nationkey
ORDER BY n_nationkey
"""


@query("tpch_q22_global_sales", oracle=_Q22_SQL)
def tpch_q22_global_sales(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape: uncorrelated scalar subquery (global average —
    one tiny aggregate broadcast as a literal) combined with NOT
    EXISTS (anti join with an extra ON-side predicate) —
    above-average-balance customers with no urgent order, grouped by
    nation."""
    from dist_keras_spark.sources.tables import register_views

    register_views(spark, sf_dir, ("customer", "orders"))
    return spark.sql(_Q22_SQL)


_Q8_SQL = """
SELECT o_year,
       round(sum(CASE WHEN supp_nation = 'NATION_1' THEN volume ELSE 0 END)
             / sum(volume), 6) AS mkt_share
FROM (SELECT CAST(year(o.o_orderdate) AS INT) AS o_year,
             l.l_extendedprice * (1 - l.l_discount) AS volume,
             n1.n_name AS supp_nation
      FROM lineitem l
      JOIN orders o   ON o.o_orderkey = l.l_orderkey
      JOIN customer c ON c.c_custkey = o.o_custkey
      JOIN supplier s ON s.s_suppkey = l.l_suppkey
      JOIN nation n1  ON n1.n_nationkey = s.s_nationkey
      JOIN nation n2  ON n2.n_nationkey = c.c_nationkey
      JOIN region r   ON r.r_regionkey = n2.n_regionkey
      WHERE r.r_name = 'ASIA') all_nations
GROUP BY o_year
ORDER BY o_year
"""


@query("tpch_q8_market_share", oracle=_Q8_SQL)
def tpch_q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape: one nation's supplier market share inside one
    region's customer demand, by order year — a 7-table join where the
    conditional share is two CASE-folded partial sums.

    Scale: region/nation broadcast (hinted, SF-invariant); lineitem ⋈
    orders ⋈ customer ⋈ supplier hint-free; the region filter prunes
    the customer side right after its broadcast joins."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    s = _t(spark, sf_dir, "supplier")
    n1 = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation")
    )
    n2 = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_regionkey").alias("n2_rk")
    )
    r = _t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    vol = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(s, li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("n1_key"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("n2_key"))
        .join(F.broadcast(r), F.col("n2_rk") == F.col("r_regionkey"))
        .withColumn("o_year", F.year("o_orderdate").cast("int"))
        .groupBy("o_year")
        .agg(
            F.round(
                F.sum(F.when(F.col("supp_nation") == "NATION_1", vol).otherwise(0.0))
                / F.sum(vol),
                6,
            ).alias("mkt_share")
        )
        .orderBy("o_year")
    )


_Q12_SQL = """
SELECT l_linestatus AS shipmode,
       CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                     THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       CAST(sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                     THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
FROM orders
JOIN lineitem ON l_orderkey = o_orderkey
WHERE l_shipdate >= TIMESTAMP '1995-01-01'
  AND l_shipdate <  TIMESTAMP '1996-01-01'
GROUP BY l_linestatus
ORDER BY l_linestatus
"""


@query("tpch_q12_shipmode_priority", oracle=_Q12_SQL)
def tpch_q12_shipmode_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape: two-branch conditional counts (urgent vs other
    order priority) per ship mode inside a one-year ship window.
    Fixture adaptation: lineitem carries no l_shipmode/commit/receipt
    dates, so l_linestatus stands in as the mode and the window is on
    l_shipdate — the distinctive CASE-folded dual-count aggregate over
    an orders⋈lineitem join is what the shape exercises.

    Scale: the date window pushes to the lineitem scan; the join is
    hint-free (both sides SF-scaling); the agg is two map-side partial
    CASE sums over a 2-value group key."""
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1995-01-01").cast("timestamp_ntz"))
        & (F.col("l_shipdate") < F.lit("1996-01-01").cast("timestamp_ntz"))
    )
    urgent = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        o.join(li, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy(F.col("l_linestatus").alias("shipmode"))
        .agg(
            F.sum(F.when(urgent, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(~urgent, 1).otherwise(0)).alias("low_line_count"),
        )
        .orderBy("shipmode")
    )


_Q9_AMOUNT = (
    "CAST(l_extendedprice AS DECIMAL(12,2))"
    " * (1 - CAST(l_discount AS DECIMAL(12,2)))"
    " - CAST('0.6' AS DECIMAL(2,1))"
    " * CAST(p_retailprice AS DECIMAL(12,2))"
    " * CAST(l_quantity AS DECIMAL(12,2))"
)

_Q9_SQL = f"""
SELECT nation, o_year, CAST(round(sum(amount), 2) AS DOUBLE) AS sum_profit
FROM (SELECT n.n_name AS nation,
             CAST(year(o.o_orderdate) AS INT) AS o_year,
             {_Q9_AMOUNT} AS amount
      FROM lineitem l
      JOIN supplier s ON s.s_suppkey = l.l_suppkey
      JOIN part p     ON p.p_partkey = l.l_partkey
      JOIN orders o   ON o.o_orderkey = l.l_orderkey
      JOIN nation n   ON n.n_nationkey = s.s_nationkey
      WHERE p.p_name LIKE '%g%') profit
GROUP BY nation, o_year
ORDER BY nation, o_year DESC
"""


@query("tpch_q9_product_profit", oracle=_Q9_SQL)
def tpch_q9_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape: profit (revenue minus cost) on a part-name
    pattern, by supplier nation and order year, over a 5-table join.
    Fixture adaptation: no partsupp table, so the ps_supplycost term
    becomes 0.6·p_retailprice·l_quantity — the revenue−cost arithmetic
    spanning three tables' columns is what the shape exercises.

    Scale: the p_name LIKE filter prunes part before its join; nation
    broadcasts (hinted, SF-invariant); supplier/part/orders joins are
    hint-free so AQE picks broadcast vs shuffle from observed size.
    The profit arithmetic runs in DECIMAL on both engine sides: a
    double sum of ±cost terms lands groups near .xx5 cent boundaries
    where engine summation order flips the rounded cent."""
    li = _t(spark, sf_dir, "lineitem")
    s = _t(spark, sf_dir, "supplier")
    p = _t(spark, sf_dir, "part").filter(F.col("p_name").like("%g%"))
    o = _t(spark, sf_dir, "orders")
    n = _t(spark, sf_dir, "nation")
    return (
        li.join(s, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(p, F.col("l_partkey") == F.col("p_partkey"))
        .join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .select(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").cast("int").alias("o_year"),
            F.expr(_Q9_AMOUNT).alias("amount"),
        )
        .groupBy("nation", "o_year")
        .agg(F.round(F.sum("amount"), 2).cast("double").alias("sum_profit"))
        .orderBy("nation", F.col("o_year").desc())
    )
