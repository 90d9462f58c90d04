"""Scalar function families (SURVEY.md §2.H): string, date/time, math,
conditional, array, JSON/map, hash. All JVM built-ins inside
whole-stage codegen — zero Python in these plans.

The reference's only scalar compute was numpy inside RDD-map
transformers (distkeras/transformers.py B6-B9); everything here is the
ENG/NS surface the fixtures demand.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dist_keras_spark.functions.time import epoch_s, trunc
from dist_keras_spark.plans.registry import query
from dist_keras_spark.sources.tables import load_table as _lt


@query(
    "scalar_string_funcs",
    oracle="""
SELECT doc_id,
       upper(substring(text, 1, 12))             AS head_upper,
       length(text)                              AS n_chars_live,
       len(string_split(text, ' '))              AS n_tokens,
       regexp_extract(text, '^(\\w+)', 1)        AS first_word,
       levenshtein(lang, 'en')                   AS lang_dist,
       lpad(source, 8, '0')                      AS source_padded,
       strpos(text, 'scan')                      AS scan_pos,
       concat(lang, '/', source)                 AS lang_source,
       trim(concat(' ', lang, ' '))              AS lang_trimmed
FROM documents
""",
)
def scalar_string_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """H-string: substring/upper/length/split/regexp/levenshtein/lpad/
    instr/concat/trim in one projection."""
    d = _lt(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.upper(F.substring("text", 1, 12)).alias("head_upper"),
        F.length("text").alias("n_chars_live"),
        F.size(F.split("text", " ")).alias("n_tokens"),
        F.regexp_extract("text", r"^(\w+)", 1).alias("first_word"),
        F.levenshtein("lang", F.lit("en")).alias("lang_dist"),
        F.lpad("source", 8, "0").alias("source_padded"),
        F.instr("text", "scan").alias("scan_pos"),
        F.concat("lang", F.lit("/"), "source").alias("lang_source"),
        F.trim(F.concat(F.lit(" "), "lang", F.lit(" "))).alias("lang_trimmed"),
    )


@query(
    "scalar_date_funcs",
    oracle="""
SELECT o_orderkey,
       year(o_orderdate)                                        AS yr,
       month(o_orderdate)                                       AS mo,
       day(o_orderdate)                                         AS dom,
       CAST(date_trunc('month', o_orderdate) AS DATE)           AS month_start,
       CAST(date_diff('day', DATE '1995-01-01',
                      CAST(o_orderdate AS DATE)) AS INT)        AS days_since_95,
       CAST(CAST(o_orderdate AS DATE) + INTERVAL 7 DAY AS DATE) AS plus_week,
       CAST(floor(epoch(o_orderdate)) AS BIGINT)                AS unix_ts
FROM orders
""",
)
def scalar_date_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """H-date: year/month/day, date_trunc, datediff, date_add, epoch."""
    o = _lt(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        F.year("o_orderdate").alias("yr"),
        F.month("o_orderdate").alias("mo"),
        F.dayofmonth("o_orderdate").alias("dom"),
        trunc("month", "o_orderdate").cast("date").alias("month_start"),
        F.datediff(F.col("o_orderdate").cast("date"), F.lit("1995-01-01").cast("date"))
        .cast("int")
        .alias("days_since_95"),
        F.date_add(F.col("o_orderdate").cast("date"), 7).alias("plus_week"),
        epoch_s("o_orderdate").alias("unix_ts"),
    )


@query(
    "scalar_math_funcs",
    oracle="""
SELECT l_orderkey, l_linenumber,
       CAST(round(CAST(l_extendedprice AS DECIMAL(12,2)), 1) AS DOUBLE)
                                                 AS price_1dp,
       round(abs(l_discount - 0.05), 4)          AS disc_dev,
       ceil(l_extendedprice)                     AS price_ceil,
       floor(l_extendedprice)                    AS price_floor,
       round(sqrt(l_extendedprice), 6)           AS price_sqrt,
       round(exp(l_discount), 6)                 AS disc_exp,
       round(ln(l_extendedprice), 6)             AS price_ln,
       round(log10(l_extendedprice), 6)          AS price_log10,
       pow(l_quantity, 2)                        AS qty_sq,
       CAST(sign(l_tax - 0.04) AS INT)           AS tax_sign,
       least(l_tax, l_discount)                  AS min_rate,
       greatest(l_tax, l_discount)               AS max_rate
FROM lineitem
""",
)
def scalar_math_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """H-math: round/abs/ceil/floor/sqrt/exp/ln/log10/pow/sign/least/greatest."""
    li = _lt(spark, sf_dir, "lineitem")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        # 1-dp round of 2-dp doubles is a cross-engine trap: Spark rounds
        # the exact binary value (63058.349999… → .3) while DuckDB rounds
        # the apparent decimal (.35 → .4). Decimal HALF_UP is engine-exact;
        # cast back to double so both engines stringify identically.
        F.round(F.col("l_extendedprice").cast("decimal(12,2)"), 1)
        .cast("double")
        .alias("price_1dp"),
        F.round(F.abs(F.col("l_discount") - 0.05), 4).alias("disc_dev"),
        # type trap (red r1-r3): Spark ceil/floor(DOUBLE) → BIGINT, DuckDB
        # → DOUBLE; the driver hash is type-sensitive (68424 ≠ 68424.0).
        # Cast to double to match the oracle's native return type.
        F.ceil("l_extendedprice").cast("double").alias("price_ceil"),
        F.floor("l_extendedprice").cast("double").alias("price_floor"),
        F.round(F.sqrt("l_extendedprice"), 6).alias("price_sqrt"),
        F.round(F.exp("l_discount"), 6).alias("disc_exp"),
        F.round(F.log("l_extendedprice"), 6).alias("price_ln"),
        F.round(F.log10("l_extendedprice"), 6).alias("price_log10"),
        F.pow("l_quantity", F.lit(2)).alias("qty_sq"),
        F.signum(F.col("l_tax") - 0.04).cast("int").alias("tax_sign"),
        F.least("l_tax", "l_discount").alias("min_rate"),
        F.greatest("l_tax", "l_discount").alias("max_rate"),
    )


@query(
    "scalar_conditional",
    oracle="""
SELECT c_custkey,
       CASE WHEN c_acctbal < 0 THEN 'debt'
            WHEN c_acctbal < 5000 THEN 'low'
            ELSE 'high' END                                   AS bal_tier,
       coalesce(nullif(c_mktsegment, 'BUILDING'), 'OTHER')    AS segment_masked,
       CASE WHEN c_nationkey % 2 = 0 THEN c_acctbal ELSE NULL END AS even_bal,
       coalesce(CASE WHEN c_nationkey % 2 = 0 THEN c_acctbal END, -1.0) AS even_bal_filled
FROM customer
""",
)
def scalar_conditional(spark: SparkSession, sf_dir: str) -> DataFrame:
    """H-conditional: when/otherwise, nullif, coalesce, null production."""
    c = _lt(spark, sf_dir, "customer")
    even_bal = F.when(F.col("c_nationkey") % 2 == 0, F.col("c_acctbal"))
    return c.select(
        "c_custkey",
        F.when(F.col("c_acctbal") < 0, "debt")
        .when(F.col("c_acctbal") < 5000, "low")
        .otherwise("high")
        .alias("bal_tier"),
        F.coalesce(F.nullif("c_mktsegment", F.lit("BUILDING")), F.lit("OTHER")).alias(
            "segment_masked"
        ),
        even_bal.alias("even_bal"),
        F.coalesce(even_bal, F.lit(-1.0)).alias("even_bal_filled"),
    )


@query(
    "scalar_array_funcs",
    oracle="""
SELECT vec_id,
       len(embedding)                                          AS dim,
       array_to_string(
           list_transform(embedding[1:3],
                          x -> CAST(CAST(round(CAST(x AS DOUBLE), 4)
                                         AS DECIMAL(10,4)) AS VARCHAR)), ',')
           AS first3,
       round(CAST(list_max(embedding) AS DOUBLE), 4)           AS emb_max,
       round(CAST(list_min(embedding) AS DOUBLE), 4)           AS emb_min,
       round(list_sum(list_transform(embedding,
                          x -> CAST(x AS DOUBLE))), 4)         AS emb_sum,
       CAST(len(list_filter(embedding, x -> x > 0)) AS INT)    AS n_positive
FROM embeddings
""",
)
def scalar_array_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """H-array: size/slice/transform/max/min/aggregate/filter over the
    embedding column — the LLM-path primitives, all JVM-side."""
    e = _lt(spark, sf_dir, "embeddings")
    return e.select(
        "vec_id",
        F.size("embedding").alias("dim"),
        F.array_join(
            F.transform(
                F.slice("embedding", 1, 3),
                # decimal cast before stringify: double→string renders
                # 0.0003 as 3.0E-4 in Spark but 0.0003 in DuckDB
                lambda x: F.round(x.cast("double"), 4).cast("decimal(10,4)").cast("string"),
            ),
            ",",
        ).alias("first3"),
        F.round(F.array_max("embedding").cast("double"), 4).alias("emb_max"),
        F.round(F.array_min("embedding").cast("double"), 4).alias("emb_min"),
        F.round(
            F.aggregate(
                "embedding", F.lit(0.0), lambda acc, x: acc + x.cast("double")
            ),
            4,
        ).alias("emb_sum"),
        F.size(F.filter("embedding", lambda x: x > 0)).alias("n_positive"),
    )


@query(
    "scalar_json_map",
    oracle="""
SELECT event_id,
       json_extract_string(props, '$.k')                 AS k_str,
       CAST(json_extract_string(props, '$.k') AS INT)    AS k_int,
       CAST(json_extract_string(props, '$.k') AS INT) % 10 AS k_mod,
       array_to_string(json_keys(props), ',')            AS keys_joined,
       CAST(len(json_keys(props)) AS INT)                AS n_keys
FROM events
""",
)
def scalar_json_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    """H-json/map: get_json_object + from_json→map + element_at /
    map_keys / map round-trip (map_from_entries ∘ entries = identity,
    exercised via the keys output).

    The map path (from_json to map<string,int>) exercises MapType; the
    oracle replays it through DuckDB's JSON extraction.
    """
    e = _lt(spark, sf_dir, "events")
    kmap = F.from_json("props", "map<string,int>")
    # map → entries → map_from_entries round-trip, then keys — proves
    # MapType construction, not just extraction
    rebuilt = F.map_from_entries(
        F.transform(
            F.map_keys(kmap), lambda k: F.struct(k.alias("k"), F.element_at(kmap, k).alias("v"))
        )
    )
    return e.select(
        "event_id",
        F.get_json_object("props", "$.k").alias("k_str"),
        F.element_at(kmap, "k").alias("k_int"),
        (F.element_at(kmap, "k") % 10).alias("k_mod"),
        F.array_join(F.map_keys(rebuilt), ",").alias("keys_joined"),
        F.size(F.map_values(rebuilt)).alias("n_keys"),
    )


@query(
    "scalar_hash_funcs",
    oracle="""
SELECT doc_id,
       md5(text)                  AS text_md5,
       sha256(text)               AS text_sha256,
       length(md5(text))          AS md5_len
FROM documents
""",
)
def scalar_hash_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """H-hash: md5 / sha2-256 (cross-engine standard algorithms)."""
    d = _lt(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.md5("text").alias("text_md5"),
        F.sha2("text", 256).alias("text_sha256"),
        F.length(F.md5("text")).alias("md5_len"),
    )


@query("scalar_hash_spark_native")  # xxhash64/crc32/hash: no DuckDB equivalent
def scalar_hash_spark_native(spark: SparkSession, sf_dir: str) -> DataFrame:
    """H-hash (Spark-native): xxhash64 / crc32 / murmur hash — used by
    the dedup/LSH path where cross-engine equality isn't required."""
    d = _lt(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.xxhash64("text").alias("text_xxh64"),
        F.crc32("text").alias("text_crc32"),
        F.hash("text").alias("text_murmur"),
    )


@query(
    "variant_semi_structured",
    oracle="""
SELECT event_type,
       count(*) AS n,
       CAST(sum(CAST(json_extract(props, '$.k') AS INT)) AS BIGINT) AS sum_k,
       CAST(max(CAST(json_extract(props, '$.k') AS INT)) AS BIGINT) AS max_k
FROM events
GROUP BY event_type
""",
)
def variant_semi_structured(spark: SparkSession, sf_dir: str) -> DataFrame:
    """H-json, Spark 4 surface: the VARIANT type — `parse_json` turns
    the props string into Spark's shredded binary semi-structured
    encoding and `variant_get` extracts typed paths WITHOUT a
    user-supplied schema (the schema-on-read path for JSON lakes;
    binary-shredded access beats per-row string re-parsing, which is
    what from_json does when the same column is touched twice). The
    oracle replays the extraction with DuckDB's JSON path functions —
    typed values agree exactly."""
    e = _lt(spark, sf_dir, "events")
    k = F.try_variant_get(F.parse_json("props"), "$.k", "int")
    return e.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(k).cast("long").alias("sum_k"),
        F.max(k).cast("long").alias("max_k"),
    )


@query(
    "scalar_hof_suite",
    oracle="""
SELECT vec_id,
       len(list_filter(embedding, x -> CAST(x AS DOUBLE) > 0.2)) > 0
           AS has_big,
       len(list_filter(embedding, x -> abs(CAST(x AS DOUBLE)) < 1.0))
           = len(embedding) AS all_small,
       CAST(len(list_filter(embedding, x -> CAST(x AS DOUBLE) > 0))
            AS INT) AS n_pos,
       CAST(list_sum(list_transform(embedding,
            x -> CAST(round(abs(CAST(x AS DOUBLE)) * 1000) AS BIGINT)))
            AS BIGINT) AS l1_milli,
       CAST(list_sum(list_transform(embedding,
            x -> CAST(round(abs(CAST(x AS DOUBLE)) * 1000) AS BIGINT)))
            // len(embedding) AS BIGINT) AS mean_milli
FROM embeddings
""",
)
def scalar_hof_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """H-arr depth: the higher-order-function quartet over the
    embedding arrays — exists / forall / filter+size / aggregate, the
    last with a FINISH lambda (struct accumulator → final projection),
    the one HOF form nothing else in the suite exercises. Per-element
    integer quantization (round·1000 per element, THEN sum) keeps the
    fold exact, so `aggregate`'s left fold and DuckDB's list_sum agree
    bit-for-bit; the mean uses integer division on positive operands
    (portable).

    All pure column expressions — whole-stage codegen, zero Python,
    zero shuffles: the 100 TB cost is one scan."""
    e = _lt(spark, sf_dir, "embeddings")
    xd = lambda x: x.cast("double")  # noqa: E731
    q = lambda x: F.round(F.abs(xd(x)) * 1000).cast("long")  # noqa: E731
    acc0 = F.struct(
        F.lit(0).cast("long").alias("s"), F.lit(0).cast("long").alias("c")
    )
    merge = lambda a, x: F.struct(  # noqa: E731
        (a["s"] + q(x)).alias("s"), (a["c"] + 1).alias("c")
    )
    return e.select(
        "vec_id",
        F.exists("embedding", lambda x: xd(x) > 0.2).alias("has_big"),
        F.forall("embedding", lambda x: F.abs(xd(x)) < 1.0).alias("all_small"),
        F.size(F.filter("embedding", lambda x: xd(x) > 0)).alias("n_pos"),
        F.aggregate(
            "embedding", F.lit(0).cast("long"), lambda a, x: a + q(x)
        ).alias("l1_milli"),
        # finish: exact integer floor-division via subtract-mod (both
        # operands positive), so no float ever enters the fold
        F.aggregate(
            "embedding",
            acc0,
            merge,
            lambda a: (a["s"] - a["s"] % a["c"]) / a["c"],
        )
        .cast("long")
        .alias("mean_milli"),
    )


@query(
    "scalar_calendar_arithmetic",
    oracle="""
SELECT o_orderkey,
       CAST(o_orderdate AS DATE) + INTERVAL 1 MONTH AS next_month_ts,
       last_day(CAST(o_orderdate AS DATE)) AS month_end,
       dayofweek(CAST(o_orderdate AS DATE)) AS dow_sun0,
       CAST(quarter(o_orderdate) AS INT) AS q
FROM orders
""",
)
def scalar_calendar_arithmetic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """H-date depth: calendar arithmetic where engine CONVENTIONS
    diverge and must be reconciled explicitly — add_months clamps to
    month end in both engines (Jan 31 + 1m = Feb 29, verified), but
    day-of-week numbering differs (Spark dayofweek: Sunday=1; DuckDB:
    Sunday=0), so the Spark side subtracts 1 rather than hoping. The
    +1-month result is compared as TIMESTAMP because DuckDB's DATE +
    INTERVAL promotes. Pure scan-side expressions, zero shuffles."""
    o = _lt(spark, sf_dir, "orders")
    d = F.col("o_orderdate").cast("date")
    return o.select(
        "o_orderkey",
        F.add_months(d, 1).cast("timestamp_ntz").alias("next_month_ts"),
        F.last_day(d).alias("month_end"),
        (F.dayofweek(d) - 1).alias("dow_sun0"),
        F.quarter(d).alias("q"),
    )


@query(
    "scalar_try_arithmetic",
    oracle="""
SELECT l_orderkey, l_linenumber,
       CASE WHEN l_discount = 0 THEN NULL
            ELSE round(l_extendedprice / l_discount, 2) END AS price_per_disc,
       CASE WHEN l_quantity - 25 = 0 THEN NULL
            ELSE CAST(floor(l_extendedprice)
                      / CAST(l_quantity - 25 AS BIGINT) AS DOUBLE) END
           AS per_offset_qty
FROM lineitem
""",
)
def scalar_try_arithmetic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """H-cond depth: error-safe arithmetic — try_divide yields NULL
    where ANSI division would raise (zero divisors exist in the
    fixture for both expressions: zero discounts and quantity = 25).
    The oracle spells the NULL guard out as CASE, so the try_
    functions' NULL-on-error contract is what the hash checks. The
    integer division leg pins Spark double-division semantics against
    DuckDB BIGINT division by casting explicitly on both sides."""
    li = _lt(spark, sf_dir, "lineitem")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.round(
            F.try_divide(F.col("l_extendedprice"), F.col("l_discount")), 2
        ).alias("price_per_disc"),
        F.try_divide(
            F.floor("l_extendedprice").cast("double"),
            (F.col("l_quantity") - 25).cast("long").cast("double"),
        ).alias("per_offset_qty"),
    )
