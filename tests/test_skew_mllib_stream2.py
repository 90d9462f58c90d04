"""Salted join/agg equivalence, MLlib LSH interop, stream-stream
interval join, foreachBatch parquet sink."""

from __future__ import annotations

import pyspark.sql.functions as F

from dist_keras_spark.operators.mllib_lsh import mllib_knn, mllib_minhash_pairs
from dist_keras_spark.operators.skew import salted_count, salted_join
from dist_keras_spark.sources.tables import load_table
from dist_keras_spark.streaming.pipelines import (
    run_available_now,
    run_foreach_batch_to_parquet,
    stream_events,
    streaming_interval_self_join,
)


def test_salted_join_equals_plain_join(spark, sf_dir):
    orders = load_table(spark, sf_dir, "orders").withColumnRenamed("o_custkey", "ck")
    cust = load_table(spark, sf_dir, "customer").withColumnRenamed("c_custkey", "ck")
    plain = orders.join(cust, "ck").select("o_orderkey", "c_name")
    salted = salted_join(orders, cust, "ck", salt_n=4).select("o_orderkey", "c_name")
    assert sorted(map(tuple, plain.collect())) == sorted(map(tuple, salted.collect()))


def test_salted_count_equals_plain(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    plain = {r["l_returnflag"]: r["n"] for r in li.groupBy("l_returnflag").agg(F.count(F.lit(1)).alias("n")).collect()}
    salted = {r["l_returnflag"]: r["n"] for r in salted_count(li, "l_returnflag").collect()}
    assert plain == salted


def test_mllib_minhash_agrees_with_exact_jaccard(spark, sf_dir):
    from dist_keras_spark.operators.dedup import jaccard_pairs

    d = load_table(spark, sf_dir, "documents")
    exact = {(r["id_a"], r["id_b"]) for r in jaccard_pairs(d, threshold=0.8).collect()}
    mllib = {
        (r["id_a"], r["id_b"])
        for r in mllib_minhash_pairs(d, jaccard_distance=0.2).collect()
    }
    recall = len(exact & mllib) / max(len(exact), 1)
    assert recall >= 0.9, f"MLlib MinHash recall {recall}"


def test_mllib_knn_returns_k(spark, sf_dir):
    e = load_table(spark, sf_dir, "embeddings")
    qv = e.filter(F.col("vec_id") == 0).collect()[0]["embedding"]
    out = mllib_knn(e, [float(x) for x in qv], k=5)
    rows = out.collect()
    assert len(rows) == 5
    assert rows[0]["id"] == 0 and rows[0]["dist"] == 0.0  # itself at distance 0


def test_stream_stream_interval_join_equals_batch(spark, sf_dir):
    stream_out, _ = run_available_now(
        streaming_interval_self_join(stream_events(spark, sf_dir)), "append"
    )
    ev = load_table(spark, sf_dir, "events")
    a = ev.select(F.col("user_id").alias("ua"), F.col("event_id").alias("eid_a"), F.col("ts").alias("ts_a"))
    b = ev.select(F.col("user_id").alias("ub"), F.col("event_id").alias("eid_b"), F.col("ts").alias("ts_b"))
    batch = a.join(
        b,
        (F.col("ua") == F.col("ub"))
        & (F.col("eid_a") < F.col("eid_b"))
        & (F.col("ts_b") >= F.col("ts_a"))
        & (F.col("ts_b") <= F.col("ts_a") + F.expr("INTERVAL 5 MINUTES")),
    ).select("ua", "eid_a", "eid_b")
    key = lambda df: sorted(map(tuple, df.collect()))
    assert key(stream_out) == key(batch)


def test_foreach_batch_parquet_sink(spark, sf_dir, tmp_path):
    p = str(tmp_path / "sink")
    run_foreach_batch_to_parquet(stream_events(spark, sf_dir), p)
    n = load_table(spark, sf_dir, "events").count()
    assert spark.read.parquet(p).count() == n


def test_aqe_splits_skewed_join_partitions(spark):
    """The engine's skew posture claims AQE handles residual skew that
    salting doesn't pre-empt (operators/skew.py docstrings). Prove the
    mechanism actually FIRES: a join with one hot key and lowered skew
    thresholds must execute as SortMergeJoin(skew=true) in the FINAL
    adaptive plan — read from the same queryExecution that ran, since
    a fresh action (count/write) plans a separate execution whose
    plan string still shows isFinalPlan=false."""
    from pyspark.sql import functions as F

    confs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "65536",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "65536",
    }
    old = {}
    for k, v in confs.items():
        try:
            old[k] = spark.conf.get(k)
        except Exception:  # noqa: BLE001
            old[k] = None
        spark.conf.set(k, v)
    try:
        big = (
            spark.range(0, 300000)
            .withColumn(
                "k",
                F.when(F.col("id") % 2 == 0, F.lit(0)).otherwise(F.col("id") % 100),
            )
            .withColumn("pad", F.md5(F.col("id").cast("string")))
        )
        dim = spark.range(0, 100).select(
            F.col("id").alias("k"), F.md5(F.col("id").cast("string")).alias("v")
        )
        j = big.join(dim, "k")
        assert len(j.collect()) == 300000
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "isFinalPlan=true" in plan
        assert "skew=true" in plan, "AQE did not split the skewed partitions:\n" + plan[:1500]
    finally:
        for k, v in old.items():
            spark.conf.set(k, v) if v is not None else spark.conf.unset(k)
