"""Grouped-map, UDTF, stateful streaming, and util operators."""

from __future__ import annotations

import pyspark.sql.functions as F

from dist_keras_spark.operators.grouped import TokenExplode, zscore_per_group
from dist_keras_spark.operators.utils import precache, shuffle
from dist_keras_spark.sources.tables import load_table
from dist_keras_spark.streaming.pipelines import run_available_now, stream_events
from dist_keras_spark.streaming.stateful import running_user_totals


def test_zscore_group_mean_zero(spark):
    df = spark.createDataFrame(
        [("a", 1.0), ("a", 2.0), ("a", 3.0), ("b", 10.0), ("b", 20.0)],
        "g string, v double",
    )
    out = zscore_per_group(df, "g", "v").collect()
    by_g = {}
    for r in out:
        by_g.setdefault(r["g"], []).append(r["zscore"])
    assert abs(sum(by_g["a"])) < 1e-9
    assert sorted(by_g["b"]) == [-0.707107, 0.707107]


def test_zscore_singleton_group_null(spark):
    df = spark.createDataFrame([("a", 1.0)], "g string, v double")
    assert zscore_per_group(df, "g", "v").collect()[0]["zscore"] is None


def test_udtf_token_explode(spark):
    from pyspark.sql.functions import lit

    out = TokenExplode(lit("x y z")).collect()
    assert [(r["token"], r["pos"]) for r in out] == [("x", 0), ("y", 1), ("z", 2)]


def test_stateful_stream_equals_batch_totals(spark, sf_dir):
    out, _ = run_available_now(
        running_user_totals(stream_events(spark, sf_dir)), "update"
    )
    batch = (
        load_table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_events"), F.round(F.sum("value"), 2).alias("total_value"))
    )
    key = lambda df: sorted(tuple(r) for r in df.select("user_id", "n_events", "total_value").collect())
    assert key(out) == key(batch)


def test_shuffle_preserves_multiset(spark, sf_dir):
    nat = load_table(spark, sf_dir, "nation")
    shuffled = shuffle(nat, seed=1)
    assert sorted(r["n_nationkey"] for r in shuffled.collect()) == sorted(
        r["n_nationkey"] for r in nat.collect()
    )


def test_precache_returns_count(spark, sf_dir):
    nat = load_table(spark, sf_dir, "nation")
    assert precache(nat) == 25
    nat.unpersist()


def test_deterministic_sample_stable_across_partitionings(spark, sf_dir):
    from dist_keras_spark.operators.quality import deterministic_sample

    d = load_table(spark, sf_dir, "documents")
    a = sorted(r["doc_id"] for r in deterministic_sample(d, "doc_id", 20).collect())
    b = sorted(
        r["doc_id"]
        for r in deterministic_sample(d.repartition(13), "doc_id", 20).collect()
    )
    assert a == b and 0 < len(a) < d.count()


def test_quality_summary_detects_violations(spark):
    from dist_keras_spark.operators.quality import quality_summary

    df = spark.createDataFrame(
        [(1, 5.0), (1, None), (2, 99.0)], "id long, v double"
    )
    row = quality_summary(
        df, unique_cols=["id"], not_null_cols=["v"], range_checks={"v": (0, 10)}
    ).collect()[0]
    assert row["n_rows"] == 3 and row["dup_violations"] == 1
    assert row["null_v"] == 1 and row["oob_v"] == 1


def test_tws_variant_gated_or_equal(spark, sf_dir):
    """transformWithStateInPandas twin: runs and matches batch totals
    where the protobuf runtime works; raises the documented RuntimeError
    where it doesn't (this container ships a broken google.protobuf)."""
    import pytest

    from dist_keras_spark.streaming.stateful import (
        running_user_totals_tws,
        tws_available,
    )

    if not tws_available():
        with pytest.raises(RuntimeError, match="protobuf"):
            running_user_totals_tws(stream_events(spark, sf_dir))
        return
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    out, _ = run_available_now(
        running_user_totals_tws(stream_events(spark, sf_dir)), "update"
    )
    batch = (
        load_table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_events"), F.round(F.sum("value"), 2).alias("total_value"))
    )
    key = lambda df: sorted(tuple(r) for r in df.select("user_id", "n_events", "total_value").collect())
    assert key(out) == key(batch)
