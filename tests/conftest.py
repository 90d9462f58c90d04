"""Shared fixtures: one local SparkSession per test session."""

from __future__ import annotations

import pytest

from dist_keras_spark.session import get_spark

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    s = get_spark("tests", master="local[4]", shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


@pytest.fixture
def checkpoint_dir(spark, tmp_path):
    """Factory: calling it sets `tmp_path/"ckpt"` as the shared session's
    checkpoint dir (so `_stage` takes the reliable-checkpoint branch)
    and returns that path. Teardown clears the dir again; otherwise the
    session-scoped `spark` fixture would carry it into every later test
    and silently switch their staging to reliable checkpoints."""
    sc = spark.sparkContext
    path = tmp_path / "ckpt"

    def enable():
        sc.setCheckpointDir(str(path))
        return path

    yield enable
    getattr(sc._jsc.sc(), "checkpointDir_$eq")(sc._jvm.scala.Option.empty())
    assert sc.getCheckpointDir() is None


@pytest.fixture
def session_tz(spark):
    """Factory: calling it with a zone id sets the shared session's
    `spark.sql.session.timeZone`. Teardown restores the zone the session
    had; otherwise every later test would run in the probe's zone."""
    key = "spark.sql.session.timeZone"
    before = spark.conf.get(key)

    def set_zone(zone: str) -> None:
        spark.conf.set(key, zone)

    yield set_zone
    spark.conf.set(key, before)
    assert spark.conf.get(key) == before
