"""Sources & sinks: CSV/JSON round-trips, partitioned sink layout and
partition pruning (SURVEY.md §2.A)."""

from __future__ import annotations

import os

import pyspark.sql.functions as F

from dist_keras_spark.sources.readers import from_rows, read_csv, read_json
from dist_keras_spark.sources.sinks import write_parquet, write_partitioned
from dist_keras_spark.sources.tables import load_table


def test_csv_roundtrip(spark, tmp_path):
    df = from_rows(spark, [(1, "a"), (2, "b")], "id int, s string")
    p = str(tmp_path / "csv")
    df.write.option("header", "true").csv(p)
    back = read_csv(spark, p, schema="id int, s string")
    assert sorted(tuple(r) for r in back.collect()) == [(1, "a"), (2, "b")]


def test_csv_infer_schema(spark, tmp_path):
    df = from_rows(spark, [(1, 1.5)], "id int, x double")
    p = str(tmp_path / "csv2")
    df.write.option("header", "true").csv(p)
    back = read_csv(spark, p)
    assert back.schema["x"].dataType.typeName() == "double"


def test_json_roundtrip(spark, tmp_path):
    df = from_rows(spark, [(1, {"k": 2})], "id int, m map<string,int>")
    p = str(tmp_path / "json")
    df.write.json(p)
    back = read_json(spark, p, schema="id int, m map<string,int>")
    assert back.collect()[0]["m"]["k"] == 2


def test_parquet_sink_roundtrip(spark, sf_dir, tmp_path):
    nat = load_table(spark, sf_dir, "nation")
    p = str(tmp_path / "pq")
    write_parquet(nat, p)
    assert spark.read.parquet(p).count() == nat.count()


def test_partitioned_sink_prunes(spark, sf_dir, tmp_path):
    li = load_table(spark, sf_dir, "lineitem")
    p = str(tmp_path / "part")
    write_partitioned(li, p, ["l_returnflag"])
    assert os.path.isdir(f"{p}/l_returnflag=A")
    scan = spark.read.parquet(p).filter(F.col("l_returnflag") == "A")
    # partition filter must prune at planning time, not post-scan
    physical = scan._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [isnotnull(l_returnflag" in physical
    total = spark.read.parquet(p).count()
    assert 0 < scan.count() < total


def test_dynamic_partition_overwrite_preserves_others(spark, sf_dir, tmp_path):
    from dist_keras_spark.sources.sinks import overwrite_partitions

    li = load_table(spark, sf_dir, "lineitem")
    p = str(tmp_path / "dyn")
    write_partitioned(li, p, ["l_returnflag"])
    before_n = spark.read.parquet(p).filter(F.col("l_returnflag") == "N").count()
    # incremental load touching ONLY partition A, with halved quantities
    update = li.filter(F.col("l_returnflag") == "A").withColumn(
        "l_quantity", F.col("l_quantity") * 0
    )
    overwrite_partitions(update, p, ["l_returnflag"])
    after = spark.read.parquet(p)
    assert after.filter(F.col("l_returnflag") == "N").count() == before_n, "untouched partition intact"
    assert after.filter((F.col("l_returnflag") == "A") & (F.col("l_quantity") != 0)).count() == 0


def test_compact_parquet_reduces_files(spark, sf_dir, tmp_path):
    import glob

    from dist_keras_spark.sources.sinks import compact_parquet

    p = str(tmp_path / "frag")
    li = load_table(spark, sf_dir, "lineitem")
    li.repartition(64).write.parquet(p)  # fragment into 64 small files
    assert len(glob.glob(f"{p}/*.parquet")) >= 32
    n_before = spark.read.parquet(p).count()
    written = compact_parquet(spark, p, target_file_bytes=8 * 1024 * 1024)
    assert len(glob.glob(f"{p}/*.parquet")) == written <= 4
    assert spark.read.parquet(p).count() == n_before
    assert not glob.glob(f"{p}.__compact_*"), "no temp/old dirs left behind"


def test_compact_parquet_preserves_hive_partitioning(spark, sf_dir, tmp_path):
    import glob
    import os

    from dist_keras_spark.sources.sinks import compact_parquet, write_partitioned

    p = str(tmp_path / "part_frag")
    li = load_table(spark, sf_dir, "lineitem").repartition(16)
    write_partitioned(li, p, ["l_returnflag"])
    flags_before = sorted(d for d in os.listdir(p) if d.startswith("l_returnflag="))
    n_before = spark.read.parquet(p).count()
    compact_parquet(spark, p, target_file_bytes=8 * 1024 * 1024)
    flags_after = sorted(d for d in os.listdir(p) if d.startswith("l_returnflag="))
    assert flags_after == flags_before, "hive key=value layout preserved"
    after = spark.read.parquet(p)
    assert after.count() == n_before
    # pruning still works: the scan must carry a PartitionFilter on the
    # hive key (plan-level assert — no row-count escape hatch)
    one = after.filter(F.col("l_returnflag") == "N")
    plan = one._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan
    pf = plan.split("PartitionFilters: [", 1)[1].split("]", 1)[0]
    assert "l_returnflag" in pf and "= N" in pf, f"no partition filter: {pf}"
    # each partition dir compacted to a single file (one task per value)
    for d in flags_after:
        assert len(glob.glob(f"{p}/{d}/*.parquet")) == 1


def test_compact_parquet_failure_leaves_live_data(spark, sf_dir, tmp_path, monkeypatch):
    """A crash between 'set live aside' and 'promote tmp' must roll the
    live path back, never leave it deleted."""
    import os

    from dist_keras_spark.sources import sinks

    p = str(tmp_path / "crash")
    li = load_table(spark, sf_dir, "region")
    li.write.parquet(p)
    n_before = spark.read.parquet(p).count()

    real_rename = os.rename
    def failing_rename(src, dst):
        if src.endswith(".__compact_tmp__"):
            raise OSError("simulated crash promoting tmp")
        return real_rename(src, dst)

    monkeypatch.setattr(os, "rename", failing_rename)
    try:
        sinks.compact_parquet(spark, p)
    except OSError:
        pass
    monkeypatch.undo()
    assert os.path.isdir(p), "live path restored after failed promotion"
    assert spark.read.parquet(p).count() == n_before


def test_events_loader_handles_both_ts_encodings(spark, tmp_path):
    """Fixture generations have shipped events.ts as BOTH nanosecond
    int64 parquet (rounds 1-3) and native microsecond timestamp
    (round 4+). normalize_ts branches on the observed read
    schema; this pins both branches to the same wall-clock result so a
    future fixture regeneration (or revert) cannot silently break one
    path again."""
    import datetime as dt

    import pyarrow as pa
    import pyarrow.parquet as pq

    from dist_keras_spark.sources.tables import load_table

    stamps = [
        dt.datetime(2024, 3, 1, 12, 0, 0, 123456),
        dt.datetime(2024, 3, 1, 12, 30, 59, 999999),
    ]
    base = {
        "event_id": [1, 2],
        "user_id": [10, 20],
        "event_type": ["click", "view"],
        "value": [1.5, 2.5],
        "props": ["{}", "{}"],
    }

    def write(dirname: str, ts_type) -> str:
        d = tmp_path / dirname
        d.mkdir()
        table = pa.table(
            {**{"event_id": base["event_id"]}, "ts": pa.array(stamps, type=ts_type),
             **{k: v for k, v in base.items() if k != "event_id"}}
        )
        pq.write_table(table, str(d / "events.parquet"))
        return str(d)

    us_dir = write("us", pa.timestamp("us"))
    ns_dir = write("ns", pa.timestamp("ns"))

    got_us = {r["event_id"]: r["ts"] for r in load_table(spark, us_dir, "events").collect()}
    got_ns = {r["event_id"]: r["ts"] for r in load_table(spark, ns_dir, "events").collect()}
    assert got_us == got_ns, f"encodings diverged: {got_us} vs {got_ns}"
    # wall-clock must survive exactly at µs precision
    assert got_us[2].microsecond == 999999
    assert got_us[1] == stamps[0]


def test_current_fixture_ts_encoding_is_covered(spark, sf_dir):
    """Fixture-drift canary (VERDICT r5 #2): the driver has regenerated
    /root/testdata twice with different events.ts encodings. This test
    reads the CURRENT fixture's physical arrow type and fails loudly if
    a third encoding appears that `normalize_ts` has no branch
    for — turning the next drift from 19 crashed queries into one named
    test failure pointing at sources/tables.py."""
    import pyarrow.dataset as ds

    covered = {"timestamp[us]", "timestamp[ns]"}
    ts_type = str(ds.dataset(f"{sf_dir}/events.parquet").schema.field("ts").type)
    assert ts_type in covered, (
        f"events.ts fixture encoding {ts_type!r} is not one "
        f"normalize_ts handles ({covered}); add a branch in "
        "dist_keras_spark/sources/tables.py::normalize_ts"
    )
    # and the normalizer's POST-condition: whatever shipped, the loaded
    # column is a wall clock, never a raw integer or an instant
    from dist_keras_spark.sources.tables import load_table

    loaded = dict(load_table(spark, sf_dir, "events").dtypes)["ts"]
    assert loaded == "timestamp_ntz", loaded


def test_snapshot_isolation_and_atomic_publish(spark, tmp_path):
    """sources/snapshots.py contract: a reader pinned to v1 is
    unaffected by later commits; an unpublished (crashed) commit's
    files are invisible to every reader."""
    import glob
    import os

    from dist_keras_spark.sources.snapshots import read_snapshot, write_snapshot

    path = str(tmp_path / "snap")
    df = spark.range(10).withColumnRenamed("id", "k")
    assert write_snapshot(df.filter("k < 4"), path) == 1
    assert write_snapshot(df.filter("k >= 4"), path) == 2
    assert read_snapshot(spark, path, 1).count() == 4
    assert read_snapshot(spark, path).count() == 10
    # simulate a crash: data files land but the manifest never publishes
    df.filter("k = 0").write.mode("overwrite").parquet(f"{path}/data/v00003")
    assert read_snapshot(spark, path).count() == 10  # torn commit invisible
    assert len(glob.glob(f"{path}/_manifests/v*.json")) == 2
    # recovery: the next real commit simply takes the next version slot
    assert os.path.isdir(f"{path}/data/v00003")


def test_python_datasource_partitioned_and_deterministic(spark):
    """Spark 4 Python Data Source API: the custom source must expose
    real partitions (parallel scheduling, not one task) and produce
    identical rows on re-read."""
    from dist_keras_spark.sources.pysource import register

    register(spark)
    df = (
        spark.read.format("synthetic_events")
        .option("rows", 100)
        .option("partitions", 5)
        .load()
    )
    assert df.rdd.getNumPartitions() == 5
    a = sorted(map(tuple, df.collect()))
    b = sorted(map(tuple, df.collect()))
    assert a == b and len(a) == 100
    # generation law replayed in Python
    for event_id, kind, amount in a:
        assert kind == ("view", "click", "purchase")[event_id % 3]
        assert abs(amount - (event_id * 37 % 1000) / 10.0) < 1e-12


def test_python_datasource_stream_equals_batch(spark):
    """The streaming face of the custom connector drains to exactly the
    batch rows (offset-replayable generator = exactly-once contract)."""
    from dist_keras_spark.sources.pysource import register
    from dist_keras_spark.streaming.pipelines import run_available_now

    register(spark)
    batch = (
        spark.read.format("synthetic_events").option("rows", 120).load()
    )
    stream = (
        spark.readStream.format("synthetic_events").option("rows", 120).load()
    )
    drained, _ = run_available_now(stream, output_mode="append")
    assert sorted(map(tuple, drained.collect())) == sorted(
        map(tuple, batch.collect())
    )


def test_schema_cache_reinfers_rewritten_file_and_changed_conf(spark, tmp_path):
    """load_table reads with a cached inferred schema, keyed by file
    identity and the inference confs: a repeat read runs no Spark job, an
    events file rewritten from µs to ns at the same path is inferred again
    (and takes normalize_ts's bigint branch), and a changed inference conf
    misses the cache. Every branch returns the same wall clocks as NTZ."""
    import datetime as dt

    import pyarrow as pa
    import pyarrow.parquet as pq

    stamps = [dt.datetime(2024, 3, 1, 12, 0, 0, 123456), dt.datetime(2024, 3, 2, 1, 2, 3, 4)]

    def write(ts_type):
        table = pa.table(
            {"event_id": [1, 2], "user_id": [10, 20], "event_type": ["click", "view"],
             "ts": pa.array(stamps, type=ts_type), "value": [1.5, 2.5], "props": ["{}", "{}"]}
        )
        pq.write_table(table, str(tmp_path / "events.parquet"))

    sc = spark.sparkContext

    def load(group):
        sc.setJobGroup(group, group)
        try:
            df = load_table(spark, str(tmp_path), "events")
        finally:
            # Clear what setJobGroup set; setJobGroup("", "") would leave
            # group "" on this thread for every later test.
            for key in ("spark.jobGroup.id", "spark.job.description",
                        "spark.job.interruptOnCancel"):
                sc.setLocalProperty(key, None)
        return df, len(sc.statusTracker().getJobIdsForGroup(group))

    write(pa.timestamp("us"))
    first, first_jobs = load("schema-cache-miss")
    again, again_jobs = load("schema-cache-hit")
    assert first_jobs > 0 and again_jobs == 0
    assert dict(again.dtypes)["ts"] == "timestamp_ntz"

    write(pa.timestamp("ns"))
    rewritten, rewritten_jobs = load("schema-cache-rewritten")
    assert rewritten_jobs > 0
    assert dict(rewritten.dtypes)["ts"] == "timestamp_ntz"  # the bigint branch
    assert [r["ts"] for r in rewritten.orderBy("event_id").collect()] == stamps

    write(pa.timestamp("us"))
    load("schema-cache-rewritten-back")
    conf = "spark.sql.parquet.inferTimestampNTZ.enabled"
    spark.conf.set(conf, "false")
    try:
        as_instants, conf_jobs = load("schema-cache-conf")
        assert conf_jobs > 0  # the conf is part of the key
        assert dict(as_instants.dtypes)["ts"] == "timestamp_ntz"
        assert [r["ts"] for r in as_instants.orderBy("event_id").collect()] == stamps
    finally:
        spark.conf.unset(conf)
    reset, reset_jobs = load("schema-cache-conf-reset")
    assert reset_jobs == 0 and dict(reset.dtypes)["ts"] == "timestamp_ntz"
    assert sc.getLocalProperty("spark.jobGroup.id") is None
