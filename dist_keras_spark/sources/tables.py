"""Fixture-table catalog (TESTDATA.md star schema + events/documents/embeddings).

Parquet scans are the engine's primary source. We rely on Catalyst for
predicate pushdown + column pruning (verify with
``df.explain('formatted')`` → PushedFilters / ReadSchema), so loaders
return *lazy* DataFrames, never cached/collected.

Every timestamp column leaves the loader as TIMESTAMP_NTZ (the rule is
stated in functions/time.py). The `events.ts` column has shipped as both
nanosecond and microsecond parquet across fixture generations;
`normalize_ts` branches on the observed read schema so either encoding,
and either setting of the inference confs, gives the same wall clocks
(SURVEY.md §7.3).

Schema inference is a Spark job per read, so `read_parquet` keeps
each file's inferred schema for the process and passes it on later
reads.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType, TimestampType

from ..functions.time import as_wall, from_epoch_us

TABLE_NAMES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Session confs that change what parquet schema inference returns.
_INFERENCE_CONFS = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
)
_SCHEMAS: dict[tuple, StructType] = {}


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """Lazy scan of one parquet file that infers its schema once: the
    StructType is cached under the file's path, size and mtime and the
    inference confs, so a file rewritten in place (say, `events.ts`
    regenerated from µs to ns) or a changed conf infers again. A
    directory or a non-local path infers on every read."""
    if not os.path.isfile(path):
        return spark.read.parquet(path)
    st = os.stat(path)
    key = (os.path.abspath(path), st.st_size, st.st_mtime_ns)
    key += tuple(map(spark.conf.get, _INFERENCE_CONFS))
    if key not in _SCHEMAS:
        df = spark.read.parquet(path)
        _SCHEMAS[key] = df.schema
        return df
    return spark.read.schema(_SCHEMAS[key]).parquet(path)


def normalize_ts(df: DataFrame) -> DataFrame:
    """Every timestamp column as a µs TIMESTAMP_NTZ wall clock, whatever
    the fixture generation shipped or the inference confs say.

    - `timestamp[ns]` parquet: Spark 4 rejects it outright
      (PARQUET_TYPE_ILLEGAL) unless ``spark.sql.legacy.parquet.nanosAsLong``
      is set, in which case `ts` reads as raw ns BIGINT. We truncate to
      µs with *integer* division — ns-since-epoch (~1.7e18) overflows a
      double's 53-bit mantissa, so float division would corrupt
      timestamps by ±0.25 µs. DuckDB truncates the same file to µs on
      read, so both engines agree exactly at µs precision.
    - A column that reads as TIMESTAMP (a UTC-adjusted parquet
      timestamp, or ``inferTimestampNTZ.enabled=false``) is an instant;
      its UTC reading is the wall clock DuckDB shows.
    - `timestamp[us]` parquet (current fixtures, regenerated
      2026-08-13): Spark reads TIMESTAMP_NTZ natively and matches
      DuckDB exactly — pass through untouched so `ts` predicates stay
      raw-column comparisons that push down to parquet stats.

    Shared by the batch loader and streaming/pipelines.stream_events so
    the two paths can't diverge.
    """
    walls = {
        f.name: as_wall(f.name)
        for f in df.schema
        if isinstance(f.dataType, TimestampType)
    }
    if dict(df.dtypes).get("ts") == "bigint":
        walls["ts"] = from_epoch_us(F.expr("ts div 1000"))
    return df.withColumns(walls) if walls else df


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Lazy parquet scan of one fixture table, timestamps as wall
    clocks (see `normalize_ts`)."""
    if name not in TABLE_NAMES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLE_NAMES}")
    path = f"{sf_dir}/{name}.parquet"
    if name == "events":
        # Harmless for µs files; required to even read a ns file.
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    return normalize_ts(read_parquet(spark, path))


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Load every fixture table as a dict of lazy DataFrames."""
    return {name: load_table(spark, sf_dir, name) for name in TABLE_NAMES}


def register_views(spark: SparkSession, sf_dir: str, names: tuple[str, ...] = TABLE_NAMES) -> None:
    """Register fixture tables as temp views so plans can use spark.sql."""
    for name in names:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)
