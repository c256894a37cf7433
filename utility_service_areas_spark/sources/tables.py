"""Parquet table loaders for the test substrate (TESTDATA.md).

At cluster scale these would be catalog tables (partitioned /
bucketed); here they are bare parquet files, which still exercises
Catalyst's predicate pushdown and column pruning — the operators only
`select` what they need so `ReadSchema` stays narrow.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

TABLES = (
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


# Sessions already configured (keyed by Spark application id) and
# loaded-DataFrame memo. DataFrames are immutable plans, so handing the
# same object to every query is safe; memoizing skips the repeated
# parquet file-listing + footer/schema read that otherwise costs
# ~50-150 ms per load under a fresh session (the correctness driver
# walks 70 queries × 2-3 loads each).
_CONFIGURED_APPS: set[str] = set()
_TABLE_MEMO: dict[tuple[str, str, str], DataFrame] = {}


def _ensure_session_confs(spark: SparkSession) -> None:
    """Queries must behave identically under ANY caller-built session
    (the verification driver constructs its own): events.parquet needs
    the nanos-as-long legacy read, and timestamp semantics must be
    UTC so collected values match the (naive) DuckDB oracle. Both are
    runtime-settable SQL confs; setting them here makes every query
    self-sufficient.

    On a LOCAL master we additionally right-size shuffle parallelism
    to the core count — Spark's 200-partition default schedules ~6×
    more tasks than cores for the small scale factors local mode
    implies. Cluster sessions are left untouched (their shuffle
    sizing is a deliberate deployment choice)."""
    app = spark.sparkContext.applicationId
    if app in _CONFIGURED_APPS:
        return
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    if spark.sparkContext.master.startswith("local"):
        spark.conf.set(
            "spark.sql.shuffle.partitions",
            str(spark.sparkContext.defaultParallelism),
        )
    _CONFIGURED_APPS.add(app)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLES}")
    _ensure_session_confs(spark)
    key = (spark.sparkContext.applicationId, os.path.abspath(sf_dir), name)
    df = _TABLE_MEMO.get(key)
    if df is None:
        df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
        if name == "events":
            df = normalize_event_ts(df)
        _TABLE_MEMO[key] = df
    return df


def raw_table_schema(spark: SparkSession, sf_dir: str, name: str):
    """The on-disk schema of a substrate table, exactly as a batch read
    would see it (same session confs, e.g. nanosAsLong). Streaming file
    sources need an explicit schema; deriving it HERE — from the same
    footer read the batch path uses — guarantees batch and stream can
    never disagree about encodings (the driver regenerates the substrate
    between rounds and has switched events.ts encodings twice)."""
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLES}")
    _ensure_session_confs(spark)
    key = (spark.sparkContext.applicationId, os.path.abspath(sf_dir), name)
    df = _TABLE_MEMO.get(key)
    if df is not None and name != "events":
        return df.schema
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet")).schema


def normalize_event_ts(df: DataFrame) -> DataFrame:
    """Normalize events.ts to a session-tz TIMESTAMP no matter how the
    substrate parquet was written (the driver regenerates it between
    rounds and has used BOTH encodings):

    - TIMESTAMP(NANOS): with spark.sql.legacy.parquet.nanosAsLong it
      arrives as ns-since-epoch LONG → convert to µs timestamp
      (integer `div` — double division loses precision at 1e18 ns).
    - TIMESTAMP(isAdjustedToUTC=false): arrives as TIMESTAMP_NTZ under
      Spark's default NTZ inference → cast to TIMESTAMP. Spark 4
      forbids casting NTZ straight to numeric, so every downstream
      `ts.cast(long)` would fail without this; with the session tz
      pinned to UTC (_ensure_session_confs) the wall-clock values are
      unchanged and match the naive DuckDB oracle exactly.
    """
    from pyspark.sql import functions as F
    from pyspark.sql.types import LongType, TimestampNTZType

    if isinstance(df.schema["ts"].dataType, LongType):
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    elif isinstance(df.schema["ts"].dataType, TimestampNTZType):
        df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def load_tables(spark: SparkSession, sf_dir: str, *names: str) -> dict[str, DataFrame]:
    return {n: load_table(spark, sf_dir, n) for n in names}
