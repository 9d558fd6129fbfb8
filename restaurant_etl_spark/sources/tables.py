"""Loaders for the driver's synthetic star schema (TESTDATA.md).

Parquet scans are the canonical input path: columnar, predicate-pushdown and
column-pruning friendly. Nothing here collects or caches — callers compose
lazily so Catalyst sees the whole plan.

A table lives at ``{sf_dir}/{name}.parquet``: one file, or a Spark-written
directory of part files. :func:`table_files` is the one place that knows this
layout, and :func:`table_fingerprint` is the one corpus-identity key every
staged artifact, persisted index and contract memo is keyed on.
"""

from __future__ import annotations

import hashlib
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


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLES:
        raise ValueError(f"unknown table {name!r}; expected one of {TABLES}")
    # oracle parity must hold even under a caller-provided vanilla session
    # (the driver builds its own SparkSession): timestamps are tz-naive in
    # the parquet files, so pin the session to UTC like DuckDB.
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    path = os.path.join(sf_dir, f"{name}.parquet")
    if name == "events":
        return _load_events(spark, path)
    return spark.read.parquet(path)


def table_files(sf_dir: str, table: str) -> list[str]:
    """Data files behind ``table`` at ``sf_dir`` (the single parquet file,
    or every part file of a directory table), sorted for a stable key."""
    p = os.path.join(os.path.realpath(sf_dir), f"{table}.parquet")
    if os.path.isdir(p):
        return sorted(
            os.path.join(p, f)
            for f in os.listdir(p)
            if f.endswith(".parquet") or f.startswith("part-")
        )
    return [p] if os.path.exists(p) else []


def table_fingerprint(sf_dir: str, table: str, *salt: str) -> str:
    """Corpus-identity key: names, sizes and mtimes of every data file of
    ``table`` — never a data scan. A part file rewritten in place changes
    the key even when its directory's own inode does not. ``salt`` folds in
    whatever else the keyed artifact depends on (an algorithm version and
    its constants)."""
    parts = list(salt)
    for f in table_files(sf_dir, table):
        st = os.stat(f)
        parts.append(f"{f}:{st.st_size}:{st.st_mtime_ns}")
    return hashlib.md5("|".join(parts).encode()).hexdigest()[:16]


def _load_events(spark: SparkSession, path: str) -> DataFrame:
    """Normalize events.ts to TIMESTAMP for every physical encoding the driver
    has shipped so far:

    - parquet TIMESTAMP(NANOS): Spark's reader rejects it outright, so read
      nanos as LONG (legacy conf) and truncate to microseconds — exactly what
      DuckDB does when it surfaces the column as TIMESTAMP (µs);
    - parquet µs tz-naive: Spark ≥4 reads it as TIMESTAMP_NTZ, which breaks
      ``unix_micros`` and streaming ``withWatermark``; cast to TIMESTAMP —
      value-identical under the UTC session pinned in ``load_table``;
    - parquet µs UTC-adjusted: already TIMESTAMP, pass through.

    Downstream code can therefore assume ``ts`` is always ``timestamp``."""
    from pyspark.sql import functions as F

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(path)
    ts_type = dict(df.dtypes).get("ts")
    if ts_type == "bigint":
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    elif ts_type == "timestamp_ntz":
        df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def load_tables(spark: SparkSession, sf_dir: str, *names: str) -> dict[str, DataFrame]:
    names = names or TABLES
    return {n: load_table(spark, sf_dir, n) for n in names}

