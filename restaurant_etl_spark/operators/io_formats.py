"""Columnar/text format round-trips: the engine must read what it writes
(CSV with headers, JSON lines) with explicit schemas — the non-parquet
source surface (SURVEY §2A S7/S8 read side). Staged once per sf_dir under
the system temp dir; oracles read the original parquet, so a lossy
write/read would hash-mismatch."""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from restaurant_etl_spark.functions.money import sum_money_grid
from restaurant_etl_spark.operators.registry import register
from restaurant_etl_spark.sources.staging import stage_once
from restaurant_etl_spark.sources.tables import load_table, table_fingerprint


def _stage(spark: SparkSession, sf_dir: str, table: str, fmt: str) -> str:
    def build(scratch: str) -> None:
        out = os.path.join(scratch, "data")
        w = load_table(spark, sf_dir, table).write.mode("overwrite")
        if fmt == "csv":
            w.option("header", True).csv(out)
        elif fmt == "orc":
            w.orc(out)
        else:
            w.json(out)

    base = stage_once(
        f"io_{fmt}_{table}_{os.path.basename(os.path.normpath(sf_dir))}",
        table_fingerprint(sf_dir, table),
        build,
    )
    return os.path.join(base, "data")


@register(
    "source_csv_roundtrip",
    oracle="""
    SELECT c_mktsegment, count(*) AS n,
           CAST(sum(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE) AS total_bal
    FROM customer GROUP BY c_mktsegment
    """,
    category="relational",
)
def source_csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV sink → CSV source with an explicit schema (no inference job at
    scale) → aggregate; must equal the same aggregate on the parquet
    original. Doubles as a float-formatting fidelity check."""
    path = _stage(spark, sf_dir, "customer", "csv")
    schema = load_table(spark, sf_dir, "customer").schema
    back = spark.read.schema(schema).option("header", True).csv(path)
    return back.groupBy("c_mktsegment").agg(
        F.count("*").alias("n"), sum_money_grid("c_acctbal", "total_bal")
    )


@register(
    "source_json_roundtrip",
    oracle="""
    SELECT s_nationkey, count(*) AS n, round(max(s_acctbal), 2) AS max_bal
    FROM supplier GROUP BY s_nationkey
    """,
    category="relational",
)
def source_json_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON-lines sink → source round-trip with explicit schema."""
    path = _stage(spark, sf_dir, "supplier", "json")
    schema = load_table(spark, sf_dir, "supplier").schema
    back = spark.read.schema(schema).json(path)
    return back.groupBy("s_nationkey").agg(
        F.count("*").alias("n"), F.round(F.max("s_acctbal"), 2).alias("max_bal")
    )


@register(
    "source_orc_roundtrip",
    oracle="""
    SELECT o_orderpriority, count(*) AS n,
           CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS total
    FROM orders GROUP BY o_orderpriority
    """,
    category="relational",
)
def source_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC sink → source round-trip (the third columnar format after
    parquet, self-describing schema) → aggregate; must equal the parquet
    original. ORC shares the vectorized reader and predicate-pushdown path
    with parquet, so this also guards the non-default columnar codepath."""
    path = _stage(spark, sf_dir, "orders", "orc")
    back = spark.read.orc(path)
    return back.groupBy("o_orderpriority").agg(
        F.count("*").alias("n"), sum_money_grid("o_totalprice", "total")
    )


@register(
    "source_partitioned_pruned_read",
    oracle="""
    SELECT CAST(year(o_orderdate) AS INTEGER) AS yr,
           count(*) AS n,
           CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS total
    FROM orders WHERE o_orderstatus = 'F'
    GROUP BY 1
    """,
    category="relational",
)
def source_partitioned_pruned_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hive-partitioned write (partitionBy o_orderstatus) → read back with a
    partition-column filter → aggregate. The filter prunes whole directories
    before any file is opened (PartitionFilters in the scan node — the plan
    shape is asserted in tests/test_plans.py; THIS query puts the result
    under the value-hash gate). At 100 TB partition pruning is the first
    and cheapest scan reducer — it must also be value-correct."""

    def build(scratch: str) -> None:
        load_table(spark, sf_dir, "orders").write.mode("overwrite").partitionBy(
            "o_orderstatus"
        ).parquet(os.path.join(scratch, "data"))

    base = stage_once(
        f"io_part_orders_{os.path.basename(os.path.normpath(sf_dir))}",
        table_fingerprint(sf_dir, "orders"),
        build,
    )
    back = spark.read.parquet(os.path.join(base, "data"))
    return (
        back.filter(F.col("o_orderstatus") == "F")
        .groupBy(F.year("o_orderdate").cast("int").alias("yr"))
        .agg(F.count("*").alias("n"), sum_money_grid("o_totalprice", "total"))
    )


@register(
    "source_python_datasource",
    oracle="""
    WITH src AS (
        SELECT range AS doc_id,
               CASE range % 4 WHEN 0 THEN 'Appetizers' WHEN 1 THEN 'Mains'
                    WHEN 2 THEN 'Desserts' ELSE 'Drinks' END AS category,
               CAST(range % 500 AS DOUBLE) + (range % 4) * 0.25 AS price
        FROM range(0, 1000)
    )
    SELECT category,
           count(*) AS n_docs,
           round(sum(price), 2) AS total_price,
           min(doc_id) AS first_doc
    FROM src WHERE doc_id >= 200 AND doc_id < 900
    GROUP BY category
    """,
    category="sources",
)
def source_python_datasource(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 Python Data Source API end-to-end (sources/pyds.py): a
    custom DataSource with executor-side generation, partition planning,
    and doc_id range pushdown — the doc_id >= 200 / < 900 predicates are
    absorbed by pushFilters into the partition plan, so pruned ranges are
    never generated (tests/test_pyds.py asserts the partition count
    drops). The oracle replays the closed-form corpus from range().
    Prices step in exact quarters, so the float sum is binary-exact on
    both engines."""
    from restaurant_etl_spark.sources.pyds import register_once

    register_once(spark)
    df = spark.read.format("menu_corpus").option("n_docs", "1000").load()
    return (
        df.filter((F.col("doc_id") >= 200) & (F.col("doc_id") < 900))
        .groupBy("category")
        .agg(
            F.count("*").alias("n_docs"),
            F.round(F.sum("price"), 2).alias("total_price"),
            F.min("doc_id").alias("first_doc"),
        )
    )
