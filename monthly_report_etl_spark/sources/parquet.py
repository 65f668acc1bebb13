"""Parquet sources.

The reference's only fact source is a remote DuckDB/MotherDuck view
(/root/reference/exports_results.sql:44, run_exports_query.py:199). The
Spark-native equivalent is a columnar parquet scan: filters and column
pruning reach the scan via Catalyst (`PushedFilters` / `ReadSchema`), and
partition pruning applies when the dataset is laid out by date — the natural
layout for a monthly-window pipeline at 100 TB.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

TESTDATA_TABLES = (
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


def read_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one driver-generated table (TESTDATA.md) as a DataFrame."""
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))


def read_exports_deals(spark: SparkSession, path: str) -> DataFrame:
    """Read an exports_deals fixture (FIXTURES.md §A1).

    Stands in for the MotherDuck view scan (S1, exports_results.sql:44).
    No ``.schema(...)`` override: parquet carries its own types, and passing
    a mismatched schema would disable vectorized reading for nested columns.
    """
    return spark.read.parquet(path)


def write_parquet_sized(
    df: DataFrame,
    path: str,
    target_file_mb: float = 128,
) -> int:
    """Write parquet with files sized toward ``target_file_mb`` — the
    small-files guard every 100 TB pipeline needs (a 1000-executor job
    writing its default shuffle partitioning produces tens of thousands
    of KB-sized files; listing + opening them then dominates downstream
    scans).

    File count is derived from the PLANNED logical size
    (``queryExecution.optimizedPlan().stats().sizeInBytes()`` — the same
    estimate AQE coalescing uses, available without executing the query;
    for a plain scan it is exactly the source's on-disk footprint), then
    the write is repartitioned to that many output tasks. Returns the
    file count used."""
    est_bytes = int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    target = target_file_mb * 1024 * 1024
    n_files = max(1, int(-(-est_bytes // target)))
    df.repartition(n_files).write.mode("overwrite").parquet(path)
    return n_files

