"""Parquet sources.

The reference's only fact source is a remote DuckDB/MotherDuck view
(/root/reference/exports_results.sql:44, run_exports_query.py:199). The
Spark-native equivalent is a columnar parquet scan, which the jobs open
with ``spark.read.parquet``: filters and column pruning reach the scan via
Catalyst (`PushedFilters` / `ReadSchema`), and partition pruning applies
when the dataset is laid out by date.

The export job's parquet copy is not written here: it is the report plan's
own staged write, published by rename (``jobs.run_export_job``).
``write_parquet_sized`` stays only for the benchmark's traced run.
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


def write_parquet_sized(
    df: DataFrame,
    path: str,
    target_file_mb: float = 128,
) -> int:
    """Write parquet with files sized toward ``target_file_mb``: the file
    count is derived from the PLANNED logical size
    (``queryExecution.optimizedPlan().stats().sizeInBytes()``; for a plain
    scan, the source's on-disk footprint), and the write is repartitioned
    to that many output tasks. Returns the file count used.

    No job calls it: the export's parquet copy is the report plan's staged
    write itself, at most ``spark.sql.shuffle.partitions`` files with each
    lender in one, which needs no second write or shuffle. It stays only
    because ``perfbench/trace_job.py`` times it, like
    ``jobs.validate_tsv_output``.
    """
    est_bytes = int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    target = target_file_mb * 1024 * 1024
    n_files = max(1, int(-(-est_bytes // target)))
    df.repartition(n_files).write.mode("overwrite").parquet(path)
    return n_files

