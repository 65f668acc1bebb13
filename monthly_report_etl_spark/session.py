"""SparkSession factory with engine-wide defaults.

The reference delegates all execution to DuckDB + pandas inside one process
(/root/reference/scripts/run_exports_query.py:199,222). Here the equivalent
"engine bring-up" is a SparkSession tuned for correctness-critical session
options (UTC timestamps, non-ANSI casts so ``cast('double')`` null-fills like
``pd.to_numeric(errors='coerce')``) and scale-critical ones (AQE, Arrow).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "monthly_report_etl_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the session.

    Session-level semantics this engine relies on everywhere:

    * ``spark.sql.session.timeZone=UTC`` — the reference's timestamps are
      TIMESTAMPTZ normalized to UTC (run_exports_query.py:109-110); pinning
      UTC makes Spark's internal micros match the DuckDB oracle.
    * ``spark.sql.ansi.enabled=false`` — the reference coerces with
      ``pd.to_numeric(errors='coerce')`` (run_exports_query.py:69-71);
      non-ANSI ``cast`` nulls on failure instead of raising.
    * AQE on — runtime coalescing of the local shuffles (``shuffle_partitions``
      defaults to ``SPARK_GRAFT_CPUS``, the local core count) and skew-join
      splitting at cluster scale.
    * ``spark.sql.sources.parallelPartitionDiscovery.threshold=4096`` —
      Spark lists a set of paths with a distributed job (0.3–0.6 s each,
      for milliseconds of driver-side work on a local disk) once the set
      holds more paths than this (default 32). Reading the per-lender report
      lists its 48 lender directories, and CSV header inference lists its
      part files one by one: lenders × write tasks, about 190 at 4 cores and
      1,500 at 32. Above the default, each read of the report (the merge
      job's header pass and scan) started one such job per listing. 4096
      keeps these lists on the driver up to about 80 cores; a larger tree
      still lists in parallel.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = int(cpus)

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.ansi.enabled", "false")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.sources.parallelPartitionDiscovery.threshold", "4096")
    )
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
