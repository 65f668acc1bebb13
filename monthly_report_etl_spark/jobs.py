"""Operational entry points — the reference's two scripts as engine jobs.

``run_export_job``  ≙ scripts/run_exports_query.py:main (S5 sink: one TSV
per lender, QUOTE_ALL/BOM/null-as-empty, validated read-back).
``run_merge_job``   ≙ scripts/merge_all_lenders.py:main (S4/U1/S6: read the
per-lender directory as one table, re-infer ``time``, single merged TSV).

Differences by design (SURVEY §2.12): the export job is ONE partitioned
write instead of ~48 sequential per-lender queries, and the merge job is a
directory scan — Spark unions natively. Validation (S7) is a data pass: it
re-reads every byte the sink wrote, once, with both checks riding that
scan.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from monthly_report_etl_spark.config import PipelineConfig
from monthly_report_etl_spark.plans import monthly_report
from monthly_report_etl_spark.schemas import COMPETITOR_LIST_SCHEMA
from monthly_report_etl_spark.sources import (
    read_lookup_csv,
    read_tsv_directory,
    write_tsv,
)


def run_export_job(
    spark: SparkSession,
    deals_path: str,
    competitor_csv: str,
    output_dir: str,
    config: PipelineConfig | None = None,
    parquet_dir: str | None = None,
) -> DataFrame:
    """Full monthly report → per-lender TSV directory (S5 contract).

    With ``parquet_dir``, additionally writes the report as parquet
    through ``write_parquet_sized`` over a staged copy: the analytics copy
    downstream Spark/DuckDB consumers scan, with file count derived from
    the staged output's ACTUAL bytes so a wide-parallelism run can't
    spray thousands of KB-sized files (the small-files guard a 100 TB
    pipeline needs on every long-lived dataset — and a computed plan's
    optimizer estimate, a join product, can't be trusted for it).

    Dual-sink economy (r7): the report plan is computed ONCE. When both
    sinks are requested, the result is staged as parquet first and BOTH
    the TSV write and the sized parquet write read the staged scan —
    the naive ``write_tsv(report); write_parquet_sized(report)``
    sequence executed the full join/agg plan twice, which at 100 TB
    doubles the dominant cost for a report-sized output.

    Returns the report DataFrame (lazy; the writes are the only actions).
    """
    import shutil

    from monthly_report_etl_spark.sources.parquet import write_parquet_sized

    raw = spark.read.parquet(deals_path)
    comp = read_lookup_csv(spark, competitor_csv, COMPETITOR_LIST_SCHEMA)
    report = monthly_report(raw, comp, config or PipelineConfig())
    if parquet_dir is None:
        write_tsv(report, output_dir, partition_by="associated_lender", bom=True)
        validate_tsv_output(spark, output_dir)
        return report
    staging = parquet_dir.rstrip("/") + "__staging"
    report.write.mode("overwrite").parquet(staging)
    try:
        staged = spark.read.parquet(staging)

        # Dual-sink overlap (r21, guide §2.6): the TSV chain (write +
        # S7 read-back validation) and the sized parquet write are
        # INDEPENDENT consumers of the staged bytes — they touch
        # disjoint output dirs and depend only on the staging write
        # above. Submitting them from two driver threads lets the sized
        # writer's narrow phases (its size-derived repartition write is
        # one task for a report-sized output) back-fill executors the
        # TSV chain leaves idle, instead of serializing ~2 s of
        # single-task wall after the TSV chain. Spark's scheduler runs
        # concurrent driver-thread actions FIFO, which is exactly the
        # back-fill behavior wanted; outputs are byte-identical because
        # the sinks were already independent.
        def _tsv_chain() -> None:
            write_tsv(
                staged, output_dir, partition_by="associated_lender", bom=True
            )
            validate_tsv_output(spark, output_dir)

        def _parquet_chain() -> None:
            write_parquet_sized(staged, parquet_dir)

        from concurrent.futures import ThreadPoolExecutor

        with ThreadPoolExecutor(max_workers=2) as pool:
            futures = [pool.submit(_tsv_chain), pool.submit(_parquet_chain)]
            for f in futures:
                f.result()  # join both; propagate the first failure
    finally:
        # local-filesystem staging cleanup; on an object store the
        # staging prefix would get a lifecycle rule instead
        shutil.rmtree(staging, ignore_errors=True)
    return report


def run_merge_job(spark: SparkSession, output_dir: str, merged_dir: str) -> DataFrame:
    """Union the per-lender TSV directory into one merged file (S4/U1/S6).

    All-string read + ``to_timestamp`` re-inference of ``time`` mirrors
    merge_all_lenders.py:41-59 (the ``partitionBy`` layout moves
    ``associated_lender`` into the directory key; the read restores it).
    """
    df = read_tsv_directory(spark, output_dir, skip_bad_files=True)
    if "time" in df.columns:
        df = df.withColumn("time", F.to_timestamp("time"))
    write_tsv(df, merged_dir, single_file=True, bom=True)
    validate_tsv_output(spark, merged_dir)
    return df


def validate_tsv_output(spark: SparkSession, path: str) -> None:
    """S7: read-back validation — header arity vs data arity, rows > 0.

    Both metrics ride ONE pass via the Observation API (accumulator-backed
    side metrics on the scan itself) instead of separate count jobs — the
    pattern for data-quality counters on 100 TB writes, where a second
    validation scan is a real cost."""
    from pyspark.sql import Observation

    back = read_tsv_directory(spark, path)
    n_cols = len(back.columns)
    if n_cols == 0:
        raise ValueError(f"no columns in written output at {path}")
    all_null = (
        sum((F.col(c).isNull().cast("int") for c in back.columns), F.lit(0)) == n_cols
    )
    obs = Observation("tsv_validation")
    back.observe(
        obs,
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(all_null.cast("int")).alias("n_allnull"),
    ).write.mode("overwrite").format("noop").save()
    metrics = obs.get
    if metrics["n_rows"] == 0:
        raise ValueError(f"written output at {path} is empty")
    if metrics["n_allnull"]:
        raise ValueError(
            f"{metrics['n_allnull']} fully-null rows in {path} (arity mismatch?)"
        )


def main() -> None:  # pragma: no cover - thin CLI
    import argparse

    from monthly_report_etl_spark.session import get_spark

    p = argparse.ArgumentParser(description="monthly report export + merge")
    p.add_argument("--deals", required=True)
    p.add_argument("--competitors", required=True)
    p.add_argument("--output-dir", default="output")
    p.add_argument("--merged-dir", default="result")
    p.add_argument("--start-date", default=PipelineConfig.start_date)
    p.add_argument("--end-date", default=PipelineConfig.end_date)
    p.add_argument("--report-date", default=PipelineConfig.report_date)
    args = p.parse_args()
    spark = get_spark(app_name="monthly_report_job")
    cfg = PipelineConfig(args.start_date, args.end_date, args.report_date)
    run_export_job(spark, args.deals, args.competitors, args.output_dir, cfg)
    run_merge_job(spark, args.output_dir, os.path.join(args.merged_dir))
    spark.stop()


if __name__ == "__main__":  # pragma: no cover
    main()
