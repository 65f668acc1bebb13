"""Operational entry points — the reference's two scripts as engine jobs.

``run_export_job``  ≙ scripts/run_exports_query.py:main (S5 sink: one TSV
per lender, QUOTE_ALL/BOM/null-as-empty).
``run_merge_job``   ≙ scripts/merge_all_lenders.py:main (S4/U1/S6: read the
per-lender directory as one table, re-infer ``time``, single merged TSV).

Differences by design (SURVEY §2.12): the export job runs the report plan
once, as one parquet write that is also its parquet copy, and writes the
per-lender TSV from those files, instead of ~48 sequential per-lender
queries; the merge job is a directory scan — Spark unions natively. The
merge scans the report once: a corrupt record fails its write before
anything is published, and only then does the bad-file probe run, to drop
every file that holds one and merge again. Validation (S7) is not a data pass: each job counts the rows
of its own write with an ``Observation`` and fails on zero, and the TSV
sink always writes the header. Every output is published by rename, so a
failed run leaves the previous outputs in place.
"""

from __future__ import annotations

import contextlib
import os
import tempfile
from collections.abc import Iterator

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from monthly_report_etl_spark.config import PipelineConfig
from monthly_report_etl_spark.plans import monthly_report
from monthly_report_etl_spark.schemas import COMPETITOR_LIST_SCHEMA
from monthly_report_etl_spark.sources import (
    read_lookup_csv,
    read_tsv_directory,
    write_tsv,
)
from monthly_report_etl_spark.sources.csv import CORRUPT_RECORD, _tsv_reader
from monthly_report_etl_spark.sources.publish import staged_publish

# the error the merged write fails with on a corrupt record; only this
# failure starts the bad-file probe
_CORRUPT_REPORT = "corrupt record in the per-lender report"


def run_export_job(
    spark: SparkSession,
    deals_path: str,
    competitor_csv: str,
    output_dir: str,
    config: PipelineConfig | None = None,
    parquet_dir: str | None = None,
) -> DataFrame:
    """Full monthly report → per-lender TSV directory (S5 contract), plus
    its parquet copy when ``parquet_dir`` is given.

    One path for either: the report plan runs once, as one parquet write
    into a hidden temporary directory, and an ``Observation`` on that write
    counts its rows. An empty report raises ``ValueError`` before the TSV
    sink is touched, so last month's outputs stay as they were. The TSV
    sink then reads the staged files. With ``parquet_dir``, the staged
    tree IS the parquet copy: it is built in a hidden sibling of
    ``parquet_dir`` and renamed in only after the TSV publish, so a failure
    anywhere leaves both previous outputs in place. Without, it is built
    in a hidden sibling of ``output_dir`` and removed on exit. The plan
    ends in ``repartition("associated_lender")`` and a sort within
    partitions, so the copy holds at most ``spark.sql.shuffle.partitions``
    files, each lender's rows in one of them, ordered by
    (``associated_lender``, ``scenarioId``).

    Returns the report DataFrame (lazy; the writes are the only actions).
    """
    raw = spark.read.parquet(deals_path)
    comp = read_lookup_csv(spark, competitor_csv, COMPETITOR_LIST_SCHEMA)
    report = monthly_report(raw, comp, config or PipelineConfig())
    rows = Observation("export_rows")
    stage = staged_publish(parquet_dir) if parquet_dir is not None else _scratch_beside(output_dir)
    with stage as staged:
        report.observe(rows, F.count(F.lit(1)).alias("n")).write.parquet(staged)
        if rows.get["n"] == 0:
            raise ValueError(f"the report for {output_dir} has no rows; nothing written")
        write_tsv(
            spark.read.parquet(staged), output_dir, partition_by="associated_lender", bom=True
        )
    return report


@contextlib.contextmanager
def _scratch_beside(path: str) -> Iterator[str]:
    """Yield a path to build a tree at, inside a hidden temporary sibling
    of ``path`` that is removed on exit: ``staged_publish`` without the
    publish."""
    parent, name = os.path.split(os.path.abspath(path))
    os.makedirs(parent, exist_ok=True)
    with tempfile.TemporaryDirectory(prefix=f".{name}.", dir=parent) as tmp:
        yield os.path.join(tmp, "new")


def run_merge_job(spark: SparkSession, output_dir: str, merged_dir: str) -> DataFrame:
    """Union the per-lender TSV directory into one merged file (S4/U1/S6).

    All-string read + ``to_timestamp`` re-inference of ``time`` mirrors
    merge_all_lenders.py:41-59 (the ``partitionBy`` layout moves
    ``associated_lender`` into the directory key; the read restores it).

    A clean report is scanned once: a header pass names the columns, and
    the merged write reads every byte at full width with a corrupt-record
    column that fails the write on its first non-NULL value, before
    ``write_tsv`` publishes, so no null-filled corrupt row is ever visible.
    Only that failure starts the fallback, the reference's skip rule
    (merge_all_lenders.py:46-49): ``read_tsv_directory(skip_bad_files=True)``
    drops every file that holds a corrupt record, and the merge is written
    again. Any other failure propagates. An ``Observation`` on the merged
    write counts its rows; a merge that wrote none raises ``ValueError``.
    """
    columns = _tsv_reader(spark).csv(output_dir).columns
    scan = _tsv_reader(spark, columns, corrupt_record=True).csv(output_dir)
    guarded = scan.filter(
        F.when(F.col(CORRUPT_RECORD).isNotNull(), F.raise_error(F.lit(_CORRUPT_REPORT)))
        .otherwise(True)
    ).drop(CORRUPT_RECORD)
    try:
        _write_merged(_with_time(guarded), merged_dir)
    except Exception as exc:
        if _CORRUPT_REPORT not in str(exc):
            raise
    else:
        # the report is clean, so the merged rows are its plain read; the
        # guarded frame is not returned, because a count of it would prune
        # its scan to the corrupt-record column alone, which Spark refuses
        return _with_time(read_tsv_directory(spark, output_dir, columns=columns))
    df = _with_time(read_tsv_directory(spark, output_dir, columns=columns, skip_bad_files=True))
    _write_merged(df, merged_dir)
    return df


def _with_time(df: DataFrame) -> DataFrame:
    """The reference's re-inference of ``time`` on the all-string read."""
    return df.withColumn("time", F.to_timestamp("time")) if "time" in df.columns else df


def _write_merged(df: DataFrame, merged_dir: str) -> None:
    """Write ``df`` as the single merged TSV; raise ``ValueError`` if that
    wrote no rows."""
    rows = Observation("merged_rows")
    write_tsv(
        df.observe(rows, F.count(F.lit(1)).alias("n")), merged_dir, single_file=True, bom=True
    )
    if rows.get["n"] == 0:
        raise ValueError(f"merged output at {merged_dir} has no rows")


def validate_tsv_output(spark: SparkSession, path: str) -> None:
    """Read-back check of a written TSV output: ≥1 column, rows > 0, no
    row whose every column is NULL.

    Neither job runs it: each counts the rows of its own write, and the
    sink always writes the header. It stays as a standalone probe that
    re-reads every byte, with all its metrics on one ``Observation`` of
    that scan.
    """
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
    run_merge_job(spark, args.output_dir, args.merged_dir)
    spark.stop()


if __name__ == "__main__":  # pragma: no cover
    main()
