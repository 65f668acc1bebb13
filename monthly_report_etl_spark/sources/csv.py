"""CSV / TSV sources and sinks matching the reference's file contracts.

Three contracts (SURVEY.md §2.1):

* S3 — lookup CSV: ``competitor-list.csv`` comma CSV with a UTF-8 BOM
  (run_exports_query.py:223). Spark's CSV reader handles the BOM on the
  first column name via ``encoding``.
* S4 — directory-of-TSVs source: the merge job reads ``output/*.csv`` as
  all-string, tab-delimited, utf-8-sig, skipping unreadable files
  (merge_all_lenders.py:26,34-49). Spark reads the directory natively;
  every read of it takes its options from ``_tsv_reader``. A PERMISSIVE
  read null-fills malformed rows; ``read_tsv_directory(skip_bad_files=True)``
  drops every file that holds one, which is the merge job's fallback.
* S5/S6 — TSV sink: tab-delimited, QUOTE_ALL, ``''`` for NULL,
  ``%Y-%m-%d %H:%M:%S%z`` timestamps, ``\\n`` terminator, backslash escape,
  utf-8-sig BOM (run_exports_query.py:75-89, merge_all_lenders.py:63-77).
  Spark cannot emit a BOM itself, so ``write_tsv`` has Spark write into a
  hidden temporary directory and the driver copies every part file, BOM
  first, into the tree it then publishes by rename (``staged_publish``): a
  sequential pass over every byte written. For ``single_file=True`` that
  copy is the concatenation of the parts, which writes the BOM once.
"""

from __future__ import annotations

import logging
import os
import re
import shutil

from pyspark.sql import DataFrame, DataFrameReader, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from monthly_report_etl_spark.sources.publish import staged_publish

_LOG = logging.getLogger(__name__)

# pandas strftime '%Y-%m-%d %H:%M:%S%z' → Java pattern (+0000-style offset)
REFERENCE_TIMESTAMP_FORMAT = "yyyy-MM-dd HH:mm:ssZ"

_SINK_OPTIONS = {
    "sep": "\t",
    "header": "true",
    "quoteAll": "true",
    "nullValue": "",
    "emptyValue": "",
    "escape": "\\",
    "timestampFormat": REFERENCE_TIMESTAMP_FORMAT,
    "lineSep": "\n",
}

_BOM = b"\xef\xbb\xbf"
# the column a PERMISSIVE read puts a malformed row's raw text in
CORRUPT_RECORD = "_corrupt_record"
# Spark's part-file name: part-<task partition>-<job uuid>-c<file in task>.csv,
# with ".c" for "-c" in a partitioned write
_PART_NAME = re.compile(r"^part-(\d+)-.+[-.]c(\d+)\.csv$")


def read_lookup_csv(spark: SparkSession, path: str, schema: T.StructType | None = None) -> DataFrame:
    """S3: small dimension CSV (header, comma, possible BOM)."""
    reader = spark.read.option("header", True).option("encoding", "UTF-8")
    if schema is not None:
        reader = reader.schema(schema)
    else:
        reader = reader.option("inferSchema", False)  # all-string, like dtype=str
    return reader.csv(path)


def _tsv_reader(
    spark: SparkSession,
    columns: list[str] | None = None,
    corrupt_record: bool = False,
) -> DataFrameReader:
    """The one reader setup for the per-lender TSVs: header, tab, ``\\``
    escape, ``''`` as NULL, PERMISSIVE. With ``columns``, an explicit
    all-string schema in that order (plus a trailing ``CORRUPT_RECORD``
    column when ``corrupt_record``); without, every column read as string
    from the header."""
    reader = (
        spark.read.option("header", True)
        .option("sep", "\t")
        .option("nullValue", "")
        .option("mode", "PERMISSIVE")
        .option("escape", "\\")
    )
    if columns is None:
        return reader.option("inferSchema", False)
    fields = [T.StructField(c, T.StringType()) for c in columns]
    if corrupt_record:
        fields.append(T.StructField(CORRUPT_RECORD, T.StringType()))
        reader = reader.option("columnNameOfCorruptRecord", CORRUPT_RECORD)
    return reader.schema(T.StructType(fields))


def read_tsv_directory(
    spark: SparkSession,
    path: str,
    columns: list[str] | None = None,
    skip_bad_files: bool = False,
) -> DataFrame:
    """S4/U1: union-by-directory of per-lender TSVs, every column string.

    ``dtype=str`` + ``''``→NaN (merge_all_lenders.py:41-43) maps to an
    all-string schema with ``nullValue=''``.

    ``skip_bad_files=True`` reproduces the reference's per-file try/skip
    (merge_all_lenders.py:46-49 drops a whole unreadable CSV with a
    warning and continues): a distributed tagging pass marks corrupt
    records with their source file, only the tiny bad-FILE list crosses
    the driver, and every row from a bad file is excluded. It costs a full
    extra scan, so the merge job runs it only as a fallback, after its
    single guarded scan met a corrupt record. With the flag off,
    PERMISSIVE null-fills malformed rows in place.
    """
    if not skip_bad_files:
        return _tsv_reader(spark, columns).csv(path)
    if columns is None:
        # one header pass (schema inference off) establishes the column set;
        # the probe and the final read both take it as their schema
        columns = _tsv_reader(spark).csv(path).columns

    # Probe pass: re-read with an explicit corrupt-record column; a row that
    # fails tokenization (quote damage) or disagrees with the file's data
    # arity marks its FILE bad. Partition columns are subtracted from the
    # data schema by the reader, so the arity check is per-file-content, as
    # in the reference. Only distinct bad file NAMES cross the driver —
    # bounded by file count, never data.
    probe = _tsv_reader(spark, columns, corrupt_record=True).csv(path)
    # EVERY data column is referenced through the aggregate: CSV column
    # pruning re-scopes malformed-row detection to the required columns
    # only (a quote-broken tail column would go unnoticed), and a scan
    # reduced to the corrupt column alone is rejected at planning time
    # (UNSUPPORTED_FEATURE.QUERY_ONLY_CORRUPT_RECORD_COLUMN). Full-width
    # parsing is also the reference's semantics (pandas parses whole rows).
    # The per-file counts are discarded; only file names and one count row
    # per file exist beyond the scan.
    bad_files = [
        r["_src_file"]
        for r in probe.filter(F.col(CORRUPT_RECORD).isNotNull())
        .groupBy(F.input_file_name().alias("_src_file"))
        .agg(*[F.count(F.col(c)).alias(f"_n{i}") for i, c in enumerate(columns)])
        .collect()
    ]
    for f in sorted(bad_files):
        _LOG.warning("skipping unreadable TSV file (corrupt records): %s", f)

    out = _tsv_reader(spark, columns).csv(path)
    if bad_files:
        out = out.withColumn("_src_file", F.input_file_name()).filter(
            ~F.col("_src_file").isin(bad_files)
        ).drop("_src_file")
    return out


def write_tsv(
    df: DataFrame,
    path: str,
    partition_by: str | None = None,
    single_file: bool = False,
    bom: bool = False,
) -> None:
    """S5/S6: the reference's TSV sink contract.

    ``partition_by`` reproduces one-file-per-lender (S5) as a partitioned
    directory — at scale the partitioned write replaces the reference's
    48 sequential per-lender jobs. ``single_file=True`` reproduces the
    merged single-file contract (S6): every partition is written in
    parallel, and the driver concatenates the parts into one file holding
    the bytes one ``coalesce(1)`` task would write.

    Both layouts are published the same way. Spark writes into a hidden
    temporary sibling of ``path``; the driver copies each part file, the
    BOM first when asked, into a finished tree beside it (one output file
    per part at the same relative path, or the concatenation), moves
    Spark's ``_SUCCESS`` there, and only then swaps that tree in for
    ``path``. A failed write leaves the previous output in place, and the
    temporary directory is removed either way. ``path`` is a local
    filesystem path: the BOM and the concatenation are driver-side copies.
    """
    if single_file and partition_by:
        raise ValueError("single_file=True writes one file; it takes no partition_by")
    with staged_publish(path) as done:
        parts_dir = os.path.join(os.path.dirname(done), "parts")
        writer = df.write.options(**_SINK_OPTIONS)
        if partition_by:
            writer = writer.partitionBy(partition_by)
        writer.csv(parts_dir)
        parts = _part_files(parts_dir)
        # output file -> the parts it is made of, in order
        outputs = {parts[0]: parts} if single_file else {p: [p] for p in parts}
        os.mkdir(done)
        for out, sources in outputs.items():
            os.makedirs(os.path.dirname(os.path.join(done, out)), exist_ok=True)
            _concat(
                os.path.join(done, out),
                [os.path.join(parts_dir, p) for p in sources],
                bom=bom,
                # a newline inside a (quoted) column name makes the header span more lines
                header_lines=1 + sum(c.count("\n") for c in df.columns),
            )
            # the copy is all that is kept; dropping each part as it is copied
            # keeps the peak near two outputs (the new one and the previous)
            for p in sources:
                os.remove(os.path.join(parts_dir, p))
        os.replace(os.path.join(parts_dir, "_SUCCESS"), os.path.join(done, "_SUCCESS"))


def _part_files(root: str) -> list[str]:
    """Spark's part files under ``root``, as paths relative to it, ordered
    by directory, then task partition, then file within the task. Spark
    always writes part 0 of an unpartitioned write, even for no rows."""
    found = []
    for folder, _, names in os.walk(root):
        rel = os.path.relpath(folder, root)
        for n in names:
            m = _PART_NAME.match(n)
            if m:
                key = (rel, int(m[1]), int(m[2]))
                found.append((key, os.path.normpath(os.path.join(rel, n))))
    return [p for _, p in sorted(found)]


def _concat(dst: str, parts: list[str], bom: bool, header_lines: int = 0) -> None:
    """Write a new file ``dst``: the BOM if asked, then each of ``parts`` in
    order, skipping the first ``header_lines`` lines of every part after the
    first. Chunked, so the driver holds one chunk whatever the part size."""
    with open(dst, "wb") as out:
        if bom:
            out.write(_BOM)
        for i, part in enumerate(parts):
            with open(part, "rb") as src:
                if i:
                    for _ in range(header_lines):
                        src.readline()
                shutil.copyfileobj(src, out)
