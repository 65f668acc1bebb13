"""Declared schemas for the engine's tables.

The reference declares no schemas anywhere (types are inferred by DuckDB /
pandas — SURVEY.md §1.2); at 100 TB scale inference is both wrong (a sampled
scan) and slow, so the text sources are parsed with an explicit schema: the
``results`` JSON with ``RESULTS_ARRAY_SCHEMA`` and the competitor CSV with
``COMPETITOR_LIST_SCHEMA``. ``run_export_job`` reads the deals parquet with
the file's own schema (parquet stores it in the footer, so nothing is
inferred); ``EXPORTS_DEALS_SCHEMA`` states that table's columns for the
tests that build it in memory.

``RESULT_SCHEMA`` is the element type of the ``results`` JSON array
(/root/reference/exports_results.sql:36-42,88-91,159-174). Leaves stay
``StringType`` deliberately: the reference probes them with
``json_extract_string`` and compares ``'true'/'false'/'null'`` AS STRINGS
(exports_results.sql:89-91,160-162,165-171). Parsing to booleans would
change NULL/`'null'` behavior.
"""

from __future__ import annotations

from pyspark.sql import types as T

# Element schema of exports_deals.results — exports_results.sql:36-42
PERFORMANCE_SCHEMA = T.StructType(
    [
        T.StructField("lenderFailedServicing", T.StringType()),  # sql:165
        T.StructField("lenderFailedInScope", T.StringType()),  # sql:166
        T.StructField("lenderFailedOutOfScope", T.StringType()),  # sql:167
        T.StructField("lenderPassedServicing", T.StringType()),  # sql:170
        T.StructField("lenderExportWinner", T.StringType()),  # sql:171
    ]
)

RESULT_SCHEMA = T.StructType(
    [
        T.StructField("lenderName", T.StringType()),  # sql:38,125,139,159
        T.StructField("doesService", T.StringType()),  # 'true'/'false' — sql:89,160
        T.StructField("maxBorrowingCapacity", T.StringType()),  # sql:90-91,161-162
        T.StructField("performance", PERFORMANCE_SCHEMA),  # sql:140
    ]
)

RESULTS_ARRAY_SCHEMA = T.ArrayType(RESULT_SCHEMA)

# The fact table behind DuckDB view quickli_labs.main."exports-deals-view"
# (exports_results.sql:44); column usage cited in FIXTURES.md §A1.
EXPORTS_DEALS_SCHEMA = T.StructType(
    [
        T.StructField("time", T.TimestampType()),
        T.StructField("scenarioId", T.StringType()),
        T.StructField("isValidExport", T.BooleanType()),
        T.StructField("exportedLender", T.StringType()),  # nullable; NULL→'' load-bearing
        T.StructField("results", T.StringType()),  # JSON array<RESULT_SCHEMA> as string
        T.StructField("primaryIncome", T.StringType()),
        T.StructField("rateType", T.StringType()),
        T.StructField("loanPurpose", T.StringType()),
        T.StructField("totalProposedLoanAmount", T.DoubleType()),
        T.StructField("applicantCount", T.IntegerType()),
        T.StructField("householdCount", T.IntegerType()),
        T.StructField("transactionType", T.StringType()),
        T.StructField("dependantsCount", T.IntegerType()),
        T.StructField("lvr", T.DoubleType()),
        T.StructField("lvrBucket", T.StringType()),
        T.StructField("applicantsWithHecs", T.IntegerType()),
        T.StructField("paygIncome", T.DoubleType()),
        T.StructField("weeklyRentalIncome", T.DoubleType()),
        T.StructField("selfEmployedIncome", T.DoubleType()),
    ]
)

# competitor-list.csv — 48-row lender→tier dimension (FIXTURES.md §A3)
COMPETITOR_LIST_SCHEMA = T.StructType(
    [
        T.StructField("Lender", T.StringType()),
        T.StructField("Category", T.StringType()),
        T.StructField("Tier", T.StringType()),
        T.StructField("Tier Category", T.StringType()),
        T.StructField("Link to Image", T.StringType()),
    ]
)
