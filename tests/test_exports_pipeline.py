"""Differential test: the Spark exports pipeline vs the REFERENCE SQL.

The strongest parity check available: DuckDB executes the reference's own
``exports_results.sql`` (loaded at test time from /root/reference — never
copied into this repo), once per lender exactly as the reference's driver
loop does (run_exports_query.py:208-218), over the SAME generated
exports_deals fixture. The union of those per-lender results is the oracle
for our single-pass Spark plan.
"""

from __future__ import annotations

import os

import duckdb
import pandas as pd
import pytest

from monthly_report_etl_spark.operators import exports
from tests.utils import assert_frames_match

REFERENCE_SQL = "/root/reference/exports_results.sql"
VIEW_NAME = 'quickli_labs.main."exports-deals-view"'
START, END = "2025-02-01T00:00:00Z", "2025-09-01T00:00:00Z"


def run_reference_oracle(deals_path: str) -> pd.DataFrame:
    """Execute the reference query per-lender in DuckDB; union the results."""
    with open(REFERENCE_SQL) as f:
        sql_template = f.read()
    sql_template = sql_template.replace(VIEW_NAME, "exports_deals")

    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    con.execute(f"CREATE VIEW exports_deals AS SELECT * FROM read_parquet('{deals_path}')")
    lenders = [
        r[0]
        for r in con.execute(
            "SELECT DISTINCT exportedLender FROM exports_deals WHERE exportedLender IS NOT NULL"
        ).fetchall()
    ]
    frames = []
    for lender in lenders:
        q = sql_template.format(start_date=START, end_date=END, lender_name=lender)
        frames.append(con.execute(q).fetchdf())
    con.close()
    return pd.concat(frames, ignore_index=True)


@pytest.mark.skipif(not os.path.exists(REFERENCE_SQL), reason="reference not available")
def test_pipeline_matches_reference_sql(spark, fixture_dir):
    deals_path = os.path.join(fixture_dir, "exports_deals.parquet")
    expected = run_reference_oracle(deals_path)

    raw = spark.read.parquet(deals_path)
    actual = exports.exports_pipeline(raw, START, END).toPandas()

    assert len(actual) > 0
    # tz-aware oracle time (TIMESTAMPTZ in duckdb) vs session-UTC Spark time
    assert_frames_match(actual, expected)


def test_pipeline_covers_all_performance_labels(spark, fixture_dir):
    """The fixture must exercise every branch of the 7-way classifier."""
    deals_path = os.path.join(fixture_dir, "exports_deals.parquet")
    raw = spark.read.parquet(deals_path)
    result = exports.exports_pipeline(raw, START, END)
    labels = {r[0] for r in result.select("performance").distinct().collect()}
    expected_labels = {
        "Secondary Export Deals",
        "Not Available Scenarios",
        "Failed In Scope Deals",
        "Failed Out of Scope Deals",
        "Export Winner Deals",
        "Deals Not Exported",
    }
    missing = expected_labels - labels
    assert not missing, f"classifier branches never exercised: {missing}"
    assert labels <= set(exports.PERFORMANCE_LABELS)
