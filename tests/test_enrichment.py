"""Differential tests for the enrichment stage (tier join + rank columns).

Oracle: the reference per-lender SQL union (tests/test_exports_pipeline.py)
registered in DuckDB, with the pandas enrichment re-expressed as ANSI SQL
(rank window + conditional-aggregation pivot) — including pandas'
NaN-group-key drop semantics (WHERE Tier IS NOT NULL).
"""

from __future__ import annotations

import os

import duckdb
import pytest

from monthly_report_etl_spark.config import PipelineConfig
from monthly_report_etl_spark.operators.enrich import clean_for_export
from monthly_report_etl_spark.plans import monthly_report
from monthly_report_etl_spark.schemas import COMPETITOR_LIST_SCHEMA
from monthly_report_etl_spark.sources import read_lookup_csv
from tests.test_exports_pipeline import REFERENCE_SQL, run_reference_oracle
from tests.utils import assert_frames_match

ENRICH_ORACLE_SQL = """
WITH joined AS (
    SELECT r.*, c."Category", c."Tier", c."Tier Category", c."Link to Image"
    FROM ref r LEFT JOIN comp c ON r."exportedLender" = c."Lender"
),
counts AS (
    SELECT "Tier", "exportedLender",
           date_trunc('month', "time") AS month,
           count("scenarioId") AS scenario_count
    FROM joined
    WHERE date_trunc('month', "time")
          IN ('{m0}'::TIMESTAMPTZ, '{m1}'::TIMESTAMPTZ, '{m2}'::TIMESTAMPTZ)
      AND "Tier" IS NOT NULL AND "exportedLender" IS NOT NULL
    GROUP BY 1, 2, 3
),
ranked AS (
    SELECT *, rank() OVER (PARTITION BY "Tier", month
                           ORDER BY scenario_count DESC) AS rank_in_tier
    FROM counts
),
pivoted AS (
    SELECT "Tier", "exportedLender",
           coalesce(max(CASE WHEN month = '{m1}'::TIMESTAMPTZ THEN rank_in_tier END), 0)
               AS rank_in_tier_one_month,
           coalesce(max(CASE WHEN month = '{m2}'::TIMESTAMPTZ THEN rank_in_tier END), 0)
               AS rank_in_tier_two_months
    FROM ranked GROUP BY 1, 2
)
SELECT j.*, p.rank_in_tier_one_month, p.rank_in_tier_two_months
FROM joined j
LEFT JOIN pivoted p ON j."Tier" IS NOT DISTINCT FROM p."Tier"
                   AND j."exportedLender" = p."exportedLender"
"""


@pytest.mark.skipif(not os.path.exists(REFERENCE_SQL), reason="reference not available")
def test_enrichment_matches_oracle(spark, fixture_dir):
    deals_path = os.path.join(fixture_dir, "exports_deals.parquet")
    comp_path = os.path.join(fixture_dir, "competitor_list.csv")
    config = PipelineConfig()
    cur, m1, m2 = config.month_offsets()

    ref = run_reference_oracle(deals_path)
    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    con.register("ref", ref)
    con.execute(f"CREATE VIEW comp AS SELECT * FROM read_csv('{comp_path}', header=true)")
    fmt = "%Y-%m-%d 00:00:00+00"
    expected = con.execute(
        ENRICH_ORACLE_SQL.format(m0=cur.strftime(fmt), m1=m1.strftime(fmt), m2=m2.strftime(fmt))
    ).fetchdf()
    con.close()

    raw = spark.read.parquet(deals_path)
    comp = read_lookup_csv(spark, comp_path, COMPETITOR_LIST_SCHEMA)
    actual = monthly_report(raw, comp, config, clean=False).toPandas()

    assert len(actual) == len(ref)  # enrichment never changes cardinality
    assert_frames_match(actual, expected)


def test_clean_for_export(spark, fixture_dir):
    deals_path = os.path.join(fixture_dir, "exports_deals.parquet")
    comp_path = os.path.join(fixture_dir, "competitor_list.csv")
    raw = spark.read.parquet(deals_path)
    comp = read_lookup_csv(spark, comp_path, COMPETITOR_LIST_SCHEMA)
    df = monthly_report(raw, comp, PipelineConfig(), clean=False)
    cleaned = clean_for_export(df).toPandas()

    # time rendered like pandas astype(str) on tz-naive datetimes
    assert cleaned["time"].str.match(r"^\d{4}-\d{2}-\d{2} \d{2}:\d{2}:\d{2}$").all()
    # NULL loanPurpose → literal 'None' (pandas astype(str) quirk, :60)
    assert (cleaned["loanPurpose"] == "None").any()
    # no TSV-hostile characters anywhere in the cleaned string columns
    for c in ["associated_lender", "exportedLender", "performance", "scenarioId"]:
        assert not cleaned[c].str.contains(r'[\[\]\{\}"\\,]', regex=True).any()
