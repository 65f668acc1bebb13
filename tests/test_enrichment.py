"""Differential tests for the enrichment stage (tier join + rank columns).

Oracle: the pandas enrichment re-expressed as ANSI SQL in DuckDB (rank
window + conditional-aggregation pivot), including pandas' NaN-group-key
drop semantics (WHERE Tier IS NOT NULL). Its ``ref`` input is either the
reference per-lender SQL union (tests/test_exports_pipeline.py, when the
reference is present) or Spark's own ``exports_pipeline`` output, which
isolates the enrich/rank tail.
"""

from __future__ import annotations

import os
from datetime import datetime

import duckdb
import pandas as pd
import pytest

from monthly_report_etl_spark.config import PipelineConfig
from monthly_report_etl_spark.fixtures import write_fixture
from monthly_report_etl_spark.operators import exports
from monthly_report_etl_spark.operators.enrich import (
    add_rank_columns,
    clean_for_export,
    enrich_with_tiers,
)
from monthly_report_etl_spark.schemas import COMPETITOR_LIST_SCHEMA
from monthly_report_etl_spark.sources import read_lookup_csv
from tests.test_exports_pipeline import END, REFERENCE_SQL, START, run_reference_oracle
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


def run_enrich_oracle(ref: pd.DataFrame, comp: pd.DataFrame, config: PipelineConfig):
    """``ENRICH_ORACLE_SQL`` in DuckDB over the ``ref`` rows and the
    competitor list."""
    cur, m1, m2 = config.month_offsets()
    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    con.register("ref", ref)
    con.register("comp", comp)
    fmt = "%Y-%m-%d 00:00:00+00"
    expected = con.execute(
        ENRICH_ORACLE_SQL.format(m0=cur.strftime(fmt), m1=m1.strftime(fmt), m2=m2.strftime(fmt))
    ).fetchdf()
    con.close()
    return expected


def read_comp_oracle(comp_path: str) -> pd.DataFrame:
    """The competitor list as DuckDB's own CSV reader sees it, independent
    of ``read_lookup_csv`` (the fixture writes it with a UTF-8 BOM)."""
    return duckdb.sql(f"SELECT * FROM read_csv('{comp_path}', header=true)").df()


def _enrich(df, comp, config):
    return add_rank_columns(enrich_with_tiers(df, comp), config)


@pytest.mark.skipif(not os.path.exists(REFERENCE_SQL), reason="reference not available")
def test_enrichment_matches_oracle(spark, fixture_dir):
    deals_path = os.path.join(fixture_dir, "exports_deals.parquet")
    comp_path = os.path.join(fixture_dir, "competitor_list.csv")
    config = PipelineConfig()

    ref = run_reference_oracle(deals_path)
    expected = run_enrich_oracle(ref, read_comp_oracle(comp_path), config)

    comp = read_lookup_csv(spark, comp_path, COMPETITOR_LIST_SCHEMA)
    raw = spark.read.parquet(deals_path)
    report = exports.exports_pipeline(raw, config.start_date, config.end_date)
    actual = _enrich(report, comp, config).toPandas()

    assert len(actual) == len(ref)  # enrichment never changes cardinality
    assert_frames_match(actual, expected)


@pytest.mark.parametrize("seed", [42, 7])
def test_enrich_tail_matches_oracle_on_spark_report(spark, tmp_path, seed):
    """The enrich/rank tail against the SQL oracle, both fed Spark's own
    ``exports_pipeline`` output — runs without the reference SQL. The
    oracle reads the competitor CSV with DuckDB, not ``read_lookup_csv``."""
    deals_path, comp_path = write_fixture(str(tmp_path), n_scenarios=300, seed=seed)
    config = PipelineConfig()
    raw = spark.read.parquet(deals_path)
    report = exports.exports_pipeline(raw, START, END).localCheckpoint()
    comp = read_lookup_csv(spark, comp_path, COMPETITOR_LIST_SCHEMA)

    ref = report.toPandas()
    expected = run_enrich_oracle(ref, read_comp_oracle(comp_path), config)
    actual = _enrich(report, comp, config).toPandas()

    assert len(actual) == len(ref) > 0
    assert actual["rank_in_tier_one_month"].notna().any()
    assert_frames_match(actual, expected)


def test_enrich_tail_rank_corners_match_oracle(spark):
    """Hand-built rank corners against the SQL oracle. The report month is
    2025-08, so the lagged months are 2025-07 and 2025-06."""
    t = datetime
    rows = [
        # tier T1, July: A and B tie on 3, C's group has only NULL ids
        # (count 0, still ranked: 3rd), so a "count > 0" test misranks it
        *[(t(2025, 7, d), f"a{d}", "A") for d in (1, 2, 3)],
        *[(t(2025, 7, d), f"b{d}", "B") for d in (4, 5, 6)],
        (t(2025, 7, 7), None, "C"),
        (t(2025, 7, 8), None, "C"),
        # June: A's first instant is inside the window; B's row one
        # microsecond earlier (May) is outside it
        (t(2025, 6, 1), "a6", "A"),
        (t(2025, 6, 30, 23, 59, 59, 999999), "a7", "A"),
        (t(2025, 5, 31, 23, 59, 59, 999999), "b0", "B"),
        (t(2025, 6, 15), "c0", "C"),
        (t(2025, 6, 16), "c1", "C"),
        # D only in the current month: 0 / 0
        (t(2025, 8, 2), "d0", "D"),
        # E only outside the window: NULL ranks
        (t(2025, 5, 2), "e0", "E"),
        (t(2025, 9, 1), "e1", "E"),
        # X is not on the competitor list (NULL Tier); '' is the
        # pipeline's NULL-lender placeholder
        (t(2025, 7, 9), "x0", "X"),
        (t(2025, 7, 10), "n0", ""),
        # tier T2: F alone in July, G only in June
        (t(2025, 7, 11), "f0", "F"),
        (t(2025, 6, 12), "g0", "G"),
    ]
    report = spark.createDataFrame(
        rows, "time timestamp, scenarioId string, exportedLender string"
    )
    tiers = {"A": "T1", "B": "T1", "C": "T1", "D": "T1", "E": "T1", "F": "T2", "G": "T2"}
    comp = spark.createDataFrame(
        [(ln, "cat", tier, f"{tier} cat", "img") for ln, tier in tiers.items()],
        COMPETITOR_LIST_SCHEMA,
    )
    config = PipelineConfig()

    expected = run_enrich_oracle(report.toPandas(), comp.toPandas(), config)
    actual = _enrich(report, comp, config).toPandas()
    assert_frames_match(actual, expected)

    ranks = (
        actual.groupby("exportedLender")[["rank_in_tier_one_month", "rank_in_tier_two_months"]]
        .first()
        .to_dict("index")
    )
    assert ranks["C"]["rank_in_tier_one_month"] == 3
    assert ranks["D"]["rank_in_tier_one_month"] == 0
    assert pd.isna(ranks["E"]["rank_in_tier_one_month"])
    assert pd.isna(ranks["X"]["rank_in_tier_one_month"])


def test_clean_for_export(spark, fixture_dir):
    deals_path = os.path.join(fixture_dir, "exports_deals.parquet")
    comp_path = os.path.join(fixture_dir, "competitor_list.csv")
    config = PipelineConfig()
    raw = spark.read.parquet(deals_path)
    comp = read_lookup_csv(spark, comp_path, COMPETITOR_LIST_SCHEMA)
    report = exports.exports_pipeline(raw, config.start_date, config.end_date)
    cleaned = clean_for_export(_enrich(report, comp, config)).toPandas()

    # time rendered like pandas astype(str) on tz-naive datetimes
    assert cleaned["time"].str.match(r"^\d{4}-\d{2}-\d{2} \d{2}:\d{2}:\d{2}$").all()
    # NULL loanPurpose → literal 'None' (pandas astype(str) quirk, :60)
    assert (cleaned["loanPurpose"] == "None").any()
    # no TSV-hostile characters anywhere in the cleaned string columns
    for c in ["associated_lender", "exportedLender", "performance", "scenarioId"]:
        assert not cleaned[c].str.contains(r'[\[\]\{\}"\\,]', regex=True).any()
