"""Post-query enrichment — the reference's pandas stage, Spark-first.

Mirrors /root/reference/scripts/run_exports_query.py:

* ``enrich_with_tiers``   — the competitor-list left join (:223-225, J1)
* ``add_rank_columns``    — prepare_rank_data (:106-168): 3-month filter,
  per-(Tier, lender) counts for each lagged month, competition rank,
  merge-back
* ``clean_for_export``    — clean_dataframe (:47-73): stringify time,
  strip TSV-hostile characters, numeric coercion

All lazy DataFrame ops; the ranks are windows over one aggregate whose
size is bounded by (#tiers x #lenders), so the join back to the fact rows
is a broadcast — no extra big-side shuffle at any scale.

pandas semantics that are easy to get wrong (reproduced deliberately):

* ``groupby([...])`` drops groups with a NaN key → rows whose lender is
  missing from the competitor list (NULL Tier) are EXCLUDED from ranking;
  after the left merge-back their rank columns are NULL.
* ``pivot_table(fill_value=0)`` zero-fills months a (Tier, lender) pair
  missed, but pairs absent from the whole 3-month window get NULL ranks
  (they're not in the pivot at all). No pivot is built here: the one
  aggregate holds a row per pair seen in the window, with 0 for a missed
  month.
* ``rank(ascending=False, method='min')`` is SQL ``RANK() OVER (... DESC)``
  exactly (competition rank).
* ``.astype(str)`` turns None into the literal string 'None' before the
  character strip (:60).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from monthly_report_etl_spark.config import PipelineConfig

STRING_CLEAN_COLUMNS = [
    "associated_lender",
    "exportedLender",
    "primaryIncome",
    "rateType",
    "loanPurpose",
    "lvrBucket",
    "transactionType",
    "performance",
    "scenarioId",
]

NUMERIC_COERCE_COLUMNS = [
    "totalProposedLoanAmount",
    "lvr",
    "paygIncome",
    "weeklyRentalIncome",
    "selfEmployedIncome",
    "count_all_loan_purpose",
    "count_all_unique_scenario_id",
    "sum_all_total_proposed_loan_amount",
]

# Tableau's TSV parser chokes on these — run_exports_query.py:60
_STRIP_PATTERN = r'[\[\]\{\}"\\,]'


def enrich_with_tiers(df: DataFrame, competitor_df: DataFrame) -> DataFrame:
    """J1 — left join the ~48-row lender→tier dimension, broadcast.

    ``merge(tier_df, how='left', left_on='exportedLender',
    right_on='Lender').drop(columns=['Lender'])`` (run_exports_query.py:224-225).
    """
    return df.join(
        F.broadcast(competitor_df),
        df["exportedLender"] == competitor_df["Lender"],
        "left",
    ).drop("Lender")


def add_rank_columns(df: DataFrame, config: PipelineConfig) -> DataFrame:
    """W4/A6/J2 — 3-month rank-within-tier columns, merged back.

    prepare_rank_data (run_exports_query.py:106-168). Only the two LAGGED
    rank columns survive the merge-back (:157-161); current-month rank and
    all scenario counts are computed and dropped by the reference — we
    never compute them.

    One aggregate keyed by (Tier, lender) over the 3-month window holds,
    per lagged month, the pair's scenario count and whether it had any row
    that month; each lagged rank is a window over that aggregate. A pair
    with no row in the month counts 0, which is never strictly greater
    than another pair's count, so it never moves a present pair's
    competition rank; it gets 0 instead of a rank (the pivot's fill). A
    present pair whose ``scenarioId``s are all NULL counts 0 and is still
    ranked, as pandas ranks it.
    """
    cur, m1, m2 = config.month_offsets()
    month = F.date_trunc("month", F.col("time"))
    lagged = {"rank_in_tier_one_month": m1, "rank_in_tier_two_months": m2}

    aggs = []
    for name, m in lagged.items():
        aggs.append(F.count(F.when(month == m, F.col("scenarioId"))).alias(f"_n_{name}"))
        aggs.append(F.max(month == m).alias(f"_seen_{name}"))
    pairs = (
        df.filter(month.isin([cur, m1, m2]))
        # pandas groupby drops NaN keys: unlisted lenders (NULL Tier) are
        # excluded from the ranking universe (run_exports_query.py:121)
        .filter(F.col("Tier").isNotNull() & F.col("exportedLender").isNotNull())
        .groupBy("Tier", "exportedLender")
        .agg(*aggs)
    )
    for name in lagged:
        rank = F.rank().over(Window.partitionBy("Tier").orderBy(F.desc(f"_n_{name}")))
        pairs = pairs.withColumn(name, F.when(F.col(f"_seen_{name}"), rank).otherwise(0))
    pairs = pairs.select("Tier", "exportedLender", *lagged)
    # bounded by #tiers x #lenders — always broadcastable
    return df.join(F.broadcast(pairs), ["Tier", "exportedLender"], "left")


def clean_for_export(df: DataFrame) -> DataFrame:
    """F16-F20 — clean_dataframe (run_exports_query.py:47-73).

    * ``time`` → 'yyyy-MM-dd HH:mm:ss' string (pandas ``astype(str)`` on a
      tz-naive datetime, :55-56).
    * string columns: strip ``[]{}"\\,`` (regex, :60). pandas ``astype(str)``
      first renders None as 'None', so NULL becomes the string 'None'.
    * numeric columns: ``pd.to_numeric(errors='coerce')`` → non-ANSI
      ``cast('double')`` (nulls on failure) for string-typed columns only;
      already-numeric columns pass through like to_numeric does.
    """
    out = df
    if "time" in out.columns:
        out = out.withColumn("time", F.date_format("time", "yyyy-MM-dd HH:mm:ss"))
    for c in STRING_CLEAN_COLUMNS:
        if c in out.columns:
            col = F.coalesce(F.col(c).cast("string"), F.lit("None"))
            out = out.withColumn(c, F.regexp_replace(col, _STRIP_PATTERN, ""))
    for c in NUMERIC_COERCE_COLUMNS:
        if c in out.columns and dict(out.dtypes)[c] == "string":
            out = out.withColumn(c, F.col(c).cast("double"))
    return out
