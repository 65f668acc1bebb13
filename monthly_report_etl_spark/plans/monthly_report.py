"""The end-to-end monthly report: the reference's two jobs as ONE plan.

Reference shape (README.md:10-16): run_exports_query.py executes the
7-CTE query once per lender, enriches in pandas, writes one TSV per
lender; merge_all_lenders.py then unions the files. Here the whole thing
is a single lazy Catalyst plan ending in one partitioned write — the
"merge" job collapses into reading one partitioned dataset (SURVEY §2.12
C1/C3).
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from monthly_report_etl_spark.config import PipelineConfig
from monthly_report_etl_spark.operators import exports
from monthly_report_etl_spark.operators.enrich import (
    add_rank_columns,
    clean_for_export,
    enrich_with_tiers,
)


def monthly_report(
    raw_df: DataFrame,
    competitor_df: DataFrame,
    config: PipelineConfig,
) -> DataFrame:
    """raw exports_deals + competitor list → final 28-column report.

    Column contract: FIXTURES.md §A4 — the query's 22 columns plus
    Category / Tier / Tier Category / Link to Image and the two lagged
    rank columns, cleaned for the TSV sink.

    Before the checkpoint the plan scans the raw input three times (the
    main branch, the ``global_stats`` aggregate and the lender list) and
    runs the ``from_json`` → dedup chain in two of them; after it, the
    rank step is one (Tier, lender) aggregate and one rank window,
    broadcast back.
    """
    # enrich first, order last — the reference sorts in SQL and the pandas
    # merges are stable/order-preserving (run_exports_query.py:224,157), so
    # ordering once at the end is equivalent and avoids sorting rows that
    # joins would reshuffle anyway
    df = exports.exports_pipeline(raw_df, config.start_date, config.end_date)
    df = enrich_with_tiers(df, competitor_df)
    # add_rank_columns consumes its input twice (its (Tier, lender)
    # aggregate + the merge-back), and Spark shares no diamond subplans, so
    # without a cut the rank branch re-executes the whole scan → dedup →
    # explode → classify → tiers chain. localCheckpoint(eager=False)
    # materializes the enriched rows ONCE (executor-local, lazily at the
    # first action) and both branches read them back; unlike persist() it
    # is a plain RDD materialization, with no CacheManager plan matching or
    # eviction accounting. The materialized set is report-sized, so the
    # disk cost is output-scale, not input-scale; on a multi-node cluster
    # swap for reliable checkpoint() if executor loss must be survivable
    # mid-job.
    df = df.localCheckpoint(eager=False)
    df = add_rank_columns(df, config)
    df = clean_for_export(df)
    return df.repartition("associated_lender").sortWithinPartitions(
        "associated_lender", "scenarioId"
    )
