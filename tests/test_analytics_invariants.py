"""Structural invariants for the analytics/corpus shapes that the DuckDB
differential can't express directly (the oracle proves value equality;
these prove the CLAIMED semantics hold — window multiplicity, exact
stratum arithmetic)."""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from monthly_report_etl_spark.operators import analytics, corpus


def test_sliding_window_assigns_each_event_four_times(spark, sf_dir):
    """1-hour windows hopping every 15 minutes: every event must land in
    exactly 4 windows, so the windowed n_events total is 4x the input."""
    from monthly_report_etl_spark.sources.parquet import read_table

    n_events = read_table(spark, sf_dir, "events").count()
    windowed = analytics.events_sliding_window(spark, sf_dir)
    total = windowed.agg(F.sum("n_events")).collect()[0][0]
    assert total == 4 * n_events
    # window starts are 15-minute aligned and spans are exactly 1 hour
    bad = windowed.filter(
        (F.unix_timestamp("window_start") % 900) != 0
    ).count()
    assert bad == 0


def test_stratified_sample_exact_per_stratum_counts(spark, sf_dir):
    """ceil(f * n_lang) rows per language — exactly, not in expectation."""
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    want = {
        r["lang"]: math.ceil(corpus.STRATIFIED_FRACTION * r["n"])
        for r in d.groupBy("lang").agg(F.count("*").alias("n")).collect()
    }
    got = {
        r["lang"]: r["n"]
        for r in corpus.stratified_sample(spark, sf_dir)
        .groupBy("lang")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    assert got == want and len(want) > 1


def test_stratified_sample_deterministic_across_partitionings(spark, sf_dir):
    """The sample must be a function of the DATA, not the layout: a
    repartitioned input yields the identical id set (the property
    df.sampleBy cannot promise)."""
    base = {r["doc_id"] for r in corpus.stratified_sample(spark, sf_dir).collect()}
    d = spark.read.parquet(f"{sf_dir}/documents.parquet").repartition(13)
    from pyspark.sql import Window

    rank_w = Window.partitionBy("lang").orderBy(
        F.md5(F.col("doc_id").cast("string")), "doc_id"
    )
    again = {
        r["doc_id"]
        for r in d.select("doc_id", "lang")
        .withColumn("r", F.row_number().over(rank_w))
        .withColumn("n", F.count("*").over(Window.partitionBy("lang")))
        .filter(F.col("r") <= F.ceil(F.lit(corpus.STRATIFIED_FRACTION) * F.col("n")))
        .collect()
    }
    assert again == base
