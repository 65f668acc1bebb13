"""The traced run: one process, event log on, each layer called and timed
from here.

    python3 perfbench/trace_job.py '<spec json>'

In order, every phase tagged with ``setJobDescription`` and timed around
the call, plan construction included (``localCheckpoint`` runs the shuffle
stages below it while the plan is built):

1. session bring-up and one trivial action (``session.*``);
2. ``jobs.run_export_job`` cold, as in the untraced run (``export``);
3. the merge job's three parts on that output (``sources.csv.*``,
   ``jobs.merge_validate``);
4. the report plan's cumulative prefixes, warm: scan+base, +dedup,
   +global_stats, +explode/classify, +enrich through a ``noop`` sink, then
   the whole plan as the staging write (``jobs.staging_write``);
5. each export sink once, on the report staged there.

Rows are counted by an ``Observation`` on the timed action itself.  The
result file holds ``spans`` (phase -> [start, end], wall-clock seconds)
and ``counts``.
"""

from __future__ import annotations

import json
import os
import sys
import time


def prefix_plans(raw, comp, config):
    """(phase, build) for each cumulative prefix of the report plan short of
    the whole plan; each ``build()`` returns the prefix's DataFrame."""
    from monthly_report_etl_spark.operators import exports
    from monthly_report_etl_spark.operators.enrich import enrich_with_tiers

    def base():
        return exports.base(raw, config.start_date, config.end_date)

    def dedup():
        return exports.filter_passing(exports.flag_failing(exports.dedup_latest(base())))

    def global_stats():
        return exports.global_stats(dedup())

    def explode_classify():
        df = exports.explode_lender_results(global_stats(), exports.get_lenders(raw))
        df = exports.classify_performance(exports.extract_performance(df))
        return exports.final_select(df, sort="none")

    return (
        ("exports.base", base),
        ("exports.dedup", dedup),
        ("exports.global_stats", global_stats),
        ("exports.explode_classify", explode_classify),
        ("enrich.tiers", lambda: enrich_with_tiers(explode_classify(), comp)),
    )


def main(spec: dict) -> dict:
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    from monthly_report_etl_spark import jobs
    from monthly_report_etl_spark.config import PipelineConfig
    from monthly_report_etl_spark.plans import monthly_report
    from monthly_report_etl_spark.schemas import COMPETITOR_LIST_SCHEMA
    from monthly_report_etl_spark.sources import read_lookup_csv, read_tsv_directory, write_tsv
    from monthly_report_etl_spark.sources.parquet import write_parquet_sized

    from perfbench.session import jvm_peak_rss_mb, start_session

    # the process started at spawned_at on the parent's monotonic clock
    spawned = time.time() - (time.monotonic() - spec["spawned_at"])
    spark = start_session(spec)
    sc = spark.sparkContext
    spans: dict[str, list[float]] = {"session.get_spark": [spawned, time.time()]}
    counts: dict[str, float] = {}

    def timed(phase, fn):
        sc.setJobDescription(phase)
        t0 = time.time()
        try:
            return fn()
        finally:
            spans[phase] = [t0, time.time()]
            sc.setJobDescription(None)

    def rows_written(df, name, write):
        obs = Observation(name)
        write(df.observe(obs, F.count(F.lit(1)).alias("n")).write.mode("overwrite"))
        return obs.get["n"]

    def noop(writer):
        writer.format("noop").save()

    timed("session.first_action", lambda: spark.range(1).count())
    out, scratch = spec["out"], spec["scratch"]
    timed(
        "export",
        lambda: jobs.run_export_job(
            spark, spec["deals"], spec["competitors"], out["tsv"], parquet_dir=out["parquet"]
        ),
    )

    # the merge job's parts, on the export's own output
    merged_df = timed(
        "sources.csv.read_tsv_directory",
        lambda: read_tsv_directory(spark, out["tsv"], skip_bad_files=True).withColumn(
            "time", F.to_timestamp("time")
        ),
    )
    timed(
        "sources.csv.write_tsv_single",
        lambda: write_tsv(merged_df, out["merged"], single_file=True, bom=True),
    )
    timed("jobs.merge_validate", lambda: jobs.validate_tsv_output(spark, out["merged"]))

    # the report plan's prefixes, warm
    config = PipelineConfig()
    raw = spark.read.parquet(spec["deals"])
    comp = read_lookup_csv(spark, spec["competitors"], COMPETITOR_LIST_SCHEMA)
    for phase, build in prefix_plans(raw, comp, config):
        counts[phase + "_rows"] = timed(phase, lambda: rows_written(build(), phase, noop))
    counts["jobs.staging_write_rows"] = timed(
        "jobs.staging_write",
        lambda: rows_written(
            monthly_report(raw, comp, config), "staging", lambda w: w.parquet(scratch["staging"])
        ),
    )

    # each export sink, on the staged report
    staged = spark.read.parquet(scratch["staging"])
    timed(
        "sources.csv.write_tsv",
        lambda: write_tsv(staged, scratch["tsv"], partition_by="associated_lender", bom=True),
    )
    timed("jobs.validate_tsv_output", lambda: jobs.validate_tsv_output(spark, scratch["tsv"]))
    counts["sources.parquet.sized_files"] = timed(
        "sources.parquet.write_parquet_sized",
        lambda: write_parquet_sized(staged, scratch["parquet"]),
    )
    counts["session.jvm_peak_rss_mb"] = jvm_peak_rss_mb()
    spark.stop()
    return {"spans": spans, "counts": counts}


if __name__ == "__main__":
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    _spec = json.loads(sys.argv[1])
    _result = main(_spec)
    with open(_spec["result"], "w") as f:
        json.dump(_result, f)
