"""One cold run of the monthly export job in a fresh process.

    python3 perfbench/job.py '<spec json>'

The spec names the inputs, the output directories, the result file and
``spawned_at``: the parent's ``time.monotonic()`` just before it started
this process (CLOCK_MONOTONIC is system-wide on Linux), so set-up time
counts interpreter start and imports.  In order, the process

1. brings up the session and runs one trivial action;
2. runs ``jobs.run_export_job`` with the TSV and parquet sinks, cold;
3. runs ``jobs.run_merge_job`` on its output;

then writes its timings to the result file and exits.
"""

from __future__ import annotations

import json
import os
import sys
import time


def main(spec: dict) -> dict:
    from monthly_report_etl_spark import jobs

    from perfbench.session import jvm_peak_rss_mb, start_session

    spark = start_session(spec)
    t_session = time.monotonic()
    spark.range(1).count()
    t_ready = time.monotonic()
    out = spec["out"]
    jobs.run_export_job(
        spark, spec["deals"], spec["competitors"], out["tsv"], parquet_dir=out["parquet"]
    )
    t_export = time.monotonic()
    jobs.run_merge_job(spark, out["tsv"], out["merged"])
    t_merge = time.monotonic()
    rss = jvm_peak_rss_mb()
    spark.stop()
    return {
        "session.get_spark_s": t_session - spec["spawned_at"],
        "session.first_action_s": t_ready - t_session,
        "setup_s": t_ready - spec["spawned_at"],
        "export_s": t_export - t_ready,
        "merge_s": t_merge - t_export,
        "session.jvm_peak_rss_mb": rss,
    }


if __name__ == "__main__":
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    _spec = json.loads(sys.argv[1])
    _result = main(_spec)
    with open(_spec["result"], "w") as f:
        json.dump(_result, f)
