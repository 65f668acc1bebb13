"""Benchmark of the monthly export job: one cold export + merge per process.

    python3 perfbench/run.py --workload month_1x --seed 42 --seconds 20 --trace 0

Closed loop, one client: the runs of one invocation never overlap, and
Spark runs as ``local[N]`` with N = the host's CPU count.  Each run is a
fresh process (``perfbench/job.py``) that brings up the session, runs
``jobs.run_export_job`` with the TSV and parquet sinks once, cold, then
``jobs.run_merge_job`` on its output, and exits.  After it exits, the
output is checked from outside in DuckDB (``perfbench/check.py``).  Runs
repeat until ``--seconds`` of export + merge + set-up time is measured
(at least one run); each metric is the median over the runs.

Flush policy: the inputs are generated, every output directory of the
previous run is deleted and ``sync`` is called before a run's process is
started, so neither input generation, nor ``run_export_job``'s overwrite
delete, nor the previous run's dirty-page writeback lands in a timing.

``--trace 1`` runs ``perfbench/trace.py`` instead and prints the per-layer
metrics.  The last line of standard output is the result JSON; the line
before it is the run record (host load, foreign JVMs, set-up halves, JVM
peak RSS, digests).  Everything is written under ``.perfbench_work/`` in
the checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

from perfbench import inputs, procs  # noqa: E402

MB = 1024 * 1024

END_TO_END_UNITS = {
    "setup_s": "s",
    "export_s": "s",
    "merge_s": "s",
    "input_rows_per_s": "1/s",
    "output_mb": "MB",
}


def _parse(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def prepare(workload_name: str, seed: int) -> tuple[dict, dict]:
    """Fresh work directory plus generated inputs; returns (spec, record)."""
    import pyarrow.parquet as pq

    workload = inputs.WORKLOADS[workload_name]
    work = os.path.join(ROOT, ".perfbench_work", workload_name)
    shutil.rmtree(work, ignore_errors=True)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    cores = os.cpu_count() or 1
    t0 = time.monotonic()
    deals, comp = inputs.write_inputs(workload, seed, os.path.join(work, "input"), workers=cores)
    gen_s = time.monotonic() - t0
    out = {k: os.path.join(work, k) for k in ("tsv", "parquet", "merged")}
    spec = {
        "deals": deals,
        "competitors": comp,
        "out": out,
        "tmp": tmp,
        "cores": cores,
        "result": os.path.join(work, "result.json"),
    }
    record = {
        "workload": workload_name,
        "seed": seed,
        "cores": cores,
        "scenarios": workload.scenarios,
        "generated_scenarios": workload.scenarios * workload.chunks,
        "raw_rows": pq.ParquetFile(deals).metadata.num_rows,
        "raw_mb": os.path.getsize(deals) / MB,
        "input_gen_s": gen_s,
        "pinned": workload.pinned if seed == inputs.DEFAULT_SEED else None,
    }
    return spec, record


def cold_runs(spec: dict, record: dict, seconds: float, started: float) -> list[dict]:
    """Cold runs until ``seconds`` of set-up + export + merge are measured."""
    runs = []
    measured = 0.0
    while True:
        t0 = time.monotonic()
        run = procs.cold_run(spec, record, started)
        runs.append(run)
        if run["problems"]:
            return runs
        measured += run["setup_s"] + run["export_s"] + run["merge_s"]
        wall = time.monotonic() - t0
        if measured >= seconds or time.monotonic() - started + wall > procs.DEADLINE_S:
            return runs


def summarize(runs: list[dict], names: dict[str, str]) -> dict:
    timed = [r for r in runs if all(n in r for n in names)]
    return {
        n: {"value": statistics.median(r[n] for r in timed), "unit": u} for n, u in names.items()
    }


def main(argv=None) -> int:
    started = time.monotonic()
    args = _parse(argv)
    if not os.path.isfile(os.path.join(ROOT, "monthly_report_etl_spark", "jobs.py")):
        print(f"program not found under {ROOT}", file=sys.stderr)
        return 2
    if args.workload not in inputs.WORKLOADS:
        print(f"unknown workload {args.workload!r}; have {sorted(inputs.WORKLOADS)}", file=sys.stderr)
        return 2
    procs.become_subreaper()
    spec, record = prepare(args.workload, args.seed)
    if args.trace:
        from perfbench.trace import traced_run

        runs, metrics = traced_run(spec, record, started)
    else:
        runs = cold_runs(spec, record, args.seconds, started)
        metrics = summarize(runs, END_TO_END_UNITS) if any("export_s" in r for r in runs) else None
        procs.append_history(args.workload, [r for r in runs if not r["problems"]])
    record["runs"] = runs
    print(json.dumps(record, sort_keys=True))
    if metrics is None:
        print("no result: " + "; ".join(p for r in runs for p in r["problems"]), file=sys.stderr)
        return 1
    failed = sum(1 for r in runs if r["problems"])
    for r in runs:
        for p in r["problems"]:
            print(f"FAILED: {p}", file=sys.stderr)
    print(
        json.dumps(
            {"correct": failed == 0, "attempted": len(runs), "failed": failed, "metrics": metrics}
        )
    )
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
