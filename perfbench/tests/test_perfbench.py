"""Tests of the benchmark's own parts: input generation, the output check,
the event-log parser and the metric table.

    python3 -m pytest perfbench/tests -q -p no:cacheprovider
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import subprocess
import sys
import threading

import pandas as pd
import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import check, eventlog, inputs, procs, run, trace  # noqa: E402

SMALL = inputs.Workload("small", 300, 1, "test")
FOLDED = inputs.Workload("folded", 300, 6, "test")


def test_generator_is_deterministic_per_seed(tmp_path):
    a = inputs.write_inputs(FOLDED, 7, str(tmp_path / "a"), workers=1)
    b = inputs.write_inputs(FOLDED, 7, str(tmp_path / "b"), workers=2)
    c = inputs.write_inputs(FOLDED, 8, str(tmp_path / "c"), workers=1)
    for x, y in zip(a, b):
        assert open(x, "rb").read() == open(y, "rb").read()
    assert open(a[0], "rb").read() != open(c[0], "rb").read()


def test_fold_keeps_times_tie_free_within_each_scenario():
    deals = inputs.make_deals(FOLDED, 3)
    assert deals["scenarioId"].nunique() <= FOLDED.scenarios
    per_scenario = deals.groupby("scenarioId")["time"]
    assert (per_scenario.nunique() == per_scenario.size()).all()
    assert per_scenario.size().mean() > 5  # the fold really stacks re-exports
    # chunk 0 is the unfolded workload's input for the same seed
    first = deals.iloc[: len(inputs.make_deals(SMALL, 3))]
    pd.testing.assert_frame_equal(first, inputs.make_deals(SMALL, 3))


def test_parallel_generation_leaves_no_process_behind():
    inputs.make_deals(FOLDED, 3, workers=2)
    me = os.getpid()
    children = [pid for pid, state, parent, _ in procs._processes() if parent == me]
    assert children == []


@pytest.fixture(scope="module")
def tiny_run(tmp_path_factory):
    """A 300-scenario export + merge with the event log on.  The export
    runs with a job description; its sink threads carry none."""
    from monthly_report_etl_spark import jobs

    from perfbench.session import start_session

    work = str(tmp_path_factory.mktemp("tiny"))
    deals, comp = inputs.write_inputs(SMALL, 42, os.path.join(work, "input"))
    out = {k: os.path.join(work, k) for k in ("tsv", "parquet", "merged")}
    log_dir = os.path.join(work, "eventlog")
    os.makedirs(log_dir)
    spec = {"cores": 2, "tmp": os.path.join(work, "tmp"), "event_log": log_dir, "out": out}
    spark = start_session(spec)
    try:
        spark.sparkContext.setJobDescription("export")
        jobs.run_export_job(spark, deals, comp, out["tsv"], parquet_dir=out["parquet"])
        spark.sparkContext.setJobDescription("merge")
        jobs.run_merge_job(spark, out["tsv"], out["merged"])
        probe = {}
        description = spark.sparkContext.getLocalProperty
        t = threading.Thread(target=lambda: probe.update(d=description("spark.job.description")))
        t.start()
        t.join(timeout=60)
        spark.sparkContext.setJobDescription(None)
    finally:
        spark.stop()
    return {"out": out, "log_dir": log_dir, "spec": spec, "thread_description": probe.get("d")}


def test_event_log_parser_on_a_tiny_run(tiny_run):
    (log_path,) = eventlog.find_logs(tiny_run["log_dir"])
    log = eventlog.parse(log_path)
    assert log.stages and log.plans
    assert all(start <= end for start, end in log.executions.values())
    by_description = eventlog.group(log.stages, lambda s: s.description or "none")
    assert by_description["merge"].tasks > 0
    assert by_description["merge"].run_s > 0
    assert by_description["export"].tasks > 0
    # a thread the job starts does not inherit the description, so the sink
    # threads' stages carry none; their plans name the path
    assert tiny_run["thread_description"] is None
    parts = eventlog.group(
        log.stages,
        lambda s: trace._export_part(s, log.plans, tiny_run["spec"])
        if s.description in (None, "export")
        else None,
    )
    assert set(parts) == set(trace.EXPORT_PARTS)
    assert parts["export.staging"].scan_records > 0
    assert parts["export.parquet_sized"].shuffle_write_mb > 0
    assert parts["export.tsv_write"].output_mb > 0
    assert parts["export.tsv_validate"].input_mb > 0


def test_output_check_accepts_the_real_output(tiny_run):
    out = tiny_run["out"]
    problems, digests = check.check_outputs(out["tsv"], out["parquet"], out["merged"])
    assert problems == []
    assert digests["parquet"][0] > 0


def _copy(out, dst):
    copy = {k: os.path.join(dst, k) for k in out}
    for k in out:
        shutil.copytree(out[k], copy[k])
    return copy


def test_output_check_rejects_a_deleted_tsv_part(tiny_run, tmp_path):
    out = _copy(tiny_run["out"], str(tmp_path))
    os.remove(sorted(glob.glob(os.path.join(out["tsv"], "*", "part-*.csv")))[0])
    problems, _ = check.check_outputs(out["tsv"], out["parquet"], out["merged"])
    assert any("sinks disagree" in p for p in problems)


def test_output_check_rejects_a_changed_row(tiny_run, tmp_path):
    out = _copy(tiny_run["out"], str(tmp_path))
    (merged,) = glob.glob(os.path.join(out["merged"], "part-*.csv"))
    lines = open(merged, "rb").read().split(b"\n")
    lines[1] = lines[1].replace(b"scn_", b"scn_9", 1)
    open(merged, "wb").write(b"\n".join(lines))
    problems, _ = check.check_outputs(out["tsv"], out["parquet"], out["merged"])
    assert any("sinks disagree" in p for p in problems)


def test_output_check_rejects_a_missing_bom_and_a_wrong_pin(tiny_run, tmp_path):
    out = _copy(tiny_run["out"], str(tmp_path))
    part = sorted(glob.glob(os.path.join(out["tsv"], "*", "part-*.csv")))[0]
    data = open(part, "rb").read()
    open(part, "wb").write(data[len(check.BOM):])
    problems, digests = check.check_outputs(out["tsv"], out["parquet"], out["merged"], pinned=(1, "0"))
    assert any(p.startswith("no BOM") for p in problems)
    assert any("pinned" in p for p in problems)


def test_overhead_denominator_prefers_this_checkouts_runs(tmp_path, monkeypatch):
    monkeypatch.setattr(procs, "HISTORY", str(tmp_path / "history"))
    monkeypatch.setattr(procs, "BASELINE", str(tmp_path / "baseline"))
    os.makedirs(procs.BASELINE)
    runs = [{"result": {"metrics": {"export_s": {"value": v}}}} for v in (10.0, 30.0, 20.0)]
    with open(os.path.join(procs.BASELINE, "w_set1.json"), "w") as f:
        json.dump({"runs": runs + [{"result": None}]}, f)
    assert procs.untraced_export_median("w") == {"export_s": 20.0, "source": "baseline", "n": 3}
    procs.append_history("w", [{"export_s": 4.0}, {"export_s": 6.0}])
    assert procs.untraced_export_median("w") == {"export_s": 5.0, "source": "history", "n": 2}


def test_metric_table_matches_benchmark_json():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert {w["name"]: w["why"] for w in bench["workloads"]} == {
        w.name: w.why for w in inputs.WORKLOADS.values()
    }
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == run.END_TO_END_UNITS
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == trace.metric_units()


def test_command_fails_without_the_program(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench")
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "month_1x", "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path,
        capture_output=True,
        text=True,
        timeout=120,
    )
    assert proc.returncode != 0
    assert '"correct"' not in proc.stdout
