"""``--trace 1``: the per-layer table for one workload.

One invocation is one run of ``trace_job.py`` with the event log on; its
output is checked like an untraced run's.  ``trace.overhead_ratio`` is its
cold export wall over the median untraced ``export_s`` of the runs made
in this checkout, or, before any, of the committed baseline
(``procs.untraced_export_median``); the run record names the source.  A
cold untraced comparator inside the invocation would not fit: the traced
run of ``reexport_heavy`` alone takes about 100 s of the 180 s an
invocation may take.

Span times come from the traced process; busy time, GC, spill, task count
and shuffle / input bytes per phase come from its event log.  A layer of
the report plan is the difference of two cumulative prefixes (so its
event-log figures can be slightly negative within noise); the last
prefix is the staging write, so ``monthly_report.rank_layout`` includes
encoding the staged parquet.  ``sources.csv.write_tsv_s`` runs until the
TSV write's SQL execution ends and ``sources.csv.bom_s`` is the rest of the
``write_tsv(bom=True)`` call.

The layer table accounts for the cold ``export`` span up to
``jobs.export_unaccounted_s`` = export wall - (staging write + TSV write
with BOM + read-back validation + sized parquet write), each part timed
warm on its own.  The two sink chains overlap inside the job, so the gap
is that overlap (negative) plus the first job's cold-start cost.
"""

from __future__ import annotations

import os
import time

from perfbench import eventlog, procs
from perfbench.check import check_outputs, tree_bytes

MB = 1024 * 1024

# (layer, traced phase) along the report plan: each phase is a cumulative
# prefix, the last being the whole plan written as the staging parquet, so
# a layer's cost is its phase minus the phase before
LAYERS = (
    ("exports.base", "exports.base"),
    ("exports.dedup", "exports.dedup"),
    ("exports.global_stats", "exports.global_stats"),
    ("exports.explode_classify", "exports.explode_classify"),
    ("enrich.tiers", "enrich.tiers"),
    ("monthly_report.rank_layout", "jobs.staging_write"),
)
# phases timed on their own, reported as <phase>_s
SPANS = (
    "session.get_spark",
    "session.first_action",
    "jobs.staging_write",
    "jobs.validate_tsv_output",
    "sources.parquet.write_parquet_sized",
    "sources.csv.read_tsv_directory",
    "sources.csv.write_tsv_single",
    "jobs.merge_validate",
)
# stages of run_export_job, attributed by the path their SQL plan writes
EXPORT_PARTS = ("export.staging", "export.tsv_write", "export.tsv_validate", "export.parquet_sized")
# the warm calls whose sum the cold export span is compared with
EXPORT_SINK_SPANS = (
    "jobs.staging_write",
    "sources.csv.write_tsv",
    "jobs.validate_tsv_output",
    "sources.parquet.write_parquet_sized",
)
EVENT_PHASES = (
    EXPORT_PARTS
    + tuple(layer for layer, _ in LAYERS)
    + ("sources.csv.write_tsv",)
    + SPANS[2:]
)
# (metric suffix, Totals field, unit) reported for every event-log phase
EVENT_METRICS = (
    ("executor_run_s", "run_s", "s"),
    ("gc_s", "gc_s", "s"),
    ("spill_mb", "spill_mb", "MB"),
    ("tasks", "tasks", "count"),
)


def metric_units() -> dict[str, str]:
    """Every per-layer metric the traced run prints, with its unit."""
    units = {f"{p}_s": "s" for p in SPANS}
    units.update({f"{layer}_s": "s" for layer, _ in LAYERS})
    units.update(
        {
            "session.jvm_peak_rss_mb": "MB",
            "exports.base_rows": "count",
            "exports.dedup_rows": "count",
            "exports.dedup_shuffle_mb": "MB",
            "exports.parse_useful_ratio": "ratio",
            "exports.pipeline_rows": "count",
            "monthly_report.shuffle_mb": "MB",
            "monthly_report.rows": "count",
            "jobs.staging_mb": "MB",
            "sources.csv.write_tsv_s": "s",
            "sources.csv.bom_s": "s",
            "sources.csv.tsv_mb": "MB",
            "jobs.validate_read_per_written": "ratio",
            "sources.parquet.sized_shuffle_mb": "MB",
            "sources.parquet.sized_files": "count",
            "sources.parquet.shuffle_per_output": "ratio",
            "jobs.export_raw_scan_ratio": "ratio",
            "jobs.export_unaccounted_s": "s",
            "trace.export_s": "s",
            "trace.overhead_ratio": "ratio",
        }
    )
    for phase in EVENT_PHASES:
        for name, _, unit in EVENT_METRICS:
            units[f"{phase}.{name}"] = unit
    return units


def _export_part(stage, plans: dict[int, str], spec: dict) -> str:
    """Which part of ``run_export_job`` a stage of the export span belongs to.
    Its main thread carries the ``export`` description and runs the staging
    write; the stages of its two sink threads carry none and are told apart
    by the path their SQL plan writes."""
    if stage.description == "export":
        return "export.staging"
    out = spec["out"]
    writes = {"export.tsv_write": out["tsv"], "export.parquet_sized": out["parquet"]}
    plan = plans.get(stage.execution_id, "")
    return eventlog.sink_of(plan, writes, verb="Arguments: file:") or "export.tsv_validate"


def phase_of_stage(stage, windows: dict[str, list], plans: dict[int, str], spec: dict) -> str | None:
    """A stage's phase: its job description when that names a span, else the
    span its submission time falls in (Spark replaces the description of
    its own file-listing jobs); stages of the export span are split into
    the job's parts."""
    phase = stage.description if stage.description in windows else None
    if phase is None:
        phase = next((p for p, (t0, t1) in windows.items() if t0 <= stage.submitted <= t1), None)
    if phase == "export":
        return _export_part(stage, plans, spec)
    return phase


def layer_metrics(trace: dict, log_path: str, spec: dict, untraced_export_s: float) -> dict[str, float]:
    """Every per-layer metric from the traced child's result and event log."""
    windows, counts = trace["spans"], trace["counts"]
    log = eventlog.parse(log_path)
    phases = eventlog.group(log.stages, lambda st: phase_of_stage(st, windows, log.plans, spec))
    empty = eventlog.Totals()
    ev = {p: phases.get(p, empty) for p in EVENT_PHASES}
    spans = {p: t1 - t0 for p, (t0, t1) in windows.items()}
    m: dict[str, float] = {f"{p}_s": spans[p] for p in SPANS}
    m["session.jvm_peak_rss_mb"] = counts["session.jvm_peak_rss_mb"]

    prev = None
    for layer, phase in LAYERS:
        m[f"{layer}_s"] = spans[phase] - (spans[prev] if prev else 0.0)
        ev[layer] = phases.get(phase, empty).minus(phases.get(prev, empty))
        prev = phase
    m["exports.base_rows"] = counts["exports.base_rows"]
    m["exports.dedup_rows"] = counts["exports.dedup_rows"]
    m["exports.dedup_shuffle_mb"] = ev["exports.dedup"].shuffle_write_mb
    m["exports.parse_useful_ratio"] = counts["exports.dedup_rows"] / counts["exports.base_rows"]
    m["exports.pipeline_rows"] = counts["exports.explode_classify_rows"]
    m["monthly_report.shuffle_mb"] = ev["jobs.staging_write"].shuffle_write_mb
    m["monthly_report.rows"] = counts["jobs.staging_write_rows"]

    # write_tsv prepends the BOM on the driver after its Spark write has ended
    t0, t1 = windows["sources.csv.write_tsv"]
    write_end = max(end for start, end in log.executions.values() if t0 <= start <= t1)
    m["sources.csv.write_tsv_s"] = write_end - t0
    m["sources.csv.bom_s"] = t1 - write_end
    scratch = spec["scratch"]
    tsv_mb = tree_bytes(scratch["tsv"]) / MB
    m["sources.csv.tsv_mb"] = tsv_mb
    m["jobs.staging_mb"] = tree_bytes(scratch["staging"]) / MB
    m["jobs.validate_read_per_written"] = ev["jobs.validate_tsv_output"].input_mb / tsv_mb
    sized = ev["sources.parquet.write_parquet_sized"]
    m["sources.parquet.sized_shuffle_mb"] = sized.shuffle_write_mb
    m["sources.parquet.sized_files"] = counts["sources.parquet.sized_files"]
    m["sources.parquet.shuffle_per_output"] = sized.shuffle_write_mb / (tree_bytes(scratch["parquet"]) / MB)
    m["jobs.export_raw_scan_ratio"] = ev["export.staging"].scan_records / spec["raw_rows"]
    m["jobs.export_unaccounted_s"] = spans["export"] - sum(spans[p] for p in EXPORT_SINK_SPANS)
    m["trace.export_s"] = spans["export"]
    m["trace.overhead_ratio"] = spans["export"] / untraced_export_s
    for phase in EVENT_PHASES:
        for name, field, _ in EVENT_METRICS:
            m[f"{phase}.{name}"] = getattr(ev[phase], field)
    return m


def traced_run(spec: dict, record: dict, started: float) -> tuple[list[dict], dict | None]:
    """The traced process, its output check and its layer table; returns
    (runs, per-layer metrics or None when the process failed)."""
    out = spec["out"]
    work = os.path.dirname(spec["result"])
    scratch = {k: os.path.join(work, "trace", k) for k in ("staging", "tsv", "parquet")}
    log_dir = os.path.join(work, "eventlog")
    procs.clear(*out.values(), *scratch.values(), log_dir, spec["result"])
    os.makedirs(log_dir)
    traced_spec = dict(spec, scratch=scratch, event_log=log_dir, raw_rows=record["raw_rows"])
    traced = {"host_pre": procs.host_probe()}
    try:
        result = procs.run_child("trace_job.py", traced_spec, procs.LIMIT_S - (time.monotonic() - started))
    except RuntimeError as e:
        traced["problems"] = [str(e)]
        return [traced], None
    traced["problems"], traced["digests"] = check_outputs(
        out["tsv"], out["parquet"], out["merged"], record["pinned"]
    )
    traced["output_mb"] = tree_bytes(*out.values()) / MB
    traced["spans"] = result["spans"]
    traced["untraced"] = procs.untraced_export_median(record["workload"])
    (log_path,) = eventlog.find_logs(log_dir)
    values = layer_metrics(result, log_path, traced_spec, traced["untraced"]["export_s"])
    return [traced], {k: {"value": values[k], "unit": u} for k, u in metric_units().items()}
