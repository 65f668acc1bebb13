"""Stage metrics from a Spark event log, grouped into benchmark phases.

Spark 4 writes a rolling event-log directory of zstd-compressed JSON-lines
files; older or uncompressed logs are plain files.  These events are
used:

* ``SparkListenerStageSubmitted``: the stage's submission time, job
  description and SQL execution id (from the submitting thread's local
  properties) and whether it scans files (a ``FileScanRDD`` in its
  lineage);
* ``SparkListenerTaskEnd``: busy time, GC, spill, shuffle, input and output
  bytes of every task;
* ``SparkListenerSQLExecutionStart`` / ``End``: when each SQL execution
  ran and its physical plan, which names the paths it reads and writes.
  Actions submitted from threads that carry no job description are
  attributed by these paths.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass, field

MB = 1024 * 1024
_SQL_START = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart"
_SQL_END = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd"


@dataclass
class Totals:
    tasks: int = 0
    run_s: float = 0.0
    gc_s: float = 0.0
    spill_mb: float = 0.0
    shuffle_write_mb: float = 0.0
    input_mb: float = 0.0
    # records read by stages that scan files: Spark 4.1 reports only a few KB
    # of "Bytes Read" for a vectorized parquet scan, but its records in full
    scan_records: int = 0
    output_mb: float = 0.0

    def add(self, other: "Totals") -> None:
        for k in self.__dataclass_fields__:
            setattr(self, k, getattr(self, k) + getattr(other, k))

    def minus(self, other: "Totals") -> "Totals":
        return Totals(**{k: getattr(self, k) - getattr(other, k) for k in self.__dataclass_fields__})


@dataclass
class Stage:
    submitted: float  # wall-clock seconds
    description: str | None
    execution_id: int | None
    scans_files: bool
    totals: Totals = field(default_factory=Totals)


def _open(path: str):
    if path.endswith(".zstd"):
        import pyarrow

        return pyarrow.input_stream(path, compression="zstd")
    return open(path, "rb")


def _files(log_path: str) -> list[str]:
    if os.path.isfile(log_path):
        return [log_path]
    names = [n for n in os.listdir(log_path) if n.startswith("events_")]
    # events_<index>_<appId>[.codec]: roll in index order
    names.sort(key=lambda n: int(n.split("_")[1]))
    return [os.path.join(log_path, n) for n in names]


def read_events(log_path: str):
    """Yield every event of one application's log (file or rolling dir)."""
    for path in _files(log_path):
        with _open(path) as f:
            for line in f.read().splitlines():
                if line.strip():
                    yield json.loads(line)


def find_logs(log_dir: str) -> list[str]:
    """Application logs under an ``spark.eventLog.dir``, oldest first."""
    paths = [os.path.join(log_dir, n) for n in os.listdir(log_dir) if not n.startswith(".")]
    return sorted(paths, key=os.path.getmtime)


def _int(value) -> int | None:
    return None if value in (None, "") else int(value)


@dataclass
class Log:
    stages: dict[tuple[int, int], Stage]  # by (stage id, attempt)
    plans: dict[int, str]  # SQL execution id -> physical plan text
    executions: dict[int, list[float]]  # SQL execution id -> [start, end] wall-clock s


def parse(log_path: str) -> Log:
    stages: dict[tuple[int, int], Stage] = {}
    plans: dict[int, str] = {}
    executions: dict[int, list[float]] = {}
    for ev in read_events(log_path):
        kind = ev.get("Event")
        if kind == "SparkListenerStageSubmitted":
            info = ev["Stage Info"]
            props = ev.get("Properties") or {}
            stages[(info["Stage ID"], info["Stage Attempt ID"])] = Stage(
                submitted=info.get("Submission Time", 0) / 1000,
                description=props.get("spark.job.description"),
                execution_id=_int(props.get("spark.sql.execution.id")),
                scans_files=any(r.get("Name") == "FileScanRDD" for r in info.get("RDD Info", [])),
            )
        elif kind == "SparkListenerTaskEnd":
            stage = stages.get((ev["Stage ID"], ev["Stage Attempt ID"]))
            metrics = ev.get("Task Metrics")
            if stage is None or not metrics:
                continue
            t = stage.totals
            t.tasks += 1
            t.run_s += metrics.get("Executor Run Time", 0) / 1000
            t.gc_s += metrics.get("JVM GC Time", 0) / 1000
            t.spill_mb += (metrics.get("Memory Bytes Spilled", 0) + metrics.get("Disk Bytes Spilled", 0)) / MB
            t.shuffle_write_mb += metrics.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0) / MB
            read = metrics.get("Input Metrics", {})
            t.input_mb += read.get("Bytes Read", 0) / MB
            if stage.scans_files:
                t.scan_records += read.get("Records Read", 0)
            t.output_mb += metrics.get("Output Metrics", {}).get("Bytes Written", 0) / MB
        elif kind == _SQL_START:
            plans[ev["executionId"]] = ev.get("physicalPlanDescription", "")
            executions[ev["executionId"]] = [ev["time"] / 1000, ev["time"] / 1000]
        elif kind == _SQL_END and ev["executionId"] in executions:
            executions[ev["executionId"]][1] = ev["time"] / 1000
    return Log(stages, plans, executions)


def group(stages, phase_of) -> dict[str, Totals]:
    """Sum stage totals by ``phase_of(stage)``; stages mapped to None are dropped."""
    out: dict[str, Totals] = {}
    for stage in stages.values():
        phase = phase_of(stage)
        if phase is not None:
            out.setdefault(phase, Totals()).add(stage.totals)
    return out


def sink_of(plan: str, paths: dict[str, str], verb: str = "file:") -> str | None:
    """The name of the path that ``plan`` shows right after ``verb``
    (``InsertIntoHadoopFsRelationCommand file:`` for a write, ``file:`` for
    any mention); longest path first, so ``x__staging`` is not taken for
    ``x``."""
    for name, path in sorted(paths.items(), key=lambda kv: -len(kv[1])):
        for end in (",", "]", " ", "\n"):
            if f"{verb}{path}{end}" in plan:
                return name
    return None
