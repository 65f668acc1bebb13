"""Session bring-up and process probes shared by the benchmark's children."""

from __future__ import annotations

import os


def start_session(spec: dict):
    """``session.get_spark`` with the master, shuffle width and scratch
    locations stated explicitly, so nothing depends on the environment's
    defaults and nothing is written outside the work directory."""
    from monthly_report_etl_spark.session import get_spark

    n = spec["cores"]
    tmp = spec["tmp"]
    conf = {
        "spark.local.dir": os.path.join(tmp, "spark-local"),
        "spark.hadoop.hadoop.tmp.dir": os.path.join(tmp, "hadoop"),
        "spark.sql.warehouse.dir": os.path.join(tmp, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if spec.get("event_log"):
        conf["spark.eventLog.enabled"] = "true"
        conf["spark.eventLog.dir"] = "file://" + spec["event_log"]
    return get_spark(
        app_name="perfbench", master=f"local[{n}]", shuffle_partitions=n, extra_conf=conf
    )


def _status(pid: int) -> dict[str, str]:
    with open(f"/proc/{pid}/status") as f:
        return dict(line.rstrip("\n").split(":\t", 1) for line in f if ":\t" in line)


def java_pids() -> list[int]:
    """Every running JVM on the host (``comm`` is ``java``)."""
    pids = []
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/comm") as f:
                if f.read().strip() == "java":
                    pids.append(int(entry))
        except OSError:  # the process ended while we looked
            continue
    return pids


def _descends_from(pid: int, ancestor: int) -> bool:
    while pid > 1:
        if pid == ancestor:
            return True
        try:
            pid = int(_status(pid)["PPid"])
        except (OSError, KeyError, ValueError):
            return False
    return False


def jvm_peak_rss_mb() -> float:
    """Peak resident set (VmHWM) of this process's own JVM, in MB."""
    me = os.getpid()
    peak_kb = 0
    for pid in java_pids():
        if _descends_from(pid, me):
            try:
                peak_kb = max(peak_kb, int(_status(pid)["VmHWM"].split()[0]))
            except (OSError, KeyError, ValueError):
                continue
    return peak_kb / 1024
