"""Child processes of the benchmark and the host probes recorded with them."""

from __future__ import annotations

import ctypes
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

from perfbench.check import check_outputs, tree_bytes
from perfbench.session import java_pids

MB = 1024 * 1024
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
# untraced export_s of every correct run in this checkout, one JSON line per
# run, per workload; the denominator of the traced run's overhead ratio
HISTORY = os.path.join(ROOT, ".perfbench_work", "history")
BASELINE = os.path.join(ROOT, "perfbench", "baseline")
# an invocation must end within 180 s: a child is killed at LIMIT_S after
# the invocation started, and no new cold run starts unless the previous
# one's wall time would still fit before DEADLINE_S
LIMIT_S = 175
DEADLINE_S = 150
PR_SET_CHILD_SUBREAPER = 36  # linux/prctl.h


def host_probe() -> dict:
    """1-minute load average and the number of JVMs running on the host."""
    return {"load1": os.getloadavg()[0], "jvms": len(java_pids())}


def _processes():
    """(pid, state, parent pid, process group) of every process on the host."""
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                with open(f"/proc/{entry}/stat") as f:
                    fields = f.read().rsplit(")", 1)[1].split()
            except OSError:  # the process ended while we looked
                continue
            yield int(entry), fields[0], int(fields[1]), int(fields[2])


def _group_alive(pgid: int) -> bool:
    return any(group == pgid and state != "Z" for _, state, _, group in _processes())


def become_subreaper() -> None:
    """Make this process the child subreaper of everything it starts: a
    descendant whose parent ends (the JVM once the child that started it
    has exited) is re-parented to this process, not to init, so
    ``_reap_orphans`` can wait for it and reap it."""
    ctypes.CDLL(None, use_errno=True).prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)


def _reap_orphans(grace_s: float) -> None:
    """Reap every process re-parented to this one; kill any still running
    after ``grace_s`` seconds."""
    deadline = time.monotonic() + grace_s
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:  # no children left
            return
        if pid:
            continue
        if time.monotonic() >= deadline:
            me = os.getpid()
            for child, state, parent, _ in _processes():
                if parent == me and state != "Z":
                    try:
                        os.kill(child, signal.SIGKILL)
                    except ProcessLookupError:
                        pass
        time.sleep(0.1)


def run_child(script: str, spec: dict, timeout: float) -> dict:
    """Run one benchmark child in its own process group and wait until the
    whole group (the child and its JVM) has ended and been reaped.  Returns
    the child's result file, or raises ``RuntimeError``."""
    spec = dict(spec, spawned_at=time.monotonic())
    tmp = spec["tmp"]
    env = dict(
        os.environ,
        TMPDIR=tmp,
        SPARK_LOCAL_DIRS=os.path.join(tmp, "spark-local"),
        # every JVM, the launcher's too: temp files in the work directory
        # and no hsperfdata file under /tmp
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    )
    proc = subprocess.Popen(
        [sys.executable, os.path.join(ROOT, "perfbench", script), json.dumps(spec)],
        cwd=tmp,
        env=env,
        stdout=sys.stderr,
        start_new_session=True,
    )
    code = None
    try:
        code = proc.wait(timeout=max(1.0, timeout))
    except subprocess.TimeoutExpired:
        pass
    finally:
        # the JVM exits shortly after the child; kill the group at once if
        # the child timed out or was interrupted, else after 20 s
        deadline = time.monotonic() + (20 if code is not None else 0)
        while _group_alive(proc.pid):
            if time.monotonic() >= deadline:
                try:
                    os.killpg(proc.pid, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            time.sleep(0.1)
        proc.wait()
        _reap_orphans(grace_s=5)
    if code != 0:
        raise RuntimeError(f"{script} {'timed out' if code is None else f'exited {code}'}")
    with open(spec["result"]) as f:
        return json.load(f)


def clear(*dirs: str) -> None:
    for d in dirs:
        shutil.rmtree(d, ignore_errors=True)
    os.sync()


def cold_run(spec: dict, record: dict, started: float) -> dict:
    """One fresh-process export + merge, then the output check."""
    out = spec["out"]
    clear(*out.values(), spec["result"])
    run = {"host_pre": host_probe()}
    try:
        run.update(run_child("job.py", spec, LIMIT_S - (time.monotonic() - started)))
    except RuntimeError as e:
        run["problems"] = [str(e)]
        return run
    run["problems"], run["digests"] = check_outputs(
        out["tsv"], out["parquet"], out["merged"], record["pinned"]
    )
    run["output_mb"] = tree_bytes(*out.values()) / MB
    run["input_rows_per_s"] = record["raw_rows"] / (run["export_s"] + run["merge_s"])
    return run


def append_history(workload: str, runs: list[dict]) -> None:
    os.makedirs(HISTORY, exist_ok=True)
    with open(os.path.join(HISTORY, workload + ".jsonl"), "a") as f:
        for run in runs:
            f.write(json.dumps({"export_s": run["export_s"]}) + "\n")


def untraced_export_median(workload: str) -> dict:
    """Median untraced ``export_s`` of the correct runs made in this checkout;
    when there are none, of the committed baseline's runs."""
    path = os.path.join(HISTORY, workload + ".jsonl")
    values, source = [], "history"
    if os.path.exists(path):
        with open(path) as f:
            values = [json.loads(line)["export_s"] for line in f if line.strip()]
    if not values:
        source = "baseline"
        for name in sorted(os.listdir(BASELINE)):
            if name.startswith(workload + "_set"):
                with open(os.path.join(BASELINE, name)) as f:
                    doc = json.load(f)
                values += [r["result"]["metrics"]["export_s"]["value"] for r in doc["runs"] if r["result"]]
    return {"export_s": statistics.median(values), "source": source, "n": len(values)}
