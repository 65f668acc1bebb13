"""Workload table and seeded input generation for the export-job benchmark.

Inputs come only from ``monthly_report_etl_spark.fixtures``; the seed is a
benchmark argument, so the same seed always gives byte-identical inputs.

``reexport_heavy`` is the ``month_1x`` input plus nine more generator chunks
whose scenarios are folded onto the same 8,000 ids: ten times the raw rows
and ``from_json`` parses, about the same report.  Each chunk is one
``make_exports_deals`` call (its times are tie-free across the chunk); chunk
``k`` is shifted by ``k`` microseconds, so times stay tie-free within every
folded scenario while the second-resolution report columns are unchanged.
The chunks are generated in parallel in plain child processes, each waited
for before ``make_deals`` returns.  ``multiprocessing`` is not used: its
spawn start method leaves a resource-tracker process that outlives the
pool and ends only after the benchmark itself has exited.
"""

from __future__ import annotations

import os
import pickle
import subprocess
import sys
from dataclasses import dataclass

import pandas as pd

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

DEFAULT_SEED = 42


@dataclass(frozen=True)
class Workload:
    name: str
    scenarios: int  # distinct scenario ids in the raw input
    chunks: int  # generator chunks folded onto those ids
    why: str
    # parquet (rows, hash) for DEFAULT_SEED, as perfbench/check.py computes it
    pinned: tuple[int, str] | None = None


WORKLOADS = {
    w.name: w
    for w in (
        Workload(
            "month_1x",
            8_000,
            1,
            "seed 42: 8,000 scenarios, 9,781 raw rows -> 262,512 report rows, 158.0 MB out. "
            "The 1x fixture: fixed per-job costs (codegen, checkpoint, ~60 stages) dominate",
            (262512, "324e3a96c8ca3980"),
        ),
        Workload(
            "reexport_heavy",
            8_000,
            10,
            "seed 42: 80,000 scenarios folded onto 8,000 ids, 98,260 raw rows -> 296,016 report "
            "rows, 182.8 MB out. Same output, 10x input: scan, JSON parse and dedup",
            (296016, "c74f14315d5eea74"),
        ),
    )
}


def _chunk(n_scenarios: int, seed: int, k: int) -> pd.DataFrame:
    from monthly_report_etl_spark.fixtures import make_exports_deals

    df = make_exports_deals(n_scenarios=n_scenarios, seed=chunk_seed(seed, k))
    if k:
        df["time"] = (df["time"] + pd.Timedelta(microseconds=k)).astype("datetime64[us]")
    return df


def chunk_seed(seed: int, k: int) -> int:
    """Chunk 0 uses the workload seed itself, so ``reexport_heavy``'s first
    chunk is exactly the ``month_1x`` input for the same seed."""
    return seed if k == 0 else (seed * 7919 + k * 104_729) % (2**31 - 1)


def _chunk_process(args: list[tuple[int, int, int]]) -> subprocess.Popen:
    """A child process that pickles ``[_chunk(*a) for a in args]`` to its
    standard output."""
    code = (
        "import pickle, sys; from perfbench.inputs import _chunk; "
        f"pickle.dump([_chunk(*a) for a in {args!r}], sys.stdout.buffer)"
    )
    return subprocess.Popen([sys.executable, "-c", code], cwd=ROOT, stdout=subprocess.PIPE)


def _chunks_in_children(args: list[tuple[int, int, int]], workers: int) -> list[pd.DataFrame]:
    """``_chunk`` for every argument tuple, in ``workers`` child processes
    that take every ``workers``-th tuple each; every child has ended when
    this returns or raises."""
    children = [_chunk_process(args[i::workers]) for i in range(workers)]
    parts: list[pd.DataFrame] = [None] * len(args)
    try:
        for i, child in enumerate(children):
            data, _ = child.communicate()
            if child.returncode != 0:
                raise RuntimeError(f"input generation child exited {child.returncode}")
            parts[i::workers] = pickle.loads(data)
    finally:
        for child in children:
            if child.poll() is None:
                child.kill()
            child.wait()
    return parts


def make_deals(workload: Workload, seed: int, workers: int = 1) -> pd.DataFrame:
    """The raw ``exports_deals`` frame for one workload and seed."""
    args = [(workload.scenarios, seed, k) for k in range(workload.chunks)]
    if workload.chunks == 1 or workers <= 1:
        parts = [_chunk(*a) for a in args]
    else:
        parts = _chunks_in_children(args, min(workers, workload.chunks))
    return pd.concat(parts, ignore_index=True)


def write_inputs(workload: Workload, seed: int, out_dir: str, workers: int = 1) -> tuple[str, str]:
    """Write ``exports_deals.parquet`` and ``competitor_list.csv``; returns paths."""
    from monthly_report_etl_spark.fixtures import make_competitor_list

    os.makedirs(out_dir, exist_ok=True)
    deals_path = os.path.join(out_dir, "exports_deals.parquet")
    comp_path = os.path.join(out_dir, "competitor_list.csv")
    make_deals(workload, seed, workers).to_parquet(deals_path, index=False)
    make_competitor_list().to_csv(comp_path, index=False, encoding="utf-8-sig")
    return deals_path, comp_path
