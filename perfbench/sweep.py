"""Repeat the benchmark over seeds and summarise each metric's spread.

    python3 perfbench/sweep.py --workload month_1x --seeds 1-10 [--trace 1] [--out FILE]

Runs ``perfbench/run.py`` once per seed, one after the other, and prints
(or writes to ``--out``) every run's result plus, per metric, the median,
the quartiles from ``statistics.quantiles(values, n=4)`` and the spread
(third minus first quartile, as a share of the median).
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def seeds(spec: str) -> list[int]:
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def summary(results: list[dict]) -> dict:
    out = {}
    for name in results[0]["metrics"]:
        values = [r["metrics"][name]["value"] for r in results]
        med = statistics.median(values)
        q1, _, q3 = statistics.quantiles(values, n=4) if len(values) > 1 else (med, med, med)
        out[name] = {
            "median": med,
            "q1": q1,
            "q3": q3,
            "spread": (q3 - q1) / med if med else None,
            "n": len(values),
        }
    return out


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seeds", default="1-10")
    p.add_argument("--seconds", default="10")
    p.add_argument("--trace", default="0")
    p.add_argument("--out")
    args = p.parse_args()
    runs = []
    for seed in seeds(args.seeds):
        t0 = time.monotonic()
        proc = subprocess.run(
            [sys.executable, os.path.join(ROOT, "perfbench", "run.py"), "--workload", args.workload,
             "--seed", str(seed), "--seconds", args.seconds, "--trace", args.trace],
            cwd=ROOT,
            capture_output=True,
            text=True,
        )
        lines = proc.stdout.strip().splitlines()
        result = json.loads(lines[-1]) if proc.returncode == 0 and lines else None
        record = json.loads(lines[-2]) if result and len(lines) > 1 else None
        runs.append({"seed": seed, "exit": proc.returncode, "wall_s": time.monotonic() - t0,
                     "result": result, "record": record})
        print(f"seed {seed}: exit {proc.returncode}, {time.monotonic() - t0:.1f} s", file=sys.stderr)
    ok = [r["result"] for r in runs if r["result"] and r["result"]["correct"]]
    doc = {"workload": args.workload, "trace": args.trace, "runs": runs,
           "summary": summary(ok) if ok else {}, "failed_runs": len(runs) - len(ok)}
    text = json.dumps(doc, indent=1, sort_keys=True)
    if args.out:
        with open(args.out, "w") as f:
            f.write(text + "\n")
    for name, s in doc["summary"].items():
        if s["spread"] is not None:
            print(f"{name:45s} median {s['median']:.4g}  spread {s['spread']:.3f}  n {s['n']}")
    return 0 if len(ok) == len(runs) else 1


if __name__ == "__main__":
    sys.exit(main())
