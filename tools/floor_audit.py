"""Per-entry ratio of a canonical check's WARM medians against each
entry's own historical OFFICIAL floor — the audit VERDICT r17 #3
introduced (first run at r18 as a heredoc; permanent tool since r19,
the oracle_sweep promotion precedent).

Floor = per-entry MIN across the official driver BENCH_r{12..15}.json
records (the pre-drift era). A same-code entry far above its own floor
on a quiet host is either ambient drift (adjudicate with
tools/time_entries.py pinned-era A/B — see
artifacts/floor_attribution_r19.txt) or a real regression; entries at
or over the --threshold ratio (default 1.8x) are listed at the end.

Usage:
    python tools/floor_audit.py artifacts/bench_sf01_r19_check.json
        [--floors 12,13,14,15] [--top 8] [--threshold 1.8]
"""
from __future__ import annotations

import json
import sys


def official_queries(path: str) -> dict:
    """BENCH_r{N}.json is a driver record whose `tail` holds the bench
    JSON line(s); the LAST compact line carries the official medians."""
    rec = json.load(open(path))
    tail = rec.get("tail", "")
    best = {}
    for ln in tail.splitlines():
        ln = ln.strip()
        if ln.startswith('{"metric"'):
            try:
                best = json.loads(ln)
            except json.JSONDecodeError:
                continue
    return best.get("queries", {})


def main() -> int:
    args = sys.argv[1:]
    if not args or args[0].startswith("--"):
        print(__doc__, file=sys.stderr)
        return 2
    check_path = args[0]
    floors_rounds = [12, 13, 14, 15]
    top, threshold = 8, 1.8
    if "--floors" in args:
        floors_rounds = [int(x) for x in args[args.index("--floors") + 1].split(",")]
    if "--top" in args:
        top = int(args[args.index("--top") + 1])
    if "--threshold" in args:
        threshold = float(args[args.index("--threshold") + 1])

    floors: dict[str, float] = {}
    for r in floors_rounds:
        for name, sec in official_queries(f"BENCH_r{r}.json").items():
            if isinstance(sec, (int, float)) and sec > 0:
                floors[name] = min(floors.get(name, float("inf")), sec)

    check = json.load(open(check_path))
    spread = check.get("spread", {})

    def warm(name: str) -> float | None:
        s = spread.get(name)
        if s and "warm" in s:
            return s["warm"]["median"]
        return check.get("queries", {}).get(name)

    rows = []
    for name, floor in floors.items():
        w = warm(name)
        if w is not None and w > 0:
            rows.append((w / floor, name, w, floor))
    rows.sort(reverse=True)

    print(f"== per-entry ratio vs own r{floors_rounds[0]}-r{floors_rounds[-1]} "
          f"OFFICIAL floor ==")
    print(f"{check_path} WARM medians vs per-entry official floor")
    print(f"{'entry':47s} {'ratio':>5s} {'warm':>8s} {'floor':>8s}")
    for ratio, name, w, floor in rows[:top]:
        print(f"{name:47s} {ratio:5.2f} {w:8.3f} {floor:8.3f}")
    over = [name for ratio, name, *_ in rows if ratio >= threshold]
    print(f"\nentries over {threshold}x of their own official floor: "
          f"{over or 'NONE'}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
