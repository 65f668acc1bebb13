"""Driver-gate replica: the rows+schema+value-hash oracle compare for
catalog entries at an arbitrary scale directory (verify skill surface 4,
promoted out of /tmp heredocs at r18 so the standing receipt doesn't
depend on scratch files surviving between sessions).

  python tools/oracle_sweep.py            # all 141 entries (full sweep)

Optional: --sf-dir DIR (default /root/testdata/sf0.01), or explicit
entry names as positional args. Exits nonzero on any mismatch. The
compare is ``fuzz_differential.gate_once``, the one shared with the fuzz
and corner-gate tools: byte-faithful to the driver's gate (columns
sorted by name, rows sorted by every column, %.9g float rendering, and
a NULL sentinel).
"""
from __future__ import annotations

import os
import sys

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from fuzz_differential import gate_once  # noqa: E402

from monthly_report_etl_spark.sources.parquet import TESTDATA_TABLES  # noqa: E402


def main() -> int:
    args = [a for a in sys.argv[1:]]
    sf = "/root/testdata/sf0.01"
    if "--sf-dir" in args:
        i = args.index("--sf-dir")
        # ADVICE r18: --sf-dir as the LAST argument used to raise an
        # unhandled IndexError — validate and print usage instead.
        if i + 1 >= len(args) or args[i + 1].startswith("--"):
            print("usage: oracle_sweep.py [--sf-dir DIR] "
                  "[entry ...]  (--sf-dir requires a directory value)",
                  file=sys.stderr)
            return 2
        sf = args[i + 1]
        del args[i:i + 2]

    import __spark_entry__ as entrymod
    from monthly_report_etl_spark.session import get_spark

    queries, oracles = entrymod.queries(), entrymod.oracle_sql()
    names = args or list(oracles)

    spark = get_spark(master="local[16]", shuffle_partitions=16)
    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    for t in TESTDATA_TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf}/{t}.parquet')"
        )

    bad = []
    for name in names:
        try:
            ok, s, o = gate_once(spark, con, queries, oracles, name, sf)
            if not ok:
                bad.append(name)
                print(f"BAD {name}: spark={len(s)} oracle={len(o)}",
                      flush=True)
        except Exception as exc:  # noqa: BLE001 - sweep must not die mid-list
            bad.append(name)
            print(f"ERROR {name}: {type(exc).__name__}: {str(exc)[:160]}",
                  flush=True)
    print(f"checked: {len(names)}")
    print("bad:", bad)
    return 1 if bad else 0


if __name__ == "__main__":
    raise SystemExit(main())
