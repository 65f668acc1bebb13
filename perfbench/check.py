"""Output check for one export + merge run, made from outside in DuckDB.

Every sink is reduced to a row count and an order-insensitive hash: the
sum, modulo 2**64, of a per-row hash over a canonical form of the row.
The canonical form follows the parquet copy's column types:

* integers and floats are compared as BIGINT / DOUBLE (a TSV cell is cast
  back from text, so ``1.0E7`` and ``10000000.0`` agree);
* ``time`` is its first 19 characters (the merged TSV re-infers it as a
  timestamp and writes a ``+0000`` offset);
* every other column is text, with NULL and the empty string equal (the
  TSV sink writes both as ``""``).

The three sinks must agree with each other, every TSV part must start
with the UTF-8 BOM, and all seven performance labels must appear.  For a
workload's default seed the parquet count and hash must also equal the
pinned values.
"""

from __future__ import annotations

import glob
import os

import duckdb

BOM = b"\xef\xbb\xbf"

PERFORMANCE_LABELS = (
    "Secondary Export Deals",
    "Not Available Scenarios",
    "Failed In Scope Deals",
    "Failed Out of Scope Deals",
    "Export Winner Deals",
    "Deals Not Exported",
    "Unknown",
)

_INTEGER = {"TINYINT", "SMALLINT", "INTEGER", "BIGINT", "HUGEINT"}
_FLOAT = {"FLOAT", "DOUBLE"}
_TSV_OPTIONS = "delim='\t', quote='\"', escape='\\', header=true, all_varchar=true"


def _connect():
    con = duckdb.connect()
    con.execute("SET enable_progress_bar = false")
    return con


def _q(name: str) -> str:
    return '"' + name.replace('"', '""') + '"'


def _lit(path: str) -> str:
    return "'" + path.replace("'", "''") + "'"


def _canonical(col: str, ctype: str, text: bool) -> str:
    c = _q(col)
    if ctype in _INTEGER or ctype in _FLOAT or ctype.startswith("DECIMAL"):
        target = "BIGINT" if ctype in _INTEGER else "DOUBLE"
        return f"TRY_CAST(NULLIF({c}, '') AS {target})" if text else f"CAST({c} AS {target})"
    value = c if text else f"CAST({c} AS VARCHAR)"
    if col == "time":
        return f"left(COALESCE({value}, ''), 19)"
    return f"COALESCE({value}, '')"


def _digest(con, relation: str, types: dict[str, str], text: bool) -> tuple[int, str]:
    exprs = ", ".join(_canonical(c, t, text) for c, t in types.items())
    n, h = con.execute(
        f"SELECT count(*), COALESCE(sum(hash({exprs}))::HUGEINT % 18446744073709551616, 0) "
        f"FROM {relation}"
    ).fetchone()
    return int(n), f"{int(h):016x}"


def _parts(path: str, pattern: str) -> list[str]:
    return sorted(glob.glob(os.path.join(path, pattern)))


def parquet_types(con, parquet_dir: str) -> dict[str, str]:
    rel = f"read_parquet({_lit(os.path.join(parquet_dir, '*.parquet'))})"
    return {r[0]: r[1] for r in con.execute(f"DESCRIBE SELECT * FROM {rel}").fetchall()}


def sink_digests(tsv_dir: str, parquet_dir: str, merged_dir: str) -> dict[str, tuple[int, str]]:
    """Row count and hash of each sink, keyed ``parquet``/``tsv``/``merged``."""
    con = _connect()
    try:
        types = parquet_types(con, parquet_dir)
        pq = f"read_parquet({_lit(os.path.join(parquet_dir, '*.parquet'))})"
        tsv = (
            f"read_csv({_lit(os.path.join(tsv_dir, '*', 'part-*.csv'))}, "
            f"{_TSV_OPTIONS}, hive_partitioning=true)"
        )
        merged = f"read_csv({_lit(os.path.join(merged_dir, 'part-*.csv'))}, {_TSV_OPTIONS})"
        return {
            "parquet": _digest(con, pq, types, text=False),
            "tsv": _digest(con, tsv, types, text=True),
            "merged": _digest(con, merged, types, text=True),
        }
    finally:
        con.close()


def labels_present(parquet_dir: str) -> set[str]:
    con = _connect()
    try:
        rel = f"read_parquet({_lit(os.path.join(parquet_dir, '*.parquet'))})"
        return {r[0] for r in con.execute(f"SELECT DISTINCT performance FROM {rel}").fetchall()}
    finally:
        con.close()


def check_outputs(
    tsv_dir: str,
    parquet_dir: str,
    merged_dir: str,
    pinned: tuple[int, str] | None = None,
) -> tuple[list[str], dict[str, tuple[int, str]]]:
    """Returns (problems, digests); an empty problem list means correct."""
    problems = []
    tsv_parts = _parts(tsv_dir, os.path.join("*", "part-*.csv"))
    merged_parts = _parts(merged_dir, "part-*.csv")
    pq_parts = _parts(parquet_dir, "*.parquet")
    if not tsv_parts or not pq_parts or len(merged_parts) != 1:
        return [
            f"missing output: {len(tsv_parts)} TSV parts, {len(merged_parts)} merged "
            f"parts, {len(pq_parts)} parquet files"
        ], {}
    for part in tsv_parts + merged_parts:
        with open(part, "rb") as f:
            if f.read(3) != BOM:
                problems.append(f"no BOM: {part}")
    try:
        digests = sink_digests(tsv_dir, parquet_dir, merged_dir)
        labels = labels_present(parquet_dir)
    except duckdb.Error as e:
        return problems + [f"unreadable output: {e}"], {}
    if len(set(digests.values())) != 1:
        problems.append(f"sinks disagree: {digests}")
    missing = set(PERFORMANCE_LABELS) - labels
    if missing:
        problems.append(f"performance labels missing: {sorted(missing)}")
    if pinned is not None and digests["parquet"] != tuple(pinned):
        problems.append(f"parquet digest {digests['parquet']} != pinned {tuple(pinned)}")
    return problems, digests


def tree_bytes(*dirs: str) -> int:
    """Bytes of every regular file under the given directories."""
    total = 0
    for d in dirs:
        for root, _, files in os.walk(d):
            total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total
