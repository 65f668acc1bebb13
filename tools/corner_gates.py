"""Deterministic corner-case gate compares over the fuzz-admitted surface.

The seeded fuzzer (tools/fuzz_differential.py) rolls each table's shape
independently, so some input classes are never GUARANTEED in any single
seed: every table empty at once, every nullable cell NULL at once, every
non-key cell identical, every timestamp pre-epoch / far-future, every
text cell exotic unicode. Each corner here builds the full ten-table
directory deterministically in that class and runs the driver-gate
rows+schema+value-hash compare for every fuzz-admitted entry.

Respects the documented cross-engine frontiers (the fuzzer's docstring
is the registry): text is NFC-normalized (combining marks flip Java-vs-
RE2 \\b — the frontier this tool's unicode corner surfaced at r17),
c_mktsegment stays ASCII (DuckDB levenshtein counts bytes), no NaN, no
vertical-tab separators, exact-binary money values.

Usage: python tools/corner_gates.py [empty nulls dup single pre_epoch
far_future unicode negatives maxtext negzero month_edge skew
ts_collision]
Runs the full family when no corner is named; exits nonzero on any
mismatch.
(`single` = exactly one row per table: singleton windows, LAG/LEAD over
one row, one-point percentiles, a one-vector corpus. `negatives` = every
non-FK numeric negative at extreme magnitude — money/value columns drawn
from exact powers of two around 2^57..2^60 (and events.value around
2^338..2^340: squares stay finite at ~2^680 but any fourth-moment path
overflows to inf identically on both engines) so per-column sums stay
EXACT and order-independent while magnitudes sit far outside the normal
pools; FK columns keep valid positive keys so join coverage survives
(the r17 identical-values lesson). `maxtext` = every text cell either a
single character (ASCII, Latin-1, CJK) or a multi-KB string, including a
multi-byte long string — NFC, no combining marks, per the frontier
registry. `negzero` = every float cell stores IEEE -0.0 at once — the
class behind four past +0.0 canonicalization fixes, guaranteed
everywhere simultaneously where the fuzzer only mixes it in; the
all-(-0.0) embedding doubles as the all-zero-vector corpus through
every norm/cosine/PCA/PQ branch. `month_edge` = every timestamp/date
exactly at a month/year/leap-day boundary — first or last representable
microsecond — the pivot points of half-open range filters, month-trunc
grouping, and RANGE frames, which uniform-random generation essentially
never hits. `skew` = 200 rows where one key holds 199/200 of every
groupable column at once — the salted-join / AQE-skew / worst-case
window-partition class — with each column's single cold row at a
different index so rows don't collapse into full duplicates.
`ts_collision` = every timestamp identical while all other columns stay
randomized — the corner-ized r16 finding 42: (ts, event_id) tie
totalization must decide every latest-wins / MAX_BY / window-order path
at once.)
"""
from __future__ import annotations

import os
import random
import sys
import tempfile
import unicodedata
from datetime import datetime, timedelta

import duckdb
import pandas as pd
import pyarrow as pa

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from fuzz_differential import (  # noqa: E402
    _SCHEMAS,
    _write,
    ENTRIES,
    gate_once,
)

# identity columns stay non-NULL/unique in every corner (table contracts)
KEYS = {
    "events": {"event_id"}, "documents": {"doc_id"}, "orders": {"o_orderkey"},
    "region": {"r_regionkey"}, "nation": {"n_nationkey"},
    "customer": {"c_custkey"}, "supplier": {"s_suppkey"}, "part": {"p_partkey"},
    "lineitem": {"l_orderkey", "l_linenumber"}, "embeddings": {"vec_id"},
}

# one fixed exact-binary value per column for the identical-values corner
CONST = {
    "ts": pd.Timestamp("2025-06-15 12:00:00"),
    "user_id": 7, "event_type": "click", "value": 250.0, "props": '{"k": 3}',
    "text": "the same text the same text", "lang": "en", "source": "src1",
    "n_chars": 27,
    # o_custkey references customer key 1 (code-review r17: the corner
    # previously used 7 while customer keys run 1..n, so every
    # orders-to-customer join produced unmatched rows on both engines
    # and the tie coverage never crossed those joins)
    "o_custkey": 1, "o_orderstatus": "O", "o_totalprice": 1250.0,
    "o_orderdate": pd.Timestamp("2025-06-15"), "o_orderpriority": "1-URGENT",
    "r_name": "EUROPE", "n_name": "FRANCE", "n_regionkey": 1,
    "c_name": "Customer#7", "c_nationkey": 1, "c_acctbal": 500.0,
    "c_mktsegment": "BUILDING",
    "s_name": "Supplier#7", "s_nationkey": 1, "s_acctbal": 500.0,
    "p_name": "ivory linen", "p_brand": "Brand#1", "p_type": "PROMO BRUSHED",
    "p_size": 10, "p_retailprice": 100.0,
    "l_partkey": 1, "l_suppkey": 1, "l_quantity": 5.0,
    "l_extendedprice": 800.0, "l_discount": 0.25, "l_tax": 0.0,
    "l_returnflag": "R", "l_linestatus": "F",
    "l_shipdate": pd.Timestamp("2025-06-20"),
    "embedding": [0.5] * 64, "label": 2,
}

# Cold-row constants for the skew corner: one alternative exact-binary
# value per column, distinct from CONST, with FK columns staying valid
# positive keys (region/nation/customer/part/supplier key 2 exists at
# the skew corner's n=200). Money values exact in binary as everywhere.
ALT = {
    "ts": pd.Timestamp("2023-01-05 06:30:00"),
    "user_id": 2, "event_type": "view", "value": 75.0, "props": '{"k": 9}',
    "text": "a different cold row text", "lang": "fr", "source": "src2",
    "n_chars": 25,
    "o_custkey": 2, "o_orderstatus": "F", "o_totalprice": 3750.0,
    "o_orderdate": pd.Timestamp("2023-01-05"), "o_orderpriority": "5-LOW",
    "r_name": "ASIA", "n_name": "CHINA", "n_regionkey": 2,
    "c_name": "Customer#2", "c_nationkey": 2, "c_acctbal": -250.0,
    "c_mktsegment": "AUTOMOBILE",
    "s_name": "Supplier#2", "s_nationkey": 2, "s_acctbal": -250.0,
    "p_name": "azure steel", "p_brand": "Brand#2",
    "p_type": "STANDARD POLISHED",
    "p_size": 30, "p_retailprice": 500.0,
    "l_partkey": 2, "l_suppkey": 2, "l_quantity": 30.0,
    "l_extendedprice": 1600.0, "l_discount": 0.5, "l_tax": 0.25,
    "l_returnflag": "N", "l_linestatus": "O",
    "l_shipdate": pd.Timestamp("2023-01-10"),
    "embedding": [-0.25] * 64, "label": 0,
}

# NFC-normalized exotic text pool for the unicode corner (astral, RTL,
# CJK, ZWJ — no combining sequences, no \\x0B, per the frontier registry)
UNI = [unicodedata.normalize("NFC", u) for u in [
    "\U0001f984 unicorn \U0001f984 gallops",
    "ab \U00010348 cd \U00010348 ef",
    "\U0001d518nicode t\U0001d522st words here",
    "שלום עולם rtl text",
    "مرحبا بالعالم",
    "élève tête forêt déjà",
    "漢字のテスト 中文文本",
    "ça va très bien üöä",
    "\U0001f1eb\U0001f1f7 flags \U0001f468‍\U0001f469‍\U0001f467 zwj family",
    "café ☃ snowman ❤ heart",
]]


def _rand_pool(rng, text_pool, ts_base):
    """Column -> value callables for the randomized (pre_epoch /
    far_future / unicode) corners."""
    def ts():
        return ts_base + timedelta(
            seconds=rng.randint(0, 30 * 365 * 86400),
            microseconds=rng.randint(0, 999999),
        )

    def txt():
        return rng.choice(text_pool)

    return {
        "user_id": lambda: rng.randint(1, 5),
        "event_type": lambda: rng.choice(
            ["click", "view", "purchase", "café", None]),
        "value": lambda: rng.choice([0.0, 25.0, 250.0, 990.0, None]),
        "props": lambda: rng.choice(['{"k": 1}', "{}", None]),
        "text": txt,
        "lang": lambda: rng.choice(["en", "fr", None]),
        "source": lambda: rng.choice(["src1", "src2"]),
        "n_chars": lambda: rng.randint(5, 40),
        "o_custkey": lambda: rng.randint(1, 4),
        "o_orderstatus": lambda: rng.choice(["O", "F"]),
        "o_totalprice": lambda: float(rng.randint(10, 5000)),
        "o_orderpriority": lambda: rng.choice(["1-URGENT", "5-LOW", None]),
        "r_name": lambda: "EUROPE",
        "n_name": lambda: "FRANCE",
        "n_regionkey": lambda: 1,
        "c_name": txt,
        "c_nationkey": lambda: 1,
        "c_acctbal": lambda: float(rng.randint(-500, 500)),
        # ASCII only: DuckDB levenshtein counts BYTES (documented frontier)
        "c_mktsegment": lambda: rng.choice(["BUILDING", "AUTOMOBILE"]),
        "s_name": txt,
        "s_nationkey": lambda: 1,
        "s_acctbal": lambda: float(rng.randint(-500, 500)),
        "p_name": txt,
        "p_brand": lambda: "Brand#1",
        "p_type": lambda: rng.choice(["PROMO BRUSHED", "STANDARD POLISHED"]),
        "p_size": lambda: rng.randint(1, 50),
        "p_retailprice": lambda: float(rng.randint(10, 2000)),
        "l_partkey": lambda: rng.randint(1, 6),
        "l_suppkey": lambda: rng.randint(1, 4),
        "l_quantity": lambda: float(rng.randint(1, 50)),
        "l_extendedprice": lambda: float(rng.randint(100, 9000)),
        "l_discount": lambda: rng.choice([0.0, 0.25, 0.5]),
        "l_tax": lambda: rng.choice([0.0, 0.25]),
        "l_returnflag": lambda: rng.choice(["N", "R", "A"]),
        "l_linestatus": lambda: rng.choice(["O", "F"]),
        "embedding": lambda: [
            round(rng.uniform(-2, 2) * 4) / 4 for _ in range(64)],
        "label": lambda: rng.randint(0, 3),
        "ts": ts, "o_orderdate": ts, "l_shipdate": ts,
    }


# maxtext pool: multi-KB strings (ASCII and multi-byte) + single chars.
# NFC-safe, no combining sequences, no vertical tabs.
_LONG_ASCII = "the quick brown fox jumps over the lazy dog " * 180   # ~8.1 KB
_LONG_ASCII2 = "data pipeline spark shuffle partition rows " * 190   # ~8.2 KB
_LONG_MULTI = unicodedata.normalize("NFC", "é字ü ω végül 漢字 ") * 500
MAXTEXT = [_LONG_ASCII, _LONG_ASCII2, _LONG_MULTI, "x", "é", "字", "0", None]


def _neg_pool(rng):
    """All-negative / extreme-magnitude numeric pools. Values are exact
    powers of two (times exact quarters where a rate column needs a
    fraction) within a <=3-bit mantissa span per column, so every sum a
    query takes is EXACT in binary and order-independent — the same
    exact-binary-money discipline as the fuzzer, at ~1e17-1e102 scale.
    FK columns (o_custkey, l_partkey, l_suppkey, *_nationkey,
    n_regionkey) keep their valid positive ranges."""
    pool = _rand_pool(
        rng, ["negative numbers here", "more words in rows", None],
        datetime(2024, 1, 1))
    big = [-(2.0 ** 60), -(2.0 ** 59), -(2.0 ** 58), -(2.0 ** 57)]
    # squares stay finite (~2^680); fourth-moment paths go inf both ways
    huge = [-(2.0 ** 340), -(2.0 ** 339), -(2.0 ** 338)]
    qty = [-(2.0 ** 40), -(2.0 ** 39), -(2.0 ** 38)]

    def pick(opts):
        return lambda: rng.choice(opts)

    pool.update({
        # events.value gets the near-overflow family: any squaring path
        # goes inf on BOTH engines; sums/avgs stay exact and finite
        "value": pick(huge + [None]),
        "o_totalprice": pick(big),
        "c_acctbal": pick(big),
        "s_acctbal": pick(big),
        "p_retailprice": pick(big),
        "l_quantity": pick(qty),
        "l_extendedprice": pick(big),
        "l_discount": pick([-0.25, -0.5]),
        "l_tax": pick([-0.25, -0.5]),
        "n_chars": lambda: -rng.randint(5, 40),
        "p_size": lambda: -rng.randint(1, 50),
        "user_id": lambda: -rng.randint(1, 5),
        "label": lambda: -rng.randint(0, 3),
        "embedding": lambda: [
            -(round(rng.uniform(0.25, 2) * 4) / 4) for _ in range(64)],
    })
    return pool


# month-boundary instants: first and last representable microsecond of
# month/year/leap-day edges — the points half-open range filters,
# month-trunc grouping, and RANGE frames pivot on, which the fuzzer's
# uniform-random microsecond offsets essentially never hit exactly
_MONTH_EDGES = [
    datetime(2024, 2, 29, 23, 59, 59, 999999),  # leap-day last us
    datetime(2024, 3, 1, 0, 0, 0, 0),           # post-leap first us
    datetime(2024, 12, 31, 23, 59, 59, 999999),  # year-end last us
    datetime(2025, 1, 1, 0, 0, 0, 0),           # year-start first us
    datetime(2025, 1, 31, 23, 59, 59, 999999),  # month-end last us
    datetime(2025, 2, 1, 0, 0, 0, 0),           # month-start first us
    datetime(2025, 6, 30, 23, 59, 59, 999999),
    datetime(2025, 7, 1, 0, 0, 0, 0),
]


def _month_edge_pool(rng):
    pool = _rand_pool(
        rng, ["edge of month text", "more words in rows", None],
        datetime(2025, 1, 1))
    edge = lambda: rng.choice(_MONTH_EDGES)  # noqa: E731
    pool.update({"ts": edge, "o_orderdate": edge, "l_shipdate": edge})
    return pool


def _ts_collision_pool(rng):
    """Every timestamp/date cell the SAME instant while all other
    columns stay randomized — the corner-ized form of r16 finding 42:
    (ts, event_id) tie totalization must decide EVERY latest-wins /
    MAX_BY / window-order path at once, because ORDER BY ts alone is a
    total tie across the whole table. The dup corner already collides
    timestamps but collapses every other column too; here the
    tiebreakers actually have work to do."""
    pool = _rand_pool(
        rng, ["same instant text", "more words in rows", None],
        datetime(2025, 3, 3))
    tsc = lambda: datetime(2025, 3, 3, 12, 0, 0, 0)  # noqa: E731
    pool.update({"ts": tsc, "o_orderdate": tsc, "l_shipdate": tsc})
    return pool


def _build(corner: str) -> str:
    d = tempfile.mkdtemp(prefix=f"corner_{corner}_")
    if corner == "empty":
        for t, sch in _SCHEMAS.items():
            _write(pd.DataFrame(columns=[f.name for f in sch]), d, t)
        return d

    n = (4 if corner == "nulls" else 5 if corner == "dup"
         else 1 if corner == "single" else 200 if corner == "skew"
         else 24)
    pool = None
    if corner == "pre_epoch":
        pool = _rand_pool(random.Random(20261931),
                          ["old text here", "more words in rows", None],
                          datetime(1931, 1, 1))
    elif corner == "far_future":
        pool = _rand_pool(random.Random(20262085),
                          ["old text here", "more words in rows", None],
                          datetime(2085, 1, 1))
    elif corner == "unicode":
        pool = _rand_pool(random.Random(20260016), UNI, datetime(2024, 1, 1))
    elif corner == "negatives":
        pool = _neg_pool(random.Random(20260018))
    elif corner == "maxtext":
        pool = _rand_pool(random.Random(20268192), MAXTEXT,
                          datetime(2024, 1, 1))
    elif corner == "month_edge":
        pool = _month_edge_pool(random.Random(20260228))
    elif corner == "ts_collision":
        pool = _ts_collision_pool(random.Random(20260042))

    for t, sch in _SCHEMAS.items():
        cols = {}
        for ci, f in enumerate(sch):
            if f.name in KEYS[t]:
                dtype = "int64" if f.type == pa.int64() else "int32"
                cols[f.name] = pd.Series(range(1, n + 1), dtype=dtype)
            elif corner == "nulls":
                cols[f.name] = pd.Series([None] * n, dtype="object")
            elif corner == "negzero":
                # every float cell stores IEEE -0.0 AT ONCE (the class
                # behind four past +0.0 canonicalization fixes; the
                # fuzzer mixes -0.0 in, but no seed guarantees it
                # everywhere simultaneously); the all-(-0.0) embedding
                # is also the all-zero-vector corpus through every
                # norm/cosine/PCA/PQ branch. Non-float cells reuse the
                # identical-values constants.
                v = (
                    -0.0 if pa.types.is_floating(f.type)
                    else [-0.0] * 64 if f.name == "embedding"
                    else CONST[f.name]
                )
                cols[f.name] = pd.Series([v] * n, dtype="object")
            elif corner in ("dup", "single"):
                cols[f.name] = pd.Series([CONST[f.name]] * n, dtype="object")
            elif corner == "skew":
                # one key holds 199/200 of the rows in EVERY groupable
                # column at once — the salted-join / AQE-skew /
                # worst-case-window-partition class the fuzzer's uniform
                # choices never concentrate. Each column flips a
                # DIFFERENT single row to its cold ALT value (cold index
                # = column position mod n) so group-bys, FK joins and
                # multi-column keys all see the 199:1 split without the
                # hot rows collapsing into full duplicates.
                vals = [CONST[f.name]] * n
                vals[ci % n] = ALT[f.name]
                cols[f.name] = pd.Series(vals, dtype="object")
            else:
                vals = [pool[f.name]() for _ in range(n)]
                if pa.types.is_timestamp(f.type):
                    cols[f.name] = pd.Series(vals, dtype="datetime64[us]")
                else:
                    cols[f.name] = pd.Series(vals, dtype="object")
        _write(pd.DataFrame(cols), d, t)
    return d


def main() -> int:
    corners = sys.argv[1:] or [
        "empty", "nulls", "dup", "single", "pre_epoch", "far_future",
        "unicode", "negatives", "maxtext", "negzero", "month_edge",
        "skew", "ts_collision"]
    import __spark_entry__ as entrymod
    from monthly_report_etl_spark.session import get_spark

    spark = get_spark(master="local[8]", shuffle_partitions=8)
    queries, oracles = entrymod.queries(), entrymod.oracle_sql()
    failures = 0
    # ADVICE r18: the retry-once protocol absorbs first-run flakes, but
    # a PILE of transients is itself a signal (a nondeterministic
    # divergence that never reproduces on immediate retry). Count them
    # and fail the gate above a threshold instead of dismissing silently.
    transients = 0
    for corner in corners:
        d = _build(corner)
        con = duckdb.connect()
        con.execute("SET TimeZone='UTC'")
        for t in _SCHEMAS:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM "
                f"read_parquet('{d}/{t}.parquet')"
            )
        bad = []
        for name in ENTRIES:
            try:
                ok, sf_, of_ = gate_once(
                    spark, con, queries, oracles, name, d)
            except Exception as exc:
                # ADVICE r17: a first-execution exception is the same
                # transient-flake class as a first-execution mismatch —
                # apply the identical retry-once protocol (deterministic
                # tables: a REAL failure reproduces) before counting it.
                try:
                    ok2, _, _ = gate_once(
                        spark, con, queries, oracles, name, d)
                except Exception:
                    ok2 = False
                if ok2:
                    transients += 1
                    print(f"{corner} TRANSIENT {name} (first run raised "
                          f"{type(exc).__name__}, retry agrees) — engine "
                          f"flake, not a divergence", flush=True)
                else:
                    bad.append(name)
                    print(f"{corner} ERROR {name}: {type(exc).__name__}: "
                          f"{str(exc)[:160]} (persists on retry)",
                          flush=True)
                continue
            if not ok:
                # retry once (the fuzzer's transient protocol): the
                # tables are deterministic, so a REAL divergence
                # reproduces — a mismatch that vanishes on immediate
                # re-execution is an engine flake, logged but not fatal
                try:
                    ok2, _, _ = gate_once(
                        spark, con, queries, oracles, name, d)
                except Exception:
                    ok2 = False
                if ok2:
                    transients += 1
                    print(f"{corner} TRANSIENT {name} (first run "
                          f"spark={len(sf_)} oracle={len(of_)}, retry "
                          f"agrees) — engine flake, not a divergence",
                          flush=True)
                else:
                    bad.append(name)
                    print(f"{corner} BAD {name}: spark={len(sf_)} "
                          f"oracle={len(of_)} (persists on retry)",
                          flush=True)
        con.close()
        print(f"{corner}: {len(ENTRIES) - len(bad)}/{len(ENTRIES)} ok; "
              f"bad: {bad}", flush=True)
        failures += len(bad)
    # Threshold: across the full family (~11 corners x 134 entries =
    # ~1470 gate executions) the observed historical transient rate is
    # zero-to-low single digits; more than 3 in one run means something
    # nondeterministic is loose and deserves a human eye, not a pass.
    print(f"TOTAL corners={len(corners)} failures={failures} "
          f"transients={transients}")
    if transients > 3:
        print("TRANSIENT threshold exceeded (>3) — treat as gate failure "
              "and investigate nondeterminism", flush=True)
        return 1
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
