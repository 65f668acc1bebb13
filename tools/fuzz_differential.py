"""Seeded randomized Spark-vs-oracle differential fuzz (r15).

The hand-built boundary fixtures (tests/test_properties.py, fixtures
1-17) pin the CONVENTIONS the hunt identified; this tool covers the
combinations nobody thought to write down: for each seed it generates
adversarial `events` / `documents` / `orders` tables (NULLs in every
nullable column, boundary timestamps, unicode/whitespace text, valid
and broken JSON, ±inf values, duplicate keys) and hash-compares a
broad subset of catalog entries against their registered DuckDB
oracles — the same rows+schema+value-hash gate the driver runs.

Deliberately EXCLUDED from generation (known, documented cross-engine
frontiers — each pinned or rationalized in COVERAGE.md, not bugs this
tool should re-find every run):
  * NaN in double columns (aggregate/window NaN-ordering differs by
    engine version; the engines' own docs disagree);
  * trailing-garbage JSON (Jackson vs DuckDB prefix-lenience,
    documented at dq_violations);
  * non-ASCII whitespace OR vertical tab (\\x0B) as a token separator
    in TEXT columns (the Spark side tokenizes by Java \\s, which
    includes \\x0B; the split-form TOKS_SQL oracles use RE2 \\s, which
    excludes it — the count-form entry text_quality_score is Java-exact
    as of r16 and pinned by its own VT fixture, but the token-ARRAY
    entries keep the RE2 split and would diverge on \\x0B-separated
    tokens; pinned by fixture 13 for the non-ASCII part);
  * COMBINING MARKS adjacent to stopword letters in TEXT columns
    (r17 unicode corner probe: Java's \\b treats a combining mark as
    word-internal, RE2's ASCII \\b puts a boundary there — \\ble\\b
    on 'e<combining acute>le<combining grave>ve' is 0 in Spark, 1 in
    DuckDB, both measured; RE2 has no lookarounds so Java's boundary
    is not expressible oracle-side — precomposed forms like 'café'
    agree and stay in the pool);
  * ASCII control chars / DEL inside JSON STRING VALUES are now FAIR
    GAME (r16: the oracles mirror Spark's measured [\\x00-\\x20\\x7f]
    cast trimAll) — but the PROPS pool keeps them out of TEXT columns
    per the bullet above;
  * int64-range JSON numbers in FRACTIONAL form beyond 2^53
    (9007199254740993.0): DuckDB types them DOUBLE so the
    json_variant_extract oracle's double round-trip truncates to
    ...992 while Spark's variant keeps decimal precision (...993) —
    documented at json_variant_extract;
  * NULL map keys (map_from_entries RAISES in BOTH engines);
  * values whose ROUND(x, 2) sits within half an ulp of a .xx5
    boundary: Spark's round re-decimalizes the double via its shortest
    string rendering (BigDecimal HALF_UP on Double.toString — 1247.985
    → 1247.99) while DuckDB rounds the BINARY value
    (1247.98499999... → 1247.98). Not expressible in portable SQL.
    Both engines DO agree on exact-binary halves (0.125 → 0.13, away
    from zero — measured), so the generator keeps every money value
    exact binary: integer quantities/prices/balances and
    {0, 0.25, 0.5} discounts/taxes make all products and sums exact,
    and event values stay 2-decimal (their only rounded use is SUM,
    whose true value then has nothing at the 3rd decimal);
  * MIXED extreme-magnitude money values (e.g. 2^60 alongside 2^5 in
    one column): catastrophic cancellation makes the low bits of
    variance/covariance engine-algorithm-dependent, and with enough
    magnitude spread the noise crosses the %.9g hash — a numerical
    frontier, not a bug (the r18 negatives CORNER covers the extreme
    case deterministically with <=3-bit per-column mantissa spans so
    every sum stays exact, and the one genuine finding it produced —
    sign-arbitrary noise around a TRUE-ZERO covariance — is fixed by
    stats_corr's relative-epsilon clamp, not by exclusion). Do NOT
    "generalize" the money pools to mixed magnitudes; it would mint
    flaky non-bug findings.

Usage: python tools/fuzz_differential.py [n_seeds] [start_seed]
Writes one line per (seed, entry) mismatch; exits nonzero on any.
"""
from __future__ import annotations

import hashlib
import os
import random
import string
import sys
import tempfile
from datetime import datetime, timedelta

import duckdb
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# Every table is written under an EXPLICIT arrow schema (r16 tiny-table
# probe lesson): a column that samples empty or all-NULL would otherwise
# be written null-typed — DuckDB reads it as INT32 and Spark can't cast
# INT to ARRAY<DOUBLE> — i.e. the probe would be testing a generator
# artifact, not the engines. The schemas ARE the table contracts.
_SCHEMAS = {
    "events": pa.schema([
        ("event_id", pa.int64()), ("ts", pa.timestamp("us")),
        ("user_id", pa.int64()), ("event_type", pa.string()),
        ("value", pa.float64()), ("props", pa.string()),
    ]),
    "documents": pa.schema([
        ("doc_id", pa.int64()), ("text", pa.string()), ("lang", pa.string()),
        ("source", pa.string()), ("n_chars", pa.int64()),
    ]),
    "orders": pa.schema([
        ("o_orderkey", pa.int64()), ("o_custkey", pa.int64()),
        ("o_orderstatus", pa.string()), ("o_totalprice", pa.float64()),
        ("o_orderdate", pa.timestamp("us")), ("o_orderpriority", pa.string()),
    ]),
    "region": pa.schema([("r_regionkey", pa.int64()), ("r_name", pa.string())]),
    "nation": pa.schema([
        ("n_nationkey", pa.int32()), ("n_name", pa.string()),
        ("n_regionkey", pa.int32()),
    ]),
    "customer": pa.schema([
        ("c_custkey", pa.int64()), ("c_name", pa.string()),
        ("c_nationkey", pa.int32()), ("c_acctbal", pa.float64()),
        ("c_mktsegment", pa.string()),
    ]),
    "supplier": pa.schema([
        ("s_suppkey", pa.int64()), ("s_name", pa.string()),
        ("s_nationkey", pa.int32()), ("s_acctbal", pa.float64()),
    ]),
    "part": pa.schema([
        ("p_partkey", pa.int64()), ("p_name", pa.string()),
        ("p_brand", pa.string()), ("p_type", pa.string()),
        ("p_size", pa.int32()), ("p_retailprice", pa.float64()),
    ]),
    "lineitem": pa.schema([
        ("l_orderkey", pa.int64()), ("l_partkey", pa.int64()),
        ("l_suppkey", pa.int64()), ("l_linenumber", pa.int32()),
        ("l_quantity", pa.float64()), ("l_extendedprice", pa.float64()),
        ("l_discount", pa.float64()), ("l_tax", pa.float64()),
        ("l_returnflag", pa.string()), ("l_linestatus", pa.string()),
        ("l_shipdate", pa.timestamp("us")),
    ]),
    "embeddings": pa.schema([
        ("vec_id", pa.int64()), ("embedding", pa.list_(pa.float64())),
        ("label", pa.int32()),
    ]),
}


def _write(df: pd.DataFrame, d: str, table: str) -> None:
    pq.write_table(
        pa.Table.from_pandas(df, schema=_SCHEMAS[table], preserve_index=False),
        os.path.join(d, f"{table}.parquet"),
    )

EVENT_TYPES = ["click", "view", "purchase", "error", "signup", None, "refund", "café"]
PROPS = [
    '{"k": %d}', '{"k": "%d"}', '{"k": null}', "{}", None, "{ba", "nul",
    '{"k": "4.6"}', '{"k": 4.6}', '{"k": "abc"}', "[1,2]", "null",
    '{"k": {"a": 1}}', '{"k": ".5"}', '{"k": true}',
    # r16: control-char trim frontier is now oracle-mirrored
    # ([\x00-\x20\x7f], measured) — generate it
    '{"k": "\\u000111\\u0001"}', '{"k": "\\u001c%d\\u001c"}',
    '{"k": "\\u00a05\\u00a0"}', '{"k": "\\u007f9\\u007f"}',
]
TEXT_POOL = [
    None, "", "   ", "\t\t", "a", "the quick fox", "spam spam spam",
    "caf\xe9 d\xe9j\xe0 vu", "!!! ???", "\tTab led words here",
    "w0 " * 40, "the der die das", "x\ny\nz",
    # astral-plane probe (r16 continuation): supplementary-plane code
    # points are TWO UTF-16 units in Java but ONE code point everywhere
    # the engines count (Spark length/substring are code-point based on
    # UTF8String; DuckDB and Python agree) — these rows prove the text
    # family never falls back to UTF-16-unit arithmetic. No ß/ligatures
    # (the documented Java-full-map vs DuckDB-simple-map case frontier).
    "\U0001f984 unicorn \U0001f984", "ab \U00010348 cd \U00010348",
    "\U0001d518nicode t\U0001d522st words",
]


def gen_tables(seed: int, d: str) -> None:
    rng = random.Random(seed)
    # tiny-table probe (r16 continuation): 1 in 7 seeds generates 0-6
    # row tables — empty inputs, empty groups, single-row windows, a
    # possibly-empty embeddings table. A 1000-executor job sees empty
    # partitions and empty ingest days constantly; an operator that
    # crashes or diverges on zero rows dies at 100 TB, same class as
    # the r15 np.stack poison-row crash.
    # SPARK_GRAFT_FUZZ_TINY=1 forces tiny mode for EVERY seed — the
    # dedicated tiny-heavy batch (the probe's hit rate on its first
    # seeds justified concentrating fire)
    tiny = seed % 7 == 3 or os.environ.get("SPARK_GRAFT_FUZZ_TINY") == "1"
    t0 = datetime(2024, 1, 1)
    n_ev = rng.randint(0, 6) if tiny else rng.randint(30, 120)
    ev_rows = []
    for i in range(n_ev):
        # ~1 in 4 non-NULL event times range over 1900-2100 (r16: the
        # pre-1970 corner found the sliding-window oracle's truncating
        # epoch division — DuckDB // rounds toward zero, snapping a
        # negative off-grid epoch one slide late); the rest stay
        # 2024-centered so funnels/attribution windows keep firing
        r_ts = rng.random()
        # ~half of all non-NULL event times carry a sub-second
        # microsecond component (r16 continuation): window/session/
        # slide bucketing must floor identically on off-second epochs,
        # including NEGATIVE pre-1970 ones where truncating division
        # would snap the wrong way
        us = rng.randint(0, 999_999) if rng.random() < 0.5 else 0
        ts = (
            None
            if r_ts < 0.08
            else datetime(rng.randint(1900, 2100), rng.randint(1, 12),
                          rng.randint(1, 28), rng.randint(0, 23),
                          rng.randint(0, 59), rng.randint(0, 59), us)
            if r_ts < 0.28
            # ~15% draw from a 3-timestamp collision pool (r16
            # continuation): EXACT duplicate event times — including
            # same-user ones — exercise every ordering tiebreak under
            # genuine ties; an oracle ordered by ts alone would be
            # legitimately nondeterministic and the hash gate catches it
            # one pool member sits INSIDE the flagship's
            # 2024-01-05..2024-01-25 window so exports_report_events'
            # dedup actually sees ties (the first pool draft missed it:
            # the flagship matched 0 rows on every collision seed)
            else rng.choice([
                datetime(2024, 1, 1, 12, 0, 0),
                datetime(2024, 1, 10, 12, 30, 0, 500_000),
                datetime(1969, 12, 31, 23, 59, 59),
            ])
            if r_ts < 0.43
            else t0 + timedelta(seconds=rng.randint(-10**8, 10**8),
                                microseconds=us)
        )
        user = None if rng.random() < 0.08 else rng.randint(-3, 12)
        et = rng.choice(EVENT_TYPES)
        r = rng.random()
        value = (
            None if r < 0.15
            else float("inf") if r < 0.17
            else float("-inf") if r < 0.19
            # negative zero (r16 continuation): IEEE -0.0 survives SUM/
            # MIN/round in engine-specific ways and the hash's %.9g
            # renders the sign ('-0'), so any canonicalization gap in
            # an oracle is visible — the stats_moments/corr class
            else -0.0 if r < 0.21
            else round(rng.uniform(-1000, 1500), 2)
        )
        p = rng.choice(PROPS)
        if p is not None and "%d" in p:
            p = p % rng.randint(-100, 100)
        ev_rows.append((i, ts, user, et, value, p))
    ev = pd.DataFrame(
        ev_rows, columns=["event_id", "ts", "user_id", "event_type", "value", "props"]
    )
    ev["ts"] = ev["ts"].astype("datetime64[us]")
    ev["user_id"] = ev["user_id"].astype("Int64")
    # explicit string dtypes everywhere a column COULD sample all-NULL:
    # pandas would otherwise write a null-typed parquet column that
    # DuckDB reads as INT32, making `col = 'literal'` a conversion error
    for c in ("event_type", "props"):
        ev[c] = ev[c].astype("string")
    _write(ev, d, "events")

    n_doc = rng.randint(0, 5) if tiny else rng.randint(15, 40)
    doc_rows = []
    for i in range(n_doc):
        if rng.random() < 0.5:
            text = rng.choice(TEXT_POOL)
        else:
            text = " ".join(
                "".join(rng.choices(string.ascii_lowercase, k=rng.randint(1, 8)))
                for _ in range(rng.randint(1, 50))
            )
        lang = rng.choice(["en", "de", "fr", None, "zz", "4.2"])
        # 'src19' is INGEST_SOURCE (corpus.py): sampling it makes the
        # corpus_incremental_ingest* incoming batch non-empty, so their
        # anti-join/Bloom/near-dup paths actually execute per seed
        source = rng.choice(["web", "books", "cc", None, "src19"])
        n_chars = None if text is None else len(text)
        doc_rows.append((i, text, lang, source, n_chars))
    docs = pd.DataFrame(
        doc_rows, columns=["doc_id", "text", "lang", "source", "n_chars"]
    )
    docs["n_chars"] = docs["n_chars"].astype("Int64")
    for c in ("text", "lang", "source"):
        docs[c] = docs[c].astype("string")
    _write(docs, d, "documents")

    n_ord = rng.randint(0, 5) if tiny else rng.randint(15, 60)
    o_rows = []
    for i in range(n_ord):
        key = None if rng.random() < 0.05 else i + 1
        cust = None if rng.random() < 0.1 else rng.randint(1, 10)
        status = rng.choice(["O", "F", "P", None])
        r_tp = rng.random()
        price = (
            None if r_tp < 0.12
            else -0.0 if r_tp < 0.17  # negative-zero probe
            else float(rng.randint(0, 9000))
        )
        # ~1 in 5 non-NULL order dates range over 1900-2100 (r16, the
        # timestamp-domain widening); the rest stay 1992-2001 so the
        # OLAP constant-date filters keep selecting rows
        r_dt = rng.random()
        date = (
            None
            if r_dt < 0.08
            else datetime(rng.randint(1900, 2100), rng.randint(1, 12),
                          rng.randint(1, 28))
            if r_dt < 0.24
            else datetime(rng.randint(1992, 2001), rng.randint(1, 12), rng.randint(1, 28))
        )
        prio = rng.choice(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW", None]
        )
        o_rows.append((key, cust, status, price, date, prio))
    orders = pd.DataFrame(
        o_rows, columns=["o_orderkey", "o_custkey", "o_orderstatus",
                         "o_totalprice", "o_orderdate", "o_orderpriority"],
    )
    orders["o_orderkey"] = orders["o_orderkey"].astype("Int64")
    orders["o_custkey"] = orders["o_custkey"].astype("Int64")
    orders["o_orderdate"] = orders["o_orderdate"].astype("datetime64[us]")
    for c in ("o_orderstatus", "o_orderpriority"):
        orders[c] = orders[c].astype("string")
    _write(orders, d, "orders")

    # TPC-H dimension chain + fact (r15 second fuzz surface: the OLAP
    # family). Names deliberately include the constants the queries
    # filter on (BUILDING, PROMO, NATION_*, ASIA, 'blue%', Brand#7)
    # so the filtered paths actually execute, plus NULLs and danglers.
    region = pd.DataFrame(
        [(0, "AFRICA"), (1, "AMERICA"), (2, "ASIA"), (3, None),
         (4, "EUROPE")],
        columns=["r_regionkey", "r_name"],
    )
    _write(region, d, "region")
    nat_names = ["NATION_1", "NATION_2", "NATION_3", "NATION_9", None,
                 "ALGERIA", "BRAZIL"]
    nation = pd.DataFrame(
        [(i, nat_names[i % len(nat_names)],
          None if rng.random() < 0.1 else rng.randint(0, 4))
         for i in range(8)],
        columns=["n_nationkey", "n_name", "n_regionkey"],
    )
    nation["n_regionkey"] = nation["n_regionkey"].astype("Int32")
    nation["n_nationkey"] = nation["n_nationkey"].astype("int32")
    _write(nation, d, "nation")
    # segs stay ASCII: DuckDB levenshtein counts BYTES, Spark counts
    # CHARACTERS (measured: levenshtein('Ü','U') = 2 in DuckDB) — a
    # documented frontier, so the levenshtein input column never
    # carries non-ASCII. Names MAY carry accents/emoji/controls (r16:
    # strpos/substr/reverse/length are char-based and agree in both
    # engines) but not Unicode SPECIAL-CASING chars (ß, ligatures):
    # Java upper() full-maps 'ß' -> 'SS' where DuckDB simple-maps to
    # 'ẞ' — the other documented frontier.
    segs = ["BUILDING", "AUTOMOBILE", "MACHINERY", "FURNITURE", None]
    name_forms = [
        None, "", "   ", "Customer#{i}", "caf\xe9#{i}", "\xe1bć#{i}#2",
        "a\tb#{i}", "emoji\U0001f642#{i}", "Ωmega {i}",
        "Customer#{i}", "Customer#{i}",  # keep the plain form dominant
    ]
    def _cname(i):
        f = rng.choice(name_forms)
        return None if f is None else f.replace("{i}", str(i))
    customer = pd.DataFrame(
        [(i, _cname(i),
          None if rng.random() < 0.1 else rng.randint(0, 9),  # dangler 8/9
          None if (r_ab := rng.random()) < 0.12
          else -0.0 if r_ab < 0.18  # negative-zero balance (see value)
          else float(rng.randint(-999, 9999)),
          rng.choice(segs))
         for i in range(1, rng.randint(2, 4) if tiny else rng.randint(6, 14))],
        columns=["c_custkey", "c_name", "c_nationkey", "c_acctbal",
                 "c_mktsegment"],
    )
    customer["c_nationkey"] = customer["c_nationkey"].astype("Int32")
    for c in ("c_name", "c_mktsegment"):
        customer[c] = customer[c].astype("string")
    _write(customer, d, "customer")
    supplier = pd.DataFrame(
        [(i, None if rng.random() < 0.1 else f"Supplier#{i}",
          None if rng.random() < 0.12 else rng.randint(0, 9),
          None if (r_sb := rng.random()) < 0.15
          else -0.0 if r_sb < 0.21  # negative-zero probe (finding 41 class)
          else float(rng.randint(-99, 999)))
         for i in range(1, rng.randint(2, 4) if tiny else rng.randint(4, 9))],
        columns=["s_suppkey", "s_name", "s_nationkey", "s_acctbal"],
    )
    supplier["s_nationkey"] = supplier["s_nationkey"].astype("Int32")
    supplier["s_name"] = supplier["s_name"].astype("string")
    _write(supplier, d, "supplier")
    types = ["PROMO", "PROMO POLISHED", "STANDARD BRUSHED", "ECONOMY",
             None, "PROMO ANODIZED"]
    names = ["blue misty crate", "green metal thing", "red shiny box",
             None, "ivory case", "blue thing"]
    part = pd.DataFrame(
        [(i, rng.choice(names),
          rng.choice(["Brand#7", "Brand#12", "Brand#34", None]),
          rng.choice(types),
          None if rng.random() < 0.12 else rng.randint(1, 50),
          None if (r_rp := rng.random()) < 0.12
          else -0.0 if r_rp < 0.18  # negative-zero probe
          else float(rng.randint(0, 2000)))
         for i in range(1, rng.randint(2, 4) if tiny else rng.randint(4, 10))],
        columns=["p_partkey", "p_name", "p_brand", "p_type", "p_size",
                 "p_retailprice"],
    )
    part["p_size"] = part["p_size"].astype("Int32")
    for c in ("p_name", "p_brand", "p_type"):
        part[c] = part[c].astype("string")
    _write(part, d, "part")
    n_li = rng.randint(0, 6) if tiny else rng.randint(20, 90)
    li_rows = []
    for i in range(n_li):
        li_rows.append((
            rng.randint(1, max(2, n_ord)),          # may dangle vs NULL-keyed orders
            rng.randint(1, 12),                      # may dangle vs part
            None if rng.random() < 0.06 else rng.randint(1, 10),
            i + 1,
            # integer quantities/prices and exact-binary-quarter
            # discounts/taxes: every product and sum stays an exact
            # binary value, so ROUND(x, 2) never lands inside the
            # documented Spark-vs-DuckDB double-rounding frontier (both
            # engines round EXACT halves away from zero; they only
            # disagree on inexact .xx5 renderings)
            None if rng.random() < 0.1 else float(rng.randint(1, 60)),
            None if rng.random() < 0.1 else float(rng.randint(10, 9000)),
            None if rng.random() < 0.1 else rng.choice([0.0, 0.25, 0.5]),
            None if rng.random() < 0.1 else rng.choice([0.0, 0.25, 0.5]),
            rng.choice(["N", "R", "A", None]),
            rng.choice(["O", "F", None]),
            # same 1900-2100 widening as order dates (r16)
            None if (r_sd := rng.random()) < 0.08
            else datetime(rng.randint(1900, 2100), rng.randint(1, 12),
                          rng.randint(1, 28))
            if r_sd < 0.24
            else datetime(rng.randint(1992, 2001), rng.randint(1, 12),
                          rng.randint(1, 28)),
        ))
    lineitem = pd.DataFrame(
        li_rows, columns=["l_orderkey", "l_partkey", "l_suppkey",
                          "l_linenumber", "l_quantity", "l_extendedprice",
                          "l_discount", "l_tax", "l_returnflag",
                          "l_linestatus", "l_shipdate"],
    )
    lineitem["l_suppkey"] = lineitem["l_suppkey"].astype("Int64")
    lineitem["l_linenumber"] = lineitem["l_linenumber"].astype("int32")
    lineitem["l_shipdate"] = lineitem["l_shipdate"].astype("datetime64[us]")
    for c in ("l_returnflag", "l_linestatus"):
        lineitem[c] = lineitem[c].astype("string")
    _write(lineitem, d, "lineitem")

    # embeddings (r15 third fuzz surface: the vector family): 64-d
    # float32 vectors with NULL rows (the read_vectors contract), zero
    # vectors (no ground truth / no quantization scale), exact
    # duplicates and negations (cos +-1 ties), and NULL labels. DIM is
    # fixed by the table contract (ragged vectors are out of contract).
    DIM = 64
    n_vec = rng.randint(0, 6) if tiny else rng.randint(20, 45)
    vec_rows = []
    for i in range(n_vec):
        r = rng.random()
        if r < 0.08:
            emb = None
        elif r < 0.14:
            emb = [0.0] * DIM
        elif r < 0.22 and vec_rows:
            donor = next((v for _, v, _ in reversed(vec_rows) if v), None)
            emb = list(donor) if donor else [1.0] * DIM
            if rng.random() < 0.5 and emb:
                emb = [-x for x in emb]
        else:
            emb = [
                round(rng.uniform(-2, 2) * 4) / 4 for _ in range(DIM)
            ]  # exact quarters: fold sums stay exact binary
        label = None if rng.random() < 0.1 else rng.randint(0, 3)
        vec_rows.append((i, emb, label))
    embeddings = pd.DataFrame(
        vec_rows, columns=["vec_id", "embedding", "label"]
    )
    embeddings["label"] = embeddings["label"].astype("Int32")
    _write(embeddings, d, "embeddings")


# Entries runnable on (events, documents, orders) alone — no joins to
# tables this generator doesn't build, no trained models, no file sinks.
ENTRIES = [
    "case_classifier", "filter_project_window", "dq_violations",
    "distinct_event_types", "exists_over_array", "global_denominators",
    "events_user_sequences", "streaming_sessionize",
    "streaming_tumbling_window_batch", "streaming_interval_join_batch",
    "events_last_touch_attribution", "events_funnel",
    "events_sliding_window", "dedup_latest_maxby", "collect_types_sorted",
    # r16 admissions (first sweep with them found and fixed two real
    # divergences the same round: events_sessionize_batch had missed the
    # r15 NULL-event-time convention; olap_cheapest_supplier's struct-min
    # ranked a NULL acctbal as cheapest)
    "events_sessionize_batch", "events_retention_cohort",
    # asof_join was admitted in this wave and immediately found
    # divergent (seed 20260848): a NULL-ts purchase sits NULLS FIRST in
    # Spark's as-of sort (no prior click -> NULL) and NULLS LAST in
    # DuckDB's (carries the last click) — the same NULL-event-time
    # convention the rest of the timeline family pins. Its fix (filter
    # NULL ts both sides) landed r17 and the entry is re-admitted in
    # the r17 block below.
    "olap_cheapest_supplier", "order_nulls_handling", "regex_clean_strings",
    "corpus_mix_weights", "corpus_pack_sequences",
    "corpus_pack_sequences_ranged", "corpus_stratified_sample",
    "corpus_pii_flags", "corpus_decontaminate", "corpus_bpe_pair_counts",
    "dedup_connected_components",
    # r16 second admission wave: the whole multimodal family — probing
    # it found the oracles modeled payloads as per-CHAR ascii() streams
    # (ASCII-only, fine on the sf corpora, wrong on 'café'); they now
    # reconstruct the true UTF-8 byte stream via hex(encode(text)), so
    # the family is byte-exact on arbitrary unicode
    "multimodal_decode_features", "multimodal_frame_sample",
    "multimodal_audio_rms",
    # r17 re-admissions — the whole deferred-fix queue landed, so every
    # pending-fix exclusion is gone (the r16 verdict's contract: the
    # exclusion list ends the round EMPTY of pending-fix entries):
    # recursive_order_chains (NULL-order-date rows now filtered in the
    # shared adjacency template), asof_join (NULL-ts rows filtered both
    # sides — the timeline convention), grouping_sets_orders (()-set
    # HAVING mirror, the rollup/cube twins' fix), embeddings_pq (the
    # allow_empty transform split), percentiles_exact + array_functions
    # (+ 0.0 signed-zero canonicalizations, finding 41),
    # sketch_partial_merge (LEFT ranks join keeps the 'ALL' row on
    # empty orders, finding 40). All seven fuzz with their classes'
    # dedicated probes (tiny tables, NULL timestamps, -0.0 values).
    "recursive_order_chains", "asof_join", "grouping_sets_orders",
    "embeddings_pq", "percentiles_exact", "array_functions",
    "sketch_partial_merge",
    # Still excluded, with PERMANENT reasons:
    # map_functions (the generator's NULL event_type becomes
    # a map KEY and map_from_entries RAISES in both engines — the
    # documented frontier above); corpus_bpe_train_merges /
    # corpus_bpe_tokenize (iterative trainers, ~30-60 s per seed —
    # equivalence-fuzzed separately to 220k corpora at r14);
    # similarity_ivf_topk / similarity_pca_ivf /
    # similarity_pq_adc / dedup_semdedup_kmeans (recall floors
    # calibrated to benchmark corpora — the standing rationale below).
    "json_extract_props", "json_variant_extract",
    "exports_report_events", "approx_aggregates", "exact_distinct_bounds",
    "sketch_count_min", "null_profile_orders",
    "date_ops", "numeric_coercion", "text_token_stats", "text_c4_filter",
    "text_language_id", "text_quality_score", "text_fingerprint",
    "text_lang_mismatch", "text_unigram_logprob", "posexplode_tokens",
    "corpus_length_buckets", "corpus_normalize_dedup",
    "corpus_repetition_stats", "corpus_source_lang_rollup",
    "corpus_train_val_test_split", "corpus_feature_hashing",
    "corpus_chunk_documents",
    "corpus_sample_hash_mod", "corpus_length_trim", "dedup_exact",
    # sink/ingest admission wave (r16 continuation): these were excluded
    # as "file-sink/manifest entries the per-seed view harness doesn't
    # model", but the one with external state (the JSONL stage dir) keys
    # it by md5(sf_dir), so per-seed temp dirs mint per-seed state with
    # no collisions and no cross-seed reuse. The generator now samples
    # 'src19' (= INGEST_SOURCE) so the incoming batch is non-empty.
    "union_by_name", "jsonl_roundtrip_docs",
    "corpus_incremental_ingest", "corpus_incremental_ingest_neardup",
    "multimodal_byte_stats", "upsert_full_outer", "topk_orders",
    "month_membership_filter",
    # TPC-H/OLAP family (needs the dimension chain the generator builds)
    "pricing_summary", "olap_shipping_priority",
    "olap_order_priority_semijoin", "olap_large_orders",
    "olap_returned_items", "olap_top_revenue_supplier",
    "olap_promo_revenue", "olap_small_quantity_avg",
    "olap_order_count_distribution", "olap_dormant_rich_customers",
    "olap_regional_revenue", "olap_local_supplier_volume",
    "olap_market_share", "olap_nation_pair_volume",
    "olap_supplier_part_types", "olap_priority_linecount",
    "olap_important_stock", "olap_dominant_supplier",
    "olap_disjunctive_brackets", "olap_forecast_revenue",
    "olap_product_profit", "olap_last_shipper",
    # olap_yearly_growth re-admitted r16: the pre-stated NULL-year fix
    # landed (both sides exclude NULL order dates — a YoY delta over an
    # unknown year is meaningless, and the NULL year sat at opposite
    # ends of the two engines' LAG sorts). No exclusions remain outside
    # the documented recall-floor rationale below.
    "olap_yearly_growth",
    "join_hints_shuffle_hash", "unpivot_part", "salted_join",
    "range_join_bucketized", "lookup_enrich_broadcast",
    "rank_in_segment_month",
    "rank_pivot_merge_back", "rollup_lineitem",
    "cube_orders", "filtered_agg_orders", "stats_corr",
    "stats_moments_group", "window_distribution", "window_fill_forward",
    "islands_active_months", "scd2_history", "semi_anti_join",
    "set_ops", "window_family", "window_range_frame",
    "string_funcs_customer", "calendar_spine_monthly",
    # vector family (needs the embeddings table the generator builds).
    # The three recall-FLOOR entries (similarity_ivf_topk,
    # similarity_pca_ivf, similarity_pq_adc) are excluded: their
    # recall_ok >= 0.6 contract is a statistical property of the
    # benchmark corpora (iid-ish 64-d vectors at sf scale), NOT a
    # mathematical invariant -- a 20-vector adversarial corpus of
    # duplicates/negations/zero vectors legitimately recalls below the
    # floor (measured 0.575 at seed 40000002) with the measurement
    # itself CORRECT. Fixture 17 pins the measurement machinery at the
    # boundary; fuzzing a tripwire calibrated to different data would
    # only manufacture false alarms.
    # dedup_semdedup_kmeans is excluded for the same reason: its
    # drop-recall >= 0.5 floor vs the exact baseline is calibrated to
    # the benchmark corpora, and a random duplicate-heavy corpus
    # legitimately misses it with the measurement itself correct.
    "similarity_knn_brute_force", "similarity_ann_lsh",
    "dedup_embedding_cosine", "embeddings_pca",
    "embeddings_quantize_int8", "embeddings_standardize",
    "dedup_semdedup_exact",
    # deterministic text-dedup entries over the documents table
    "dedup_minhash_lsh", "dedup_simhash", "dedup_ngram_jaccard",
    "dedup_duplicate_spans",
    "dedup_canonical_selection", "corpus_tfidf_top_terms",
    "corpus_bigram_top", "corpus_ngram_novelty",
    "date_funcs_extended",
]

# ADVICE r16 #4: two names were listed twice, so every seed ran them
# twice and the per-seed total overstated distinct coverage by 2.
assert len(ENTRIES) == len(set(ENTRIES)), sorted(
    n for n in set(ENTRIES) if ENTRIES.count(n) > 1
)


# Shared gate-compare primitives (hoisted at r17 — code-review: a third
# copy of canon/vhash was accreting in tools/corner_gates.py, and the
# r16 na_rep sentinel fix already had to land in two places).
def canon(df):
    df = df[sorted(df.columns)]
    return df.sort_values(list(df.columns)).reset_index(drop=True)


def vhash(df):
    # na_rep sentinel (r16, finding 35's lesson): plain to_csv renders
    # BOTH NULL and '' as an empty field, so a NULL-vs-empty-string
    # divergence hashes equal and slips through — the split_part
    # divergence was invisible to every hash compare. The sentinel
    # makes NULL hash differently from ''.
    return hashlib.sha256(
        df.to_csv(index=False, float_format="%.9g",
                  na_rep="\x00NULL\x00").encode()
    ).hexdigest()


def gate_once(spark, con, queries, oracles, name, sf_dir):
    """One driver-gate compare: (ok, spark_frame, oracle_frame)."""
    s = canon(queries[name](spark, sf_dir).toPandas())
    o = canon(con.execute(oracles[name]).fetchdf())
    for c in s.columns:
        if c in o.columns and s[c].dtype != o[c].dtype:
            try:
                o[c] = o[c].astype(s[c].dtype)
            except Exception as exc:
                # ADVICE r18: a failed coercion is worth a line — the
                # vhash compare below still decides pass/fail, but a
                # silent pass here can mask WHY it failed.
                print(f"  note: {name}.{c} dtype coercion "
                      f"{o[c].dtype} -> {s[c].dtype} failed: "
                      f"{type(exc).__name__}", flush=True)
    ok = (len(s) == len(o)
          and list(s.columns) == list(o.columns)
          and vhash(s) == vhash(o))
    return ok, s, o


def main() -> int:
    n_seeds = int(sys.argv[1]) if len(sys.argv) > 1 else 10
    start = int(sys.argv[2]) if len(sys.argv) > 2 else 20260815
    from monthly_report_etl_spark.session import get_spark
    from monthly_report_etl_spark.sources.parquet import TESTDATA_TABLES
    import __spark_entry__ as entrymod

    spark = get_spark(master="local[8]", shuffle_partitions=8)
    oracles, queries = entrymod.oracle_sql(), entrymod.queries()

    failures = 0
    for seed in range(start, start + n_seeds):
        d = tempfile.mkdtemp(prefix=f"fuzz_{seed}_")
        gen_tables(seed, d)
        con = duckdb.connect()
        con.execute("SET TimeZone='UTC'")
        for t in TESTDATA_TABLES:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{d}/{t}.parquet')"
            )
        seed_bad = 0

        def run_once(name):
            return gate_once(spark, con, queries, oracles, name, d)

        for name in ENTRIES:
            try:
                ok, s, o = run_once(name)
            except Exception as exc:
                print(f"seed={seed} {name} ERROR {type(exc).__name__}: "
                      f"{str(exc)[:160]}")
                failures += 1
                seed_bad += 1
                continue
            if not ok:
                # Retry once before counting a failure (r16): the data is
                # seed-fixed, so a REAL cross-engine divergence reproduces
                # deterministically — a mismatch that vanishes on immediate
                # re-execution is an engine transient (observed twice on
                # islands_active_months: the DuckDB side returned one row
                # short IN-HARNESS and 48/48-identical on every standalone
                # rerun and 70 hammer repeats; see the r16 receipts). A
                # transient is loudly logged with both first-attempt frames
                # dumped for diagnosis, but only a PERSISTENT mismatch
                # counts toward the exit code.
                s1, o1 = s, o
                try:
                    ok2, _, _ = run_once(name)
                except Exception as exc:
                    ok2 = False
                    print(f"seed={seed} {name} RETRY-ERROR "
                          f"{type(exc).__name__}: {str(exc)[:120]}")
                if ok2:
                    dump = os.path.join(
                        tempfile.gettempdir(), f"fuzz_transient_{seed}_{name}")
                    try:
                        s1.to_csv(dump + "_spark.csv", index=False)
                        o1.to_csv(dump + "_oracle.csv", index=False)
                    except Exception:
                        pass
                    print(f"seed={seed} {name} TRANSIENT (first run "
                          f"spark={len(s1)} oracle={len(o1)}, retry agrees; "
                          f"frames at {dump}_*.csv) — engine flake, "
                          f"not a divergence")
                else:
                    print(f"seed={seed} {name} MISMATCH "
                          f"spark={len(s1)} oracle={len(o1)} (persists on retry)")
                    failures += 1
                    seed_bad += 1
        print(f"seed={seed}: {len(ENTRIES) - seed_bad}/{len(ENTRIES)} ok",
              flush=True)
    print(f"TOTAL: {n_seeds} seeds x {len(ENTRIES)} entries, "
          f"{failures} failures")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
