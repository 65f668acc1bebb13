"""Deduplication operators over ``documents`` — exact, n-gram Jaccard,
MinHash+LSH, SimHash, and embedding-cosine near-dup (the training-data
pipeline extensions, BASELINE.json north star).

Scale design (100 TB):

* exact dedup is one hash aggregation on the text (or fingerprint) key;
* n-gram Jaccard pairs shuffle by SHINGLE (the classic inverted-index
  join) — exact but quadratic in per-shingle frequency; it is the
  verification oracle for the sketch methods;
* MinHash+LSH is the scale path: signatures are a per-row projection,
  candidate generation shuffles by (band, band-hash) — data volume per
  shuffle is #docs x #bands tiny keys, independent of document length;
  candidates are verified with exact Jaccard before reporting;
* SimHash gives hamming-distance near-dup with 8x8-bit chunk banding
  (pigeonhole: hamming <= 7 → at least one equal chunk).

Every hash inside the MinHash/SimHash sketches is plain int64 arithmetic
that DuckDB recomputes, so both are checked against their oracles end to
end, and against the exact-Jaccard operator in
tests/test_dedup_similarity.py.
"""

from __future__ import annotations

import random

import pandas as pd

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from monthly_report_etl_spark.functions.text import (
    FINGERPRINT_MOD,
    fingerprint,
    stopword_regex,
    whitespace_tokens,
)
from monthly_report_etl_spark.functions.vectors import dot, l2_norm, read_vectors
from monthly_report_etl_spark.sources.parquet import read_table

# ---------------------------------------------------------------------------
# exact dedup
# ---------------------------------------------------------------------------

DEDUP_EXACT_ORACLE = """
SELECT min(doc_id) AS keep_doc_id,
       CAST(count(*) AS BIGINT) AS n_copies
FROM documents
GROUP BY text
"""


def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: one representative (min doc_id) per identical text.

    The shuffle key is ``(sha2(text, 256), length(text))`` — 33 bytes per
    row regardless of document size — NOT the raw text, so at 100 TB the
    exchange moves hashes, not multi-KB documents. SHA-256 + exact length
    makes an accidental group collision require a 256-bit hash collision
    at equal lengths (cryptographically negligible), so the grouped result
    is identical to grouping by the text itself; the text column is
    dropped before the exchange (column pruning keeps the scan narrow).
    """
    d = read_table(spark, sf_dir, "documents")
    keyed = d.select(
        F.sha2(F.col("text"), 256).alias("_h"),
        F.length("text").alias("_len"),
        "doc_id",
    )
    return (
        keyed.groupBy("_h", "_len")
        .agg(
            F.min("doc_id").alias("keep_doc_id"),
            F.count("*").alias("n_copies"),
        )
        .select("keep_doc_id", "n_copies")
    )


# ---------------------------------------------------------------------------
# exact n-gram Jaccard near-dup pairs (the oracle-checkable ground truth)
# ---------------------------------------------------------------------------

JACCARD_THRESHOLD = 0.5

# DuckDB rendering of functions.text.whitespace_tokens (regex \s+ on
# trimmed text) — ADVICE r5: every shingle oracle tokenizes exactly like
# the Spark side, so repeated/leading/trailing whitespace can't silently
# diverge signatures or candidates (string_split on ' ' only agreed on
# strictly single-spaced fixture text).
TOKS_SQL = "string_split_regex(trim(text), '\\s+')"

# Shared CTE chain: thresholded near-dup pairs (used by the Jaccard oracle
# and the connected-components oracle below).
_NGRAM_PAIR_CTES = f"""d AS (
    SELECT doc_id,
           list_distinct(list_transform(
               range(1, greatest(len({TOKS_SQL}) - 1, 1)),
               i -> {TOKS_SQL}[i] || ' ' ||
                    {TOKS_SQL}[i+1] || ' ' ||
                    {TOKS_SQL}[i+2])) AS sh
    FROM documents
    WHERE len({TOKS_SQL}) >= 3
),
e AS (SELECT doc_id, unnest(sh) AS s, len(sh) AS n FROM d),
pairs AS (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           count(*) AS common, any_value(a.n) AS na, any_value(b.n) AS nb
    FROM e a JOIN e b ON a.s = b.s AND a.doc_id < b.doc_id
    GROUP BY 1, 2
),
good AS (
    SELECT doc_a, doc_b
    FROM pairs
    WHERE common * 1.0 / (na + nb - common) >= {JACCARD_THRESHOLD}
)"""

NGRAM_JACCARD_ORACLE = f"""
WITH {_NGRAM_PAIR_CTES}
SELECT doc_a, doc_b,
       ROUND(common * 1.0 / (na + nb - common), 6) AS jaccard
FROM pairs
WHERE common * 1.0 / (na + nb - common) >= {JACCARD_THRESHOLD}
"""


def _shingle_rows(spark: SparkSession, sf_dir: str, hashed: bool = False) -> DataFrame:
    """Distinct (doc_id, shingle) pairs: the inverted-index join and the
    set verification both need a SET per document.

    ``hashed=True`` replaces the 3-gram STRING with its xxhash64 before
    the distinct, so every downstream exchange (distinct, df window,
    posting-list self-join, verify join) moves 8-byte ints instead of
    ~25-byte strings — measured 20-28% wall on the Jaccard join at the
    10x scale step, growing with scale as the shuffles go bandwidth-bound.
    Join/count semantics are exact modulo 64-bit collisions: a collision
    can only MERGE two distinct shingles (overcounting ``common`` for a
    pair that contains both sides), with per-pair probability
    <= |a|x|b|/2^64 — at 10^12 corpus shingles the expected number of
    colliding shingle pairs globally is ~50 and a collision only affects
    a result pair if the two merged shingles co-occur in both docs. The
    string path remains for consumers whose hashing must be portable
    (the MinHash/SimHash oracle chains compute their own fingerprints).

    Built WITHOUT higher-order lambdas: posexplode tokens, then two window
    ``lead``s concatenate the 3-gram. HOF expressions (``transform`` +
    ``concat_ws`` over ``element_at``) are CodegenFallback — interpreted
    tree-walking — and feeding one into a Generate re-evaluates it per
    consumer: measured ~11s for 5000 docs vs ~1s for this formulation.
    The window shuffle is keyed by doc_id and reused by the downstream
    per-doc aggregations.
    """
    d = read_table(spark, sf_dir, "documents")
    toks = d.select("doc_id", whitespace_tokens(F.col("text")).alias("toks")).filter(
        F.size("toks") >= 3
    )
    ex = toks.select("doc_id", F.posexplode("toks").alias("pos", "tok"))
    w = Window.partitionBy("doc_id").orderBy("pos")
    if hashed:
        # r20: hash each token to int64 BEFORE the window, and combine
        # the 3 per-position hashes with one multi-arg xxhash64 over
        # longs — the window exchange then carries an 8-byte token hash
        # instead of the token string, and no 3-gram string is ever
        # allocated (it was built per row only to be hashed and thrown
        # away). Token hashes are never NULL, so the lead-2 NULL guard
        # still marks end-of-doc exactly as the string form did.
        # Interleaved A/B at sf0.1: 2.63s -> 2.34s median (-11%),
        # identical output (set sizes and intersection counts are
        # hash-value-independent modulo the same 64-bit collision
        # tolerance documented above).
        exh = ex.select("doc_id", "pos", F.xxhash64("tok").alias("th"))
        t2 = F.lead("th", 2).over(w)
        out = (
            exh.select(
                "doc_id",
                F.xxhash64("th", F.lead("th", 1).over(w), t2).alias("s"),
                t2.alias("_t2"),
            )
            .filter(F.col("_t2").isNotNull())
            .select("doc_id", "s")
        )
    else:
        grams = ex.select(
            "doc_id",
            F.concat_ws(
                " ", F.col("tok"), F.lead("tok", 1).over(w), F.lead("tok", 2).over(w)
            ).alias("s"),
            F.lead("tok", 2).over(w).alias("_t2"),
        ).filter(F.col("_t2").isNotNull())
        out = grams.select("doc_id", "s")
    return out.distinct()


def _shingled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document distinct shingle SET (array form, for verification
    array_intersect) — aggregated from the row form. It carries xxhash64
    int shingles (8 bytes/element vs ~25-byte 3-gram strings):
    intersection COUNTS are identical modulo 64-bit collisions — the
    same tolerance the n-gram Jaccard path accepts (its string-grouping
    oracle is itself the collision check at test scale)."""
    return _shingle_rows(spark, sf_dir, hashed=True).groupBy("doc_id").agg(
        F.collect_set("s").alias("sh")
    )


HOT_SHINGLE_CAP = 1_000


def ngram_jaccard_pairs(
    spark: SparkSession,
    sf_dir: str,
    hot_shingle_cap: int = HOT_SHINGLE_CAP,
    observation=None,
) -> DataFrame:
    """Exact word-3-gram Jaccard near-dup pairs (inverted-index join).

    Shuffles by shingle; per-shingle hot keys are the scale hazard: a stop
    shingle with a posting list of length f fans out f² join rows. Posting
    lists longer than ``hot_shingle_cap`` are dropped BEFORE the self-join,
    bounding per-key fan-out at cap² regardless of corpus skew. ``na``/``nb``
    keep the full per-doc set size, so for surviving pairs the Jaccard
    only ever UNDERcounts (by shared hot shingles) — near-dup detection
    degrades conservatively, never inflates. Pass an ``Observation`` to
    ride a dropped-shingle counter on the same execution (the jobs.py
    read-back-validation pattern); the exact-oracle differential runs with
    the fixture corpus, whose posting lists are far below the cap, so the
    capped plan and the uncapped oracle agree there.

    Shingles ride as xxhash64 ints (see ``_shingle_rows(hashed=True)``):
    the posting-list self-join keys, df window and common-counts are
    identical modulo 64-bit collisions, and every exchange is ~3x
    narrower. Output verified identical to the string path on the
    fixture corpora.
    """
    rows = _shingle_rows(spark, sf_dir, hashed=True)
    e = rows.withColumn("n", F.count("*").over(Window.partitionBy("doc_id")))
    # posting-list length per shingle; the window shuffle keys by s, the
    # same partitioning the self-join needs — no extra exchange
    e = e.withColumn("df", F.count("*").over(Window.partitionBy("s")))
    if observation is not None:
        e = e.observe(
            observation,
            F.sum((F.col("df") > hot_shingle_cap).cast("long")).alias("hot_shingle_rows_dropped"),
            F.count(F.lit(1)).alias("shingle_rows_total"),
        )
    e = e.filter(F.col("df") <= hot_shingle_cap).drop("df")
    a, b = e.alias("a"), e.alias("b")
    # r19: both sides of the posting-list self-join grow with the
    # corpus — pin it to sort-merge (spill-safe, no resident build) so
    # the static planner's size misestimate through the window+filter
    # chain can never pick a broadcast build (caught by explain at the
    # 100x input: two static BroadcastHashJoins).
    pairs = (
        a.join(b.hint("merge"), (F.col("a.s") == F.col("b.s")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(
            F.count("*").alias("common"),
            F.first("a.n").alias("na"),
            F.first("b.n").alias("nb"),
        )
    )
    jac = F.col("common") / (F.col("na") + F.col("nb") - F.col("common"))
    return pairs.filter(jac >= JACCARD_THRESHOLD).select(
        "doc_a", "doc_b", F.round(jac, 6).alias("jaccard")
    )


# ---------------------------------------------------------------------------
# MinHash + LSH parameters and exact-Jaccard verification
# ---------------------------------------------------------------------------

NUM_PERM = 32
NUM_BANDS = 8  # 8 bands x 4 rows: P(candidate | j=0.9) ≈ 1 - (1-0.9^4)^8 ≈ 0.998
_ROWS_PER_BAND = NUM_PERM // NUM_BANDS


def _verify_jaccard(spark: SparkSession, sf_dir: str, candidates: DataFrame) -> DataFrame:
    """Exact-Jaccard verification of candidate (doc_a, doc_b) pairs —
    array_intersect over the distinct shingle sets, thresholded. The
    quadratic step touches candidates only.

    Sets ride as xxhash64 ints (r20): every element the two pair joins
    move shrinks ~3x, and set-size/intersection counts are unchanged
    modulo 64-bit collisions (see ``_shingled``). Interleaved A/B at
    sf0.1: incremental_ingest_neardup 6.29s -> 4.76s median (-24%);
    outputs identical and the string-based oracles stay green at every
    checked SF."""
    sh = _shingled(spark, sf_dir)
    sa = sh.select(F.col("doc_id").alias("doc_a"), F.col("sh").alias("sh_a"))
    sb = sh.select(F.col("doc_id").alias("doc_b"), F.col("sh").alias("sh_b"))
    verified = (
        candidates.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn("common", F.size(F.array_intersect("sh_a", "sh_b")))
        .withColumn(
            "jaccard",
            F.col("common") / (F.size("sh_a") + F.size("sh_b") - F.col("common")),
        )
        .filter(F.col("jaccard") >= JACCARD_THRESHOLD)
    )
    return verified.select("doc_a", "doc_b", F.round("jaccard", 6).alias("jaccard"))


# ---------------------------------------------------------------------------
# portable-hash MinHash + LSH (oracle-checkable end to end)
# ---------------------------------------------------------------------------
#
# Every hash is plain int64 arithmetic both engines compute identically:
#
#   token fingerprint  tf = polynomial(chars) % M            (M ~ 2^40)
#   shingle hash       h  = ((tf0*R + tf1) % M * R + tf2) % M
#   permutation j      p  = (h*Aj + Bj) % M,  Aj < 2^22
#   band key           k  = fold(31*k + m_j) % M over the band's 4 mins
#
# Bounds: h*Aj <= 2^40 * 2^22 = 2^62 < 2^63 — no int64 overflow anywhere,
# so ANSI-mode-independent and expressible in DuckDB BIGINT arithmetic
# (overflow would RAISE there, not wrap — staying in-range is what makes
# the oracle portable, not wrap-compatibility).

_SHINGLE_R = 1_000_003
_PERM_A_MAX = 1 << 22


def _portable_permutations(n: int, seed: int) -> list[tuple[int, int]]:
    """(a, b) pairs with a coprime to FINGERPRINT_MOD (bijective affine
    maps mod M) and small enough that a*h stays inside int64."""
    import math

    rng = random.Random(seed)
    out: list[tuple[int, int]] = []
    while len(out) < n:
        a = rng.randrange(1, _PERM_A_MAX)
        if math.gcd(a, FINGERPRINT_MOD) != 1:
            continue
        out.append((a, rng.randrange(0, FINGERPRINT_MOD)))
    return out


PORTABLE_PERMUTATIONS = _portable_permutations(NUM_PERM, seed=20250813)


def _shingle_hash_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, h) rows: 3-gram shingle hashes combined from per-token
    fingerprints — the token fingerprint (the one interpreted HOF) is
    computed ONCE per token row; the 3-gram combine is window leads +
    codegen'd arithmetic, never building shingle strings at all."""
    d = read_table(spark, sf_dir, "documents")
    toks = d.select("doc_id", whitespace_tokens(F.col("text")).alias("toks")).filter(
        F.size("toks") >= 3
    )
    ex = toks.select("doc_id", F.posexplode("toks").alias("pos", "tok"))
    ex = ex.select("doc_id", "pos", fingerprint(F.col("tok")).alias("tf"))
    w = Window.partitionBy("doc_id").orderBy("pos")
    t1 = F.lead("tf", 1).over(w)
    t2 = F.lead("tf", 2).over(w)
    m = F.lit(FINGERPRINT_MOD)
    h = ((F.col("tf") * _SHINGLE_R + t1) % m * _SHINGLE_R + t2) % m
    return (
        ex.select("doc_id", h.alias("h"), t2.alias("_t2"))
        .filter(F.col("_t2").isNotNull())
        .select("doc_id", "h")
    )


def minhash_signature_columns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, _m0.._m31): per-permutation MIN over portable shingle
    hashes — explode → 32-MIN hash-agg with map-side partials; the
    shuffle carries one 32-long row per doc per partition. The window in
    _shingle_hash_rows keys by doc_id, and the groupBy reuses that
    partitioning — no second exchange."""
    hs = _shingle_hash_rows(spark, sf_dir)
    m = F.lit(FINGERPRINT_MOD)
    return hs.groupBy("doc_id").agg(
        *[
            F.min((F.col("h") * F.lit(a) + F.lit(b)) % m).alias(f"_m{j}")
            for j, (a, b) in enumerate(PORTABLE_PERMUTATIONS)
        ]
    )


def _portable_band_key(i: int):
    """Codegen'd fold of band i's 4 signature mins into one int64 key."""
    k = None
    for j in range(i * _ROWS_PER_BAND, (i + 1) * _ROWS_PER_BAND):
        v = F.col(f"_m{j}")
        k = v if k is None else (k * 31 + v) % F.lit(FINGERPRINT_MOD)
    return k


def portable_band_rows(sigs: DataFrame) -> DataFrame:
    """(doc_id, band, key) rows from portable signature columns — the
    8-byte exchange unit every LSH consumer joins on (extracted r10 so
    the near-dup INGEST shape reuses the identical banding)."""
    return sigs.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("band"),
                        _portable_band_key(i).alias("key"),
                    )
                    for i in range(NUM_BANDS)
                ]
            )
        ).alias("bk"),
    ).select("doc_id", "bk.band", "bk.key")


def minhash_lsh_pairs_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs via portable-hash MinHash banding + exact-Jaccard
    verification — hash-checkable against MINHASH_LSH_ORACLE, which
    recomputes the identical signature → band → candidate → verify chain
    in DuckDB. Candidate generation moves (doc_id, band, key) triples
    only."""
    sigs = minhash_signature_columns(spark, sf_dir)
    bands = portable_band_rows(sigs)
    a, b = bands.alias("a"), bands.alias("b")
    candidates = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.key") == F.col("b.key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
    return _verify_jaccard(spark, sf_dir, candidates)


def _duckdb_fingerprint(expr: str) -> str:
    """DuckDB rendering of functions.text.fingerprint (identical
    arithmetic — see FEATURE_HASHING_ORACLE)."""
    return (
        "list_reduce(list_prepend(CAST(0 AS BIGINT), "
        f"list_transform(string_split({expr}, ''), "
        "c -> CAST(ascii(c) AS BIGINT))), "
        f"(a, c) -> (a * 31 + c) % {FINGERPRINT_MOD})"
    )


def _minhash_oracle(cand_pred: str = "a.doc_id < b.doc_id") -> str:
    """The full portable MinHash chain as DuckDB SQL. ``cand_pred``
    parameterizes the candidate-pair predicate (r10): the default is
    the symmetric all-pairs dedup; the near-dup INGEST oracle
    (corpus.py) restricts pairs to incoming×existing ∪ incoming<incoming
    with the SAME signature/band/verify chain."""
    m = FINGERPRINT_MOD
    mins = ",\n           ".join(
        f"min((h * {a} + {b}) % {m}) AS m{j}"
        for j, (a, b) in enumerate(PORTABLE_PERMUTATIONS)
    )
    band_selects = []
    for i in range(NUM_BANDS):
        k = None
        for j in range(i * _ROWS_PER_BAND, (i + 1) * _ROWS_PER_BAND):
            k = f"m{j}" if k is None else f"(({k}) * 31 + m{j}) % {m}"
        band_selects.append(f"SELECT doc_id, {i} AS band, {k} AS key FROM sig")
    bands = "\n    UNION ALL\n    ".join(band_selects)
    return f"""
WITH tok AS (
    SELECT doc_id, {TOKS_SQL} AS toks
    FROM documents WHERE len({TOKS_SQL}) >= 3
),
tf AS (
    SELECT doc_id,
           list_transform(toks, t -> {_duckdb_fingerprint('t')}) AS fs
    FROM tok
),
hs AS (
    SELECT doc_id,
           unnest(list_transform(range(1, len(fs) - 1),
               i -> ((fs[i] * {_SHINGLE_R} + fs[i+1]) % {m} * {_SHINGLE_R}
                     + fs[i+2]) % {m})) AS h
    FROM tf
),
sig AS (
    SELECT doc_id,
           {mins}
    FROM hs GROUP BY doc_id
),
bands AS (
    {bands}
),
cand AS (
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM bands a JOIN bands b
      ON a.band = b.band AND a.key = b.key AND ({cand_pred})
),
sets AS (
    SELECT doc_id,
           list_distinct(list_transform(
               range(1, greatest(len({TOKS_SQL}) - 1, 1)),
               i -> {TOKS_SQL}[i] || ' ' ||
                    {TOKS_SQL}[i+1] || ' ' ||
                    {TOKS_SQL}[i+2])) AS sh
    FROM documents
    WHERE len({TOKS_SQL}) >= 3
),
el AS (SELECT doc_id, unnest(sh) AS s, len(sh) AS n FROM sets),
ver AS (
    SELECT c.doc_a, c.doc_b, count(*) AS common,
           any_value(ea.n) AS na, any_value(eb.n) AS nb
    FROM cand c
    JOIN el ea ON ea.doc_id = c.doc_a
    JOIN el eb ON eb.doc_id = c.doc_b AND eb.s = ea.s
    GROUP BY 1, 2
)
SELECT doc_a, doc_b,
       ROUND(common * 1.0 / (na + nb - common), 6) AS jaccard
FROM ver
WHERE common * 1.0 / (na + nb - common) >= {JACCARD_THRESHOLD}
"""


MINHASH_LSH_ORACLE = _minhash_oracle()


# ---------------------------------------------------------------------------
# SimHash parameters
# ---------------------------------------------------------------------------

SIMHASH_BITS = 64
# Empirical: a one-token edit on a ~40-token document flips 4-8 simhash
# bits (each bit's vote is a small signed sum, so many sit near zero).
# Threshold 7 with 8 chunks is pigeonhole-complete: hamming <= 7 → at
# least one of the 8 8-bit chunks is equal.
HAMMING_THRESHOLD = 7
_CHUNKS = HAMMING_THRESHOLD + 1
_CHUNK_BITS = SIMHASH_BITS // _CHUNKS


# ---------------------------------------------------------------------------
# portable-hash SimHash (oracle-checkable end to end)
# ---------------------------------------------------------------------------
#
# 8x8-bit chunk banding (pigeonhole-complete), with every hash
# int64 arithmetic both engines compute identically
# (VERDICT r3 item #4): bit k's vote for a token with fingerprint tf is
# the parity of the DOUBLE affine map ((tf*Ck + Dk) % M * C2k + D2k) % M.
# One affine stage is measurably degenerate here: frequent tokens are
# short, their polynomial fingerprints tiny (a 3-char token is < 2^17),
# so Ck*tf + Dk < M for most k — the quotient is 0, the parity collapses
# to low-bit structure, and the hottest tokens vote near-identically on
# every bit (measured 9,010 hamming<=7 pairs at sf0.001 vs 446 for
# xxhash64). The second stage multiplies a value that includes the
# ~uniform Dk offset, so its quotient is ~2^22 and well-mixed for ALL
# token lengths (measured 705 pairs — in line with xxhash64). The 8
# chunk values are carried as separate non-negative columns (0..255), so
# banding keys, the pigeonhole join and the hamming distance never touch
# a sign bit.

SIMHASH_PERMS = _portable_permutations(SIMHASH_BITS, seed=20250814)
SIMHASH_PERMS2 = _portable_permutations(SIMHASH_BITS, seed=20250815)


def _portable_chunks_udf():
    """Arrow-vectorized portable-SimHash vote/pack: per doc, all 64
    double-affine parities over the token fingerprints as one numpy
    broadcast, sign bits packed into 8 chunk values (0..255).

    Same bound analysis as the MinHash module comment keeps every
    intermediate inside int64 (tf < 2^40, multipliers < 2^22 →
    products < 2^62), and integer sums are order-independent, so this
    is bit-equal to both the expression form and the oracle's SQL.
    Replaces a 64-SUM aggregate of nested affine-mod expressions — a
    tree big enough to fall out of codegen (SCALE.md §2's huge-method
    trap): measured 6.3s → ~0.9s for the signature stage at sf0.1.

    r21 (VERDICT r20 next #5): docs flatten into ~BLOCK-token groups
    and each group computes all parities in ONE in-place int64 buffer,
    per-doc vote sums via np.add.reduceat — amortizing the per-doc
    numpy call overhead ~50x while the 2048 x 64 x 8 B working set
    stays cache-resident (r20's rejected WHOLE-CORPUS flatten built
    33 MB intermediates and went memory-bandwidth-bound, 4.29 → 5.57 s;
    the blocked form measures -15% on the signature stage at sf0.1 and
    -7% at 10x docs). Integer arithmetic is grouping-independent, so
    signatures stay bit-identical (asserted doc-for-doc at sf0.1 in
    the r21 A/B receipt; the vote is votes > 0 ⟺ 2·Σparity > n)."""
    import numpy as np

    c1 = np.array([c for c, _ in SIMHASH_PERMS], dtype=np.int64)
    d1 = np.array([d for _, d in SIMHASH_PERMS], dtype=np.int64)
    c2 = np.array([c for c, _ in SIMHASH_PERMS2], dtype=np.int64)
    d2 = np.array([d for _, d in SIMHASH_PERMS2], dtype=np.int64)
    m = FINGERPRINT_MOD
    powers = 1 << np.arange(_CHUNK_BITS)
    BLOCK = 2048  # tokens per flattened block (~1 MB per int64 lane buffer)

    @F.pandas_udf("array<long>")
    def chunks(hs: pd.Series) -> pd.Series:
        arrs = [np.asarray(a, dtype=np.int64) for a in hs]
        lens = np.fromiter(
            (len(a) for a in arrs), dtype=np.int64, count=len(arrs)
        )
        out: list = [None] * len(arrs)
        i, n = 0, len(arrs)
        while i < n:
            j, tot = i, 0
            while j < n and (j == i or tot + lens[j] <= BLOCK):
                tot += lens[j]
                j += 1
            seg = lens[i:j]
            if (seg == 0).any():
                # zero-token docs never reach this udf (explode emits no
                # row), but reduceat misdefines empty segments — keep
                # the exact per-doc form as the defensive path
                for dnum in range(i, j):
                    tf = arrs[dnum][:, None]
                    par = ((tf * c1 + d1) % m * c2 + d2) % m % 2
                    votes = (par * 2 - 1).sum(axis=0)
                    bits = (votes > 0).astype(np.int64)
                    out[dnum] = (
                        bits.reshape(_CHUNKS, _CHUNK_BITS) * powers
                    ).sum(axis=1).tolist()
                i = j
                continue
            tf = (np.concatenate(arrs[i:j]) if j - i > 1 else arrs[i])[:, None]
            buf = tf * c1
            buf += d1
            buf %= m
            buf *= c2
            buf += d2
            buf %= m
            buf &= 1  # parity — operands non-negative, identical to % 2
            starts = np.zeros(j - i, dtype=np.int64)
            np.cumsum(seg[:-1], out=starts[1:])
            s = np.add.reduceat(buf, starts, axis=0)
            bits = (2 * s > seg[:, None]).astype(np.int64)
            packed = (
                bits.reshape(j - i, _CHUNKS, _CHUNK_BITS) * powers
            ).sum(axis=2)
            for dnum, row in enumerate(packed):
                out[i + dnum] = row.tolist()
            i = j
        return pd.Series(out)

    return chunks


def simhash_chunk_columns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, c0..c7): token fingerprints collected per doc (one hash
    aggregation keyed by doc_id; per-doc state is bounded by document
    length), then one Arrow batch computes all 64
    double-affine parities and packs the 8 chunk values — see
    _portable_chunks_udf for why this is not an expression-tree
    aggregate."""
    d = read_table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id", F.explode(whitespace_tokens(F.col("text"))).alias("tok")
    )
    tf = toks.select("doc_id", fingerprint(F.col("tok")).alias("tf"))
    hs = tf.groupBy("doc_id").agg(F.collect_list("tf").alias("hs"))
    packed = hs.select("doc_id", _portable_chunks_udf()(F.col("hs")).alias("cs"))
    return packed.select(
        "doc_id", *[F.col("cs")[c].alias(f"c{c}") for c in range(_CHUNKS)]
    )


def simhash_pairs_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup (doc_a, doc_b, hamming) pairs with hamming <= 7, found by
    8-bit chunk banding (pigeonhole-complete) over the portable simhash —
    hash-checkable against SIMHASH_ORACLE.

    The signature frame is localCheckpointed (9 longs per doc): the
    self-join consumes it twice, and without the checkpoint the whole
    scan → fingerprint → collect → Arrow vote/pack chain — including
    the Python stage — compiles and EXECUTES once per side."""
    sigs = simhash_chunk_columns(spark, sf_dir).localCheckpoint(eager=True)
    chunks = sigs.select(
        "doc_id",
        *[F.col(f"c{c}") for c in range(_CHUNKS)],
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(c).alias("chunk"), F.col(f"c{c}").alias("key"))
                    for c in range(_CHUNKS)
                ]
            )
        ).alias("ck"),
    ).select("doc_id", *[f"c{c}" for c in range(_CHUNKS)], "ck.chunk", "ck.key")
    a, b = chunks.alias("a"), chunks.alias("b")
    # hamming is computed and thresholded BEFORE the dedup: it is a
    # function of the pair, so distinct-on-(pair, hamming) is the same
    # set — and the exchange then carries 3 longs per row instead of the
    # 16 chunk columns (measured ~0.9s off the candidate stage at sf0.1)
    hamming = None
    for c in range(_CHUNKS):
        h = F.bit_count(F.col(f"a.c{c}").bitwiseXOR(F.col(f"b.c{c}")))
        hamming = h if hamming is None else hamming + h
    # r20 (broadcast-provenance audit): both
    # sides of this self-join are the corpus-growing chunk rows READ
    # FROM THE CHECKPOINT — a LogicalRDD with no usable stats — and the
    # static planner was broadcast-building one side (confirmed by
    # explain at the 10x input: BroadcastHashJoin over Scan
    # ExistingRDD). That is the r19 prefix-jaccard class exactly: the
    # estimate never tracks the data, so the broadcast survives every
    # scale until the build OOMs. Pin SHUFFLE_HASH (same rationale as
    # the prefix self-join: narrow 10-long rows, per-partition build
    # stays tiny and partition count scales with the cluster). Measured:
    # the pin is FASTER even locally — sf0.1 3.38 -> 2.84 s median, 10x
    # docs 12.4 -> 10.3 s — and output-identical; MERGE measured within
    # noise at sf0.1 but slower at 10x (14.5 s med).
    return (
        a.join(
            b.hint("shuffle_hash"),
            (F.col("a.chunk") == F.col("b.chunk"))
            & (F.col("a.key") == F.col("b.key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            hamming.cast("long").alias("hamming"),
        )
        .filter(F.col("hamming") <= HAMMING_THRESHOLD)
        .distinct()
    )


def _simhash_oracle() -> str:
    m = FINGERPRINT_MOD
    votes = ",\n           ".join(
        f"sum((((tf * {c1} + {d1}) % {m} * {c2} + {d2}) % {m} % 2) * 2 - 1) AS v{k}"
        for k, ((c1, d1), (c2, d2)) in enumerate(zip(SIMHASH_PERMS, SIMHASH_PERMS2))
    )
    chunk_exprs = []
    for c in range(_CHUNKS):
        parts = " + ".join(
            f"(CASE WHEN v{c * _CHUNK_BITS + j} > 0 THEN {1 << j} ELSE 0 END)"
            for j in range(_CHUNK_BITS)
        )
        chunk_exprs.append(f"CAST({parts} AS BIGINT) AS c{c}")
    chunks = ",\n           ".join(chunk_exprs)
    band_selects = "\n    UNION ALL\n    ".join(
        f"SELECT doc_id, {', '.join(f'c{i}' for i in range(_CHUNKS))}, "
        f"{c} AS chunk, c{c} AS key FROM sig"
        for c in range(_CHUNKS)
    )
    hamming = " + ".join(f"bit_count(xor(a.c{c}, b.c{c}))" for c in range(_CHUNKS))
    return f"""
WITH tok AS (
    SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS t
    FROM documents WHERE trim(text) <> ''
),
tf AS (SELECT doc_id, {_duckdb_fingerprint('t')} AS tf FROM tok),
votes AS (
    SELECT doc_id,
           {votes}
    FROM tf GROUP BY doc_id
),
sig AS (
    SELECT doc_id,
           {chunks}
    FROM votes
),
bands AS (
    {band_selects}
),
cand AS (
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST({hamming} AS BIGINT) AS hamming
    FROM bands a JOIN bands b
      ON a.chunk = b.chunk AND a.key = b.key AND a.doc_id < b.doc_id
)
SELECT doc_a, doc_b, hamming FROM cand WHERE hamming <= {HAMMING_THRESHOLD}
"""


SIMHASH_ORACLE = _simhash_oracle()


# ---------------------------------------------------------------------------
# embedding-cosine near-dup (oracle-checkable brute force)
# ---------------------------------------------------------------------------

COSINE_DUP_THRESHOLD = 0.4

EMBEDDING_COSINE_ORACLE = f"""
WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e
           FROM embeddings WHERE embedding IS NOT NULL),
pairs AS (
    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
           list_reduce(list_prepend(0.0::DOUBLE,
               list_transform(range(1, len(a.e) + 1), i -> a.e[i] * b.e[i])),
               (acc, x) -> acc + x)
           / (sqrt(list_reduce(list_prepend(0.0::DOUBLE,
                  list_transform(range(1, len(a.e) + 1), i -> a.e[i] * a.e[i])),
                  (acc, x) -> acc + x))
            * sqrt(list_reduce(list_prepend(0.0::DOUBLE,
                  list_transform(range(1, len(b.e) + 1), i -> b.e[i] * b.e[i])),
                  (acc, x) -> acc + x))) AS cos
    FROM v a JOIN v b ON a.vec_id < b.vec_id
)
SELECT vec_a, vec_b, ROUND(cos, 6) AS cosine
FROM pairs WHERE cos >= {COSINE_DUP_THRESHOLD}
"""


def embedding_cosine_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup pairs: brute-force all-pairs cosine (the exact
    baseline; the LSH-bucketed scale path lives in operators/similarity).

    Sequential-fold arithmetic matches the oracle's list_reduce exactly
    (floating-point addition order is part of the contract).
    """
    v = read_vectors(spark, sf_dir).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("e")
    )
    # norms hoisted out of the N^2 pair loop (same bit-exact argument as
    # the semdedup operators: identical fold per vector, identical
    # dot / (na * nb) multiplication order as the inline form)
    a = v.select(
        F.col("vec_id").alias("vec_a"),
        F.col("e").alias("ea"),
        l2_norm(F.col("e")).alias("na"),
    )
    b = v.select(
        F.col("vec_id").alias("vec_b"),
        F.col("e").alias("eb"),
        l2_norm(F.col("e")).alias("nb"),
    )
    pairs = a.join(b, F.col("vec_a") < F.col("vec_b"))
    cos = F.when(
        (F.col("na") > 0) & (F.col("nb") > 0),
        dot(F.col("ea"), F.col("eb")) / (F.col("na") * F.col("nb")),
    )
    return (
        pairs.withColumn("cos", cos)
        .filter(F.col("cos") >= COSINE_DUP_THRESHOLD)
        .select("vec_a", "vec_b", F.round("cos", 6).alias("cosine"))
    )


# ---------------------------------------------------------------------------
# connected components over the near-dup pair graph (cluster → canonical doc)
# ---------------------------------------------------------------------------

CC_MAX_ITERS = 15

# Oracle: transitive closure by recursive CTE; component = min reachable id
# (self included). Tractable because the thresholded pair graph is tiny.
CONNECTED_COMPONENTS_ORACLE = f"""
WITH RECURSIVE {_NGRAM_PAIR_CTES},
edges AS (
    SELECT doc_a AS s, doc_b AS t FROM good
    UNION
    SELECT doc_b AS s, doc_a AS t FROM good
),
reach(s, t) AS (
    SELECT s, t FROM edges
    UNION
    SELECT r.s, e.t FROM reach r JOIN edges e ON r.t = e.s
)
SELECT s AS doc_id, CAST(LEAST(MIN(t), s) AS BIGINT) AS component
FROM reach GROUP BY s
"""


def dedup_connected_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster the near-dup pair graph: every document in a connected
    component gets the component's MIN doc_id as its canonical label — the
    "pick one representative per duplicate cluster" step after pairwise
    near-dup detection.

    Label propagation to fixpoint (the Pregel/GraphX pattern expressed in
    DataFrames): each round, every vertex takes the min label among itself
    and its neighbors; converged when no label changed. Each round is ONE
    shuffle join + hash-agg; iterations are bounded by graph diameter
    (CC_MAX_ITERS guards pathological chains; a large-star/small-star
    variant would cut rounds to O(log n)). Only the
    changed-row COUNT crosses the driver per round (convergence test, like
    an iterative-solver residual); labels persist round-to-round (2 longs
    per vertex — narrow rows, where persist beats recompute) and each
    round's persist unpins the previous one, also truncating lineage.
    """
    pairs = ngram_jaccard_pairs(spark, sf_dir)
    edges = (
        pairs.select(F.col("doc_a").alias("s"), F.col("doc_b").alias("t"))
        .unionByName(pairs.select(F.col("doc_b").alias("s"), F.col("doc_a").alias("t")))
        .persist()
    )
    labels = (
        edges.select("s").distinct().select(F.col("s").alias("doc_id"))
        .withColumn("component", F.col("doc_id"))
        .persist()
    )
    changed = 0
    for _ in range(CC_MAX_ITERS):
        neighbor_labels = edges.join(
            labels, edges.t == labels.doc_id
        ).select(edges.s.alias("doc_id"), "component")
        new_labels = (
            neighbor_labels.unionByName(labels)
            .groupBy("doc_id")
            .agg(F.min("component").alias("component"))
            .persist()
        )
        changed = (
            new_labels.join(
                labels.withColumnRenamed("component", "_old"), "doc_id"
            )
            .filter(F.col("component") < F.col("_old"))
            .count()
        )  # scalar convergence check — model state, not data
        labels.unpersist()
        labels = new_labels
        if changed == 0:
            break
    edges.unpersist()
    if changed != 0:
        # non-convergence must be distinguishable from an oracle mismatch:
        # a graph whose propagation distance exceeds CC_MAX_ITERS would
        # otherwise silently return wrong labels
        raise RuntimeError(
            f"connected components did not converge in {CC_MAX_ITERS} rounds "
            f"({changed} labels still changing); raise CC_MAX_ITERS or use a "
            "large-star/small-star variant for high-diameter graphs"
        )
    return labels


# ---------------------------------------------------------------------------
# canonical selection: which documents SURVIVE near-dup clustering
# ---------------------------------------------------------------------------

CANONICAL_SELECTION_ORACLE = f"""
WITH RECURSIVE {_NGRAM_PAIR_CTES},
edges AS (
    SELECT doc_a AS s, doc_b AS t FROM good
    UNION
    SELECT doc_b AS s, doc_a AS t FROM good
),
reach(s, t) AS (
    SELECT s, t FROM edges
    UNION
    SELECT r.s, e.t FROM reach r JOIN edges e ON r.t = e.s
),
comp AS (
    SELECT s AS doc_id, CAST(LEAST(MIN(t), s) AS BIGINT) AS component
    FROM reach GROUP BY s
),
-- r16: the embedded quality form is now IDENTICAL to the (r15-fixed)
-- QUALITY_SCORE_ORACLE the Spark side actually calls — maximal-run
-- token COUNT (not the split form, which counts a phantom leading
-- empty token on tab-led docs), Java-whitespace-exact char classes
-- (incl. vertical tab), and NULL text -> NULL score (the old form
-- scored a NULL doc 0.7 via least/greatest NULL-skipping). Masked in
-- the output by the keep-flag shape until a fixture puts two
-- differently-scored variants in one component; aligned first.
qparts AS (
    SELECT doc_id,
           CAST(length(text) AS BIGINT) AS qn_chars,
           CAST(len(regexp_extract_all(text, '[^ \\t\\n\\x0B\\f\\r]+')) AS BIGINT) AS qn_tokens,
           CAST(len(regexp_extract_all(text, '[^A-Za-z0-9 \\t\\n\\x0B\\f\\r]')) AS BIGINT) AS qn_punct,
           CAST(len(regexp_extract_all(lower(text), '{stopword_regex("en")}')) AS BIGINT) AS qn_stop
    FROM documents
),
q AS (
    SELECT doc_id,
           CASE WHEN qn_chars IS NULL THEN NULL
                ELSE ROUND(0.4 * least(qn_stop * 1.0 / greatest(qn_tokens, 1), 1.0)
                    + 0.3 * (1.0 - least(qn_punct * 1.0 / greatest(qn_chars, 1), 1.0))
                    + 0.3 * least(qn_tokens / 100.0, 1.0), 6) END AS quality_score
    FROM qparts
),
labeled AS (
    SELECT q.doc_id, COALESCE(c.component, q.doc_id) AS component,
           q.quality_score
    FROM q LEFT JOIN comp c ON q.doc_id = c.doc_id
)
SELECT doc_id, component,
       ROW_NUMBER() OVER (PARTITION BY component
                          ORDER BY quality_score DESC, doc_id) = 1 AS keep
FROM labeled
"""


def dedup_canonical_selection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dedup OUTPUT: cluster near-dups (connected components over the
    exact-Jaccard pair graph), then keep ONE canonical document per
    cluster — the highest 6-dec-rounded quality score, doc_id as the
    tie-break (rounding first makes the ranking identical across
    engines; raw float ordering would not be). Isolated documents form
    their own singleton component and survive.

    Composes three already-oracle-checked operators (pair graph, CC
    labels, quality score); the per-component window rides the component
    exchange and the quality join is the only other shuffle."""
    from monthly_report_etl_spark.operators.text import quality_score

    labels = dedup_connected_components(spark, sf_dir).select(
        "doc_id", "component"
    )
    q = quality_score(spark, sf_dir).select("doc_id", "quality_score")
    labeled = q.join(labels, "doc_id", "left").withColumn(
        "component", F.coalesce(F.col("component"), F.col("doc_id"))
    )
    w = Window.partitionBy("component").orderBy(
        F.desc("quality_score"), F.col("doc_id")
    )
    return labeled.select(
        "doc_id", "component", (F.row_number().over(w) == 1).alias("keep")
    )


# ---------------------------------------------------------------------------
# exact duplicate-substring spans (Lee et al. 2022, "Deduplicating Training
# Data Makes Language Models Better" — the suffix-array ExactSubstr method,
# re-expressed as a distributed n-gram coverage sweep)
# ---------------------------------------------------------------------------

DUP_SPAN_N = 8  # span length in whitespace tokens
DUP_SPAN_FLAG_FRAC = 0.2  # flag docs whose duplicated-token share >= this

# The toks CTE guards the empty case (r14, twelfth boundary fixture):
# bare string_split_regex(trim(''), '\\s+') yields [''] — len 1 — so an
# EMPTY document reported n_tokens 1 in the final projection where the
# Spark side's whitespace_tokens reports 0 (a NULL document reports NULL
# both sides after the array_size fix below). Invisible on the sf
# tables; the len >= N filters elsewhere made the artifact harmless.
DUPLICATE_SPANS_ORACLE = f"""
WITH toks AS (
    SELECT doc_id,
           CASE WHEN trim(text) = '' THEN []::VARCHAR[]
                ELSE {TOKS_SQL} END AS t
    FROM documents
),
g2 AS (
    SELECT doc_id, s,
           array_to_string(list_slice(t, s, s + {DUP_SPAN_N - 1}), ' ') AS g
    FROM (
        SELECT doc_id, t,
               unnest(generate_series(1, len(t) - {DUP_SPAN_N - 1})) AS s
        FROM toks
        WHERE len(t) >= {DUP_SPAN_N}
    )
),
dup AS (
    SELECT g FROM g2 GROUP BY g HAVING MIN(doc_id) <> MAX(doc_id)
),
spans AS (
    SELECT doc_id, s, s + {DUP_SPAN_N - 1} AS fin
    FROM g2 WHERE g IN (SELECT g FROM dup)
),
swept AS (
    SELECT doc_id, s, fin,
           MAX(fin) OVER (PARTITION BY doc_id ORDER BY s
                          ROWS BETWEEN UNBOUNDED PRECEDING
                          AND 1 PRECEDING) AS prev_end
    FROM spans
),
per_doc AS (
    SELECT doc_id,
           SUM(GREATEST(0, fin - GREATEST(s, COALESCE(prev_end + 1, s)) + 1))
               AS dup_tokens
    FROM swept GROUP BY doc_id
)
SELECT m.doc_id,
       CAST(len(m.t) AS BIGINT) AS n_tokens,
       CAST(COALESCE(p.dup_tokens, 0) AS BIGINT) AS dup_tokens,
       ROUND(CAST(COALESCE(p.dup_tokens, 0) AS DOUBLE) / len(m.t), 6)
           AS dup_frac,
       ROUND(CAST(COALESCE(p.dup_tokens, 0) AS DOUBLE) / len(m.t), 6)
           >= {DUP_SPAN_FLAG_FRAC} AS flagged
FROM toks m LEFT JOIN per_doc p USING (doc_id)
"""


def duplicate_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc duplicated-substring coverage: every word-8-gram
    (DUP_SPAN_N)
    that appears in MORE THAN ONE document marks its token span as
    duplicated; a doc's ``dup_tokens`` is the size of the UNION of its
    duplicated spans (overlaps not double-counted), and docs whose
    duplicated share crosses DUP_SPAN_FLAG_FRAC are flagged.

    This is the ExactSubstr dedup of Lee et al. 2022 re-expressed
    Spark-first: the suffix array becomes a distributed n-gram inverted
    index, and span merging becomes the classic interval-union sweep —
    a running ``max(end)`` window per doc ordered by span start, each
    span contributing only the tokens past the furthest end seen.

    Scale design: grams ship through the exchange as xxhash64 int64s
    (never the gram strings — same rule as the Jaccard paths); cross-doc
    detection is ``min(doc_id) != max(doc_id)`` per gram, a partial-
    aggregatable one-pass hash agg (NO countDistinct, NO posting-list
    fan-out — this is linear in corpus tokens where the Jaccard
    inverted-index join is quadratic per shingle); the sweep window runs
    on the thresholded span set partitioned by doc_id. A 64-bit gram
    collision would need ~2^32 distinct grams to be likely; it could
    only over-mark a span as duplicated (same tolerance the LSH band
    keys accept). The oracle groups by the gram STRING — agreement is
    itself the collision check at test scale.
    """
    # localCheckpoint: grams and meta both consume the tokenized docs;
    # without it the scan + whitespace tokenization (the dominant narrow
    # stage at the 100x step) runs twice
    d = (
        read_table(spark, sf_dir, "documents")
        .select("doc_id", whitespace_tokens(F.col("text")).alias("t"))
        .localCheckpoint(eager=True)
    )
    # gram keys are built WITHOUT materializing the 8-token gram string
    # (r20): tokens hash to int64 once each, and every gram position
    # combines its 8 token hashes with one multi-arg xxhash64 over longs.
    # The r13-r19 form concat_ws'd an ~60-char string per position inside
    # the (interpreted-HOF) transform before hashing it — pure allocation
    # the key never needed. Interleaved A/B at sf0.1: 3.31s -> 2.53s
    # median (-24%), identical output. Collision tolerance is unchanged
    # in kind (a 64-bit gram key either way, now two-level); the
    # string-grouping oracle remains the collision check at test scale.
    toks_hashed = d.filter(F.size("t") >= DUP_SPAN_N).select(
        "doc_id", F.transform("t", lambda x: F.xxhash64(x)).alias("th")
    )
    grams = (
        toks_hashed.select(
            "doc_id",
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), F.size("th") - (DUP_SPAN_N - 1)),
                    lambda i: F.struct(
                        i.alias("s"),
                        F.xxhash64(
                            *[F.element_at("th", i + j) for j in range(DUP_SPAN_N)]
                        ).alias("g"),
                    ),
                )
            ).alias("sg"),
        )
        .select("doc_id", F.col("sg.s").alias("s"), F.col("sg.g").alias("g"))
    )
    dup = (
        grams.groupBy("g")
        .agg(F.min("doc_id").alias("_mn"), F.max("doc_id").alias("_mx"))
        .filter(F.col("_mn") != F.col("_mx"))
        .select("g")
    )
    spans = grams.join(dup, "g").select(
        "doc_id", "s", (F.col("s") + F.lit(DUP_SPAN_N - 1)).alias("fin")
    )
    w = (
        Window.partitionBy("doc_id")
        .orderBy("s")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    per_doc = (
        spans.withColumn("prev_end", F.max("fin").over(w))
        .withColumn(
            "new_cov",
            F.greatest(
                F.lit(0),
                F.col("fin")
                - F.greatest(
                    F.col("s"), F.coalesce(F.col("prev_end") + 1, F.col("s"))
                )
                + 1,
            ),
        )
        .groupBy("doc_id")
        .agg(F.sum("new_cov").alias("dup_tokens"))
    )
    # array_size, not size (r14): size() is -1 for the NULL array a NULL
    # document tokenizes to — the exposed n_tokens must be NULL, matching
    # the oracle (the grams filter above is unaffected either way)
    meta = d.select("doc_id", F.array_size("t").cast("long").alias("n_tokens"))
    dup_tokens = F.coalesce(F.col("dup_tokens"), F.lit(0)).cast("long")
    dup_frac = F.round(dup_tokens / F.col("n_tokens"), 6)
    return meta.join(per_doc, "doc_id", "left").select(
        "doc_id",
        "n_tokens",
        dup_tokens.alias("dup_tokens"),
        dup_frac.alias("dup_frac"),
        (dup_frac >= DUP_SPAN_FLAG_FRAC).alias("flagged"),
    )


CATALOG: dict[str, tuple] = {
    "dedup_exact": (dedup_exact, DEDUP_EXACT_ORACLE),
    "dedup_duplicate_spans": (duplicate_spans, DUPLICATE_SPANS_ORACLE),
    "dedup_ngram_jaccard": (ngram_jaccard_pairs, NGRAM_JACCARD_ORACLE),
    # portable-hash sketches: the full signature → band → candidate →
    # verify chain is recomputed by the DuckDB oracle (hash-checkable)
    "dedup_minhash_lsh": (minhash_lsh_pairs_portable, MINHASH_LSH_ORACLE),
    "dedup_simhash": (simhash_pairs_portable, SIMHASH_ORACLE),
    "dedup_embedding_cosine": (embedding_cosine_pairs, EMBEDDING_COSINE_ORACLE),
    "dedup_connected_components": (dedup_connected_components, CONNECTED_COMPONENTS_ORACLE),
    "dedup_canonical_selection": (dedup_canonical_selection, CANONICAL_SELECTION_ORACLE),
}
