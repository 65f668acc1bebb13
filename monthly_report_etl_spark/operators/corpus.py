"""Corpus-statistics operators for the training-data pipeline — the
aggregate/relational companions to the per-row ops in ``operators/text.py``:
deterministic hash-mod sampling, PII/pattern flagging, TF-IDF top terms,
bigram frequency, and length-bucket histograms over ``documents``.

All built-in expression API (whole-stage codegen; zero Python UDFs). Each
operator carries its exact DuckDB oracle. Scale notes inline — the design
constraint is 100 TB of documents:

* sampling and flagging are pure projections (zero shuffle, pruned scan);
* TF-IDF is the canonical 3-shuffle shape (doc-term agg → term window →
  doc window) with NO diamond re-execution (document frequency comes from
  a window over the tf frame, not a second aggregation of it);
* bigrams avoid higher-order-function shingle building (CodegenFallback +
  Generate re-evaluation, the 10-30x trap) via posexplode + window lead.
"""

from __future__ import annotations

import logging

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from monthly_report_etl_spark.functions.text import fingerprint, whitespace_tokens
from monthly_report_etl_spark.operators.dedup import TOKS_SQL as _DEDUP_TOKS_SQL
from monthly_report_etl_spark.sources.parquet import read_table

_log = logging.getLogger(__name__)

SAMPLE_MOD = 10  # keep ~1/10 of documents
TFIDF_TOP_K = 3
BIGRAM_TOP_K = 20

# Portable regexes (Java regex == RE2 for these constructs)
EMAIL_REGEX = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
URL_REGEX = r"https?://[^\s]+"
NUMBER_REGEX = r"[0-9]+"


# ---------------------------------------------------------------------------
# deterministic content-hash sampling
# ---------------------------------------------------------------------------

# Content-keyed (not doc_id-keyed) so re-ingested copies of a document land
# in the same sample — the property training-data pipelines rely on.
# NULL-text guard (r14, caught by the ninth boundary fixture): DuckDB's
# list_prepend(0, NULL) yields [0], so the unguarded reduce fingerprinted
# a NULL document as 0 and SAMPLED it (0 % MOD = 0) where Spark's
# aggregate-over-split propagates NULL and the filter drops the row.
# An EMPTY document legitimately fingerprints to 0 and is sampled by
# both engines — the guard preserves exactly that distinction.
SAMPLE_HASH_MOD_ORACLE = f"""
WITH fp AS (
    SELECT doc_id,
           list_reduce(
               list_prepend(CAST(0 AS BIGINT),
                            list_transform(string_split(text, ''),
                                           c -> CAST(ascii(c) AS BIGINT))),
               (a, c) -> (a * 31 + c) % 1000000000007
           ) AS doc_fingerprint
    FROM documents
    WHERE text IS NOT NULL
)
SELECT doc_id, doc_fingerprint
FROM fp WHERE doc_fingerprint % {SAMPLE_MOD} = 0
"""


def sample_hash_mod(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic ~1/SAMPLE_MOD sample keyed on the portable content
    fingerprint — no RNG, reproducible across engines and runs; a pure
    projection + filter (no shuffle, no sampling operator state)."""
    d = read_table(spark, sf_dir, "documents")
    fp = fingerprint(F.col("text"))
    return (
        d.select("doc_id", fp.alias("doc_fingerprint"))
        .filter(F.col("doc_fingerprint") % SAMPLE_MOD == 0)
    )


# ---------------------------------------------------------------------------
# PII / pattern flagging (the redaction pre-pass of a training pipeline)
# ---------------------------------------------------------------------------

PII_FLAGS_ORACLE = rf"""
SELECT doc_id,
       regexp_matches(text, '{EMAIL_REGEX}') AS has_email,
       regexp_matches(text, '{URL_REGEX}') AS has_url,
       CAST(len(regexp_extract_all(text, '{NUMBER_REGEX}')) AS BIGINT) AS n_numbers,
       regexp_replace(regexp_replace(text, '{EMAIL_REGEX}', '<EMAIL>', 'g'),
                      '{NUMBER_REGEX}', '<NUM>', 'g') AS redacted
FROM documents
"""


def pii_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pattern flags + redaction — single projection pass, all regexes
    evaluated inside codegen; the shape of a PII scrub stage."""
    d = read_table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.regexp_like("text", F.lit(EMAIL_REGEX)).alias("has_email"),
        F.regexp_like("text", F.lit(URL_REGEX)).alias("has_url"),
        F.regexp_count("text", F.lit(NUMBER_REGEX)).cast("long").alias("n_numbers"),
        F.regexp_replace(
            F.regexp_replace("text", EMAIL_REGEX, "<EMAIL>"), NUMBER_REGEX, "<NUM>"
        ).alias("redacted"),
    )


# ---------------------------------------------------------------------------
# TF-IDF top terms per document
# ---------------------------------------------------------------------------

TFIDF_ORACLE = rf"""
WITH tok AS (
    SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS term
    FROM documents WHERE trim(text) <> ''
),
tf AS (
    SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
    FROM tok GROUP BY doc_id, term
),
scored AS (
    SELECT doc_id, term, tf,
           count(*) OVER (PARTITION BY term) AS dfreq,
           (SELECT count(*) FROM documents) AS n_docs
    FROM tf
),
r AS (
    SELECT doc_id, term, tf,
           ROUND(tf * ln((n_docs + 1.0) / (dfreq + 1.0)), 6) AS tfidf
    FROM scored
),
ranked AS (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
                                 ORDER BY tfidf DESC, term) AS rn
    FROM r
)
SELECT doc_id, term, tf, tfidf, CAST(rn AS BIGINT) AS rn
FROM ranked WHERE rn <= {TFIDF_TOP_K}
"""


def tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document TF-IDF top-k terms.

    Shuffle plan: (1) hash-agg on (doc_id, term) for tf; (2) window over
    term for document frequency — a WINDOW on the tf frame, not a second
    groupBy+join, so the explode/agg upstream is executed once (Spark
    shares no diamond subplans); (3) window over doc_id for the top-k
    rank. Ranking keys are the ROUNDED score then term, so cross-engine
    1-ulp ln() differences cannot flip the order."""
    d = read_table(spark, sf_dir, "documents")
    n_docs = d.count()  # driver scalar: one count job over a pruned scan
    tok = (
        d.filter(F.trim("text") != "")
        .select("doc_id", F.explode(F.split(F.trim("text"), r"\s+")).alias("term"))
    )
    tf = tok.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    dfreq = F.count("*").over(Window.partitionBy("term"))
    scored = tf.withColumn(
        "tfidf",
        F.round(F.col("tf") * F.log((F.lit(n_docs) + 1.0) / (dfreq + 1.0)), 6),
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("tfidf"), "term")
    return (
        scored.withColumn("rn", F.row_number().over(w).cast("long"))
        .filter(F.col("rn") <= TFIDF_TOP_K)
        .select("doc_id", "term", "tf", "tfidf", "rn")
    )


# ---------------------------------------------------------------------------
# corpus bigram frequency
# ---------------------------------------------------------------------------

BIGRAM_ORACLE = rf"""
WITH d AS (
    SELECT string_split_regex(trim(text), '\s+') AS toks
    FROM documents WHERE trim(text) <> ''
),
b AS (
    SELECT unnest(list_transform(range(1, len(toks)),
                                 i -> toks[i] || ' ' || toks[i + 1])) AS bigram
    FROM d WHERE len(toks) >= 2
)
SELECT bigram, CAST(count(*) AS BIGINT) AS n
FROM b GROUP BY bigram
ORDER BY n DESC, bigram
LIMIT {BIGRAM_TOP_K}
"""


def bigram_top(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-K corpus bigrams. Bigrams are built relationally (posexplode →
    lead over (doc, pos)) — never with array-lambda shingles, which are
    interpreted AND re-evaluated per Generate consumer. Top-k is
    TakeOrdered (per-partition heaps), not a global sort."""
    d = read_table(spark, sf_dir, "documents")
    tok = (
        d.filter(F.trim("text") != "")
        .select("doc_id", F.posexplode(F.split(F.trim("text"), r"\s+")).alias("pos", "tok"))
    )
    w = Window.partitionBy("doc_id").orderBy("pos")
    big = (
        tok.withColumn("nxt", F.lead("tok").over(w))
        .filter(F.col("nxt").isNotNull())
        .select(F.concat_ws(" ", "tok", "nxt").alias("bigram"))
    )
    return (
        big.groupBy("bigram")
        .agg(F.count("*").alias("n"))
        .orderBy(F.desc("n"), "bigram")
        .limit(BIGRAM_TOP_K)
    )


# ---------------------------------------------------------------------------
# document length histogram
# ---------------------------------------------------------------------------

LENGTH_BUCKETS_ORACLE = """
SELECT CAST(FLOOR(length(text) / 100) * 100 AS BIGINT) AS bucket_lo,
       CAST(count(*) AS BIGINT) AS n_docs,
       ROUND(AVG(length(text)), 2) AS avg_len,
       CAST(MIN(length(text)) AS BIGINT) AS min_len,
       CAST(MAX(length(text)) AS BIGINT) AS max_len
FROM documents GROUP BY 1
"""


def length_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus length histogram (100-char buckets) — one partial-aggregated
    shuffle over a tiny bucket key space."""
    d = read_table(spark, sf_dir, "documents")
    ln = F.length("text")
    return (
        d.select((F.floor(ln / 100) * 100).cast("long").alias("bucket_lo"), ln.alias("_l"))
        .groupBy("bucket_lo")
        .agg(
            F.count("*").alias("n_docs"),
            F.round(F.avg("_l"), 2).alias("avg_len"),
            F.min("_l").cast("long").alias("min_len"),
            F.max("_l").cast("long").alias("max_len"),
        )
    )


# ---------------------------------------------------------------------------
# deterministic train/val/test split
# ---------------------------------------------------------------------------

# content-keyed split: fingerprint mod 100 → 80/10/10. Re-ingested copies
# of a document always land in the same split (no train/test leakage via
# duplicates), unlike RNG sampling.
SPLIT_ORACLE = """
WITH fp AS (
    SELECT doc_id, text,
           list_reduce(
               list_prepend(CAST(0 AS BIGINT),
                            list_transform(string_split(text, ''),
                                           c -> CAST(ascii(c) AS BIGINT))),
               (a, c) -> (a * 31 + c) % 1000000000007
           ) % 100 AS slot
    FROM documents
)
SELECT doc_id,
       CASE WHEN text IS NULL THEN NULL
            WHEN slot < 80 THEN 'train'
            WHEN slot < 90 THEN 'val'
            ELSE 'test' END AS split
FROM fp
"""


def train_val_test_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """80/10/10 split keyed on the content fingerprint — deterministic,
    duplicate-consistent (exact dupes share a split), pure projection.

    NULL-text boundary (r15 hunt, the SAME defect class the eighth
    fixture caught in text_fingerprint at r14 — this oracle carried its
    own unguarded copy of the formula): DuckDB's list_prepend(0, NULL)
    yields [0], so a NULL document hashed to slot 0 → 'train' in the
    oracle, while Spark's NULL slot fell through both when() branches
    into otherwise('test'). Neither silent assignment is defensible for
    a document with no content; both sides now propagate NULL
    explicitly (the family convention: NULL in → NULL out)."""
    d = read_table(spark, sf_dir, "documents")
    slot = fingerprint(F.col("text")) % 100
    split = (
        F.when(F.col("text").isNull(), F.lit(None).cast("string"))
        .when(slot < 80, "train")
        .when(slot < 90, "val")
        .otherwise("test")
    )
    return d.select("doc_id", split.alias("split"))


# ---------------------------------------------------------------------------
# sequence packing (context-window filling)
# ---------------------------------------------------------------------------

PACK_TARGET_TOKENS = 512

PACK_ORACLE = rf"""
WITH t AS (
    SELECT doc_id,
           CAST(CASE WHEN trim(text) = '' THEN 0
                     ELSE len(string_split_regex(trim(text), '\s+')) END AS BIGINT)
               AS n_tokens
    FROM documents
),
runs AS (
    SELECT doc_id, n_tokens,
           SUM(n_tokens) OVER (ORDER BY doc_id
                               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS running_tokens
    FROM t
)
SELECT doc_id, n_tokens,
       CAST(running_tokens AS BIGINT) AS running_tokens,
       CAST(FLOOR((running_tokens - 1) / {PACK_TARGET_TOKENS}) AS BIGINT) AS bin_id
FROM runs
"""


def pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy sequence packing: documents in doc_id order fill
    PACK_TARGET_TOKENS-sized bins by running token count — the
    context-window packing step of an LLM data pipeline, expressed as one
    global running-sum window.

    SCALE NOTE: the ORDER BY over everything funnels through one
    partition; at 100 TB you first assign coarse ranges (e.g. by
    repartitionByRange on doc_id), pack within ranges in parallel, and
    accept one partially-filled bin per range boundary. The single-window
    form here is the oracle-exact semantics those variants approximate.
    """
    d = read_table(spark, sf_dir, "documents")
    # array_size, not size (r14, eleventh boundary fixture): size() is -1
    # for a NULL array under non-ANSI legacy semantics, so a NULL document
    # SUBTRACTED one token from every later running total — a silent
    # wrong-answer at the boundary (sf tables have no NULL texts).
    # array_size propagates NULL, which SUM then skips: a NULL doc
    # consumes zero window budget, matching the oracle's CASE → NULL.
    t = d.select(
        "doc_id",
        F.array_size(whitespace_tokens(F.col("text"))).cast("long").alias("n_tokens"),
    )
    w = Window.orderBy("doc_id").rowsBetween(Window.unboundedPreceding, 0)
    runs = t.withColumn("running_tokens", F.sum("n_tokens").over(w))
    return runs.select(
        "doc_id",
        "n_tokens",
        "running_tokens",
        F.floor((F.col("running_tokens") - 1) / PACK_TARGET_TOKENS)
        .cast("long")
        .alias("bin_id"),
    )


# Scale-safe variant (VERDICT r3 item #6): the single global window above
# funnels the whole corpus through ONE partition — exact semantics, used
# as the oracle twin, but a scale-killer. The ranged form packs within
# deterministic doc_id ranges IN PARALLEL (the window exchange hashes on
# range_id, so each range is one bounded task), accepting one
# partially-filled bin per range boundary — the standard trade for
# distributed context-window packing. Range ids are arithmetic
# (doc_id DIV PACK_RANGE_DOCS), not sampled repartitionByRange
# boundaries, so the oracle recomputes them exactly.

PACK_RANGE_DOCS = 128

PACK_RANGED_ORACLE = rf"""
WITH t AS (
    SELECT doc_id,
           CAST(doc_id // {PACK_RANGE_DOCS} AS BIGINT) AS range_id,
           CAST(CASE WHEN trim(text) = '' THEN 0
                     ELSE len(string_split_regex(trim(text), '\s+')) END AS BIGINT)
               AS n_tokens
    FROM documents
),
runs AS (
    SELECT doc_id, range_id, n_tokens,
           SUM(n_tokens) OVER (PARTITION BY range_id ORDER BY doc_id
                               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS running_tokens
    FROM t
)
SELECT doc_id, range_id, n_tokens,
       CAST(running_tokens AS BIGINT) AS running_tokens,
       CAST(FLOOR((running_tokens - 1) / {PACK_TARGET_TOKENS}) AS BIGINT) AS bin_id
FROM runs
"""


def pack_sequences_ranged(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy sequence packing within deterministic doc_id ranges — the
    100 TB path: every range packs independently under a PARTITIONED
    window (parallel, bounded state), at the cost of at most one partial
    bin per range boundary. bin_id is per-range; (range_id, bin_id) is
    the global bin key."""
    d = read_table(spark, sf_dir, "documents")
    t = d.select(
        "doc_id",
        F.floor(F.col("doc_id") / PACK_RANGE_DOCS).cast("long").alias("range_id"),
        # array_size: NULL text consumes zero budget (see pack_sequences)
        F.array_size(whitespace_tokens(F.col("text"))).cast("long").alias("n_tokens"),
    )
    w = (
        Window.partitionBy("range_id")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    runs = t.withColumn("running_tokens", F.sum("n_tokens").over(w))
    return runs.select(
        "doc_id",
        "range_id",
        "n_tokens",
        "running_tokens",
        F.floor((F.col("running_tokens") - 1) / PACK_TARGET_TOKENS)
        .cast("long")
        .alias("bin_id"),
    )


# ---------------------------------------------------------------------------
# feature hashing (text → sparse bag-of-words vector, relational form)
# ---------------------------------------------------------------------------

HASH_DIM = 64

# Per-token polynomial hash mod HASH_DIM — portable arithmetic, so the
# oracle recomputes the identical buckets. The (doc_id, dim, weight) rows
# ARE the sparse vector: the relational representation survives the
# driver's canonicalizer (array cells don't) and is what a downstream
# trainer joins/aggregates on anyway.
FEATURE_HASHING_ORACLE = rf"""
WITH tok AS (
    SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS term
    FROM documents WHERE trim(text) <> ''
),
hashed AS (
    SELECT doc_id,
           list_reduce(
               list_prepend(CAST(0 AS BIGINT),
                            list_transform(string_split(term, ''),
                                           c -> CAST(ascii(c) AS BIGINT))),
               (a, c) -> (a * 31 + c) % 1000000000007
           ) % {HASH_DIM} AS dim
    FROM tok
)
SELECT doc_id, CAST(dim AS BIGINT) AS dim, CAST(count(*) AS BIGINT) AS weight
FROM hashed GROUP BY doc_id, dim
"""


def feature_hashing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hashing-trick bag-of-words: token → fingerprint mod HASH_DIM →
    per-(doc, dim) counts. One explode + one hash-agg shuffle; the
    classic RNG-free featurizer for corpus-scale classical models."""
    d = read_table(spark, sf_dir, "documents")
    tok = d.filter(F.trim("text") != "").select(
        "doc_id", F.explode(F.split(F.trim("text"), r"\s+")).alias("term")
    )
    hashed = tok.select("doc_id", (fingerprint(F.col("term")) % HASH_DIM).alias("dim"))
    return hashed.groupBy("doc_id", "dim").agg(F.count("*").alias("weight"))


# ---------------------------------------------------------------------------
# document chunking (RAG-style fixed-token windows)
# ---------------------------------------------------------------------------

CHUNK_TOKENS = 32

CHUNK_ORACLE = rf"""
WITH tok AS (
    SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks
    FROM documents WHERE doc_id < 50 AND trim(text) <> ''
),
ch AS (
    SELECT doc_id,
           CAST(g.c AS BIGINT) AS chunk_idx,
           toks[(g.c * {CHUNK_TOKENS} + 1):((g.c + 1) * {CHUNK_TOKENS})] AS win
    FROM tok, LATERAL (
        SELECT unnest(generate_series(0,
            CAST(CEIL(len(toks) * 1.0 / {CHUNK_TOKENS}) AS INTEGER) - 1)) AS c
    ) g
)
-- n_chunk_tokens is the WINDOW length, the same computation as the Spark
-- side's size(slice(...)) — NOT a re-tokenization of chunk_text (r15
-- boundary fix: a tab-only doc passes the space-only trim filter and
-- splits to ['',''], so chunk_text is ' '; the old re-derivation
-- trimmed that back to '' and reported 0 tokens where both Spark plans
-- report the window's 2)
SELECT doc_id, chunk_idx,
       array_to_string(win, ' ') AS chunk_text,
       CAST(len(win) AS BIGINT) AS n_chunk_tokens
FROM ch
"""


def chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAG-style chunking of documents into fixed-token windows, fully
    JVM-native: ``posexplode(sequence(0, n_chunks-1))`` fans each doc out
    to its chunk indexes and ``slice`` + ``array_join`` rebuilds each
    window — no Python stage anywhere in the plan. Whitespace tokens
    stand in for a real tokenizer (same seam as the multimodal codec
    stub).

    ``split(trim(text), '\\s+')`` reproduces Python ``str.split()``:
    trim drops the leading empty token a ``\\s+`` split would keep, and
    the empty-document case is excluded by the same filter both sides.
    """
    d = read_table(spark, sf_dir, "documents").filter(
        (F.col("doc_id") < 50) & (F.trim("text") != "")
    )
    toks = F.split(F.trim("text"), r"\s+")
    d = d.select("doc_id", toks.alias("toks"))
    n_chunks = F.ceil(F.size("toks") / F.lit(CHUNK_TOKENS)).cast("int")
    d = d.select(
        "doc_id",
        "toks",
        F.explode(F.sequence(F.lit(0), n_chunks - 1)).alias("chunk_idx"),
    )
    window = F.slice("toks", F.col("chunk_idx") * CHUNK_TOKENS + 1, CHUNK_TOKENS)
    return d.select(
        "doc_id",
        F.col("chunk_idx").cast("long").alias("chunk_idx"),
        F.array_join(window, " ").alias("chunk_text"),
        F.size(window).cast("long").alias("n_chunk_tokens"),
    )


# ---------------------------------------------------------------------------
# repetition signals (Gopher-style quality rules: duplicate-word fraction,
# top-bigram mass)
# ---------------------------------------------------------------------------

REPETITION_ORACLE = r"""
WITH d AS (
    SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks
    FROM documents WHERE trim(text) <> ''
),
b AS (
    SELECT doc_id,
           unnest(list_transform(range(1, len(toks)),
                                 i -> toks[i] || ' ' || toks[i + 1])) AS bigram
    FROM d WHERE len(toks) >= 2
),
bc AS (
    SELECT doc_id, bigram, count(*) AS c FROM b GROUP BY doc_id, bigram
),
bm AS (
    SELECT doc_id, MAX(c) AS mc, SUM(c) AS nb FROM bc GROUP BY doc_id
)
SELECT d.doc_id,
       CAST(len(d.toks) AS BIGINT) AS n_tokens,
       ROUND(1.0 - len(list_distinct(d.toks)) / len(d.toks), 6) AS dup_word_frac,
       ROUND(bm.mc / bm.nb, 6) AS top_bigram_frac
FROM d JOIN bm ON d.doc_id = bm.doc_id
"""


def repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document repetition signals — the Gopher repetition rules
    (duplicate-word fraction, most-frequent-bigram mass) that gate
    boilerplate and spam out of training corpora.

    The duplicate fraction is pure array math in the projection
    (``array_distinct`` is JVM-native). The top-bigram mass needs a
    per-(doc, bigram) count, built relationally (posexplode → lead, the
    same shape as ``corpus_bigram_top``): two hash-aggs and the stats
    join all cluster on ``doc_id``, so the whole plan is one
    Exchange on doc_id after the bigram count's (doc_id, bigram)
    shuffle. No per-doc O(n^2) lambda scans.
    """
    base = (
        read_table(spark, sf_dir, "documents")
        .filter(F.trim("text") != "")
        .select("doc_id", F.split(F.trim("text"), r"\s+").alias("toks"))
    )
    stats = base.select(
        "doc_id",
        F.size("toks").cast("long").alias("n_tokens"),
        F.round(
            1.0 - F.size(F.array_distinct("toks")) / F.size("toks"), 6
        ).alias("dup_word_frac"),
    )
    tok = base.select("doc_id", F.posexplode("toks").alias("pos", "tok"))
    w = Window.partitionBy("doc_id").orderBy("pos")
    bigram_max = (
        tok.withColumn("nxt", F.lead("tok").over(w))
        .filter(F.col("nxt").isNotNull())
        .select("doc_id", F.concat_ws(" ", "tok", "nxt").alias("bigram"))
        .groupBy("doc_id", "bigram")
        .agg(F.count("*").alias("c"))
        .groupBy("doc_id")
        .agg(F.max("c").alias("mc"), F.sum("c").alias("nb"))
    )
    return stats.join(bigram_max, "doc_id").select(
        "doc_id",
        "n_tokens",
        "dup_word_frac",
        F.round(F.col("mc") / F.col("nb"), 6).alias("top_bigram_frac"),
    )


# ---------------------------------------------------------------------------
# normalization + dedup on the canonical form
# ---------------------------------------------------------------------------

NORMALIZE_DEDUP_ORACLE = """
WITH n AS (
    SELECT doc_id,
           md5(trim(regexp_replace(
               regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'),
               ' +', ' ', 'g'))) AS norm_hash
    FROM documents
)
SELECT norm_hash, CAST(MIN(doc_id) AS BIGINT) AS canonical_doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_copies
FROM n GROUP BY norm_hash
"""


def normalize_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup on the NORMALIZED text form (lowercase, punctuation
    stripped, whitespace collapsed) — catches trivially-reformatted
    copies that byte-exact ``dedup_exact`` misses. Same scale shape as
    dedup_exact: the shuffle key is the 16-byte md5 of the normalized
    form, never the document text."""
    norm = F.trim(
        F.regexp_replace(
            F.regexp_replace(F.lower(F.col("text")), "[^a-z0-9 ]", ""), " +", " "
        )
    )
    return (
        read_table(spark, sf_dir, "documents")
        .select("doc_id", F.md5(norm).alias("norm_hash"))
        .groupBy("norm_hash")
        .agg(
            F.min("doc_id").alias("canonical_doc_id"),
            F.count("*").alias("n_copies"),
        )
    )


# ---------------------------------------------------------------------------
# per-source rollup (corpus provenance profile)
# ---------------------------------------------------------------------------

# HAVING count(*) > 0 mirrors Spark's empty-input grouping-set
# convention (r16 finding 38, same as relational.py ROLLUP_ORACLE):
# Spark expands rows per grouping set before aggregating, so an empty
# ingest batch yields zero rows even for the () set where ANSI/DuckDB
# emit one grand-total row; vacuous on any non-empty input.
SOURCE_ROLLUP_ORACLE = """
SELECT source, lang,
       CAST(GROUPING(source) AS BIGINT) AS g_source,
       CAST(GROUPING(lang) AS BIGINT) AS g_lang,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       ROUND(AVG(n_chars), 2) AS avg_chars
FROM documents
GROUP BY ROLLUP(source, lang)
HAVING count(*) > 0
"""


def source_lang_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus provenance profile: per (source, lang) doc counts and sizes
    with ROLLUP subtotals — the mix-monitoring query a training-data
    pipeline runs per ingest batch. One Expand + single shuffle;
    GROUPING() separates subtotal rows from real NULLs."""
    return (
        read_table(spark, sf_dir, "documents")
        .rollup("source", "lang")
        .agg(
            F.grouping("source").cast("long").alias("g_source"),
            F.grouping("lang").cast("long").alias("g_lang"),
            F.count("*").alias("n_docs"),
            F.round(F.avg("n_chars"), 2).alias("avg_chars"),
        )
        .select("source", "lang", "g_source", "g_lang", "n_docs", "avg_chars")
    )


STRATIFIED_FRACTION = 0.2

STRATIFIED_SAMPLE_ORACLE = f"""
SELECT doc_id, lang, source
FROM (
    SELECT doc_id, lang, source,
           ROW_NUMBER() OVER (PARTITION BY lang
                              ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS r,
           COUNT(*) OVER (PARTITION BY lang) AS n
    FROM documents
)
WHERE r <= CEIL({STRATIFIED_FRACTION} * n)
"""


def stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified sampling with EXACT per-stratum counts: keep
    ceil(f * n_lang) docs per language, chosen by ranking on a portable
    content-independent hash (md5 of the id) — deterministic across
    engines, runs, and partitionings, unlike ``df.sampleBy`` whose
    per-row Bernoulli draw gives only the expected fraction and depends
    on partition layout. The rank and count windows share one lang
    exchange; at 100 TB the shuffle carries (id, lang, source) only.
    Strata with fewer than 1/f docs still contribute their ceil — no
    empty strata, the property sampleBy cannot promise."""
    d = read_table(spark, sf_dir, "documents")
    rank_w = Window.partitionBy("lang").orderBy(
        F.md5(F.col("doc_id").cast("string")), "doc_id"
    )
    return (
        d.select("doc_id", "lang", "source")
        .withColumn("r", F.row_number().over(rank_w))
        .withColumn("n", F.count("*").over(Window.partitionBy("lang")))
        .filter(F.col("r") <= F.ceil(F.lit(STRATIFIED_FRACTION) * F.col("n")))
        .select("doc_id", "lang", "source")
    )


# ---------------------------------------------------------------------------
# benchmark decontamination (eval-set n-gram overlap)
# ---------------------------------------------------------------------------

BENCHMARK_MAX_DOC_ID = 25  # doc_id < 25 plays the held-out eval set
CONTAMINATION_THRESHOLD = 0.5

# Tokenization matches dedup.TOKS_SQL == whitespace_tokens (ADVICE r5:
# regex \s+ on trimmed text, not string_split on a single space).
_SHINGLE_SETS_CTE = f"""
    SELECT doc_id,
           list_distinct(list_transform(
               range(1, greatest(len({_DEDUP_TOKS_SQL}) - 1, 1)),
               i -> {_DEDUP_TOKS_SQL}[i] || ' ' ||
                    {_DEDUP_TOKS_SQL}[i+1] || ' ' ||
                    {_DEDUP_TOKS_SQL}[i+2])) AS sh
    FROM documents
    WHERE len({_DEDUP_TOKS_SQL}) >= 3
"""

DECONTAMINATE_ORACLE = f"""
WITH sets AS ({_SHINGLE_SETS_CTE}),
el AS (SELECT doc_id, unnest(sh) AS s, len(sh) AS n FROM sets),
bench AS (SELECT DISTINCT s FROM el WHERE doc_id < {BENCHMARK_MAX_DOC_ID}),
hits AS (
    SELECT el.doc_id, any_value(el.n) AS n_shingles,
           count(bench.s) AS n_contaminated
    FROM el LEFT JOIN bench ON el.s = bench.s
    WHERE el.doc_id >= {BENCHMARK_MAX_DOC_ID}
    GROUP BY el.doc_id
)
SELECT doc_id, CAST(n_shingles AS BIGINT) AS n_shingles,
       CAST(n_contaminated AS BIGINT) AS n_contaminated,
       ROUND(n_contaminated * 1.0 / n_shingles, 6) AS contamination_frac,
       n_contaminated * 1.0 / n_shingles >= {CONTAMINATION_THRESHOLD}
           AS is_contaminated
FROM hits
"""


def decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: for every training document, the
    fraction of its distinct 3-gram shingles that appear anywhere in the
    held-out eval set (doc_id < BENCHMARK_MAX_DOC_ID) — the standard
    eval-overlap filter of an LLM data pipeline.

    Scale shape: eval sets are small, so the benchmark shingle set
    BROADCASTS (distinct shingles only); the corpus side streams
    through one left join + one per-doc aggregation keyed by doc_id —
    which reuses the shingle window's partitioning, no extra exchange.
    Shingles ride as xxhash64 ints (r20): the broadcast set and every
    corpus row shrink ~3x, and hit/total COUNTS are identical modulo
    64-bit collisions — the string-grouping oracle stays the collision
    check (interleaved A/B at sf0.1: 1.52s -> 1.30s median, identical
    output)."""
    from monthly_report_etl_spark.operators.dedup import _shingle_rows

    rows = _shingle_rows(spark, sf_dir, hashed=True)
    bench = (
        rows.filter(F.col("doc_id") < BENCHMARK_MAX_DOC_ID)
        .select("s")
        .distinct()
        .withColumn("_hit", F.lit(1))
    )
    corpus = rows.filter(F.col("doc_id") >= BENCHMARK_MAX_DOC_ID)
    hits = (
        corpus.join(F.broadcast(bench), "s", "left")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_shingles"),
            F.count("_hit").alias("n_contaminated"),
        )
    )
    frac = F.col("n_contaminated") / F.col("n_shingles")
    return hits.select(
        "doc_id",
        "n_shingles",
        "n_contaminated",
        F.round(frac, 6).alias("contamination_frac"),
        (frac >= CONTAMINATION_THRESHOLD).alias("is_contaminated"),
    )


# ---------------------------------------------------------------------------
# n-gram novelty (first-seen attribution in doc_id order)
# ---------------------------------------------------------------------------

NOVELTY_ORACLE = f"""
WITH sets AS ({_SHINGLE_SETS_CTE}),
el AS (SELECT doc_id, unnest(sh) AS s, len(sh) AS n FROM sets),
first_seen AS (SELECT s, min(doc_id) AS first_doc FROM el GROUP BY s)
SELECT el.doc_id,
       CAST(any_value(el.n) AS BIGINT) AS n_shingles,
       CAST(sum(CASE WHEN f.first_doc = el.doc_id THEN 1 ELSE 0 END) AS BIGINT)
           AS n_novel,
       ROUND(sum(CASE WHEN f.first_doc = el.doc_id THEN 1 ELSE 0 END) * 1.0
             / any_value(el.n), 6) AS novelty_frac
FROM el JOIN first_seen f ON el.s = f.s
GROUP BY el.doc_id
"""


def ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document novelty: the fraction of a document's distinct
    shingles whose FIRST occurrence (min doc_id over the corpus) is this
    document — the incremental-ingest view of near-dup mass, and the
    cheap data-valuation signal (a doc with novelty ~0 adds nothing the
    corpus hasn't seen).

    Scale shape: one min-aggregation keyed by shingle (map-side
    partials), re-joined to the shingle rows on the same shingle key —
    the partitioning from the window is reused; the per-doc rollup is
    the only other exchange. A window MIN OVER (PARTITION BY s) would
    fuse the two but shuffles the full rows twice; the agg+join form
    moves (s, min) pairs only."""
    from monthly_report_etl_spark.operators.dedup import _shingle_rows

    rows = _shingle_rows(spark, sf_dir)
    n = rows.groupBy("doc_id").agg(F.count("*").alias("n_shingles"))
    first_seen = rows.groupBy("s").agg(F.min("doc_id").alias("first_doc"))
    novel = (
        rows.join(first_seen, "s")
        .groupBy("doc_id")
        .agg(
            F.sum((F.col("first_doc") == F.col("doc_id")).cast("long")).alias(
                "n_novel"
            )
        )
    )
    return (
        n.join(novel, "doc_id")
        .select(
            "doc_id",
            "n_shingles",
            "n_novel",
            F.round(F.col("n_novel") / F.col("n_shingles"), 6).alias("novelty_frac"),
        )
    )


# ---------------------------------------------------------------------------
# incremental-ingest dedup (new batch vs existing corpus)
# ---------------------------------------------------------------------------

INGEST_SOURCE = "src19"  # plays the incoming batch; the rest is the corpus

INCREMENTAL_INGEST_ORACLE = f"""
WITH incoming AS (
    SELECT doc_id, text FROM documents WHERE source = '{INGEST_SOURCE}'
),
survivors AS (
    SELECT min(i.doc_id) AS doc_id
    FROM incoming i
    WHERE NOT EXISTS (
        SELECT 1 FROM documents d
        WHERE d.source <> '{INGEST_SOURCE}' AND d.text = i.text
    )
    GROUP BY i.text
)
SELECT doc_id FROM survivors
"""


def incremental_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The daily-ingest shape: dedup an incoming batch against the
    existing corpus (LEFT ANTI on the exact-content key) and within
    itself (min doc_id per text). Keys are (sha2, length) — 33 bytes per
    row through both the anti join and the in-batch dedup, never the
    documents themselves."""
    d = read_table(spark, sf_dir, "documents")
    key = [F.sha2(F.col("text"), 256).alias("k"), F.length("text").alias("klen")]
    incoming = d.filter(F.col("source") == INGEST_SOURCE).select("doc_id", *key)
    existing = d.filter(F.col("source") != INGEST_SOURCE).select(*key)
    fresh = incoming.join(existing, ["k", "klen"], "left_anti")
    return (
        fresh.groupBy("k", "klen")
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id")
    )


# ---------------------------------------------------------------------------
# per-source length-outlier trimming
# ---------------------------------------------------------------------------

TRIM_LO = 0.05
TRIM_HI = 0.95

LENGTH_TRIM_ORACLE = rf"""
WITH t AS (
    SELECT doc_id, source,
           CAST(CASE WHEN trim(text) = '' THEN 0
                     ELSE len(string_split_regex(trim(text), '\s+')) END AS BIGINT)
               AS n_tokens
    FROM documents
),
ranked AS (
    SELECT doc_id, source, n_tokens,
           PERCENT_RANK() OVER (PARTITION BY source
                                ORDER BY n_tokens NULLS FIRST, doc_id)
               AS pr
    FROM t
)
SELECT doc_id, source, n_tokens,
       pr >= {TRIM_LO} AND pr <= {TRIM_HI} AS keep
FROM ranked
"""


def length_trim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source length-outlier trimming: drop each source's shortest
    5% and longest 5% by token count (truncation pre-filter — very short
    docs are noise, very long ones skew packing). percent_rank over
    (n_tokens, doc_id) makes the boundary total-ordered and identical
    across engines; one window exchange keyed by source."""
    d = read_table(spark, sf_dir, "documents")
    t = d.select(
        "doc_id",
        "source",
        # array_size (r14): size() returned -1 for NULL text, silently
        # ranking a NULL doc below genuine zero-token docs
        F.array_size(whitespace_tokens(F.col("text"))).cast("long").alias("n_tokens"),
    )
    # NULLS FIRST pinned EXPLICITLY on both sides (r14): Spark's asc
    # default is NULLS FIRST but DuckDB's is NULLS LAST — a NULL-token
    # doc would shift every percent_rank in its source differently per
    # engine. Convention: a NULL doc counts as shortest.
    w = Window.partitionBy("source").orderBy(
        F.col("n_tokens").asc_nulls_first(), "doc_id"
    )
    pr = F.percent_rank().over(w)
    return t.select(
        "doc_id",
        "source",
        "n_tokens",
        ((pr >= TRIM_LO) & (pr <= TRIM_HI)).alias("keep"),
    )


# ---------------------------------------------------------------------------
# training-mix weights (sqrt-proportional source rebalancing)
# ---------------------------------------------------------------------------

MIX_WEIGHTS_ORACLE = r"""
WITH per_source AS (
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN trim(text) = '' THEN 0
                         ELSE len(string_split_regex(trim(text), '\s+')) END)
                AS BIGINT) AS n_tokens
    FROM documents GROUP BY source
),
tot AS (SELECT SUM(sqrt(n_tokens)) AS z FROM per_source)
SELECT source, n_docs, n_tokens,
       ROUND(sqrt(n_tokens) / (SELECT z FROM tot), 6) AS mix_weight
FROM per_source
"""


def mix_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-mix rebalancing weights: sample each source proportional
    to sqrt(its token count), normalized — the standard compromise
    between natural frequency (overweights crawl) and uniform
    (overweights tiny curated sets). One rollup keyed by source; the
    normalizer folds in as a broadcast scalar, all in one lazy plan."""
    d = read_table(spark, sf_dir, "documents")
    per = d.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        # array_size (r14): size() is -1 for NULL text, so every NULL doc
        # SUBTRACTED a token from its source's total — a silent
        # wrong-answer at the boundary; array_size → NULL → SUM skips
        F.sum(F.array_size(whitespace_tokens(F.col("text"))).cast("long")).alias(
            "n_tokens"
        ),
    )
    z = per.agg(F.sum(F.sqrt("n_tokens")).alias("z"))
    return per.crossJoin(F.broadcast(z)).select(
        "source",
        "n_docs",
        "n_tokens",
        F.round(F.sqrt("n_tokens") / F.col("z"), 6).alias("mix_weight"),
    )


# ---------------------------------------------------------------------------
# BPE merge-pair counting — one iteration of tokenizer training
# ---------------------------------------------------------------------------

BPE_TOP_PAIRS = 20

BPE_PAIR_ORACLE = rf"""
WITH words AS (
    SELECT unnest(string_split_regex(trim(text), '\s+')) AS w
    FROM documents
    WHERE trim(text) <> ''
),
wf AS (
    SELECT w, count(*) AS freq FROM words WHERE w <> '' GROUP BY w
),
pairs AS (
    SELECT unnest(list_transform(range(1, length(w)),
                                 i -> substr(w, CAST(i AS INT), 2))) AS pair,
           freq
    FROM wf WHERE length(w) >= 2
)
SELECT pair, CAST(SUM(freq) AS BIGINT) AS pair_count
FROM pairs GROUP BY pair
ORDER BY pair_count DESC, pair
LIMIT {BPE_TOP_PAIRS}
"""


def bpe_pair_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One iteration of BPE tokenizer training (Sennrich et al. 2016):
    count adjacent symbol pairs across the corpus, weighted by word
    frequency — the top pair is the next merge. Symbols here are the
    character-level iteration-0 state, so a pair is a 2-char substring;
    later iterations only change the symbol segmentation, not this
    counting shape.

    The scale trick is the one every distributed BPE trainer uses:
    aggregate WORD frequencies first (one corpus-sized shuffle down to
    vocabulary size), then explode pairs over the VOCAB weighted by
    freq — the pair explode is vocab x word-length, independent of
    corpus row count, and the pair aggregation's input is vocab-sized.
    Counting pairs directly off the corpus would explode corpus x
    word-length rows — the difference between shuffling the vocabulary
    and shuffling the corpus every merge iteration. Top-k via
    TakeOrderedAndProject (per-partition heaps, no global sort) with a
    total (count desc, pair) tiebreak for cross-engine determinism."""
    d = read_table(spark, sf_dir, "documents")
    words = (
        d.filter(F.trim("text") != "")
        .select(F.explode(F.split(F.trim("text"), r"\s+")).alias("w"))
        .filter(F.col("w") != "")
    )
    wf = words.groupBy("w").agg(F.count("*").alias("freq"))
    pairs = wf.filter(F.length("w") >= 2).select(
        F.explode(
            F.expr("transform(sequence(1, char_length(w) - 1), i -> substring(w, i, 2))")
        ).alias("pair"),
        "freq",
    )
    return (
        pairs.groupBy("pair")
        .agg(F.sum("freq").cast("long").alias("pair_count"))
        .orderBy(F.desc("pair_count"), "pair")
        .limit(BPE_TOP_PAIRS)
    )


# ---------------------------------------------------------------------------
# NEAR-duplicate incremental ingest (MinHash/LSH against the corpus)
# ---------------------------------------------------------------------------

# The incoming batch for the NEAR-dup ingest is a doc_id-mod slice (30%
# of the corpus) rather than the exact ingest's source-keyed split:
# the fixture's planted near-dups never cross the src19 boundary at
# sf0.01, which would leave the drop path green-but-vacuous at the
# driver's oracle SF. A deterministic mod slice is the same fixture
# convention as corpus_sample_hash_mod and guarantees both drop paths
# (incoming×existing and in-batch) execute at every tested SF.
NEARDUP_BATCH_MOD = 10
NEARDUP_BATCH_LT = 3


def _neardup_oracle() -> str:
    from monthly_report_etl_spark.operators.dedup import _minhash_oracle

    m, lt = NEARDUP_BATCH_MOD, NEARDUP_BATCH_LT
    pred = (
        f"a.doc_id % {m} < {lt} AND "
        f"(b.doc_id % {m} >= {lt} OR "
        f"(b.doc_id % {m} < {lt} AND a.doc_id < b.doc_id))"
    )
    return f"""
WITH pairs AS ({_minhash_oracle(cand_pred=pred)})
SELECT d.doc_id FROM documents d
WHERE d.doc_id % {m} < {lt}
  AND d.doc_id NOT IN (
    SELECT CASE WHEN doc_b % {m} < {lt} THEN doc_b ELSE doc_a END
    FROM pairs)
"""


NEARDUP_INGEST_ORACLE = _neardup_oracle()


def incremental_ingest_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NEAR-duplicate incremental ingest — the production daily-batch
    shape one level up from ``incremental_ingest``'s exact-key
    anti-join (the CCNet/Dolma fuzzy-dedup stage): an incoming doc is
    dropped iff exact n-gram Jaccard >= 0.5 against (a) ANY existing
    corpus doc, or (b) a LOWER-doc_id doc within its own batch (the
    pairwise lower-id drop rule SemDeDup uses — no transitive closure,
    so the result is SQL-replayable). Candidates come from the portable
    MinHash/LSH banding (``dedup.portable_band_rows`` — the identical
    signature → band chain the hash-green dedup_minhash_lsh entry
    pins), verified by exact Jaccard; the whole chain is recomputed by
    the oracle, so this entry is FULLY hash-checked, not bounds-checked.

    Scale shape: the existing corpus NEVER self-joins — candidate
    generation is incoming-bands ⋈ existing-bands plus the batch-sized
    incoming self-join, both equi-joins on 8-byte (band, key); exact
    verification touches candidates only. Docs with < 3 tokens have no
    shingles and always survive — by construction in both engines."""
    from monthly_report_etl_spark.operators.dedup import (
        _verify_jaccard,
        minhash_signature_columns,
        portable_band_rows,
    )

    is_inc = (F.col("doc_id") % NEARDUP_BATCH_MOD) < NEARDUP_BATCH_LT
    incoming_ids = read_table(spark, sf_dir, "documents").select("doc_id").filter(is_inc)
    # The band table feeds four join subtrees whose pushed-down doc_id
    # filters make them non-shareable (no ReusedExchange), so the
    # signature aggregation re-runs per subtree — flagged by the r10
    # code review, then A/B-measured on the 30x docs replica before
    # "fixing": recompute 14.2 s, batch-side-only localCheckpoint
    # 18.3 s, full-bands localCheckpoint 24.6 s. Recomputing WINS —
    # each subtree's filtered scan + window agg is cheaper than
    # materializing ~8 band rows/doc, and the independent subtrees
    # overlap in one wave — so the streaming form is deliberate.
    bands = portable_band_rows(minhash_signature_columns(spark, sf_dir))
    inc_b = bands.filter(is_inc)
    a, b = inc_b.alias("a"), bands.filter(~is_inc).alias("b")
    cross = (
        a.join(b, (F.col("a.band") == F.col("b.band")) & (F.col("a.key") == F.col("b.key")))
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
    ia, ib = inc_b.alias("ia"), inc_b.alias("ib")
    inbatch = (
        ia.join(
            ib,
            (F.col("ia.band") == F.col("ib.band"))
            & (F.col("ia.key") == F.col("ib.key"))
            & (F.col("ia.doc_id") < F.col("ib.doc_id")),
        )
        .select(F.col("ia.doc_id").alias("doc_a"), F.col("ib.doc_id").alias("doc_b"))
        .distinct()
    )
    ver = _verify_jaccard(spark, sf_dir, cross.union(inbatch).distinct())
    # cross pairs: doc_a is the incoming side -> drop doc_a;
    # in-batch pairs: doc_a < doc_b, both incoming -> drop doc_b
    dropped = ver.select(
        F.when(
            (F.col("doc_b") % NEARDUP_BATCH_MOD) < NEARDUP_BATCH_LT, F.col("doc_b")
        )
        .otherwise(F.col("doc_a"))
        .alias("doc_id")
    ).distinct()
    return incoming_ids.join(dropped, "doc_id", "left_anti")


# ---------------------------------------------------------------------------
# BPE merge-table training — the full N-iteration loop
# ---------------------------------------------------------------------------

BPE_MERGES = 8


def _bpe_oracle_ctes(n_merges: int) -> str:
    """DuckDB replay of the full merge loop, unrolled to ``n_merges``
    iterations over the VOCAB-sized frequency table (the loop is
    SQL-expressible per iteration — VERDICT r9 #3). DuckDB 1.0 has no
    fold-with-initial-value, so the greedy left-to-right merge apply is
    expressed relationally instead: symbols as (w, pos, sym) rows, match
    flags via lead(), greedy non-overlap selection as "odd rank within
    each island of CONSECUTIVE match positions" (two matches conflict
    iff their positions differ by 1, so greedy == take 1st, 3rd, ... of
    every run — the exact semantics of the Spark side's aggregate()
    fold), then reassemble with row_number. Deterministic across both
    engines via the total (count DESC, left, right) tiebreak."""
    parts = [
        r"""
WITH wf AS MATERIALIZED (
    SELECT w, count(*) AS freq FROM (
        SELECT unnest(string_split_regex(trim(text), '\s+')) AS w
        FROM documents WHERE trim(text) <> ''
    ) WHERE w <> '' GROUP BY w
),
s0 AS MATERIALIZED (
    SELECT w, CAST(pos AS BIGINT) AS pos, substr(w, CAST(pos AS INT), 1) AS sym
    FROM (SELECT w, unnest(range(1, length(w) + 1)) AS pos FROM wf)
)"""
    ]
    for i in range(1, n_merges + 1):
        p, s_prev = i, i - 1
        parts.append(f"""
c{p} AS MATERIALIZED (
    SELECT l, r, SUM(freq) AS cnt FROM (
        SELECT s.w, s.sym AS l,
               lead(s.sym) OVER (PARTITION BY s.w ORDER BY s.pos) AS r
        FROM s{s_prev} s
    ) q JOIN wf USING (w)
    WHERE r IS NOT NULL GROUP BY l, r
),
t{p} AS MATERIALIZED (SELECT l, r, cnt FROM c{p} ORDER BY cnt DESC, l, r LIMIT 1),
m{p} AS MATERIALIZED (
    SELECT s.w, s.pos, s.sym,
           (s.sym = t.l AND
            lead(s.sym) OVER (PARTITION BY s.w ORDER BY s.pos) = t.r) AS is_m
    FROM s{s_prev} s CROSS JOIN t{p} t
),
sel{p} AS MATERIALIZED (
    SELECT w, pos FROM (
        SELECT w, pos, pos - row_number() OVER (PARTITION BY w ORDER BY pos) AS isl
        FROM m{p} WHERE is_m
    ) QUALIFY row_number() OVER (PARTITION BY w, isl ORDER BY pos) % 2 = 1
),
s{p} AS MATERIALIZED (
    SELECT z.w, row_number() OVER (PARTITION BY z.w ORDER BY z.pos) AS pos,
           CASE WHEN a.pos IS NOT NULL THEN t.l || t.r ELSE z.sym END AS sym
    FROM m{p} z
    CROSS JOIN t{p} t
    LEFT JOIN sel{p} a ON a.w = z.w AND a.pos = z.pos
    LEFT JOIN sel{p} b ON b.w = z.w AND b.pos = z.pos - 1
    WHERE b.pos IS NULL
    UNION ALL
    SELECT w, pos, sym FROM s{s_prev}
    WHERE NOT EXISTS (SELECT 1 FROM t{p})
)""")
    return ",".join(parts)


def _bpe_oracle_sql(n_merges: int) -> str:
    """Merge-table final select over the shared CTE chain."""
    selects = [
        f"SELECT {i} AS merge_rank, l AS merge_left, r AS merge_right,"
        f" CAST(cnt AS BIGINT) AS pair_count FROM t{i}"
        for i in range(1, n_merges + 1)
    ]
    return (
        _bpe_oracle_ctes(n_merges)
        + "\n"
        + "\nUNION ALL\n".join(selects)
        + "\nORDER BY merge_rank"
    )


BPE_TRAIN_ORACLE = _bpe_oracle_sql(BPE_MERGES)


# Iterations between lineage truncations in _bpe_train. Each iteration
# stacks one fold-Project and one InMemoryRelation onto the vocab's
# logical plan; the DATA path is fine (every iteration reads the parent
# cache) but the PLAN grows superlinearly in text/analysis cost — at
# N≈50 on an 8g driver, merely rendering the collect job's plan string
# OOMs the heap (measured in the r11 N-stress, SCALE.md §8k). An eager
# localCheckpoint every K iterations resets plan depth to zero at the
# cost of one vocab-sized materialization; K=8 keeps the worst plan at
# the depth the N=8 catalog entry always had. (localCheckpoint trades
# replay-on-executor-loss for speed — on a multi-node cluster a
# reliable checkpoint dir makes the same truncation fault-tolerant.)
BPE_LINEAGE_TRUNC_EVERY = 8

# warn-once-per-cause latch for _release_vocab_frame's fallback path (a
# connect backend would hit it on every call; one warning per DISTINCT
# exception type is signal, N repeats are spam — latching globally would
# hide a NEW failure cause appearing after a mid-session backend switch
# or Spark upgrade behind the first cause's suppressed-debug shadow)
_RELEASE_FALLBACK_WARNED_TYPES: set = set()


def _release_vocab_frame(df: DataFrame) -> None:
    """Release a trainer vocab frame's storage, whether it came from
    ``persist()`` or ``localCheckpoint()`` (ADVICE r11 #3): for a
    checkpointed frame, ``DataFrame.unpersist()`` is a NO-OP — the
    checkpoint's backing RDD is cached outside the CacheManager — so
    without this, the large-N path accumulates ~N/BPE_LINEAGE_TRUNC_EVERY
    vocab-sized RDDs until py4j + JVM GC let the ContextCleaner reclaim
    them, exactly where memory is tightest. A checkpointed frame's plan
    is a bare LogicalRDD; dropping that RDD's blocks directly frees the
    storage immediately (verified: getRDDStorageInfo goes to empty).
    Callers must invoke this only once no live frame can recompute
    THROUGH the released one (the same contract the persisted path
    already had — a localCheckpoint RDD is non-recomputable, so a
    downstream cache-eviction replay would fail loudly; in-loop we
    release strictly after the child has materialized its own cache,
    which is also MEMORY_AND_DISK, so eviction spills rather than
    drops — the only loss mode is executor death, the documented
    localCheckpoint tradeoff)."""
    if df.storageLevel.useMemory or df.storageLevel.useDisk:
        df.unpersist()
        return
    try:
        plan = df._jdf.queryExecution().analyzed()
        if plan.getClass().getSimpleName() == "LogicalRDD":
            plan.rdd().unpersist(False)
    except Exception as exc:  # non-classic backends / renamed internals:
        # fall back to GC-deferred reclamation — but NOISILY (ADVICE r12
        # #2): this path rides classic-Spark private accessors, and a
        # silent py4j failure here would invisibly reintroduce the
        # checkpoint-RDD accumulation this helper exists to fix. WARN
        # once PER EXCEPTION TYPE (debug is suppressed under the default
        # root-logger config), then debug — a connect backend hits this
        # every call with the same cause, while a different cause (a new
        # exception class after a backend switch) stays visible
        # (VERDICT r13 #2; the type set is small and bounded).
        log = (_log.debug if type(exc) in _RELEASE_FALLBACK_WARNED_TYPES
               else _log.warning)
        _RELEASE_FALLBACK_WARNED_TYPES.add(type(exc))
        log("vocab-frame eager release unavailable (%s); "
            "falling back to GC-deferred reclamation", exc)


def _merge_apply_expr(left: str, right: str):
    """Greedy left-to-right non-overlap application of ONE merge pair as
    a pure JVM ``aggregate()`` fold over the ``syms`` array (state =
    (emitted symbols, carry); carry==left ∧ next==right → emit merged,
    reset). The sequential trainer's per-merge step."""

    def _acc(out, carry):
        return F.named_struct(F.lit("out"), out, F.lit("carry"), carry)

    merged_lit = F.lit(left + right)
    null_s = F.lit(None).cast("string")
    return F.aggregate(
        "syms",
        _acc(F.array().cast("array<string>"), null_s),
        lambda acc, s: F.when(acc["carry"].isNull(), _acc(acc["out"], s))
        .when(
            (acc["carry"] == F.lit(left)) & (s == F.lit(right)),
            _acc(F.concat(acc["out"], F.array(merged_lit)), null_s),
        )
        .otherwise(_acc(F.concat(acc["out"], F.array(acc["carry"])), s)),
        lambda acc: F.when(acc["carry"].isNull(), acc["out"]).otherwise(
            F.concat(acc["out"], F.array(acc["carry"]))
        ),
    )


def _bpe_initial_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The single corpus pass both trainers share: word frequencies
    (corpus-sized shuffle down to vocab size), each word split to its
    character symbols. PERSISTED — ownership passes to the trainer.
    Extracted (r11 review) so a tokenization change can never be
    applied to one trainer and silently break the pinned bit-for-bit
    equivalence of the other."""
    d = read_table(spark, sf_dir, "documents")
    words = (
        d.filter(F.trim("text") != "")
        .select(F.explode(F.split(F.trim("text"), r"\s+")).alias("w"))
        .filter(F.col("w") != "")
    )
    wf = words.groupBy("w").agg(F.count("*").alias("freq"))
    return wf.select("w", F.split("w", "").alias("syms"), "freq").persist()


def _bpe_train(
    spark: SparkSession,
    sf_dir: str,
    n_merges: int = BPE_MERGES,
) -> tuple[list[tuple[int, str, str, int]], DataFrame, DataFrame | None]:
    """Core BPE training loop; returns (merge table, final vocab frame
    ``(w, syms, freq)``, parent frame). BOTH frames are PERSISTED and
    ownership transfers to the caller. The final vocab's cache is NOT
    yet materialized — only its parent's is (by the last top-pair
    collect) — so a caller that needs the vocab must materialize it (or
    a derivative, e.g. ``bpe_tokenize``'s eager checkpoint) BEFORE
    unpersisting the parent; releasing the parent first would force the
    whole word-freq aggregation + N merge folds to replay from the
    corpus, breaking the corpus-touched-once contract (ADVICE r10 #2).
    ``bpe_train_merges`` needs neither and releases both immediately.
    See ``bpe_train_merges`` for the scale contract."""
    vocab = _bpe_initial_vocab(spark, sf_dir)
    prev: DataFrame | None = None
    merges: list[tuple[int, str, str, int]] = []
    try:
        for rank in range(1, n_merges + 1):
            top = (
                vocab.filter(F.size("syms") >= 2)
                .select(
                    F.explode(
                        F.expr(
                            "transform(sequence(1, size(syms) - 1),"
                            " i -> struct(syms[i-1] AS l, syms[i] AS r))"
                        )
                    ).alias("p"),
                    "freq",
                )
                .groupBy("p.l", "p.r")
                .agg(F.sum("freq").cast("long").alias("cnt"))
                .orderBy(F.desc("cnt"), "l", "r")
                .limit(1)
                .collect()
            )
            # the collect above MATERIALIZED the current (persisted)
            # vocab, so its parent's cache is no longer needed — only
            # now is it safe to release (unpersisting before the child
            # materializes would force every iteration to recompute the
            # whole lineage back to the corpus: N corpus passes instead
            # of one, exactly the claim this operator makes)
            if prev is not None:
                _release_vocab_frame(prev)
                prev = None
            if not top:
                break
            left, right, cnt = top[0]["l"], top[0]["r"], int(top[0]["cnt"])
            merges.append((rank, left, right, cnt))
            new_syms = _merge_apply_expr(left, right)
            if rank % BPE_LINEAGE_TRUNC_EVERY == 0 and rank < n_merges:
                # lineage truncation point: the eager checkpoint
                # materializes this fold NOW off the parent's cache (one
                # vocab-sized job) and resets the logical plan, so the
                # next pair-count job analyzes a depth-1 plan instead of
                # a rank-deep fold/InMemoryRelation stack
                nxt = vocab.select(
                    "w", new_syms.alias("syms"), "freq"
                ).localCheckpoint(eager=True)
                _release_vocab_frame(vocab)
                vocab = nxt
            else:
                nxt = vocab.select("w", new_syms.alias("syms"), "freq").persist()
                prev, vocab = vocab, nxt
    except BaseException:
        if prev is not None:
            _release_vocab_frame(prev)
        _release_vocab_frame(vocab)
        raise
    return merges, vocab, prev


# Default pairs-per-round for the batched trainer. Driver crossings and
# pair-count jobs shrink ~batch_m-fold; the fold expression grows O(m)
# (one array_contains over m keys per element), so m stays modest.
BPE_BATCH_M = 16


def _batched_merge_fold(pairs: list) -> "F.Column":
    """One left-to-right ``aggregate()`` fold applying EVERY pair of a
    batch round in a single pass. Equivalent to applying the pairs
    sequentially in rank order because batch admissibility (see
    ``_bpe_train_batched``) fixes each pair's match sites: no batch
    pair's symbols appear in another's inputs or output, so
    applications neither create nor destroy each other's occurrences,
    and an emitted merged symbol never re-enters the carry (greedy
    non-overlap). Membership is an ``array_contains`` over the m
    space-joined keys — symbols come from whitespace splits and merged
    symbols are concatenations of them, so they never contain spaces."""
    keys = F.lit([f"{l} {r}" for l, r in pairs])
    null_s = F.lit(None).cast("string")

    def _acc(out, carry):
        return F.named_struct(F.lit("out"), out, F.lit("carry"), carry)

    return F.aggregate(
        "syms",
        _acc(F.array().cast("array<string>"), null_s),
        lambda acc, s: F.when(acc["carry"].isNull(), _acc(acc["out"], s))
        .when(
            F.array_contains(keys, F.concat_ws(" ", acc["carry"], s)),
            _acc(
                F.concat(acc["out"], F.array(F.concat(acc["carry"], s))), null_s
            ),
        )
        .otherwise(_acc(F.concat(acc["out"], F.array(acc["carry"])), s)),
        lambda acc: F.when(acc["carry"].isNull(), acc["out"]).otherwise(
            F.concat(acc["out"], F.array(acc["carry"]))
        ),
    )


def _bpe_train_batched(
    spark: SparkSession,
    sf_dir: str,
    n_merges: int = BPE_MERGES,
    batch_m: int = BPE_BATCH_M,
) -> tuple[list[tuple[int, str, str, int]], DataFrame, DataFrame | None]:
    """``_bpe_train`` with BATCHED merge selection (VERDICT r10 #5 — the
    standard trick for production merge counts): each round counts pairs
    ONCE, collects the top ``batch_m + 1`` rows, and applies the maximal
    provably-greedy-equivalent batch in one fold, cutting pair-count
    jobs and driver round-trips ~batch_m-fold. Returns bit-identical
    merges to the sequential loop (pinned by pytest equivalence +
    python-reference differentials).

    Why the batch equals pure sequential greedy — the admissible batch
    is a PREFIX p1..pk of the (count desc, l, r)-ordered pair list
    such that

    * no skipping: the walk stops at the FIRST pair sharing a symbol
      with any earlier batch pair's inputs {l,r} OR output l+r, so
      every conflicting pair ranks BELOW the whole batch;
    * self-composable terminal: a pair with left == right (ADVICE r11
      #1) closes the batch — it may only ever be the FINAL member.
      Applying (a,a) to a run ``aaa`` CREATES pair (aa,a) from an old
      (a,a) adjacency, so the creation is bounded by the batch pair's
      OWN count, not by any excluded pair's — it can outrank or
      tie-break-beat later batch members (counterexample: corpus
      ['cc','bbb'], batch_m=2 — sequential merges (b,b),(bb,b),(c,c);
      the unfixed batch emitted (b,b),(c,c),(bb,b)). As the final
      member its creations land after every batch pick and are
      recounted next round, where greedy sees them normally;
    * strict dominance: trailing batch pairs tying the first excluded
      pair's count are dropped (keeping at least p1), so every batch
      count strictly exceeds every non-batch count.

    Then, inductively: applying p1..p_{i-1} leaves count(p_i) exactly
    unchanged (disjoint inputs/outputs), existing non-batch pairs can
    only lose occurrences, and — since every NON-terminal batch pair
    has l ≠ r — any pair CREATED by p1..p_{i-1}, say (x, l·r), obeys
    count_new ≤ count_old(x, l) where (x, l) conflicts with the batch
    and therefore counts ≤ the excluded pair's count < count(p_i) —
    so greedy's next pick after p1..p_{i-1} is p_i, for every i. When
    the collected list is exhausted (fewer pairs than the batch), no
    boundary pairs exist, so no creations by non-terminal members can
    outrank the batch."""
    vocab = _bpe_initial_vocab(spark, sf_dir)
    prev: DataFrame | None = None
    merges: list[tuple[int, str, str, int]] = []
    rounds = 0
    try:
        while len(merges) < n_merges:
            m = min(batch_m, n_merges - len(merges))
            top = (
                vocab.filter(F.size("syms") >= 2)
                .select(
                    F.explode(
                        F.expr(
                            "transform(sequence(1, size(syms) - 1),"
                            " i -> struct(syms[i-1] AS l, syms[i] AS r))"
                        )
                    ).alias("p"),
                    "freq",
                )
                .groupBy("p.l", "p.r")
                .agg(F.sum("freq").cast("long").alias("cnt"))
                .orderBy(F.desc("cnt"), "l", "r")
                .limit(m + 1)
                .collect()  # model-sized: m+1 rows per ROUND
            )
            if prev is not None:
                _release_vocab_frame(prev)
                prev = None
            if not top:
                break
            rows = [(t["l"], t["r"], int(t["cnt"])) for t in top]
            touched: set[str] = set()
            batch: list[tuple[str, str, int]] = []
            for left, right, cnt in rows[:m]:
                if left in touched or right in touched:
                    break
                batch.append((left, right, cnt))
                touched.update((left, right, left + right))
                if left == right:
                    break  # self-composable: only safe as the FINAL member
            stop_cnt = rows[len(batch)][2] if len(batch) < len(rows) else None
            while len(batch) > 1 and stop_cnt is not None and batch[-1][2] == stop_cnt:
                batch.pop()  # strict-dominance truncation
            for left, right, cnt in batch:
                merges.append((len(merges) + 1, left, right, cnt))
            new_syms = _batched_merge_fold([(l, r) for l, r, _ in batch])
            rounds += 1
            if rounds % BPE_LINEAGE_TRUNC_EVERY == 0 and len(merges) < n_merges:
                nxt = vocab.select(
                    "w", new_syms.alias("syms"), "freq"
                ).localCheckpoint(eager=True)
                _release_vocab_frame(vocab)
                vocab = nxt
            else:
                nxt = vocab.select("w", new_syms.alias("syms"), "freq").persist()
                prev, vocab = vocab, nxt
    except BaseException:
        if prev is not None:
            _release_vocab_frame(prev)
        _release_vocab_frame(vocab)
        raise
    return merges, vocab, prev


def bpe_train_merges_batched(
    spark: SparkSession,
    sf_dir: str,
    n_merges: int = BPE_MERGES,
    batch_m: int = BPE_BATCH_M,
) -> DataFrame:
    """Merge table via the batched trainer — the SCALE path twin of
    ``bpe_train_merges`` (same rows bit-for-bit; not a separate catalog
    entry under the r11 capacity policy — COVERAGE.md taxonomy ties the
    two with the pytest equivalence and python-reference tests)."""
    merges, vocab, parent = _bpe_train_batched(spark, sf_dir, n_merges, batch_m)
    _release_vocab_frame(vocab)
    if parent is not None:
        _release_vocab_frame(parent)
    return spark.createDataFrame(
        merges,
        "merge_rank int, merge_left string, merge_right string, pair_count long",
    )


def bpe_train_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The FULL BPE training loop (Sennrich et al. 2016), extending
    ``bpe_pair_counts`` from one counting pass to the N-iteration merge
    table a tokenizer build consumes: each iteration counts adjacent
    symbol pairs weighted by word frequency, takes the top pair
    (count DESC, then (left, right) — a total order for cross-engine
    determinism), applies it greedily left-to-right to every word's
    symbol sequence, and recounts.

    Scale shape (VERDICT r9 #3): the corpus is touched EXACTLY ONCE —
    the word-frequency aggregation (corpus-sized shuffle down to vocab
    size). Every iteration after that rides the VOCAB: pair counting
    explodes vocab × word-length rows, and the merge apply is a pure
    JVM ``aggregate()`` fold over each word's symbol array (state =
    (emitted symbols, carry); carry==left ∧ next==right → emit merged,
    reset — exact greedy non-overlap semantics, no Python, no shuffle).
    Per-iteration driver crossing is ONE row (the top pair) — model
    state, like the Lloyd trainers. The vocab frame is re-persisted per
    iteration and the PARENT released only after the child has
    materialized (the top-pair collect), so lineage stays one cached
    select deep and the corpus is never re-read. Stops early if the
    vocab runs out of pairs.

    r20: delegates to the BATCHED trainer — bit-identical merges (the
    provably-greedy-equivalent batch rule, pinned by the pytest
    equivalence + python-reference differentials, and by the oracle
    which replays pure sequential greedy in DuckDB), ~batch_m-fold fewer
    pair-count jobs and driver round-trips. Interleaved A/B at sf0.1:
    2.96s -> 1.72s median (-42%). The one-pair-at-a-time loop survives
    as ``bpe_train_merges_sequential`` — the reference form the
    equivalence tests compare against."""
    return bpe_train_merges_batched(spark, sf_dir)


def bpe_train_merges_sequential(
    spark: SparkSession, sf_dir: str, n_merges: int = BPE_MERGES
) -> DataFrame:
    """The one-pair-per-iteration reference trainer (the pre-r20 catalog
    form): kept as the equivalence baseline the batched trainer is
    pytest-pinned against, and as the direct exerciser of ``_bpe_train``
    (lineage truncation, frame-ownership contracts)."""
    merges, vocab, parent = _bpe_train(spark, sf_dir, n_merges)
    _release_vocab_frame(vocab)  # merges collected; the vocab feeds only bpe_tokenize
    if parent is not None:
        _release_vocab_frame(parent)
    return spark.createDataFrame(
        merges,
        "merge_rank int, merge_left string, merge_right string, pair_count long",
    )


BPE_TOKENIZE_ORACLE = f"""
{{ctes}},
docw AS MATERIALIZED (
    SELECT doc_id, wpos, w FROM (
        SELECT doc_id,
               unnest(range(1, len(ws) + 1)) AS wpos,
               unnest(ws) AS w
        FROM (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS ws
              FROM documents WHERE trim(text) <> '')
    ) WHERE w <> ''
)
SELECT d.doc_id,
       CAST(count(*) AS BIGINT) AS n_tokens,
       list(s.sym ORDER BY d.wpos, s.pos) AS tokens
FROM docw d JOIN s{BPE_MERGES} s USING (w)
GROUP BY d.doc_id
""".format(ctes=_bpe_oracle_ctes(BPE_MERGES))

# Catalog form: the hash-compare harness sorts rows by every column, so
# the document-ordered token ARRAY is flattened to one space-joined
# string (the catalog's collected-list convention; symbols cannot
# contain whitespace — words were split on it). Same rows, same order
# information, value-hashable.
BPE_TOKENIZE_CATALOG_ORACLE = BPE_TOKENIZE_ORACLE.replace(
    f"list(s.sym ORDER BY d.wpos, s.pos) AS tokens\nFROM docw d JOIN s{BPE_MERGES} s",
    "array_to_string(list(s.sym ORDER BY d.wpos, s.pos), ' ') AS tokens_str\n"
    f"FROM docw d JOIN s{BPE_MERGES} s",
)
assert BPE_TOKENIZE_CATALOG_ORACLE != BPE_TOKENIZE_ORACLE


def bpe_tokenize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Apply the trained merge table to the corpus — the CONSUMER side
    of BPE, completing train → tokenize: every document's whitespace
    words are segmented by the final vocab state ``_bpe_train`` already
    holds (the word → symbol-sequence map IS the tokenizer), emitting
    (doc_id, n_tokens, tokens in document order).

    Scale shape: training rides the vocab (see ``bpe_train_merges``);
    tokenization is ONE corpus pass — explode word instances with
    position, equi-join the word → symbols map on the word string
    (vocab-sized right side, AQE picks broadcast vs shuffle), reassemble
    per doc with an ``array_sort(struct(wpos, syms))`` + ``flatten``
    (no window, the groupBy's exchange is the only shuffle). The map is
    ``localCheckpoint``ed off the training cache so repeated actions on
    the result never replay the merge folds.

    Staged r10, promoted to the catalog in r11 (the ``pq_adc_topk``
    precedent: operator + differential tests + bench first, catalog
    promotion when the driver window has a slot):
    BPE_TOKENIZE_ORACLE replays the segmentation in DuckDB
    over the same CTE chain as the merge-table oracle and is pinned by
    the pytest differential now. The oracle assumes the corpus yields
    at least BPE_MERGES merges (every fixture SF does — with fewer, the
    early-stop CTE guard keeps s{{i}} at the last trained state, same
    as the Spark loop).

    r20: trains via the BATCHED trainer (same merges bit-for-bit, and
    the final vocab state equals the sequential loop's because the
    batched fold applies the identical pairs in identical rank order —
    the pinned equivalence). Interleaved A/B at sf0.1: 3.35s -> 2.11s
    median (-37%) for the full train+segment chain."""
    _, vocab, parent = _bpe_train_batched(spark, sf_dir, BPE_MERGES)
    # the eager checkpoint materializes the word→symbols map off the
    # PARENT's still-live cache (one fold, zero corpus reads); only then
    # is it safe to release both training caches (ADVICE r10 #2)
    seg = vocab.select("w", "syms").localCheckpoint(eager=True)
    _release_vocab_frame(vocab)
    if parent is not None:
        _release_vocab_frame(parent)
    # the word → symbols map is built from the corpus' own word
    # vocabulary, so the inner join drops nothing
    d = read_table(spark, sf_dir, "documents")
    docw = (
        d.filter(F.trim("text") != "")
        .select(
            "doc_id",
            F.posexplode(F.split(F.trim("text"), r"\s+")).alias("wpos", "w"),
        )
        .filter(F.col("w") != "")
    )
    return (
        docw.join(seg, "w")
        .groupBy("doc_id")
        .agg(
            F.flatten(
                F.array_sort(F.collect_list(F.struct("wpos", "syms"))).getField(
                    "syms"
                )
            ).alias("tokens")
        )
        .select(
            "doc_id",
            F.size("tokens").cast("long").alias("n_tokens"),
            "tokens",
        )
    )


def bpe_tokenize_catalog(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``bpe_tokenize`` in the catalog's hash-comparable shape: the
    document-ordered token array joined to one string (see
    BPE_TOKENIZE_CATALOG_ORACLE). The array form stays the public API;
    the property/differential tests pin it directly."""
    return bpe_tokenize(spark, sf_dir).select(
        "doc_id",
        "n_tokens",
        F.concat_ws(" ", "tokens").alias("tokens_str"),
    )


CATALOG: dict[str, tuple] = {
    "corpus_incremental_ingest": (incremental_ingest, INCREMENTAL_INGEST_ORACLE),
    "corpus_bpe_pair_counts": (bpe_pair_counts, BPE_PAIR_ORACLE),
    "corpus_bpe_train_merges": (bpe_train_merges, BPE_TRAIN_ORACLE),
    "corpus_incremental_ingest_neardup": (
        incremental_ingest_neardup,
        NEARDUP_INGEST_ORACLE,
    ),
    "corpus_bpe_tokenize": (bpe_tokenize_catalog, BPE_TOKENIZE_CATALOG_ORACLE),
    "corpus_length_trim": (length_trim, LENGTH_TRIM_ORACLE),
    "corpus_mix_weights": (mix_weights, MIX_WEIGHTS_ORACLE),
    "corpus_chunk_documents": (chunk_documents, CHUNK_ORACLE),
    "corpus_stratified_sample": (stratified_sample, STRATIFIED_SAMPLE_ORACLE),
    "corpus_sample_hash_mod": (sample_hash_mod, SAMPLE_HASH_MOD_ORACLE),
    "corpus_pii_flags": (pii_flags, PII_FLAGS_ORACLE),
    "corpus_tfidf_top_terms": (tfidf_top_terms, TFIDF_ORACLE),
    "corpus_bigram_top": (bigram_top, BIGRAM_ORACLE),
    "corpus_length_buckets": (length_buckets, LENGTH_BUCKETS_ORACLE),
    "corpus_train_val_test_split": (train_val_test_split, SPLIT_ORACLE),
    "corpus_pack_sequences": (pack_sequences, PACK_ORACLE),
    "corpus_pack_sequences_ranged": (pack_sequences_ranged, PACK_RANGED_ORACLE),
    "corpus_decontaminate": (decontaminate, DECONTAMINATE_ORACLE),
    "corpus_ngram_novelty": (ngram_novelty, NOVELTY_ORACLE),
    "corpus_feature_hashing": (feature_hashing, FEATURE_HASHING_ORACLE),
    "corpus_repetition_stats": (repetition_stats, REPETITION_ORACLE),
    "corpus_normalize_dedup": (normalize_dedup, NORMALIZE_DEDUP_ORACLE),
    "corpus_source_lang_rollup": (source_lang_rollup, SOURCE_ROLLUP_ORACLE),
}
