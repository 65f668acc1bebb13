"""Text-analysis operators over the ``documents`` table — the
training-data-pipeline extensions (BASELINE.json north star): language-ID,
quality scoring, token counting, document fingerprinting.

Everything is built-in expression API (whole-stage codegen, zero Python
UDFs) and embarrassingly parallel — no shuffles at all: each operator is a
pure per-row projection over the scan, so it scales linearly to 100 TB and
pushes column pruning down to parquet (only ``doc_id``/``text`` read).

Each operator carries its exact DuckDB oracle SQL next to it (wired into
the catalog) — determinism notes inline.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from monthly_report_etl_spark.functions.text import (
    FINGERPRINT_MOD,
    LANGUAGE_STOPWORDS,
    TOKEN_REGEX,
    fingerprint,
    language_scores,
    regex_token_count,
    stopword_regex,
    whitespace_tokens,
)
from monthly_report_etl_spark.sources.parquet import read_table


# ---------------------------------------------------------------------------
# token counting
# ---------------------------------------------------------------------------

TOKEN_STATS_ORACLE = rf"""
SELECT doc_id,
       CAST(CASE WHEN trim(text) = '' THEN 0
                 ELSE len(string_split_regex(trim(text), '\s+')) END AS BIGINT)
           AS n_ws_tokens,
       CAST(len(regexp_extract_all(text, '{TOKEN_REGEX}')) AS BIGINT) AS n_bpe_tokens,
       CAST(length(text) AS BIGINT) AS n_chars_exact
FROM documents
"""


def token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whitespace + BPE-ish-regex token counts per document.

    r14 fix (caught by the eighth boundary fixture — a SPARK-side bug,
    the first the fixture hunt found): ``F.size`` returns -1 for a NULL
    array under the non-ANSI legacy sizeOfNull semantics this session
    runs with, so a NULL document reported ``n_ws_tokens = -1`` beside
    its own NULL ``n_bpe_tokens``/``n_chars_exact`` (and the oracle's
    NULL). ``F.array_size`` propagates NULL. Invisible on the sf tables
    (no NULL texts)."""
    d = read_table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.array_size(whitespace_tokens(F.col("text"))).cast("long").alias("n_ws_tokens"),
        regex_token_count(F.col("text")).alias("n_bpe_tokens"),
        F.length("text").cast("long").alias("n_chars_exact"),
    )


# ---------------------------------------------------------------------------
# language identification (stopword-hit heuristic, deterministic argmax)
# ---------------------------------------------------------------------------


def _lang_oracle() -> str:
    score_cols = ",\n           ".join(
        f"CAST(len(regexp_extract_all(lower(text), '{stopword_regex(lang)}')) AS BIGINT)"
        f" AS score_{lang}"
        for lang in LANGUAGE_STOPWORDS
    )
    langs = list(LANGUAGE_STOPWORDS)
    # argmax with fixed priority order on ties (same order as the Spark CASE)
    branches = []
    for i, lang in enumerate(langs[:-1]):
        others = [f"score_{lang} >= score_{o}" for o in langs[i + 1 :]]
        branches.append(f"WHEN {' AND '.join(others)} THEN '{lang}'")
    case = "CASE " + " ".join(branches) + f" ELSE '{langs[-1]}' END"
    return f"""
    WITH scored AS (
        SELECT doc_id,
           {score_cols}
        FROM documents
    )
    SELECT doc_id, score_en, score_de, score_fr, score_es,
           {case} AS predicted_lang
    FROM scored
    """


LANGUAGE_ID_ORACLE = _lang_oracle()


def language_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """n-gram/stopword language-ID: per-language stopword hit counts,
    argmax with a fixed priority order on ties."""
    d = read_table(spark, sf_dir, "documents")
    scores = language_scores(F.col("text"))
    out = d.select("doc_id", *[c.alias(f"score_{lang}") for lang, c in scores.items()])
    langs = list(LANGUAGE_STOPWORDS)
    pred = None
    for i, lang in enumerate(langs[:-1]):
        cond = None
        for other in langs[i + 1 :]:
            c = F.col(f"score_{lang}") >= F.col(f"score_{other}")
            cond = c if cond is None else (cond & c)
        pred = F.when(cond, lang) if pred is None else pred.when(cond, lang)
    pred = pred.otherwise(langs[-1])
    return out.withColumn("predicted_lang", pred)


# ---------------------------------------------------------------------------
# quality scoring
# ---------------------------------------------------------------------------

QUALITY_SCORE_ORACLE = rf"""
WITH parts AS (
    SELECT doc_id,
           CAST(length(text) AS BIGINT) AS n_chars_exact,
           -- maximal-\S-run count, the SAME form as the Spark side's
           -- regexp_count (r15, found by tools/fuzz_differential.py):
           -- the old split-based derivation counted the phantom leading
           -- empty token of a tab-led doc (5 vs 4 on '\tTab led words
           -- here'), diverging from regexp_count exactly where the two
           -- token-count forms differ (see COVERAGE.md: the split form
           -- feeds entries that need the token ARRAY; the \S+ count
           -- form is used where only the count is needed).
           -- r16 (ADVICE): spelled out as [ \t\n\x0B\f\r] — DuckDB's
           -- RE2 \s EXCLUDES vertical tab while Spark's Java \s
           -- includes it ('a\x0Bb': 1 token/1 punct in RE2 vs
           -- 2 tokens/0 punct in Java, both measured), so the oracle
           -- pins Java's exact class in BOTH the token and punct runs
           CAST(len(regexp_extract_all(text, '[^ \t\n\x0B\f\r]+')) AS BIGINT) AS n_tokens,
           CAST(len(regexp_extract_all(text, '[^A-Za-z0-9 \t\n\x0B\f\r]')) AS BIGINT) AS n_punct,
           CAST(len(regexp_extract_all(lower(text), '{stopword_regex("en")}')) AS BIGINT) AS n_stop
    FROM documents
)
SELECT doc_id, n_chars_exact, n_tokens,
       ROUND(n_punct * 1.0 / greatest(n_chars_exact, 1), 6) AS punct_ratio,
       ROUND(n_stop * 1.0 / greatest(n_tokens, 1), 6) AS stopword_ratio,
       CASE WHEN n_chars_exact IS NULL THEN NULL
            ELSE ROUND(0.4 * least(n_stop * 1.0 / greatest(n_tokens, 1), 1.0)
                + 0.3 * (1.0 - least(n_punct * 1.0 / greatest(n_chars_exact, 1), 1.0))
                + 0.3 * least(n_tokens / 100.0, 1.0), 6) END AS quality_score
FROM parts
"""


def quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length / punctuation-ratio / stopword-ratio composite quality score —
    the standard cheap pre-filter for LLM training corpora.

    r14 fix (caught by the eighth boundary fixture): ``least``/``greatest``
    SKIP NULLs in BOTH engines, so a NULL document scored a consistent
    but absurd 0.7 (every unknown ratio silently became its extreme)
    beside its own NULL ratios. Both sides now NULL-propagate the
    composite: no text, no score. Invisible on the sf tables (no NULL
    texts)."""
    d = read_table(spark, sf_dir, "documents")
    n_chars = F.length("text").cast("long")
    # Three single-pass regexp_counts over the raw column — no array
    # materialization (split+size) and no lower() string copy:
    # count of maximal \S runs == whitespace token count, and (?i) folds
    # the case-insensitivity into the (ASCII) stopword pattern itself.
    n_tokens = F.regexp_count("text", F.lit(r"\S+")).cast("long")
    n_punct = F.regexp_count("text", F.lit(r"[^A-Za-z0-9\s]")).cast("long")
    n_stop = F.regexp_count("text", F.lit("(?i)" + stopword_regex("en"))).cast("long")
    punct_ratio = n_punct / F.greatest(n_chars, F.lit(1))
    stop_ratio = n_stop / F.greatest(n_tokens, F.lit(1))
    # NULL-propagate by ADDING a when-guarded zero rather than wrapping
    # the composite in the when branch: a branch-wrapped score defeats
    # subexpression elimination, re-evaluating all three regexp_counts a
    # second time (measured 1.5x warm wall at sf0.1 — caught by the r14
    # final bench check and reproduced isolated). NULL text → +NULL →
    # NULL; otherwise +0.0 is exact.
    score = (
        0.4 * F.least(stop_ratio, F.lit(1.0))
        + 0.3 * (1.0 - F.least(punct_ratio, F.lit(1.0)))
        + 0.3 * F.least(n_tokens / F.lit(100.0), F.lit(1.0))
        + F.when(F.col("text").isNotNull(), F.lit(0.0))
    )
    return d.select(
        "doc_id",
        n_chars.alias("n_chars_exact"),
        n_tokens.alias("n_tokens"),
        F.round(punct_ratio, 6).alias("punct_ratio"),
        F.round(stop_ratio, 6).alias("stopword_ratio"),
        F.round(score, 6).alias("quality_score"),
    )


# ---------------------------------------------------------------------------
# document fingerprinting
# ---------------------------------------------------------------------------

# NULL guard (r14, caught by the eighth boundary fixture): DuckDB's
# list_prepend(0, NULL) yields [0], so the unguarded reduce returned 0
# for a NULL text where Spark's aggregate-over-split propagates NULL —
# invisible on the sf tables (no NULL texts), divergent at the boundary.
FINGERPRINT_ORACLE = f"""
SELECT doc_id,
       CASE WHEN text IS NULL THEN NULL
            ELSE list_reduce(
                list_prepend(CAST(0 AS BIGINT),
                             list_transform(string_split(text, ''),
                                            c -> CAST(ascii(c) AS BIGINT))),
                (a, c) -> (a * 31 + c) % {FINGERPRINT_MOD}
            ) END AS doc_fingerprint
FROM documents
"""


def doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Polynomial rolling-hash fingerprint per document (portable
    arithmetic, not an engine hash — so the oracle can recompute it)."""
    d = read_table(spark, sf_dir, "documents")
    return d.select("doc_id", fingerprint(F.col("text")).alias("doc_fingerprint"))


# ---------------------------------------------------------------------------
# label-noise detection: predicted vs labeled language
# ---------------------------------------------------------------------------

LANG_MISMATCH_ORACLE = f"""
WITH pred AS ({LANGUAGE_ID_ORACLE})
SELECT p.doc_id, d.lang AS labeled_lang, p.predicted_lang,
       d.lang <> p.predicted_lang AS mismatch
FROM pred p JOIN documents d ON d.doc_id = p.doc_id
"""


def lang_mismatch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Label-noise detection: flag documents whose predicted language
    (stopword argmax) disagrees with the stored ``lang`` label — the
    standard audit before trusting provenance metadata in a training
    mix. Pure projection on top of language_id; no extra shuffle."""
    d = read_table(spark, sf_dir, "documents")
    pred = language_id(spark, sf_dir).select("doc_id", "predicted_lang")
    return (
        d.select("doc_id", F.col("lang").alias("labeled_lang"))
        .join(pred, "doc_id")
        .select(
            "doc_id",
            "labeled_lang",
            "predicted_lang",
            (F.col("labeled_lang") != F.col("predicted_lang")).alias("mismatch"),
        )
    )


# ---------------------------------------------------------------------------
# unigram log-probability scoring (CCNet-style LM filter, corpus as its own LM)
# ---------------------------------------------------------------------------

UNIGRAM_LOGPROB_ORACLE = r"""
WITH tok AS (
    SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS term
    FROM documents WHERE trim(text) <> ''
),
freq AS (
    SELECT term,
           count(*) * 1.0 / (SELECT count(*) FROM tok) AS p
    FROM tok GROUP BY term
)
SELECT t.doc_id,
       CAST(count(*) AS BIGINT) AS n_tokens,
       ROUND(AVG(ln(f.p)), 6) AS mean_logprob
FROM tok t JOIN freq f ON t.term = f.term
GROUP BY t.doc_id
"""


def unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style LM quality scoring with the corpus as its own unigram
    LM: per-document mean ln p(token) under corpus token frequencies —
    gibberish and boilerplate both score low, which is the filter
    signal.

    Scale shape: one token-frequency aggregation (map-side partials on
    the term key), re-joined to the token rows on the same key — the
    frequency table is vocabulary-sized, so at 100 TB it broadcasts;
    the per-doc rollup is the only other exchange. Both engines compute
    AVG(ln(p)) on identical doubles; ROUND(,6) absorbs the last-ulp
    libm/summation-order difference."""
    d = read_table(spark, sf_dir, "documents")
    tok = d.filter(F.trim("text") != "").select(
        "doc_id", F.explode(F.split(F.trim("text"), r"\s+")).alias("term")
    )
    counts = tok.groupBy("term").agg(F.count("*").alias("c"))
    # total = sum over the vocabulary-sized count table — one lazy plan,
    # no separate driver-side count action scanning the corpus twice
    total = counts.agg(F.sum("c").alias("t"))
    freq = counts.crossJoin(F.broadcast(total)).select(
        "term", (F.col("c") / F.col("t")).alias("p")
    )
    return (
        tok.join(F.broadcast(freq), "term")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_tokens"),
            F.round(F.avg(F.log("p")), 6).alias("mean_logprob"),
        )
    )


# ---------------------------------------------------------------------------
# C4-style heuristic rule filter
# ---------------------------------------------------------------------------

C4_MIN_TOKENS = 5
C4_MAX_TOKENS = 100_000
C4_MIN_MEAN_TOK_LEN = 2.0
C4_MAX_MEAN_TOK_LEN = 12.0

C4_FILTER_ORACLE = rf"""
WITH t AS (
    SELECT doc_id,
           CAST(CASE WHEN trim(text) = '' THEN 0
                     ELSE len(string_split_regex(trim(text), '\s+')) END AS BIGINT)
               AS n_tokens,
           CAST(length(regexp_replace(text, '\s', '', 'g')) AS BIGINT) AS n_nonws,
           contains(lower(text), 'lorem ipsum') AS has_lorem,
           contains(text, '{{') AS has_brace
    FROM documents
)
SELECT doc_id, n_tokens,
       ROUND(n_nonws * 1.0 / greatest(n_tokens, 1), 6) AS mean_tok_len,
       has_lorem, has_brace,
       (n_tokens BETWEEN {C4_MIN_TOKENS} AND {C4_MAX_TOKENS})
           AND (n_nonws * 1.0 / greatest(n_tokens, 1)
                BETWEEN {C4_MIN_MEAN_TOK_LEN} AND {C4_MAX_MEAN_TOK_LEN})
           AND NOT has_lorem AND NOT has_brace AS keep
FROM t
"""


def c4_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style heuristic rule filter (Raffel et al. 2020 §2.2's cheap
    page rules, doc-level): token-count bounds, mean-token-length bounds
    (gibberish / base64 blobs push it out of [2, 12]), boilerplate
    marker ('lorem ipsum'), and code marker ('{'). Emits each rule as a
    flag plus the conjunctive ``keep`` so downstream can tighten or
    audit single rules without recomputing.

    Pure per-row projection — three regexp passes and two contains, all
    codegen, zero shuffles; like every text op here it scales linearly
    and prunes the scan to (doc_id, text)."""
    d = read_table(spark, sf_dir, "documents")
    # Shared whitespace tokenizer (trim + split, empty → 0) so the token
    # count agrees exactly with TOKEN_STATS and with the oracle's
    # string_split_regex(trim(text)) — regexp_count('\S+') disagrees on
    # whitespace-only docs and leading/trailing non-space whitespace.
    # array_size, not size (r15, the pre-stated twin of r14's
    # token_stats fix): F.size is -1 on a NULL text, so a NULL document
    # reported n_tokens = -1 in the emitted flags (keep stayed correct —
    # false either way — but the exposed column value was wrong at the
    # boundary). F.array_size propagates NULL, matching the oracle's
    # CASE-over-NULL behavior. Invisible on the sf tables (no NULL text).
    n_tokens = F.array_size(whitespace_tokens(F.col("text"))).cast("long")
    n_nonws = F.length(F.regexp_replace("text", r"\s", "")).cast("long")
    has_lorem = F.contains(F.lower("text"), F.lit("lorem ipsum"))
    has_brace = F.contains("text", F.lit("{"))
    mean_len = n_nonws / F.greatest(n_tokens, F.lit(1))
    keep = (
        n_tokens.between(C4_MIN_TOKENS, C4_MAX_TOKENS)
        & mean_len.between(C4_MIN_MEAN_TOK_LEN, C4_MAX_MEAN_TOK_LEN)
        & ~has_lorem
        & ~has_brace
    )
    return d.select(
        "doc_id",
        n_tokens.alias("n_tokens"),
        F.round(mean_len, 6).alias("mean_tok_len"),
        has_lorem.alias("has_lorem"),
        has_brace.alias("has_brace"),
        keep.alias("keep"),
    )


CATALOG: dict[str, tuple] = {
    "text_token_stats": (token_stats, TOKEN_STATS_ORACLE),
    "text_c4_filter": (c4_filter, C4_FILTER_ORACLE),
    "text_language_id": (language_id, LANGUAGE_ID_ORACLE),
    "text_quality_score": (quality_score, QUALITY_SCORE_ORACLE),
    "text_fingerprint": (doc_fingerprint, FINGERPRINT_ORACLE),
    "text_lang_mismatch": (lang_mismatch, LANG_MISMATCH_ORACLE),
    "text_unigram_logprob": (unigram_logprob, UNIGRAM_LOGPROB_ORACLE),
}
