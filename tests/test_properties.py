"""Property-based tests (hypothesis) for the tricky pipeline semantics
(SURVEY §5 #4): dedup idempotence, explode scenario preservation,
classifier totality, clean idempotence."""

from __future__ import annotations

import json

import pytest
from hypothesis import given, settings, strategies as st
from pyspark.sql import functions as F

from monthly_report_etl_spark.operators import exports
from monthly_report_etl_spark.operators.enrich import clean_for_export
from monthly_report_etl_spark.schemas import EXPORTS_DEALS_SCHEMA

_SETTINGS = dict(max_examples=5, deadline=None)

_lender = st.sampled_from(["a", "b", "c", None])
_tristate = st.sampled_from(["true", "false", None])


@st.composite
def _event_rows(draw):
    n = draw(st.integers(1, 12))
    rows = []
    used_times = set()
    for i in range(n):
        t = draw(st.integers(0, 10_000_000).filter(lambda x: x not in used_times))
        used_times.add(t)
        elements = []
        for ln in draw(st.lists(st.sampled_from(["a", "b", "c"]), unique=True)):
            el = {"lenderName": ln, "doesService": draw(_tristate)}
            if draw(st.booleans()):
                el["maxBorrowingCapacity"] = draw(
                    st.one_of(st.none(), st.just("null"), st.floats(1e5, 1e6, allow_nan=False))
                )
            if draw(st.booleans()):
                el["performance"] = {
                    "lenderFailedServicing": draw(_tristate),
                    "lenderFailedInScope": draw(_tristate),
                    "lenderFailedOutOfScope": draw(_tristate),
                    "lenderPassedServicing": draw(_tristate),
                    "lenderExportWinner": draw(_tristate),
                }
            elements.append(el)
        rows.append(
            {
                "time": f"2025-03-01T00:00:{t % 60:02d}.{t % 1000000:06d}",
                "scenarioId": f"s{draw(st.integers(0, 4))}",
                "isValidExport": True,
                "exportedLender": draw(_lender),
                "results": json.dumps(elements),
            }
        )
    return rows


def _to_df(spark, rows):
    import pandas as pd

    pdf = pd.DataFrame(rows)
    pdf["time"] = pd.to_datetime(pdf["time"]).astype("datetime64[us]")
    for f in EXPORTS_DEALS_SCHEMA.fieldNames():
        if f not in pdf.columns:
            pdf[f] = None
    return spark.createDataFrame(pdf[EXPORTS_DEALS_SCHEMA.fieldNames()], EXPORTS_DEALS_SCHEMA)


@settings(**_SETTINGS)
@given(rows=_event_rows())
def test_dedup_idempotent_and_unique(spark, rows):
    df = _to_df(spark, rows)
    b = exports.base(df, "2025-01-01T00:00:00Z", "2026-01-01T00:00:00Z")
    d1 = exports.dedup_latest(b)
    # one row per scenario, scenario set preserved
    assert d1.count() == d1.select("scenarioId").distinct().count()
    assert (
        d1.select("scenarioId").distinct().count()
        == b.select("scenarioId").distinct().count()
    )


@settings(**_SETTINGS)
@given(rows=_event_rows())
def test_explode_preserves_every_scenario_per_lender(spark, rows):
    """The COALESCE/NULLIF/placeholder dance is load-bearing: every
    (passing scenario x lender) pair must appear at least once."""
    df = _to_df(spark, rows)
    b = exports.base(df, "2025-01-01T00:00:00Z", "2026-01-01T00:00:00Z")
    passing = exports.filter_passing(exports.flag_failing(exports.dedup_latest(b)))
    lenders = exports.get_lenders(df)
    n_lenders = lenders.count()
    n_pass = passing.count()
    out = exports.explode_lender_results(exports.global_stats(passing), lenders)
    if n_lenders and n_pass:
        # matched elements satisfy lenderName == target and the placeholder
        # carries the target, so the distinct pair set is EXACTLY the
        # cross product — nothing lost, nothing invented
        pairs = out.select("scenarioId", F.col("lender_result")["lenderName"]).distinct().count()
        assert pairs == n_pass * n_lenders
        assert out.count() >= n_pass * n_lenders  # dup elements may add rows
    else:
        assert out.count() == 0


@settings(**_SETTINGS)
@given(rows=_event_rows())
def test_classifier_is_total(spark, rows):
    """performance is never NULL and always one of the 7 labels."""
    df = _to_df(spark, rows)
    result = exports.exports_pipeline(
        df, "2025-01-01T00:00:00Z", "2026-01-01T00:00:00Z", sort="none"
    )
    labels = {r["performance"] for r in result.select("performance").distinct().collect()}
    assert labels <= set(exports.PERFORMANCE_LABELS)
    assert result.filter(F.col("performance").isNull()).count() == 0


def test_clean_idempotent(spark, fixture_dir):
    """clean(clean(x)) == clean(x) — the regex strip and coercions are
    stable under re-application (F16 idempotence, SURVEY §5)."""
    import os

    from monthly_report_etl_spark.config import PipelineConfig
    from monthly_report_etl_spark.plans import monthly_report
    from monthly_report_etl_spark.schemas import COMPETITOR_LIST_SCHEMA
    from monthly_report_etl_spark.sources import read_lookup_csv
    from tests.utils import assert_frames_match

    raw = spark.read.parquet(os.path.join(fixture_dir, "exports_deals.parquet"))
    comp = read_lookup_csv(
        spark, os.path.join(fixture_dir, "competitor_list.csv"), COMPETITOR_LIST_SCHEMA
    )
    once = monthly_report(raw, comp, PipelineConfig())
    twice = clean_for_export(once)
    assert_frames_match(twice.toPandas(), once.toPandas())


# ---------------------------------------------------------------------------
# r8: the SemDeDup dual-kernel equivalence
# ---------------------------------------------------------------------------


@settings(**_SETTINGS)
@given(
    vecs=st.lists(
        st.one_of(
            st.just("zero"),
            st.lists(
                st.floats(
                    min_value=-1.0, max_value=1.0, allow_nan=False, width=64
                ),
                min_size=4,
                max_size=4,
            ),
        ),
        min_size=1,
        max_size=24,
    ),
    n_buckets=st.integers(min_value=1, max_value=3),
)
def test_semdedup_kernels_agree_on_random_vectors(spark, vecs, n_buckets):
    """The fold drop rule and the dense gram kernel must produce the
    SAME verdicts on arbitrary small corpora — including zero vectors
    (whose pair cosines are NULL on both kernels by the shared guard)
    and arbitrary bucket assignments — so the corpus-size kernel switch
    in semdedup_kmeans_keep can never change a keep decision."""
    from pyspark.sql import functions as F

    from monthly_report_etl_spark.functions.vectors import l2_norm
    from monthly_report_etl_spark.operators.similarity import (
        _semdedup_drop_rule,
        _semdedup_drop_rule_gram,
    )

    rows = [
        (i, [0.0] * 4 if v == "zero" else list(v), i % n_buckets)
        for i, v in enumerate(vecs)
    ]
    df = spark.createDataFrame(
        rows, "vec_id long, e array<double>, bucket long"
    ).select("vec_id", "e", "bucket", l2_norm(F.col("e")).alias("nrm"))
    b0 = df.localCheckpoint(eager=True)
    fold = {
        r["vec_id"]: (r["nn_lower_cos"], r["keep"])
        for r in _semdedup_drop_rule(b0).collect()
    }
    gram = {
        r["vec_id"]: (r["nn_lower_cos"], r["keep"])
        for r in _semdedup_drop_rule_gram(b0).collect()
    }
    assert set(fold) == set(gram)
    for vid in fold:
        fc, fk = fold[vid]
        gc, gk = gram[vid]
        assert fk == gk, f"vec {vid}: keep fold={fk} gram={gk}"
        if fc is None or gc is None:
            assert fc == gc, f"vec {vid}: nn fold={fc} gram={gc}"
        else:
            assert abs(fc - gc) <= 1e-6, f"vec {vid}: nn fold={fc} gram={gc}"


@settings(**_SETTINGS)
@given(
    words=st.lists(
        st.text(alphabet="abcxy ", min_size=0, max_size=12),
        min_size=0,
        max_size=30,
    )
)
def test_bpe_pair_counts_match_python_reference(spark, words):
    """The distributed BPE pair counter (word-freq first, pairs over the
    vocab) must agree with the direct per-document Python count on
    arbitrary corpora — including empty docs, 1-char words, repeated
    words, and embedded whitespace runs. Compares the FULL pair->count
    map (no LIMIT), so the vocab-first rewrite is proven count-exact,
    not just top-k-stable."""
    import re as _re
    from collections import Counter

    from monthly_report_etl_spark.operators.corpus import (
        BPE_TOP_PAIRS,
        bpe_pair_counts,
    )

    ref: Counter = Counter()
    for doc in words:
        for w in _re.split(r"\s+", doc.strip()):
            if w:
                for i in range(len(w) - 1):
                    ref[w[i : i + 2]] += 1

    import os
    import tempfile

    import pandas as pd

    out = tempfile.mkdtemp()
    pd.DataFrame(
        {
            "doc_id": range(len(words)),
            "text": words,
            "lang": "en",
            "source": "s",
            "n_chars": [len(w) for w in words],
        }
    ).to_parquet(os.path.join(out, "documents.parquet"), index=False)

    got = {
        r["pair"]: r["pair_count"]
        for r in bpe_pair_counts(spark, out).collect()
    }
    want = dict(Counter(ref).most_common())
    # the operator LIMITs to BPE_TOP_PAIRS with a (count desc, pair)
    # tiebreak; reproduce the same cut on the reference
    cut = sorted(want.items(), key=lambda kv: (-kv[1], kv[0]))[:BPE_TOP_PAIRS]
    assert got == dict(cut)


@settings(**_SETTINGS)
@given(
    vecs=st.lists(
        st.lists(
            st.floats(
                min_value=-10, max_value=10, allow_nan=False, width=32
            ),
            min_size=64,
            max_size=64,
        ),
        min_size=2,
        max_size=24,
    )
)
def test_pca_partials_match_direct_covariance(spark, vecs):
    """The distributed sufficient-statistics path (mapInPandas partials
    summed driver-side) must reproduce numpy's direct covariance on
    arbitrary corpora to float tolerance — pinning the aggregation
    WIRING (partition splits, zero-row batches, the gram/outer-mu
    algebra), which is the part the fixture oracle can't isolate."""
    import os
    import tempfile

    import numpy as np
    import pandas as pd

    from monthly_report_etl_spark.operators.similarity import train_pca_model

    out = tempfile.mkdtemp()
    pd.DataFrame(
        {"vec_id": range(len(vecs)), "embedding": [list(v) for v in vecs]}
    ).to_parquet(os.path.join(out, "embeddings.parquet"), index=False)

    X = np.array(vecs, dtype=np.float64)
    mu_ref = X.mean(0)
    cov_ref = (X - mu_ref).T @ (X - mu_ref) / len(X)
    w_ref = np.sort(np.linalg.eigh(cov_ref)[0])[::-1]

    mu, V, w = train_pca_model(spark, out, r=4)
    assert np.allclose(mu, mu_ref, atol=1e-9)
    assert np.allclose(np.sort(w)[::-1], w_ref, atol=1e-7)
    # the subspace (not the sign-arbitrary vectors) must match: every
    # returned component lies in the reference eigenspace — projection
    # through the reference top-4 basis preserves each unit component
    Vr = np.linalg.eigh(cov_ref)[1][:, np.argsort(np.linalg.eigh(cov_ref)[0])[::-1]][:, :4]
    # guard: only check when the 4th/5th eigenvalues are separated
    # (degenerate spectra make the subspace non-unique)
    if w_ref[3] - w_ref[4] > 1e-6:
        proj = Vr @ (Vr.T @ V)
        assert np.allclose(proj, V, atol=1e-5)


@settings(**_SETTINGS)
@given(
    words=st.lists(
        st.text(alphabet="abcxy ", min_size=0, max_size=12),
        min_size=0,
        max_size=30,
    )
)
def test_bpe_train_merges_match_python_reference(spark, words):
    """The full N-iteration merge loop (vocab-resident aggregate() fold)
    must agree with a direct Python BPE trainer on arbitrary corpora:
    same merge table — rank, pair, count — under the same greedy
    left-to-right non-overlap apply rule and (count desc, left, right)
    tiebreak. Overlap runs ("aaa" with pair (a,a)), early vocab
    exhaustion, and merged-symbol pairs in later iterations are all in
    scope of the generator."""
    import os
    import re as _re
    import tempfile
    from collections import Counter

    import pandas as pd

    from monthly_report_etl_spark.operators.corpus import (
        BPE_MERGES,
        bpe_train_merges,
    )

    wf: Counter = Counter()
    for doc in words:
        for w in _re.split(r"\s+", doc.strip()):
            if w:
                wf[w] += 1
    vocab = {w: list(w) for w in wf}
    ref: list[tuple[int, str, str, int]] = []
    for rank in range(1, BPE_MERGES + 1):
        pc: Counter = Counter()
        for w, syms in vocab.items():
            for i in range(len(syms) - 1):
                pc[(syms[i], syms[i + 1])] += wf[w]
        if not pc:
            break
        (l, r), cnt = min(pc.items(), key=lambda kv: (-kv[1], kv[0]))
        ref.append((rank, l, r, cnt))
        for w, syms in vocab.items():
            out, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == l and syms[i + 1] == r:
                    out.append(l + r)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            vocab[w] = out

    outdir = tempfile.mkdtemp()
    pd.DataFrame(
        {
            "doc_id": range(len(words)),
            "text": words,
            "lang": "en",
            "source": "s",
            "n_chars": [len(w) for w in words],
        }
    ).to_parquet(os.path.join(outdir, "documents.parquet"), index=False)

    got = [
        (r["merge_rank"], r["merge_left"], r["merge_right"], r["pair_count"])
        for r in bpe_train_merges(spark, outdir).collect()
    ]
    assert got == ref


@settings(**_SETTINGS)
@given(
    words=st.lists(
        st.text(alphabet="abcxy ", min_size=0, max_size=12),
        min_size=0,
        max_size=30,
    )
)
def test_bpe_tokenize_matches_python_reference(spark, words):
    """bpe_tokenize (staged r10, catalog promotion queued for r11) must
    reproduce a direct Python BPE tokenizer exactly: train BPE_MERGES
    merges, apply them greedily left-to-right per word in rank order,
    and emit every document's token sequence in document order —
    including early vocab exhaustion (fewer pairs than merges leaves
    the last trained state in force) and documents that vanish because
    they hold no non-empty words."""
    import os
    import re as _re
    import tempfile
    from collections import Counter

    import pandas as pd

    from monthly_report_etl_spark.operators.corpus import (
        BPE_MERGES,
        bpe_tokenize,
    )

    wf: Counter = Counter()
    doc_words: list[list[str]] = []
    for doc in words:
        ws = [w for w in _re.split(r"\s+", doc.strip()) if w]
        doc_words.append(ws)
        wf.update(ws)
    vocab = {w: list(w) for w in wf}
    for _ in range(BPE_MERGES):
        pc: Counter = Counter()
        for w, syms in vocab.items():
            for i in range(len(syms) - 1):
                pc[(syms[i], syms[i + 1])] += wf[w]
        if not pc:
            break
        (l, r), _cnt = min(pc.items(), key=lambda kv: (-kv[1], kv[0]))
        for w, syms in vocab.items():
            out, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == l and syms[i + 1] == r:
                    out.append(l + r)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            vocab[w] = out
    ref = {
        doc_id: [t for w in ws for t in vocab[w]]
        for doc_id, ws in enumerate(doc_words)
        if ws
    }

    outdir = tempfile.mkdtemp()
    pd.DataFrame(
        {
            "doc_id": range(len(words)),
            "text": words,
            "lang": "en",
            "source": "s",
            "n_chars": [len(w) for w in words],
        }
    ).to_parquet(os.path.join(outdir, "documents.parquet"), index=False)

    got = {
        r["doc_id"]: list(r["tokens"])
        for r in bpe_tokenize(spark, outdir).collect()
    }
    assert got == ref


def test_bpe_tokenize_matches_duckdb_oracle(spark, sf_dir):
    """The r11-ready BPE_TOKENIZE_ORACLE replays the whole
    train-then-segment chain in DuckDB; pin the differential at the
    fixture SF now so catalog promotion is a two-line change."""
    import duckdb

    from monthly_report_etl_spark.operators.corpus import (
        BPE_TOKENIZE_ORACLE,
        bpe_tokenize,
    )

    sdf = (
        bpe_tokenize(spark, sf_dir)
        .toPandas()
        .sort_values("doc_id")
        .reset_index(drop=True)
    )
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{sf_dir}/documents.parquet')"
    )
    odf = (
        con.execute(BPE_TOKENIZE_ORACLE)
        .fetchdf()
        .sort_values("doc_id")
        .reset_index(drop=True)
    )
    assert len(sdf) == len(odf)
    assert sdf["doc_id"].astype("int64").equals(odf["doc_id"].astype("int64"))
    assert sdf["n_tokens"].astype("int64").equals(odf["n_tokens"].astype("int64"))
    for a, b in zip(sdf["tokens"], odf["tokens"]):
        assert list(a) == list(b)


def test_bpe_train_cache_ownership(spark, sf_dir):
    """ADVICE r10 #2: _bpe_train must hand BOTH persisted frames to the
    caller — the final vocab's cache is unmaterialized, so the parent's
    (materialized by the last top-pair collect) must still be live when
    bpe_tokenize checkpoints the word→symbols map; the old code
    unpersisted the parent on return, forcing a full corpus replay."""
    from monthly_report_etl_spark.operators.corpus import _bpe_train

    merges, vocab, parent = _bpe_train(spark, sf_dir)
    try:
        assert merges, "fixture corpora always yield merges"
        assert parent is not None
        assert vocab.storageLevel.useMemory
        assert parent.storageLevel.useMemory
    finally:
        vocab.unpersist()
        if parent is not None:
            parent.unpersist()


def _assert_batched_equals_sequential(spark, words, n_merges=24, batch_m=4):
    import os
    import tempfile

    import pandas as pd

    from monthly_report_etl_spark.operators.corpus import (
        bpe_train_merges_batched,
        bpe_train_merges_sequential,
    )

    outdir = tempfile.mkdtemp()
    pd.DataFrame(
        {
            "doc_id": range(len(words)),
            "text": list(words),
            "lang": "en",
            "source": "s",
            "n_chars": [len(w) for w in words],
        }
    ).to_parquet(os.path.join(outdir, "documents.parquet"), index=False)

    seq = [
        tuple(r)
        for r in bpe_train_merges_sequential(spark, outdir, n_merges).collect()
    ]
    bat = [
        tuple(r)
        for r in bpe_train_merges_batched(
            spark, outdir, n_merges, batch_m=batch_m
        ).collect()
    ]
    assert bat == seq


@settings(**_SETTINGS)
@given(
    words=st.lists(
        st.text(alphabet="abcxy ", min_size=0, max_size=12),
        min_size=0,
        max_size=30,
    )
)
def test_bpe_batched_trainer_equals_sequential(spark, words):
    """VERDICT r10 #5: the batched trainer must reproduce the sequential
    greedy merge table BIT-FOR-BIT on arbitrary corpora. The tiny
    'abcxy ' alphabet is the adversarial case for the batch rule: pair
    counts tie constantly, so the strict-dominance truncation, the
    no-skip prefix walk, and the self-composable terminal rule (ADVICE
    r11 #1) are exercised on nearly every round. n_merges=24 with
    batch_m=4 forces multiple rounds including early vocab exhaustion.
    The ~0.1%-frequency divergence classes live in the deterministic
    regression tests below plus the 20k-corpus pure-python fuzz in
    tools/fuzz_bpe_batch_rule.py — a Spark round-trip per example makes
    large max_examples here prohibitive, so this property spot-checks
    the wiring while the python fuzz carries the rule coverage."""
    _assert_batched_equals_sequential(spark, words)


def test_bpe_batched_selfcomposable_regression(spark):
    """ADVICE r11 #1 deterministic regression: corpus ['cc','bbb'],
    batch_m=2. The unfixed walk admitted (b,b) AND (c,c) in one batch,
    but applying (b,b) to 'bbb' creates (bb,b) whose count (bounded by
    (b,b)'s own count, not the first-excluded pair's) outranks (c,c)
    under the (count desc, l, r) tiebreak — sequential greedy emits
    (b,b),(bb,b),(c,c); the broken batch emitted (b,b),(c,c),(bb,b).
    The fix terminates the batch after admitting any left==right pair."""
    _assert_batched_equals_sequential(
        spark, ["cc", "bbb"], n_merges=3, batch_m=2
    )


def test_bpe_tokenize_sampled_fraction1_identical(spark, sf_dir):
    """VERDICT r11 #4: with fraction=1.0 the stratified sample IS the
    corpus, so the sample-trained merge table equals the full trainer's
    and the merge-table APPLY path (`_bpe_apply_merge_table`, rank-order
    fold composition over the full word vocabulary) must reproduce
    `bpe_tokenize`'s trained-vocab-state segmentation BIT-FOR-BIT —
    pinning that the encode side and the train side apply merges
    identically."""
    from monthly_report_etl_spark.operators.corpus import (
        bpe_tokenize,
        bpe_tokenize_sampled,
    )

    full = {
        r["doc_id"]: (r["n_tokens"], list(r["tokens"]))
        for r in bpe_tokenize(spark, sf_dir).collect()
    }
    samp = {
        r["doc_id"]: (r["n_tokens"], list(r["tokens"]))
        for r in bpe_tokenize_sampled(spark, sf_dir, fraction=1.0).collect()
    }
    assert samp == full and full


@settings(**_SETTINGS)
@given(
    words=st.lists(
        st.text(alphabet="abcxy ", min_size=0, max_size=12),
        min_size=1,
        max_size=30,
    )
)
def test_bpe_tokenize_sampled_matches_python_reference(spark, words):
    """End-to-end python differential for the train-on-sample path at
    fraction=0.5: replicate the deterministic stratified sample (md5
    rank per lang, keep ceil(f*n)), train sequential-greedy BPE on the
    sampled docs only, apply the merge table in rank order to EVERY
    corpus word (including words the trainer never saw — the case
    fraction=1.0 cannot reach), segment, and compare exactly."""
    import hashlib
    import math
    import os
    import re as _re
    import tempfile
    from collections import Counter

    import pandas as pd

    from monthly_report_etl_spark.operators.corpus import (
        BPE_MERGES,
        bpe_tokenize_sampled,
    )

    frac = 0.5
    n = len(words)
    ranked = sorted(
        range(n), key=lambda i: (hashlib.md5(str(i).encode()).hexdigest(), i)
    )
    keep = set(ranked[: math.ceil(frac * n)])

    def doc_words(doc):
        return [w for w in _re.split(r"\s+", doc.strip()) if w]

    wf: Counter = Counter()
    for i in keep:
        wf.update(doc_words(words[i]))
    vocab = {w: list(w) for w in wf}
    merges: list[tuple[str, str]] = []
    for _ in range(BPE_MERGES):
        pc: Counter = Counter()
        for w, syms in vocab.items():
            for k in range(len(syms) - 1):
                pc[(syms[k], syms[k + 1])] += wf[w]
        if not pc:
            break
        (l, r), _cnt = min(pc.items(), key=lambda kv: (-kv[1], kv[0]))
        merges.append((l, r))
        for w, syms in vocab.items():
            out, k = [], 0
            while k < len(syms):
                if k + 1 < len(syms) and syms[k] == l and syms[k + 1] == r:
                    out.append(l + r)
                    k += 2
                else:
                    out.append(syms[k])
                    k += 1
            vocab[w] = out

    def encode(w):
        syms = list(w)
        for l, r in merges:
            out, k = [], 0
            while k < len(syms):
                if k + 1 < len(syms) and syms[k] == l and syms[k + 1] == r:
                    out.append(l + r)
                    k += 2
                else:
                    out.append(syms[k])
                    k += 1
            syms = out
        return syms

    ref = {
        i: [t for w in doc_words(doc) for t in encode(w)]
        for i, doc in enumerate(words)
        if doc_words(doc)
    }

    outdir = tempfile.mkdtemp()
    pd.DataFrame(
        {
            "doc_id": range(n),
            "text": list(words),
            "lang": "en",
            "source": "s",
            "n_chars": [len(w) for w in words],
        }
    ).to_parquet(os.path.join(outdir, "documents.parquet"), index=False)

    got = {
        r["doc_id"]: list(r["tokens"])
        for r in bpe_tokenize_sampled(spark, outdir, fraction=frac).collect()
    }
    assert got == ref


def test_bpe_sample_divergence_metrics(spark, sf_dir):
    """The divergence measurement itself: one metrics row, sane ranges;
    fraction=1.0 must report zero divergence on every metric."""
    from monthly_report_etl_spark.operators.corpus import bpe_sample_divergence

    row = bpe_sample_divergence(spark, sf_dir).collect()[0]
    assert row["n_docs"] > 0
    assert 0.0 <= row["identical_doc_frac"] <= 1.0
    assert row["token_inflation"] > 0
    assert 0.0 <= row["jaccard_tokens_mean"] <= 1.0

    exact = bpe_sample_divergence(spark, sf_dir, fraction=1.0).collect()[0]
    assert exact["identical_doc_frac"] == 1.0
    assert exact["token_inflation"] == 1.0
    assert exact["jaccard_tokens_mean"] == 1.0


def test_bpe_lineage_truncation_frees_checkpoint_storage(spark, sf_dir):
    """ADVICE r11 #3: the lineage-truncation branch replaces the vocab
    with a localCheckpoint frame whose storage the CacheManager does NOT
    track, so a plain unpersist() leaked one vocab-sized RDD per
    truncation until GC. `_release_vocab_frame` drops the backing RDD's
    blocks directly; train past two truncation points and assert the
    session holds no more cached/checkpointed RDD blocks than before."""
    from monthly_report_etl_spark.operators.corpus import (
        BPE_LINEAGE_TRUNC_EVERY,
        _release_vocab_frame,
        bpe_train_merges_sequential,
    )

    jsc = spark.sparkContext._jsc.sc()

    def n_stored():
        return len(jsc.getRDDStorageInfo())

    # direct helper check: a checkpointed frame's blocks really go away
    ck = spark.range(10_000).selectExpr("id", "id * 2 AS x").localCheckpoint(
        eager=True
    )
    assert ck.count() == 10_000
    before = n_stored()
    _release_vocab_frame(ck)
    # <= rather than ==: the async ContextCleaner may concurrently drop
    # an unrelated entry of the shared test session between the samples
    assert n_stored() <= before - 1

    # loop-level: two truncations (ranks 8 and 16) must not accumulate
    baseline = n_stored()
    merges = bpe_train_merges_sequential(
        spark, sf_dir, 2 * BPE_LINEAGE_TRUNC_EVERY + 1
    )
    assert len(merges.collect()) >= 1
    assert n_stored() <= baseline


def test_release_fallback_warns_once_per_exception_type(monkeypatch, caplog):
    """VERDICT r13 #2: `_release_vocab_frame`'s GC-deferred fallback
    warns once PER EXCEPTION TYPE, not once globally — a connect backend
    repeating the same cause stays quiet after the first warning, but a
    DIFFERENT exception class appearing later (backend switch, Spark
    upgrade renaming an internal) must surface at WARNING, not vanish
    into suppressed debug behind the first cause's latch."""
    import logging

    from monthly_report_etl_spark.operators import corpus as C

    class _NotCached:
        useMemory = False
        useDisk = False

    class _FailingFrame:
        storageLevel = _NotCached()

        def __init__(self, exc):
            self._exc = exc

        @property
        def _jdf(self):
            raise self._exc

    monkeypatch.setattr(C, "_RELEASE_FALLBACK_WARNED_TYPES", set())
    logger_name = C._log.name

    def levels_for(exc):
        with caplog.at_level(logging.DEBUG, logger=logger_name):
            caplog.clear()
            C._release_vocab_frame(_FailingFrame(exc))
            return [r.levelno for r in caplog.records if r.name == logger_name]

    assert levels_for(RuntimeError("cause A")) == [logging.WARNING]
    assert levels_for(RuntimeError("cause A, again")) == [logging.DEBUG]
    # a NEW cause after the first latch must still warn
    assert levels_for(ValueError("cause B")) == [logging.WARNING]
    assert levels_for(ValueError("cause B, again")) == [logging.DEBUG]


def test_bpe_apply_merge_table_releases_on_error(spark, monkeypatch):
    """ADVICE r12 #1: `_bpe_apply_merge_table` must release its in-flight
    intermediate checkpoint frames when a fold job dies mid-chain — the
    same try/BaseException contract `_bpe_train` carries — instead of
    leaking one vocab-sized localCheckpoint RDD per completed chain
    boundary until JVM GC. Control-flow pin: boundary 1 checkpoints
    fine, boundary 2 raises; the boundary-1 frame must be handed to
    `_release_vocab_frame` before the error propagates."""
    from monthly_report_etl_spark.operators import corpus as C

    words = spark.createDataFrame(
        [("ab", ["a", "b"]), ("abc", ["a", "b", "c"])],
        "w string, syms array<string>",
    )
    merges = [(0, "a", "b", 5), (1, "ab", "c", 3)]

    released = []
    monkeypatch.setattr(C, "_release_vocab_frame", released.append)

    # patch the CONCRETE DataFrame class (classic/connect subclass) —
    # the pyspark.sql.DataFrame base is abstract in Spark 4
    cls = type(words)
    orig = cls.localCheckpoint
    calls = {"n": 0}

    def failing_second(self, eager=True):
        calls["n"] += 1
        if calls["n"] == 2:
            raise RuntimeError("simulated fold-job failure at boundary 2")
        return orig(self, eager=eager)

    monkeypatch.setattr(cls, "localCheckpoint", failing_second)
    with pytest.raises(RuntimeError, match="boundary 2"):
        C._bpe_apply_merge_table(words, merges, chain=1)
    assert calls["n"] == 2
    assert len(released) == 1, (
        "the completed boundary-1 checkpoint frame was not released on "
        "mid-chain failure"
    )


def test_bpe_batched_fuzz_corpora_regression(spark):
    """The three divergent corpora the 20k-corpus pure-python fuzz found
    against the UNFIXED rule (tools/fuzz_bpe_batch_rule.py, seed 42) —
    pinned here as deterministic Spark round-trips so the suite can
    never go nondeterministically red on a hypothesis lucky draw."""
    _assert_batched_equals_sequential(
        spark,
        ["yybybxxxy ", "xxxc ", "b ", "", " cyxx"],
        n_merges=8,
        batch_m=16,
    )
    _assert_batched_equals_sequential(
        spark, ["", "", "a xb aa a", "  cccc"], n_merges=8, batch_m=16
    )
    _assert_batched_equals_sequential(
        spark,
        ["baaa", "a aaa", "cyxb", "byxcbx b b", ""],
        n_merges=3,
        batch_m=16,
    )


def test_recursive_order_chains_matches_python_reference(spark):
    """Third, ENGINE-INDEPENDENT implementation of the burst-chain
    semantics (the catalog entry is pinned Spark-vs-DuckDB; this adds a
    pure-python walk over the same parquet, so a shared SQL-dialect
    misreading in BOTH engines would still be caught): per customer,
    orders sorted by (o_orderdate, o_orderkey); a chain starts at an
    order with no prior order within 30 days and follows THE unique
    next order while each hop lands within 30 days, depth-capped at 20;
    output is (head_key, custkey, chain_len, chain_end)."""
    import pandas as pd

    from monthly_report_etl_spark.catalog import QUERIES

    sf_dir = "/root/testdata/sf0.001"
    got = {
        (r["head_key"], r["o_custkey"]): (r["chain_len"], r["chain_end"])
        for r in QUERIES["recursive_order_chains"](spark, sf_dir).collect()
    }

    orders = pd.read_parquet(f"{sf_dir}/orders.parquet")[
        ["o_orderkey", "o_custkey", "o_orderdate"]
    ]
    gap = pd.Timedelta(days=30)
    want = {}
    for cust, grp in orders.groupby("o_custkey"):
        seq = grp.sort_values(["o_orderdate", "o_orderkey"]).reset_index(drop=True)
        for i in range(len(seq)):
            if i > 0 and seq.o_orderdate[i] <= seq.o_orderdate[i - 1] + gap:
                continue  # has a prior order within 30 days: not a head
            depth, j = 1, i
            while (
                depth < 20
                and j + 1 < len(seq)
                and seq.o_orderdate[j + 1] <= seq.o_orderdate[j] + gap
            ):
                j += 1
                depth += 1
            want[(int(seq.o_orderkey[i]), int(cust))] = (
                depth,
                seq.o_orderdate[j].to_pydatetime(),
            )

    assert got == want


def test_scd2_and_islands_and_ffill_match_python_reference(spark):
    """Engine-independent python references for the three classic
    dialect-footgun window shapes (each catalog entry is pinned
    Spark-vs-DuckDB; these catch a SHARED misreading): SCD2 validity
    intervals (IS DISTINCT FROM change flag -> running version ->
    lead-close), gaps-and-islands over active months (row_number
    difference trick), and IGNORE NULLS forward fill."""
    import math

    import pandas as pd

    from monthly_report_etl_spark.catalog import QUERIES

    sf_dir = "/root/testdata/sf0.001"
    ev = pd.read_parquet(f"{sf_dir}/events.parquet")[
        ["event_id", "ts", "user_id", "event_type", "value"]
    ]

    # --- window_fill_forward ---
    got = {
        r["event_id"]: r["value_ffill"]
        for r in QUERIES["window_fill_forward"](spark, sf_dir).collect()
    }
    want = {}
    for _, grp in ev.groupby("user_id"):
        seq = grp.sort_values(["ts", "event_id"])
        last = None
        for eid, v in zip(seq.event_id, seq.value):
            if v is not None and not (isinstance(v, float) and math.isnan(v)):
                last = float(v)
            want[int(eid)] = last
    assert set(got) == set(want)
    for eid, w in want.items():
        g = got[eid]
        assert (g is None and w is None) or g == w, (eid, g, w)

    # --- scd2_history ---
    got_scd = {
        (r["user_id"], r["version"]): (
            r["event_type"],
            r["valid_from"],
            r["n_events"],
            r["valid_to"],
        )
        for r in QUERIES["scd2_history"](spark, sf_dir).collect()
    }
    want_scd = {}
    for uid, grp in ev.groupby("user_id"):
        seq = grp.sort_values(["ts", "event_id"]).reset_index(drop=True)
        version, prev = 0, object()  # sentinel: first row is a change
        runs = []  # [event_type, valid_from, n_events]
        for i in range(len(seq)):
            if seq.event_type[i] != prev:
                version += 1 if i > 0 else 0
                runs.append([seq.event_type[i], seq.ts[i].to_pydatetime(), 0])
                prev = seq.event_type[i]
            runs[-1][2] += 1
        for v, (etype, vfrom, n) in enumerate(runs):
            vto = runs[v + 1][1] if v + 1 < len(runs) else None
            want_scd[(int(uid), v + 1)] = (etype, vfrom, n, vto)
    assert got_scd == want_scd

    # --- islands_active_months ---
    orders = pd.read_parquet(f"{sf_dir}/orders.parquet")[
        ["o_custkey", "o_orderdate"]
    ]
    got_isl = {
        (r["o_custkey"], r["island_start"]): (r["island_end"], r["months_active"])
        for r in QUERIES["islands_active_months"](spark, sf_dir).collect()
    }
    want_isl = {}
    for cust, grp in orders.groupby("o_custkey"):
        months = sorted({(d.year, d.month) for d in grp.o_orderdate})
        runs = []
        for ym in months:
            idx = ym[0] * 12 + ym[1]
            if runs and idx == runs[-1][-1] + 1:
                runs[-1].append(idx)
            else:
                runs.append([idx])
        from datetime import datetime

        for run in runs:
            start = datetime((run[0] - 1) // 12, (run[0] - 1) % 12 + 1, 1)
            end = datetime((run[-1] - 1) // 12, (run[-1] - 1) % 12 + 1, 1)
            want_isl[(int(cust), start)] = (end, len(run))
    assert got_isl == want_isl


def test_window_distribution_and_moments_match_python_reference(spark):
    """Python references for the distribution window trio (percent_rank
    = (rank-1)/(n-1), cume_dist = #<=row / n, ntile's uneven-bucket
    rule: the first n%k buckets take the extra row) and the power-sum
    moments profile. Comparisons allow half-a-last-digit slack on the
    ROUNDED Spark outputs: python summation order differs, so a value
    sitting exactly on a rounding boundary may legally round apart."""
    import statistics as pystats

    import pandas as pd

    from monthly_report_etl_spark.catalog import QUERIES

    sf_dir = "/root/testdata/sf0.001"
    orders = pd.read_parquet(f"{sf_dir}/orders.parquet")[
        ["o_orderkey", "o_orderpriority", "o_totalprice", "o_custkey"]
    ]

    # --- window_distribution ---
    got = {
        r["o_orderkey"]: (r["pct_rank"], r["cume"], r["quartile"])
        for r in QUERIES["window_distribution"](spark, sf_dir).collect()
    }
    assert len(got) == len(orders)
    for _, grp in orders.groupby("o_orderpriority"):
        seq = grp.sort_values(["o_totalprice", "o_orderkey"]).reset_index(drop=True)
        n = len(seq)
        base, extra = divmod(n, 4)
        for i in range(n):
            pct = 0.0 if n == 1 else i / (n - 1)
            cume = (i + 1) / n  # total tiebreak: no peers
            # ntile: first `extra` buckets hold base+1 rows
            cut = extra * (base + 1)
            tile = (i // (base + 1) + 1) if i < cut else ((i - cut) // base + 1 + extra)
            g = got[int(seq.o_orderkey[i])]
            assert abs(g[0] - pct) <= 5e-7 + 1e-12, (seq.o_orderkey[i], g, pct)
            assert abs(g[1] - cume) <= 5e-7 + 1e-12, (seq.o_orderkey[i], g, cume)
            assert g[2] == tile, (seq.o_orderkey[i], g, tile)

    # --- stats_moments_group ---
    rows = {
        r["o_orderpriority"]: r
        for r in QUERIES["stats_moments_group"](spark, sf_dir).collect()
    }
    for prio, grp in orders.groupby("o_orderpriority"):
        x = [float(v) for v in grp.o_totalprice]
        n = len(x)
        m1 = sum(x) / n
        m2 = sum(v * v for v in x) / n
        m3 = sum(v**3 for v in x) / n
        sd = pystats.stdev(x)
        med = pystats.median(x)
        skew = (m3 - 3 * m1 * m2 + 2 * m1**3) / (m2 - m1 * m1) ** 1.5
        r = rows[prio]
        assert r["n"] == n
        # 0.0051, not 0.005: a median sitting EXACTLY on the boundary
        # (x.xx5) legitimately rounds a half-last-digit away, and float
        # representation pushes |diff| a hair past 0.005 (seen at sf0.001:
        # 276594.175 -> 276594.18, diff 0.005000000447)
        assert abs(r["mean_price"] - m1) <= 0.0051 + 1e-9 * abs(m1)
        assert abs(r["stddev_price"] - sd) <= 0.0051 + 1e-9 * abs(sd)
        assert abs(r["median_price"] - med) <= 0.0051
        assert abs(r["skewness_price"] - skew) <= 5.1e-4 + 1e-6 * abs(skew)


def test_retention_cohort_and_funnel_match_python_reference(spark):
    """Python references for the two event-analytics shapes whose
    semantics hide conventions: weekly retention (date_trunc('week')
    truncates to MONDAY 00:00 — a Sunday-week python reading would
    diverge) and the ordered funnel (first view, first click STRICTLY
    after it, first purchase STRICTLY after that)."""
    from datetime import datetime, timedelta

    import pandas as pd

    from monthly_report_etl_spark.catalog import QUERIES

    sf_dir = "/root/testdata/sf0.001"
    ev = pd.read_parquet(f"{sf_dir}/events.parquet")[
        ["user_id", "ts", "event_type"]
    ]

    def monday(ts):
        d = ts.date()
        d = d - timedelta(days=d.weekday())
        return datetime(d.year, d.month, d.day)

    # --- retention cohort ---
    got = {
        (r["cohort_week"], r["active_week"]): (r["week_index"], r["n_users"])
        for r in QUERIES["events_retention_cohort"](spark, sf_dir).collect()
    }
    active = {}
    for uid, grp in ev.groupby("user_id"):
        weeks = sorted({monday(t) for t in grp.ts})
        for wk in weeks:
            active.setdefault((weeks[0], wk), set()).add(uid)
    want = {
        k: ((k[1] - k[0]).days // 7, len(users)) for k, users in active.items()
    }
    assert got == want

    # --- ordered funnel ---
    row = QUERIES["events_funnel"](spark, sf_dir).collect()[0]
    n_users = n_view = n_click = n_purchase = 0
    for _, grp in ev.groupby("user_id"):
        n_users += 1
        tv = min((t for t, e in zip(grp.ts, grp.event_type) if e == "view"),
                 default=None)
        if tv is None:
            continue
        n_view += 1
        tc = min((t for t, e in zip(grp.ts, grp.event_type)
                  if e == "click" and t > tv), default=None)
        if tc is None:
            continue
        n_click += 1
        tp = min((t for t, e in zip(grp.ts, grp.event_type)
                  if e == "purchase" and t > tc), default=None)
        if tp is not None:
            n_purchase += 1
    assert (row["n_users"], row["n_view"], row["n_click_after_view"],
            row["n_purchase_after_click"]) == (n_users, n_view, n_click, n_purchase)


def test_sessionize_sliding_attribution_match_python_reference(spark):
    """Python references for three more convention-laden event shapes:
    gap sessionization (a session BREAKS only when the gap STRICTLY
    exceeds 30 min), hopping windows (1h every 15min — each event lands
    in exactly the 4 epoch-aligned windows covering it), and last-touch
    attribution (latest click <= purchase within 1h, click_ts then
    click_id as the tiebreak)."""
    from datetime import timedelta

    import pandas as pd

    from monthly_report_etl_spark.catalog import QUERIES

    sf_dir = "/root/testdata/sf0.001"
    ev = pd.read_parquet(f"{sf_dir}/events.parquet")[
        ["event_id", "ts", "user_id", "event_type", "value"]
    ]

    # --- events_sessionize_batch ---
    got = {
        (r["user_id"], r["session_seq"]): (
            r["n_events"],
            r["session_start"],
            r["session_end"],
            r["duration_us"],
        )
        for r in QUERIES["events_sessionize_batch"](spark, sf_dir).collect()
    }
    want = {}
    gap = timedelta(minutes=30)
    for uid, grp in ev.groupby("user_id"):
        seq = grp.sort_values(["ts", "event_id"]).reset_index(drop=True)
        sid, s_rows = 0, []
        sessions = []
        for i in range(len(seq)):
            if i == 0 or seq.ts[i] - seq.ts[i - 1] > gap:
                if s_rows:
                    sessions.append(s_rows)
                s_rows = []
            s_rows.append(seq.ts[i])
        sessions.append(s_rows)
        for k, rows_ in enumerate(sessions, start=1):
            start, end = rows_[0].to_pydatetime(), rows_[-1].to_pydatetime()
            dur = (rows_[-1] - rows_[0]) // timedelta(microseconds=1)
            want[(int(uid), k)] = (len(rows_), start, end, int(dur))
    assert got == want

    # --- events_sliding_window (1h window, 15min hop) ---
    got_sw = {
        (r["window_start"], r["event_type"]): (r["n_events"], r["sum_value"])
        for r in QUERIES["events_sliding_window"](spark, sf_dir).collect()
    }
    from collections import defaultdict

    acc = defaultdict(lambda: [0, 0.0])
    hop_us = 900_000_000
    epoch = pd.Timestamp("1970-01-01")
    for t, etype, v in zip(ev.ts, ev.event_type, ev.value):
        us = (t - epoch) // pd.Timedelta(microseconds=1)
        base = us // hop_us
        for k in range(4):
            start_us = (base - k) * hop_us
            acc[(epoch + pd.Timedelta(microseconds=start_us), etype)][0] += 1
            if v is not None and v == v:
                acc[(epoch + pd.Timedelta(microseconds=start_us), etype)][1] += float(v)
    assert set(got_sw) == {(k[0].to_pydatetime(), k[1]) for k in acc}
    for (ws, etype), (n, sv) in acc.items():
        g = got_sw[(ws.to_pydatetime(), etype)]
        assert g[0] == n
        assert abs(g[1] - sv) <= 0.0051 + 1e-9 * abs(sv)

    # --- events_last_touch_attribution ---
    got_at = {
        r["purchase_id"]: (r["attributed_click_id"], r["attributed_click_ts"])
        for r in QUERIES["events_last_touch_attribution"](spark, sf_dir).collect()
    }
    want_at = {}
    for uid, grp in ev.groupby("user_id"):
        clicks = [(t, int(e)) for t, e, ty in zip(grp.ts, grp.event_id, grp.event_type)
                  if ty == "click"]
        for t, e, ty in zip(grp.ts, grp.event_id, grp.event_type):
            if ty != "purchase":
                continue
            cands = [(ct, cid) for ct, cid in clicks
                     if ct <= t and ct >= t - timedelta(hours=1)]
            if cands:
                ct, cid = max(cands)  # latest ts, then highest id
                want_at[int(e)] = (cid, ct.to_pydatetime())
    assert got_at == want_at


def test_asof_and_range_frame_match_python_reference(spark):
    """Python references for the as-of join (latest click at-or-before
    each purchase per user — the union-tag + running-last rewrite must
    equal the naive definition, including the duplicate-timestamp
    ordering by event_id) and the time-RANGE frame (rolling 7-day sum:
    RANGE includes ALL peers of the current o_orderdate, and the frame
    is inclusive at exactly ts - 7 days)."""
    from datetime import timedelta

    import pandas as pd

    from monthly_report_etl_spark.catalog import QUERIES

    sf_dir = "/root/testdata/sf0.001"

    # --- asof_join ---
    ev = pd.read_parquet(f"{sf_dir}/events.parquet")[
        ["event_id", "ts", "user_id", "event_type"]
    ]
    got = {
        r["event_id"]: r["asof_click_ts"]
        for r in QUERIES["asof_join"](spark, sf_dir).collect()
    }
    want = {}
    for uid, grp in ev[ev.event_type.isin(["purchase", "click"])].groupby("user_id"):
        seq = grp.sort_values(["ts", "event_id"]).reset_index(drop=True)
        last_click = None
        for i in range(len(seq)):
            if seq.event_type[i] == "click":
                last_click = seq.ts[i].to_pydatetime()
            else:
                want[int(seq.event_id[i])] = last_click
    assert got == want

    # --- window_range_frame ---
    orders = pd.read_parquet(f"{sf_dir}/orders.parquet")[
        ["o_orderkey", "o_custkey", "o_orderdate", "o_totalprice"]
    ]
    got_rf = {
        r["o_orderkey"]: r["rolling_7d_total"]
        for r in QUERIES["window_range_frame"](spark, sf_dir).collect()
    }
    for _, grp in orders.groupby("o_custkey"):
        for _, row in grp.iterrows():
            lo = row.o_orderdate - timedelta(days=7)
            s = float(
                grp.o_totalprice[
                    (grp.o_orderdate >= lo) & (grp.o_orderdate <= row.o_orderdate)
                ].sum()
            )
            g = got_rf[int(row.o_orderkey)]
            assert abs(g - s) <= 0.0051 + 1e-9 * abs(s), (row.o_orderkey, g, s)


def test_disjunctive_brackets_and_last_shipper_match_python_reference(spark):
    """Python references for the two OLAP correctness traps: the Q19
    disjunctive-bracket predicate spanning both join sides (a wrong
    AND/OR precedence or a pushdown that drops a cross-side conjunct
    changes the scalar silently) and the Q21 EXISTS / NOT-EXISTS shape
    (the waiting-supplier semantics: some OTHER supplier in the order,
    and NO other supplier shipped later)."""
    import pandas as pd

    from monthly_report_etl_spark.catalog import QUERIES

    sf_dir = "/root/testdata/sf0.001"
    li = pd.read_parquet(f"{sf_dir}/lineitem.parquet")
    part = pd.read_parquet(f"{sf_dir}/part.parquet")

    # --- olap_disjunctive_brackets ---
    got = QUERIES["olap_disjunctive_brackets"](spark, sf_dir).collect()[0]["revenue"]
    j = li.merge(part, left_on="l_partkey", right_on="p_partkey")
    m = (
        ((j.p_brand == "Brand#12") & j.p_size.between(1, 15) & j.l_quantity.between(1, 11))
        | ((j.p_brand == "Brand#23") & j.p_size.between(1, 25) & j.l_quantity.between(10, 20))
        | ((j.p_brand == "Brand#3") & j.p_size.between(1, 35) & j.l_quantity.between(20, 30))
    )
    want = float((j.l_extendedprice[m] * (1 - j.l_discount[m])).sum())
    assert abs(got - want) <= 0.0051 + 1e-9 * abs(want), (got, want)

    # --- olap_last_shipper ---
    orders = pd.read_parquet(f"{sf_dir}/orders.parquet")[
        ["o_orderkey", "o_orderstatus"]
    ]
    sup = pd.read_parquet(f"{sf_dir}/supplier.parquet")[["s_suppkey", "s_name"]]
    got_ls = {
        r["s_name"]: r["n_orders"]
        for r in QUERIES["olap_last_shipper"](spark, sf_dir).collect()
    }
    f_orders = set(orders.o_orderkey[orders.o_orderstatus == "F"])
    by_order = {}
    for ok, grp in li.groupby("l_orderkey"):
        if ok in f_orders:
            by_order[ok] = list(zip(grp.l_suppkey, grp.l_shipdate))
    want_ls = {}
    sname = dict(zip(sup.s_suppkey, sup.s_name))
    for ok, rows_ in by_order.items():
        counted = set()  # COUNT(DISTINCT l_orderkey) per supplier
        for sk, ship in rows_:
            others = [(s2, d2) for s2, d2 in rows_ if s2 != sk]
            if not others:
                continue  # EXISTS fails: single-supplier order
            if any(d2 > ship for _, d2 in others):
                continue  # NOT EXISTS fails: someone shipped later
            if sk not in counted:
                counted.add(sk)
                want_ls[sname[sk]] = want_ls.get(sname[sk], 0) + 1
    assert got_ls == want_ls


def test_event_ops_boundary_cases_match_python_reference(spark, tmp_path):
    """Deterministic ADVERSARIAL events fixture for the convention
    boundaries the sf tables don't guarantee to contain: a gap of
    EXACTLY 30 minutes (not a session break — the rule is strictly
    greater), a gap one microsecond past it (a break), same-timestamp
    ties ordered by event_id (asof: a same-ts click counts only if its
    event_id sorts before the purchase), a click exactly one hour
    before a purchase (attribution window inclusive at both ends), and
    an all-null-value user (fill stays null)."""
    from datetime import datetime, timedelta

    import pandas as pd

    from monthly_report_etl_spark.catalog import QUERIES

    t0 = datetime(2024, 3, 1, 12, 0, 0)
    s = lambda sec: t0 + timedelta(seconds=sec)
    rows = [
        # user 1: session boundary cases. gap of exactly 1800s at e2,
        # gap of 1800s + 1us at e3
        (1, s(0), 1, "view", 1.0),
        (2, s(1800), 1, "view", None),
        (3, s(1800) + timedelta(seconds=1800, microseconds=1), 1, "view", 3.0),
        # user 2: same-ts tie — click id 10 sorts BEFORE purchase id 11
        # (counts for asof), click id 13 sorts AFTER purchase id 12 at a
        # later shared ts (does not count for that purchase)
        (10, s(100), 2, "click", None),
        (11, s(100), 2, "purchase", 5.0),
        (12, s(200), 2, "purchase", None),
        (13, s(200), 2, "click", 7.0),
        # user 3: attribution window inclusive at exactly 1h
        (20, s(0), 3, "click", None),
        (21, s(3600), 3, "purchase", 9.0),
        (22, s(3601), 3, "purchase", None),  # 1h+1s after the click: outside
        # user 4: single event, all-null value
        (30, s(50), 4, "view", None),
    ]
    pdf = pd.DataFrame(
        rows, columns=["event_id", "ts", "user_id", "event_type", "value"]
    )
    pdf["ts"] = pdf["ts"].astype("datetime64[us]")
    pdf["props"] = "{}"
    d = str(tmp_path / "boundary")
    import os

    os.makedirs(d, exist_ok=True)
    pdf.to_parquet(os.path.join(d, "events.parquet"), index=False)

    # sessionize: user 1 = ONE session through the exact-1800s gap, then
    # a second session after the 1800s+1us gap
    sess = {
        (r["user_id"], r["session_seq"]): r["n_events"]
        for r in QUERIES["events_sessionize_batch"](spark, d).collect()
    }
    # (user 3's events sit 3600s apart — a break: sessions {e20}, {e21,e22})
    assert sess == {(1, 1): 2, (1, 2): 1, (2, 1): 4, (3, 1): 1, (3, 2): 2, (4, 1): 1}

    # asof: purchase 11 sees the same-ts click (id 10 sorts first);
    # purchase 12 does NOT see click 13 (sorts after) but carries click 10
    asof = {
        r["event_id"]: r["asof_click_ts"]
        for r in QUERIES["asof_join"](spark, d).collect()
    }
    assert asof[11] == s(100)
    assert asof[12] == s(100)
    assert asof[21] == s(0) and asof[22] == s(0)

    # attribution: purchase 21 attributed (exactly 1h, inclusive);
    # purchase 22 not (3601s); purchase 11 attributed to same-ts click 10;
    # purchase 12 attributed to click 10 (click 13 is later than it... at
    # the SAME ts: c.click_ts <= p.purchase_ts holds, so 13 DOES qualify
    # for purchase 12 by timestamp — last-touch picks it by (ts, id))
    att = {
        r["purchase_id"]: r["attributed_click_id"]
        for r in QUERIES["events_last_touch_attribution"](spark, d).collect()
    }
    assert att == {11: 10, 12: 13, 21: 20}

    # fill-forward: user 1's null at e2 takes 1.0; user 4 stays null
    ff = {
        r["event_id"]: r["value_ffill"]
        for r in QUERIES["window_fill_forward"](spark, d).collect()
    }
    assert ff[2] == 1.0 and ff[3] == 3.0 and ff[30] is None


def test_order_ops_boundary_cases_match_hand_derivation(spark, tmp_path):
    """Adversarial orders fixture for the orders-side conventions: an
    order EXACTLY 30 days after its predecessor is not a chain head and
    DOES extend the chain (both rules are inclusive at 30 days, heads
    break strictly past it); the recursion depth cap truncates a 25-link
    chain at 20; month islands run across a year boundary (Dec-Jan is
    consecutive); the 7-day RANGE frame is inclusive at exactly 7 days
    and includes same-date peers regardless of row position."""
    from datetime import datetime, timedelta

    import pandas as pd

    from monthly_report_etl_spark.catalog import QUERIES

    rows = []
    # cust 1: exact-30-day extension then a 31-day break
    t1 = datetime(2024, 1, 10)
    rows += [(101, 1, t1, 100.0), (102, 1, t1 + timedelta(days=30), 100.0),
             (103, 1, t1 + timedelta(days=61), 100.0)]
    # cust 2: 25 orders one day apart — depth cap at 20
    t2 = datetime(2024, 5, 1)
    rows += [(200 + i, 2, t2 + timedelta(days=i), 50.0) for i in range(25)]
    # cust 3: active Dec 2023 and Jan 2024 (one island), then Mar 2024
    rows += [(301, 3, datetime(2023, 12, 5), 10.0),
             (302, 3, datetime(2024, 1, 5), 10.0),
             (303, 3, datetime(2024, 3, 5), 10.0)]
    # cust 4: RANGE frame inclusive at exactly 7 days, exclusive past it
    t4 = datetime(2024, 7, 1)
    rows += [(401, 4, t4, 100.0), (402, 4, t4 + timedelta(days=7), 200.0),
             (403, 4, t4 + timedelta(days=7, microseconds=1), 400.0)]
    # cust 5: same-date peers — both rows see both
    t5 = datetime(2024, 6, 15)
    rows += [(501, 5, t5, 10.0), (502, 5, t5, 20.0)]

    pdf = pd.DataFrame(
        rows, columns=["o_orderkey", "o_custkey", "o_orderdate", "o_totalprice"]
    )
    pdf["o_orderdate"] = pdf["o_orderdate"].astype("datetime64[us]")
    import os

    d = str(tmp_path / "orders_boundary")
    os.makedirs(d, exist_ok=True)
    pdf.to_parquet(os.path.join(d, "orders.parquet"), index=False)

    chains = {
        (r["head_key"], r["o_custkey"]): (r["chain_len"], r["chain_end"])
        for r in QUERIES["recursive_order_chains"](spark, d).collect()
    }
    assert chains[(101, 1)] == (2, t1 + timedelta(days=30))  # 30d extends
    assert chains[(103, 1)] == (1, t1 + timedelta(days=61))  # 31d breaks
    assert chains[(200, 2)] == (20, t2 + timedelta(days=19))  # depth cap
    assert (201, 2) not in chains  # day-1 order is not a head
    assert chains[(501, 5)] == (2, t5)  # same-date pair: one chain of 2

    islands = {
        (r["o_custkey"], r["island_start"]): (r["island_end"], r["months_active"])
        for r in QUERIES["islands_active_months"](spark, d).collect()
    }
    assert islands[(3, datetime(2023, 12, 1))] == (datetime(2024, 1, 1), 2)
    assert islands[(3, datetime(2024, 3, 1))] == (datetime(2024, 3, 1), 1)
    assert islands[(1, datetime(2024, 1, 1))] == (datetime(2024, 3, 1), 3)
    assert islands[(2, datetime(2024, 5, 1))] == (datetime(2024, 5, 1), 1)

    rf = {
        r["o_orderkey"]: r["rolling_7d_total"]
        for r in QUERIES["window_range_frame"](spark, d).collect()
    }
    assert rf[401] == 100.0
    assert rf[402] == 300.0  # exactly 7 days: inclusive
    assert rf[403] == 600.0  # 7 days + 1us: the t4 order falls out
    assert rf[501] == 30.0 and rf[502] == 30.0  # peers both ways


def _gate_compare(spark, con, sf_dir, names):
    """Driver-gate-style rows+schema+value-hash compare of Spark vs the
    registered DuckDB oracle for the given catalog entries over an
    arbitrary table directory."""
    import hashlib

    import __spark_entry__ as entrymod

    oracles = entrymod.oracle_sql()
    queries = entrymod.queries()

    def canon(df):
        df = df[sorted(df.columns)]
        return df.sort_values(list(df.columns)).reset_index(drop=True)

    def vhash(df):
        # na_rep sentinel (r16, finding 35's lesson): plain to_csv
        # renders BOTH NULL and '' as an empty field, hiding NULL-vs-
        # empty-string divergences from every hash compare
        return hashlib.sha256(
            df.to_csv(index=False, float_format="%.9g",
                      na_rep="\x00NULL\x00").encode()
        ).hexdigest()

    for name in names:
        s = canon(queries[name](spark, sf_dir).toPandas())
        o = canon(con.execute(oracles[name]).fetchdf())
        for c in s.columns:
            if c in o.columns and s[c].dtype != o[c].dtype:
                try:
                    o[c] = o[c].astype(s[c].dtype)
                except Exception:
                    pass
        assert len(s) == len(o), (name, len(s), len(o))
        assert list(s.columns) == list(o.columns), (name, s.columns, o.columns)
        assert vhash(s) == vhash(o), f"{name}: value hash mismatch on boundary fixture"


def test_oracles_agree_on_boundary_fixtures(spark, tmp_path):
    """The driver gate compares Spark vs DuckDB on the sf tables, which
    need not contain the convention boundaries; the two adversarial
    fixtures above pin Spark vs hand-derivation only. This closes the
    triangle: run the REGISTERED oracle SQL on the same adversarial
    parquet and hash-compare — a dialect divergence at exactly 30
    days/minutes, at the 1h attribution edge, at the depth cap, or on
    RANGE peers now fails loudly instead of hiding outside the sf data
    distribution."""
    from datetime import datetime, timedelta

    import duckdb
    import pandas as pd

    import os

    # events fixture (same shape as the event boundary test)
    t0 = datetime(2024, 3, 1, 12, 0, 0)
    s = lambda sec: t0 + timedelta(seconds=sec)
    ev_rows = [
        (1, s(0), 1, "view", 1.0), (2, s(1800), 1, "view", None),
        (3, s(1800) + timedelta(seconds=1800, microseconds=1), 1, "view", 3.0),
        (10, s(100), 2, "click", None), (11, s(100), 2, "purchase", 5.0),
        (12, s(200), 2, "purchase", None), (13, s(200), 2, "click", 7.0),
        (20, s(0), 3, "click", None), (21, s(3600), 3, "purchase", 9.0),
        (22, s(3601), 3, "purchase", None), (30, s(50), 4, "view", None),
    ]
    ev = pd.DataFrame(
        ev_rows, columns=["event_id", "ts", "user_id", "event_type", "value"]
    )
    ev["ts"] = ev["ts"].astype("datetime64[us]")
    ev["props"] = "{}"

    # orders fixture (same shape as the order boundary test)
    t1, t2 = datetime(2024, 1, 10), datetime(2024, 5, 1)
    t4, t5 = datetime(2024, 7, 1), datetime(2024, 6, 15)
    o_rows = (
        [(101, 1, t1, 100.0), (102, 1, t1 + timedelta(days=30), 100.0),
         (103, 1, t1 + timedelta(days=61), 100.0)]
        + [(200 + i, 2, t2 + timedelta(days=i), 50.0) for i in range(25)]
        + [(301, 3, datetime(2023, 12, 5), 10.0),
           (302, 3, datetime(2024, 1, 5), 10.0),
           (303, 3, datetime(2024, 3, 5), 10.0)]
        + [(401, 4, t4, 100.0), (402, 4, t4 + timedelta(days=7), 200.0),
           (403, 4, t4 + timedelta(days=7, microseconds=1), 400.0)]
        + [(501, 5, t5, 10.0), (502, 5, t5, 20.0)]
    )
    orders = pd.DataFrame(
        o_rows, columns=["o_orderkey", "o_custkey", "o_orderdate", "o_totalprice"]
    )
    orders["o_orderdate"] = orders["o_orderdate"].astype("datetime64[us]")

    d = str(tmp_path / "boundary_gate")
    os.makedirs(d, exist_ok=True)
    ev.to_parquet(os.path.join(d, "events.parquet"), index=False)
    orders.to_parquet(os.path.join(d, "orders.parquet"), index=False)

    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    for t in ("events", "orders"):
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{d}/{t}.parquet')"
        )
    _gate_compare(
        spark,
        con,
        d,
        [
            "events_sessionize_batch",
            "asof_join",
            "events_last_touch_attribution",
            "window_fill_forward",
            "scd2_history",
            "events_retention_cohort",
            "events_funnel",
            "events_sliding_window",
            "recursive_order_chains",
            "islands_active_months",
            "window_range_frame",
        ],
    )


def _olap_stats_boundary_fixture(tmp_path):
    """Adversarial fixture for the four remaining third-pinned operators
    (VERDICT r13 #2): orders groups sized to hit every distribution
    boundary (n=1: pct_rank 0 / stddev NULL / skewness 0-over-0; n=2:
    exactly-symmetric skew 0; n=4: even-count median interpolation and a
    full ntile(4); n=5 with ties AT the median; n=6: the uneven
    2,2,1,1 ntile bucket rule), bracket predicates at every inclusive
    edge plus the Brand#34-vs-Brand#3 equality trap and a cross-side
    precedence trap, and last-shipper orders covering the
    single-supplier EXISTS exclusion, the max-shipdate tie (both
    qualify), a supplier whose earlier line is beaten but whose later
    line wins (counted once), and a non-'F' order. Returns the fixture
    dir; totalprices are integers so every power sum is exact in double
    and both engines round identical values."""
    from datetime import datetime

    import pandas as pd

    import os

    # orders: (key, status, totalprice, priority). Orders 1001-1006 do
    # double duty as the last-shipper orders AND the n=6 ntile group.
    o_rows = (
        [(1, "O", 128.0, "1-URGENT")]
        + [(2 + i, "O", p, "2-HIGH") for i, p in enumerate([10.0, 20.0, 30.0, 40.0])]
        + [(6 + i, "O", p, "3-MEDIUM")
           for i, p in enumerate([10.0, 20.0, 20.0, 20.0, 100.0])]
        + [(11, "O", 100.0, "4-NOT SPECIFIED"), (12, "O", 200.0, "4-NOT SPECIFIED")]
        + [(1001, "F", 50.0, "5-LOW"), (1002, "F", 60.0, "5-LOW"),
           (1003, "F", 70.0, "5-LOW"), (1004, "F", 80.0, "5-LOW"),
           (1005, "O", 90.0, "5-LOW"), (1006, "F", 95.0, "5-LOW")]
    )
    orders = pd.DataFrame(
        o_rows, columns=["o_orderkey", "o_orderstatus", "o_totalprice",
                         "o_orderpriority"]
    )

    part = pd.DataFrame(
        [(1, "Brand#12", 15), (2, "Brand#12", 16), (3, "Brand#23", 25),
         (4, "Brand#3", 35), (5, "Brand#3", 36), (6, "Brand#34", 10),
         (7, "Brand#12", 1)],
        columns=["p_partkey", "p_brand", "p_size"],
    )
    part["p_size"] = part["p_size"].astype("int32")

    d0 = datetime(2024, 1, 1)
    day = lambda y, m, dd: datetime(y, m, dd)
    # bracket lines ride orderkeys 9001+ (absent from orders) and
    # suppkey 99, so they are invisible to last_shipper; last-shipper
    # lines ride partkey 999 (absent from part), invisible to brackets
    li_rows = [
        # (orderkey, partkey, suppkey, qty, extprice, discount, shipdate)
        (9001, 1, 99, 1.0, 100.0, 0.0, d0),     # B12 s15: low qty edge -> +100
        (9002, 1, 99, 11.0, 200.0, 0.25, d0),   # high qty edge -> +150
        (9003, 1, 99, 12.0, 400.0, 0.0, d0),    # qty past edge -> out
        (9004, 1, 99, 0.5, 400.0, 0.0, d0),     # qty below edge -> out
        (9005, 2, 99, 15.0, 800.0, 0.0, d0),    # B12 s16: size out; qty 15
        #   sits in B23's 10-20 band -> the AND/OR precedence trap
        (9006, 3, 99, 10.0, 100.0, 0.5, d0),    # B23 s25: low qty edge -> +50
        (9007, 3, 99, 20.0, 100.0, 0.0, d0),    # high qty edge -> +100
        (9008, 3, 99, 9.5, 800.0, 0.0, d0),     # just below -> out
        (9009, 4, 99, 20.0, 100.0, 0.0, d0),    # B3 s35: low qty edge -> +100
        (9010, 4, 99, 30.0, 200.0, 0.5, d0),    # high qty edge -> +100
        (9011, 4, 99, 30.5, 800.0, 0.0, d0),    # just past -> out
        (9012, 5, 99, 25.0, 800.0, 0.0, d0),    # size 36 -> out
        (9013, 6, 99, 25.0, 800.0, 0.0, d0),    # Brand#34: equality, not
        #   prefix -- must NOT fall into the Brand#3 bracket
        (9014, 7, 99, 5.0, 100.0, 0.0, d0),     # B12 s1: low size edge -> +100
        (9015, 998, 99, 5.0, 800.0, 0.0, d0),   # no part row -> inner join drops
        # last-shipper orders
        (1001, 999, 1, 5.0, 10.0, 0.0, day(2024, 1, 1)),
        (1001, 999, 2, 5.0, 10.0, 0.0, day(2024, 1, 5)),   # s2 last -> s2
        (1002, 999, 1, 5.0, 10.0, 0.0, day(2024, 1, 1)),
        (1002, 999, 1, 5.0, 10.0, 0.0, day(2024, 1, 5)),   # single supplier:
        #   two lines but EXISTS(other supplier) fails -> excluded
        (1003, 999, 1, 5.0, 10.0, 0.0, day(2024, 2, 10)),
        (1003, 999, 2, 5.0, 10.0, 0.0, day(2024, 2, 10)),  # tie: BOTH qualify
        (1004, 999, 1, 5.0, 10.0, 0.0, day(2024, 3, 1)),
        (1004, 999, 2, 5.0, 10.0, 0.0, day(2024, 3, 5)),
        (1004, 999, 1, 5.0, 10.0, 0.0, day(2024, 3, 9)),   # s1's early line is
        #   beaten by s2, its later line wins -> s1 counted ONCE
        (1005, 999, 1, 5.0, 10.0, 0.0, day(2024, 4, 1)),
        (1005, 999, 2, 5.0, 10.0, 0.0, day(2024, 4, 5)),   # status 'O' -> excluded
        (1006, 999, 1, 5.0, 10.0, 0.0, day(2024, 5, 1)),
        (1006, 999, 2, 5.0, 10.0, 0.0, day(2024, 5, 3)),
        (1006, 999, 3, 5.0, 10.0, 0.0, day(2024, 5, 7)),   # three suppliers -> s3
    ]
    li = pd.DataFrame(
        li_rows,
        columns=["l_orderkey", "l_partkey", "l_suppkey", "l_quantity",
                 "l_extendedprice", "l_discount", "l_shipdate"],
    )
    li["l_shipdate"] = li["l_shipdate"].astype("datetime64[us]")

    supplier = pd.DataFrame(
        [(1, "Supplier#A"), (2, "Supplier#B"), (3, "Supplier#C"),
         (9, "Supplier#Unused")],
        columns=["s_suppkey", "s_name"],
    )

    d = str(tmp_path / "olap_stats_boundary")
    os.makedirs(d, exist_ok=True)
    orders.to_parquet(os.path.join(d, "orders.parquet"), index=False)
    li.to_parquet(os.path.join(d, "lineitem.parquet"), index=False)
    part.to_parquet(os.path.join(d, "part.parquet"), index=False)
    supplier.to_parquet(os.path.join(d, "supplier.parquet"), index=False)
    return d, orders


def test_olap_stats_boundary_cases_match_hand_derivation(spark, tmp_path):
    """Standalone pure-python references for the four operators on the
    adversarial fixture: moments recomputed from raw power sums exactly
    as documented (n=1 -> stddev AND skewness NULL, n=2 -> skew exactly
    0, even-count median interpolates, ties at the median), the window
    trio recomputed from first principles including the uneven ntile
    bucket rule, the bracket revenue summed by hand over the edge lines,
    and the last-shipper counts derived from the EXISTS/NOT-EXISTS
    definition directly."""
    import math

    from monthly_report_etl_spark.catalog import QUERIES

    d, orders = _olap_stats_boundary_fixture(tmp_path)

    # --- stats_moments_group: python power-sum reference ---
    got_m = {
        r["o_orderpriority"]: (r["n"], r["mean_price"], r["stddev_price"],
                               r["median_price"], r["skewness_price"])
        for r in QUERIES["stats_moments_group"](spark, d).collect()
    }
    for prio, grp in orders.groupby("o_orderpriority"):
        xs = sorted(grp.o_totalprice)
        n = len(xs)
        m1 = sum(xs) / n
        m2 = sum(x * x for x in xs) / n
        m3 = sum(x ** 3 for x in xs) / n
        sd = (math.sqrt(sum((x - m1) ** 2 for x in xs) / (n - 1))
              if n > 1 else None)
        med = (xs[n // 2] if n % 2 else (xs[n // 2 - 1] + xs[n // 2]) / 2)
        var = m2 - m1 * m1
        skew = ((m3 - 3 * m1 * m2 + 2 * m1 ** 3) / var ** 1.5
                if var > 0 else None)
        gn, gmean, gsd, gmed, gskew = got_m[prio]
        assert gn == n, prio
        assert abs(gmean - m1) <= 0.005 + 1e-9, (prio, gmean, m1)
        if sd is None:
            assert gsd is None, prio
        else:
            assert abs(gsd - sd) <= 0.005 + 1e-9, (prio, gsd, sd)
        assert abs(gmed - med) <= 0.005 + 1e-9, (prio, gmed, med)
        if skew is None:
            assert gskew is None, prio
        else:
            assert abs(gskew - skew) <= 0.0005 + 1e-9, (prio, gskew, skew)
    # the boundary groups really are what they claim to be
    assert got_m["1-URGENT"][0] == 1 and got_m["1-URGENT"][2] is None
    assert got_m["1-URGENT"][4] is None          # 0/0 skewness -> NULL
    assert got_m["2-HIGH"][3] == 25.0            # interpolated median
    assert got_m["2-HIGH"][4] == 0.0             # symmetric -> exactly 0
    assert got_m["3-MEDIUM"][3] == 20.0          # median inside the tie run
    assert got_m["4-NOT SPECIFIED"][4] == 0.0    # n=2 is always symmetric

    # --- window_distribution: first-principles reference ---
    got_w = {
        r["o_orderkey"]: (r["pct_rank"], r["cume"], r["quartile"])
        for r in QUERIES["window_distribution"](spark, d).collect()
    }
    for prio, grp in orders.groupby("o_orderpriority"):
        seq = sorted(zip(grp.o_totalprice, grp.o_orderkey))
        n = len(seq)
        sizes = [n // 4 + (1 if b < n % 4 else 0) for b in range(4)]
        tiles = [b + 1 for b in range(4) for _ in range(sizes[b])]
        for i, (_, key) in enumerate(seq):
            pct = i / (n - 1) if n > 1 else 0.0
            cume = (i + 1) / n
            gp, gc, gt = got_w[key]
            assert abs(gp - pct) <= 5e-7 + 1e-9, (key, gp, pct)
            assert abs(gc - cume) <= 5e-7 + 1e-9, (key, gc, cume)
            assert gt == tiles[i], (key, gt, tiles[i])
    assert got_w[1] == (0.0, 1.0, 1)                       # n=1 partition
    assert [got_w[k][2] for k in (1001, 1002, 1003, 1004, 1005, 1006)] == [
        1, 1, 2, 2, 3, 4]                                  # n=6: 2,2,1,1
    assert [got_w[k][2] for k in (6, 7, 8, 9, 10)] == [1, 1, 2, 3, 4]  # n=5

    # --- olap_disjunctive_brackets: hand-summed edge lines ---
    got_rev = QUERIES["olap_disjunctive_brackets"](spark, d).collect()[0]["revenue"]
    assert got_rev == 700.0, got_rev  # 100+150+50+100+100+100+100

    # --- olap_last_shipper: EXISTS/NOT-EXISTS by hand ---
    got_ls = {
        r["s_name"]: r["n_orders"]
        for r in QUERIES["olap_last_shipper"](spark, d).collect()
    }
    assert got_ls == {"Supplier#A": 2, "Supplier#B": 2, "Supplier#C": 1}


def test_yearly_growth_excludes_null_order_dates(spark, tmp_path):
    """NULL-year contract probe (fuzz-found r15, fixed r16): a NULL
    o_orderdate has no year, and before the fix its NULL group sat at
    opposite ends of the two engines' LAG sorts (Spark asc = NULLS
    FIRST, DuckDB = NULLS LAST), shifting every YoY delta in the
    partition — Spark's 1995 row lagged against the NULL-year revenue
    while the oracle's did not. Both sides now exclude NULL order
    dates. Pins: hand-derived deltas, the NULL-date revenue absent from
    every sum, no NULL-year row, and the full driver-gate differential
    against the registered oracle on the same fixture."""
    from datetime import datetime

    import duckdb
    import pandas as pd

    import os

    from monthly_report_etl_spark.catalog import QUERIES

    orders = pd.DataFrame(
        [(1, datetime(1995, 6, 1)), (2, datetime(1996, 6, 1)),
         (3, None),                       # the poison row: no year
         (4, datetime(1996, 7, 1))],
        columns=["o_orderkey", "o_orderdate"],
    )
    orders["o_orderdate"] = orders["o_orderdate"].astype("datetime64[us]")
    lineitem = pd.DataFrame(
        [(1, 1, 100.0, 0.0), (2, 1, 200.0, 0.25),  # 1996: 150 + 50
         (3, 1, 999.0, 0.0),                        # NULL-dated: excluded
         (4, 1, 100.0, 0.5)],
        columns=["l_orderkey", "l_suppkey", "l_extendedprice", "l_discount"],
    )
    supplier = pd.DataFrame(
        [(1, 0)], columns=["s_suppkey", "s_nationkey"]
    )
    nation = pd.DataFrame(
        [(0, "NATION_A")], columns=["n_nationkey", "n_name"]
    )

    d = str(tmp_path / "yearly_growth_null_year")
    os.makedirs(d, exist_ok=True)
    orders.to_parquet(os.path.join(d, "orders.parquet"), index=False)
    lineitem.to_parquet(os.path.join(d, "lineitem.parquet"), index=False)
    supplier.to_parquet(os.path.join(d, "supplier.parquet"), index=False)
    nation.to_parquet(os.path.join(d, "nation.parquet"), index=False)

    rows = {
        (r["nation"], r["o_year"]): (r["revenue"], r["yoy_delta"])
        for r in QUERIES["olap_yearly_growth"](spark, d).collect()
    }
    # exactly the two real years; the NULL-year group is gone entirely
    assert set(rows) == {("NATION_A", 1995), ("NATION_A", 1996)}, rows
    assert rows[("NATION_A", 1995)] == (100.0, None)
    # 1996 revenue = 200*0.75 + 100*0.5 = 200; delta vs 1995 = +100 —
    # and NOT lagged against the 999 NULL-year revenue (pre-fix Spark
    # gave 1995 a delta of 100 - 999 = -899)
    assert rows[("NATION_A", 1996)] == (200.0, 100.0)

    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    for t in ("orders", "lineitem", "supplier", "nation"):
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{d}/{t}.parquet')"
        )
    _gate_compare(spark, con, d, ["olap_yearly_growth"])


def test_sessionize_batch_excludes_null_event_times(spark, tmp_path):
    """NULL-event-time convention, batch twin (r16, found by extending
    the fuzzer to events_sessionize_batch): the streaming sessionize and
    the whole timeline family got the convention at r15 but the batch
    form was missed — a NULL-ts event sat NULLS FIRST in Spark's session
    sort (its own phantom first session, shifting every later
    session_seq) and NULLS LAST in DuckDB's (silently merged into the
    user's last session, inflating its n_events). Both sides now filter
    NULL ts. Pins the hand-derived sessions and the oracle gate."""
    from datetime import datetime, timedelta

    import duckdb
    import pandas as pd

    import os

    from monthly_report_etl_spark.catalog import QUERIES

    t0 = datetime(2024, 6, 1, 12, 0, 0)
    ev = pd.DataFrame(
        [(1, t0, 1), (2, t0 + timedelta(minutes=10), 1),
         (3, None, 1),                                    # the poison row
         (4, t0 + timedelta(hours=3), 1),
         (5, None, 2)],                                   # all-NULL user
        columns=["event_id", "ts", "user_id"],
    )
    ev["ts"] = ev["ts"].astype("datetime64[us]")
    d = str(tmp_path / "sessionize_null_ts")
    os.makedirs(d, exist_ok=True)
    ev.to_parquet(os.path.join(d, "events.parquet"), index=False)

    rows = {
        (r["user_id"], r["session_seq"]): (r["n_events"], r["session_start"],
                                           r["session_end"])
        for r in QUERIES["events_sessionize_batch"](spark, d).collect()
    }
    # exactly two sessions for user 1 (no phantom NaT session, no seq
    # shift), and the all-NULL user vanishes entirely
    assert set(rows) == {(1, 1), (1, 2)}, rows
    assert rows[(1, 1)] == (2, t0, t0 + timedelta(minutes=10))
    assert rows[(1, 2)][0] == 1

    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    con.execute(
        f"CREATE VIEW events AS SELECT * FROM read_parquet('{d}/events.parquet')"
    )
    _gate_compare(spark, con, d, ["events_sessionize_batch"])


def test_user_sequences_all_null_types_join_empty(spark, tmp_path):
    """r16, found the FIRST run after vhash learned to distinguish NULL
    from '' (finding 35's harness lesson applied): a user whose kept
    events ALL have NULL event_type got '' from Spark's array_join
    (drops NULL elements, joins the empty remainder) but NULL from the
    oracle's string_agg (skips NULLs; all-NULL group → NULL) — the two
    hash IDENTICALLY under plain to_csv, so every prior sweep was blind
    to it. The oracle now coalesces to '' per the r14 array_functions
    convention. Cell-level pins plus the (now NULL-aware) gate."""
    from datetime import datetime, timedelta

    import duckdb
    import pandas as pd

    import os

    from monthly_report_etl_spark.catalog import QUERIES

    t0 = datetime(2024, 5, 1, 10, 0, 0)
    ev = pd.DataFrame(
        [(1, t0, 1, None, 1.0, "{}"),                       # all-NULL user
         (2, t0 + timedelta(minutes=1), 1, None, 2.0, "{}"),
         (3, t0, 2, "view", 1.0, "{}"),                     # mixed user
         (4, t0 + timedelta(minutes=1), 2, None, 2.0, "{}"),
         (5, t0 + timedelta(minutes=2), 2, "click", 3.0, "{}")],
        columns=["event_id", "ts", "user_id", "event_type", "value", "props"],
    )
    ev["ts"] = ev["ts"].astype("datetime64[us]")
    ev["event_type"] = ev["event_type"].astype("string")
    d = str(tmp_path / "user_seq_null_types")
    os.makedirs(d, exist_ok=True)
    ev.to_parquet(os.path.join(d, "events.parquet"), index=False)

    rows = {r["user_id"]: r["seq"]
            for r in QUERIES["events_user_sequences"](spark, d).collect()}
    assert rows[1] == ""             # all-NULL types: empty join, NOT NULL
    assert rows[2] == "view>click"   # interior NULL dropped, no '>>'

    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    con.execute(
        f"CREATE VIEW events AS SELECT * FROM read_parquet('{d}/events.parquet')"
    )
    _gate_compare(spark, con, d, ["events_user_sequences"])


def test_sliding_window_pre_epoch_floor(spark, tmp_path):
    """PRE-EPOCH sliding-window contract (r16, found by probing extreme
    timestamps): DuckDB's // truncates toward zero, so the old oracle
    snapped a negative off-grid epoch to the grid point ABOVE the event
    and shifted all four windows a slide late; Spark's grouped window()
    floors correctly at any epoch. The oracle now uses time_bucket.
    Pins the hand-derived window sets for an off-grid pre-1970 event, a
    grid-aligned pre-1970 event, the epoch boundary, and a modern
    control — plus the registered-oracle gate on the same fixture."""
    from datetime import datetime, timedelta

    import duckdb
    import pandas as pd

    import os

    from monthly_report_etl_spark.catalog import QUERIES

    ev = pd.DataFrame(
        [(1, datetime(1963, 4, 11, 16, 13, 3), 1, "click", 1.0, "{}"),
         (2, datetime(1963, 4, 11, 16, 15, 0), 2, "view", 2.0, "{}"),
         (3, datetime(1969, 12, 31, 23, 59, 0), 3, "error", 3.0, "{}"),
         (4, datetime(1970, 1, 1, 0, 1, 0), 4, "signup", 4.0, "{}"),
         (5, datetime(2024, 4, 11, 16, 20, 0), 5, "purchase", 5.0, "{}")],
        columns=["event_id", "ts", "user_id", "event_type", "value", "props"],
    )
    ev["ts"] = ev["ts"].astype("datetime64[us]")
    d = str(tmp_path / "sliding_pre_epoch")
    os.makedirs(d, exist_ok=True)
    ev.to_parquet(os.path.join(d, "events.parquet"), index=False)

    got = {}
    for r in QUERIES["events_sliding_window"](spark, d).collect():
        got.setdefault(r["event_type"], []).append(r["window_start"])
    grid = lambda y, m, dd, hh, mm: [
        datetime(y, m, dd, hh, mm) - timedelta(minutes=15 * k) for k in range(4)
    ]
    # off-grid pre-1970: floor grid is 16:00 (the old truncating oracle
    # said 16:15, one slide late)
    assert sorted(got["click"]) == sorted(grid(1963, 4, 11, 16, 0)), got["click"]
    assert sorted(got["view"]) == sorted(grid(1963, 4, 11, 16, 15))   # on-grid
    assert sorted(got["error"]) == sorted(grid(1969, 12, 31, 23, 45))
    assert sorted(got["signup"]) == sorted(grid(1970, 1, 1, 0, 0))
    assert sorted(got["purchase"]) == sorted(grid(2024, 4, 11, 16, 15))

    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    con.execute(
        f"CREATE VIEW events AS SELECT * FROM read_parquet('{d}/events.parquet')"
    )
    _gate_compare(spark, con, d, ["events_sliding_window"])


def test_string_funcs_adversarial_names_cell_level(spark, tmp_path):
    """r16 string-frontier probe. DuckDB's split_part is NOT
    NULL-propagating (split_part(NULL,'#',1) = '' — measured), so a
    NULL name's name_stem diverged from Spark's NULL; the oracle now
    wraps it in a NULL-preserving CASE. Crucially the divergence is
    INVISIBLE to every CSV-hash compare (NULL and '' both render as an
    empty CSV field), so this probe diffs CELLS, not hashes — the
    NULL/'' distinction is asserted explicitly. The rest of the fixture
    pins the portable-subset agreement on accented/emoji/control-char
    names (strpos/substr/reverse/length are char-based in both
    engines); the two documented non-portable frontiers (Java
    special-casing upper, byte-based DuckDB levenshtein) stay out of
    the fixture by construction."""
    import duckdb
    import pandas as pd

    import os

    from monthly_report_etl_spark.catalog import QUERIES, ORACLES

    names = [None, "", "   ", "Customer#1", "café#42", "ábć#1#2",
             "a\tb#c", "emoji🙂#7", "Ωmega 9"]
    cust = pd.DataFrame({
        "c_custkey": range(1, len(names) + 1),
        "c_name": pd.array(names, dtype="string"),
        "c_mktsegment": pd.array(
            ["BUILDING", None, "", "AUTOMOBILE", "B", "MACHINERY",
             "FURNITURE", "BUILDIN", "AUTOMOBILE"], dtype="string"),
    })
    d = str(tmp_path / "string_adversarial")
    os.makedirs(d, exist_ok=True)
    cust.to_parquet(os.path.join(d, "customer.parquet"), index=False)

    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    con.execute(
        f"CREATE VIEW customer AS SELECT * FROM read_parquet('{d}/customer.parquet')"
    )
    s = {r["c_custkey"]: r.asDict()
         for r in QUERIES["string_funcs_customer"](spark, d).collect()}
    o_df = con.execute(ORACLES["string_funcs_customer"]).fetchdf()
    o = {int(r["c_custkey"]): {c: (None if pd.isna(r[c]) else r[c])
                               for c in o_df.columns}
         for _, r in o_df.iterrows()}
    assert set(s) == set(o)
    for k in s:
        for col, sv in s[k].items():
            ov = o[k][col]
            assert (sv is None and ov is None) or sv == ov, (k, col, sv, ov)
    # the cell-level teeth: NULL name -> NULL stem on BOTH sides (the
    # old oracle returned '' here, indistinguishable under a CSV hash)
    assert s[1]["name_stem"] is None and o[1]["name_stem"] is None
    assert s[2]["name_stem"] == "" and o[2]["name_stem"] == ""  # empty name
    assert s[5]["prefix8"] == "café#42"       # accents: char-based substr
    assert s[8]["name_len"] == len("emoji🙂#7")


def test_supplier_part_types_drops_unattributable_lines(spark, tmp_path):
    """NULL-suppkey contract (r16, found by the closing fuzz batch):
    SQL's three-valued NOT IN drops a NULL-suppkey line (NULL NOT IN
    (...) is NULL) while a left_anti join KEEPS it (NULL equals
    nothing), so a part supplied ONLY by unattributable lines formed a
    phantom supplier_cnt=0 group on the Spark side. A line with no
    supplier cannot witness one — filtered both sides now. Pins the
    phantom-group absence, a mixed part's count, and the oracle gate."""
    import duckdb
    import pandas as pd

    import os

    from monthly_report_etl_spark.catalog import QUERIES

    supplier = pd.DataFrame(
        [(1, 100.0), (2, -5.0)], columns=["s_suppkey", "s_acctbal"]
    )
    lineitem = pd.DataFrame(
        [(10, 1.0), (10, None), (20, None),  # part 20: ONLY a NULL line
         (10, 2.0)],                          # blocked supplier
        columns=["l_partkey", "l_suppkey"],
    )
    lineitem["l_suppkey"] = lineitem["l_suppkey"].astype("Int64")
    part = pd.DataFrame(
        [(10, "Brand#7", "STANDARD", 9), (20, "Brand#34", "ECONOMY", 45)],
        columns=["p_partkey", "p_brand", "p_type", "p_size"],
    )
    d = str(tmp_path / "spt_null_suppkey")
    os.makedirs(d, exist_ok=True)
    supplier.to_parquet(os.path.join(d, "supplier.parquet"), index=False)
    lineitem.to_parquet(os.path.join(d, "lineitem.parquet"), index=False)
    part.to_parquet(os.path.join(d, "part.parquet"), index=False)

    rows = {
        r["p_partkey"] if "p_partkey" in r else (r["p_brand"], r["p_type"], r["p_size"]):
            r["supplier_cnt"]
        for r in QUERIES["olap_supplier_part_types"](spark, d).collect()
    }
    # pre-fix Spark emitted ('Brand#34','ECONOMY',45) with count 0
    assert rows == {("Brand#7", "STANDARD", 9): 1}, rows

    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    for t in ("supplier", "lineitem", "part"):
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{d}/{t}.parquet')"
        )
    _gate_compare(spark, con, d, ["olap_supplier_part_types"])


def test_cheapest_supplier_null_acctbal_ranks_last(spark, tmp_path):
    """NULL-acctbal contract (r16, found by extending the fuzzer to
    olap_cheapest_supplier): Spark's struct ordering puts a NULL field
    FIRST ascending, so a supplier with an UNKNOWN balance beat every
    priced one — wrong under Q2's correlated-MIN semantics (MIN skips
    NULLs). The struct now leads with an isNull flag (exact NULLS LAST);
    a part whose suppliers ALL have NULL balances still resolves by the
    suppkey tie-break, matching the oracle's ROW_NUMBER over an all-NULL
    key."""
    import duckdb
    import pandas as pd

    import os

    from monthly_report_etl_spark.catalog import QUERIES

    supplier = pd.DataFrame(
        [(1, "Supplier#A", 100.0), (2, "Supplier#B", None),
         (3, "Supplier#C", 50.0), (4, "Supplier#D", None)],
        columns=["s_suppkey", "s_name", "s_acctbal"],
    )
    lineitem = pd.DataFrame(
        [(10, 1), (10, 2), (10, 3),   # part 10: NULL vs priced -> priced min
         (20, 2), (20, 4)],           # part 20: all-NULL -> suppkey tiebreak
        columns=["l_partkey", "l_suppkey"],
    )
    part = pd.DataFrame(
        [(10, "alpha", "PROMO"), (20, "beta", "PROMO")],
        columns=["p_partkey", "p_name", "p_type"],
    )
    d = str(tmp_path / "cheapest_null_acctbal")
    os.makedirs(d, exist_ok=True)
    supplier.to_parquet(os.path.join(d, "supplier.parquet"), index=False)
    lineitem.to_parquet(os.path.join(d, "lineitem.parquet"), index=False)
    part.to_parquet(os.path.join(d, "part.parquet"), index=False)

    rows = {
        r["p_partkey"]: (r["s_suppkey"], r["s_name"], r["s_acctbal"])
        for r in QUERIES["olap_cheapest_supplier"](spark, d).collect()
    }
    # pre-fix Spark picked supplier 2 (NULL acctbal) for part 10
    assert rows[10] == (3, "Supplier#C", 50.0), rows
    assert rows[20] == (2, "Supplier#B", None), rows

    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    for t in ("supplier", "lineitem", "part"):
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{d}/{t}.parquet')"
        )
    _gate_compare(spark, con, d, ["olap_cheapest_supplier"])


def _agg_window_boundary_fixture(tmp_path):
    """Fourth adversarial fixture (r14): the aggregate/window/date
    convention boundaries not covered by the three third-pin fixtures —
    real NULL group keys under GROUPING SETS (three all-NULL-key rows
    distinguished only by the grouping bits), FILTER-style aggregates
    with an all-filtered group (SUM → NULL → COALESCE 0) and exact
    threshold edges (strictly-greater 150000, inclusive 1997-01-01, a
    1996-12-31 23:59:59.999999 row one microsecond outside), interpolated
    percentiles on even counts / constant groups / n=1, corr/covar's
    pairwise-NULL deletion vs stddev/var's single-column deletion,
    NULLS FIRST/LAST rank placement incl. an all-NULL partition,
    ISO-week year boundaries (2021-01-01 → week 53, 2024-12-30 →
    week 1), leap last_day/dayofyear, Sunday isodow 7, and window
    frames whose sliding sum crosses NULL runs. Returns
    (dir, orders_df, events_df)."""
    from datetime import datetime

    import pandas as pd

    import os

    us = lambda *a: datetime(*a)
    o_rows = [
        # (key, priority, status, price, custkey, date)
        # P1: even-count percentiles; the 1997-01-01 inclusive edge and
        # the one-microsecond-before row; duplicate custkey for the
        # COUNT(DISTINCT)
        (1, "P1", "F", 100.0, 1, us(1997, 1, 1)),
        (2, "P1", "F", 200.0, 2, us(1996, 12, 31, 23, 59, 59, 999999)),
        (3, "P1", "O", 300.0, 3, us(1998, 1, 1)),
        (4, "P1", "O", 400.0, 3, us(1996, 6, 1)),
        # P2: n=1 group — percentiles collapse to the value, stddev/var/
        # covar/corr all NULL, both FILTER aggregates empty
        (5, "P2", "P", 120.0, 9, us(1996, 3, 1)),
        # P3: constant price — zero variance (corr undefined, var 0.0)
        (6, "P3", "F", 500.0, 10, us(1997, 2, 1)),
        (7, "P3", "F", 500.0, 20, us(1997, 3, 1)),
        (8, "P3", "F", 500.0, 30, us(1997, 4, 1)),
        (9, "P3", "O", 500.0, 40, us(1997, 5, 1)),
        (10, "P3", "O", 500.0, 50, us(1997, 6, 1)),
        # P4: the strictly-greater 150000 threshold edge
        (11, "P4", "F", 149000.0, 60, us(1997, 7, 1)),
        (12, "P4", "O", 150000.0, 61, us(1997, 8, 1)),
        (13, "P4", "O", 151000.0, 62, us(1997, 9, 1)),
        # real-NULL priority group: NULL status, NULL custkey, NULL
        # price, NULL date rows — pins GROUP BY NULL-key grouping,
        # grouping-bit disambiguation, and per-aggregate NULL deletion
        (901, None, "X", 1000.0, 71, us(1997, 5, 1)),
        (902, None, None, 3000.0, None, None),
        (903, None, "X", None, 72, us(1997, 6, 1)),
    ]
    orders = pd.DataFrame(
        o_rows,
        columns=["o_orderkey", "o_orderpriority", "o_orderstatus",
                 "o_totalprice", "o_custkey", "o_orderdate"],
    )
    orders["o_orderdate"] = orders["o_orderdate"].astype("datetime64[us]")
    orders["o_custkey"] = orders["o_custkey"].astype("Int64")

    e_rows = [
        # (event_id, ts, user_id, event_type, value)
        (1, us(2021, 1, 1), 1, "A", None),        # ISO week 53 of 2020, dow 5
        (9, us(2023, 1, 1), 1, "A", 2.0),         # ISO week 52 of 2022, dow 7
        (2, us(2024, 12, 30), 2, "A", None),      # ISO week 1 of 2025, dow 1
        (3, us(2024, 12, 30), 2, "A", 5.0),       # same-ts tie -> id order
        (5, us(2023, 2, 15), 3, "A", 1.0),        # non-leap: last_day Feb 28
        (4, us(2024, 2, 29), 3, "A", 5.0),        # leap day: last_day itself
        (7, us(2024, 6, 30, 23, 59, 59), 3, "B", None),  # Sunday: isodow 7, Q2
        (8, us(2024, 7, 1), 3, "C", None),        # quarter edge: Q3
        (6, us(2024, 12, 31), 3, "B", None),      # doy 366, ISO week 1 of 2025
    ]
    ev = pd.DataFrame(
        e_rows, columns=["event_id", "ts", "user_id", "event_type", "value"]
    )
    ev["ts"] = ev["ts"].astype("datetime64[us]")
    ev["props"] = "{}"

    d = str(tmp_path / "agg_window_boundary")
    os.makedirs(d, exist_ok=True)
    orders.to_parquet(os.path.join(d, "orders.parquet"), index=False)
    ev.to_parquet(os.path.join(d, "events.parquet"), index=False)
    return d, orders, ev


def test_agg_window_boundary_cases_match_hand_derivation(spark, tmp_path):
    """Standalone pure-python references for seven more convention-laden
    entries on the fourth adversarial fixture (tests-only extension of
    the r13/r14 triangle pattern; these entries are oracle-pinned on the
    sf tables every rotation window, this pins them AT the boundaries)."""
    import math
    from datetime import date, timedelta

    from monthly_report_etl_spark.catalog import QUERIES

    d, orders, ev = _agg_window_boundary_fixture(tmp_path)

    def rows_of(df):
        return [
            (None if pd_isna(p) else p, None if pd_isna(s) else s,
             None if pd_isna(x) else float(x),
             None if pd_isna(c) else int(c),
             None if pd_isna(dt) else dt)
            for p, s, x, c, dt in zip(
                df.o_orderpriority, df.o_orderstatus, df.o_totalprice,
                df.o_custkey, df.o_orderdate)
        ]

    import pandas as pd

    pd_isna = pd.isna
    R = rows_of(orders)

    # --- grouping_sets_orders: three sets by hand, NULL keys real ---
    got_gs = {
        (r["o_orderpriority"], r["o_orderstatus"], r["g_pri"], r["g_st"]):
            (r["n"], r["total"])
        for r in QUERIES["grouping_sets_orders"](spark, d).collect()
    }
    want_gs = {}

    def add_set(keyfn, g_pri, g_st):
        groups = {}
        for p, s, x, c, dt in R:
            groups.setdefault(keyfn(p, s), [0, 0.0, False])
        for p, s, x, c, dt in R:
            g = groups[keyfn(p, s)]
            g[0] += 1
            if x is not None:
                g[1] += x
                g[2] = True
        for k, (n, t, any_x) in groups.items():
            pri, st = k
            want_gs[(pri, st, g_pri, g_st)] = (
                n, round(t, 2) if any_x else None)

    add_set(lambda p, s: (p, None), 0, 1)
    add_set(lambda p, s: (None, s), 1, 0)
    add_set(lambda p, s: (None, None), 1, 1)
    assert got_gs == want_gs
    # the disambiguation trap: three all-NULL-key rows, split only by bits
    all_null = {k: v for k, v in got_gs.items() if k[0] is None and k[1] is None}
    assert set(all_null) == {(None, None, 0, 1), (None, None, 1, 0),
                             (None, None, 1, 1)}
    assert all_null[(None, None, 0, 1)] == (3, 4000.0)   # real-NULL priority
    assert all_null[(None, None, 1, 0)] == (1, 3000.0)   # real-NULL status
    assert all_null[(None, None, 1, 1)] == (len(R), all_null[(None, None, 1, 1)][1])

    # --- filtered_agg_orders ---
    got_fa = {
        r["o_orderpriority"]: (r["n_big"], r["recent_total"], r["n_customers"])
        for r in QUERIES["filtered_agg_orders"](spark, d).collect()
    }
    cutoff = pd.Timestamp(1997, 1, 1)
    for prio in {p for p, *_ in R}:
        grp = [(x, c, dt) for p, s, x, c, dt in R if p == prio]
        n_big = sum(1 for x, c, dt in grp if x is not None and x > 150000)
        recent = sum(x for x, c, dt in grp
                     if x is not None and dt is not None and dt >= cutoff)
        n_cust = len({c for x, c, dt in grp if c is not None})
        assert got_fa[prio] == (n_big, round(recent, 2), n_cust), prio
    assert got_fa["P2"] == (0, 0.0, 1)    # all-filtered group -> COALESCE 0
    assert got_fa["P4"][0] == 1           # 150000 is NOT > 150000
    assert got_fa["P1"] == (0, 400.0, 3)  # µs-before-1997 row excluded; dup custkey
    assert got_fa[None] == (0, 1000.0, 2)  # NULL date/price rows drop out

    # --- percentiles_exact: linear interpolation by hand ---
    got_pc = {
        r["o_orderpriority"]: (r["p25"], r["p50"], r["p90"], r["p99"])
        for r in QUERIES["percentiles_exact"](spark, d).collect()
    }

    def pct(xs, q):
        xs = sorted(xs)
        idx = (len(xs) - 1) * q
        lo, frac = int(idx // 1), idx % 1
        hi = min(lo + 1, len(xs) - 1)
        return xs[lo] + (xs[hi] - xs[lo]) * frac

    for prio in {p for p, *_ in R}:
        xs = [x for p, s, x, c, dt in R if p == prio and x is not None]
        for got, q in zip(got_pc[prio], (0.25, 0.5, 0.9, 0.99)):
            want = pct(xs, q)
            assert abs(got - want) <= 5e-5 + 1e-9 * abs(want), (prio, q, got, want)
    assert got_pc["P1"] == (175.0, 250.0, 370.0, 397.0)  # all interpolated
    assert got_pc["P2"] == (120.0,) * 4                  # n=1 collapses
    assert got_pc["P3"] == (500.0,) * 4                  # constant group

    # --- stats_corr: pairwise vs single-column NULL deletion ---
    got_sc = {
        r["o_orderpriority"]: (r["corr_price_cust"], r["covar_pc"],
                               r["sd_price"], r["var_price"])
        for r in QUERIES["stats_corr"](spark, d).collect()
    }

    def none_or_nan(v):
        return v is None or (isinstance(v, float) and math.isnan(v))

    for prio in {p for p, *_ in R}:
        pairs = [(x, float(c)) for p, s, x, c, dt in R
                 if p == prio and x is not None and c is not None]
        xs = [x for p, s, x, c, dt in R if p == prio and x is not None]
        n, m = len(pairs), len(xs)
        mx = sum(x for x, _ in pairs) / n if n else None
        my = sum(y for _, y in pairs) / n if n else None
        cv = (sum((x - mx) * (y - my) for x, y in pairs) / (n - 1)
              if n > 1 else None)
        sx2 = (sum((x - mx) ** 2 for x, _ in pairs) / (n - 1)) if n > 1 else None
        sy2 = (sum((y - my) ** 2 for _, y in pairs) / (n - 1)) if n > 1 else None
        corr = (cv / math.sqrt(sx2 * sy2)
                if cv is not None and sx2 and sy2 else None)
        mm = sum(xs) / m if m else None
        var = (sum((x - mm) ** 2 for x in xs) / (m - 1)) if m > 1 else None
        g_corr, g_cv, g_sd, g_var = got_sc[prio]
        if corr is None:
            assert none_or_nan(g_corr), (prio, g_corr)
        else:
            assert abs(g_corr - corr) <= 5e-7 + 1e-9, (prio, g_corr, corr)
        if cv is None:
            assert g_cv is None, prio
        else:
            assert abs(g_cv - cv) <= 5e-5 + 1e-9 * abs(cv), (prio, g_cv, cv)
        if var is None:
            assert g_var is None and g_sd is None, prio
        else:
            assert abs(g_var - var) <= 5e-5 + 1e-9 * abs(var), prio
            assert abs(g_sd - math.sqrt(var)) <= 5e-5 + 1e-9, prio
    assert none_or_nan(got_sc["P3"][0]) and got_sc["P3"][3] == 0.0  # zero var
    assert got_sc["P2"] == (None, None, None, None)                # n=1
    # NULL group: corr/covar see ONE complete pair; sd/var see TWO prices
    assert none_or_nan(got_sc[None][0]) and got_sc[None][1] is None
    assert got_sc[None][3] == 2000000.0

    # --- order_nulls_handling: rank placement by hand ---
    got_rk = {
        r["event_id"]: (r["rnk_desc_nulls_last"], r["rnk_asc_nulls_first"])
        for r in QUERIES["order_nulls_handling"](spark, d).collect()
    }
    E = list(zip(ev.event_id, ev.event_type, ev.value))
    for etype in {t for _, t, _ in E}:
        grp = [(i, None if pd_isna(v) else float(v)) for i, t, v in E if t == etype]
        by_desc = sorted(grp, key=lambda iv: (iv[1] is None,
                                              -(iv[1] or 0.0), iv[0]))
        by_asc = sorted(grp, key=lambda iv: (iv[1] is not None,
                                             iv[1] or 0.0, iv[0]))
        for pos, (i, _) in enumerate(by_desc):
            assert got_rk[i][0] == pos + 1, (etype, i)
        for pos, (i, _) in enumerate(by_asc):
            assert got_rk[i][1] == pos + 1, (etype, i)
    assert got_rk[8] == (1, 1)          # single NULL row: rank 1 both ways
    assert got_rk[1][0] == 5 and got_rk[1][1] == 1  # NULLs flip ends

    # --- date_funcs_extended: python calendar reference ---
    got_df = {
        r["event_id"]: r for r in QUERIES["date_funcs_extended"](spark, d).collect()
    }
    import calendar

    for i, ts in zip(ev.event_id, ev.ts):
        t = ts.to_pydatetime()
        r = got_df[i]
        iso = t.isocalendar()
        eom = t.replace(day=calendar.monthrange(t.year, t.month)[1],
                        hour=0, minute=0, second=0, microsecond=0)
        assert r["month_end"] == eom, (i, r["month_end"], eom)
        assert r["iso_dow"] == iso.weekday, i
        assert r["iso_week"] == iso.week, i
        assert r["q"] == (t.month - 1) // 3 + 1, i
        assert r["doy"] == t.timetuple().tm_yday, i
        assert r["days_since"] == (t.date() - date(2024, 1, 1)).days, i
        assert r["ts_plus_10d"] == t + timedelta(days=10), i
    assert got_df[1]["iso_week"] == 53 and got_df[1]["iso_dow"] == 5
    assert got_df[2]["iso_week"] == 1 and got_df[2]["iso_dow"] == 1
    assert got_df[9]["iso_week"] == 52 and got_df[9]["iso_dow"] == 7
    assert got_df[6]["doy"] == 366 and got_df[6]["iso_week"] == 1
    assert got_df[4]["month_end"].day == 29   # leap February
    assert got_df[5]["month_end"].day == 28   # non-leap February
    assert got_df[7]["iso_dow"] == 7          # Sunday is 7, not 0/1

    # --- window_family: frames across NULL runs, tie order, tiny ntile ---
    got_wf = {
        r["event_id"]: (r["rn"], r["quartile"], r["prev_value"],
                        r["next_value"], r["moving_sum_3"])
        for r in QUERIES["window_family"](spark, d).collect()
    }
    EV = [(int(i), ts.to_pydatetime(), int(u), None if pd_isna(v) else float(v))
          for i, ts, u, v in zip(ev.event_id, ev.ts, ev.user_id, ev.value)]
    for uid in {u for _, _, u, _ in EV}:
        seq = sorted([(t, i, v) for i, t, u, v in EV if u == uid])
        n = len(seq)
        sizes = [n // 4 + (1 if b < n % 4 else 0) for b in range(4)]
        tiles = [b + 1 for b in range(4) for _ in range(sizes[b])]
        for pos, (t, i, v) in enumerate(seq):
            window = [vv for _, _, vv in seq[max(0, pos - 2):pos + 1]
                      if vv is not None]
            want = (
                pos + 1,
                tiles[pos],
                seq[pos - 1][2] if pos > 0 else None,
                seq[pos + 1][2] if pos + 1 < n else None,
                round(sum(window), 2) if window else None,
            )
            assert got_wf[i] == want, (uid, i, got_wf[i], want)
    assert got_wf[6][4] is None   # all-NULL frame sums to NULL, not 0
    assert got_wf[2][0] == 1 and got_wf[3][0] == 2  # same-ts tie by id


def test_oracles_agree_on_agg_window_boundary_fixture(spark, tmp_path):
    """Gate leg of the fourth fixture: the seven REGISTERED DuckDB
    oracles run on the same adversarial parquet and hash-compare
    gate-style — NULL grouping keys, FILTER edges, interpolation,
    degenerate moments, NULL rank placement, ISO-week boundaries, and
    NULL-run frames now all hold Spark == oracle == hand-derivation."""
    import duckdb

    d, _, _ = _agg_window_boundary_fixture(tmp_path)
    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    for t in ("orders", "events"):
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{d}/{t}.parquet')"
        )
    _gate_compare(
        spark,
        con,
        d,
        [
            "grouping_sets_orders",
            "filtered_agg_orders",
            "percentiles_exact",
            "stats_corr",
            "order_nulls_handling",
            "date_funcs_extended",
            "window_family",
        ],
    )


def _dedup_setops_boundary_fixture(tmp_path):
    """Fifth adversarial fixture (r14): MAX_BY NULL-skip (the hand-rolled
    conditional ordering key must return the latest NON-NULL payload when
    the newest row carries NULLs, per-column independently), list-agg
    NULL handling and the strict >500 lambda edge, top-k selection when
    the tie block STRADDLES the k boundary (total-order tiebreak on
    orderkey), INTERSECT/EXCEPT NULL equality (NULL group keys compare
    equal in set ops), semi/anti with duplicate probe rows and a
    dangling lineitem, and the union bucket split at exactly 25 with a
    NULL quantity that belongs to NEITHER side. Timestamps are unique
    per user so every MAX_BY is deterministic (ties are genuinely
    nondeterministic in both engines, matching the reference's own
    MAX_BY, so they are not pinnable). Returns (dir, orders, events,
    lineitem) DataFrames."""
    from datetime import datetime, timedelta

    import pandas as pd

    import os

    t = lambda k: datetime(2024, 9, 1) + timedelta(hours=k)
    e_rows = [
        # u1: newest row is all-NULL payload -> every MAX_BY must reach
        # back to its own column's latest non-null, while MAX(ts) still
        # reports the newest row's time
        (101, t(1), 1, "a", 300.0, "p1"),
        (102, t(2), 1, "b", 600.0, "p2"),
        (103, t(3), 1, None, None, None),
        # u2: value never non-null -> NULL; props null only at the end
        (201, t(1), 2, "x", None, "q1"),
        (202, t(2), 2, "x", None, None),
        # u3: single event, value exactly 500 (strict > excludes), NULL type
        (301, t(5), 3, None, 500.0, "r1"),
        # u4: 501 vs 500 around the lambda edge; latest value IS non-null
        (401, t(1), 4, "m", 501.0, "s1"),
        (402, t(2), 4, "n", 500.0, "s2"),
    ]
    ev = pd.DataFrame(
        e_rows, columns=["event_id", "ts", "user_id", "event_type", "value", "props"]
    )
    ev["ts"] = ev["ts"].astype("datetime64[us]")

    o_rows = (
        # 105-row tie block at 9000 straddling the k=100 boundary
        [(2000 + i, 100 + i, 9000.0, "2-HIGH") for i in range(105)]
        + [(3001 + i, 201 + i, 9500.0, "2-HIGH") for i in range(3)]
        + [(4001, 301, 8000.0, "3-MEDIUM"), (4002, 302, 8000.0, "3-MEDIUM")]
        # set-ops rows: left (>150000) custkeys {NULL,7,8},
        # right (1-URGENT) custkeys {NULL,7,9}
        + [(5001, None, 200000.0, "5-LOW"), (5002, None, 100.0, "1-URGENT"),
           (5003, 7, 200000.0, "3-MEDIUM"), (5004, 7, 50.0, "1-URGENT"),
           (5005, 8, 160000.0, "4-NOT SPECIFIED"), (5006, 9, 10.0, "1-URGENT")]
    )
    orders = pd.DataFrame(
        o_rows, columns=["o_orderkey", "o_custkey", "o_totalprice", "o_orderpriority"]
    )
    orders["o_custkey"] = orders["o_custkey"].astype("Int64")

    li_rows = [
        (2000, 1, 25.0),     # exactly 25: 'high' only (>= is inclusive)
        (2000, 2, 24.999),   # 'low'; second line of 2000 (semi must not dup)
        (3001, 1, 30.0),     # 'high'
        (3001, 2, None),     # NULL quantity: in NEITHER union bucket
        (9999, 1, 10.0),     # dangling orderkey: 'low'; invisible to semi
    ]
    li = pd.DataFrame(li_rows, columns=["l_orderkey", "l_linenumber", "l_quantity"])
    li["l_linenumber"] = li["l_linenumber"].astype("int32")

    d = str(tmp_path / "dedup_setops_boundary")
    os.makedirs(d, exist_ok=True)
    ev.to_parquet(os.path.join(d, "events.parquet"), index=False)
    orders.to_parquet(os.path.join(d, "orders.parquet"), index=False)
    li.to_parquet(os.path.join(d, "lineitem.parquet"), index=False)
    return d, orders, ev, li


def test_dedup_setops_boundary_cases_match_hand_derivation(spark, tmp_path):
    """Hand-derivation leg of the fifth fixture."""
    from monthly_report_etl_spark.catalog import QUERIES

    d, orders, ev, li = _dedup_setops_boundary_fixture(tmp_path)

    # --- dedup_latest_maxby: per-column NULL-skip ---
    got_dl = {
        r["user_id"]: (r["time"], r["event_type"], r["value"], r["props"])
        for r in QUERIES["dedup_latest_maxby"](spark, d).collect()
    }
    from datetime import datetime, timedelta

    t = lambda k: datetime(2024, 9, 1) + timedelta(hours=k)
    assert got_dl[1] == (t(3), "b", 600.0, "p2")  # newest row all-NULL:
    #   MAX(ts) is still t3, every payload reaches back per-column
    assert got_dl[2] == (t(2), "x", None, "q1")   # never-non-null stays NULL
    assert got_dl[3] == (t(5), None, 500.0, "r1")
    assert got_dl[4] == (t(2), "n", 500.0, "s2")  # latest non-null wins even
    #   though an OLDER row has the larger value

    # --- collect_types_sorted: NULL drop + strict > edge ---
    got_ct = {
        r["user_id"]: (r["types_csv"], r["n_big"])
        for r in QUERIES["collect_types_sorted"](spark, d).collect()
    }
    assert got_ct[1] == ("a,b", 1)   # NULL type dropped from the list
    assert got_ct[2] == ("x,x", 0)   # duplicates preserved, sorted
    assert got_ct[3] == ("", 0)      # all-NULL list -> empty CSV; 500 not > 500
    assert got_ct[4] == ("m,n", 1)   # 501 counts, 500 does not

    # --- topk_orders: tie block straddles k=100 ---
    rows = QUERIES["topk_orders"](spark, d).collect()
    assert len(rows) == 100
    want_order = sorted(
        zip(orders.o_totalprice, orders.o_orderkey),
        key=lambda pk: (-pk[0], pk[1]),
    )[:100]
    assert [r["o_orderkey"] for r in rows] == [k for _, k in want_order]
    keys = {r["o_orderkey"] for r in rows}
    assert 2093 in keys and 2094 not in keys  # the tie cut falls mid-block,
    #   resolved by the orderkey tiebreak, not by engine luck
    assert rows[0]["o_orderkey"] == 5001 and rows[0]["o_custkey"] is None

    # --- set_ops: NULL compares EQUAL in INTERSECT/EXCEPT ---
    got_so = {r["op"]: r["n"] for r in QUERIES["set_ops"](spark, d).collect()}
    assert got_so == {"intersect": 2, "except": 1}  # {NULL,7} / {8}

    # --- semi_anti_join: duplicate probe lines, dangling lineitem ---
    got_sa = {r["op"]: r["n"] for r in QUERIES["semi_anti_join"](spark, d).collect()}
    assert got_sa == {"with_lineitems": 2, "without_lineitems": len(orders) - 2}

    # --- union_by_name: inclusive 25 split, NULL quantity in neither ---
    got_ub = {
        (r["l_orderkey"], r["l_linenumber"]): (r["bucket"], r["l_quantity"])
        for r in QUERIES["union_by_name"](spark, d).collect()
    }
    assert got_ub == {
        (2000, 1): ("high", 25.0),
        (2000, 2): ("low", 24.999),
        (3001, 1): ("high", 30.0),
        (9999, 1): ("low", 10.0),
    }  # the NULL-quantity line (3001, 2) appears in NEITHER bucket


def test_oracles_agree_on_dedup_setops_boundary_fixture(spark, tmp_path):
    """Gate leg of the fifth fixture: the six REGISTERED DuckDB oracles
    run on the same adversarial parquet and hash-compare gate-style."""
    import duckdb

    d, _, _, _ = _dedup_setops_boundary_fixture(tmp_path)
    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    for t in ("orders", "events", "lineitem"):
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{d}/{t}.parquet')"
        )
    _gate_compare(
        spark,
        con,
        d,
        [
            "dedup_latest_maxby",
            "collect_types_sorted",
            "topk_orders",
            "set_ops",
            "semi_anti_join",
            "union_by_name",
        ],
    )


def _nullsafe_boundary_fixture(tmp_path):
    """Sixth adversarial fixture (r14): the NULL-handling boundaries of
    the collection/JSON/coercion entries, which the sf tables cannot
    exercise (zero NULL event_type/value rows, all props well-formed,
    all lang strings either valid codes or numbers). Two event
    directories because map_from_entries RAISES on a NULL key in BOTH
    engines (not gate-testable): dir A carries NULL event_types/values +
    adversarial props for array_functions / json_extract_props /
    rollup / cube / numeric_coercion; dir B is NULL-key-free for
    map_functions (missing key vs NULL-value probes). Returns
    (dir_a, dir_b)."""
    from datetime import datetime, timedelta

    import pandas as pd

    import os

    t = lambda k: datetime(2024, 10, 1) + timedelta(hours=k)
    a_rows = [
        # u1: NULL type and NULL value rows interleaved; malformed props
        (1, t(1), 1, "click", 600.0, '{"k": 42}'),
        (2, t(2), 1, "view", None, '{"k": "abc"}'),
        (3, t(3), 1, None, 300.0, "{k:"),
        # u2: every type and value NULL -> empty arrays, '' joins, sum 0.0
        (4, t(4), 2, None, None, "{}"),
        (5, t(5), 2, None, None, "not json"),
        # u3: strict >500 edge inside the fold/filter; JSON null and a
        # nested object under k
        (6, t(6), 3, "error", 500.0, '{"k": null}'),
        (7, t(7), 3, "error", 501.0, '{"k": {"a": 1}}'),
        # u4: no overlap with the intersect probe set -> '' not NULL
        (8, t(8), 4, "purchase", 100.0, '{"k": "4.2"}'),
        # u5/u6 (r15, ADVICE r14): >=.5-fraction strings where DuckDB's
        # plain TRY_CAST ROUNDS (4.6 -> 5) but Spark's cast TRUNCATES
        # (4.6 -> 4) -- r14's lone '4.2' probe couldn't tell rounding
        # from truncation; plus the probes that break the naive
        # TRUNC-via-DOUBLE rewrite (scientific notation Spark rejects,
        # a 2^53+1 integer doubles can't hold), the empty-integer-part
        # form '.5' -> 0, a JSON number with a fraction, a boolean, and
        # a scalar-rooted doc (variant obj_as_long probe)
        (9, t(9), 5, "click", 1.0, '{"k": "4.6"}'),
        (10, t(10), 5, "view", 2.0, '{"k": "-4.6"}'),
        (11, t(11), 5, "view", 3.0, '{"k": 4.6}'),
        (12, t(12), 5, "view", 4.0, '{"k": "1e5"}'),
        (13, t(13), 6, "click", 5.0, '{"k": "9007199254740993"}'),
        (14, t(14), 6, "view", 6.0, '{"k": ".5"}'),
        (15, t(15), 6, "view", 7.0, '{"k": true}'),
        (16, t(16), 6, "view", 8.0, "42"),
        (17, t(17), 6, "view", 9.0, '{"k": 9007199254740993}'),
        # u7 (r16, ADVICE): control-char trim frontier — Spark's
        # string->long trimAll strips EVERY ASCII control + space + DEL
        # ([\x00-\x20\x7f], measured), not just the 6 classic whitespace
        # chars, and NOTHING above 0x7f (NBSP stays -> NULL). Applies to
        # BOTH the lenient cast and the variant strict grammar.
        (18, t(18), 7, "view", 1.0, '{"k": "\\u000111\\u0001"}'),
        (19, t(19), 7, "view", 2.0, '{"k": "\\u001c10\\u001c"}'),
        (20, t(20), 7, "view", 3.0, '{"k": "\\u00a05\\u00a0"}'),
    ]
    ev_a = pd.DataFrame(
        a_rows, columns=["event_id", "ts", "user_id", "event_type", "value", "props"]
    )
    ev_a["ts"] = ev_a["ts"].astype("datetime64[us]")

    li = pd.DataFrame(
        [("R", "F", 10.0), ("R", None, 20.0), (None, "F", 30.0),
         (None, None, 40.0), ("A", "F", None)],
        columns=["l_returnflag", "l_linestatus", "l_quantity"],
    )
    orders = pd.DataFrame(
        [("F", "1-URGENT"), ("F", None), (None, "1-URGENT"), (None, None),
         ("O", "2-HIGH")],
        columns=["o_orderstatus", "o_orderpriority"],
    )
    docs = pd.DataFrame(
        [(1, "en", 10), (2, "abc", 20), (3, "4.2", 30), (4, "NaN", 40),
         (5, "1e5", 50), (6, " 5 ", 60), (7, "Infinity", 70),
         (8, "0x10", 80), (9, None, 90)],
        columns=["doc_id", "lang", "n_chars"],
    )
    docs["n_chars"] = docs["n_chars"].astype("int64")

    da = str(tmp_path / "nullsafe_a")
    os.makedirs(da, exist_ok=True)
    ev_a.to_parquet(os.path.join(da, "events.parquet"), index=False)
    li.to_parquet(os.path.join(da, "lineitem.parquet"), index=False)
    orders.to_parquet(os.path.join(da, "orders.parquet"), index=False)
    docs.to_parquet(os.path.join(da, "documents.parquet"), index=False)

    b_rows = [
        (11, t(1), 1, "click", 100.0, "{}"),
        (12, t(2), 1, "click", 50.0, "{}"),
        (13, t(3), 1, "purchase", 70.0, "{}"),
        (14, t(4), 2, "view", 10.0, "{}"),       # no click key at all
        (15, t(5), 3, "click", None, "{}"),      # click key PRESENT,
        (16, t(6), 3, "click", None, "{}"),      #   value SUM(NULL) = NULL
    ]
    ev_b = pd.DataFrame(
        b_rows, columns=["event_id", "ts", "user_id", "event_type", "value", "props"]
    )
    ev_b["ts"] = ev_b["ts"].astype("datetime64[us]")
    db = str(tmp_path / "nullsafe_b")
    os.makedirs(db, exist_ok=True)
    ev_b.to_parquet(os.path.join(db, "events.parquet"), index=False)
    return da, db


def test_nullsafe_boundary_cases_match_hand_derivation(spark, tmp_path):
    """Hand-derivation leg of the sixth fixture."""
    from monthly_report_etl_spark.catalog import QUERIES

    da, db = _nullsafe_boundary_fixture(tmp_path)

    # --- array_functions: NULL-dropping collection semantics ---
    got_af = {
        r["user_id"]: (r["n_types"], r["types_str"], r["n_big"], r["sum_vals"],
                       r["first_doubled"], r["has_error"], r["common_types"])
        for r in QUERIES["array_functions"](spark, da).collect()
    }
    assert got_af[1] == (2, "click|view", 1, 900.0, 600.0, False, "click|view")
    assert got_af[2] == (0, "", 0, 0.0, None, False, "")  # all-NULL group:
    #   EMPTY arrays (not NULL), fold over [] is the init 0.0, joins are ''
    assert got_af[3] == (1, "error", 1, 1001.0, 1000.0, True, "error")
    assert got_af[4] == (1, "purchase", 0, 100.0, 200.0, False, "")  # empty
    #   intersect joins to '', not NULL

    # --- json_extract_props: lenient extraction semantics ---
    got_js = {
        r["event_id"]: (r["k_value"], r["k_missing"])
        for r in QUERIES["json_extract_props"](spark, da).collect()
    }
    assert got_js == {
        1: (42, False),
        2: (None, False),   # k present, non-numeric -> NULL value, not missing
        3: (None, True),    # malformed JSON -> lenient NULL
        4: (None, True),    # {} -> key missing
        5: (None, True),    # not json -> lenient NULL
        6: (None, True),    # JSON null extracts as SQL NULL
        7: (None, False),   # nested object extracts as text, numbers to NULL
        8: (4, False),      # '4.2' -> 4: BOTH engines truncate string->long
        9: (4, False),      # '4.6' -> 4: TRUNCATES (DuckDB TRY_CAST rounds
        #   to 5 -- the ADVICE r14 divergence, now oracle-mirrored)
        10: (-4, False),    # '-4.6' -> -4: toward zero, not floor (-5)
        11: (4, False),     # JSON number 4.6 extracts as '4.6', truncates
        12: (None, False),  # '1e5': Spark's cast REJECTS scientific notation
        13: (9007199254740993, False),  # 2^53+1: exact integer parse --
        #   a TRUNC-via-DOUBLE oracle would round to ...992
        14: (0, False),     # '.5': empty integer part parses as 0
        15: (None, False),  # boolean extracts as 'true', not a number
        16: (None, True),   # scalar-rooted doc: no k at all
        17: (9007199254740993, False),  # 2^53+1 as a JSON NUMBER
        18: (11, False),    # '\x0111\x01': SOH is trimmed (full control set)
        19: (10, False),    # '\x1c10\x1c': FS is trimmed
        20: (None, False),  # NBSP is NOT trimmed -> parse fails
    }

    # --- json_variant_extract: the variant cast contract (r15 twin) ---
    got_jv = {
        r["event_id"]: (r["k_long"], r["k_str"], r["obj_as_long"])
        for r in QUERIES["json_variant_extract"](spark, da).collect()
    }
    assert got_jv == {
        1: (42, "42", None),
        2: (None, "abc", None),     # non-numeric string -> NULL long
        3: (None, None, None),      # malformed: try_parse_json -> NULL variant
        4: (None, None, None),      # {} -> key missing
        5: (None, None, None),
        6: (None, None, None),      # JSON null
        7: (None, '{"a":1}', None),  # object renders compact
        8: (None, "4.2", None),     # variant string->long is ANSI-STRICT:
        #   fractional text fails (vs get_json_object+cast's lenient
        #   truncation of the SAME text to 4 -- the pinned contrast)
        9: (None, "4.6", None),
        10: (None, "-4.6", None),
        11: (4, "4.6", None),       # JSON NUMBER truncates toward zero
        12: (None, "1e5", None),    # scientific text fails the strict parse
        13: (9007199254740993, "9007199254740993", None),  # ...but a
        #   pure-integer STRING parses exactly under the strict grammar
        14: (None, ".5", None),
        15: (1, "true", None),      # boolean -> 1
        16: (None, None, 42),       # scalar-rooted doc: '$' cast succeeds
        17: (9007199254740993, "9007199254740993", None),  # BIGINT
        #   branch: variant keeps int64-range integers exact (a double
        #   would round 2^53+1 to ...992)
        18: (11, "\x0111\x01", None),  # strict grammar trims the same
        19: (10, "\x1c10\x1c", None),  #   [\x00-\x20\x7f] set (measured)
        20: (None, "\xa05\xa0", None),  # NBSP not trimmed -> strict fail
    }

    # --- rollup_lineitem / cube_orders: REAL NULL keys vs subtotal NULLs ---
    got_ru = {
        (r["l_returnflag"], r["l_linestatus"], r["gid"]): (r["n"], r["sum_qty"])
        for r in QUERIES["rollup_lineitem"](spark, da).collect()
    }
    # real (NULL, NULL) leaf vs (NULL, subtotal) vs grand total: gid splits
    assert got_ru[(None, None, 0)] == (1, 40.0)
    assert got_ru[(None, None, 1)] == (2, 70.0)   # flag-NULL subtotal
    assert got_ru[(None, None, 3)] == (5, 100.0)  # grand total; NULL qty
    #   skipped by SUM but counted by count(*)
    assert got_ru[("A", "F", 0)] == (1, None)     # all-NULL qty group sums NULL
    assert got_ru[("R", None, 0)] == (1, 20.0)    # real NULL status leaf
    assert got_ru[("R", None, 1)] == (2, 30.0)    # R subtotal

    got_cu = {
        (r["o_orderstatus"], r["o_orderpriority"], r["gid"]): r["n"]
        for r in QUERIES["cube_orders"](spark, da).collect()
    }
    assert got_cu[(None, None, 0)] == 1   # real NULL/NULL leaf
    assert got_cu[(None, None, 1)] == 2   # status-NULL x priority subtotal
    assert got_cu[(None, None, 2)] == 2   # priority-NULL x status subtotal
    assert got_cu[(None, None, 3)] == 5   # grand total
    assert got_cu[("F", "1-URGENT", 0)] == 1 and got_cu[("F", None, 0)] == 1

    # --- numeric_coercion: pd.to_numeric(errors='coerce') semantics ---
    import math

    got_nc = {
        r["doc_id"]: (r["lang_as_num"], r["n_chars_num"])
        for r in QUERIES["numeric_coercion"](spark, da).collect()
    }
    assert got_nc[1][0] is None          # 'en'
    assert got_nc[2][0] is None          # 'abc'
    assert got_nc[3][0] == 4.2
    assert math.isnan(got_nc[4][0])      # 'NaN' parses to NaN, not NULL
    assert got_nc[5][0] == 100000.0      # '1e5'
    assert got_nc[6][0] == 5.0           # ' 5 ' trims
    assert math.isinf(got_nc[7][0])      # 'Infinity'
    assert got_nc[8][0] is None          # '0x10' does NOT hex-parse
    assert got_nc[9][0] is None          # NULL in, NULL out
    assert all(got_nc[i][1] == i * 10.0 for i in range(1, 10))

    # --- map_functions (dir B): missing key vs NULL value ---
    got_mf = {
        r["user_id"]: (r["n_keys"], r["click_sum"], r["purchase_sum"])
        for r in QUERIES["map_functions"](spark, db).collect()
    }
    assert got_mf[1] == (2, 150.0, 70.0)
    assert got_mf[2] == (1, None, None)   # no click/purchase keys at all
    assert got_mf[3] == (1, None, None)   # click key PRESENT with NULL sum —
    #   indistinguishable from missing through element_at, pinned equal


def test_oracles_agree_on_nullsafe_boundary_fixture(spark, tmp_path):
    """Gate leg of the sixth fixture: six REGISTERED oracles on the same
    adversarial parquet — including the two oracles this fixture caught
    diverging (array_functions' NULL-keeping list()/NULL-returning
    array_to_string, json_extract_props' strict json parse + CAST),
    fixed r14 to mirror the Spark sides' documented semantics."""
    import duckdb

    da, db = _nullsafe_boundary_fixture(tmp_path)
    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    for t in ("events", "lineitem", "orders", "documents"):
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{da}/{t}.parquet')"
        )
    _gate_compare(
        spark,
        con,
        da,
        [
            "array_functions",
            "json_extract_props",
            "json_variant_extract",
            "rollup_lineitem",
            "cube_orders",
            "numeric_coercion",
        ],
    )
    con_b = duckdb.connect()
    con_b.execute("SET TimeZone='UTC'")
    con_b.execute(
        f"CREATE VIEW events AS SELECT * FROM read_parquet('{db}/events.parquet')"
    )
    _gate_compare(spark, con_b, db, ["map_functions"])


def _scalar_boundary_fixture(tmp_path):
    """Seventh adversarial fixture (r14): scalar-function conventions —
    month arithmetic CLAMPING (Mar 31 − 1 month = Feb 29, Jan 31 → Dec
    31, Dec 31 23:59:59.999999 → Nov 30 with time preserved), the
    order-sensitive CASE classifier at its exact thresholds (800/300
    strictly greater, purchase-with-NULL hits the INNER otherwise,
    error precedes the NULL branch, 50 exactly is not < 50), regex on
    empty/NULL/multiline/all-vowel/unicode text with case-sensitive
    containment, string functions on empty/NULL/undelimited inputs
    (lpad TRUNCATES past 12, strpos miss → 0, levenshtein vs empty),
    and the calendar spine's inclusive ends with out-of-range months
    silently absent. Returns (dir, events, docs, customers, orders)."""
    from datetime import datetime

    import pandas as pd

    import os

    e_rows = [
        (1, datetime(2024, 3, 31), 1, "purchase", 801.0),
        (2, datetime(2024, 1, 31), 1, "purchase", 800.0),
        (3, datetime(2024, 3, 29, 12, 30, 45), 1, "purchase", 300.0),
        (4, datetime(2024, 2, 29), 1, "purchase", None),
        (5, datetime(2023, 12, 31, 23, 59, 59, 999999), 2, "view", None),
        (6, datetime(2024, 1, 1), 2, "view", 49.999),
        (7, datetime(2024, 5, 15), 2, "view", 50.0),
        (8, datetime(2024, 7, 4), 2, "click", 801.0),
        (9, datetime(2024, 8, 31), 2, "error", None),
    ]
    ev = pd.DataFrame(
        e_rows, columns=["event_id", "ts", "user_id", "event_type", "value"]
    )
    ev["ts"] = ev["ts"].astype("datetime64[us]")
    ev["props"] = "{}"

    docs = pd.DataFrame(
        [(1, ""), (2, None), (3, "aeiou"), (4, "a\nspark\nb"),
         (5, "SPARK IS LOUD"), (6, "sparkly stuff"), (7, "café")],
        columns=["doc_id", "text"],
    )
    cust = pd.DataFrame(
        [(1, "Customer#000000001", "BUILDING"),
         (2, "no-delim-name", "AUTOMOBILE"),
         (3, "", ""),
         (4, "zzz", "FURNITURE-PLUS-LONG"),
         (5, "Name#1#2", None)],
        columns=["c_custkey", "c_name", "c_mktsegment"],
    )
    orders = pd.DataFrame(
        [(1, datetime(1995, 1, 1), 10.0), (2, datetime(2001, 8, 1), 20.0),
         (3, datetime(2001, 8, 31), 30.0), (4, datetime(1994, 12, 31), 40.0),
         (5, datetime(2001, 9, 2), 50.0), (6, datetime(1997, 6, 15), 60.0)],
        columns=["o_orderkey", "o_orderdate", "o_totalprice"],
    )
    orders["o_orderdate"] = orders["o_orderdate"].astype("datetime64[us]")

    d = str(tmp_path / "scalar_boundary")
    os.makedirs(d, exist_ok=True)
    ev.to_parquet(os.path.join(d, "events.parquet"), index=False)
    docs.to_parquet(os.path.join(d, "documents.parquet"), index=False)
    cust.to_parquet(os.path.join(d, "customer.parquet"), index=False)
    orders.to_parquet(os.path.join(d, "orders.parquet"), index=False)
    return d, ev, docs, cust, orders


def test_scalar_boundary_cases_match_hand_derivation(spark, tmp_path):
    """Hand-derivation leg of the seventh fixture."""
    import calendar
    from datetime import datetime, timedelta

    from monthly_report_etl_spark.catalog import QUERIES

    d, ev, docs, cust, orders = _scalar_boundary_fixture(tmp_path)

    # --- date_ops: month subtraction with day clamping ---
    def minus_month(t):
        y, m = (t.year, t.month - 1) if t.month > 1 else (t.year - 1, 12)
        return t.replace(year=y, month=m,
                         day=min(t.day, calendar.monthrange(y, m)[1]))

    got_do = {r["event_id"]: r for r in QUERIES["date_ops"](spark, d).collect()}
    for i, ts in zip(ev.event_id, ev.ts):
        t = ts.to_pydatetime()
        r = got_do[i]
        assert r["month_start"] == t.replace(day=1, hour=0, minute=0,
                                             second=0, microsecond=0), i
        assert r["month_label"] == f"{t.year:04d}-{t.month:02d}", i
        assert r["one_month_before"] == minus_month(t), i
        assert (r["y"], r["m"]) == (t.year, t.month), i
    assert got_do[1]["one_month_before"] == datetime(2024, 2, 29)  # clamp to leap
    assert got_do[2]["one_month_before"] == datetime(2023, 12, 31)
    assert got_do[5]["one_month_before"] == datetime(
        2023, 11, 30, 23, 59, 59, 999999)  # 31 -> 30 clamp, time preserved

    # --- case_classifier: exact thresholds and branch precedence ---
    got_cc = {
        r["event_id"]: r["label"]
        for r in QUERIES["case_classifier"](spark, d).collect()
    }
    assert got_cc == {
        1: "Export Winner Deals",       # 801 > 800
        2: "Secondary Export Deals",    # 800 is NOT > 800
        3: "Deals Not Exported",        # 300 is NOT > 300
        4: "Deals Not Exported",        # purchase+NULL: INNER otherwise,
        #   never reaches the outer NULL branch
        5: "Not Available Scenarios",
        6: "Failed Out of Scope Deals",
        7: "Unknown",                   # 50 is NOT < 50
        8: "Unknown",
        9: "Failed In Scope Deals",     # error precedes the NULL branch
    }

    # --- regex_clean_strings ---
    import re

    got_rx = {
        r["doc_id"]: (r["devoweled"], r["mentions_spark"], r["n_chars_computed"])
        for r in QUERIES["regex_clean_strings"](spark, d).collect()
    }
    for i, text in zip(docs.doc_id, docs.text):
        if text is None:
            assert got_rx[i] == (None, None, None), i
        else:
            assert got_rx[i] == (re.sub("[aeiou]", "", text),
                                 re.search("spark", text) is not None,
                                 len(text)), i
    assert got_rx[3][0] == ""            # all-vowel text strips to empty
    assert got_rx[5][1] is False         # case-sensitive: SPARK != spark
    assert got_rx[7] == ("cfé", False, 4)  # unicode char counts, é untouched

    # --- string_funcs_customer ---
    def lev(a, b):
        prev = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            cur = [i]
            for j, cb in enumerate(b, 1):
                cur.append(min(prev[j] + 1, cur[j - 1] + 1,
                               prev[j - 1] + (ca != cb)))
            prev = cur
        return prev[len(b)]

    got_sf = {r["c_custkey"]: r
              for r in QUERIES["string_funcs_customer"](spark, d).collect()}
    for _, row in cust.iterrows():
        k, name, seg = row.c_custkey, row.c_name, row.c_mktsegment
        r = got_sf[k]
        assert r["up"] == name.upper() and r["prefix8"] == name[:8], k
        assert r["name_len"] == len(name), k
        assert r["name_dash"] == name.replace("#", "-"), k
        assert r["pos_one"] == name.find("1") + 1, k
        assert r["name_stem"] == name.split("#")[0], k
        if seg is None:
            assert r["seg_rev"] is None and r["seg_pad"] is None, k
            assert r["lev_building"] is None, k
            assert r["seg_name"] == name, k  # concat_ws skips NULLs
        else:
            assert r["seg_rev"] == seg[::-1], k
            pad = "*" * max(0, 12 - len(seg)) + seg
            assert r["seg_pad"] == pad[:12] if len(seg) > 12 else r["seg_pad"] == pad, k
            assert r["lev_building"] == lev(seg, "BUILDING"), k
            assert r["seg_name"] == f"{seg}|{name}", k
    assert got_sf[4]["seg_pad"] == "FURNITURE-PL"  # lpad TRUNCATES past 12
    assert got_sf[3]["lev_building"] == 8          # empty vs BUILDING
    assert got_sf[4]["pos_one"] == 0               # strpos miss is 0, not NULL
    assert got_sf[2]["name_stem"] == "no-delim-name"  # no delimiter: whole

    # --- calendar_spine_monthly: inclusive ends, out-of-range absent ---
    got_cs = {
        r["month"]: (r["n_orders"], r["total"])
        for r in QUERIES["calendar_spine_monthly"](spark, d).collect()
    }
    assert len(got_cs) == 80  # 1995-01 .. 2001-08 inclusive
    assert got_cs[datetime(1995, 1, 1)] == (1, 10.0)   # first spine month
    assert got_cs[datetime(2001, 8, 1)] == (2, 50.0)   # last spine month
    assert got_cs[datetime(1997, 6, 1)] == (1, 60.0)
    assert datetime(1994, 12, 1) not in got_cs         # out-of-range orders
    assert datetime(2001, 9, 1) not in got_cs          #   silently absent
    zero = [v for v in got_cs.values() if v == (0, 0.0)]
    assert len(zero) == 77  # every other spine month densified to zero


def test_oracles_agree_on_scalar_boundary_fixture(spark, tmp_path):
    """Gate leg of the seventh fixture: five REGISTERED oracles on the
    same adversarial parquet, hash-compared gate-style."""
    import duckdb

    d, *_ = _scalar_boundary_fixture(tmp_path)
    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    for t in ("events", "documents", "customer", "orders"):
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{d}/{t}.parquet')"
        )
    _gate_compare(
        spark,
        con,
        d,
        [
            "date_ops",
            "case_classifier",
            "regex_clean_strings",
            "string_funcs_customer",
            "calendar_spine_monthly",
        ],
    )


def _text_boundary_fixture(tmp_path):
    """Eighth adversarial fixture (r14): the text-family operators on
    empty / NULL / whitespace-only / punctuation-only / unicode text and
    language-score ties — none of which the sf documents table contains.
    Returns (dir, docs)."""
    import pandas as pd

    import os

    docs = pd.DataFrame(
        [(1, ""), (2, None), (3, "   "),
         (4, "The quick fox and the dog is that you"),
         (5, "der und die das ist nicht mit ein"),
         (6, "!!!???..."),
         (7, "café déjà vu"),
         (8, "a"),
         (9, "the the the"),
         (10, "le la les et est dans des une"),
         (11, "the der"),
         # r15 (pre-stated c4-filter twin): boilerplate / code markers
         # with otherwise-passing stats, and a gibberish doc whose mean
         # token length breaks the [2, 12] band
         (12, "Lorem ipsum dolor sit amet and then the fox ran"),
         (13, "if (x) { return y; } else { return z; }"),
         (14, "a b c d e f g h i j")],
        columns=["doc_id", "text"],
    )
    d = str(tmp_path / "text_boundary")
    os.makedirs(d, exist_ok=True)
    docs.to_parquet(os.path.join(d, "documents.parquet"), index=False)
    return d, docs


def test_text_boundary_cases_match_python_reference(spark, tmp_path):
    """Standalone pure-python references for the four text operators on
    the eighth fixture — token counts, stopword scores with the fixed
    tie-priority argmax, the quality composite, and the rolling-hash
    fingerprint, all recomputed with `re`/arithmetic only."""
    import re

    from monthly_report_etl_spark.catalog import QUERIES
    from monthly_report_etl_spark.functions.text import (
        FINGERPRINT_MOD,
        LANGUAGE_STOPWORDS,
        TOKEN_REGEX,
        stopword_regex,
    )

    d, docs = _text_boundary_fixture(tmp_path)
    langs = list(LANGUAGE_STOPWORDS)

    def scores_of(text):
        return {lang: len(re.findall(stopword_regex(lang), text.lower()))
                for lang in langs}

    def predict(scores):
        for i, lang in enumerate(langs[:-1]):
            if all(scores[lang] >= scores[o] for o in langs[i + 1:]):
                return lang
        return langs[-1]

    # --- text_token_stats ---
    got_ts = {
        r["doc_id"]: (r["n_ws_tokens"], r["n_bpe_tokens"], r["n_chars_exact"])
        for r in QUERIES["text_token_stats"](spark, d).collect()
    }
    for i, text in zip(docs.doc_id, docs.text):
        if text is None:
            assert got_ts[i] == (None, None, None), i
        else:
            assert got_ts[i] == (len(text.split()),
                                 len(re.findall(TOKEN_REGEX, text)),
                                 len(text)), i
    assert got_ts[1] == (0, 0, 0)      # empty: zero tokens, not ['']
    assert got_ts[3] == (0, 0, 3)      # whitespace-only: zero tokens
    assert got_ts[6] == (1, 9, 9)      # punctuation: 1 ws-token, 9 symbols

    # --- text_language_id ---
    got_li = {
        r["doc_id"]: (tuple(r[f"score_{l}"] for l in langs), r["predicted_lang"])
        for r in QUERIES["text_language_id"](spark, d).collect()
    }
    for i, text in zip(docs.doc_id, docs.text):
        if text is None:
            # all scores NULL: every >= comparison is NULL, every branch
            # falls through, the CASE lands on the final language
            assert got_li[i] == ((None,) * 4, langs[-1]), i
        else:
            sc = scores_of(text)
            assert got_li[i] == (tuple(sc[l] for l in langs), predict(sc)), i
    assert got_li[6][1] == langs[0]    # all-zero tie: first language wins
    assert got_li[11][1] == "en"       # en/de tie: priority order, not luck
    assert got_li[5][1] == "de" and got_li[10][1] == "fr"

    # --- text_quality_score ---
    got_qs = {
        r["doc_id"]: (r["n_chars_exact"], r["n_tokens"], r["punct_ratio"],
                      r["stopword_ratio"], r["quality_score"])
        for r in QUERIES["text_quality_score"](spark, d).collect()
    }
    for i, text in zip(docs.doc_id, docs.text):
        if text is None:
            assert got_qs[i] == (None,) * 5, i
            continue
        n_chars, n_tok = len(text), len(text.split())
        n_punct = len(re.findall(r"[^A-Za-z0-9\s]", text))
        n_stop = len(re.findall(stopword_regex("en"), text.lower()))
        pr = n_punct / max(n_chars, 1)
        sr = n_stop / max(n_tok, 1)
        q = 0.4 * min(sr, 1.0) + 0.3 * (1.0 - min(pr, 1.0)) + 0.3 * min(n_tok / 100.0, 1.0)
        g = got_qs[i]
        assert (g[0], g[1]) == (n_chars, n_tok), i
        for got, want in zip(g[2:], (pr, sr, q)):
            assert abs(got - want) <= 5e-7 + 1e-9, (i, got, want)
    assert got_qs[1][2] == 0.0         # empty text: greatest(,1) guards 0/0
    assert got_qs[6][2] == 1.0         # all-punctuation: ratio exactly 1
    assert got_qs[9][3] == 1.0         # every token a stopword

    # --- text_c4_filter (r15: the pre-stated F.size -> F.array_size twin
    # of r14's token_stats fix: a NULL doc reported n_tokens = -1) ---
    from monthly_report_etl_spark.operators.text import (
        C4_MAX_MEAN_TOK_LEN,
        C4_MAX_TOKENS,
        C4_MIN_MEAN_TOK_LEN,
        C4_MIN_TOKENS,
    )

    got_c4 = {
        r["doc_id"]: (r["n_tokens"], r["mean_tok_len"], r["has_lorem"],
                      r["has_brace"], r["keep"])
        for r in QUERIES["text_c4_filter"](spark, d).collect()
    }
    for i, text in zip(docs.doc_id, docs.text):
        if text is None:
            # NULL text: every column NULL -- n_tokens must NOT be -1
            # (the F.size wart), keep must NOT collapse to False (the
            # oracle's CASE-over-NULL yields NULL, and so do we)
            assert got_c4[i] == (None,) * 5, i
            continue
        n_tok = len(text.split())
        n_nonws = len(re.sub(r"\s", "", text))
        mean = n_nonws / max(n_tok, 1)
        lorem = "lorem ipsum" in text.lower()
        brace = "{" in text
        keep = (C4_MIN_TOKENS <= n_tok <= C4_MAX_TOKENS
                and C4_MIN_MEAN_TOK_LEN <= mean <= C4_MAX_MEAN_TOK_LEN
                and not lorem and not brace)
        g = got_c4[i]
        assert (g[0], g[2], g[3], g[4]) == (n_tok, lorem, brace, keep), i
        assert abs(g[1] - round(mean, 6)) <= 5e-7 + 1e-9, (i, g[1], mean)
    assert got_c4[1][0] == 0 and got_c4[1][4] is False   # empty: 0 tokens
    assert got_c4[3] == (0, 0.0, False, False, False)    # whitespace-only
    assert got_c4[12][2] and got_c4[12][4] is False      # lorem kills keep
    assert got_c4[13][3] and got_c4[13][4] is False      # brace kills keep
    assert got_c4[14] == (10, 1.0, False, False, False)  # mean < 2 band

    # --- text_fingerprint ---
    got_fp = {
        r["doc_id"]: r["doc_fingerprint"]
        for r in QUERIES["text_fingerprint"](spark, d).collect()
    }
    for i, text in zip(docs.doc_id, docs.text):
        if text is None:
            assert got_fp[i] is None, i  # NULL propagates, never hashes to 0
        else:
            h = 0
            for ch in text:
                h = (h * 31 + ord(ch)) % FINGERPRINT_MOD
            assert got_fp[i] == h, (i, got_fp[i], h)
    assert got_fp[1] == 0              # empty text IS fingerprint 0
    assert got_fp[2] is None           # ...but NULL text is NOT


def test_oracles_agree_on_text_boundary_fixture(spark, tmp_path):
    """Gate leg of the eighth fixture: the four REGISTERED text oracles
    on the same adversarial parquet — including text_fingerprint's,
    which this fixture caught returning 0 for NULL text (DuckDB's
    list_prepend(0, NULL) yields [0]) where Spark propagates NULL."""
    import duckdb

    d, _ = _text_boundary_fixture(tmp_path)
    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM read_parquet('{d}/documents.parquet')"
    )
    _gate_compare(
        spark,
        con,
        d,
        [
            "text_token_stats",
            "text_language_id",
            "text_quality_score",
            "text_fingerprint",
            "text_c4_filter",
        ],
    )


def test_quality_score_vertical_tab_matches_java_whitespace(spark, tmp_path):
    """r16 (ADVICE): DuckDB's RE2 \\s excludes vertical tab while
    Spark's Java \\s includes it — 'a\\x0Bb' counted 1 token / 1 punct
    char in the old oracle vs 2 tokens / 0 punct on the Spark side.
    QUALITY_SCORE_ORACLE now spells out Java's exact class
    [ \\t\\n\\x0B\\f\\r] in both the token and punct runs; this pins it
    with a Java-semantics python reference plus the registered-oracle
    gate. The split-form token oracles (TOKS_SQL family) keep RE2 \\s
    and \\x0B stays excluded from fuzz generation for them — documented
    in tools/fuzz_differential.py."""
    import os
    import re

    import duckdb
    import pandas as pd

    from monthly_report_etl_spark.catalog import QUERIES
    from monthly_report_etl_spark.functions.text import stopword_regex

    docs = pd.DataFrame(
        [(1, "a\x0bb"), (2, "\x0bthe fox\x0b"), (3, "x\x0b\x0by"),
         (4, "a \x0b b"), (5, "!\x0b?")],
        columns=["doc_id", "text"],
    )
    d = str(tmp_path / "vtab_quality")
    os.makedirs(d, exist_ok=True)
    docs.to_parquet(os.path.join(d, "documents.parquet"), index=False)

    got = {
        r["doc_id"]: (r["n_tokens"], r["punct_ratio"])
        for r in QUERIES["text_quality_score"](spark, d).collect()
    }
    for i, text in zip(docs.doc_id, docs.text):
        n_tok = len(re.findall(r"[^ \t\n\x0b\f\r]+", text))
        n_punct = len(re.findall(r"[^A-Za-z0-9 \t\n\x0b\f\r]", text))
        assert got[i][0] == n_tok, (i, got[i][0], n_tok)
        assert abs(got[i][1] - n_punct / len(text)) <= 5e-7, i
    assert got[1][0] == 2          # 'a\x0Bb': VT separates under Java \s
    assert got[2][0] == 2          # leading/trailing VT adds no token
    assert got[5] == (2, 0.666667)  # VT is whitespace, NOT punctuation:
    #   2 punct chars over 3 chars — the old oracle counted VT as punct
    #   (3/3) and one token ('!\x0B?' unsplit)

    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM read_parquet('{d}/documents.parquet')"
    )
    _gate_compare(spark, con, d, ["text_quality_score"])


def _corpus_boundary_fixture(tmp_path):
    """Ninth adversarial fixture (r14): the due-r15 corpus operators on
    empty / NULL / whitespace-only documents, exact chunk-size
    boundaries (32 and 33 tokens against CHUNK_TOKENS=32), single-token
    and single-char words (no bigrams / no BPE pairs), a NULL language
    stratum, and PII patterns — none of which the sf documents table
    contains. Returns (dir, docs)."""
    import pandas as pd

    import os

    doc32 = " ".join(f"t{i:02d}" for i in range(32))
    doc33 = " ".join(f"u{i:02d}" for i in range(33))
    rows = [
        (1, "", "en", "web", 0),
        (2, None, "en", "web", 0),
        (3, "   ", "de", "web", 3),
        (4, "alpha beta gamma alpha beta", "en", "books", 27),
        (5, "one", "fr", "web", 3),
        (6, doc32, "en", "web", len(doc32)),
        (7, doc33, "en", "web", len(doc33)),
        (8, "hello world", None, "web", 11),
        (9, "x", "de", None, 1),
        (10, "ab AB aB", "fr", "web", 8),
        (11, "mail a@b.co or visit https://x.io room 42", "en", "web", 42),
    ]
    docs = pd.DataFrame(
        rows, columns=["doc_id", "text", "lang", "source", "n_chars"]
    )
    docs["n_chars"] = docs["n_chars"].astype("int64")
    d = str(tmp_path / "corpus_boundary")
    os.makedirs(d, exist_ok=True)
    docs.to_parquet(os.path.join(d, "documents.parquet"), index=False)
    return d, docs


def test_corpus_boundary_cases_match_python_reference(spark, tmp_path):
    """Standalone pure-python references for the corpus operators on the
    ninth fixture."""
    import hashlib
    import math
    import re
    from collections import Counter

    from monthly_report_etl_spark.catalog import QUERIES
    from monthly_report_etl_spark.operators.corpus import (
        CHUNK_TOKENS,
        SAMPLE_MOD,
        STRATIFIED_FRACTION,
        TFIDF_TOP_K,
    )

    d, docs = _corpus_boundary_fixture(tmp_path)
    M = 1_000_000_000_007

    def fp(text):
        h = 0
        for ch in text:
            h = (h * 31 + ord(ch)) % M
        return h

    texts = dict(zip(docs.doc_id, docs.text))
    nonempty = {i: t for i, t in texts.items() if t is not None and t.split()}

    # --- corpus_sample_hash_mod: empty doc sampled (fp 0), NULL dropped ---
    got_sh = {
        r["doc_id"]: r["doc_fingerprint"]
        for r in QUERIES["corpus_sample_hash_mod"](spark, d).collect()
    }
    want_sh = {i: fp(t) for i, t in texts.items()
               if t is not None and fp(t) % SAMPLE_MOD == 0}
    assert got_sh == want_sh
    assert got_sh.get(1) == 0     # the EMPTY doc fingerprints to 0: sampled
    assert 2 not in got_sh        # the NULL doc is NOT (no content, no hash)

    # --- corpus_tfidf_top_terms: n_docs counts ALL rows, even empty ---
    got_tf = {
        (r["doc_id"], r["term"]): (r["tf"], r["tfidf"], r["rn"])
        for r in QUERIES["corpus_tfidf_top_terms"](spark, d).collect()
    }
    n_docs = len(docs)
    dfreq = Counter()
    tfs = {}
    for i, t in nonempty.items():
        c = Counter(t.split())
        tfs[i] = c
        dfreq.update(c.keys())
    want_tf = {}
    for i, c in tfs.items():
        scored = sorted(
            ((round(tf * math.log((n_docs + 1.0) / (dfreq[term] + 1.0)), 6), term, tf)
             for term, tf in c.items()),
            key=lambda s: (-s[0], s[1]),
        )
        for rn, (score, term, tf) in enumerate(scored[:TFIDF_TOP_K], 1):
            want_tf[(i, term)] = (tf, score, rn)
    assert set(got_tf) == set(want_tf)
    for k, (tf, score, rn) in want_tf.items():
        g = got_tf[k]
        assert g[0] == tf and g[2] == rn, k
        assert abs(g[1] - score) <= 5e-7 + 1e-9 * abs(score), (k, g[1], score)

    # --- corpus_bigram_top: repeats counted, single-token docs silent ---
    got_bg = {
        r["bigram"]: r["n"] for r in QUERIES["corpus_bigram_top"](spark, d).collect()
    }
    bg = Counter()
    for t in nonempty.values():
        toks = t.split()
        bg.update(" ".join(p) for p in zip(toks, toks[1:]))
    want_top = sorted(bg.items(), key=lambda kv: (-kv[1], kv[0]))[:20]
    assert got_bg == dict(want_top)
    assert got_bg["alpha beta"] == 2      # repeated bigram counted twice
    assert not any(b.startswith("one") for b in got_bg)  # single-token doc

    # --- corpus_chunk_documents: exact 32/33-token boundaries ---
    got_ch = {
        (r["doc_id"], r["chunk_idx"]): (r["chunk_text"], r["n_chunk_tokens"])
        for r in QUERIES["corpus_chunk_documents"](spark, d).collect()
    }
    want_ch = {}
    for i, t in nonempty.items():
        if i >= 50:
            continue
        toks = t.split()
        for c in range(0, len(toks), CHUNK_TOKENS):
            w = toks[c:c + CHUNK_TOKENS]
            want_ch[(i, c // CHUNK_TOKENS)] = (" ".join(w), len(w))
    assert got_ch == want_ch
    assert (6, 1) not in got_ch           # exactly 32 tokens: ONE chunk
    assert got_ch[(7, 1)][1] == 1         # 33 tokens: second chunk of 1

    # --- corpus_bpe_pair_counts: single-char words contribute nothing ---
    got_bp = {
        r["pair"]: r["pair_count"]
        for r in QUERIES["corpus_bpe_pair_counts"](spark, d).collect()
    }
    wf = Counter()
    for t in nonempty.values():
        wf.update(w for w in t.split() if w)
    pc = Counter()
    for w, f in wf.items():
        for i in range(len(w) - 1):
            pc[w[i:i + 2]] += f
    want_bp = dict(sorted(pc.items(), key=lambda kv: (-kv[1], kv[0]))[:20])
    assert got_bp == want_bp
    assert "x " not in got_bp and "x" not in got_bp  # 1-char word: no pairs
    assert pc["ab"] == 1 and pc["aB"] == 1  # case-distinct pairs in the full
    #   counter (the 32/33-token docs' pairs dominate the top-20 cut)

    # --- corpus_stratified_sample: NULL lang is its own stratum ---
    got_st = {
        r["doc_id"]: r["lang"]
        for r in QUERIES["corpus_stratified_sample"](spark, d).collect()
    }
    want_st = {}
    strata = {}
    for i, lang in zip(docs.doc_id, docs.lang):
        strata.setdefault(None if lang is None or lang != lang else lang, []).append(i)
    for lang, ids in strata.items():
        keep = math.ceil(STRATIFIED_FRACTION * len(ids))
        ranked = sorted(ids, key=lambda i: (hashlib.md5(str(i).encode()).hexdigest(), i))
        for i in ranked[:keep]:
            want_st[i] = lang
    assert got_st == want_st
    assert 8 in got_st and got_st[8] is None  # the NULL stratum keeps its ceil

    # --- corpus_pii_flags: NULL text propagates, patterns hit ---
    got_pii = {
        r["doc_id"]: (r["has_email"], r["has_url"], r["n_numbers"], r["redacted"])
        for r in QUERIES["corpus_pii_flags"](spark, d).collect()
    }
    assert got_pii[2] == (None, None, None, None)
    assert got_pii[11][0] is True and got_pii[11][1] is True
    assert got_pii[11][2] == 1 and "<EMAIL>" in got_pii[11][3]
    assert got_pii[1] == (False, False, 0, "")


def test_oracles_agree_on_corpus_boundary_fixture(spark, tmp_path):
    """Gate leg of the ninth fixture: seven REGISTERED corpus oracles on
    the same adversarial parquet — including corpus_sample_hash_mod's,
    which this fixture caught SAMPLING a NULL document (DuckDB's
    list_prepend(0, NULL) fingerprinted it as 0) where Spark drops it."""
    import duckdb

    d, _ = _corpus_boundary_fixture(tmp_path)
    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM read_parquet('{d}/documents.parquet')"
    )
    _gate_compare(
        spark,
        con,
        d,
        [
            "corpus_sample_hash_mod",
            "corpus_tfidf_top_terms",
            "corpus_bigram_top",
            "corpus_chunk_documents",
            "corpus_bpe_pair_counts",
            "corpus_stratified_sample",
            "corpus_pii_flags",
        ],
    )


def _dedup_boundary_fixture(tmp_path):
    """Tenth adversarial fixture (r14): the dedup family on NULL / empty
    / whitespace-only / sub-shingle documents and EXACT-threshold
    near-dup pairs — real crawls contain all of these, the sf documents
    table contains none. Two NULL docs and two empty docs form exact-dup
    groups (NULL keys group together in GROUP BY; '' is a real value
    distinct from NULL); docs 5/6 are identical 3-token texts (one
    shingle, Jaccard 1.0); doc 7 shares that shingle at Jaccard exactly
    0.5 (the INCLUSIVE threshold edge); docs 1-4,8-10 must all be
    singleton components that survive canonical selection. Returns
    (dir, docs)."""
    import pandas as pd

    import os

    rows = [
        (1, None), (2, ""), (3, "   "), (4, "a b"),
        (5, "a b c"), (6, "a b c"), (7, "a b c d"),
        (8, "x y z w v"), (9, None), (10, ""),
    ]
    docs = pd.DataFrame(rows, columns=["doc_id", "text"])
    docs["lang"] = "en"
    docs["source"] = "web"
    docs["n_chars"] = docs["text"].str.len().fillna(0).astype("int64")
    d = str(tmp_path / "dedup_boundary")
    os.makedirs(d, exist_ok=True)
    docs.to_parquet(os.path.join(d, "documents.parquet"), index=False)
    return d, docs


def test_dedup_boundary_cases_match_hand_derivation(spark, tmp_path):
    """Hand-derivation leg of the tenth fixture."""
    from monthly_report_etl_spark.catalog import QUERIES

    d, docs = _dedup_boundary_fixture(tmp_path)

    # --- dedup_exact: NULLs group together; '' is NOT NULL ---
    got_de = {
        r["keep_doc_id"]: r["n_copies"]
        for r in QUERIES["dedup_exact"](spark, d).collect()
    }
    assert got_de == {1: 2, 2: 2, 3: 1, 4: 1, 5: 2, 7: 1, 8: 1}
    # {1,9} NULL group, {2,10} empty group, {5,6} identical text

    # --- dedup_ngram_jaccard: inclusive 0.5 ---
    got_pairs = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in QUERIES["dedup_ngram_jaccard"](spark, d).collect()
    }
    assert got_pairs == {(5, 6): 1.0, (5, 7): 0.5, (6, 7): 0.5}
    # sub-3-token docs (1,2,3,4,9,10) emit NO shingles and NO pairs;
    # J = exactly 0.5 is KEPT (>= threshold, not >)

    # --- connected components: {5,6,7} one cluster, everyone else alone ---
    got_cc = {
        r["doc_id"]: r["component"]
        for r in QUERIES["dedup_connected_components"](spark, d).collect()
    }
    in_cluster = {k: v for k, v in got_cc.items() if k in (5, 6, 7)}
    assert in_cluster == {5: 5, 6: 5, 7: 5}

    # --- canonical selection: the 4-token doc wins its cluster;
    #     every NULL/empty/short singleton survives ---
    got_ks = {
        r["doc_id"]: (r["component"], r["keep"])
        for r in QUERIES["dedup_canonical_selection"](spark, d).collect()
    }
    assert got_ks[7] == (5, True)    # highest quality in the cluster
    assert got_ks[5] == (5, False) and got_ks[6] == (5, False)
    for i in (1, 2, 3, 4, 8, 9, 10):
        assert got_ks[i] == (i, True), i  # singletons keep themselves

    # --- the sketch paths must still report the identical pair ---
    mh = {(r["doc_a"], r["doc_b"]) for r in QUERIES["dedup_minhash_lsh"](spark, d).collect()}
    assert (5, 6) in mh  # identical docs collide in EVERY band
    sh = QUERIES["dedup_simhash"](spark, d).collect()
    sh_pairs = {(r["doc_a"], r["doc_b"]) for r in sh}
    assert (5, 6) in sh_pairs  # hamming distance 0


def test_oracles_agree_on_dedup_boundary_fixture(spark, tmp_path):
    """Gate leg of the tenth fixture: six REGISTERED dedup oracles
    (including the full portable MinHash/SimHash recompute chains) on
    the same adversarial parquet, hash-compared gate-style."""
    import duckdb

    d, _ = _dedup_boundary_fixture(tmp_path)
    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM read_parquet('{d}/documents.parquet')"
    )
    _gate_compare(
        spark,
        con,
        d,
        [
            "dedup_exact",
            "dedup_ngram_jaccard",
            "dedup_minhash_lsh",
            "dedup_simhash",
            "dedup_connected_components",
            "dedup_canonical_selection",
        ],
    )


def _packing_boundary_fixture(tmp_path):
    """Eleventh adversarial fixture (r14): context-window packing at the
    EXACT window boundary (a doc ending precisely at PACK_TARGET_TOKENS
    stays in its bin; the next token opens a new one), a document LONGER
    than the window, NULL documents inside the running sum (which
    previously subtracted one token each via size()'s -1), the ranged
    variant's range reset, per-source length trimming with a NULL-token
    doc (NULLS FIRST pinned both sides) and inclusive 0.05/0.95
    percent_rank edges, and sqrt-mix weights over an all-NULL source
    (NULL weight) and a zero-token source (weight 0). Returns
    (dir, docs)."""
    import pandas as pd

    import os

    def words(n, tag):
        return " ".join(f"{tag}{i}" for i in range(n))

    rows = [
        (1, words(500, "a"), "a"),
        (2, words(12, "b"), "a"),    # running hits EXACTLY 512
        (3, "c0", "a"),              # the 513th token opens bin 1
        (4, None, "a"),              # NULL doc: consumes ZERO budget
        (5, words(600, "d"), "a"),   # longer than the whole window
        (6, "", "a"),                # empty: zero tokens
        (300, words(10, "e"), "a"),  # ranged variant: doc_id DIV 128 = 2
    ]
    rows += [(200 + i, words(i + 1, "t"), "t") for i in range(20)]  # 1..20
    rows += [(220, None, "t"),       # NULL-token doc in the trim source
             (230, "", "y"),         # zero-token source: weight 0
             (231, None, "z")]       # all-NULL source: weight NULL
    docs = pd.DataFrame(rows, columns=["doc_id", "text", "source"])
    docs["lang"] = "en"
    docs["n_chars"] = docs["text"].str.len().fillna(0).astype("int64")
    d = str(tmp_path / "packing_boundary")
    os.makedirs(d, exist_ok=True)
    docs.to_parquet(os.path.join(d, "documents.parquet"), index=False)
    return d, docs


def test_packing_boundary_cases_match_python_reference(spark, tmp_path):
    """Hand-derivation leg of the eleventh fixture."""
    import math

    from monthly_report_etl_spark.catalog import QUERIES
    from monthly_report_etl_spark.operators.corpus import (
        PACK_RANGE_DOCS,
        PACK_TARGET_TOKENS,
        TRIM_HI,
        TRIM_LO,
    )

    d, docs = _packing_boundary_fixture(tmp_path)
    toks = {
        i: (len(t.split()) if t is not None else None)
        for i, t in zip(docs.doc_id, docs.text)
    }

    # --- corpus_pack_sequences: global greedy packing ---
    got_pk = {
        r["doc_id"]: (r["n_tokens"], r["running_tokens"], r["bin_id"])
        for r in QUERIES["corpus_pack_sequences"](spark, d).collect()
    }
    run = 0
    for i in sorted(toks):
        if toks[i] is not None:
            run += toks[i]
        want = (toks[i], run, (run - 1) // PACK_TARGET_TOKENS)
        assert got_pk[i] == want, (i, got_pk[i], want)
    assert got_pk[2] == (12, 512, 0)   # exact fill stays in bin 0
    assert got_pk[3] == (1, 513, 1)    # the 513th token opens bin 1
    assert got_pk[4] == (None, 513, 1)  # NULL doc: running UNCHANGED (the
    #   old size()=-1 bug pulled it back to 512 and bin 0)
    assert got_pk[5][2] == 2           # the 600-token doc spills to bin 2

    # --- corpus_pack_sequences_ranged: per-range reset ---
    got_pr = {
        r["doc_id"]: (r["range_id"], r["n_tokens"], r["running_tokens"], r["bin_id"])
        for r in QUERIES["corpus_pack_sequences_ranged"](spark, d).collect()
    }
    runs: dict = {}
    for i in sorted(toks):
        rid = i // PACK_RANGE_DOCS
        runs[rid] = runs.get(rid, 0) + (toks[i] or 0)
        want = (rid, toks[i], runs[rid], (runs[rid] - 1) // PACK_TARGET_TOKENS)
        assert got_pr[i] == want, (i, got_pr[i], want)
    assert got_pr[300] == (2, 10, 10, 0)  # fresh range: running resets

    # --- corpus_length_trim: NULLS FIRST + inclusive rank edges ---
    got_tr = {
        r["doc_id"]: (r["n_tokens"], r["keep"])
        for r in QUERIES["corpus_length_trim"](spark, d).collect()
    }
    srcs = dict(zip(docs.doc_id, docs.source))
    for src in set(srcs.values()):
        ids = [i for i in toks if srcs[i] == src]
        ordered = sorted(ids, key=lambda i: (toks[i] is not None, toks[i] or 0, i))
        n = len(ordered)
        for k, i in enumerate(ordered):
            pr = k / (n - 1) if n > 1 else 0.0
            want_keep = TRIM_LO <= pr <= TRIM_HI
            assert got_tr[i] == (toks[i], want_keep), (src, i, got_tr[i])
    assert got_tr[220] == (None, False)  # NULL doc ranks FIRST, pr 0: trimmed
    assert got_tr[200] == (1, True)      # k=1 of 21: pr exactly 0.05, KEPT
    assert got_tr[218] == (19, True)     # k=19: pr exactly 0.95, KEPT
    assert got_tr[219] == (20, False)    # the longest: pr 1.0, trimmed
    assert got_tr[230] == (0, False)     # single-doc source: percent_rank
    #   is exactly 0, which FAILS the 0.05 lower bound in both engines —
    #   a one-doc source is entirely trimmed (a real convention callers
    #   of length_trim must know)

    # --- corpus_mix_weights: NULL source, zero source ---
    got_mw = {
        r["source"]: (r["n_docs"], r["n_tokens"], r["mix_weight"])
        for r in QUERIES["corpus_mix_weights"](spark, d).collect()
    }
    per = {}
    for i, t in toks.items():
        nd, nt = per.get(srcs[i], (0, None))
        per[srcs[i]] = (nd + 1, nt if t is None else (nt or 0) + t)
    z = sum(math.sqrt(nt) for _, nt in per.values() if nt is not None)
    for src, (nd, nt) in per.items():
        g = got_mw[src]
        assert g[0] == nd and g[1] == nt, (src, g)
        if nt is None:
            assert g[2] is None, src
        else:
            assert abs(g[2] - round(math.sqrt(nt) / z, 6)) <= 5e-7 + 1e-9, src
    assert got_mw["z"] == (1, None, None)  # all-NULL source: no weight (the
    #   old -1 made n_tokens NEGATIVE and sqrt raised/NaN'd downstream)
    assert got_mw["y"][1] == 0 and got_mw["y"][2] == 0.0  # zero-token source


def test_oracles_agree_on_packing_boundary_fixture(spark, tmp_path):
    """Gate leg of the eleventh fixture: four REGISTERED oracles on the
    same adversarial parquet — pinning the r14 fixes (array_size for the
    size()=-1 running-sum corruption; NULLS FIRST in the trim window,
    where Spark and DuckDB DEFAULT DIFFERENTLY)."""
    import duckdb

    d, _ = _packing_boundary_fixture(tmp_path)
    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM read_parquet('{d}/documents.parquet')"
    )
    _gate_compare(
        spark,
        con,
        d,
        [
            "corpus_pack_sequences",
            "corpus_pack_sequences_ranged",
            "corpus_length_trim",
            "corpus_mix_weights",
        ],
    )


def _ingest_spans_boundary_fixture(tmp_path):
    """Twelfth adversarial fixture (r14): the ingest/novelty/
    decontamination/duplicate-spans pipelines on NULL and empty
    documents and their exact thresholds — NULL texts never match in
    the ingest anti-join (both engines treat NULL keys as never-equal,
    so NULL docs are always 'fresh'), an empty incoming doc IS dropped
    against an empty corpus doc, contamination exactly 0.5 is flagged
    (inclusive), a copied document has novelty exactly 0, an
    exactly-8-token doc emits one 8-gram, and a duplicated-share of
    exactly DUP_SPAN_FLAG_FRAC is flagged. Returns (dir, docs)."""
    import pandas as pd

    import os

    doc30 = "e1 e2 e3 x1 x2"
    span8 = "d1 d2 d3 d4 d5 d6 d7 d8"
    rows = [
        # eval region (doc_id < 25)
        (1, "e1 e2 e3 e4", "src01"),
        (2, None, "src01"),
        (3, "", "src01"),
        (4, "one two", "src01"),
        # existing corpus
        (30, doc30, "src01"),
        (31, "e1 e2 e3 e4 z1", "src01"),
        (32, "e1 e2 e3 q9", "src01"),   # contamination exactly 1/2
        (33, doc30, "src01"),           # exact copy: novelty 0
        (34, "", "src01"),              # empty existing doc
        (50, span8, "src01"),           # exactly 8 tokens: ONE gram
        (51, f"p0 {span8} p1", "src01"),
        (52, span8 + " " + " ".join(f"f{i}" for i in range(32)), "src01"),
        #   40 tokens, 8 duplicated -> dup_frac exactly 0.2
        # incoming batch
        (40, "fresh text here", "src19"),
        (41, None, "src19"),
        (42, None, "src19"),            # second NULL incoming
        (43, "", "src19"),              # empty incoming: dropped vs 34
        (44, doc30, "src19"),           # exact match vs 30: dropped
    ]
    docs = pd.DataFrame(rows, columns=["doc_id", "text", "source"])
    docs["lang"] = "en"
    docs["n_chars"] = docs["text"].str.len().fillna(0).astype("int64")
    d = str(tmp_path / "ingest_spans_boundary")
    os.makedirs(d, exist_ok=True)
    docs.to_parquet(os.path.join(d, "documents.parquet"), index=False)
    return d, docs


def test_ingest_spans_boundary_cases_match_python_reference(spark, tmp_path):
    """Hand-derivation leg of the twelfth fixture."""
    from monthly_report_etl_spark.catalog import QUERIES
    from monthly_report_etl_spark.operators.corpus import BENCHMARK_MAX_DOC_ID
    from monthly_report_etl_spark.operators.dedup import (
        DUP_SPAN_FLAG_FRAC,
        DUP_SPAN_N,
    )

    d, docs = _ingest_spans_boundary_fixture(tmp_path)
    texts = dict(zip(docs.doc_id, docs.text))
    srcs = dict(zip(docs.doc_id, docs.source))

    def sh3(text):
        toks = text.split() if text else []
        return {" ".join(toks[i:i + 3]) for i in range(len(toks) - 2)} \
            if len(toks) >= 3 else set()

    shingles = {i: sh3(t) for i, t in texts.items()}

    # --- corpus_incremental_ingest: NULL-key never-match semantics ---
    got_in = {r["doc_id"] for r in
              QUERIES["corpus_incremental_ingest"](spark, d).collect()}
    assert got_in == {40, 41}
    # 40 is genuinely fresh; the two NULL incoming docs collapse to ONE
    # survivor (min id 41) and are NOT dropped by the corpus's own NULL
    # doc — NULL keys never equal anything, in the anti-join AND the
    # oracle's NOT EXISTS alike. The empty incoming doc (43) IS dropped
    # by the empty corpus doc (34): '' is a real value. 44 drops vs 30.

    # --- corpus_decontaminate: inclusive 0.5 threshold ---
    bench = set().union(*(shingles[i] for i in shingles
                          if i < BENCHMARK_MAX_DOC_ID)) if shingles else set()
    got_dc = {
        r["doc_id"]: (r["n_shingles"], r["n_contaminated"],
                      r["contamination_frac"], r["is_contaminated"])
        for r in QUERIES["corpus_decontaminate"](spark, d).collect()
    }
    want_ids = {i for i in shingles
                if i >= BENCHMARK_MAX_DOC_ID and shingles[i]}
    assert set(got_dc) == want_ids  # NULL/empty/short docs emit no rows
    for i in want_ids:
        n, c = len(shingles[i]), len(shingles[i] & bench)
        g = got_dc[i]
        assert (g[0], g[1]) == (n, c), i
        assert abs(g[2] - round(c / n, 6)) <= 1e-9, i
        assert g[3] == (c / n >= 0.5), i
    assert got_dc[32][3] is True          # exactly 1/2: INCLUSIVE
    assert got_dc[30][3] is False         # 1/3

    # --- corpus_ngram_novelty: copied doc has novelty exactly 0 ---
    first = {}
    for i in sorted(shingles):
        for s in shingles[i]:
            first.setdefault(s, i)
    got_nv = {
        r["doc_id"]: (r["n_shingles"], r["n_novel"], r["novelty_frac"])
        for r in QUERIES["corpus_ngram_novelty"](spark, d).collect()
    }
    assert set(got_nv) == {i for i in shingles if shingles[i]}
    for i, ss in shingles.items():
        if not ss:
            continue
        novel = sum(1 for s in ss if first[s] == i)
        g = got_nv[i]
        assert (g[0], g[1]) == (len(ss), novel), i
        assert abs(g[2] - round(novel / len(ss), 6)) <= 1e-9, i
    assert got_nv[33] == (3, 0, 0.0)      # the exact copy: nothing novel
    assert got_nv[44] == (3, 0, 0.0)

    # --- dedup_duplicate_spans: NULL/empty n_tokens, exact flag edge ---
    got_ds = {
        r["doc_id"]: (r["n_tokens"], r["dup_tokens"], r["dup_frac"], r["flagged"])
        for r in QUERIES["dedup_duplicate_spans"](spark, d).collect()
    }
    grams: dict = {}
    for i, t in texts.items():
        toks = t.split() if t else []
        for s in range(len(toks) - DUP_SPAN_N + 1):
            grams.setdefault(" ".join(toks[s:s + DUP_SPAN_N]), set()).add(i)
    dup_grams = {g for g, ds in grams.items() if len(ds) > 1}
    for i, t in texts.items():
        if t is None:
            assert got_ds[i] == (None, 0, None, None), i
            continue
        toks = t.split()
        spans = sorted(
            (s, s + DUP_SPAN_N - 1)
            for s in range(len(toks) - DUP_SPAN_N + 1)
            if " ".join(toks[s:s + DUP_SPAN_N]) in dup_grams
        )
        cov, end = 0, -1
        for s, f in spans:
            cov += max(0, f - max(s, end + 1) + 1)
            end = max(end, f)
        n = len(toks)
        frac = round(cov / n, 6) if n else None
        flagged = (frac >= DUP_SPAN_FLAG_FRAC) if frac is not None else None
        assert got_ds[i] == (n, cov, frac, flagged), (i, got_ds[i])
    assert got_ds[50] == (8, 8, 1.0, True)   # exactly-8-token doc: one gram
    assert got_ds[52] == (40, 8, 0.2, True)  # share EXACTLY 0.2: inclusive
    assert got_ds[3] == (0, 0, None, None)   # empty doc: 0 tokens, not 1
    assert got_ds[2][0] is None              # NULL doc: NULL, not -1


def test_oracles_agree_on_ingest_spans_boundary_fixture(spark, tmp_path):
    """Gate leg of the twelfth fixture: four REGISTERED oracles on the
    same adversarial parquet — pinning the r14 duplicate-spans fixes
    (Spark array_size for NULL docs; the oracle's empty-doc guard, where
    bare string_split_regex('') yields [''] and reported 1 token)."""
    import duckdb

    d, _ = _ingest_spans_boundary_fixture(tmp_path)
    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM read_parquet('{d}/documents.parquet')"
    )
    _gate_compare(
        spark,
        con,
        d,
        [
            "corpus_incremental_ingest",
            "corpus_decontaminate",
            "corpus_ngram_novelty",
            "dedup_duplicate_spans",
        ],
    )


def test_oracles_agree_on_olap_stats_boundary_fixture(spark, tmp_path):
    """The OLAP/stats side of the triangle's third leg (VERDICT r13 #2):
    run the four REGISTERED DuckDB oracles on the same adversarial
    parquet and hash-compare gate-style, so Spark == oracle == hand
    derivation holds AT the distribution/bracket/EXISTS boundaries —
    with the events/orders twin above, all 15 third-pinned operators'
    oracles now execute on a boundary fixture."""
    import duckdb

    d, _ = _olap_stats_boundary_fixture(tmp_path)
    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    for t in ("orders", "lineitem", "part", "supplier"):
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{d}/{t}.parquet')"
        )
    _gate_compare(
        spark,
        con,
        d,
        [
            "stats_moments_group",
            "window_distribution",
            "olap_disjunctive_brackets",
            "olap_last_shipper",
        ],
    )


def _r13_text_corpus_boundary_fixture(tmp_path):
    """Thirteenth adversarial fixture (r15, the pre-stated boundary-hunt
    continuation into the r13-latest cohort): the text/corpus entries
    that had no adversarial sweep yet, on NULL / empty / space-only /
    TAB-only / tab-led / non-breaking-space / unicode / single-token /
    all-duplicate documents plus NULL lang/source/n_chars metadata. The
    hunt found and fixed THREE defects here: (1) SPLIT_ORACLE carried
    its own unguarded copy of the list_prepend(0, NULL) -> [0] formula
    the eighth fixture caught in text_fingerprint, so a NULL document
    split 'train' in the oracle but 'test' on the Spark side (both now
    propagate NULL); (2) the UDTF chunker tokenized with python
    str.split(), which splits on UNICODE whitespace (U+00A0) and drops
    leading empties, while the JVM twin and the oracle split on Java's
    ASCII \\s after a spaces-only trim -- a doc with a non-breaking
    space or a leading tab chunked differently through the UDTF; (3)
    CHUNK_ORACLE re-derived n_chunk_tokens from chunk_text (trim-guard
    + re-split), reporting 0 for a tab-only doc's ' ' chunk where both
    Spark plans report the window length 2 -- the oracle now computes
    len(win), the same expression as the Spark sides. Returns (dir,
    docs)."""
    import pandas as pd

    import os

    rows = [
        (1, None, "en", "web", None),
        (2, "", "en", None, 0),
        (3, "   ", None, "web", 3),
        (4, "the quick fox and the dog is that you", "en", "books", 38),
        (5, "a", "de", "web", 1),
        (6, "x y", "fr", None, 3),
        (7, "caf\xe9 d\xe9j\xe0 vu na\xefve caf\xe9", "fr", "web", 23),
        (8, "a\xa0b c", "en", "web", 5),
        (9, "!!! ??? ...", None, None, 11),
        (10, "spam spam spam spam spam", "en", "cc", 24),
        (11, " ".join(f"w{i}" for i in range(33)), "en", "web", None),
        (12, " ".join(f"t{i}" for i in range(32)), "en", "web", None),
        (13, "the the", "de", "web", 7),
        (14, "ab " * 49 + "end", "en", "web", 150),
        (15, "\tTab led doc with words", "en", "web", 23),
        (16, "\t\t", "en", "web", 2),
        (17, None, None, None, None),
        (18, "der und die das ist nicht", "de", "books", 25),
        (19, "the quick fox", "zz", "web", 13),
    ]
    docs = pd.DataFrame(
        rows, columns=["doc_id", "text", "lang", "source", "n_chars"]
    )
    docs["n_chars"] = docs["n_chars"].astype("Int64")
    d = str(tmp_path / "r13_text_corpus_boundary")
    os.makedirs(d, exist_ok=True)
    docs.to_parquet(os.path.join(d, "documents.parquet"), index=False)
    return d, docs


def test_r13_text_corpus_boundary_hand_derivation(spark, tmp_path):
    """Hand-derivation leg of the thirteenth fixture: the caught
    defects' exact boundary rows, pinned independently of the oracle."""
    from monthly_report_etl_spark.catalog import QUERIES

    d, docs = _r13_text_corpus_boundary_fixture(tmp_path)

    # --- train/val/test split: NULL text -> NULL split (NOT 'train'
    # via the oracle's [0]-hash, NOT 'test' via when-fallthrough) ---
    got_sp = {
        r["doc_id"]: r["split"]
        for r in QUERIES["corpus_train_val_test_split"](spark, d).collect()
    }
    assert got_sp[1] is None and got_sp[17] is None
    assert all(
        got_sp[i] in ("train", "val", "test")
        for i in docs.doc_id
        if i not in (1, 17)
    )
    # duplicate-consistency still holds for identical non-NULL texts
    # (none here, but empty doc 2 must land deterministically)
    assert got_sp[2] in ("train", "val", "test")

    # --- chunker: JVM rows == a Python chunker's rows EXACTLY,
    # including the tab-led doc (leading empty token kept: 6 tokens,
    # ' '-led text), the NBSP doc ('a\xa0b' is ONE token under Java \s),
    # and the tab-only doc (['',''] -> chunk_text ' ', n_chunk_tokens 2).
    # re.ASCII \s == Java \s; strip(' ') == SQL trim ---
    import re

    from monthly_report_etl_spark.operators.corpus import CHUNK_TOKENS

    jvm = {
        (r["doc_id"], r["chunk_idx"]): (r["chunk_text"], r["n_chunk_tokens"])
        for r in QUERIES["corpus_chunk_documents"](spark, d).collect()
    }
    py = {}
    for doc_id, text in zip(docs.doc_id, docs.text):
        s = (text or "").strip(" ")
        toks = re.split(r"\s+", s, flags=re.ASCII) if s else []
        for i in range(0, len(toks), CHUNK_TOKENS):
            window = toks[i : i + CHUNK_TOKENS]
            py[(int(doc_id), i // CHUNK_TOKENS)] = (" ".join(window), len(window))
    assert jvm == py
    assert jvm[(15, 0)] == (" Tab led doc with words", 6)
    assert jvm[(8, 0)] == ("a\xa0b c", 2)
    assert jvm[(16, 0)] == (" ", 2)
    assert jvm[(11, 1)][1] == 1  # 33 tokens -> second chunk of exactly 1
    assert (12, 1) not in jvm    # 32 tokens -> exactly one chunk
    # NULL / empty / space-only docs produce no chunks at all
    assert not any(k[0] in (1, 2, 3, 17) for k in jvm)

    # --- posexplode: NULL text drops the row, empty text keeps one
    # empty token (split('', ' ') is ['']) ---
    pe = {}
    for r in QUERIES["posexplode_tokens"](spark, d).collect():
        pe.setdefault(r["doc_id"], []).append((r["pos"], r["tok"]))
    assert 1 not in pe and 17 not in pe
    assert pe[2] == [(0, "")]
    assert sorted(pe[8]) == [(0, "a\xa0b"), (1, "c")]

    # --- lang_mismatch: NULL label -> NULL mismatch (never false) ---
    lm = {
        r["doc_id"]: (r["labeled_lang"], r["mismatch"])
        for r in QUERIES["text_lang_mismatch"](spark, d).collect()
    }
    assert lm[3] == (None, None) and lm[9] == (None, None)
    assert lm[19][1] is True  # bogus 'zz' label always mismatches


def test_oracles_agree_on_r13_text_corpus_boundary_fixture(spark, tmp_path):
    """Gate leg of the thirteenth fixture: ten REGISTERED oracles of the
    r13-latest text/corpus entries on the same adversarial parquet."""
    import duckdb

    d, _ = _r13_text_corpus_boundary_fixture(tmp_path)
    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM read_parquet('{d}/documents.parquet')"
    )
    _gate_compare(
        spark,
        con,
        d,
        [
            "text_lang_mismatch",
            "text_unigram_logprob",
            "posexplode_tokens",
            "corpus_length_buckets",
            "corpus_normalize_dedup",
            "corpus_repetition_stats",
            "corpus_source_lang_rollup",
            "corpus_train_val_test_split",
            "corpus_feature_hashing",
            "corpus_chunk_documents",
            "jsonl_roundtrip_docs",
            # r15 fuzz finding: quality_score's n_tokens is the \S+-run
            # count (regexp form), whose divergence from the split form
            # shows exactly on this fixture's tab-led/tab-only docs
            "text_quality_score",
        ],
    )


def _multimodal_boundary_fixture(tmp_path):
    """Fourteenth adversarial fixture (r15; unicode rows added r16): the
    multimodal family on NULL / empty / odd-length / exact-window-edge
    payloads. The r15 hunt found and fixed TWO defects here: (1) a NULL
    text made every mapInPandas batcher call bytes(None), crashing the
    whole job for one null media row, where the oracles' per-byte
    unnest just emits zero rows (the batchers now skip NULL payloads);
    (2) DuckDB's string_split('', '') yields [''] whose ascii('') is 0,
    so the decode/frame oracles fabricated ONE zero byte for an EMPTY
    document. r16 removed the fixture's original ASCII-only limitation:
    the oracles used a per-CHAR ascii() stream (a multibyte char's
    codepoint, not its bytes) and now reconstruct the TRUE UTF-8 byte
    stream via hex(encode(text)) — rows 11-12 pin multibyte payloads
    (n_bytes > n_chars, high-bit histogram bins, int16 samples that
    cross the sign boundary only under real UTF-8 bytes). Returns
    (dir, docs)."""
    import pandas as pd

    import os

    rows = [
        (1, None, "en", "web", None),
        (2, "", "en", "web", 0),
        (3, "a", "en", "web", 1),          # odd: no full int16 sample
        (4, "ab", "en", "web", 2),         # exactly one sample
        (5, "ab" * 256, "en", "web", 512), # exactly one full RMS window
        (6, "ab" * 256 + "cd", "en", "web", 514),  # window + 1 sample
        (7, "xyz", "en", "web", 3),        # odd trailing byte dropped
        (8, "A" * 63 + "!", "en", "web", 64),      # exactly one frame
        (9, "A" * 65, "en", "web", 65),    # frame + 1
        (10, "\x00\x7f" * 10, "en", "web", 20),    # low/high byte mix
        (11, "café", "fr", "web", 4),      # 4 chars, 5 UTF-8 bytes
        (12, "é" * 40, "fr", "web", 40),   # 40 chars, 80 bytes: 2 frames
    ]
    docs = pd.DataFrame(
        rows, columns=["doc_id", "text", "lang", "source", "n_chars"]
    )
    docs["n_chars"] = docs["n_chars"].astype("Int64")
    d = str(tmp_path / "multimodal_boundary")
    os.makedirs(d, exist_ok=True)
    docs.to_parquet(os.path.join(d, "documents.parquet"), index=False)
    return d, docs


def test_multimodal_boundary_hand_derivation(spark, tmp_path):
    """Hand-derivation leg of the fourteenth fixture."""
    import math

    from monthly_report_etl_spark.catalog import QUERIES
    from monthly_report_etl_spark.operators.multimodal import (
        AUDIO_WINDOW,
        FRAME_SIZE,
    )

    d, docs = _multimodal_boundary_fixture(tmp_path)

    # decode_features: NULL and empty docs are ABSENT (no crash, no
    # fabricated zero byte); the rest match a pure-python byte walk
    feats = {
        r["doc_id"]: (r["n_bytes"], r["mean_byte"])
        for r in QUERIES["multimodal_decode_features"](spark, d).collect()
    }
    assert 1 not in feats and 2 not in feats
    for i, text in zip(docs.doc_id, docs.text):
        if text in (None, ""):
            continue
        bs = text.encode()
        assert feats[i][0] == len(bs), i
        assert abs(feats[i][1] - math.floor(sum(bs) / len(bs) * 1e6 + 0.5) / 1e6) < 1e-9, i

    # frame_sample: ceil(n/FRAME_SIZE) frames, edge at 64/65 bytes
    fr = {}
    for r in QUERIES["multimodal_frame_sample"](spark, d).collect():
        fr.setdefault(r["doc_id"], []).append(r["frame_idx"])
    assert 1 not in fr and 2 not in fr
    assert sorted(fr[8]) == [0]        # exactly one frame
    assert sorted(fr[9]) == [0, 1]     # 65 bytes -> frame + 1-byte tail
    assert len(fr[5]) == 512 // FRAME_SIZE
    assert sorted(fr[11]) == [0]       # 5 UTF-8 bytes -> one frame
    assert sorted(fr[12]) == [0, 1]    # 80 bytes (40 chars) -> 2 frames

    # decode_features: multibyte chars land in the high histogram bins
    # (UTF-8 lead/continuation bytes, NOT codepoints — 'é' is c3+a9)
    feats_full = {
        r["doc_id"]: r
        for r in QUERIES["multimodal_decode_features"](spark, d).collect()
    }
    assert feats_full[11]["n_bytes"] == 5          # café: 4 chars, 5 bytes
    assert feats_full[11]["hist_bin3"] == 1        # 0xC3 >= 192
    assert feats_full[11]["hist_bin2"] == 1        # 0xA9 in [128, 192)
    assert feats_full[12]["n_bytes"] == 80

    # audio_rms: docs with < 2 bytes have NO windows (no full int16
    # sample); odd trailing byte dropped; window edge at 512/514 bytes
    au = {}
    for r in QUERIES["multimodal_audio_rms"](spark, d).collect():
        au.setdefault(r["doc_id"], []).append((r["window_idx"], r["n_samples"]))
    assert 1 not in au and 2 not in au and 3 not in au
    assert au[4] == [(0, 1)]
    assert au[7] == [(0, 1)]                      # 3 bytes -> 1 sample
    assert sorted(au[5]) == [(0, AUDIO_WINDOW)]   # exactly one full window
    assert sorted(au[6]) == [(0, AUDIO_WINDOW), (1, 1)]
    assert au[11] == [(0, 2)]                     # 5 bytes -> 2 samples

    # byte_stats: NULL text keeps its row with NULL counts (projection,
    # not aggregation -- presence semantics differ from the UDF family
    # BY DESIGN and both engines agree)
    bstats = {
        r["doc_id"]: (r["n_bytes"], r["n_chars_exact"])
        for r in QUERIES["multimodal_byte_stats"](spark, d).collect()
    }
    assert bstats[1] == (None, None) and bstats[2] == (0, 0)


def test_oracles_agree_on_multimodal_boundary_fixture(spark, tmp_path):
    """Gate leg of the fourteenth fixture: all four multimodal oracles
    on the same adversarial parquet."""
    import duckdb

    d, _ = _multimodal_boundary_fixture(tmp_path)
    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM read_parquet('{d}/documents.parquet')"
    )
    _gate_compare(
        spark,
        con,
        d,
        [
            "multimodal_byte_stats",
            "multimodal_decode_features",
            "multimodal_frame_sample",
            "multimodal_audio_rms",
        ],
    )


def _olap_r13_boundary_fixture(tmp_path):
    """Fifteenth adversarial fixture (r15): the seventeen r13-latest
    OLAP entries plus join_hints / unpivot / upsert on a TPC-H micro
    schema where every nullable column actually goes NULL (quantities,
    prices, discounts, dates, names, keys), foreign keys dangle in both
    directions, a NULL-suppkey revenue group can HOLD the maximum, and
    each query's filter constants (BUILDING/1998-03-15, 1997-Q1 + 'R',
    sum_qty > 150, NATION_3, 'blue%' 1998, dormant-rich threshold) are
    actually crossed so the differential pins populated results, not
    vacuous empties. The hunt found and fixed ONE defect here:
    unpivot_part's oracle used DuckDB UNPIVOT, which silently EXCLUDES
    NULL cells, while Spark's unpivot keeps them (2 rows lost per NULL
    metric) -- the oracle is now the explicit UNION ALL form. Returns
    the fixture dir."""
    from datetime import datetime

    import pandas as pd

    import os

    D = datetime
    region = pd.DataFrame(
        [(0, "AFRICA"), (1, "AMERICA"), (2, None), (3, "EUROPE"),
         (4, "ASIA")],
        columns=["r_regionkey", "r_name"],
    )
    nation = pd.DataFrame(
        [(0, "ALGERIA", 0), (1, "BRAZIL", 1), (2, "CANADA", 1), (3, None, 2),
         (4, "FRANCE", 3), (5, "GERMANY", 3), (6, "EGYPT", None),
         (7, "NATION_3", 0), (8, "NATION_9", 4), (9, "NATION_1", 0),
         (10, "NATION_2", 1)],
        columns=["n_nationkey", "n_name", "n_regionkey"],
    )
    nation["n_regionkey"] = nation["n_regionkey"].astype("Int32")
    customer = pd.DataFrame(
        [(1, "Customer#1", 1, 100.0, "BUILDING"),
         (2, "Customer#2", 2, -50.0, "AUTOMOBILE"),
         (3, "Customer#3", 4, None, "BUILDING"),
         (4, None, 5, 9999.0, None),
         (5, "Customer#5", None, 0.0, "MACHINERY"),
         (6, "Customer#6", 3, 5000.0, "BUILDING"),
         (7, "Customer#7", 1, 8000.0, "FURNITURE"),
         (8, "Customer#8", None, 7777.0, "BUILDING"),
         (9, "Customer#9", 8, 10.0, "MACHINERY"),    # ASIA (market_share)
         (10, "Customer#10", 10, 20.0, "MACHINERY")],  # NATION_2 (Q7 pair)
        columns=["c_custkey", "c_name", "c_nationkey", "c_acctbal",
                 "c_mktsegment"],
    )
    customer["c_nationkey"] = customer["c_nationkey"].astype("Int32")
    supplier = pd.DataFrame(
        [(1, "Supplier#1", 0, 10.0), (2, "Supplier#2", 1, None),
         (3, "Supplier#3", 4, -5.0), (4, None, 5, 0.0),
         (5, "Supplier#5", None, 77.0), (6, "Supplier#6", 7, 1.0),
         (7, "Supplier#7", 7, 2.0), (8, "Supplier#8", 9, 5.0)],
        columns=["s_suppkey", "s_name", "s_nationkey", "s_acctbal"],
    )
    supplier["s_nationkey"] = supplier["s_nationkey"].astype("Int32")
    part = pd.DataFrame(
        [(1, "green metal thing", "Brand#12", "PROMO POLISHED", 5, 100.0),
         (2, "red shiny box", "Brand#12", "STANDARD BRUSHED", None, 200.5),
         (3, "ivory forest case", "Brand#34", None, 10, None),
         (4, None, None, "PROMO ANODIZED", 50, 0.0),
         (5, "blue misty crate", "Brand#34", "ECONOMY PLATED", 23, 950.25),
         # p_type EXACTLY 'PROMO' (market_share / cheapest_supplier
         # filter on equality, not prefix). Its suppliers 6 and 1 carry
         # real acctbals; the NULL-acctbal-supplier-on-a-PROMO-part
         # probe is DEFERRED to r16 with the pre-stated
         # cheapest_supplier NULLS-LAST argmin fix (COVERAGE.md)
         (6, "promo shiny thing", "Brand#55", "PROMO", 9, 42.0)],
        columns=["p_partkey", "p_name", "p_brand", "p_type", "p_size",
                 "p_retailprice"],
    )
    part["p_size"] = part["p_size"].astype("Int32")
    orders = pd.DataFrame(
        [(1, 1, "O", 100.0, D(1997, 9, 15), "1-URGENT"),
         (2, 1, "F", 250.5, D(1997, 9, 1), "2-HIGH"),
         (3, 2, "F", None, D(1995, 3, 10), None),
         (4, 3, None, 4000.0, None, "3-MEDIUM"),
         (5, None, "O", 77.25, D(1997, 9, 30), "1-URGENT"),
         (6, 4, "F", 0.0, D(1993, 7, 4), "5-LOW"),
         (7, 99, "O", 1234.5, D(1997, 10, 1), "4-NOT SPECIFIED"),
         (8, 2, "F", 50.0, D(1994, 1, 1), "5-LOW"),
         (9, 1, "O", 900.0, D(1998, 3, 1), "2-HIGH"),
         (10, 6, "F", 333.0, D(1997, 2, 15), "1-URGENT"),
         (11, 6, "O", 444.0, D(1997, 3, 1), "1-URGENT"),
         (12, 2, "F", 5500.0, D(1996, 5, 5), "3-MEDIUM"),
         (None, 5, "O", 10.0, D(1997, 6, 1), "5-LOW"),
         # rank-entry probes (2000-04/05/06 windows): a THREE-WAY count
         # tie in April where one group has a NULL priority -- the
         # tiebreak divergence the r15 hunt caught (Spark's bare asc
         # sort is NULLS FIRST, DuckDB's NULLS LAST; now pinned NULLS
         # LAST both sides); May has a NULL-priority group winning by
         # count; June spans a NULL segment and a NULL custkey
         (20, 1, "O", 10.0, D(2000, 4, 5), "1-URGENT"),
         (21, 1, "O", 10.0, D(2000, 4, 6), "2-HIGH"),
         (22, 1, "O", 10.0, D(2000, 4, 7), None),
         (23, 2, "O", 10.0, D(2000, 5, 5), "1-URGENT"),
         (24, 2, "O", 10.0, D(2000, 5, 6), None),
         (25, 2, "O", 10.0, D(2000, 5, 7), None),
         (26, 6, "O", 10.0, D(2000, 6, 5), "3-MEDIUM"),
         (27, None, "O", 10.0, D(2000, 6, 6), "1-URGENT"),
         (28, 4, "O", 10.0, D(2000, 6, 7), "1-URGENT"),
         # market_share / nation_pair probes (1996 windows)
         (30, 9, "O", 60.0, D(1996, 7, 1), "1-URGENT"),
         (31, 10, "O", 70.0, D(1996, 8, 1), "2-HIGH")],
        columns=["o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
                 "o_orderdate", "o_orderpriority"],
    )
    orders["o_orderkey"] = orders["o_orderkey"].astype("Int64")
    orders["o_custkey"] = orders["o_custkey"].astype("Int64")
    orders["o_orderdate"] = orders["o_orderdate"].astype("datetime64[us]")
    lineitem = pd.DataFrame(
        [(1, 1, 1, 1, 17.0, 1000.0, 0.05, 0.02, "N", "O", D(1997, 9, 20)),
         (1, 2, 2, 2, None, 500.0, 0.0, 0.0, "R", "F", D(1997, 9, 21)),
         (2, 1, 1, 1, 30.0, None, 0.1, 0.05, "A", "F", D(1997, 9, 5)),
         (2, 3, 3, 2, 5.0, 200.0, None, 0.01, "R", "F", None),
         (3, 4, 4, 1, 45.0, 4500.0, 0.07, None, None, "O", D(1995, 3, 15)),
         (4, 5, 5, 1, 1.0, 950.25, 0.0, 0.0, "N", None, D(1996, 1, 2)),
         (6, 1, 3, 1, 28.0, 2800.0, 0.02, 0.03, "R", "F", D(1993, 8, 1)),
         (7, 2, 1, 1, 50.0, 10000.0, 0.09, 0.06, "A", "F", D(1997, 10, 5)),
         (99, 1, 1, 1, 3.0, 111.0, 0.01, 0.0, "N", "O", D(1997, 9, 9)),
         (8, 99, 99, 1, 7.0, 70.0, 0.0, 0.0, "R", "F", D(1994, 2, 1)),
         (9, 1, 1, 1, 2.0, 500.0, None, 0.0, "N", "O", D(1998, 4, 2)),
         (9, 2, 2, 2, 4.0, 800.0, 0.1, 0.0, "N", "O", D(1998, 3, 20)),
         (10, 1, 1, 1, 1.0, 10.0, 0.0, 0.0, "R", "F", D(1997, 3, 1)),
         (11, 1, 1, 1, 1.0, 10.0, 0.0, 0.0, "N", "O", D(1997, 3, 5)),
         (12, 1, 1, 1, 120.0, 100.0, 0.0, 0.0, "N", "O", D(1996, 6, 1)),
         (12, 2, 2, 2, 35.0, 100.0, 0.0, 0.0, "N", "O", D(1996, 6, 2)),
         (12, 3, 3, 3, None, 100.0, 0.0, 0.0, "N", "O", D(1996, 6, 3)),
         (8, 1, 1, 2, 1.0, 600.0, 0.0, 0.0, "N", "O", D(1997, 1, 10)),
         (8, 1, 2, 3, 1.0, 300.0, 0.0, 0.0, "N", "O", D(1997, 2, 10)),
         (8, 1, 2, 4, 1.0, 300.0, 0.0, 0.0, "N", "O", D(1997, 2, 11)),
         (8, 1, None, 5, 1.0, 200.0, 0.0, 0.0, "N", "O", D(1997, 3, 3)),
         (1, 1, 6, 3, 10.0, 50.0, 0.0, 0.0, "N", "O", D(1996, 8, 1)),
         (2, 2, 7, 3, 1.0, 0.05, 0.0, 0.0, "N", "O", D(1996, 8, 2)),
         (6, 5, 1, 2, 6.0, 10.0, 0.0, 0.0, "N", "O", D(1998, 5, 1)),
         (6, 5, 2, 3, 4.0, 10.0, 0.0, 0.0, "N", "O", D(1998, 5, 2)),
         # market_share: ASIA order 30 on PROMO part 6 -- NATION_3's
         # supplier 6 ships 90 of the 140 non-NULL volume; the
         # NULL-discount line's volume is NULL and must drop from BOTH
         # the numerator CASE and the denominator SUM
         (30, 6, 6, 1, 2.0, 100.0, 0.1, 0.0, "N", "O", D(1996, 7, 10)),
         (30, 6, 1, 2, 1.0, 50.0, 0.0, 0.0, "N", "O", D(1996, 7, 11)),
         (30, 6, 1, 3, 1.0, 80.0, None, 0.0, "N", "O", D(1996, 7, 12)),
         # nation_pair: NATION_1 supplier 8 -> NATION_2 customer 10
         (31, 1, 8, 1, 1.0, 200.0, 0.05, 0.0, "N", "O", D(1996, 9, 1))],
        columns=["l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
                 "l_quantity", "l_extendedprice", "l_discount", "l_tax",
                 "l_returnflag", "l_linestatus", "l_shipdate"],
    )
    lineitem["l_linenumber"] = lineitem["l_linenumber"].astype("int32")
    lineitem["l_suppkey"] = lineitem["l_suppkey"].astype("Int64")
    lineitem["l_shipdate"] = lineitem["l_shipdate"].astype("datetime64[us]")
    d = str(tmp_path / "olap_r13_boundary")
    os.makedirs(d, exist_ok=True)
    for name, df in [("region", region), ("nation", nation),
                     ("customer", customer), ("supplier", supplier),
                     ("part", part), ("orders", orders),
                     ("lineitem", lineitem)]:
        df.to_parquet(os.path.join(d, f"{name}.parquet"), index=False)
    return d


def test_olap_r13_boundary_hand_derivation(spark, tmp_path):
    """Hand-derivation leg of the fifteenth fixture: the rows that cross
    each filter threshold, derived by hand from the fixture tables."""
    from monthly_report_etl_spark.catalog import QUERIES

    d = _olap_r13_boundary_fixture(tmp_path)

    # unpivot keeps NULL metrics: 5 parts x 2 metrics = 10 rows, with
    # part 2's NULL size and part 3's NULL retailprice PRESENT
    up = {
        (r["p_partkey"], r["metric"]): r["val"]
        for r in QUERIES["unpivot_part"](spark, d).collect()
    }
    assert len(up) == 12  # 6 parts x 2 metrics, NULL cells KEPT
    assert up[(2, "size")] is None and up[(3, "retailprice")] is None

    # large_orders: order 12 sums 120+35 = 155 > 150 with the NULL
    # quantity line skipped by SUM, not zeroing the group
    lo = QUERIES["olap_large_orders"](spark, d).collect()
    assert [(r["o_orderkey"], r["sum_qty"]) for r in lo] == [(12, 155.0)]

    # top_revenue_supplier: supplier 1 totals 620 in 1997-Q1 (600 + the
    # two 10.0 semijoin-probe lines); the NULL-suppkey group's 200
    # joins NO supplier and must not leak in
    tr = QUERIES["olap_top_revenue_supplier"](spark, d).collect()
    assert [(r["s_suppkey"], r["total_revenue"]) for r in tr] == [(1, 620.0)]

    # dominant_supplier: part 5 ('blue...') ships 6 vs 4 in 1998 ->
    # supplier 1 (60%) dominates, supplier 2 (40%) does not
    ds = QUERIES["olap_dominant_supplier"](spark, d).collect()
    assert [r["s_suppkey"] for r in ds] == [1]

    # dormant_rich: customers 7 and 8 are above the positive-balance
    # average and orderless; customer 8's NULL nationkey is a REAL
    # group key
    dr = {
        r["c_nationkey"]: r["n_custs"]
        for r in QUERIES["olap_dormant_rich_customers"](spark, d).collect()
    }
    assert dr == {1: 1, None: 1}

    # order_priority_semijoin: of the two 1997-Q1 orders, only order 10
    # has an 'R' lineitem
    sj = QUERIES["olap_order_priority_semijoin"](spark, d).collect()
    assert [(r["o_orderpriority"], r["n_orders"]) for r in sj] == [("1-URGENT", 1)]

    # upsert: the NULL-orderkey base row matches no update and labels
    # 'insert' (its key IS NULL -- the same label both engines give an
    # inserted row; pinned as the agreed convention)
    ups = QUERIES["upsert_full_outer"](spark, d).collect()
    null_key = [r for r in ups if r["o_orderkey"] is None]
    assert len(null_key) == 1 and null_key[0]["change_type"] == "insert"

    # rank_in_segment_month: April's three-way count tie includes a
    # NULL-priority group -- under the pinned NULLS-LAST tiebreak it
    # ranks THIRD (Spark's default NULLS-FIRST asc ranked it first,
    # shifting every other rank: the r15 divergence this fixture caught)
    rk = {
        (r["segment"], str(r["month"])[:7], r["priority"]): r["rank_in_segment"]
        for r in QUERIES["rank_in_segment_month"](spark, d).collect()
    }
    assert rk[("BUILDING", "2000-04", "1-URGENT")] == 1
    assert rk[("BUILDING", "2000-04", "2-HIGH")] == 2
    assert rk[("BUILDING", "2000-04", None)] == 3
    assert rk[("AUTOMOBILE", "2000-05", None)] == 1  # count 2 beats count 1
    assert rk[(None, "2000-06", "1-URGENT")] == 1    # NULL segment is a
    #   real partition (order 28's customer has a NULL mktsegment)

    # market_share: NATION_3 ships 90 of the 140 non-NULL ASIA/PROMO
    # volume in 1996; the NULL-discount line's NULL volume drops from
    # numerator AND denominator in both engines
    ms = {r["o_year"]: r["mkt_share"]
          for r in QUERIES["olap_market_share"](spark, d).collect()}
    assert abs(ms[1996] - round(90.0 / 140.0, 6)) < 1e-9

    # nation_pair: one direction populated, revenue 200*(1-0.05)
    np_ = QUERIES["olap_nation_pair_volume"](spark, d).collect()
    assert [(r["supp_nation"], r["cust_nation"], r["l_year"], r["revenue"])
            for r in np_] == [("NATION_1", "NATION_2", 1996, 190.0)]

    # cheapest_supplier: PROMO part 6's argmin over real acctbals picks
    # supplier 6 (1.0 < 10.0). The NULL-acctbal-supplier probe is
    # deliberately NOT here: Spark's min(struct(acctbal, ...)) orders a
    # NULL balance FIRST while the oracle's row_number is NULLS LAST --
    # a real divergence found by this hunt, pre-stated for the r16 fix
    # (COVERAGE.md) because the entry is r14-latest and r16's slack is
    # spoken for.
    cs = QUERIES["olap_cheapest_supplier"](spark, d).collect()
    assert [(r["p_partkey"], r["s_suppkey"]) for r in cs] == [(6, 6)]


def test_oracles_agree_on_olap_r13_boundary_fixture(spark, tmp_path):
    """Gate leg of the fifteenth fixture: twenty REGISTERED oracles on
    the same adversarial parquet."""
    import duckdb

    d = _olap_r13_boundary_fixture(tmp_path)
    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    for t in ("region", "nation", "customer", "supplier", "part",
              "orders", "lineitem"):
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{d}/{t}.parquet')"
        )
    _gate_compare(
        spark,
        con,
        d,
        [
            "olap_disjunctive_brackets",
            "olap_dominant_supplier",
            "olap_dormant_rich_customers",
            "olap_forecast_revenue",
            "olap_important_stock",
            "olap_large_orders",
            "olap_local_supplier_volume",
            "olap_order_count_distribution",
            "olap_order_priority_semijoin",
            "olap_priority_linecount",
            "olap_promo_revenue",
            "olap_regional_revenue",
            "olap_returned_items",
            "olap_shipping_priority",
            "olap_small_quantity_avg",
            "olap_supplier_part_types",
            "olap_top_revenue_supplier",
            "join_hints_shuffle_hash",
            "unpivot_part",
            "upsert_full_outer",
            # r15 second pass: the remaining TPC-H-backed entries, incl
            # the rank pair whose NULL-priority tiebreak this fixture
            # caught diverging (now pinned NULLS LAST both sides)
            "pricing_summary",
            "olap_market_share",
            "olap_cheapest_supplier",
            "olap_product_profit",
            "olap_yearly_growth",
            "olap_nation_pair_volume",
            "salted_join",
            "null_profile_orders",
            "rank_in_segment_month",
            "rank_pivot_merge_back",
            "lookup_enrich_broadcast",
        ],
    )


def _events_misc_boundary_fixture(tmp_path):
    """Sixteenth adversarial fixture (r15): the flagship, dq_violations
    and the count-min sketch on events with NULL user/type/value/ts,
    out-of-domain types, out-of-range timestamps, malformed and
    non-object JSON props, fractional/missing/non-numeric k values, and
    two genuine heavy hitters. The hunt found and fixed TWO defects
    here: (1) the flagship oracle carried an unguarded
    CAST(json_extract_string(props,'k') AS BIGINT) -- the SAME class
    json_extract_props had: DuckDB raises on malformed props and ROUNDS
    >=.5 fractions where Spark's get_json_object+cast is lenient and
    truncating; (2) only k_value's max_by was NULL-guarded on the Spark
    side, so a user whose LATEST event carried a NULL event_type/value
    deduped to NULLs where DuckDB's MAX_BY (which skips NULL values)
    picks the latest NON-NULL pair -- and the NULL value then slipped
    past the value<10 failure rule (user 1 here: latest known value
    -3.0 must FAIL the export). The props probes stay inside the
    parser-agreement subset: both engines' validity checks are
    prefix-lenient in DIFFERENT ways on trailing-garbage JSON
    ('{} junk', '42\\n,') and DuckDB additionally accepts trailing
    commas and NaN -- that frontier is documented in dq_violations and
    deliberately NOT probed. Returns (dir, events)."""
    from datetime import datetime, timedelta

    import pandas as pd

    import os

    t = lambda k: datetime(2024, 1, 10) + timedelta(hours=k)
    rows = [
        (1, t(0), 1, "click", 5.0, '{"k": 42}'),
        (2, t(1), 1, "view", -3.0, "{ba"),
        (3, t(2), 1, None, None, None),
        (4, t(3), 2, "refund", 10.0, "nul"),
        (5, datetime(2022, 6, 1), 2, "click", 1.0, "null"),
        (6, datetime(2026, 6, 1), 2, "view", 2.0, "[1,2]"),
        (7, t(4), None, "purchase", 100.0, '{"k": "4.6"}'),
        (8, t(5), 3, "error", 50.0, '{"k": 99}'),
        (9, t(6), 3, "purchase", 9.0, '{"k": 81}'),
        (10, t(7), 4, "purchase", 600.0, '{"k": "abc"}'),
        (11, t(8), 4, "purchase", 10.0, '{"k": 81}'),
        (12, t(9), 5, "purchase", 700.0, "{}"),
        (13, t(10), 5, "signup", 501.0, '{"k": 51}'),
        (14, t(11), 6, "view", 1000.0, '{"k": 20.9}'),
        (15, t(12), 7, "click", None, '{"k": 6}'),
        (16, None, 7, "view", 3.0, '{"k": 7}'),
    ] + [
        (100 + i, t(13 + i), 8, "click", 1.0, "{}") for i in range(12)
    ] + [
        (200 + i, t(26 + i), 9, "view", 2.0, "{}") for i in range(7)
    ] + [
        # last-touch attribution probes (r15 second pass; users 10-12,
        # OUTSIDE the flagship window so the report asserts above hold):
        # the 1h window is INCLUSIVE at exactly -1h, exclusive 1us
        # beyond, clicks after the purchase never attribute, and the
        # LATEST in-window click wins
        (300, datetime(2024, 2, 1, 11, 0, 0), 10, "click", 1.0, "{}"),
        (301, datetime(2024, 2, 1, 10, 59, 59, 999999), 10, "click", 1.0, "{}"),
        (302, datetime(2024, 2, 1, 11, 30, 0), 10, "click", 1.0, "{}"),
        (303, datetime(2024, 2, 1, 12, 0, 0, 1), 10, "click", 1.0, "{}"),
        (304, datetime(2024, 2, 1, 12, 0, 0), 10, "purchase", 99.0, "{}"),
        (305, datetime(2024, 2, 3, 9, 0, 0), 11, "purchase", 50.0, "{}"),
        (306, datetime(2024, 2, 4, 8, 0, 0), 12, "click", 1.0, "{}"),
        (307, datetime(2024, 2, 4, 9, 0, 0), 12, "purchase", 20.0, "{}"),
    ]
    ev = pd.DataFrame(
        rows, columns=["event_id", "ts", "user_id", "event_type", "value",
                       "props"]
    )
    ev["ts"] = ev["ts"].astype("datetime64[us]")
    ev["user_id"] = ev["user_id"].astype("Int64")
    d = str(tmp_path / "events_misc_boundary")
    os.makedirs(d, exist_ok=True)
    ev.to_parquet(os.path.join(d, "events.parquet"), index=False)
    # a small orders table so the events/orders pair entries
    # (month_membership_filter, sketch_partial_merge,
    # range_join_bucketized) gate here too -- NULL priority, NULL price,
    # NULL date, NULL custkey all present
    orders = pd.DataFrame(
        [(1, 1, "O", 100.0, datetime(2024, 1, 10), "1-URGENT"),
         (2, 1, "F", 250.5, datetime(2024, 1, 12), "2-HIGH"),
         (3, 2, "F", None, datetime(2024, 1, 15), None),
         (4, 3, None, 4000.0, None, "3-MEDIUM"),
         (5, None, "O", 77.25, datetime(2024, 2, 2), "1-URGENT"),
         (6, 4, "F", 0.0, datetime(2023, 12, 30), "5-LOW"),
         (7, 2, "O", 50.0, datetime(2024, 3, 1), "5-LOW")],
        columns=["o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
                 "o_orderdate", "o_orderpriority"],
    )
    orders["o_custkey"] = orders["o_custkey"].astype("Int64")
    orders["o_orderdate"] = orders["o_orderdate"].astype("datetime64[us]")
    orders.to_parquet(os.path.join(d, "orders.parquet"), index=False)
    return d, ev


def test_events_misc_boundary_hand_derivation(spark, tmp_path):
    """Hand-derivation leg of the sixteenth fixture."""
    from monthly_report_etl_spark.catalog import QUERIES

    d, _ = _events_misc_boundary_fixture(tmp_path)

    # --- flagship: latest-NON-NULL dedup semantics per column ---
    rep = {
        (None if r["user_id"] is None else int(r["user_id"])):
            (r["event_type"], r["value"], r["k_value"], r["performance"])
        for r in QUERIES["exports_report_events"](spark, d).collect()
    }
    # user 1's LATEST event is all-NULL; latest non-null value is -3.0
    # (< 10) -> FAILING, excluded. Before the r15 guard the NULL value
    # slipped the rule and user 1 leaked into the report.
    assert 1 not in rep
    # user 3's latest is 'purchase' 9.0 (< 10) -> failing; user 2 out of
    # the window entirely
    assert 2 not in rep and 3 not in rep
    assert rep[4] == ("purchase", 10.0, 81, "Export Winner Deals")
    assert rep[5] == ("signup", 501.0, 51, "Secondary Export Deals")
    # k 20.9 truncates to 20: NOT 'Failed In Scope' (k > 20 is strict)
    assert rep[6] == ("view", 1000.0, 20, "Failed Out of Scope Deals")
    # user 7: NULL-ts event ignored by the window filter; latest known
    # value is NULL only -> value stays NULL, passes the <10 rule
    assert rep[7][2] == 6 and rep[7][3] == "Failed Out of Scope Deals"
    # NULL user_id is a real dedup group: latest k is '4.6' -> 4
    assert rep[None][2] == 4 and rep[None][3] == "Deals Not Exported"

    # --- dq_violations: NULL predicate inputs never count ---
    dq = {
        r["rule"]: (r["n_violations"], r["n_checked"])
        for r in QUERIES["dq_violations"](spark, d).collect()
    }
    n = 16 + 12 + 7 + 8
    assert dq["value_non_negative"] == (1, n)       # only -3.0; NULLs skip
    assert dq["event_type_in_domain"] == (1, n)     # 'refund'; NULL skips
    assert dq["ts_in_range"] == (2, n)              # 2022 + 2026; NULL skips
    assert dq["props_valid_json"] == (2, n)         # '{ba' + 'nul'; NULL
    #   props skips; 'null' and '[1,2]' are VALID JSON documents

    # --- last-touch attribution: window-edge semantics ---
    att = {
        r["purchase_id"]: (r["attributed_click_id"], r["attributed_click_ts"])
        for r in QUERIES["events_last_touch_attribution"](spark, d).collect()
    }
    assert att[304][0] == 302   # LATEST in-window click wins (not the
    #   exactly-1h-earlier 300, not the 1us-too-early 301, never the
    #   1us-after-purchase 303)
    assert att[307][0] == 306   # exactly purchase_ts - 1h: INCLUSIVE
    assert 305 not in att       # no click at all -> no attribution row
    assert set(att) == {304, 307}

    # --- sketch_count_min: estimates never undercount; the two heavy
    # hitters' exact counts are recovered exactly at this tiny scale ---
    cm = {
        r["user_id"]: (r["exact_cnt"], r["cm_est"], r["overcount"])
        for r in QUERIES["sketch_count_min"](spark, d).collect()
    }
    assert cm[8][0] == 12 and cm[9][0] == 7
    assert all(est >= exact for exact, est, _ in cm.values())
    assert all(over == est - exact for exact, est, over in cm.values())


def test_oracles_agree_on_events_misc_boundary_fixture(spark, tmp_path):
    """Gate leg of the sixteenth fixture: the flagship, dq and count-min
    oracles on the same adversarial parquet."""
    import duckdb

    d, _ = _events_misc_boundary_fixture(tmp_path)
    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    for t in ("events", "orders"):
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{d}/{t}.parquet')"
        )
    _gate_compare(
        spark,
        con,
        d,
        [
            "exports_report_events",
            "dq_violations",
            "sketch_count_min",
            # r15 second pass: the events/orders entries the hunt fixed
            # or cleared -- NULL event time (sequences/session/tumbling),
            # the three-valued F.exists, the two-sided rank-interval
            # median bounds, the null-safe sketch group joins, and the
            # empty-KLL-buffer guard
            "events_user_sequences",
            "events_last_touch_attribution",
            "streaming_sessionize",
            "streaming_tumbling_window_batch",
            "streaming_interval_join_batch",
            "exists_over_array",
            "approx_aggregates",
            "exact_distinct_bounds",
            "global_denominators",
            "distinct_event_types",
            "filter_project_window",
            "month_membership_filter",
            "sketch_partial_merge",
            "range_join_bucketized",
        ],
    )


def _embeddings_boundary_fixture(tmp_path):
    """Seventeenth adversarial fixture (r15, hunt continuation into the
    vector family): the embeddings entries on NULL / zero-norm /
    constant / duplicated / negated vectors and NULL labels. The hunt
    found and fixed TWO defect classes here: (1) a single NULL embedding
    row CRASHED every numpy-matmul entry (LSH bucketing, IVF/PQ/k-means
    train+assign, PCA projection -- np.stack over an Arrow batch
    containing None raises ValueError and fails the whole job, the same
    crash class as the multimodal bytes(None)); all embeddings scans now
    go through functions.vectors.read_vectors, which drops NULL-vector
    rows AT THE SCAN (IsNotNull pushes into the parquet reader), and
    every embeddings oracle mirrors it with WHERE embedding IS NOT
    NULL; (2) the three recall-checked entries divided by the CONSTANT
    N_QUERIES * TOP_K, so on any corpus with fewer queries / fewer than
    TOP_K neighbors per query / a zero-norm query (whose ground truth
    is an arbitrary NULL-cosine tiebreak), recall_ok could never reach
    the floor even when the ANN rows were EXACT -- recall is now
    measured against the exact rows with a non-NULL cosine, vacuously
    true when no measurable ground truth exists. Returns (dir, emb)."""
    import numpy as np
    import pandas as pd

    import os

    DIM = 64

    def vec(seed, scale=1.0):
        rng = np.random.RandomState(seed)
        return (rng.randn(DIM) * scale).astype(np.float32).tolist()

    rows = [
        (0, vec(1), 0),                    # normal query
        (1, [0.0] * DIM, 1),               # zero-vector query: no ground truth
        (2, None, 0),                      # NULL embedding query: not a vector
        (3, vec(3), None),                 # NULL label
        (4, [1.0] * DIM, 2),               # constant query
        (10, vec(1), 0),                   # exact duplicate of q0 -> cos 1
        (11, [-x for x in vec(1)], 0),     # negation -> cos -1
        (12, vec(12), 1),
        (13, vec(13), 2),
        (14, [0.0] * DIM, 1),              # zero corpus vector
        (15, None, None),                  # NULL corpus vector
        (16, [2.0] * DIM, 2),              # parallel to q4 -> cos 1
        (17, vec(17), 0),
        (18, vec(18), 1),
        (19, vec(12), 2),                  # duplicate of 12
    ] + [(i, vec(i), i % 3) for i in range(20, 40)]
    emb = pd.DataFrame(rows, columns=["vec_id", "embedding", "label"])
    emb["label"] = emb["label"].astype("Int32")
    d = str(tmp_path / "embeddings_boundary")
    os.makedirs(d, exist_ok=True)
    emb.to_parquet(os.path.join(d, "embeddings.parquet"), index=False)
    docs = pd.DataFrame(
        [(i, f"doc {i} text here", "en", "web", 15) for i in range(40)],
        columns=["doc_id", "text", "lang", "source", "n_chars"],
    )
    docs.to_parquet(os.path.join(d, "documents.parquet"), index=False)
    return d, emb


def test_embeddings_boundary_hand_derivation(spark, tmp_path):
    """Hand-derivation leg of the seventeenth fixture."""
    import numpy as np

    from monthly_report_etl_spark.catalog import QUERIES

    d, emb = _embeddings_boundary_fixture(tmp_path)

    # knn: NULL vectors are NOT in the index (neither as query nor as
    # neighbor); the zero-norm query ranks every candidate at NULL
    # cosine; exact duplicate / negation pin cos 1 and -1
    knn = {}
    for r in QUERIES["similarity_knn_brute_force"](spark, d).collect():
        knn.setdefault(r["query_id"], []).append(
            (r["rn"], r["neighbor_id"], r["cosine"])
        )
    assert 2 not in knn                       # NULL query dropped
    assert all(15 != n for rows in knn.values() for _, n, _ in rows)
    assert knn[0][0] == (1, 10, 1.0)          # duplicate is the top hit
    assert min(c for _, _, c in knn[0] if c is not None) > -1.0
    neg = [
        (n, c) for _, n, c in knn[0] if n == 11
    ]  # negation never in top-5 (cos -1 ranks last)
    assert neg == []
    assert all(c is None for _, _, c in knn[1])  # zero query: all NULL cos
    assert knn[4][0][1] == 16 and knn[4][0][2] == 1.0  # parallel vector

    # recall-checked entries: rows are the exact ones, and the flag is
    # measured against MEASURABLE ground truth -> True even with the
    # zero-norm query in range
    for name in ("similarity_ivf_topk", "similarity_pca_ivf",
                 "similarity_pq_adc"):
        rows = QUERIES[name](spark, d).collect()
        assert rows and all(r["recall_ok"] for r in rows), name

    # quantize: zero vector has no scale (max_abs = 0) -> absent;
    # NULL vector absent; everything else scales within int8
    q = {r["vec_id"]: r["scale_r"]
         for r in QUERIES["embeddings_quantize_int8"](spark, d).collect()}
    assert 1 not in q and 14 not in q and 2 not in q and 15 not in q
    assert abs(q[4] - 127.0) < 1e-6           # constant 1.0 -> scale 127

    # standardize: per-dim z over the 38 non-NULL vectors only
    st = QUERIES["embeddings_standardize"](spark, d).toPandas()
    assert set(st[st.vec_id == 2].index) == set()  # NULL vector absent
    assert st.dim.nunique() == 64

    # embedding-cosine dedup: the exact duplicate pair (0,10) and the
    # parallel pair (4,16) are flagged; vec 12/19 duplicates too
    dup = {(r["vec_a"], r["vec_b"])
           for r in QUERIES["dedup_embedding_cosine"](spark, d).collect()}
    assert (0, 10) in dup and (4, 16) in dup and (12, 19) in dup


def test_oracles_agree_on_embeddings_boundary_fixture(spark, tmp_path):
    """Gate leg of the seventeenth fixture: all twelve vector-family
    oracles on the same adversarial parquet -- including the two
    r14-latest entries (dedup_semdedup_kmeans, embeddings_pq) whose
    shared read_vectors change rides receipts until their r17 cohort
    rows; this differential, running on every
    pytest invocation, is that receipt."""
    import duckdb

    d, _ = _embeddings_boundary_fixture(tmp_path)
    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    for t in ("embeddings", "documents"):
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{d}/{t}.parquet')"
        )
    _gate_compare(
        spark,
        con,
        d,
        [
            "similarity_knn_brute_force",
            "similarity_ann_lsh",
            "similarity_ivf_topk",
            "similarity_pca_ivf",
            "similarity_pq_adc",
            "dedup_embedding_cosine",
            "embeddings_pca",
            "embeddings_quantize_int8",
            "embeddings_standardize",
            "dedup_semdedup_exact",
            "dedup_semdedup_kmeans",
            "embeddings_pq",
        ],
    )


def _degenerate_corpus_fixture(tmp_path, all_zero_vectors=False):
    """Eighteenth adversarial fixture (r16 continuation, tiny-table
    fuzz probe): EMPTY and all-zero-information inputs. A 1000-executor
    job sees empty partitions and empty ingest days constantly; the
    probe found (1) Spark's grouping-set convention — rollup/cube/
    GROUPING SETS expand input rows per set BEFORE aggregating, so an
    EMPTY input yields ZERO rows even for the () set where ANSI/DuckDB
    emit one grand-total row; the oracles mirror it with
    HAVING count(*) > 0 (vacuous on any non-empty input) rather than
    forcing a second full aggregation pass Spark-side; and (2) the
    PCA/PQ trainers RAISED on an empty or all-zero-norm corpus, killing
    the job where the transform entries have a well-defined answer
    (empty projection / vacuously-true fidelity on a corpus that
    reconstructs exactly). Returns the table dir."""
    import os

    import pandas as pd

    from tools.fuzz_differential import _SCHEMAS, _write

    d = str(tmp_path / ("degenerate_zero" if all_zero_vectors else "degenerate_empty"))
    os.makedirs(d, exist_ok=True)
    for t, sch in _SCHEMAS.items():
        if t == "embeddings" and all_zero_vectors:
            emb = pd.DataFrame(
                [(0, [0.0] * 64, 1), (1, [0.0] * 64, None), (2, None, 0)],
                columns=["vec_id", "embedding", "label"],
            )
            emb["label"] = emb["label"].astype("Int32")
            _write(emb, d, t)
        else:
            _write(pd.DataFrame(columns=[f.name for f in sch]), d, t)
    return d


def test_degenerate_corpus_hand_derivation(spark, tmp_path):
    """Hand-derivation leg of the eighteenth fixture."""
    from monthly_report_etl_spark.catalog import QUERIES

    d = _degenerate_corpus_fixture(tmp_path)
    # Spark's empty-input grouping-set convention: zero rows, () set
    # included (the rollup/cube/grouping_sets oracles all carry the
    # HAVING count(*) > 0 mirror — grouping_sets_orders' landed r17)
    for name in ("rollup_lineitem", "cube_orders", "grouping_sets_orders",
                 "corpus_source_lang_rollup"):
        assert QUERIES[name](spark, d).count() == 0, name
    # transform entry on an EMPTY vector corpus: empty, not a raise
    assert QUERIES["embeddings_pca"](spark, d).count() == 0

    # sketch_partial_merge on EMPTY orders keeps exactly the 'ALL' row
    # (finding 40, the LEFT ranks-join fix, landed r17): 0 distinct
    # customers, vacuously-true bounds — matching the oracle's
    # global-agg row
    sk = QUERIES["sketch_partial_merge"](spark, d).collect()
    assert len(sk) == 1 and sk[0]["o_orderpriority"] == "ALL", sk
    assert sk[0]["exact_distinct_custs"] == 0
    assert sk[0]["hll_ok"] and sk[0]["p50_ok"], sk

    # all-zero corpus: PCA has nothing to explain — per-vector rows
    # flow with norm 0 and TRUE flags (reconstruction is exact)
    dz = _degenerate_corpus_fixture(tmp_path, all_zero_vectors=True)
    pca = {r["vec_id"]: r for r in QUERIES["embeddings_pca"](spark, dz).collect()}
    assert set(pca) == {0, 1}  # NULL vector dropped
    assert all(r["norm_r"] == 0.0 for r in pca.values())
    assert all(r["pca_var_ok"] and r["pca_recon_ok"] for r in pca.values())

    import pytest

    from monthly_report_etl_spark.operators.similarity import (
        train_pca_model,
        train_pq_codebooks,
    )

    # embeddings_pq on an empty/all-zero corpus (the allow_empty
    # transform split, landed r17 — the train_pca_model pattern):
    # nothing to train means nothing was encoded, so the rows flow with
    # their exact norms and vacuously TRUE flags instead of a raise
    assert QUERIES["embeddings_pq"](spark, d).count() == 0
    pqr = {r["vec_id"]: r for r in QUERIES["embeddings_pq"](spark, dz).collect()}
    assert set(pqr) == {0, 1}  # NULL vector dropped (oracle's IS NOT NULL)
    assert all(r["norm_r"] == 0.0 for r in pqr.values())
    assert all(r["pq_fidelity_ok"] and r["pq_codes_ok"] for r in pqr.values())

    # model-PRODUCING callers get the loud error on empty input
    with pytest.raises(ValueError, match="empty corpus"):
        train_pca_model(spark, d)
    with pytest.raises(ValueError, match="empty corpus"):
        train_pq_codebooks(spark, d)


def test_oracles_agree_on_degenerate_corpus_fixture(spark, tmp_path):
    """Gate leg of the eighteenth fixture: the empty-input and all-zero
    conventions hold under the driver's rows+schema+value-hash compare."""
    import duckdb

    # grouping_sets_orders / embeddings_pq / sketch_partial_merge /
    # percentiles_exact / array_functions / asof_join /
    # recursive_order_chains joined when their r17 fixes landed (the
    # whole deferred queue gates here on the degenerate corpora now)
    names = ["rollup_lineitem", "cube_orders", "corpus_source_lang_rollup",
             "embeddings_pca", "embeddings_standardize",
             "embeddings_quantize_int8", "topk_orders", "set_ops",
             "pricing_summary", "null_profile_orders",
             "grouping_sets_orders", "embeddings_pq",
             "sketch_partial_merge", "percentiles_exact",
             "array_functions", "asof_join", "recursive_order_chains"]
    for all_zero in (False, True):
        d = _degenerate_corpus_fixture(tmp_path, all_zero_vectors=all_zero)
        con = duckdb.connect()
        con.execute("SET TimeZone='UTC'")
        for t in ("events", "documents", "orders", "lineitem", "part",
                  "supplier", "customer", "nation", "region", "embeddings"):
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{d}/{t}.parquet')"
            )
        _gate_compare(spark, con, d, names)


def test_returned_items_negative_zero_acctbal_canonical(spark, tmp_path):
    """Finding 41 probe (the fuzzer's -0.0 wave): a customer whose
    STORED balance is IEEE -0.0 must hash identically through both
    engines' ROUND — Spark's BigDecimal round has no signed zero while
    DuckDB's binary round preserves it, so the oracle canonicalizes
    with + 0.0 (the stats_moments pattern). The fixture forces the
    customer into Q10's top-20 via one returned lineitem."""
    import os

    import duckdb
    import pandas as pd

    from tools.fuzz_differential import _write

    d = str(tmp_path / "neg_zero_acctbal")
    os.makedirs(d, exist_ok=True)
    cust = pd.DataFrame(
        [(1, "Customer#1", 0, -0.0, "BUILDING"),
         (2, "Customer#2", 0, 0.0, "BUILDING"),
         (3, "Customer#3", 0, -123.0, "AUTOMOBILE")],
        columns=["c_custkey", "c_name", "c_nationkey", "c_acctbal",
                 "c_mktsegment"],
    )
    _write(cust, d, "customer")
    orders = pd.DataFrame(
        [(10, 1, "F", 100.0, pd.Timestamp("1995-01-01"), "1-URGENT"),
         (11, 2, "F", 100.0, pd.Timestamp("1995-02-01"), "5-LOW"),
         (12, 3, "F", 100.0, pd.Timestamp("1995-03-01"), "5-LOW")],
        columns=["o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
                 "o_orderdate", "o_orderpriority"],
    )
    _write(orders, d, "orders")
    li = pd.DataFrame(
        [(10, 1, 1, 1, 5.0, 1000.0, 0.0, 0.0, "R", "F", pd.Timestamp("1995-01-05")),
         (11, 1, 1, 1, 5.0, 800.0, 0.25, 0.0, "R", "F", pd.Timestamp("1995-02-05")),
         (12, 1, 1, 1, 5.0, 600.0, 0.0, 0.0, "R", "F", pd.Timestamp("1995-03-05"))],
        columns=["l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
                 "l_quantity", "l_extendedprice", "l_discount", "l_tax",
                 "l_returnflag", "l_linestatus", "l_shipdate"],
    )
    _write(li, d, "lineitem")

    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    for t in ("customer", "orders", "lineitem"):
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{d}/{t}.parquet')"
        )
    _gate_compare(spark, con, d, ["olap_returned_items"])
    # the canonicalized cell is POSITIVE zero on both sides
    import math

    import __spark_entry__ as entrymod

    srow = {r["c_custkey"]: r["c_acctbal"]
            for r in entrymod.queries()["olap_returned_items"](spark, d).collect()}
    orow = dict(con.execute(
        "SELECT c_custkey, c_acctbal FROM (" +
        entrymod.oracle_sql()["olap_returned_items"] + ")").fetchall())
    assert math.copysign(1.0, srow[1]) == 1.0
    assert math.copysign(1.0, orow[1]) == 1.0


def test_latest_wins_tiebreak_under_duplicate_timestamps(spark, tmp_path):
    """Finding 42 probe (the fuzzer's ts-collision wave): MAX_BY under
    EXACT duplicate timestamps is engine-arbitrary, so 'latest' is
    totalized as (ts, event_id) — among tied max timestamps the highest
    event_id wins, in the catalog dedup AND the flagship twin. Two
    events share the flagship-window timestamp; the higher event_id's
    payload must win on both sides of the gate."""
    import os

    import duckdb
    import pandas as pd

    from tools.fuzz_differential import _write

    d = str(tmp_path / "ts_ties")
    os.makedirs(d, exist_ok=True)
    t = pd.Timestamp("2024-01-10 12:30:00.500000")
    ev = pd.DataFrame(
        [
            (1, t, 1, "click", 100.0, '{"k": 90}'),
            (2, t, 1, "view", 200.0, '{"k": 95}'),     # tied ts, higher id
            (3, pd.Timestamp("2024-01-06"), 1, "error", 5.0, '{"k": 1}'),
            (4, t, 2, None, 700.0, '{"k": 60}'),       # tied with id 5
            (5, t, 2, "purchase", None, '{"k": 55}'),  # NULL value: skip
        ],
        columns=["event_id", "ts", "user_id", "event_type", "value", "props"],
    )
    ev["ts"] = ev["ts"].astype("datetime64[us]")
    _write(ev, d, "events")

    from monthly_report_etl_spark.catalog import QUERIES

    rows = {r["user_id"]: r for r in QUERIES["dedup_latest_maxby"](spark, d).collect()}
    # user 1: id 2 wins the tie outright
    assert rows[1]["event_type"] == "view" and rows[1]["value"] == 200.0
    # user 2: per-column null-skip still applies on top of the tiebreak —
    # event_type comes from id 5 (id 4's is NULL), value from id 4
    assert rows[2]["event_type"] == "purchase" and rows[2]["value"] == 700.0

    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    con.execute(
        f"CREATE VIEW events AS SELECT * FROM read_parquet('{d}/events.parquet')"
    )
    _gate_compare(spark, con, d, ["dedup_latest_maxby", "exports_report_events"])
    # the flagship's winner row classifies from id 2's payload
    flag = {r["user_id"]: r
            for r in QUERIES["exports_report_events"](spark, d).collect()}
    assert flag[1]["event_type"] == "view"


def test_timeline_null_and_negzero_conventions(spark, tmp_path):
    """Nineteenth fixture — hand-derivation leg for the r17 deferred-fix
    queue's two input classes:

    * NULL timestamps/dates on the timeline entries (asof_join,
      recursive_order_chains): a row with no position on the timeline is
      EXCLUDED on both engines (Spark window sorts put NULLs FIRST,
      DuckDB's LAST — the r15 sessionize convention);
    * stored IEEE -0.0 through oracle ROUNDs (percentiles_exact,
      array_functions.first_doubled): canonicalized with + 0.0
      (finding 41 — Spark's BigDecimal round has no signed zero,
      DuckDB's binary round preserves it).
    """
    import math
    import os

    import duckdb
    import pandas as pd

    from monthly_report_etl_spark.catalog import QUERIES
    from tools.fuzz_differential import _write

    d = str(tmp_path / "timeline_negzero")
    os.makedirs(d, exist_ok=True)

    # events: user 1 has a NULL-ts purchase (excluded — NOT matched to
    # any click) and a dated purchase AFTER a click (matched); user 2's
    # only purchase precedes its click (NULL asof)
    ev = pd.DataFrame(
        [
            (1, pd.Timestamp("2025-01-02"), 1, "click", 10.0, "{}"),
            (2, None, 1, "purchase", -0.0, "{}"),
            (3, pd.Timestamp("2025-01-05"), 1, "purchase", -0.0, "{}"),
            (4, pd.Timestamp("2025-03-01"), 2, "purchase", 30.0, "{}"),
            (5, pd.Timestamp("2025-03-02"), 2, "click", 40.0, "{}"),
        ],
        columns=["event_id", "ts", "user_id", "event_type", "value", "props"],
    )
    ev["ts"] = ev["ts"].astype("datetime64[us]")
    _write(ev, d, "events")

    # orders: customer 1 chains 1→2 (20 days apart), with a NULL-date
    # order that must seed no phantom chain; customer 2's two orders are
    # 60 days apart (two singleton chains). Every total is -0.0 so all
    # four percentile cuts land exactly on the signed zero.
    od = pd.DataFrame(
        [
            (1, 1, "O", -0.0, pd.Timestamp("2025-01-01"), "1-URGENT"),
            (2, 1, "O", -0.0, pd.Timestamp("2025-01-21"), "1-URGENT"),
            (3, 1, "O", -0.0, None, "1-URGENT"),
            (4, 2, "O", -0.0, pd.Timestamp("2025-02-01"), "5-LOW"),
            (5, 2, "O", -0.0, pd.Timestamp("2025-04-02"), "5-LOW"),
        ],
        columns=["o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
                 "o_orderdate", "o_orderpriority"],
    )
    od["o_orderdate"] = od["o_orderdate"].astype("datetime64[us]")
    _write(od, d, "orders")

    # --- hand-derived asof: event 2 (NULL ts) is ABSENT, not NULL-matched
    asof = {r["event_id"]: r for r in QUERIES["asof_join"](spark, d).collect()}
    assert set(asof) == {3, 4}
    assert asof[3]["asof_click_ts"] == pd.Timestamp("2025-01-02")
    assert asof[4]["asof_click_ts"] is None

    # --- hand-derived chains: the NULL-date order seeds nothing; chains
    # are (1: len 2) for customer 1 and two singletons for customer 2
    chains = {r["head_key"]: r
              for r in QUERIES["recursive_order_chains"](spark, d).collect()}
    assert set(chains) == {1, 4, 5}
    assert chains[1]["chain_len"] == 2
    assert chains[4]["chain_len"] == 1 and chains[5]["chain_len"] == 1

    # --- hand-derived -0.0 canonicalization: every percentile cell is
    # POSITIVE zero on the Spark side (and the gate below pins the
    # oracle to the same)
    for r in QUERIES["percentiles_exact"](spark, d).collect():
        for c in ("p25", "p50", "p90", "p99"):
            assert r[c] == 0.0 and math.copysign(1.0, r[c]) == 1.0, (r, c)
    af = {r["user_id"]: r for r in QUERIES["array_functions"](spark, d).collect()}
    assert math.copysign(1.0, af[1]["first_doubled"]) == 1.0

    # --- gate leg: the driver's rows+schema+value-hash compare
    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    for t in ("events", "orders"):
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{d}/{t}.parquet')"
        )
    _gate_compare(spark, con, d, ["asof_join", "recursive_order_chains",
                                  "percentiles_exact", "array_functions"])


def test_combining_mark_word_boundary_frontier(spark):
    """Documented frontier (r17 unicode corner probe): Java's \\b treats
    COMBINING MARKS as word-internal while RE2's ASCII \\b puts a
    boundary at them, so a stopword flanked by combining accents
    ('e<acute>le<grave>ve' contains the letter pair 'le' between two
    marks) counts 0 in Spark and 1 in DuckDB. This pins BOTH measured
    behaviors so a silent change in either engine's semantics surfaces
    here instead of as an unexplained fuzz mismatch. Precomposed forms
    ('élève' as single code points) contain no bare 'le' and agree."""
    import duckdb

    from pyspark.sql import functions as F

    combining = "élève"  # e◌́ l e◌̀ v e
    precomposed = "élève"  # é l è v e

    row = spark.range(1).select(
        F.regexp_count(F.lit(combining), F.lit(r"\ble\b")).alias("comb"),
        F.regexp_count(F.lit(precomposed), F.lit(r"\ble\b")).alias("pre"),
    ).collect()[0]
    assert row["comb"] == 0, row  # Java: mark is word-internal, no boundary
    assert row["pre"] == 0, row

    con = duckdb.connect()
    dd_comb = con.execute(
        "SELECT len(regexp_extract_all(?, '\\ble\\b'))", [combining]
    ).fetchone()[0]
    dd_pre = con.execute(
        "SELECT len(regexp_extract_all(?, '\\ble\\b'))", [precomposed]
    ).fetchone()[0]
    assert dd_comb == 1, dd_comb  # RE2: boundary at the mark
    assert dd_pre == 0, dd_pre


def test_covar_cancellation_zero_clamp_extreme_magnitude(spark, tmp_path):
    """Twentieth fixture — the r18 negatives-corner finding: at operand
    magnitude ~2^60, a covariance whose TRUE value is zero comes back as
    catastrophic-cancellation noise with an ENGINE-DEPENDENT SIGN (the
    corner tables measured Spark +16.0 vs DuckDB -16.0), which
    ROUND(,4) cannot canonicalize. stats_corr clamps covar_pc to exact
    0.0 when |cov| <= 1e-9 * sd_x * sd_y (i.e. |corr| <= 1e-9 — already
    statistically zero under the 6-decimal corr convention); a genuinely
    correlated group at the SAME magnitude must pass through unclamped.
    Values are exact powers of two so every sum is exact in binary."""
    import math
    import os

    import duckdb
    import pandas as pd

    from monthly_report_etl_spark.catalog import QUERIES
    from tools.fuzz_differential import _write

    d = str(tmp_path / "covar_clamp")
    os.makedirs(d, exist_ok=True)

    big, half = -(2.0 ** 60), -(2.0 ** 59)
    dt = pd.Timestamp("2024-03-01")
    od = pd.DataFrame(
        [
            # 1-URGENT: custkey {1,3} x price {big,half} fully crossed —
            # true covariance EXACTLY zero, computed value pure noise
            (1, 1, "O", big, dt, "1-URGENT"),
            (2, 3, "O", big, dt, "1-URGENT"),
            (3, 1, "O", half, dt, "1-URGENT"),
            (4, 3, "O", half, dt, "1-URGENT"),
            # 5-LOW: price strictly decreasing in custkey — corr == -1,
            # |cov| huge relative to the clamp bound: must NOT clamp
            (5, 1, "F", -1 * 2.0 ** 57, dt, "5-LOW"),
            (6, 2, "F", -2 * 2.0 ** 57, dt, "5-LOW"),
            (7, 3, "F", -3 * 2.0 ** 57, dt, "5-LOW"),
            (8, 4, "F", -4 * 2.0 ** 57, dt, "5-LOW"),
        ],
        columns=["o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
                 "o_orderdate", "o_orderpriority"],
    )
    od["o_orderdate"] = od["o_orderdate"].astype("datetime64[us]")
    _write(od, d, "orders")

    rows = {r["o_orderpriority"]: r
            for r in QUERIES["stats_corr"](spark, d).collect()}
    urgent = rows["1-URGENT"]
    assert urgent["covar_pc"] == 0.0, urgent
    assert math.copysign(1.0, urgent["covar_pc"]) == 1.0, urgent
    low = rows["5-LOW"]
    assert low["corr_price_cust"] == -1.0, low
    assert low["covar_pc"] < -(2.0 ** 56), low  # unclamped, genuinely big

    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    con.execute(
        f"CREATE VIEW orders AS SELECT * FROM read_parquet('{d}/orders.parquet')"
    )
    _gate_compare(spark, con, d, ["stats_corr"])
