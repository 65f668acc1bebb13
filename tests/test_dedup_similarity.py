"""Sketch-vs-exact differential tests for the non-SQL-expressible
operators (MinHash+LSH, SimHash, LSH-ANN): the exact operators (already
oracle-verified against DuckDB) serve as ground truth."""

from __future__ import annotations

from pyspark.sql import functions as F

from monthly_report_etl_spark.operators import dedup, similarity


def _pairs(df) -> set[tuple[int, int]]:
    return {(r["doc_a"], r["doc_b"]) for r in df.select("doc_a", "doc_b").collect()}


def test_simhash_covers_planted_near_dups(spark, sf_dir):
    """The planted word-edit near-dups (jaccard >= 0.95) should land
    within the hamming threshold for short docs; require >= 75% coverage
    (hamming of a one-token edit is probabilistic)."""
    exact_high = _pairs(
        dedup.ngram_jaccard_pairs(spark, sf_dir).filter(F.col("jaccard") >= 0.95)
    )
    sim = _pairs(dedup.simhash_pairs_portable(spark, sf_dir))
    assert exact_high, "fixture should contain planted near-dups"
    coverage = len(exact_high & sim) / len(exact_high)
    assert coverage >= 0.75, f"simhash covered only {coverage:.0%} of planted near-dups"


def test_minhash_portable_matches_exact(spark, sf_dir):
    """With j≈0.99 planted near-dups and 8x4 banding, candidate-miss
    probability is < 1e-8 per pair, and verification recomputes EXACT
    Jaccard on candidates: the portable-hash MinHash (the oracle-checkable
    catalog entry) must equal the exact-Jaccard pair set and values."""
    exact = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in dedup.ngram_jaccard_pairs(spark, sf_dir).collect()
    }
    lsh = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in dedup.minhash_lsh_pairs_portable(spark, sf_dir).collect()
    }
    assert lsh == exact
    assert len(exact) > 0


def test_simhash_portable_pigeonhole_complete(spark, sf_dir):
    """Chunk banding over the portable simhash finds EVERY pair within
    the hamming threshold (recomputed driver-side from the chunk
    columns)."""
    rows = dedup.simhash_chunk_columns(spark, sf_dir).collect()
    sigs = {r["doc_id"]: [r[f"c{c}"] for c in range(dedup._CHUNKS)] for r in rows}
    ids = sorted(sigs)
    truth = {
        (a, b)
        for i, a in enumerate(ids)
        for b in ids[i + 1 :]
        if sum(bin(x ^ y).count("1") for x, y in zip(sigs[a], sigs[b]))
        <= dedup.HAMMING_THRESHOLD
    }
    found = _pairs(dedup.simhash_pairs_portable(spark, sf_dir))
    assert found == truth
    assert len(truth) > 0, "fixture should contain simhash near-dups"


def test_portable_simhash_blocked_kernel_matches_per_doc(spark):
    """r21: the blocked vote/pack kernel (docs flattened into ~2048-token
    groups, np.add.reduceat per block) must be bit-identical to the
    direct per-doc formula — exercised across block boundaries: many
    small docs packing into one block, a doc larger than the whole
    block budget, and single-token docs."""
    import numpy as np
    import pandas as pd

    rng = np.random.RandomState(7)
    sizes = [1, 3, 40, 40, 2047, 2048, 2049, 5000] + [17] * 300
    docs = [rng.randint(0, 1 << 40, size=s).tolist() for s in sizes]

    c1 = np.array([c for c, _ in dedup.SIMHASH_PERMS], dtype=np.int64)
    d1 = np.array([d for _, d in dedup.SIMHASH_PERMS], dtype=np.int64)
    c2 = np.array([c for c, _ in dedup.SIMHASH_PERMS2], dtype=np.int64)
    d2 = np.array([d for _, d in dedup.SIMHASH_PERMS2], dtype=np.int64)
    m = dedup.FINGERPRINT_MOD
    powers = 1 << np.arange(dedup._CHUNK_BITS)

    def reference(arr):
        tf = np.asarray(arr, dtype=np.int64)[:, None]
        par = ((tf * c1 + d1) % m * c2 + d2) % m % 2
        votes = (par * 2 - 1).sum(axis=0)
        bits = (votes > 0).astype(np.int64)
        return (
            bits.reshape(dedup._CHUNKS, dedup._CHUNK_BITS) * powers
        ).sum(axis=1).tolist()

    sdf = spark.createDataFrame(
        pd.DataFrame({"doc_id": range(len(docs)), "hs": docs}),
        "doc_id long, hs array<long>",
    ).repartition(1)
    got = {
        r["doc_id"]: r["cs"]
        for r in sdf.select(
            "doc_id", dedup._portable_chunks_udf()(F.col("hs")).alias("cs")
        ).collect()
    }
    for i, arr in enumerate(docs):
        assert got[i] == reference(arr), f"doc {i} (len {len(arr)})"


def test_ann_lsh_portable_recall_vs_brute_force(spark, sf_dir):
    """Recall@5 of the ±1-integer-hyperplane portable ANN (the
    oracle-checked catalog entry) against the exact brute force: with 8
    OR'd tables of 4 bits each, recall must be well above chance; we
    require >= 0.4 (chance is ~5/N ≈ 0.01)."""
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in similarity.knn_brute_force(spark, sf_dir).collect()
    }
    approx = {
        (r["query_id"], r["neighbor_id"])
        for r in similarity.ann_lsh_topk_portable(spark, sf_dir).collect()
    }
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.4, f"portable ANN recall too low: {recall:.2f}"


def test_canonical_selection_keeps_one_per_component(spark, sf_dir):
    """Exactly one survivor per near-dup component, every document
    labeled, and survivors are the per-component quality argmax."""
    rows = dedup.dedup_canonical_selection(spark, sf_dir).collect()
    docs_total = spark.read.parquet(f"{sf_dir}/documents.parquet").count()
    assert len(rows) == docs_total
    from collections import defaultdict

    by_comp = defaultdict(list)
    for r in rows:
        by_comp[r["component"]].append(r)
    assert all(sum(r["keep"] for r in v) == 1 for v in by_comp.values())
    assert any(len(v) > 1 for v in by_comp.values()), "fixture has near-dups"


def test_dedup_exact_removes_duplicates(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    n_docs = docs.count()
    n_distinct = docs.select("text").distinct().count()
    result = dedup.dedup_exact(spark, sf_dir)
    assert result.count() == n_distinct
    assert result.agg(F.sum("n_copies")).collect()[0][0] == n_docs


def test_ivf_recall_vs_brute_force(spark, sf_dir):
    """IVF with 4/16 probes must beat plain LSH's recall floor; trained
    centroids are deterministic (fixed init, fixed iteration count)."""
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in similarity.knn_brute_force(spark, sf_dir).collect()
    }
    ivf = {
        (r["query_id"], r["neighbor_id"])
        for r in similarity.ivf_topk(spark, sf_dir).collect()
    }
    recall = len(exact & ivf) / len(exact)
    assert recall >= 0.6, f"IVF recall too low: {recall:.2f}"


def test_ivf_assignment_is_nearest_centroid(spark, sf_dir):
    """The data path's cluster tag (``_assign_centroid_udf``, the UDF
    ``ivf_topk`` tags the corpus with) is argmax-dot over the trained
    centroids (spot-checked driver-side with numpy for 20 vectors)."""
    import numpy as np
    from pyspark.sql import functions as F

    cents = np.array(similarity.train_ivf_centroids(spark, sf_dir))
    v = spark.read.parquet(f"{sf_dir}/embeddings.parquet").limit(20).collect()
    from monthly_report_etl_spark.operators.similarity import _assign_centroid_udf, _normalized

    df = _normalized(
        spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        .select("vec_id", F.col("embedding").cast("array<double>").alias("e"))
        .limit(20)
    )
    assign = _assign_centroid_udf([list(c) for c in cents])
    tagged = {r["vec_id"]: r["cid"] for r in df.withColumn("cid", assign(F.col("e"))).collect()}
    for r in v:
        e = np.array(r["embedding"], dtype=np.float64)
        e = e / np.linalg.norm(e)
        assert tagged[r["vec_id"]] == int(np.argmax(cents @ e))


def test_approx_count_distinct_within_bound(spark, sf_dir):
    """HLL++ estimate must land within ~3x its configured rsd of exact."""
    from monthly_report_etl_spark.operators.relational import (
        approx_aggregates,
        exact_distinct_bounds,
    )

    a = approx_aggregates(spark, sf_dir).collect()[0]
    e = exact_distinct_bounds(spark, sf_dir).collect()[0]
    assert abs(a["approx_users"] - e["exact_users"]) <= max(3, 0.06 * e["exact_users"])
    assert a["approx_types"] == e["exact_types"]  # tiny cardinality: exact


def test_hot_shingle_cap_bounds_join_fanout(spark, tmp_path):
    """A stop shingle shared by every document must NOT reach the
    inverted-index self-join once its posting list exceeds the cap: the
    Observation reports exactly the dropped posting-list rows, the
    genuinely-similar pair survives on its own shingles, and its Jaccard
    only UNDERcounts (the conservative-degradation contract)."""
    import pandas as pd
    from pyspark.sql import Observation

    # 12 docs all ending in the same stop shingle ("the end here"); docs
    # 0/1 share a 12-token prefix (one token differs before the tail:
    # 14 shingles each, 11 common uncapped -> j = 11/17 ~ 0.647), the
    # rest are mutually unrelated apart from the stop tail
    shared = " ".join(f"s{i}" for i in range(12))
    stop = "the end here"
    rows = [
        {"doc_id": 0, "text": f"{shared} zeta {stop}"},
        {"doc_id": 1, "text": f"{shared} eta {stop}"},
    ] + [
        {"doc_id": i, "text": f"w{i}a w{i}b w{i}c w{i}d w{i}e w{i}f {stop}"}
        for i in range(2, 12)
    ]
    spark.createDataFrame(pd.DataFrame(rows)).write.mode("overwrite").parquet(
        str(tmp_path / "hot_docs" / "documents.parquet")
    )
    sf_dir = str(tmp_path / "hot_docs")

    uncapped = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in dedup.ngram_jaccard_pairs(spark, sf_dir, hot_shingle_cap=10**9).collect()
    }
    assert (0, 1) in uncapped

    obs = Observation("hot_shingles")
    capped_df = dedup.ngram_jaccard_pairs(spark, sf_dir, hot_shingle_cap=5, observation=obs)
    capped = {
        (r["doc_a"], r["doc_b"]): r["jaccard"] for r in capped_df.collect()
    }
    # the genuinely-similar pair survives on its own shingles, with a
    # conservatively SMALLER jaccard (common lost the hot shingle, na/nb
    # kept the full set size: 10/18 vs 11/17)
    assert (0, 1) in capped
    assert capped[(0, 1)] < uncapped[(0, 1)]
    # exactly the 12-doc "the end here" posting list was dropped
    m = obs.get
    assert m["hot_shingle_rows_dropped"] == 12
    assert m["hot_shingle_rows_dropped"] < m["shingle_rows_total"]


def test_sketch_partial_merge_within_error_bounds(spark, sf_dir):
    """The HLL/KLL partial-merge rollup must land near the exact answers:
    HLL default lgK=12 keeps relative error ~1.6% (assert 5%); the merged
    KLL median must sit between the per-group quantile extremes and
    within a loose rank tolerance of the exact median."""
    from monthly_report_etl_spark.operators import relational

    rows = {
        r["o_orderpriority"]: r
        for r in relational.sketch_partial_merge(spark, sf_dir).collect()
    }
    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    exact_all = o.agg(
        F.countDistinct("o_custkey").alias("d"), F.median("o_totalprice").alias("m")
    ).collect()[0]
    est = rows["ALL"]
    assert abs(est["distinct_custs_est"] - exact_all["d"]) <= max(2, 0.05 * exact_all["d"])
    assert abs(est["p50_price_est"] - exact_all["m"]) <= 0.1 * exact_all["m"]
    # per-group estimates also sane, and ALL >= any single group's distinct
    for k, r in rows.items():
        if k != "ALL":
            assert r["distinct_custs_est"] <= est["distinct_custs_est"] * 1.05


def test_portable_hash_constants_stay_inside_int64():
    """The portability contract of every oracle-checked sketch: all hash
    arithmetic must stay inside int64 (DuckDB RAISES on BIGINT overflow;
    Spark would wrap) — so the multiplier caps and modulus bounds are
    load-bearing constants, not style. Guards against someone widening a
    multiplier without re-deriving the bounds."""
    import math

    from monthly_report_etl_spark.functions.text import FINGERPRINT_MOD
    from monthly_report_etl_spark.operators.dedup import (
        _PERM_A_MAX,
        _SHINGLE_R,
        PORTABLE_PERMUTATIONS,
        SIMHASH_PERMS,
        SIMHASH_PERMS2,
    )

    M = FINGERPRINT_MOD
    h_max = M - 1
    # shingle combine: ((tf*R + t1) % M * R + t2) % M
    assert (h_max * _SHINGLE_R + h_max) < 2**63
    for perms in (PORTABLE_PERMUTATIONS, SIMHASH_PERMS, SIMHASH_PERMS2):
        for a, b in perms:
            assert 1 <= a < _PERM_A_MAX
            assert 0 <= b < M
            assert (h_max * a + b) < 2**63, "permutation overflows int64"
    for a, _ in PORTABLE_PERMUTATIONS:
        assert math.gcd(a, M) == 1, "non-bijective minhash permutation"
    # band-key fold: (k*31 + m) % M with k, m < M
    assert (h_max * 31 + h_max) < 2**63


def test_semdedup_family_soundness_chain(spark, sf_dir):
    """The two SemDeDup entries share one drop rule over different
    partitioners, which fixes a containment on their drop sets:
    trained-k-means drops ⊆ exact-global drops (any in-partition
    lower-id neighbor >= tau is a global one). The k-means path must
    also clear the aggregate drop-recall floor its checked catalog twin
    asserts, cover every vector exactly once, and use the corpus-scaled
    cluster count."""
    exact = similarity.semdedup_exact_global(spark, sf_dir).toPandas()
    km = similarity.semdedup_kmeans_keep(spark, sf_dir).toPandas()

    ex_drop = set(exact[~exact["keep"]]["vec_id"])
    km_drop = set(km[~km["keep"]]["vec_id"])
    assert km_drop <= ex_drop, "k-means semdedup dropped a non-duplicate"
    assert len(km_drop) >= similarity.SEMDEDUP_KM_RECALL_FLOOR * len(ex_drop)

    n = len(exact)
    assert sorted(km["vec_id"]) == sorted(exact["vec_id"])
    expected_k = max(
        similarity.SEMDEDUP_KM_MIN_K,
        min(similarity.SEMDEDUP_KM_MAX_K, n // similarity.SEMDEDUP_CLUSTER_TARGET),
    )
    assert km["bucket"].nunique() <= expected_k


def test_semdedup_kmeans_checked_flags_are_true(spark, sf_dir):
    """Both TRUE-asserted booleans of the driver-gate form actually hold
    (the catalog oracle test re-checks the full row hash; this pins the
    two flags in isolation with a readable failure)."""
    c = similarity.semdedup_kmeans_checked(spark, sf_dir).toPandas()
    assert c["kmeans_sound"].all()
    assert c["kmeans_recall_ok"].all()


def test_pq_adc_rerank_recall_vs_brute_force(spark, sf_dir):
    """PQ-ADC with the 5x-shortlist exact re-rank against exact brute
    force. Measured recall@10: 0.85 at sf0.001, 0.92 at sf0.01, 0.78 at
    sf0.1 (fixed shortlist fraction shrinks with corpus — at scale the
    PQ_ADC_SHORTLIST_MULT constant buys recall linearly in re-rank cost). Floor
    0.70 trips on real regressions (raw ADC without re-rank measures
    ~0.5 — the shortlist+re-rank structure is what the test pins)."""
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in similarity.knn_brute_force(spark, sf_dir, top_k=10).collect()
    }
    adc = {
        (r["query_id"], r["neighbor_id"])
        for r in similarity.pq_adc_topk(spark, sf_dir, top_k=10).collect()
    }
    recall = len(exact & adc) / len(exact)
    assert recall >= 0.70, f"PQ ADC+rerank recall@10 regressed: {recall:.3f}"
    assert abs(recall - 0.85) < 0.10, (
        f"recall@10 moved to {recall:.3f}; update the measured pin"
    )


def test_fused_trainers_match_per_iteration_paths(spark, sf_dir):
    """r21 (VERDICT r20 next #1): the fused single-task multi-iteration
    Arrow kernels must be BIT-IDENTICAL to the per-iteration partials
    paths on the fixture corpus — same init rule (first k by vec_id),
    same per-row argmax/argmin, same accumulation and division — so the
    job-count optimization can never move a centroid, an assignment, or
    any downstream recall flag."""
    from pyspark.sql import functions as F

    from monthly_report_etl_spark.functions.vectors import read_vectors

    # IVF Lloyd, both at the default k and at the corpus-sized k the
    # search path actually uses
    cf = similarity.train_ivf_centroids(spark, sf_dir, fused=True)
    cd = similarity.train_ivf_centroids(spark, sf_dir, fused=False)
    assert cf == cd
    v = similarity._normalized(
        read_vectors(spark, sf_dir).select(
            "vec_id", F.col("embedding").cast("array<double>").alias("e")
        )
    ).persist()
    try:
        n = v.count()
        k, _ = similarity._ivf_k_probes(n)
        assert similarity.train_ivf_centroids(
            spark, sf_dir, k=k, v=v, fused=True
        ) == similarity.train_ivf_centroids(spark, sf_dir, k=k, v=v, fused=False)
    finally:
        v.unpersist()
    # PQ Lloyd (fused is the default path)
    assert similarity.train_pq_codebooks(
        spark, sf_dir
    ) == similarity.train_pq_codebooks(spark, sf_dir, fused=False)


def test_fused_trainer_budget_gate():
    """The fused kernel only admits model-bounded samples: the extreme
    tails (IVF k=4096 at its 131k-row cap, SemDeDup k=65536 at 2M rows)
    must stay on the distributed per-iteration path."""
    assert similarity._fused_train_ok(2000, 44, 3)          # bench SF
    assert similarity._fused_train_ok(15385, 447, 3)        # 100x replica
    assert not similarity._fused_train_ok(131072, 4096, 3)  # IVF max-k cap
    assert not similarity._fused_train_ok(2_097_152, 65_536, 3)  # SemDeDup max


def test_pq_codebooks_shape_and_determinism(spark, sf_dir):
    """The trained codebooks are M x K x dsub, finite, and
    deterministic across retrains (first-K init, fixed iterations, no
    RNG — the property every oracle-adjacent model in this repo keeps)."""
    import math

    cb1 = similarity.train_pq_codebooks(spark, sf_dir)
    cb2 = similarity.train_pq_codebooks(spark, sf_dir)
    assert cb1 == cb2
    assert len(cb1) == similarity.PQ_M
    assert all(len(m) == similarity.PQ_K for m in cb1)
    assert all(
        len(c) == similarity.PQ_DSUB and all(math.isfinite(x) for x in c)
        for m in cb1
        for c in m
    )


def test_zero_norm_vectors_do_not_poison_checked_flags(spark, sf_dir, tmp_path):
    """ADVICE r9 #2: avg() skips NULL but propagates NaN, so a single
    zero-norm embedding emitting recon_cos = NaN would flip
    pca_recon_ok / pq_fidelity_ok to false (NaN >= floor) and hash-fail
    the checked entries. Both Arrow encode UDFs must emit NULL (None)
    for undefined cosines instead. Corpus = sf0.001 + one all-zero
    vector; assert (a) the zero vector's recon_cos IS NULL in
    pca_project, (b) both checked entries' booleans stay literal TRUE,
    (c) the corpus-mean cosine is finite (not NaN)."""
    import math

    import numpy as np
    import pandas as pd

    base = pd.read_parquet(f"{sf_dir}/embeddings.parquet")
    zid = int(base["vec_id"].max()) + 1
    zero = pd.DataFrame(
        {
            "vec_id": [zid],
            "embedding": [np.zeros(len(base["embedding"].iloc[0]), dtype=np.float32)],
            "label": np.array([0], dtype=np.int32),
        }
    )
    pd.concat([base, zero], ignore_index=True).to_parquet(
        tmp_path / "embeddings.parquet", index=False
    )
    sf = str(tmp_path)

    proj = similarity.pca_project(spark, sf)
    zrow = proj.filter(F.col("vec_id") == zid).collect()[0]
    assert zrow["recon_cos"] is None, zrow
    mean_cos = proj.agg(F.avg("recon_cos").alias("m")).collect()[0]["m"]
    assert mean_cos is not None and math.isfinite(mean_cos), mean_cos

    pca_flags = similarity.pca_checked(spark, sf).select(
        "pca_var_ok", "pca_recon_ok"
    ).distinct().collect()
    assert len(pca_flags) == 1 and all(pca_flags[0]), pca_flags

    pq_flags = similarity.pq_checked(spark, sf).select(
        "pq_fidelity_ok", "pq_codes_ok"
    ).distinct().collect()
    assert len(pq_flags) == 1 and all(pq_flags[0]), pq_flags

    # the IVF trainer shares the same exposure (code-review r10: the
    # Lloyd partials crashed on the all-NULL normalized row before the
    # training filter was mirrored there) — the checked entry must
    # survive the zero-norm corpus end-to-end with recall intact
    ivf_flags = similarity.ivf_topk_checked(spark, sf).select(
        "recall_ok"
    ).distinct().collect()
    assert len(ivf_flags) == 1 and ivf_flags[0]["recall_ok"] is True, ivf_flags


def test_pca_ivf_rerank_recall_vs_brute_force(spark, sf_dir):
    """The composed compressed-retrieval stack (PCA r=32 → IVF over
    projected vectors → exact full-dim re-rank of the 10x shortlist)
    must recover >= PCA_IVF_RECALL_FLOOR of the FULL-dimension exact
    top-10 in aggregate (VERDICT r9 #4). Measured r10: recall@10 0.80 /
    0.77 / 0.71 at sf0.001/0.01/0.1 vs the 0.6 floor; the projected-only
    search (no re-rank) measures 0.44-0.48 on these near-isotropic
    fixtures, so this also pins that the re-rank stage is actually
    engaged — a recall at projected-only levels means stage 3 is gone."""
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in similarity.knn_brute_force(spark, sf_dir, top_k=10).collect()
    }
    comp = {
        (r["query_id"], r["neighbor_id"])
        for r in similarity.pca_ivf_topk(spark, sf_dir, top_k=10).collect()
    }
    recall = len(exact & comp) / len(exact)
    assert recall >= similarity.PCA_IVF_RECALL_FLOOR, recall


def test_pca_ivf_checked_flags_are_true(spark, sf_dir):
    """The driver-gate entry's recall_ok boolean must be literal TRUE at
    every oracle-tested SF (the oracle asserts it; a false here becomes
    a hash-red driver row)."""
    flags = (
        similarity.pca_ivf_checked(spark, sf_dir)
        .select("recall_ok")
        .distinct()
        .collect()
    )
    assert len(flags) == 1 and flags[0]["recall_ok"] is True, flags


def test_neardup_ingest_drop_paths_non_vacuous(spark, sf_dir):
    """corpus_incremental_ingest_neardup must actually exercise BOTH
    drop paths at the oracle-tested SFs (the doc_id-mod batch split was
    chosen over the exact ingest's source split precisely because the
    latter has zero near-dup crossings at sf0.01 — a green row over an
    empty drop set proves nothing). Assert: survivors < incoming
    (something dropped), at least one incoming×existing drop and at
    least one in-batch lower-id drop, and every dropped doc has a
    verified near-dup justifying it (soundness — recomputed through the
    hash-green all-pairs entry)."""
    from monthly_report_etl_spark.operators.corpus import (
        NEARDUP_BATCH_LT,
        NEARDUP_BATCH_MOD,
        incremental_ingest_neardup,
    )

    inc = lambda i: i % NEARDUP_BATCH_MOD < NEARDUP_BATCH_LT  # noqa: E731
    survivors = {
        r["doc_id"] for r in incremental_ingest_neardup(spark, sf_dir).collect()
    }
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    incoming = {r["doc_id"] for r in docs.select("doc_id").collect() if inc(r["doc_id"])}
    dropped = incoming - survivors
    assert dropped, "drop path vacuous: nothing dropped"
    assert survivors < incoming

    pairs = {
        (r["doc_a"], r["doc_b"])
        for r in dedup.minhash_lsh_pairs_portable(spark, sf_dir).collect()
    }
    sym = pairs | {(b, a) for a, b in pairs}
    cross_drops = {
        d for d in dropped if any(not inc(o) for o, x in sym if x == d)
    }
    inbatch_drops = {
        d
        for d in dropped
        if any(inc(o) and o < d for o, x in sym if x == d)
    }
    assert cross_drops, "no incoming-vs-existing drop exercised"
    assert inbatch_drops, "no in-batch lower-id drop exercised"
    # soundness: every drop is justified by a verified pair
    assert dropped == cross_drops | inbatch_drops, (
        dropped - (cross_drops | inbatch_drops)
    )


def test_ivf_trainer_clamps_k_on_sub_k_corpus(spark):
    """ADVICE r10 #3: fewer trainable vectors than k (reachable via the
    zero-norm training filter) must clamp k instead of IndexError-ing in
    the empty-cluster fallback."""
    v = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.0, 1.0]), (2, [0.6, 0.8])],
        "vec_id long, e array<double>",
    )
    cents = similarity.train_ivf_centroids(spark, sf_dir="", k=8, iters=2, v=v)
    assert 1 <= len(cents) <= 3
    assert all(len(c) == 2 for c in cents)


def test_identical_nonzero_corpus_explained_variance_vacuous(spark, tmp_path):
    """ADVICE r16: a corpus of IDENTICAL nonzero vectors leaves
    sum(cen2) tiny-but-nonzero (mu = s/n rounding), where the EVR ratio
    1 - res2/cen2 is pure float noise while the oracle asserts literal
    TRUE. The degenerate branch is a RELATIVE epsilon
    (sum(cen2) <= eps_rel * sum(nrm2), similarity.py pca_checked — 1e-24
    since the r17 self-review tightening), so the flag must be TRUE here —
    the variance is fully 'explained' because there is none."""
    import numpy as np
    import pandas as pd

    vec = (np.arange(64, dtype=np.float64) / 7.0 + 0.3).astype(np.float32)
    emb = pd.DataFrame(
        {
            "vec_id": np.arange(6, dtype=np.int64),
            "embedding": [vec] * 6,
            "label": np.zeros(6, dtype=np.int32),
        }
    )
    emb.to_parquet(tmp_path / "embeddings.parquet", index=False)
    sf = str(tmp_path)

    flags = (
        similarity.pca_checked(spark, sf)
        .select("pca_var_ok", "pca_recon_ok")
        .distinct()
        .collect()
    )
    assert len(flags) == 1 and flags[0]["pca_var_ok"] is True, flags
    assert flags[0]["pca_recon_ok"] is True, flags
