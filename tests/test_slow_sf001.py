"""Slow gates at sf0.01 — the driver's correctness scale (VERDICT r6 #4/#7).

The per-entry oracle pytest (test_catalog_oracle.py) runs at sf0.001 for
speed, so fixture-size-dependent bugs (cap interactions, sampling
boundaries) would only surface in the driver's own gate. This module
re-runs the comparison at sf0.01 for the 10 HEAVIEST catalog entries (by
BENCH_r06 wall time), and pins the IVF recall@10 floor at the same scale.

Marked ``slow``; run with ``pytest -m slow`` (excluded by giving -m "not
slow" — the default run still includes them unless deselected).
"""

from __future__ import annotations

import duckdb
import pytest

from monthly_report_etl_spark.catalog import ORACLES, QUERIES
from monthly_report_etl_spark.operators import similarity
from monthly_report_etl_spark.sources.parquet import TESTDATA_TABLES
from tests.utils import assert_frames_match

SF001_DIR = "/root/testdata/sf0.01"

# The heaviest catalog entries by bench median wall time (r8 refresh:
# the r6-derived ten plus the three heaviest r7/r8 additions —
# recursive_order_chains and the two checked model-trained entries;
# r9 adds its two new checked entries the same way;
# monthly_report_full excluded: it is a jobs-level plan, not a catalog
# entry, and is exercised at sf0.01 by test_exports_pipeline's ref-SQL
# differential).
HEAVIEST = [
    "similarity_pq_adc",
    "corpus_incremental_ingest",
    "embeddings_pca",
    "dedup_ngram_jaccard",
    "dedup_simhash",
    "dedup_minhash_lsh",
    "similarity_ivf_topk",
    "exports_report_events",
    "similarity_ann_lsh",
    "rank_pivot_merge_back",
    "similarity_knn_brute_force",
    "corpus_tfidf_top_terms",
    "corpus_decontaminate",
    "recursive_order_chains",
    "dedup_semdedup_kmeans",
    "embeddings_pq",
]

# IVF recall@10 vs exact brute force at sf0.01 (VERDICT r6 #4).
# Measured r8 (corpus-scaled k=sqrt(n)/probes=ceil(sqrt(k))): 0.85 at
# sf0.01, 0.89 at sf0.001, 0.92 at sf0.1 (deterministic: fixed
# first-k init, fixed iteration count, fixed fixture). The floor leaves
# headroom for intentional tie-break/centroid changes while tripping on
# real recall regressions; the measured value is logged in COVERAGE.md.
IVF_RECALL10_FLOOR = 0.80


@pytest.fixture(scope="module")
def oracle_con_sf001():
    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    for t in TESTDATA_TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF001_DIR}/{t}.parquet')"
        )
    yield con
    con.close()


@pytest.mark.slow
@pytest.mark.parametrize("name", HEAVIEST)
def test_heaviest_entries_match_oracle_at_sf001(spark, oracle_con_sf001, name):
    actual = QUERIES[name](spark, SF001_DIR).toPandas()
    expected = oracle_con_sf001.execute(ORACLES[name]).fetchdf()
    assert_frames_match(actual, expected)


@pytest.mark.slow
def test_ivf_recall_at_10_sf001(spark):
    """recall@10 of IVF against exact brute force at the driver's
    correctness scale, pinned so a silent recall regression (probe
    ordering, centroid training, candidate-join) trips here instead of
    only moving an unrecorded aggregate."""
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in similarity.knn_brute_force(spark, SF001_DIR, top_k=10).collect()
    }
    ivf = {
        (r["query_id"], r["neighbor_id"])
        for r in similarity.ivf_topk(spark, SF001_DIR, top_k=10).collect()
    }
    recall = len(exact & ivf) / len(exact)
    assert recall >= IVF_RECALL10_FLOOR, f"IVF recall@10 regressed: {recall:.3f}"
    # keep COVERAGE.md's logged number honest: if recall moves (even up),
    # the assertion message carries the new value to re-record
    assert abs(recall - 0.85) < 0.10, f"recall@10 moved to {recall:.3f}; update COVERAGE.md"


# SemDeDup k-means drop-recall vs the exact-global baseline at sf0.01
# (VERDICT r7 #1 follow-through, same pinning pattern as IVF above).
# Measured r8: 0.84 at sf0.01, 0.87 at sf0.001 (deterministic: fixed
# stride sample, first-k init, fixed iteration count, fixed fixture).
SEMDEDUP_KM_RECALL_MEASURED = 0.84


@pytest.mark.slow
def test_semdedup_kmeans_recall_at_sf001(spark):
    """Drop-recall of the trained-k-means SemDeDup against the exact
    O(n^2) baseline at the driver's correctness scale: soundness must be
    perfect (k-means drops ⊆ exact drops, guaranteed by construction —
    a violation is a partitioner/drop-rule bug) and recall pinned so a
    silent clustering regression trips here instead of only flipping
    the catalog entry's aggregate boolean."""
    exact = similarity.semdedup_exact_global(spark, SF001_DIR).toPandas()
    km = similarity.semdedup_kmeans_keep(spark, SF001_DIR).toPandas()
    ex_drop = set(exact[~exact["keep"]]["vec_id"])
    km_drop = set(km[~km["keep"]]["vec_id"])
    assert km_drop <= ex_drop, (
        f"unsound: {sorted(km_drop - ex_drop)[:5]} dropped without a "
        f"global lower-id neighbor >= tau"
    )
    recall = len(km_drop) / max(1, len(ex_drop))
    assert recall >= similarity.SEMDEDUP_KM_RECALL_FLOOR, (
        f"k-means drop-recall regressed: {recall:.3f}"
    )
    assert abs(recall - SEMDEDUP_KM_RECALL_MEASURED) < 0.10, (
        f"drop-recall moved to {recall:.3f}; update the measured pin"
    )
