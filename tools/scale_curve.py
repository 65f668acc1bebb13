"""Time the most expensive headline queries across scale factors and
print the wall-time ratio table for SCALE.md §8.

Usage:
    python tools/make_scale_data.py
    python tools/scale_curve.py            # times sf0.1 then the 10x set

    # r7: 30x documents-only step for the worst absolute dedup entries
    SPARK_GRAFT_SCALE_DIR=/tmp/spark_graft_scale/sf3 \
    SPARK_GRAFT_SCALE_REPLICAS=30 SPARK_GRAFT_SCALE_TABLES=documents \
        python tools/make_scale_data.py
    SPARK_GRAFT_SCALE_POINTS="sf0.1=/root/testdata/sf0.1,30x=/tmp/spark_graft_scale/sf3" \
    SPARK_GRAFT_SCALE_QUERIES="dedup_ngram_jaccard,dedup_minhash_lsh" \
    SPARK_GRAFT_SCALE_REPS=3 python tools/scale_curve.py

A ratio near the data step is linear scaling; materially above it means
a super-linear stage (candidate blowup, skew, state growth) that would
bite three more orders of magnitude at 100 TB.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from monthly_report_etl_spark.session import get_spark  # noqa: E402

_DEFAULT_POINTS = (
    "sf0.1=/root/testdata/sf0.1,"
    + "sf1="
    + os.environ.get("SPARK_GRAFT_SCALE_DIR", "/tmp/spark_graft_scale/sf1")
)
POINTS = [
    tuple(p.split("=", 1))
    for p in os.environ.get("SPARK_GRAFT_SCALE_POINTS", _DEFAULT_POINTS).split(",")
]
REPS = max(1, int(os.environ.get("SPARK_GRAFT_SCALE_REPS", "1")))

QUERIES_UNDER_TEST = [
    q
    for q in os.environ.get(
        "SPARK_GRAFT_SCALE_QUERIES",
        "dedup_ngram_jaccard,dedup_minhash_lsh,dedup_simhash,"
        "similarity_ann_lsh,similarity_ivf_topk,similarity_knn_brute_force,"
        "corpus_tfidf_top_terms,corpus_decontaminate,exports_report_events,"
        "olap_shipping_priority,olap_market_share",
    ).split(",")
    if q
]


def _resolve(name: str):
    """Catalog entry, or one of the pure-path extras that deliberately
    are NOT the catalog callable (same registry bench.py uses):
    dedup_semdedup_kmeans's catalog twin wraps the operator in an O(n^2)
    exact-baseline verification harness — timing that would measure the
    harness."""
    from bench import _extra_headline
    from monthly_report_etl_spark.catalog import QUERIES

    # single registry (r10): bench.py owns the pure-path extras list;
    # duplicating it here had already drifted once
    return _extra_headline().get(name) or QUERIES[name]


def main() -> None:
    spark = get_spark(app_name="scale_curve")
    # recursive_order_chains on the orders replicas accumulates
    # ~heads x avg-depth recursion rows, past the 1M session default —
    # raise it here (the documented at-scale config, SCALE.md §8m) so
    # sweeping the recursive CTE works out of the box
    spark.conf.set("spark.sql.cteRecursionRowLimit", str(200_000_000))
    # warm codegen/session on the tiny SF so no timed column absorbs
    # first-query compile
    for name in QUERIES_UNDER_TEST:
        _resolve(name)(spark, "/root/testdata/sf0.001").write.mode(
            "overwrite"
        ).format("noop").save()

    out: dict[str, dict[str, float]] = {}
    for label, sf_dir in POINTS:
        for name in QUERIES_UNDER_TEST:
            samples = []
            for _ in range(REPS):
                t0 = time.perf_counter()
                _resolve(name)(spark, sf_dir).write.mode("overwrite").format(
                    "noop"
                ).save()
                samples.append(time.perf_counter() - t0)
            out.setdefault(name, {})[label] = round(statistics.median(samples), 3)
            print(f"{label} {name} {out[name][label]} (all: {[round(s, 2) for s in samples]})", flush=True)

    print(json.dumps(out))
    labels = [label for label, _ in POINTS]
    hdr = " ".join(f"{lb:>8s}" for lb in labels)
    print(f"{'query':35s} {hdr} {'ratio':>7s}")
    for name, t in out.items():
        cols = " ".join(f"{t[lb]:8.2f}" for lb in labels)
        print(f"{name:35s} {cols} {t[labels[-1]] / t[labels[0]]:7.1f}")
    spark.stop()


if __name__ == "__main__":
    main()
