"""Plan-shape regression gates (VERDICT r1 #6): the 100 TB claims —
pushed-down predicates, broadcast dimension joins, hash-keyed dedup
shuffle — asserted against ``explain(mode="formatted")`` so a refactor
that silently loses them fails CI, not the cluster.
"""

from __future__ import annotations

import contextlib
import io

import pytest

from monthly_report_etl_spark.catalog import QUERIES


def _plan(df, mode: str = "formatted") -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode=mode)
    return buf.getvalue()


def _lines(plan: str, needle: str) -> list[str]:
    return [ln for ln in plan.splitlines() if needle in ln]


@pytest.mark.parametrize(
    "name,pushed_fragment",
    [
        # flagship: the half-open time-range predicate must reach the scan
        ("exports_report_events", "PushedFilters: ["),
        ("filter_project_window", "IsNotNull(value)"),
        ("olap_shipping_priority", "EqualTo(c_mktsegment,BUILDING)"),
        ("olap_returned_items", "EqualTo(l_returnflag,R)"),
    ],
)
def test_filters_pushed_to_parquet_scan(spark, sf_dir, name, pushed_fragment):
    plan = _plan(QUERIES[name](spark, sf_dir))
    pushed = _lines(plan, "PushedFilters")
    assert pushed, f"no PushedFilters section in {name} plan"
    assert any(pushed_fragment in ln for ln in pushed) or pushed_fragment == "PushedFilters: [", plan
    # at least one scan actually received a predicate (not all empty lists)
    assert any(ln.strip() != "PushedFilters: []" for ln in pushed), plan


@pytest.mark.parametrize(
    "name",
    ["olap_shipping_priority", "olap_local_supplier_volume", "olap_returned_items"],
)
def test_dim_joins_broadcast(spark, sf_dir, name):
    """Every dimension-side join in the OLAP shapes must be a
    BroadcastHashJoin — a sort-merge join against a 48-row dim is the
    classic silent 100x regression."""
    plan = _plan(QUERIES[name](spark, sf_dir))
    assert "BroadcastHashJoin" in plan, plan
    # the single allowed shuffle join is lineitem ⋈ orders (fact-fact)
    n_smj = len(_lines(plan, ") SortMergeJoin"))
    assert n_smj <= 1, f"{name}: {n_smj} sort-merge joins\n{plan}"


def test_dedup_exact_shuffles_hash_not_text(spark, sf_dir):
    """The dedup_exact exchange key must be the 33-byte (sha2, length)
    pair, never the raw document text (VERDICT r1 #3)."""
    plan = _plan(QUERIES["dedup_exact"](spark, sf_dir))
    exchanges = _lines(plan, "hashpartitioning")
    assert exchanges, plan
    assert all("text#" not in ln for ln in exchanges), plan
    assert "sha2" in plan, plan


def test_jaccard_shuffles_hashed_shingles_not_strings(spark, sf_dir):
    """r7: the Jaccard dedup path must ship shingles as xxhash64 ints
    through its exchanges — concat_ws builds the 3-gram string once,
    pre-hash, and the string must not be a shuffle key (20-28% wall at
    the 10x step; the exchanges are the dominant cost at scale)."""
    from monthly_report_etl_spark.operators.dedup import ngram_jaccard_pairs

    plan = _plan(ngram_jaccard_pairs(spark, sf_dir))
    assert "xxhash64" in plan, plan
    exchanges = _lines(plan, "hashpartitioning")
    assert exchanges, plan
    assert all("concat_ws" not in ln for ln in exchanges), (
        f"string shingle used as exchange key\n{plan}"
    )


def test_r7_new_entries_plan_shapes(spark, sf_dir):
    """Plan invariants for the r7 additions: the Q11 scalar total rides a
    broadcast one-row cross join (never a second fact scan feeding a
    shuffled join), the Q16 NOT-IN blocklist is a broadcast ANTI join,
    the Q20 dims broadcast onto the thresholded aggregate, and the
    count-min sketch is pure JVM (no Python stage)."""
    p = _plan(QUERIES["olap_important_stock"](spark, sf_dir))
    assert "BroadcastNestedLoopJoin" in p, p
    assert "CartesianProduct" not in p, p

    p = _plan(QUERIES["olap_supplier_part_types"](spark, sf_dir))
    assert "LeftAnti" in p and "BroadcastHashJoin" in p, p

    p = _plan(QUERIES["olap_dominant_supplier"](spark, sf_dir))
    assert len(_lines(p, "BroadcastHashJoin")) >= 2, p

    p = _plan(QUERIES["sketch_count_min"](spark, sf_dir))
    assert "EvalPython" not in p, p


def test_duplicate_spans_plan_shape(spark, sf_dir):
    """dedup_duplicate_spans keeps its scale contract: grams cross the
    exchanges as xxhash64 ints (never the concatenated gram string), no
    Python stage anywhere, and cross-doc detection is a plain min/max
    hash agg — no distinct/expand pre-pass over the gram stream."""
    from monthly_report_etl_spark.operators.dedup import duplicate_spans

    plan = _plan(duplicate_spans(spark, sf_dir))
    assert "xxhash64" in plan, plan
    assert "EvalPython" not in plan, plan
    exchanges = _lines(plan, "hashpartitioning")
    assert exchanges, plan
    assert all("concat_ws" not in ln for ln in exchanges), (
        f"string gram used as exchange key\n{plan}"
    )
    assert "Expand" not in plan, f"distinct expand in gram agg\n{plan}"


def test_partition_pruning(spark, sf_dir, tmp_path):
    """A lang-partitioned parquet layout must prune at planning time: the
    lang='en' filter appears as a PartitionFilter on the scan — at 100 TB
    this is the difference between scanning one partition and all of them."""
    from pyspark.sql import functions as F

    out = str(tmp_path / "docs_by_lang")
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    docs.write.mode("overwrite").partitionBy("lang").parquet(out)

    back = spark.read.parquet(out).filter(F.col("lang") == "en").select("doc_id")
    plan = _plan(back)
    pf = _lines(plan, "PartitionFilters")
    assert pf and any("lang" in ln for ln in pf), plan
    expected = docs.filter(F.col("lang") == "en").count()
    assert back.count() == expected


def test_bucketed_join_no_shuffle(spark, sf_dir, tmp_path):
    """Two tables bucketed on the join key must join WITHOUT an exchange —
    the co-located-join contract that replaces the biggest shuffle in a
    repeated fact-fact join at scale."""
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    for name, df, key in (("b_orders", orders, "o_orderkey"), ("b_lineitem", li, "l_orderkey")):
        spark.sql(f"DROP TABLE IF EXISTS {name}")
        (
            df.write.mode("overwrite")
            .option("path", str(tmp_path / name))
            .bucketBy(4, key)
            .sortBy(key)
            .saveAsTable(name)
        )
    # the fixture tables are broadcast-size; disable broadcast so the plan
    # must choose the co-located bucketed SMJ (the at-scale shape)
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = spark.table("b_lineitem").join(
            spark.table("b_orders"),
            spark.table("b_lineitem").l_orderkey == spark.table("b_orders").o_orderkey,
        )
        plan = _plan(joined)
        assert ") SortMergeJoin" in plan, plan
        assert plan.count("Bucketed: true") == 2, plan
        assert "Exchange hashpartitioning" not in plan, f"bucketed join still shuffles:\n{plan}"
        assert joined.count() > 0
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP TABLE IF EXISTS b_orders")
        spark.sql("DROP TABLE IF EXISTS b_lineitem")


def test_join_hint_respected(spark, sf_dir):
    """The SHUFFLE_HASH hint must actually flip the physical strategy
    (ShuffledHashJoin, not SortMergeJoin) — planner-control regression."""
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan = _plan(QUERIES["join_hints_shuffle_hash"](spark, sf_dir))
        assert "ShuffledHashJoin" in plan, plan
        assert ") SortMergeJoin" not in plan, plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_flagship_no_global_sort_or_cartesian(spark, sf_dir):
    """The flagship plan keeps its documented shape: no range-sampling
    global sort (re-executes upstream 2x) and no cartesian product other
    than broadcast-nested-loop against 1-row totals."""
    plan = _plan(QUERIES["exports_report_events"](spark, sf_dir))
    assert "rangepartitioning" not in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_chunker_plan_is_jvm_native(spark, sf_dir):
    """corpus_chunk_documents must stay inside codegen end-to-end: the
    posexplode(sequence)+slice formulation has NO Python stage (a
    per-row Python chunker at 100 TB is the anti-pattern VERDICT r2 #3
    flagged)."""
    plan = _plan(QUERIES["corpus_chunk_documents"](spark, sf_dir))
    for marker in ("ArrowEvalPython", "BatchEvalPython", "PythonUDTF", "MapInPandas"):
        assert marker not in plan, f"{marker} in native chunker plan:\n{plan}"


def _report_inputs(spark, tmp_path):
    from monthly_report_etl_spark.fixtures import write_fixture
    from monthly_report_etl_spark.schemas import COMPETITOR_LIST_SCHEMA
    from monthly_report_etl_spark.sources import read_lookup_csv

    deals_path, comp_path = write_fixture(str(tmp_path / "mr_fixture"), n_scenarios=200, seed=7)
    raw = spark.read.parquet(deals_path)
    return raw, read_lookup_csv(spark, comp_path, COMPETITOR_LIST_SCHEMA)


def test_monthly_report_plan_shape(spark, tmp_path):
    """The full monthly-report plan keeps its at-scale contract: no
    range-sampling global sort, no cartesian product, no Python stage,
    exactly ONE deliberate repartition — the per-lender
    REPARTITION_BY_COL that feeds the sink's file layout — and two hash
    exchanges in the rank step (the (Tier, lender) aggregate and the
    rank window on Tier). The enriched frame is localCheckpoint'ed before
    add_rank_columns, so this plan starts at the checkpoint; the plan
    before it is gated by test_report_plan_before_checkpoint_shape."""
    from monthly_report_etl_spark.config import PipelineConfig
    from monthly_report_etl_spark.plans import monthly_report

    raw, comp = _report_inputs(spark, tmp_path)
    report = monthly_report(raw, comp, PipelineConfig())
    plan = _plan(report)
    assert "rangepartitioning" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "Python" not in plan, plan
    reparts = _lines(plan, "REPARTITION_BY_COL")
    assert len(reparts) == 1, f"expected exactly 1 deliberate repartition:\n{plan}"
    n_hash = len(_lines(_plan(report, "simple"), "Exchange hashpartitioning"))
    assert n_hash == 3, f"{n_hash} hash exchanges (rank step 2 + repartition 1):\n{plan}"


def test_report_plan_before_checkpoint_shape(spark, tmp_path):
    """The enriched report before the checkpoint scans the raw input three
    times: the main branch, the global_stats aggregate's branch, and
    get_lenders' one-column scan — each dedup branch parses ``results``
    once. No cartesian product, no range-sampling sort."""
    from monthly_report_etl_spark.config import PipelineConfig
    from monthly_report_etl_spark.operators.enrich import enrich_with_tiers
    from monthly_report_etl_spark.operators.exports import exports_pipeline

    raw, comp = _report_inputs(spark, tmp_path)
    cfg = PipelineConfig()
    df = enrich_with_tiers(exports_pipeline(raw, cfg.start_date, cfg.end_date), comp)
    plan = _plan(df, "simple")
    scans = _lines(plan, "FileScan parquet")  # the competitor list is a CSV scan
    assert len(scans) == 3, f"{len(scans)} raw scans:\n{plan}"
    assert "CartesianProduct" not in plan, plan
    assert "rangepartitioning" not in plan, plan


def test_traced_run_package_calls_resolve(spark, fixture_dir):
    """perfbench's traced run (``perfbench/trace_job.py``) calls package
    names and keywords that the jobs themselves may not use, so deleting
    one would break it unnoticed by the untraced bench and this suite.
    Every prefix plan it times is built and analyzed (``.columns``, no
    Spark job), and every call it makes on a package name — read from its
    source — binds against that name's signature."""
    import ast
    import importlib
    import inspect
    import os

    from monthly_report_etl_spark.config import PipelineConfig
    from monthly_report_etl_spark.schemas import COMPETITOR_LIST_SCHEMA
    from monthly_report_etl_spark.sources import read_lookup_csv
    from perfbench import trace_job

    raw = spark.read.parquet(os.path.join(fixture_dir, "exports_deals.parquet"))
    comp = read_lookup_csv(
        spark, os.path.join(fixture_dir, "competitor_list.csv"), COMPETITOR_LIST_SCHEMA
    )
    for phase, build in trace_job.prefix_plans(raw, comp, PipelineConfig()):
        assert build().columns, phase

    tree = ast.parse(inspect.getsource(trace_job))
    bound = {}  # local name -> package module or object
    for node in ast.walk(tree):
        if isinstance(node, ast.ImportFrom) and node.module.startswith("monthly_report_etl_spark"):
            for a in node.names:
                # a submodule (``import jobs``) or a name the module defines
                with contextlib.suppress(ModuleNotFoundError):
                    importlib.import_module(f"{node.module}.{a.name}")
                bound[a.asname or a.name] = getattr(importlib.import_module(node.module), a.name)
    checked = []
    for node in ast.walk(tree):
        if not isinstance(node, ast.Call):
            continue
        f = node.func
        if isinstance(f, ast.Name) and f.id in bound:
            fn, label = bound[f.id], f.id
        elif isinstance(f, ast.Attribute) and isinstance(f.value, ast.Name) and f.value.id in bound:
            fn, label = getattr(bound[f.value.id], f.attr), f"{f.value.id}.{f.attr}"
        else:
            continue
        inspect.signature(fn).bind(*node.args, **{k.arg: None for k in node.keywords})
        checked.append(label)
    assert {"exports.final_select", "jobs.run_export_job", "monthly_report"} <= set(checked)


def test_ann_lsh_plan_shape(spark, sf_dir):
    """similarity_ann_lsh's Python surface stays Arrow-batched and
    confined to the bucket/score projections: no row-at-a-time
    BatchEvalPython anywhere, at most 4 ArrowEvalPython stages (corpus +
    query bucket projection, re-rank scoring), and the query side joins
    broadcast (VERDICT r2 #5)."""
    plan = _plan(QUERIES["similarity_ann_lsh"](spark, sf_dir))
    assert "BatchEvalPython" not in plan, plan
    n_arrow = len({ln.strip() for ln in _lines(plan, ") ArrowEvalPython")})
    assert n_arrow <= 4, f"{n_arrow} ArrowEvalPython stages:\n{plan}"
    assert "BroadcastHashJoin" in plan, plan


@pytest.mark.parametrize(
    "name,max_hash_exchanges",
    [
        # nested stage windows + per-user collapse: ONE exchange on user_id
        ("events_funnel", 1),
        # lag + running-sum windows + (user_id, session_seq) agg all ride
        # the user_id partitioning (subset-clustering rule)
        ("events_sessionize_batch", 1),
        # window() expands 4 assignments map-side; ONE exchange for the
        # (window, event_type) aggregation — no self-join, no 4x shuffle
        ("events_sliding_window", 1),
        # rank + stratum-count windows share the lang exchange
        ("corpus_stratified_sample", 1),
        # ranged packing: ONE hash exchange on range_id — the parallel
        # form of the single-partition global window (scale fix)
        ("corpus_pack_sequences_ranged", 1),
        # one user_id hash-agg builds the ordered sequence string
        ("events_user_sequences", 1),
        # broadcast supplier + min(struct) agg + broadcast part: the
        # l_partkey aggregation is the only exchange
        ("olap_cheapest_supplier", 1),
    ],
)
def test_single_exchange_analytics(spark, sf_dir, name, max_hash_exchanges):
    plan = _plan(QUERIES[name](spark, sf_dir))
    n = len(_lines(plan, "Exchange hashpartitioning"))
    assert n <= max_hash_exchanges, f"{name}: {n} hash exchanges:\n{plan}"
    assert "rangepartitioning" not in plan, plan
    assert "Python" not in plan, plan


def test_decontaminate_broadcasts_benchmark_set(spark, sf_dir):
    """The eval-set shingle table must BROADCAST (eval sets are small by
    definition); the corpus side streams through one left join + one
    doc_id rollup that reuses the shingle window's partitioning."""
    plan = _plan(QUERIES["corpus_decontaminate"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan and "LeftOuter" in plan, plan
    assert "Python" not in plan, plan


def test_pack_sequences_ranged_window_is_partitioned(spark, sf_dir):
    """The ranged packing variant must never fall into the global
    single-partition WindowExec the exact twin documents as its scale
    hazard: its one window is partitioned by range_id and fed by a hash
    exchange, not a SinglePartition exchange."""
    plan = _plan(QUERIES["corpus_pack_sequences_ranged"](spark, sf_dir))
    assert "hashpartitioning(range_id" in plan, plan
    assert "SinglePartition" not in plan, plan


def test_simhash_signature_python_surface(spark, sf_dir):
    """The portable-SimHash signature stage keeps its r6 shape: exactly
    one Arrow-batched Python stage (the vote/pack UDF) and never a
    row-at-a-time BatchEvalPython — the 64-SUM affine expression tree it
    replaced fell out of codegen (SCALE.md §2)."""
    from monthly_report_etl_spark.operators.dedup import simhash_chunk_columns

    plan = _plan(simhash_chunk_columns(spark, sf_dir))
    assert "BatchEvalPython" not in plan, plan
    n_arrow = len({ln.strip() for ln in _lines(plan, ") ArrowEvalPython")})
    assert n_arrow == 1, f"{n_arrow} ArrowEvalPython stages:\n{plan}"


def test_ivf_search_plan_shape(spark, sf_dir):
    """The IVF search plan (post-training) keeps its r6 shape: the
    tagged corpus is consumed from a checkpoint (so the scan →
    normalize → assign chain does not re-execute per consumer), Python
    appears only as Arrow stages (probe selection), and the query side
    joins broadcast."""
    from monthly_report_etl_spark.operators.similarity import ivf_topk

    plan = _plan(ivf_topk(spark, sf_dir))
    assert "BatchEvalPython" not in plan, plan
    n_arrow = len({ln.strip() for ln in _lines(plan, ") ArrowEvalPython")})
    assert n_arrow <= 2, f"{n_arrow} ArrowEvalPython stages:\n{plan}"
    assert "BroadcastHashJoin" in plan, plan
    assert "Scan ExistingRDD" in plan, f"tagged corpus not checkpointed:\n{plan}"


def test_quantize_int8_no_shuffle_no_python(spark, sf_dir):
    """embeddings_quantize_int8 is a pure projection: the array HOFs
    (transform/aggregate/array_max) stay JVM-side — no Exchange, no
    Python stage anywhere."""
    plan = _plan(QUERIES["embeddings_quantize_int8"](spark, sf_dir))
    assert "Exchange" not in plan, plan
    assert "Python" not in plan, plan


def test_aqe_splits_skewed_join_partition(spark):
    """Runtime skew handling: a sort-merge join with one hot key must get
    its oversized partition SPLIT by AQE's OptimizeSkewedJoin (the
    'skew=true' marker in the final adaptive plan) — the mechanism the
    salted-join operator documents as the manual alternative."""
    from pyspark.sql import functions as F

    confs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",  # force SMJ
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "64KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "32KB",
        "spark.sql.adaptive.coalescePartitions.enabled": "false",
    }
    prev = {k: spark.conf.get(k, None) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        # The payload must be (a) consumed ABOVE the join so Catalyst
        # can't prune it out of the shuffle, and (b) incompressible —
        # skew detection reads COMPRESSED map-output sizes, and a pruned
        # constant-key partition lz4-compresses below any threshold (the
        # original form of this test: 300k rows shrank to a few KB and
        # the split never fired). 200k sha2 strings ≈ 14 MB in the hot
        # partition — orders of magnitude over both the 64KB threshold
        # and median×factor, deterministic in any environment.
        payload = F.sha2(F.col("id").cast("string"), 256)
        hot = spark.range(0, 200_000).select(
            F.lit(0).alias("k"), payload.alias("payload")
        )
        rest = spark.range(0, 30_000).select(
            (F.col("id") % 3_000 + 1).alias("k"), payload.alias("payload")
        )
        left = hot.unionAll(rest)
        right = spark.range(0, 3_001).select(
            F.col("id").alias("k"), (F.col("id") * 2).alias("w")
        )
        joined = left.join(right, "k").groupBy().agg(
            F.count("*").alias("n"), F.max(F.length("payload")).alias("max_len")
        )
        row = joined.collect()[0]
        assert row["n"] == 230_000
        assert row["max_len"] == 64
        final_plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "skew=true" in final_plan, final_plan[:4000]
    finally:
        for k, v in prev.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_recursive_cte_plan_shape(spark, sf_dir):
    """VERDICT r7 #6: the recursive CTE keeps its scale contract — the
    recursion executes as an engine-side UnionLoop whose per-step join
    is EQUI on the order id (a regression to a non-equi/cartesian step
    would re-scan adj per chain row), and no Python stage anywhere."""
    plan = _plan(QUERIES["recursive_order_chains"](spark, sf_dir))
    assert "UnionLoop" in plan, plan
    step_joins = _lines(plan, "= cur_key")
    assert step_joins, f"recursive step join lost its order-id equi key\n{plan}"
    assert "CartesianProduct" not in plan, plan
    assert "EvalPython" not in plan, plan


def test_recursive_cte_adj_materialized_and_cache_reused(spark, sf_dir):
    """r12 (§8m inversion fix): adj must enter the recursion as a
    MATERIALIZED InMemoryRelation, for two pinned reasons — (1) every
    recursion level reads the cache instead of re-running the orders
    scan + custkey window (the REST attribution showed a fact-sized
    rebuild per level), and (2) the cache carries adj's ACTUAL size, so
    UnionLoop's per-level join strategy is decided on truth (inlined,
    the parquet-file-size estimate sat under the session's 64 MB
    broadcast threshold at 30x and every level broadcast a 4.5M-row
    relation — the §8m 30x>100x inversion). Also pins cache REUSE: a
    second call on the same orders table must not stack a second
    fact-sized cache entry."""
    from monthly_report_etl_spark.catalog import QUERIES

    df = QUERIES["recursive_order_chains"](spark, sf_dir)
    plan = _plan(df)
    assert "InMemoryRelation" in plan, (
        "adj is no longer read from the materialized cache\n" + plan
    )
    # ADVICE r12 #4: compare the SET of cached-RDD ids, not global
    # counts — async ContextCleaner activity can only REMOVE entries
    # between samples, so "no new ids" is race-free where
    # "count(after) <= count(before)" was flaky.
    jsc = spark.sparkContext._jsc.sc()

    def _cached_ids():
        return {info.id() for info in jsc.getRDDStorageInfo()}

    ids_before = _cached_ids()
    QUERIES["recursive_order_chains"](spark, sf_dir).count()
    stacked = _cached_ids() - ids_before
    assert not stacked, (
        "second call stacked a new adj cache entry instead of reusing "
        f"the canonical-plan-keyed one (new cached RDD ids: {stacked})"
    )


def test_recursive_cte_adj_evicted_on_new_table(spark, sf_dir):
    """r13 (VERDICT r12 #6 / ADVICE r12): the materialized adj cache is
    SINGLE-SLOT across distinct orders tables — materializing adj for a
    different orders source must unpersist the previous entry, so a
    session sweeping many orders tables holds at most one fact-sized
    cache entry, while same-table reuse (pinned above) is untouched."""
    import os

    from monthly_report_etl_spark.catalog import QUERIES

    # pick a table that is genuinely DIFFERENT from the fixture's, even
    # when the suite runs with the sf_dir knob pointed at sf0.01
    other = "/root/testdata/sf0.01"
    if os.path.realpath(other) == os.path.realpath(sf_dir):
        other = "/root/testdata/sf0.001"
    jsc = spark.sparkContext._jsc.sc()

    def _cached_ids():
        return {info.id() for info in jsc.getRDDStorageInfo()}

    # Pin the slot to sf_dir regardless of prior test order, so the
    # `other` call below must mint a fresh cache entry.
    QUERIES["recursive_order_chains"](spark, sf_dir).count()
    base = _cached_ids()
    QUERIES["recursive_order_chains"](spark, other).count()
    new_other = _cached_ids() - base
    assert new_other, "a different orders table should mint a fresh adj entry"
    QUERIES["recursive_order_chains"](spark, sf_dir).count()
    leaked = new_other & _cached_ids()
    assert not leaked, (
        "previous table's adj cache entry was not evicted on switching "
        f"orders tables (leaked cached RDD ids: {leaked})"
    )


def test_recursive_cte_adj_self_heals_after_external_uncache(spark, sf_dir):
    """If something external drops the adj cache (a host application's
    clearCache), the next call must rebuild it rather than recompute adj
    at every recursion level: the same rows, adj read from an
    InMemoryRelation, and a freshly materialized cached RDD."""
    from monthly_report_etl_spark.catalog import QUERIES

    jsc = spark.sparkContext._jsc.sc()

    def _cached_ids():
        return {info.id() for info in jsc.getRDDStorageInfo()}

    n_before = QUERIES["recursive_order_chains"](spark, sf_dir).count()
    ids_before = _cached_ids()
    spark.catalog.clearCache()

    df = QUERIES["recursive_order_chains"](spark, sf_dir)
    assert df.count() == n_before
    plan = _plan(df)
    assert "InMemoryRelation" in plan, (
        "adj is no longer read from the materialized cache\n" + plan
    )
    rebuilt = _cached_ids() - ids_before
    assert rebuilt, (
        "call after an external clearCache did not materialize a fresh "
        "adj cache entry"
    )


def test_semdedup_kmeans_plan_shape(spark, sf_dir):
    """The k-means SemDeDup scale path keeps its contract: the tagged
    corpus is consumed from the localCheckpoint (scan + normalize +
    assign run ONCE, not per drop-rule consumer), the post-checkpoint
    search plan is pure JVM (the Arrow assign matmul happened before
    materialization), and the in-cluster pair join stays EQUI on the
    cluster id — losing that key degrades to a nested-loop/cartesian
    over all pairs, the exact n^2 blowup this operator exists to
    avoid."""
    from monthly_report_etl_spark.operators.similarity import semdedup_kmeans_keep

    plan = _plan(semdedup_kmeans_keep(spark, sf_dir))
    assert "Scan ExistingRDD" in plan, f"tagged corpus not checkpointed:\n{plan}"
    assert "EvalPython" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, (
        f"pair join lost its cluster-id equi key\n{plan}"
    )


def test_pq_adc_plan_shape(spark, sf_dir):
    """The PQ-ADC search plan keeps its scale contract: the encoded
    corpus is consumed from the localCheckpoint (train + encode run
    once), scoring is a single Arrow MapInPandas stage emitting
    per-partition shortlists (no row-at-a-time Python), and the exact
    re-rank join broadcasts the model-sized query side — no cartesian
    anywhere."""
    from monthly_report_etl_spark.operators.similarity import pq_adc_topk

    plan = _plan(pq_adc_topk(spark, sf_dir))
    assert "Scan ExistingRDD" in plan, f"encoded corpus not checkpointed:\n{plan}"
    assert "MapInPandas" in plan, plan
    assert "BatchEvalPython" not in plan, plan
    assert "BroadcastHashJoin" in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_catalog_wide_plan_hygiene(spark, sf_dir):
    """r9 consolidation sweep: EVERY catalog entry's physical plan is
    free of the two unconditional scale-killers —

    * ``BatchEvalPython`` (row-at-a-time Python; every deliberate Python
      seam in this repo is Arrow-vectorized: ArrowEvalPython /
      MapInPandas / FlatMapGroupsInPandas, which remain allowed), and
    * ``CartesianProduct`` (a non-broadcast cartesian; the intended
      tiny-side cross joins compile to BroadcastNestedLoopJoin and stay
      allowed).

    The targeted plan tests above pin per-operator shapes; this sweep
    guarantees no FUTURE entry (or edit to an untested one) can ship
    either marker unnoticed. Building a plan executes any driver-side
    model work (counts, Lloyd training), so this also smoke-drives every
    entry's construction path at sf0.001."""
    offenders = {}
    for name, fn in QUERIES.items():
        plan = _plan(fn(spark, sf_dir))
        bad = []
        if "BatchEvalPython" in plan:
            bad.append("BatchEvalPython")
        if "CartesianProduct" in plan:
            bad.append("CartesianProduct")
        if bad:
            offenders[name] = bad
    assert not offenders, f"plan-hygiene offenders: {offenders}"


def test_pca_ivf_no_data_proportional_hints(spark, sf_dir):
    """VERDICT r10 #6 (the no-forced-hints policy for data-proportional
    join sides, extended to the similarity family): pca_ivf_topk's
    re-rank must NOT force-broadcast the shortlist or the query frame —
    both are bounded by
    the fixed N_QUERIES set today, so AQE broadcasts them anyway, but a
    hint would become the scale bug the moment the query set becomes an
    input table. A family-wide zero-ResolvedHint ban would be WRONG:
    the constant-bounded broadcasts (the 10-row probe/query sets, the
    1-row checked-flag aggregates) are load-bearing, because a
    stats-blind crossJoin against a filter whose static sizeInBytes is
    the whole corpus would otherwise degrade to CartesianProduct. So
    the gate pins the hint COUNT to exactly the known bounded set:
    1 in the raw operator (_ivf_search's probe-set broadcast) —
    reintroducing the two dropped re-rank hints bumps it to 3."""
    from monthly_report_etl_spark.operators.similarity import pca_ivf_topk

    analyzed = (
        pca_ivf_topk(spark, sf_dir)._jdf.queryExecution().analyzed().toString()
    )
    n = analyzed.count("ResolvedHint")
    assert n == 1, f"expected exactly the bounded probe-set hint, got {n}"


def test_bpe_tokenize_plan_shape(spark, sf_dir):
    """corpus_bpe_tokenize's (r11 promotion) scale contract: the
    tokenize plan touches the CORPUS exactly once (one parquet scan —
    the word→symbols map enters as a checkpointed ExistingRDD, so the
    training lineage never replays), reassembles per doc with
    array_sort/flatten rather than a Window, carries exactly ONE
    shuffle Exchange (the groupBy(doc_id); the vocab join broadcasts at
    fixture scale by AQE's choice), and forces no join strategy — at
    100 TB the vocab join may downgrade to shuffle-hash, which a hint
    would forbid."""
    import re

    from monthly_report_etl_spark.operators.corpus import bpe_tokenize

    df = bpe_tokenize(spark, sf_dir)
    plan = _plan(df)
    assert not [
        ln for ln in plan.splitlines() if re.match(r"\(\d+\) Window", ln)
    ], f"window crept into the tokenize reassembly:\n{plan}"
    scans = [
        ln for ln in plan.splitlines()
        if ln.strip().startswith("(") and "Scan parquet" in ln
    ]
    assert len(scans) == 1, f"corpus scanned {len(scans)}x:\n{plan}"
    shuffles = [
        ln for ln in plan.splitlines()
        if re.match(r"\(\d+\) Exchange", ln.strip())
    ]
    assert len(shuffles) == 1, f"expected one groupBy exchange:\n{plan}"
    analyzed = df._jdf.queryExecution().analyzed().toString()
    assert "ResolvedHint" not in analyzed


def test_r16_null_convention_filters_push_to_scan(spark, sf_dir):
    """The r16 NULL-convention fixes must be FREE like read_vectors':
    the new isNotNull filters (olap_yearly_growth's order-date,
    events_sessionize_batch's event-time) have to reach the parquet
    reader as pushed filters, not post-scan Filter nodes."""
    plan = _plan(QUERIES["olap_yearly_growth"](spark, sf_dir))
    assert any(
        "PushedFilters" in ln and "IsNotNull(o_orderdate)" in ln
        for ln in plan.splitlines()
    ), plan
    plan = _plan(QUERIES["events_sessionize_batch"](spark, sf_dir))
    assert any(
        "PushedFilters" in ln and "IsNotNull(ts)" in ln
        for ln in plan.splitlines()
    ), plan


def test_cheapest_supplier_keeps_single_agg_plan(spark, sf_dir):
    """The r16 NULLS-LAST struct fix (an extra boolean lead field in the
    argmin struct) must not change the plan shape: still ONE
    hash-aggregate pair over the lineitem side and broadcast joins for
    both dimension attaches — no window, no extra Exchange."""
    plan = _plan(QUERIES["olap_cheapest_supplier"](spark, sf_dir))
    assert "Window" not in plan, plan
    n_exchanges = sum(
        1 for ln in plan.splitlines()
        if "Exchange hashpartitioning" in ln
    )
    assert n_exchanges <= 1, plan
    assert plan.count("BroadcastExchange") >= 2, plan


def test_read_vectors_nullfilter_pushes_to_scan(spark):
    """The r15 NULL-vector index contract must be FREE: read_vectors'
    isNotNull filter has to reach the parquet reader as a pushed filter
    (scan-level skip), not survive as a post-scan Filter node the whole
    family pays per entry. Pins both the pushdown and the contract's
    presence for every embeddings consumer."""
    from monthly_report_etl_spark.functions.vectors import read_vectors

    plan = (
        read_vectors(spark, "/root/testdata/sf0.001")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    scan_lines = [ln for ln in plan.splitlines() if "FileScan parquet" in ln]
    assert scan_lines, plan
    assert any("PushedFilters: [IsNotNull(embedding)]" in ln for ln in scan_lines), plan


@pytest.mark.parametrize(
    "name", ["rollup_lineitem", "cube_orders", "grouping_sets_orders",
             "corpus_source_lang_rollup"]
)
def test_grouping_sets_single_pass(spark, sf_dir, name):
    """The grouping-set entries claim 'one Expand + single shuffle' —
    Spark expands each input row per grouping set and aggregates once.
    A refactor to a union-of-aggregations would rescan the fact table
    per set (3-4x the 100 TB scan cost) and show multiple Exchanges or
    no Expand; pin the single-pass shape."""
    plan = _plan(QUERIES[name](spark, sf_dir))
    assert _lines(plan, ") Expand"), plan
    n_exchange = len(_lines(plan, ") Exchange"))
    assert n_exchange == 1, f"{name}: {n_exchange} Exchanges\n{plan}"
    # one scan of the fact table, not one per grouping set (detail-
    # section lines only — the tree section repeats each node)
    n_scans = len(_lines(plan, ") Scan parquet"))
    assert n_scans == 1, f"{name}: {n_scans} scans\n{plan}"


def test_timeline_null_filters_push_to_scan(spark):
    """The r17 timeline-NULL fixes must be FREE (the read_vectors
    pattern): asof_join's ts filter and recursive_order_chains' order-
    date filter have to reach the parquet reader as pushed filters —
    timeline-less rows are skipped at the scan, never shuffled into the
    window sort they would have poisoned."""
    plan = _plan(QUERIES["asof_join"](spark, "/root/testdata/sf0.001"))
    pushed = _lines(plan, "PushedFilters")
    assert pushed, plan
    # all(), not any() (code-review r17): asof_join reads ONLY the
    # filtered events table, so every scan must carry the conjunct — a
    # future second scan that loses the pushdown must fail here
    assert all("IsNotNull(ts)" in ln for ln in pushed), plan

    plan = _plan(QUERIES["recursive_order_chains"](spark, "/root/testdata/sf0.001"))
    pushed = _lines(plan, "PushedFilters")
    assert pushed, plan
    assert all("IsNotNull(o_orderdate)" in ln for ln in pushed), plan
