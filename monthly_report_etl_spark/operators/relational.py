"""General relational operators beyond the reference's own surface.

The reference exercises a narrow operator set (SURVEY §2: two left joins,
group/window aggs, one EXISTS). A user switching to this engine expects
the full relational vocabulary — these entries round out coverage with the
same (Spark plan, DuckDB oracle) discipline:

set ops, rollup/cube with grouping ids, semi/anti joins, AS-OF join,
range (theta) join via bucketization, exact percentiles, and the window
family (lag/lead/row_number/ntile/moving aggregates).

Scale notes per operator in the docstrings; none of these collects to the
driver or funnels through a single partition (the as-of join is the
union-tag + running-last trick — one shuffle, no per-group pandas).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from monthly_report_etl_spark.functions.vectors import read_vectors
from monthly_report_etl_spark.sources.parquet import read_table


# ---------------------------------------------------------------------------
# set operations
# ---------------------------------------------------------------------------

SET_OPS_ORACLE = """
SELECT 'intersect' AS op, CAST(count(*) AS BIGINT) AS n FROM (
    SELECT o_custkey FROM orders WHERE o_totalprice > 150000
    INTERSECT
    SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'
)
UNION ALL
SELECT 'except' AS op, CAST(count(*) AS BIGINT) AS n FROM (
    SELECT o_custkey FROM orders WHERE o_totalprice > 150000
    EXCEPT
    SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'
)
"""


def set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT / EXCEPT (distinct semantics — Spark ``intersect`` /
    ``exceptAll``'s distinct sibling). Both compile to aggregations over a
    hash shuffle, scale-clean."""
    o = read_table(spark, sf_dir, "orders")
    big = o.filter(F.col("o_totalprice") > 150000).select("o_custkey")
    urgent = o.filter(F.col("o_orderpriority") == "1-URGENT").select("o_custkey")
    inter = big.intersect(urgent).agg(F.count("*").alias("n")).select(
        F.lit("intersect").alias("op"), "n"
    )
    # subtract = EXCEPT (distinct) — exceptAll would keep surplus
    # multiplicities of rows that also appear on the right
    exc = big.subtract(urgent).agg(F.count("*").alias("n")).select(
        F.lit("except").alias("op"), "n"
    )
    return inter.unionByName(exc)


# ---------------------------------------------------------------------------
# rollup / cube with grouping ids
# ---------------------------------------------------------------------------

# HAVING count(*) > 0 mirrors Spark's empty-input grouping-set
# convention (r16 fuzz finding, tiny-table probe): Spark expands input
# rows per grouping set BEFORE the hash agg, so an EMPTY input produces
# zero groups even for the () set, where ANSI/DuckDB emit one
# grand-total row (count 0, NULL sums). Forcing the ANSI row Spark-side
# would need a second full aggregation pass (or a literal-row anti-join
# that still evaluates the aggregate twice) — anti-scale at 100 TB for
# a row no downstream consumer of an empty report needs. On non-empty
# input the clause is vacuous: every group that exists has >= 1 row.
# Pinned by test_properties.py::test_degenerate_corpus_hand_derivation
# and ::test_oracles_agree_on_degenerate_corpus_fixture (ADVICE r16: an
# earlier revision of this comment named a test that never existed).
ROLLUP_ORACLE = """
SELECT l_returnflag, l_linestatus,
       CAST(GROUPING(l_returnflag) * 2 + GROUPING(l_linestatus) AS BIGINT) AS gid,
       CAST(count(*) AS BIGINT) AS n,
       ROUND(SUM(l_quantity), 2) AS sum_qty
FROM lineitem
GROUP BY ROLLUP(l_returnflag, l_linestatus)
HAVING count(*) > 0
"""


def rollup_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP with grouping_id — subtotal levels in one pass (Spark
    expands grouping sets before the hash agg; still a single shuffle)."""
    li = read_table(spark, sf_dir, "lineitem")
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(
            F.grouping_id().cast("long").alias("gid"),
            F.count("*").alias("n"),
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
        )
        .select("l_returnflag", "l_linestatus", "gid", "n", "sum_qty")
    )


# HAVING mirrors the empty-input convention — see ROLLUP_ORACLE above.
CUBE_ORACLE = """
SELECT o_orderstatus, o_orderpriority,
       CAST(GROUPING(o_orderstatus) * 2 + GROUPING(o_orderpriority) AS BIGINT) AS gid,
       CAST(count(*) AS BIGINT) AS n
FROM orders
GROUP BY CUBE(o_orderstatus, o_orderpriority)
HAVING count(*) > 0
"""


def cube_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = read_table(spark, sf_dir, "orders")
    return (
        o.cube("o_orderstatus", "o_orderpriority")
        .agg(F.grouping_id().cast("long").alias("gid"), F.count("*").alias("n"))
        .select("o_orderstatus", "o_orderpriority", "gid", "n")
    )


# ---------------------------------------------------------------------------
# semi / anti joins
# ---------------------------------------------------------------------------

SEMI_ANTI_ORACLE = """
SELECT 'with_lineitems' AS op, CAST(count(*) AS BIGINT) AS n
FROM orders o WHERE EXISTS (SELECT 1 FROM lineitem l WHERE l.l_orderkey = o.o_orderkey)
UNION ALL
SELECT 'without_lineitems' AS op, CAST(count(*) AS BIGINT) AS n
FROM orders o WHERE NOT EXISTS (SELECT 1 FROM lineitem l WHERE l.l_orderkey = o.o_orderkey)
"""


def semi_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """left_semi / left_anti — EXISTS / NOT EXISTS as join types (no
    payload duplication, early-out probe side)."""
    o = read_table(spark, sf_dir, "orders")
    li = read_table(spark, sf_dir, "lineitem").select("l_orderkey")
    semi = (
        o.join(li, o.o_orderkey == li.l_orderkey, "left_semi")
        .agg(F.count("*").alias("n"))
        .select(F.lit("with_lineitems").alias("op"), "n")
    )
    anti = (
        o.join(li, o.o_orderkey == li.l_orderkey, "left_anti")
        .agg(F.count("*").alias("n"))
        .select(F.lit("without_lineitems").alias("op"), "n")
    )
    return semi.unionByName(anti)


# ---------------------------------------------------------------------------
# as-of join (Spark lacks a native one)
# ---------------------------------------------------------------------------

ASOF_ORACLE = """
WITH tagged AS (
    SELECT user_id, ts, event_id,
           CASE WHEN event_type = 'purchase' THEN NULL ELSE ts END AS click_ts,
           event_type
    -- ts IS NOT NULL (r16 finding, seed 20260848): a NULL-ts row has no
    -- position on the as-of timeline. Spark's window sort puts NULLs
    -- FIRST (a NULL-ts purchase sees no prior click -> NULL), DuckDB's
    -- puts them LAST (it carries the final click) — same convention
    -- class as the r15 NULL-event-time sessionize fix. Both engines now
    -- exclude timeline-less rows.
    FROM events WHERE event_type IN ('purchase', 'click') AND ts IS NOT NULL
),
carried AS (
    SELECT *,
           last_value(click_ts IGNORE NULLS) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS UNBOUNDED PRECEDING) AS asof_click_ts
    FROM tagged
)
SELECT user_id, ts AS purchase_ts, event_id, asof_click_ts
FROM carried WHERE event_type = 'purchase'
"""


def asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AS-OF join: each purchase matched to the latest click at-or-before
    it, per user.

    The scalable pattern (vs per-group ``merge_asof`` in pandas): union
    both streams with a tag, ONE shuffle by user, running ``last(...,
    ignorenulls)`` over event order, then keep the probe rows. O(n log n)
    per partition, no Python, no broadcast of either side — this is how
    an as-of works at 100 TB.

    NULL-ts rows are excluded on BOTH sides (r16 finding, seed
    20260848): they have no position on the as-of timeline, and the
    engines disagree on where to sort them (Spark NULLS FIRST, DuckDB
    NULLS LAST). The conjunct reaches the parquet scan as
    IsNotNull(ts), so timeline-less rows never leave the source.
    """
    ev = read_table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("purchase", "click") & F.col("ts").isNotNull()
    )
    tagged = ev.withColumn(
        "click_ts", F.when(F.col("event_type") != "purchase", F.col("ts"))
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    carried = tagged.withColumn("asof_click_ts", F.last("click_ts", ignorenulls=True).over(w))
    return carried.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("ts").alias("purchase_ts"), "event_id", "asof_click_ts"
    )


# ---------------------------------------------------------------------------
# range (theta) join via bucketization
# ---------------------------------------------------------------------------

_BUCKET_WIDTH = 100

RANGE_JOIN_ORACLE = f"""
WITH buckets AS (
    SELECT i AS bucket_id, i * {_BUCKET_WIDTH} AS lo, (i + 1) * {_BUCKET_WIDTH} AS hi,
           'band_' || i AS band
    FROM range(0, 10) t(i)
)
SELECT e.event_id, b.band
FROM events e JOIN buckets b ON e.value >= b.lo AND e.value < b.hi
"""


def range_join_bucketized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range-predicate join rewritten as an equi-join on a computed bucket
    key. A naive theta join is O(n x m) nested-loop; when the dim ranges
    align to a fixed grid, ``floor(value/width)`` turns it into a hash
    join — the standard rewrite for banding/bucketing dims at scale.
    """
    ev = read_table(spark, sf_dir, "events")
    buckets = spark.range(0, 10).select(
        F.col("id").alias("bucket_id"),
        F.concat(F.lit("band_"), F.col("id")).alias("band"),
    )
    with_bucket = ev.withColumn(
        "bucket_id", F.floor(F.col("value") / _BUCKET_WIDTH).cast("long")
    )
    return (
        with_bucket.join(F.broadcast(buckets), "bucket_id")
        .select("event_id", "band")
    )


# ---------------------------------------------------------------------------
# exact percentiles
# ---------------------------------------------------------------------------

# The four ROUND sites here diverge on a group whose percentile lands
# exactly on a stored -0.0 (r16 finding 41: DuckDB's ROUND preserves
# the signed zero, Spark's BigDecimal round normalizes it) — the + 0.0
# canonicalization is PRE-STATED for r17 (the entry is r15-latest;
# displacement rule), excluded from the fuzzer's -0.0 probe until then.
PERCENTILES_ORACLE = """
SELECT o_orderpriority,
       -- + 0.0 on each ROUND: signed-zero canonicalization (r16 finding
       -- 41, the pre-stated r17 fix, landed) — a group whose percentile
       -- interpolates to exactly -0.0 keeps the sign under DuckDB's
       -- binary ROUND where Spark's BigDecimal round normalizes it
       ROUND(quantile_cont(o_totalprice, 0.25), 4) + 0.0 AS p25,
       ROUND(quantile_cont(o_totalprice, 0.50), 4) + 0.0 AS p50,
       ROUND(quantile_cont(o_totalprice, 0.90), 4) + 0.0 AS p90,
       ROUND(quantile_cont(o_totalprice, 0.99), 4) + 0.0 AS p99
FROM orders GROUP BY o_orderpriority
"""


def percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles (``percentile`` = SQL
    PERCENTILE_CONT). For 100 TB use ``percentile_approx`` (t-digest,
    mergeable partial state); exact kept here because the oracle can
    verify it."""
    o = read_table(spark, sf_dir, "orders")
    return o.groupBy("o_orderpriority").agg(
        F.round(F.percentile("o_totalprice", F.lit(0.25)), 4).alias("p25"),
        F.round(F.percentile("o_totalprice", F.lit(0.50)), 4).alias("p50"),
        F.round(F.percentile("o_totalprice", F.lit(0.90)), 4).alias("p90"),
        F.round(F.percentile("o_totalprice", F.lit(0.99)), 4).alias("p99"),
    )


# ---------------------------------------------------------------------------
# window family: lag / lead / row_number / ntile / moving aggregate
# ---------------------------------------------------------------------------

# WHERE ts IS NOT NULL (r15, found by tools/fuzz_differential.py): the
# user timeline orders by ts, and the engines place a NULL ts at
# opposite ends of the sort (Spark NULLS FIRST, DuckDB NULLS LAST),
# shifting every row_number/ntile/lag in the partition. An event with
# no event time has no position on a timeline -- filtered both sides,
# the same convention as sequences/sessionize/tumbling/sliding.
WINDOW_FAMILY_ORACLE = """
SELECT event_id, user_id,
       CAST(row_number() OVER w AS BIGINT) AS rn,
       CAST(ntile(4) OVER w AS BIGINT) AS quartile,
       lag(value) OVER w AS prev_value,
       lead(value) OVER w AS next_value,
       ROUND(SUM(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                              ROWS BETWEEN 2 PRECEDING AND CURRENT ROW), 2) AS moving_sum_3
FROM events
WHERE ts IS NOT NULL
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
"""


def window_family(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lag/lead/row_number/ntile + explicit-frame moving sum, all over ONE
    window partitioning (single shuffle by user_id, all functions share
    the sort). NULL-ts events are excluded (r15): no event time, no
    position on the timeline (see WINDOW_FAMILY_ORACLE)."""
    ev = read_table(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    wf = w.rowsBetween(-2, 0)
    return ev.select(
        "event_id",
        "user_id",
        F.row_number().over(w).cast("long").alias("rn"),
        F.ntile(4).over(w).cast("long").alias("quartile"),
        F.lag("value").over(w).alias("prev_value"),
        F.lead("value").over(w).alias("next_value"),
        F.round(F.sum("value").over(wf), 2).alias("moving_sum_3"),
    )


# ---------------------------------------------------------------------------
# recursive CTE (Spark 4 WITH RECURSIVE): per-customer order-chain walk
# ---------------------------------------------------------------------------

# ONE pair of SQL templates runs on BOTH engines (only the adj/orders
# references differ) — dialect-shared subset: WINDOW clause, LEAD/LAG,
# INTERVAL arithmetic, UNION ALL recursion (Spark 4 does not yet support
# UNION-distinct in recursive CTEs, so the traversal must be acyclic by
# construction: each step follows THE unique next order, strictly later,
# capped at depth 20). Split into (adj, chain) so Spark can MATERIALIZE
# adj outside the recursion (see recursive_order_chains) while the
# oracle splices the same two texts back into a single WITH RECURSIVE.
_ORDER_CHAINS_ADJ_SQL = """SELECT o_custkey, o_orderkey, o_orderdate,
           LAG(o_orderdate)  OVER w AS prev_date,
           LEAD(o_orderkey)  OVER w AS next_key,
           LEAD(o_orderdate) OVER w AS next_date
    FROM {orders}
    WHERE o_orderdate IS NOT NULL
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)"""
# ^ o_orderdate IS NOT NULL (r16 fuzz finding, fix pre-stated for r17):
# an undated order has no position on the chain timeline, and the
# engines sort window NULLs differently (Spark FIRST, DuckDB LAST), so
# a NULL-date row seeded a phantom chain head on one engine and a
# phantom successor on the other. Shared template -> one edit fixes
# both engines identically; the conjunct reaches the parquet scan as
# IsNotNull(o_orderdate) before the window shuffle.

_ORDER_CHAINS_CHAIN_SQL = """chain (head_key, o_custkey, cur_key, cur_date, depth) AS (
    SELECT o_orderkey, o_custkey, o_orderkey, o_orderdate, 1
    FROM {adj}
    WHERE prev_date IS NULL
       OR o_orderdate > prev_date + INTERVAL 30 DAY
    UNION ALL
    SELECT c.head_key, c.o_custkey, a.next_key, a.next_date, c.depth + 1
    FROM chain c
    JOIN {adj} a ON a.o_orderkey = c.cur_key
    WHERE a.next_date IS NOT NULL
      AND a.next_date <= c.cur_date + INTERVAL 30 DAY
      AND c.depth < 20
)
SELECT head_key, o_custkey,
       CAST(MAX(depth) AS BIGINT) AS chain_len,
       MAX(cur_date) AS chain_end
FROM chain
GROUP BY head_key, o_custkey
"""

ORDER_CHAINS_ORACLE = (
    "WITH RECURSIVE adj AS (\n    "
    + _ORDER_CHAINS_ADJ_SQL.format(orders="orders")
    + "\n),\n"
    + _ORDER_CHAINS_CHAIN_SQL.format(adj="adj")
)


def recursive_order_chains(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-customer burst chains via an ENGINE-SIDE recursive CTE
    (Spark 4 ``WITH RECURSIVE``): a chain starts at an order with no
    prior order within 30 days and extends to the customer's next order
    while each hop lands within 30 days; output is each chain's head,
    length, and final date.

    This is the linked-list traversal shape (each row has at most ONE
    successor, found by LEAD over the per-customer sequence), where the
    recursion is genuinely data-dependent — chain length isn't known
    before execution — yet provably terminates: every step strictly
    advances o_orderdate, and depth is capped at 20 (the same guard the
    oracle carries, so both engines cut identical chains). The same two
    SQL texts run on DuckDB as the oracle, spliced back into one WITH
    RECURSIVE; only the table references differ.

    Scale design — r12, the §8m inversion PINNED and fixed. The adj
    frame is PERSISTED and materialized (count) BEFORE the recursion,
    for two independent reasons measured on the orders replicas
    (SCALE.md §8m addendum, fresh-session walls at the session's 64 MB
    broadcast threshold):

    * accurate stats: inlined, adj's size estimate derives from the
      parquet FILE size, and Spark's UnionLoop re-plans the chain⋈adj
      join at EVERY level — at 30x the 63 MB file sat just under the
      64 MB session threshold, so every one of the 20 levels
      broadcast-built a 4.5M-row, data-proportional relation (79.3 s),
      while at 100x the 207 MB file tipped the same decision to a
      shuffle join (33.4 s): the §8m "more data ran faster" inversion
      was the optimizer flipping strategy across the threshold
      boundary, not engine noise. The materialized InMemoryRelation
      carries its ACTUAL cached size, so the decision is made on truth
      at every scale — no forced strategy, no hint, the repo's
      zero-forced-broadcast rule kept intact (localCheckpoint was
      tried and rejected: LogicalRDD exposes no accurate stats and the
      30x broadcast pathology persists, 67.9 s);
    * no per-level recompute: the REST-level job attribution showed
      each recursion level re-running the orders scan + custkey window
      to rebuild adj (a fact-sized shuffle write per level); the cache
      turns 20 rebuilds into one.

    After the fix: 30x 28.0 s / 100x 25.4 s — monotone-flat, and the
    plan is the one you'd want on a cluster (per-level shuffle join
    against a disk-backed materialized adj; MEMORY_AND_DISK spills
    rather than OOMs). Spark keys its cache by canonicalized plan, so a
    repeated call on the same orders table reuses the one entry instead
    of stacking copies (``persist`` on an already-cached plan is a
    no-op), and an entry dropped from outside (``clearCache``) is simply
    rebuilt by the next call. Pointing ``orders_rcte`` at a DIFFERENT
    orders table cascade-uncaches the adj built over the old view, so a
    session holds one fact-sized adj at a time.

    Working set: the recursion's own state SHRINKS every iteration
    (only still-extending chains survive the join filter), and depth
    caps bound the iteration count at the 100 TB tier the same way
    MAX_SEQ_EVENTS caps per-user sequence state. At-scale config:
    ``spark.sql.cteRecursionRowLimit`` defaults to 1M accumulated rows
    (levels default 100) — a cluster-scale run over a fact table must
    raise it to ~heads x avg depth; the depth-20 guard keeps the level
    limit irrelevant.
    """
    read_table(spark, sf_dir, "orders").createOrReplaceTempView("orders_rcte")
    adj = spark.sql(_ORDER_CHAINS_ADJ_SQL.format(orders="orders_rcte")).persist()
    adj.count()  # materialize: the InMemoryRelation carries real stats
    adj.createOrReplaceTempView("order_chains_adj")
    return spark.sql(
        "WITH RECURSIVE "
        + _ORDER_CHAINS_CHAIN_SQL.format(adj="order_chains_adj")
    )


CATALOG: dict[str, tuple] = {
    "recursive_order_chains": (recursive_order_chains, ORDER_CHAINS_ORACLE),
    "set_ops": (set_ops, SET_OPS_ORACLE),
    "rollup_lineitem": (rollup_lineitem, ROLLUP_ORACLE),
    "cube_orders": (cube_orders, CUBE_ORACLE),
    "semi_anti_join": (semi_anti_join, SEMI_ANTI_ORACLE),
    "asof_join": (asof_join, ASOF_ORACLE),
    "range_join_bucketized": (range_join_bucketized, RANGE_JOIN_ORACLE),
    "percentiles_exact": (percentiles, PERCENTILES_ORACLE),
    "window_family": (window_family, WINDOW_FAMILY_ORACLE),
}


# ---------------------------------------------------------------------------
# skew-salted join (scale technique, oracle = the plain join's result)
# ---------------------------------------------------------------------------

_SALT_BUCKETS = 8

SALTED_JOIN_ORACLE = """
SELECT l.l_orderkey, l.l_linenumber, o.o_orderpriority
FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
"""


def salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hot-key-safe equi-join via salting: the probe side appends a random
    salt in [0, B) to its key; the build side is replicated B ways with
    every salt value; join on (key, salt).

    Same result set as the plain join (the oracle IS the plain join), but
    a key holding p% of the rows now spreads over B reducers instead of
    one — the manual fallback when AQE skew-join splitting can't kick in
    (e.g. pre-3.0 clusters or broadcast-disabled builds). B=8 multiplies
    the small side's shuffle volume 8x — use on genuinely skewed keys.
    """
    li = read_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_linenumber")
    o = read_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority")
    salted_probe = li.withColumn(
        "_salt", (F.pmod(F.xxhash64("l_orderkey", "l_linenumber"), F.lit(_SALT_BUCKETS)))
    )
    replicated_build = o.withColumn(
        "_salt", F.explode(F.array(*[F.lit(i) for i in range(_SALT_BUCKETS)]))
    )
    # r20 (broadcast-provenance audit): the static planner was
    # broadcast-building the salt-REPLICATED orders side through the
    # Generate's estimate — a corpus-growing x8 build that both defeats
    # the operator's whole contract (salting exists to spread a shuffle
    # join over B reducers when broadcast is off the table) and OOMs at
    # scale. MERGE pin: the one strategy with no resident build for a
    # side that is 8x a fact table — and FASTER even locally (1.63 ->
    # 0.90 s median at sf0.1; shuffle_hash ties at 0.88 but builds the
    # replicated side per partition, the wrong side to hold resident).
    return (
        salted_probe.join(
            replicated_build.hint("merge"),
            (F.col("l_orderkey") == F.col("o_orderkey")) & (salted_probe._salt == replicated_build._salt),
        )
        .select("l_orderkey", "l_linenumber", "o_orderpriority")
    )


# ---------------------------------------------------------------------------
# array / map / higher-order function coverage
# ---------------------------------------------------------------------------

ARRAY_FUNCTIONS_ORACLE = """
WITH t AS (
    SELECT user_id,
           COALESCE(list_sort(list(DISTINCT event_type)
                              FILTER (event_type IS NOT NULL)),
                    []::VARCHAR[]) AS types,
           COALESCE(list_sort(list(value) FILTER (value IS NOT NULL)),
                    []::DOUBLE[]) AS vals
    FROM events GROUP BY user_id
)
SELECT user_id,
       CAST(len(types) AS BIGINT) AS n_types,
       COALESCE(array_to_string(types, '|'), '') AS types_str,
       CAST(len(list_filter(vals, v -> v > 500)) AS BIGINT) AS n_big,
       ROUND(list_reduce(list_prepend(0.0::DOUBLE, vals), (a, v) -> a + v), 2)
           AS sum_vals,
       -- + 0.0: signed-zero canonicalization (r16 finding 41, the
       -- pre-stated r17 fix, landed — DuckDB's ROUND preserves -0.0,
       -- Spark's BigDecimal round normalizes it)
       ROUND(list_transform(vals, v -> v * 2)[1], 2) + 0.0 AS first_doubled,
       list_contains(types, 'error') AS has_error,
       COALESCE(array_to_string(
           list_sort(list_intersect(types, ['click', 'view', 'error'])), '|'),
           '') AS common_types
FROM t
"""


def array_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array/higher-order coverage in one pass: collect_set, sort,
    transform, filter, fold (aggregate), contains, intersect — all
    JVM-side expression work on grouped arrays.

    Note: DuckDB's list_intersect preserves no particular order — both
    sides sort before joining to a string.

    r14 oracle fix (caught by the sixth boundary fixture): Spark's
    collect_set/collect_list DROP SQL NULLs and yield an EMPTY array for
    an all-NULL group, while DuckDB's list() keeps NULL elements and
    returns NULL over zero kept rows — and array_to_string returns NULL
    for an element-less list where array_join returns ''. Invisible on
    the sf tables (zero NULL event_type/value rows); divergent at the
    boundary. The oracle now FILTERs NULLs in the aggregates, COALESCEs
    the empty list, and COALESCEs both string joins to ''.
    """
    ev = read_table(spark, sf_dir, "events")
    t = ev.groupBy("user_id").agg(
        F.sort_array(F.collect_set("event_type")).alias("types"),
        F.sort_array(F.collect_list("value")).alias("vals"),
    )
    return t.select(
        "user_id",
        F.size("types").cast("long").alias("n_types"),
        F.array_join("types", "|").alias("types_str"),
        F.size(F.filter("vals", lambda v: v > 500)).cast("long").alias("n_big"),
        F.round(
            F.aggregate("vals", F.lit(0.0), lambda a, v: a + v), 2
        ).alias("sum_vals"),
        F.round(F.element_at(F.transform("vals", lambda v: v * 2), 1), 2).alias(
            "first_doubled"
        ),
        F.array_contains("types", "error").alias("has_error"),
        F.array_join(
            F.array_sort(F.array_intersect("types", F.array(F.lit("click"), F.lit("view"), F.lit("error")))),
            "|",
        ).alias("common_types"),
    )


CATALOG["salted_join"] = (salted_join, SALTED_JOIN_ORACLE)
CATALOG["array_functions"] = (array_functions, ARRAY_FUNCTIONS_ORACLE)


# ---------------------------------------------------------------------------
# approximate aggregates + map functions
# ---------------------------------------------------------------------------

APPROX_EXACT_BOUNDS_ORACLE = """
SELECT CAST(count(DISTINCT user_id) AS BIGINT) AS exact_users,
       CAST(count(DISTINCT event_type) AS BIGINT) AS exact_types
FROM events
"""


def approx_aggregates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """approx_count_distinct (HyperLogLog++) and percentile_approx
    (t-digest) — the mergeable-sketch aggregates that replace their exact
    forms at 100 TB (bounded state per partition, one combine tree).

    Sketch outputs are engine-specific, so the driver check is rows-only;
    the pytest asserts the HLL estimate lands within its error bound of
    the exact count (tests/test_dedup_similarity.py-style differential).
    """
    ev = read_table(spark, sf_dir, "events")
    return ev.agg(
        F.approx_count_distinct("user_id", rsd=0.02).alias("approx_users"),
        F.approx_count_distinct("event_type", rsd=0.02).alias("approx_types"),
        F.percentile_approx("value", 0.5, 10_000).alias("approx_median_value"),
    )


def exact_distinct_bounds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact companions for the approx sketches (oracle-checked)."""
    ev = read_table(spark, sf_dir, "events")
    return ev.agg(
        F.countDistinct("user_id").alias("exact_users"),
        F.countDistinct("event_type").alias("exact_types"),
    )


MAP_FUNCTIONS_ORACLE = """
SELECT user_id,
       CAST(len(map_entries(m)) AS BIGINT) AS n_keys,
       ROUND(m['click'][1], 2) AS click_sum,
       ROUND(m['purchase'][1], 2) AS purchase_sum
FROM (
    SELECT user_id, MAP(list(event_type ORDER BY event_type),
                        list(s ORDER BY event_type)) AS m
    FROM (
        SELECT user_id, event_type, SUM(value) AS s
        FROM events GROUP BY user_id, event_type
    ) GROUP BY user_id
)
"""


def map_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MapType coverage: build a per-user event_type→sum map with
    map_from_entries, probe with element_at, count with map_keys.
    DuckDB's MAP[key] returns a list — the oracle indexes [1]."""
    ev = read_table(spark, sf_dir, "events")
    per = ev.groupBy("user_id", "event_type").agg(F.sum("value").alias("s"))
    maps = per.groupBy("user_id").agg(
        F.map_from_entries(
            F.sort_array(F.collect_list(F.struct("event_type", "s")))
        ).alias("m")
    )
    return maps.select(
        "user_id",
        F.size(F.map_keys("m")).cast("long").alias("n_keys"),
        F.round(F.element_at("m", "click"), 2).alias("click_sum"),
        F.round(F.element_at("m", "purchase"), 2).alias("purchase_sum"),
    )


def sketch_partial_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The MERGEABLE-sketch architecture (Apache DataSketches, built into
    Spark 4): per-group HLL and KLL sketch PARTIALS that union to rollup
    totals without rescanning — the pattern that makes incremental /
    hierarchical aggregation work at 100 TB (each ingest batch keeps a
    kilobyte sketch; totals are sketch unions, never recounts).

    Here: per-priority HLL(custkey) and KLL(totalprice) partials from ONE
    pass over orders, then a grand-total row computed by merging those 5
    partials — the plan never touches orders twice (the second agg's
    input is 5 sketch rows). Estimates are engine-specific binaries →
    rows-only for the SQL gate; the error-bound differential vs the exact
    answers is in pytest."""
    o = read_table(spark, sf_dir, "orders")
    # n_prices guard (r15 boundary hunt): kll_sketch_agg_double over a
    # group whose prices are ALL NULL produces an EMPTY sketch buffer,
    # and kll_sketch_get_quantile_double RAISES on it
    # (KLL_INVALID_INPUT_SKETCH_BUFFER) — one all-NULL group killed the
    # whole job. The quantile is only asked of sketches that saw data;
    # a no-data group's p50 is NULL (and empty sketches stay out of the
    # ALL-row merge the same way).
    per = o.groupBy("o_orderpriority").agg(
        F.hll_sketch_agg("o_custkey").alias("hll"),
        F.kll_sketch_agg_double("o_totalprice").alias("kll"),
        F.count("o_totalprice").alias("n_prices"),
    )
    per = per.localCheckpoint()  # one scan of orders; totals merge from 5 rows
    detail = per.select(
        "o_orderpriority",
        F.hll_sketch_estimate("hll").alias("distinct_custs_est"),
        F.round(
            F.when(
                F.col("n_prices") > 0,
                F.kll_sketch_get_quantile_double("kll", F.lit(0.5)),
            ),
            2,
        ).alias("p50_price_est"),
    )
    # hll_union_agg is a native aggregate; KLL's merge is a BINARY scalar
    # (DataSketches API shape), so the 5 per-group partials fold through
    # an array aggregate — still never rescans orders
    merged_kll = F.aggregate(
        F.slice(F.col("ks"), 2, F.greatest(F.size("ks") - 1, F.lit(0))),
        F.element_at("ks", 1),
        lambda acc, x: F.kll_sketch_merge_double(acc, x),
    )
    total = (
        per.agg(
            F.hll_union_agg("hll").alias("hll"),
            # collect_list skips NULL: empty sketches never reach the merge
            F.collect_list(
                F.when(F.col("n_prices") > 0, F.col("kll"))
            ).alias("ks"),
        )
        .select(
            F.lit("ALL").alias("o_orderpriority"),
            F.hll_sketch_estimate("hll").alias("distinct_custs_est"),
            F.round(
                F.when(
                    F.size("ks") > 0,
                    F.kll_sketch_get_quantile_double(merged_kll, F.lit(0.5)),
                ),
                2,
            ).alias("p50_price_est"),
        )
    )
    return detail.unionByName(total)


# ---------------------------------------------------------------------------
# hash-checkable sketch claims (VERDICT r3 item #5)
# ---------------------------------------------------------------------------
#
# Sketch binaries/estimates are engine-specific, so the driver-gate form
# emits (group, exact_value, within_bounds BOOLEAN): the exact values are
# SQL-recomputable, and the oracle asserts them plus literal TRUE — a
# sketch drifting outside its error bound flips the boolean and fails the
# value hash. The raw-estimate twins above stay for pytest's numeric
# error-bound differentials and as the pure-sketch (single-scan) path.

SKETCH_CHECKED_ORACLE = """
SELECT o_orderpriority,
       CAST(count(DISTINCT o_custkey) AS BIGINT) AS exact_distinct_custs,
       TRUE AS hll_ok, TRUE AS p50_ok
FROM orders GROUP BY o_orderpriority
UNION ALL
SELECT 'ALL', CAST(count(DISTINCT o_custkey) AS BIGINT), TRUE, TRUE
FROM orders
"""

HLL_REL_TOL = 0.05  # lgK=12 keeps rsd ~1.6%; 5% is a 3-sigma-ish bound
KLL_RANK_TOL = 0.05  # merged KLL median must sit within rank 0.5 +/- 5%


def sketch_partial_merge_checked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(priority, exact_distinct_custs, hll_ok, p50_ok) — exact values the
    oracle recomputes, plus booleans holding the sketch estimates to
    their error bounds (HLL relative error; KLL median by EXACT rank of
    the estimate, the bound KLL actually guarantees)."""
    o = read_table(spark, sf_dir, "orders")
    est = sketch_partial_merge(spark, sf_dir)
    exact = o.groupBy("o_orderpriority").agg(
        F.countDistinct("o_custkey").alias("exact_distinct_custs")
    )
    exact_all = o.agg(
        F.countDistinct("o_custkey").alias("exact_distinct_custs")
    ).select(F.lit("ALL").alias("o_orderpriority"), "exact_distinct_custs")
    exact = exact.unionByName(exact_all)
    # exact rank of each group's KLL median estimate (ALL ranks against
    # the whole table): one broadcast of the 6 estimate rows
    keyed = est.select(
        F.col("o_orderpriority").alias("grp"),
        "distinct_custs_est",
        "p50_price_est",
    )
    o_tagged = o.select("o_orderpriority", "o_totalprice")
    # r15 boundary fixes (caught by the sixteenth/fifteenth fixtures):
    # (1) eqNullSafe — a REAL NULL priority group fell out of both the
    #     rank join and the exact-count join (NULL == NULL is NULL), so
    #     the Spark side LOST the group the oracle reports;
    # (2) rank denominator counts non-NULL prices only (the sketch never
    #     saw NULL inputs; count(*) biased the rank low);
    # (3) the point-rank check is WRONG under ties and tiny groups — the
    #     exact median of [0, 10, 50] has rank 2/3, and a 1-row group
    #     ranks its own median at 1.0, failing the ±tol band even though
    #     the estimate is EXACTLY right. The bound KLL actually
    #     guarantees is two-sided: rank(< est) <= 0.5+tol AND
    #     rank(<= est) >= 0.5-tol, i.e. the estimate's rank INTERVAL
    #     (which has positive width at every tie) intersects the band.
    #     Vacuously true when a group has no non-NULL prices at all.
    ranks = (
        o_tagged.join(
            F.broadcast(keyed.select("grp", "p50_price_est")),
            F.col("o_orderpriority").eqNullSafe(F.col("grp"))
            | (F.col("grp") == "ALL"),
        )
        .groupBy(F.col("grp").alias("_rgrp"))
        .agg(
            (
                F.sum((F.col("o_totalprice") < F.col("p50_price_est")).cast("long"))
                / F.count("o_totalprice")
            ).alias("rank_lt"),
            (
                F.sum((F.col("o_totalprice") <= F.col("p50_price_est")).cast("long"))
                / F.count("o_totalprice")
            ).alias("rank_le"),
        )
    )
    # LEFT ranks join (r16 tiny-table fuzz, finding 40 — the pre-stated
    # r17 fix, landed): on EMPTY orders the ranks frame is empty
    # (groupBy after joining the empty fact) and an INNER join dropped
    # the 'ALL' row the oracle keeps (0 distinct customers,
    # vacuously-true bounds). LEFT keeps the row; the p50_ok coalesce
    # below already treats its NULL ranks as vacuous.
    joined = keyed.join(
        exact, keyed["grp"].eqNullSafe(exact["o_orderpriority"])
    ).join(ranks, F.col("grp").eqNullSafe(F.col("_rgrp")), "left")
    return joined.select(
        F.col("grp").alias("o_orderpriority"),
        "exact_distinct_custs",
        (
            F.abs(F.col("distinct_custs_est") - F.col("exact_distinct_custs"))
            <= F.greatest(F.lit(2.0), HLL_REL_TOL * F.col("exact_distinct_custs"))
        ).alias("hll_ok"),
        F.coalesce(
            (F.col("rank_lt") <= 0.5 + KLL_RANK_TOL)
            & (F.col("rank_le") >= 0.5 - KLL_RANK_TOL),
            F.lit(True),
        ).alias("p50_ok"),
    )


APPROX_CHECKED_ORACLE = """
SELECT CAST(count(DISTINCT user_id) AS BIGINT) AS exact_users,
       CAST(count(DISTINCT event_type) AS BIGINT) AS exact_types,
       TRUE AS users_ok, TRUE AS types_ok, TRUE AS median_ok
FROM events
"""


def approx_aggregates_checked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(exact_users, exact_types, users_ok, types_ok, median_ok) — the
    HLL++/t-digest estimates held to their bounds: distinct counts by
    relative error (3x rsd), the approx median by the EXACT rank of the
    estimate (percentile_approx guarantees rank accuracy 1/N_buckets)."""
    ev = read_table(spark, sf_dir, "events")
    est = approx_aggregates(spark, sf_dir)
    exact = ev.agg(
        F.countDistinct("user_id").alias("exact_users"),
        F.countDistinct("event_type").alias("exact_types"),
        F.count("*").alias("n"),
    )
    both = est.crossJoin(F.broadcast(exact))
    # r15 boundary fixes (sixteenth fixture): the rank denominator is
    # count(value), NOT count(*) — percentile_approx ignores NULL values
    # and so does the numerator's NULL comparison, so counting NULL rows
    # biased the rank low. And the point-rank check is wrong under TIES:
    # when a mass of duplicates sits at the median (rank(<= est) jumps
    # from 0.42 to 0.67 across one value), no estimate can land inside a
    # ±0.02 band. The guarantee percentile_approx actually makes is
    # two-sided: the estimate's rank INTERVAL [rank(< est), rank(<= est)]
    # intersects 0.5 ± tol. Vacuously true when no non-NULL values exist.
    med_rank = (
        ev.select("value")
        .crossJoin(F.broadcast(est.select("approx_median_value")))
        .agg(
            (
                F.sum((F.col("value") < F.col("approx_median_value")).cast("long"))
                / F.count("value")
            ).alias("rank_lt"),
            (
                F.sum((F.col("value") <= F.col("approx_median_value")).cast("long"))
                / F.count("value")
            ).alias("rank_le"),
        )
    )
    return both.crossJoin(F.broadcast(med_rank)).select(
        "exact_users",
        "exact_types",
        (
            F.abs(F.col("approx_users") - F.col("exact_users"))
            <= F.greatest(F.lit(3.0), 0.06 * F.col("exact_users"))
        ).alias("users_ok"),
        (F.col("approx_types") == F.col("exact_types")).alias("types_ok"),
        F.coalesce(
            (F.col("rank_lt") <= 0.5 + 0.02) & (F.col("rank_le") >= 0.5 - 0.02),
            F.lit(True),
        ).alias("median_ok"),
    )


# ---------------------------------------------------------------------------
# count-min sketch (Cormode & Muthukrishnan 2005) — portable integer hashes,
# so unlike the HLL/KLL entries the ESTIMATES themselves are recomputed by
# the oracle and hash-checked, not just held to an error bound.
# ---------------------------------------------------------------------------

CM_D = 4  # hash rows
CM_W = 512  # buckets per row
CM_P = 1_000_003  # prime modulus; A*(u%P) <= ~1e12, exact in int64
CM_A = (513_227, 914_737, 335_887, 747_091)
CM_B = (700_001, 122_333, 456_569, 989_999)
CM_TOPK = 10


def _cm_hash_sql(j: int, key: str) -> str:
    return f"((({CM_A[j]} * ({key} % {CM_P}) + {CM_B[j]}) % {CM_P}) % {CM_W})"


COUNT_MIN_ORACLE = f"""
WITH cells AS (
    {" UNION ALL ".join(
        f"SELECT {j} AS r, {_cm_hash_sql(j, 'user_id')} AS h, "
        "CAST(COUNT(*) AS BIGINT) AS c FROM events "
        "WHERE user_id IS NOT NULL GROUP BY 1, 2"
        for j in range(CM_D)
    )}
),
exact AS (
    SELECT user_id, CAST(COUNT(*) AS BIGINT) AS exact_cnt
    FROM events WHERE user_id IS NOT NULL GROUP BY user_id
    ORDER BY exact_cnt DESC, user_id LIMIT {CM_TOPK}
),
probes AS (
    SELECT e.user_id, e.exact_cnt, c.c
    FROM exact e
    JOIN cells c
      ON (c.r = 0 AND c.h = {_cm_hash_sql(0, 'e.user_id')})
      OR (c.r = 1 AND c.h = {_cm_hash_sql(1, 'e.user_id')})
      OR (c.r = 2 AND c.h = {_cm_hash_sql(2, 'e.user_id')})
      OR (c.r = 3 AND c.h = {_cm_hash_sql(3, 'e.user_id')})
)
SELECT user_id, exact_cnt,
       MIN(c) AS cm_est,
       MIN(c) - exact_cnt AS overcount
FROM probes GROUP BY user_id, exact_cnt
"""


def sketch_count_min(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch over per-user event counts, verified against the
    exact top-CM_TOPK (10) heavy hitters: the D x W cell matrix is built in
    one pass (explode to D (row, bucket) keys per event, hash-agg), the
    exact top-k one groupBy + TakeOrdered, and each heavy hitter's
    estimate is min over its D cells — always >= the exact count (CMS
    never undercounts), with the overcount emitted.

    The affine hashes are plain int64 arithmetic mod a small prime, so
    DuckDB recomputes EVERY cell and estimate verbatim — a full
    hash-check of sketch contents, stronger than the bounds-boolean
    contract the engine-binary sketches (HLL/KLL) allow.

    Scale design: the sketch exchange is AT MOST D x W = 4x512
    cells per map partition after partial agg (fixed size regardless of
    input rows — the whole point of CMS); the probe side broadcasts
    the 10 heavy-hitter user keys against the cell table. One full-data exchange
    total (the exact top-k groupBy, which the verification needs, not
    the sketch)."""
    # user_id IS NOT NULL (r15, found by tools/fuzz_differential.py): a
    # NULL key cannot be sketched (NULL % P hashes to NULL, matching no
    # cell), but it COULD occupy a top-k slot in the exact ranking and
    # then silently vanish at the probe join — the report lost a real
    # heavy hitter's slot to a phantom. And the top-k tiebreak ordered
    # NULL FIRST on the Spark side, LAST in DuckDB, so the two engines
    # even disagreed on WHICH row vanished. The sketch counts keys;
    # NULL is not a key — excluded from cells and ranking on both sides.
    ev = read_table(spark, sf_dir, "events").select("user_id").filter(
        F.col("user_id").isNotNull()
    )
    u = F.col("user_id") % CM_P
    cells = (
        ev.select(
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(j).alias("r"),
                            ((CM_A[j] * u + CM_B[j]) % CM_P % CM_W).alias("h"),
                        )
                        for j in range(CM_D)
                    ]
                )
            ).alias("rh")
        )
        .groupBy("rh.r", "rh.h")
        .agg(F.count("*").alias("c"))
    )
    exact = (
        ev.groupBy("user_id")
        .agg(F.count("*").alias("exact_cnt"))
        .orderBy(F.desc("exact_cnt"), F.col("user_id"))
        .limit(CM_TOPK)
    )
    eu = F.col("user_id") % CM_P
    probes = exact.select(
        "user_id",
        "exact_cnt",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(j).alias("pr"),
                        ((CM_A[j] * eu + CM_B[j]) % CM_P % CM_W).alias("ph"),
                    )
                    for j in range(CM_D)
                ]
            )
        ).alias("p"),
    ).select("user_id", "exact_cnt", "p.pr", "p.ph")
    return (
        probes.join(
            cells, (F.col("pr") == F.col("r")) & (F.col("ph") == F.col("h"))
        )
        .groupBy("user_id", "exact_cnt")
        .agg(F.min("c").alias("cm_est"))
        .select(
            "user_id",
            "exact_cnt",
            "cm_est",
            (F.col("cm_est") - F.col("exact_cnt")).alias("overcount"),
        )
    )


CATALOG["sketch_count_min"] = (sketch_count_min, COUNT_MIN_ORACLE)
CATALOG["approx_aggregates"] = (approx_aggregates_checked, APPROX_CHECKED_ORACLE)
CATALOG["exact_distinct_bounds"] = (exact_distinct_bounds, APPROX_EXACT_BOUNDS_ORACLE)
CATALOG["map_functions"] = (map_functions, MAP_FUNCTIONS_ORACLE)
CATALOG["sketch_partial_merge"] = (sketch_partial_merge_checked, SKETCH_CHECKED_ORACLE)


# ---------------------------------------------------------------------------
# upsert / merge via FULL OUTER join (the warehouse MERGE pattern, no Delta)
# ---------------------------------------------------------------------------

# update arithmetic is EXACT in binary (floor + 0.25) — a multiply like
# *1.1 lands on half-cent doubles where the engines' ROUND disagree
UPSERT_ORACLE = """
WITH updates AS (
    SELECT o_orderkey, FLOOR(o_totalprice) + 0.25 AS new_price
    FROM orders WHERE o_orderkey % 3 = 0
    UNION ALL
    SELECT o_orderkey + 10000000, 42.0 FROM orders WHERE o_orderkey % 97 = 0
)
SELECT COALESCE(b.o_orderkey, u.o_orderkey) AS o_orderkey,
       COALESCE(u.new_price, b.o_totalprice) AS o_totalprice,
       CASE WHEN b.o_orderkey IS NULL THEN 'insert'
            WHEN u.o_orderkey IS NULL THEN 'unchanged'
            ELSE 'update' END AS change_type
FROM orders b FULL OUTER JOIN updates u ON b.o_orderkey = u.o_orderkey
"""


def upsert_full_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE/upsert expressed as FULL OUTER join + coalesce — the pattern
    for incremental table maintenance without a transactional format.
    One shuffle pair on the key; at scale the base side would be bucketed
    on the key so repeated merges never re-shuffle it (see
    tests/test_plans.py::test_bucketed_join_no_shuffle)."""
    o = read_table(spark, sf_dir, "orders")
    updates = (
        o.filter(F.col("o_orderkey") % 3 == 0)
        .select("o_orderkey", (F.floor("o_totalprice") + 0.25).alias("new_price"))
        .unionByName(
            o.filter(F.col("o_orderkey") % 97 == 0).select(
                (F.col("o_orderkey") + 10_000_000).alias("o_orderkey"),
                F.lit(42.0).alias("new_price"),
            )
        )
    )
    b = o.select(F.col("o_orderkey").alias("_bk"), "o_totalprice")
    u = updates.select(F.col("o_orderkey").alias("_uk"), "new_price")
    return b.join(u, F.col("_bk") == F.col("_uk"), "full_outer").select(
        F.coalesce("_bk", "_uk").alias("o_orderkey"),
        F.coalesce("new_price", "o_totalprice").alias("o_totalprice"),
        F.when(F.col("_bk").isNull(), "insert")
        .when(F.col("_uk").isNull(), "unchanged")
        .otherwise("update")
        .alias("change_type"),
    )


# ---------------------------------------------------------------------------
# forward fill (gap filling) via IGNORE NULLS window
# ---------------------------------------------------------------------------

# WHERE ts IS NOT NULL (r15, fuzz): same timeline convention as
# window_family -- a NULL-ts event has no position to fill from/to, and
# the engines disagree on where the sort would put it.
FILL_FORWARD_ORACLE = """
SELECT event_id, user_id, value,
       last_value(value IGNORE NULLS) OVER (
           PARTITION BY user_id ORDER BY ts, event_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS value_ffill
FROM events
WHERE ts IS NOT NULL
"""


def window_fill_forward(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forward-fill nulls with the last non-null value per user (IGNORE
    NULLS running last_value) — the standard time-series gap-filling op,
    one shuffle shared with any other user_id-partitioned window.
    NULL-ts events are excluded (r15): see FILL_FORWARD_ORACLE."""
    ev = read_table(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return ev.select(
        "event_id",
        "user_id",
        "value",
        F.last("value", ignorenulls=True).over(w).alias("value_ffill"),
    )


CATALOG["upsert_full_outer"] = (upsert_full_outer, UPSERT_ORACLE)
CATALOG["window_fill_forward"] = (window_fill_forward, FILL_FORWARD_ORACLE)


# ---------------------------------------------------------------------------
# SCD2 history building (change detection → validity intervals)
# ---------------------------------------------------------------------------

# WHERE ts IS NOT NULL (r15, fuzz): validity intervals are DEFINED by
# event time; a NULL-ts change event has none, and the engines place it
# at opposite ends of the version sort.
SCD2_ORACLE = """
WITH marked AS (
    SELECT user_id, event_type, ts, event_id,
           CASE WHEN lag(event_type) OVER w IS DISTINCT FROM event_type
                THEN 1 ELSE 0 END AS changed
    FROM events WHERE ts IS NOT NULL
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
numbered AS (
    SELECT user_id, event_type, ts,
           SUM(changed) OVER (PARTITION BY user_id ORDER BY ts, event_id
                              ROWS UNBOUNDED PRECEDING) AS version
    FROM marked
),
intervals AS (
    SELECT user_id, event_type, CAST(version AS BIGINT) AS version,
           CAST(MIN(ts) AS TIMESTAMP) AS valid_from,
           CAST(COUNT(*) AS BIGINT) AS n_events
    FROM numbered GROUP BY user_id, event_type, version
)
SELECT user_id, event_type, version, valid_from, n_events,
       CAST(lead(valid_from) OVER (PARTITION BY user_id ORDER BY version)
            AS TIMESTAMP) AS valid_to
FROM intervals
"""


def scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slowly-changing-dimension type-2 history: collapse each user's
    event_type stream into validity intervals (valid_from / valid_to /
    version), NULL valid_to marking the open current version.

    lag → change flag → running-sum version → per-version MIN/COUNT →
    lead for the closing timestamp. All four window/agg passes share the
    ONE user_id shuffle (same partitioning key throughout). NULL-ts
    events are excluded (r15): see SCD2_ORACLE."""
    ev = read_table(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    changed = F.when(
        ~F.lag("event_type").over(w).eqNullSafe(F.col("event_type")), 1
    ).otherwise(0)
    numbered = ev.withColumn(
        "version",
        F.sum(changed).over(w.rowsBetween(Window.unboundedPreceding, 0)).cast("long"),
    )
    intervals = numbered.groupBy("user_id", "event_type", "version").agg(
        F.min("ts").alias("valid_from"), F.count("*").alias("n_events")
    )
    w2 = Window.partitionBy("user_id").orderBy("version")
    return intervals.select(
        "user_id",
        "event_type",
        "version",
        "valid_from",
        "n_events",
        F.lead("valid_from").over(w2).alias("valid_to"),
    )


# ---------------------------------------------------------------------------
# gaps and islands (consecutive-run detection)
# ---------------------------------------------------------------------------

ISLANDS_ORACLE = """
WITH d AS (
    SELECT DISTINCT o_custkey, CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS m
    FROM orders
),
r AS (
    SELECT o_custkey, m,
           CAST(row_number() OVER (PARTITION BY o_custkey ORDER BY m) AS BIGINT) AS rn
    FROM d
),
g AS (
    SELECT o_custkey, m,
           m - to_months(CAST(rn AS INTEGER)) AS grp
    FROM r
)
SELECT o_custkey,
       CAST(MIN(m) AS TIMESTAMP) AS island_start,
       CAST(MAX(m) AS TIMESTAMP) AS island_end,
       CAST(COUNT(*) AS BIGINT) AS months_active
FROM g GROUP BY o_custkey, grp
"""


def islands_active_months(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaps-and-islands: maximal runs of consecutive active months per
    customer via the row_number-difference trick (month - rn months is
    constant within a run). distinct → window → hash-agg, all on the one
    o_custkey shuffle."""
    o = read_table(spark, sf_dir, "orders")
    d = o.select(
        "o_custkey", F.date_trunc("month", "o_orderdate").alias("m")
    ).distinct()
    w = Window.partitionBy("o_custkey").orderBy("m")
    g = d.withColumn("rn", F.row_number().over(w)).withColumn(
        "grp", F.add_months(F.col("m"), -F.col("rn"))
    )
    return g.groupBy("o_custkey", "grp").agg(
        F.min("m").alias("island_start"),
        F.max("m").alias("island_end"),
        F.count("*").alias("months_active"),
    ).drop("grp")


# ---------------------------------------------------------------------------
# explicit join-strategy hints (planner control; result identical)
# ---------------------------------------------------------------------------

JOIN_HINTS_ORACLE = """
SELECT o.o_orderpriority,
       CAST(count(*) AS BIGINT) AS n_items,
       ROUND(SUM(l.l_extendedprice), 2) AS total_price
FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
GROUP BY o.o_orderpriority
"""


def join_hints_shuffle_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The same fact-fact join with an explicit SHUFFLE_HASH hint: skips
    the sort phases of sort-merge when one side's per-partition share
    fits in memory — the planner-control knob for when the optimizer's
    default is wrong at a known data shape. Result is hint-invariant
    (the oracle is the plain join)."""
    li = read_table(spark, sf_dir, "lineitem")
    o = read_table(spark, sf_dir, "orders").hint("shuffle_hash")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("o_orderpriority")
        .agg(
            F.count("*").alias("n_items"),
            F.round(F.sum("l_extendedprice"), 2).alias("total_price"),
        )
    )


CATALOG["scd2_history"] = (scd2_history, SCD2_ORACLE)
CATALOG["islands_active_months"] = (islands_active_months, ISLANDS_ORACLE)
CATALOG["join_hints_shuffle_hash"] = (join_hints_shuffle_hash, JOIN_HINTS_ORACLE)


# ---------------------------------------------------------------------------
# statistical aggregates (corr / covar / stddev — sample semantics)
# ---------------------------------------------------------------------------

STATS_CORR_ORACLE = """
SELECT o_orderpriority,
       -- + 0.0 canonicalizes NEGATIVE ZERO on the two sign-crossing
       -- outputs (r16, the standardize-oracle class): a tiny negative
       -- correlation/covariance rounds to -0.0 under DuckDB's
       -- sign-preserving ROUND while Spark's BigDecimal round yields
       -- +0.0; stddev/variance are non-negative by construction
       ROUND(corr(o_totalprice, CAST(o_custkey AS DOUBLE)), 6) + 0.0 AS corr_price_cust,
       -- relative-epsilon zero clamp (r18, found by the negatives
       -- corner gate): at operand magnitude ~2^60 a TRUE-zero
       -- covariance comes back as catastrophic-cancellation noise of
       -- arbitrary SIGN (~1e-17 relative; Spark +16.0, DuckDB -16.0 on
       -- the corner tables) that ROUND(,4) cannot canonicalize.
       -- |cov| <= 1e-9 * sd_x * sd_y is |corr| <= 1e-9 — statistically
       -- zero under the same 6-decimal convention corr itself rounds
       -- to — so both engines clamp it to exact 0.0; real covariances
       -- sit many orders above the bound
       CASE WHEN abs(covar_samp(o_totalprice, CAST(o_custkey AS DOUBLE)))
                 <= 1e-9 * stddev_samp(o_totalprice)
                         * stddev_samp(CAST(o_custkey AS DOUBLE))
            THEN 0.0
            ELSE ROUND(covar_samp(o_totalprice, CAST(o_custkey AS DOUBLE)), 4) + 0.0
       END AS covar_pc,
       ROUND(stddev_samp(o_totalprice), 4) AS sd_price,
       ROUND(var_samp(o_totalprice), 4) AS var_price
FROM orders GROUP BY o_orderpriority
"""


def stats_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical aggregate family (Pearson corr, sample covariance /
    stddev / variance) — single hash-agg with map-side partials; both
    engines use sample (n-1) semantics for the _samp forms."""
    o = read_table(spark, sf_dir, "orders")
    ck = F.col("o_custkey").cast("double")
    cov = F.covar_samp("o_totalprice", ck)
    # relative-epsilon zero clamp, mirrored in the oracle (r18 negatives
    # corner): cancellation noise around a true-zero covariance carries
    # an engine-dependent sign at extreme operand magnitude
    sd_prod = F.stddev_samp("o_totalprice") * F.stddev_samp(ck)
    return o.groupBy("o_orderpriority").agg(
        F.round(F.corr("o_totalprice", ck), 6).alias("corr_price_cust"),
        F.when(F.abs(cov) <= 1e-9 * sd_prod, F.lit(0.0))
        .otherwise(F.round(cov, 4))
        .alias("covar_pc"),
        F.round(F.stddev_samp("o_totalprice"), 4).alias("sd_price"),
        F.round(F.var_samp("o_totalprice"), 4).alias("var_price"),
    )


# ---------------------------------------------------------------------------
# embedding standardization (per-dimension z-score, relational form)
# ---------------------------------------------------------------------------

STANDARDIZE_ORACLE = """
WITH u AS (
    SELECT vec_id, i - 1 AS dim, e[i] AS x
    FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
          WHERE embedding IS NOT NULL) v,
         LATERAL (SELECT unnest(generate_series(1, len(e))) AS i) g
),
m AS (
    SELECT dim, AVG(x) AS mu, stddev_samp(x) AS sd FROM u GROUP BY dim
)
SELECT u.vec_id, CAST(u.dim AS BIGINT) AS dim,
       -- + 0.0 canonicalizes NEGATIVE ZERO (r15, found by
       -- tools/fuzz_differential.py): a tiny negative (x - mu) rounds
       -- to -0.0 under DuckDB's sign-preserving ROUND, while Spark's
       -- BigDecimal-based round has no signed zero and yields +0.0 --
       -- same value, different rendering, hash mismatch. IEEE
       -- -0.0 + 0.0 = +0.0; every other value is unchanged.
       ROUND((u.x - m.mu) / m.sd, 6) + 0.0 AS z
FROM u JOIN m ON u.dim = m.dim
WHERE u.vec_id < 50
"""


def embeddings_standardize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension z-score standardization of the embedding corpus —
    the feature-scaling prep step before distance-based ML. posexplode →
    per-dim moments (64-row broadcast model) → normalized values in
    relational (vec, dim, z) form. Output limited to vec_id < 50 to keep
    the gate result small; the moments aggregate over ALL vectors."""
    v = read_vectors(spark, sf_dir).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("e")
    )
    u = v.select("vec_id", F.posexplode("e").alias("dim", "x"))
    m = u.groupBy("dim").agg(
        F.avg("x").alias("mu"), F.stddev_samp("x").alias("sd")
    )
    return (
        u.filter(F.col("vec_id") < 50)
        .join(F.broadcast(m), "dim")
        .select(
            "vec_id",
            F.col("dim").cast("long").alias("dim"),
            F.round((F.col("x") - F.col("mu")) / F.col("sd"), 6).alias("z"),
        )
    )


CATALOG["stats_corr"] = (stats_corr, STATS_CORR_ORACLE)
CATALOG["embeddings_standardize"] = (embeddings_standardize, STANDARDIZE_ORACLE)


# ---------------------------------------------------------------------------
# declarative data-quality checks (expectation rules → violation counts)
# ---------------------------------------------------------------------------

DQ_ORACLE = """
SELECT 'value_non_negative' AS rule,
       CAST(count(*) FILTER (WHERE value < 0) AS BIGINT) AS n_violations,
       CAST(count(*) AS BIGINT) AS n_checked
FROM events
UNION ALL
SELECT 'event_type_in_domain',
       CAST(count(*) FILTER (WHERE event_type NOT IN
            ('click','error','purchase','signup','view')) AS BIGINT),
       CAST(count(*) AS BIGINT)
FROM events
UNION ALL
SELECT 'ts_in_range',
       CAST(count(*) FILTER (WHERE ts < TIMESTAMP '2023-01-01'
                                OR ts >= TIMESTAMP '2026-01-01') AS BIGINT),
       CAST(count(*) AS BIGINT)
FROM events
UNION ALL
SELECT 'props_valid_json',
       CAST(count(*) FILTER (WHERE props IS NOT NULL
                               AND TRY_CAST(props AS JSON) IS NULL) AS BIGINT),
       CAST(count(*) AS BIGINT)
FROM events
"""


def dq_violations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative data-quality rules evaluated in ONE scan: each rule is
    a predicate counted via conditional aggregation, rows unpivoted to a
    (rule, n_violations, n_checked) report — the expectations pattern
    without a second pass per rule (one job, not len(rules) jobs)."""
    ev = read_table(spark, sf_dir, "events")
    rules = {
        "value_non_negative": F.col("value") < 0,
        "event_type_in_domain": ~F.col("event_type").isin(
            "click", "error", "purchase", "signup", "view"
        ),
        "ts_in_range": (F.col("ts") < F.lit("2023-01-01").cast("timestamp"))
        | (F.col("ts") >= F.lit("2026-01-01").cast("timestamp")),
        "props_valid_json": F.col("props").isNotNull()
        & F.get_json_object("props", "$").isNull(),
    }
    agg = ev.agg(
        F.count("*").alias("n_checked"),
        *[
            F.count(F.when(pred, 1)).alias(f"v_{name}")
            for name, pred in rules.items()
        ],
    )
    stacked = agg.select(
        F.expr(
            "stack({n}, {args}) as (rule, n_violations)".format(
                n=len(rules),
                args=", ".join(f"'{name}', v_{name}" for name in rules),
            )
        ),
        "n_checked",
    )
    return stacked.select("rule", "n_violations", "n_checked")


CATALOG["dq_violations"] = (dq_violations, DQ_ORACLE)
