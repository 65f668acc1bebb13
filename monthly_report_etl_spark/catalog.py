"""Query catalog: every operator class from SURVEY.md §2, as (Spark, oracle) pairs.

This is the engine's public query inventory and the driver's correctness
gate (``__spark_entry__.py`` re-exports it). Each entry is one operator
family from the reference, re-expressed over the driver-generated testdata
tables (TESTDATA.md) so the DuckDB oracle can verify it hash-exactly:

* the Spark callable ``(spark, sf_dir) -> DataFrame`` is the engine's
  idiomatic plan;
* ``oracle`` is equivalent ANSI SQL DuckDB runs on the same parquet.

Cross-engine determinism rules applied throughout (so value-hash compare
is exact):

* double aggregates are ``round(x, 2)`` on BOTH sides (summation order
  differs between engines);
* collected lists are sorted then joined to one string;
* every ranking/top-k has a total tiebreak;
* DuckDB ``date_trunc('month', ts)`` yields DATE — oracle casts to
  TIMESTAMP to match Spark;
* ranks/counts cast to BIGINT on both sides.

The flagship ``exports_report_events`` mirrors the reference pipeline's
shape end-to-end (filter → max_by dedup → failure classify → global
denominators → label CASE → sort; exports_results.sql:14-205) on the
``events`` table, which TESTDATA.md designates as the exports_deals
stand-in.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from monthly_report_etl_spark.operators import analytics as _analytics
from monthly_report_etl_spark.operators import corpus as _corpus
from monthly_report_etl_spark.operators import dedup as _dedup
from monthly_report_etl_spark.operators import multimodal as _multimodal
from monthly_report_etl_spark.operators import olap as _olap
from monthly_report_etl_spark.operators import relational as _relational
from monthly_report_etl_spark.operators import similarity as _similarity
from monthly_report_etl_spark.operators import text as _text
from monthly_report_etl_spark.sources.parquet import read_table
from monthly_report_etl_spark.streaming import events_stream as _streaming

QueryFn = Callable[[SparkSession, str], DataFrame]

QUERIES: dict[str, QueryFn] = {}
ORACLES: dict[str, str] = {}


def _engine_semantics(fn: QueryFn) -> QueryFn:
    """Pin the SQL semantics every catalog query assumes, regardless of the
    caller's session defaults (the driver harness runs these in ITS OWN
    vanilla SparkSession):

    * ``ansi.enabled=false`` — coercing casts null-fill like
      ``pd.to_numeric(errors='coerce')`` (run_exports_query.py:69-71) and
      sketch hash arithmetic wraps on overflow (Spark 4 defaults ANSI on,
      which would throw ARITHMETIC_OVERFLOW inside MinHash permutations);
    * session timezone UTC — oracle comparison requires UTC timestamps.
    """

    def wrapped(spark: SparkSession, sf_dir: str) -> DataFrame:
        spark.conf.set("spark.sql.ansi.enabled", "false")
        spark.conf.set("spark.sql.session.timeZone", "UTC")
        return fn(spark, sf_dir)

    wrapped.__name__ = getattr(fn, "__name__", "query")
    wrapped.__doc__ = fn.__doc__
    return wrapped


def _register(name: str, oracle: str):
    def deco(fn: QueryFn) -> QueryFn:
        QUERIES[name] = _engine_semantics(fn)
        ORACLES[name] = oracle
        return fn

    return deco


# ---------------------------------------------------------------------------
# Flagship: the exports pipeline's shape on the events stand-in
# (P2/P3 filters, A2/A3 max_by dedup, F4 failure rules, W1-W3 global
# denominators, F5 classifier, O1 sort — SURVEY §3.1)
# ---------------------------------------------------------------------------

_FLAGSHIP_ORACLE = r"""
WITH raw AS (
    SELECT event_id, ts, user_id, event_type, value,
           regexp_replace(
               json_extract_string(
                   CASE WHEN json_valid(props) THEN props END, 'k'),
               '^[\x00-\x20\x7f]+|[\x00-\x20\x7f]+$', '', 'g') AS kst
    FROM events
    WHERE ts >= TIMESTAMP '2024-01-05' AND ts < TIMESTAMP '2024-01-25'
),
-- k_value mirrors Spark's lenient get_json_object + non-ANSI string->long
-- cast exactly, same formula as the json_extract_props oracle (r15: the
-- flagship carried an unguarded CAST(json_extract_string(...)) copy that
-- RAISES on malformed props / non-numeric k and ROUNDS >=.5 fractions
-- where Spark truncates -- invisible on the sf tables, divergent at the
-- boundary). r16 (ADVICE): the strip set is [\x00-\x20\x7f] — Spark's
-- cast trimAll strips ALL ASCII controls + space + DEL (measured:
-- '\x0111\x01' -> 11, '\x1c10\x1c' -> 10, '\x7f14\x7f' -> 14) and
-- NOTHING above 0x7f (NBSP/ /C1 controls all -> NULL in both
-- engines) — the old trim(E' \t\n\r\x0B\x0C') missed the other controls.
base AS (
    SELECT event_id, ts, user_id, event_type, value,
           CASE WHEN regexp_matches(kst, '^[+-]?\.[0-9]*$') THEN 0
                WHEN regexp_matches(kst, '^[+-]?[0-9]+\.?[0-9]*$')
                THEN TRY_CAST(regexp_extract(kst,
                                             '^[+-]?[0-9]+', 0) AS BIGINT)
           END AS k_value
    FROM raw
),
-- tie convention (r16 finding 42, same as dedup_latest_maxby): 'latest'
-- is totalized as (ts, event_id) — MAX_BY under exact duplicate
-- timestamps is engine-arbitrary, so among tied max timestamps the
-- highest event_id wins; FIRST(... ORDER BY) because DuckDB's MAX_BY
-- takes no composite key. FILTER keeps the value-null-skip semantics.
dedup AS (
    SELECT user_id,
           MAX(ts) AS time,
           FIRST(event_type ORDER BY ts DESC, event_id DESC)
               FILTER (event_type IS NOT NULL) AS event_type,
           FIRST(value ORDER BY ts DESC, event_id DESC)
               FILTER (value IS NOT NULL) AS value,
           FIRST(k_value ORDER BY ts DESC, event_id DESC)
               FILTER (k_value IS NOT NULL) AS k_value
    FROM base GROUP BY user_id
),
flagged AS (
    SELECT *,
           CASE WHEN event_type = 'error' THEN true
                WHEN k_value IS NULL OR value < 10 THEN true
                ELSE false END AS failing
    FROM dedup
),
passing AS (SELECT * FROM flagged WHERE failing = false),
with_globals AS (
    SELECT *,
           COUNT(DISTINCT user_id) OVER () AS count_all_unique_user_id,
           COUNT(DISTINCT user_id) OVER (PARTITION BY event_type) AS count_all_event_type,
           SUM(value) OVER () AS sum_all_value_raw
    FROM passing
)
SELECT user_id, time, event_type, value, k_value,
       CAST(count_all_unique_user_id AS BIGINT) AS count_all_unique_user_id,
       CAST(count_all_event_type AS BIGINT) AS count_all_event_type,
       ROUND(sum_all_value_raw, 2) AS sum_all_value,
       CASE WHEN k_value > 80 THEN 'Export Winner Deals'
            WHEN k_value > 50 THEN 'Secondary Export Deals'
            WHEN event_type = 'purchase' THEN 'Deals Not Exported'
            WHEN k_value > 20 THEN 'Failed In Scope Deals'
            WHEN k_value > 5 THEN 'Failed Out of Scope Deals'
            WHEN value > 500 THEN 'Not Available Scenarios'
            ELSE 'Unknown' END AS performance
FROM with_globals
ORDER BY user_id
"""


@_register("exports_report_events", _FLAGSHIP_ORACLE)
def exports_report_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference pipeline's 7-step shape on ``events``.

    Same scale layout as operators/exports.py: predicate pushed to the
    scan, ONE shuffle for the dedup hash-agg, global denominators via
    tiny aggregate + broadcast join-back (never a one-partition window),
    classifier inside codegen, range-partitioned final sort.
    """
    ev = read_table(spark, sf_dir, "events")
    base = ev.filter(
        (F.col("ts") >= F.lit("2024-01-05").cast("timestamp"))
        & (F.col("ts") < F.lit("2024-01-25").cast("timestamp"))
    ).select(
        "user_id",
        "ts",
        "event_id",
        "event_type",
        "value",
        F.get_json_object("props", "$.k").cast("long").alias("k_value"),
    )
    # DuckDB MAX_BY skips NULL values (aggregate NULL-input convention),
    # so every max_by guards its ordering key: "latest NON-NULL value per
    # column". r15 boundary fix: only k_value was guarded before, so a
    # user whose LATEST event had a NULL event_type/value deduped to
    # (NULL, NULL) on the Spark side but to the latest non-null pair in
    # the oracle — and the NULL value then slipped past the `value < 10`
    # failure rule that the real latest-known value would have tripped.
    # Invisible on the sf tables (no NULL event_type/value rows).
    # r16 finding 42 (ts-collision probe): the ordering key is the
    # STRUCT (ts, event_id) — 'latest' totalized so exact duplicate
    # timestamps break deterministically to the highest event_id in
    # both engines (ts is never NULL here: the range filter dropped
    # NULLs at the scan). Same convention as dedup_latest_maxby.
    latest = lambda c: F.max_by(
        c, F.when(F.col(c).isNotNull(), F.struct("ts", "event_id"))
    ).alias(c)
    dedup = base.groupBy("user_id").agg(
        F.max("ts").alias("time"),
        latest("event_type"),
        latest("value"),
        latest("k_value"),
    )
    passing = dedup.filter(
        ~(
            F.when(F.col("event_type") == "error", F.lit(True))
            .when(F.col("k_value").isNull() | (F.col("value") < 10), F.lit(True))
            .otherwise(F.lit(False))
        )
    )
    # one aggregation pass: global denominators derived from the per-type
    # aggregate (valid post-dedup: one row per user), avoiding a second
    # re-execution of the whole upstream dedup branch
    per_type = passing.groupBy(F.col("event_type").alias("_et")).agg(
        F.countDistinct("user_id").alias("count_all_event_type"),
        F.sum("value").alias("_sum_et"),
    )
    totals = per_type.agg(
        F.sum("count_all_event_type").alias("count_all_unique_user_id"),
        F.round(F.sum("_sum_et"), 2).alias("sum_all_value"),
    )
    per_type = per_type.drop("_sum_et")
    k = F.col("k_value")
    label = (
        F.when(k > 80, "Export Winner Deals")
        .when(k > 50, "Secondary Export Deals")
        .when(F.col("event_type") == "purchase", "Deals Not Exported")
        .when(k > 20, "Failed In Scope Deals")
        .when(k > 5, "Failed Out of Scope Deals")
        .when(F.col("value") > 500, "Not Available Scenarios")
        .otherwise("Unknown")
    )
    return (
        passing.crossJoin(F.broadcast(totals))
        # eqNullSafe: a NULL event_type group must still find its own
        # denominator row (COUNT(DISTINCT) OVER (PARTITION BY) counts the
        # NULL group; plain == would null it out)
        .join(F.broadcast(per_type), F.col("event_type").eqNullSafe(F.col("_et")), "left")
        .drop("_et")
        .withColumn("performance", label)
        .select(
            "user_id",
            "time",
            "event_type",
            "value",
            "k_value",
            "count_all_unique_user_id",
            "count_all_event_type",
            "sum_all_value",
            "performance",
        )
        # per-partition order (O1 shape) — a global orderBy would add a
        # range-sampling pass that re-executes the whole upstream plan
        .repartition("user_id")
        .sortWithinPartitions("user_id")
    )


# ---------------------------------------------------------------------------
# §2.2 projections / filters / predicates
# ---------------------------------------------------------------------------


@_register(
    "filter_project_window",
    """
    SELECT event_id, user_id, event_type, value
    FROM events
    WHERE ts >= TIMESTAMP '2024-01-10' AND ts < TIMESTAMP '2024-01-20'
      AND event_type <> 'error' AND value IS NOT NULL
    """,
)
def filter_project_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P1-P3/P6: projection + boolean/timestamp-range/NOT NULL predicates,
    all pushed into the parquet scan."""
    return (
        read_table(spark, sf_dir, "events")
        .filter(
            (F.col("ts") >= F.lit("2024-01-10").cast("timestamp"))
            & (F.col("ts") < F.lit("2024-01-20").cast("timestamp"))
            & (F.col("event_type") != "error")
            & F.col("value").isNotNull()
        )
        .select("event_id", "user_id", "event_type", "value")
    )


@_register(
    "month_membership_filter",
    """
    SELECT o_orderkey, o_custkey, o_totalprice
    FROM orders
    WHERE CAST(date_trunc('month', o_orderdate) AS TIMESTAMP)
          IN (TIMESTAMP '2000-04-01', TIMESTAMP '2000-05-01', TIMESTAMP '2000-06-01')
    """,
)
def month_membership_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P7: keep rows whose date falls in one of 3 calendar months
    (run_exports_query.py:113-118)."""
    months = [f"2000-0{m}-01" for m in (4, 5, 6)]
    return (
        read_table(spark, sf_dir, "orders")
        .filter(
            F.date_trunc("month", F.col("o_orderdate")).isin(
                [F.lit(m).cast("timestamp") for m in months]
            )
        )
        .select("o_orderkey", "o_custkey", "o_totalprice")
    )


@_register(
    "null_profile_orders",
    """
    SELECT CAST(SUM(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS o_orderkey,
           CAST(SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS o_custkey,
           CAST(SUM(CASE WHEN o_orderstatus IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS o_orderstatus,
           CAST(SUM(CASE WHEN o_totalprice IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS o_totalprice,
           CAST(SUM(CASE WHEN o_orderdate IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS o_orderdate,
           CAST(SUM(CASE WHEN o_orderpriority IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS o_orderpriority
    FROM orders
    """,
)
def null_profile_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P9/A7: per-column null counts as ONE aggregate row (the reference
    collects the frame and runs isnull().sum() driver-side, :232)."""
    df = read_table(spark, sf_dir, "orders")
    return df.agg(*[F.sum(F.col(c).isNull().cast("long")).alias(c) for c in df.columns])


# ---------------------------------------------------------------------------
# §2.3 joins
# ---------------------------------------------------------------------------


@_register(
    "lookup_enrich_broadcast",
    """
    SELECT o.o_orderkey, o.o_totalprice, c.c_mktsegment, n.n_name
    FROM orders o
    LEFT JOIN customer c ON o.o_custkey = c.c_custkey
    LEFT JOIN nation n ON c.c_nationkey = n.n_nationkey
    """,
)
def lookup_enrich_broadcast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1: dimension enrich via broadcast left joins (the tier-lookup
    pattern, run_exports_query.py:224)."""
    orders = read_table(spark, sf_dir, "orders")
    customer = read_table(spark, sf_dir, "customer")
    nation = read_table(spark, sf_dir, "nation")
    return (
        orders.join(F.broadcast(customer), orders.o_custkey == customer.c_custkey, "left")
        .join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey, "left")
        .select("o_orderkey", "o_totalprice", "c_mktsegment", "n_name")
    )


@_register(
    "exists_over_array",
    """
    SELECT user_id,
           coalesce(bool_or(event_type = 'purchase' AND value > 500), false)
               AS has_big_purchase
    FROM events GROUP BY user_id
    """,
)
def exists_over_array(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J3: correlated-EXISTS-over-array (exports_results.sql:152-163) as a
    higher-order ``F.exists`` over a collected array — not a join.

    Scale note: the per-key collect is FAITHFUL reference semantics (the
    reference materializes the results array per scenario, bounded by
    ~48 lenders). Repurposing this shape for an unbounded key (e.g. all
    events per user) needs the capped pattern in
    ``analytics.events_user_sequences``; for a pure existence test the
    collect is avoidable outright (``bool_or`` pre-aggregation, as the
    oracle shows).

    NULL boundary (r15 hunt): ``F.exists`` is three-valued — a group
    with no TRUE element and at least one NULL predicate result (a NULL
    event_type/value row) returned NULL, where SQL EXISTS (the J3
    semantics this entry mirrors, and the oracle's NULL-skipping
    bool_or) is strictly two-valued. coalesce(..., false) pins the
    EXISTS contract: 'no qualifying row found' is FALSE, not unknown."""
    ev = read_table(spark, sf_dir, "events")
    collected = ev.groupBy("user_id").agg(
        F.collect_list(F.struct("event_type", "value")).alias("evs")
    )
    return collected.select(
        "user_id",
        F.coalesce(
            F.exists(
                "evs",
                lambda e: (e["event_type"] == "purchase") & (e["value"] > 500),
            ),
            F.lit(False),
        ).alias("has_big_purchase"),
    )


# ---------------------------------------------------------------------------
# §2.4 aggregations
# ---------------------------------------------------------------------------


@_register(
    "distinct_event_types",
    "SELECT DISTINCT event_type FROM events WHERE event_type IS NOT NULL",
)
def distinct_event_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1: the driving DISTINCT (get_lenders, run_exports_query.py:38-45)."""
    return (
        read_table(spark, sf_dir, "events")
        .select("event_type")
        .filter(F.col("event_type").isNotNull())
        .distinct()
    )


@_register(
    "dedup_latest_maxby",
    """
    SELECT user_id,
           MAX(ts) AS time,
           FIRST(event_type ORDER BY ts DESC, event_id DESC)
               FILTER (event_type IS NOT NULL AND ts IS NOT NULL) AS event_type,
           FIRST(value ORDER BY ts DESC, event_id DESC)
               FILTER (value IS NOT NULL AND ts IS NOT NULL) AS value,
           FIRST(props ORDER BY ts DESC, event_id DESC)
               FILTER (props IS NOT NULL AND ts IS NOT NULL) AS props
    FROM events GROUP BY user_id
    """,
)
def dedup_latest_maxby(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2/A3: latest-record-wins dedup via MAX/MAX_BY — one hash-agg
    shuffle with map-side partials (exports_results.sql:51-71).

    Tie convention (r16 finding 42, the ts-collision probe): MAX_BY
    under EXACT duplicate timestamps is engine-arbitrary — plain
    ``MAX_BY(v, ts)`` picked different tied rows in Spark and DuckDB.
    'Latest' is totalized as (ts, event_id): among tied max timestamps
    the HIGHEST event_id wins (later ingest id), via a struct ordering
    key Spark-side and FIRST(... ORDER BY ts DESC, event_id DESC)
    oracle-side (DuckDB's MAX_BY takes no composite key). The NULL
    guard keeps DuckDB's value-null-skip semantics exactly as before."""
    latest = lambda c: F.max_by(
        c,
        F.when(
            F.col(c).isNotNull() & F.col("ts").isNotNull(),
            F.struct("ts", "event_id"),
        ),
    ).alias(c)
    return (
        read_table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(
            F.max("ts").alias("time"),
            latest("event_type"),
            latest("value"),
            latest("props"),
        )
    )


@_register(
    "collect_types_sorted",
    """
    SELECT user_id,
           COALESCE(array_to_string(
               list_sort(list_filter(list(event_type), x -> x IS NOT NULL)),
               ','), '') AS types_csv,
           CAST(len(list_filter(list(value), x -> x > 500)) AS BIGINT) AS n_big
    FROM events GROUP BY user_id
    """,
)
def collect_types_sorted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4/F13: list aggregate + lambda filter (exports_results.sql:73-76).
    Output sorted-joined for cross-engine determinism.

    r14 oracle fix (caught by the fifth boundary fixture): an ALL-NULL
    group encodes as '' on the Spark side (collect_list drops SQL NULLs
    → empty array → array_join '') but DuckDB's array_to_string returns
    NULL for a list with no non-null elements — invisible on the sf
    tables (every user has a non-null event_type), divergent at the
    boundary. The oracle now filters NULLs explicitly (the reference's
    own list_filter step) and COALESCEs the empty join to '', the
    faithful encoding of the reference's filtered LIST.

    Scale note: faithful reference semantics — the reference's list()
    is per scenario and bounded by the lender count. Against an
    unbounded key, truncate deterministically before collecting (the
    ``events_user_sequences`` MAX_SEQ_EVENTS pattern) or replace the
    lambda-filter count with a conditional pre-aggregation."""
    return (
        read_table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(
            F.array_join(F.sort_array(F.collect_list("event_type")), ",").alias("types_csv"),
            F.size(F.filter(F.collect_list("value"), lambda x: x > 500)).cast("long").alias("n_big"),
        )
    )


@_register(
    "pricing_summary",
    """
    SELECT l_returnflag, l_linestatus,
           ROUND(SUM(l_quantity), 2) AS sum_qty,
           ROUND(SUM(l_extendedprice), 2) AS sum_base_price,
           ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
           ROUND(AVG(l_quantity), 2) AS avg_qty,
           ROUND(AVG(l_extendedprice), 2) AS avg_price,
           CAST(COUNT(*) AS BIGINT) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '2000-09-02'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A5 + multi-agg group-by (TPC-H Q1 shape): partial aggregation
    map-side, tiny shuffle, codegen'd expressions."""
    li = read_table(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("2000-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
                "sum_disc_price"
            ),
            F.round(F.avg("l_quantity"), 2).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 2).alias("avg_price"),
            F.count("*").alias("count_order"),
        )
    )


# ---------------------------------------------------------------------------
# §2.5 windows / §2.4 pivot
# ---------------------------------------------------------------------------


@_register(
    "global_denominators",
    """
    SELECT event_id,
           CAST(COUNT(DISTINCT user_id) OVER () AS BIGINT) AS count_all_users,
           CAST(COUNT(DISTINCT user_id) OVER (PARTITION BY event_type) AS BIGINT)
               AS count_users_in_type,
           ROUND(SUM(value) OVER (), 2) AS sum_all_value
    FROM events
    """,
)
def global_denominators(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W1-W3: COUNT(DISTINCT) OVER () has no Spark window form and an
    empty-partition window is a single-partition funnel. Rewrite: tiny
    aggregates broadcast-joined back (exports_results.sql:107-115)."""
    ev = read_table(spark, sf_dir, "events")
    totals = ev.agg(
        F.countDistinct("user_id").alias("count_all_users"),
        F.round(F.sum("value"), 2).alias("sum_all_value"),
    )
    per_type = ev.groupBy(F.col("event_type").alias("_et")).agg(
        F.countDistinct("user_id").alias("count_users_in_type")
    )
    return (
        ev.crossJoin(F.broadcast(totals))
        # eqNullSafe: the NULL event_type group is a real partition for
        # COUNT(DISTINCT) OVER (PARTITION BY) — plain == would drop it
        .join(F.broadcast(per_type), F.col("event_type").eqNullSafe(F.col("_et")), "left")
        .select("event_id", "count_all_users", "count_users_in_type", "sum_all_value")
    )


@_register(
    "rank_in_segment_month",
    """
    WITH counts AS (
        SELECT c.c_mktsegment AS segment, o.o_orderpriority AS priority,
               CAST(date_trunc('month', o.o_orderdate) AS TIMESTAMP) AS month,
               CAST(COUNT(o.o_orderkey) AS BIGINT) AS order_count
        FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        WHERE CAST(date_trunc('month', o.o_orderdate) AS TIMESTAMP)
              IN (TIMESTAMP '2000-04-01', TIMESTAMP '2000-05-01', TIMESTAMP '2000-06-01')
        GROUP BY 1, 2, 3
    )
    SELECT segment, priority, month, order_count,
           CAST(RANK() OVER (PARTITION BY segment, month
                             ORDER BY order_count DESC,
                                      priority ASC NULLS LAST) AS BIGINT)
               AS rank_in_segment
    FROM counts
    """,
)
def rank_in_segment_month(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W4/A5: competition rank within (segment, month) by count — the
    rank-in-tier pattern (run_exports_query.py:121-125); priority tiebreak
    keeps cross-engine determinism.

    NULLS LAST pinned explicitly on the tiebreak (r15 boundary hunt):
    Spark's bare ascending sort is NULLS FIRST, DuckDB's is NULLS LAST,
    so a NULL-priority group tying on order_count ranked FIRST on the
    Spark side and LAST in the oracle — shifting every other rank in the
    partition. Unknown sorts last; invisible on the sf tables (no NULL
    priorities)."""
    orders = read_table(spark, sf_dir, "orders")
    customer = read_table(spark, sf_dir, "customer")
    months = [F.lit(f"2000-0{m}-01").cast("timestamp") for m in (4, 5, 6)]
    counts = (
        orders.join(F.broadcast(customer), orders.o_custkey == customer.c_custkey)
        .filter(F.date_trunc("month", F.col("o_orderdate")).isin(months))
        .groupBy(
            F.col("c_mktsegment").alias("segment"),
            F.col("o_orderpriority").alias("priority"),
            F.date_trunc("month", F.col("o_orderdate")).alias("month"),
        )
        .agg(F.count("o_orderkey").alias("order_count"))
    )
    w = Window.partitionBy("segment", "month").orderBy(
        F.desc("order_count"), F.col("priority").asc_nulls_last()
    )
    return counts.withColumn("rank_in_segment", F.rank().over(w).cast("long"))


@_register(
    "rank_pivot_merge_back",
    """
    WITH counts AS (
        SELECT c.c_mktsegment AS segment, o.o_orderpriority AS priority,
               CAST(date_trunc('month', o.o_orderdate) AS TIMESTAMP) AS month,
               COUNT(*) AS order_count
        FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        WHERE CAST(date_trunc('month', o.o_orderdate) AS TIMESTAMP)
              IN (TIMESTAMP '2000-05-01', TIMESTAMP '2000-06-01')
        GROUP BY 1, 2, 3
    ),
    ranked AS (
        SELECT *, RANK() OVER (PARTITION BY segment, month
                               ORDER BY order_count DESC,
                                        priority ASC NULLS LAST) AS r
        FROM counts
    ),
    pivoted AS (
        SELECT segment, priority,
               CAST(coalesce(MAX(CASE WHEN month = TIMESTAMP '2000-05-01' THEN r END), 0) AS BIGINT)
                   AS rank_one_month,
               CAST(coalesce(MAX(CASE WHEN month = TIMESTAMP '2000-06-01' THEN r END), 0) AS BIGINT)
                   AS rank_two_months
        FROM ranked GROUP BY 1, 2
    )
    SELECT o.o_orderkey, c.c_mktsegment AS segment, o.o_orderpriority AS priority,
           p.rank_one_month, p.rank_two_months
    FROM orders o
    JOIN customer c ON o.o_custkey = c.c_custkey
    LEFT JOIN pivoted p ON p.segment = c.c_mktsegment AND p.priority = o.o_orderpriority
    WHERE o.o_orderdate >= TIMESTAMP '2000-05-01' AND o.o_orderdate < TIMESTAMP '2000-07-01'
    """,
)
def rank_pivot_merge_back(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A6/J2: pivot (long→wide) of per-month ranks + broadcast merge-back
    (prepare_rank_data, run_exports_query.py:128-161)."""
    orders = read_table(spark, sf_dir, "orders")
    customer = read_table(spark, sf_dir, "customer")
    m1, m2 = (F.lit("2000-05-01").cast("timestamp"), F.lit("2000-06-01").cast("timestamp"))
    joined = orders.join(F.broadcast(customer), orders.o_custkey == customer.c_custkey)
    counts = (
        joined.filter(F.date_trunc("month", F.col("o_orderdate")).isin([m1, m2]))
        .groupBy(
            F.col("c_mktsegment").alias("segment"),
            F.col("o_orderpriority").alias("priority"),
            F.date_trunc("month", F.col("o_orderdate")).alias("month"),
        )
        .agg(F.count("*").alias("order_count"))
    )
    # NULLS LAST pinned on the tiebreak: same r15 fix as
    # rank_in_segment_month (a NULL-priority tie ranked FIRST in Spark's
    # default ascending sort, LAST in DuckDB's)
    w = Window.partitionBy("segment", "month").orderBy(
        F.desc("order_count"), F.col("priority").asc_nulls_last()
    )
    ranked = counts.withColumn("r", F.rank().over(w))
    pivoted = ranked.groupBy("segment", "priority").agg(
        F.coalesce(F.max(F.when(F.col("month") == m1, F.col("r"))), F.lit(0))
        .cast("long")
        .alias("rank_one_month"),
        F.coalesce(F.max(F.when(F.col("month") == m2, F.col("r"))), F.lit(0))
        .cast("long")
        .alias("rank_two_months"),
    )
    return (
        joined.filter(
            (F.col("o_orderdate") >= m1) & (F.col("o_orderdate") < F.lit("2000-07-01").cast("timestamp"))
        )
        .select(
            "o_orderkey",
            F.col("c_mktsegment").alias("segment"),
            F.col("o_orderpriority").alias("priority"),
        )
        .join(F.broadcast(pivoted), ["segment", "priority"], "left")
        .select("o_orderkey", "segment", "priority", "rank_one_month", "rank_two_months")
    )


# ---------------------------------------------------------------------------
# §2.6 sorts / top-k, §2.7 set ops
# ---------------------------------------------------------------------------


@_register(
    "topk_orders",
    """
    SELECT o_orderkey, o_custkey, o_totalprice
    FROM orders
    ORDER BY o_totalprice DESC, o_orderkey
    LIMIT 100
    """,
)
def topk_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O1 + LIMIT: total-order top-k (TakeOrderedAndProject — per-partition
    heaps, no global sort materialization). Tiebreak on orderkey."""
    return (
        read_table(spark, sf_dir, "orders")
        .orderBy(F.desc("o_totalprice"), "o_orderkey")
        .limit(100)
        .select("o_orderkey", "o_custkey", "o_totalprice")
    )


@_register(
    "union_by_name",
    """
    SELECT l_orderkey, l_linenumber, l_quantity, 'high' AS bucket
    FROM lineitem WHERE l_quantity >= 25
    UNION ALL
    SELECT l_orderkey, l_linenumber, l_quantity, 'low' AS bucket
    FROM lineitem WHERE l_quantity < 25
    """,
)
def union_by_name(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U1: n-ary union-by-name (pd.concat, merge_all_lenders.py:31-55) —
    columns deliberately in different orders to exercise name alignment."""
    li = read_table(spark, sf_dir, "lineitem")
    high = li.filter(F.col("l_quantity") >= 25).select(
        "l_orderkey", "l_linenumber", "l_quantity", F.lit("high").alias("bucket")
    )
    low = li.filter(F.col("l_quantity") < 25).select(
        F.lit("low").alias("bucket"), "l_quantity", "l_orderkey", "l_linenumber"
    )
    return high.unionByName(low)


# ---------------------------------------------------------------------------
# §2.8-2.10 scalar functions
# ---------------------------------------------------------------------------


@_register(
    "json_extract_props",
    r"""
    WITH j AS (
        SELECT event_id,
               json_extract_string(
                   CASE WHEN json_valid(props) THEN props END, 'k') AS s
        FROM events
    ), t AS (
        -- r16 (ADVICE): Spark's cast trimAll strips ALL ASCII controls
        -- + space + DEL ([\x00-\x20\x7f], measured) and nothing above
        -- 0x7f; the old 6-char trim missed \x00-\x08, \x0E-\x1F, \x7F
        SELECT event_id, s,
               regexp_replace(s, '^[\x00-\x20\x7f]+|[\x00-\x20\x7f]+$',
                              '', 'g') AS st
        FROM j
    )
    SELECT event_id,
           CASE WHEN regexp_matches(st, '^[+-]?\.[0-9]*$') THEN 0
                WHEN regexp_matches(st, '^[+-]?[0-9]+\.?[0-9]*$')
                THEN TRY_CAST(regexp_extract(st, '^[+-]?[0-9]+', 0) AS BIGINT)
           END AS k_value,
           s IS NULL AS k_missing
    FROM t
    """,
)
def json_extract_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F7/F9: JSON probe with missing-key → SQL NULL semantics
    (exports_results.sql:37-38,89-91).

    r14 oracle fix (caught by the sixth boundary fixture): Spark's
    get_json_object is LENIENT — malformed JSON and non-numeric values
    yield NULL — while DuckDB's json_extract_string RAISES on malformed
    input and plain CAST raises on a non-numeric string. Invisible on
    the sf tables (all props well-formed, k numeric); the oracle guards
    with json_valid().

    r15 oracle fix (ADVICE r14): DuckDB's TRY_CAST('4.6' AS BIGINT)
    ROUNDS to 5 (banker's-free half-away rounding; '-4.6' → -5) while
    Spark's non-ANSI string→long cast TRUNCATES toward zero ('4.6' → 4,
    '-4.6' → -4) — r14's single '4.2' probe couldn't tell them apart
    because rounding and truncation coincide below .5. A TRUNC-via-
    DOUBLE rewrite alone would still diverge on '1e5' (Spark rejects
    scientific notation → NULL; DOUBLE path → 100000) and on
    '9007199254740993' (2^53+1: exact in Spark's integer parse, rounded
    by the DOUBLE round-trip), so the oracle now mirrors Spark's
    measured grammar directly: trim ASCII whitespace, accept
    [+-]?digits[.digits*] (truncate at the dot, exact BIGINT parse of
    the integer part, overflow → NULL) or [+-]?.digits* (→ 0), reject
    everything else ('1e5', '0x10', '..', 'Infinity', 'NaN', '') → NULL.
    Validated probe-for-probe against Spark on 28 boundary strings
    including '4.6'/-4.6'/'4.5' (≥.5 fractions), '.5'/'.'/'+.', '1e5',
    '1e20', 2^53+1, 20-digit overflow, and tab/vtab-padded digits."""
    k = F.get_json_object("props", "$.k")
    return read_table(spark, sf_dir, "events").select(
        "event_id",
        k.cast("long").alias("k_value"),
        k.isNull().alias("k_missing"),
    )


@_register(
    "json_variant_extract",
    r"""
    WITH j AS (
        SELECT event_id, CASE WHEN json_valid(props) THEN props END AS p
        FROM events
    )
    SELECT event_id,
           CASE WHEN json_type(p, '$.k') IN ('BIGINT','UBIGINT')
                    THEN TRY_CAST(json_extract_string(p, '$.k') AS BIGINT)
                WHEN json_type(p, '$.k') = 'DOUBLE'
                    THEN TRY_CAST(TRUNC(TRY_CAST(
                             json_extract_string(p, '$.k') AS DOUBLE)) AS BIGINT)
                WHEN json_type(p, '$.k') = 'BOOLEAN'
                    THEN CASE json_extract_string(p, '$.k')
                         WHEN 'true' THEN 1 ELSE 0 END
                WHEN json_type(p, '$.k') = 'VARCHAR'
                     AND regexp_matches(
                         regexp_replace(json_extract_string(p, '$.k'),
                             '^[\x00-\x20\x7f]+|[\x00-\x20\x7f]+$', '', 'g'),
                         '^[+-]?[0-9]+$')
                    THEN TRY_CAST(
                         regexp_replace(json_extract_string(p, '$.k'),
                             '^[\x00-\x20\x7f]+|[\x00-\x20\x7f]+$', '', 'g')
                         AS BIGINT)
           END AS k_long,
           json_extract_string(p, '$.k') AS k_str,
           CASE WHEN json_type(p) IN ('BIGINT','UBIGINT')
                    THEN TRY_CAST(json_extract_string(p, '$') AS BIGINT)
                WHEN json_type(p) = 'DOUBLE'
                    THEN TRY_CAST(TRUNC(TRY_CAST(
                             json_extract_string(p, '$') AS DOUBLE)) AS BIGINT)
                WHEN json_type(p) = 'BOOLEAN'
                    THEN CASE json_extract_string(p, '$')
                         WHEN 'true' THEN 1 ELSE 0 END
                WHEN json_type(p) = 'VARCHAR'
                     AND regexp_matches(
                         regexp_replace(json_extract_string(p, '$'),
                             '^[\x00-\x20\x7f]+|[\x00-\x20\x7f]+$', '', 'g'),
                         '^[+-]?[0-9]+$')
                    THEN TRY_CAST(
                         regexp_replace(json_extract_string(p, '$'),
                             '^[\x00-\x20\x7f]+|[\x00-\x20\x7f]+$', '', 'g')
                         AS BIGINT)
           END AS obj_as_long
    FROM j
    """,
)
def json_variant_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 VARIANT path for semi-structured data: ``try_parse_json``
    decodes the JSON string ONCE into the binary variant encoding, and
    every probe is a cheap ``variant_get`` over that — the engine-native
    successor to repeated get_json_object re-parses (and the scale
    answer for documents with many probed keys).

    r15 boundary twin (pre-stated at r14): the old oracle probed
    ``props`` bare — DuckDB raises on malformed JSON where
    ``try_parse_json`` yields a NULL variant — and plain ``CAST`` raises
    where variant casts are lenient; invisible on the sf tables (all
    props well-formed objects), divergent at the boundary. Measured
    variant cast contract, now mirrored exactly by the oracle's
    json_type-driven CASE: JSON numbers cast to long by TRUNCATING
    toward zero (4.6 → 4, -4.6 → -4; exact for int64-range integers
    including 2^53+1; overflow → NULL); JSON strings coerce by the
    ANSI-STRICT integral grammar — sign + digits only after whitespace
    trim ("42", "+42", "0042", " 5 " parse; "4.2", "5.0", "5e2", ".5",
    "abc", overflow → NULL — NOT the lenient truncating cast
    get_json_object+cast applies to the same text, which is the
    measured surprise this differential pins); booleans cast to 1/0;
    null / missing / object / array → NULL. The
    Spark side uses ``try_variant_get`` for the long probes (a plain
    ``variant_get`` RAISES on "abc" → long) and plain ``variant_get``
    for the string probe (variant → string rendering is total).
    ``obj_as_long`` is NULL for every object-rooted doc but follows the
    same cast contract for scalar-rooted docs ('42' → 42). Known
    rendering-only divergence kept OUT of the differential (documented,
    not probed): Spark renders non-exponent JSON decimals via decimal128
    (0.0 → '0', 20-digit integers exact) and exponent forms via Java
    double ('1.0E20') where DuckDB renders shortest-double text
    ('0.0', '1e20' expanded) — value semantics agree, string forms of
    trailing-zero/overflow-range numbers don't.

    r16 (ADVICE): the string-branch trim is [\\x00-\\x20\\x7f]
    (measured: variant string→long trims every ASCII control + space +
    DEL, nothing above 0x7f — same set as the lenient cast's trimAll);
    the old 6-char trim missed the other controls. Second documented
    frontier (ADVICE r16 #3, excluded from the fuzzer's generation like
    the rendering one above): an int64-range JSON number written in
    FRACTIONAL form beyond 2^53 (e.g. 9007199254740993.0) — DuckDB
    types it DOUBLE, so the oracle's double round-trip truncates to
    ...992, while Spark's variant parses it as decimal128 and keeps
    ...993 exactly. The fuzzer's PROPS pool has no fractional-form
    >2^53 numbers; a portable-SQL fix does not exist because DuckDB's
    json_type cannot distinguish 'x.0' from 'x.5' without re-parsing
    the raw text, which json_extract_string has already re-rendered."""
    ev = read_table(spark, sf_dir, "events").select(
        "event_id", F.try_parse_json("props").alias("v")
    )
    return ev.select(
        "event_id",
        F.try_variant_get("v", "$.k", "long").alias("k_long"),
        F.variant_get("v", "$.k", "string").alias("k_str"),
        F.try_variant_get("v", "$", "long").alias("obj_as_long"),
    )


@_register(
    "case_classifier",
    """
    SELECT event_id,
           CASE WHEN event_type = 'error' THEN 'Failed In Scope Deals'
                WHEN event_type = 'purchase' THEN
                    CASE WHEN value > 800 THEN 'Export Winner Deals'
                         WHEN value > 300 THEN 'Secondary Export Deals'
                         ELSE 'Deals Not Exported' END
                WHEN value IS NULL THEN 'Not Available Scenarios'
                WHEN value < 50 THEN 'Failed Out of Scope Deals'
                ELSE 'Unknown' END AS label
    FROM events
    """,
)
def case_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F3-F5: order-sensitive nested CASE classifier
    (exports_results.sql:150-175)."""
    v = F.col("value")
    label = (
        F.when(F.col("event_type") == "error", "Failed In Scope Deals")
        .when(
            F.col("event_type") == "purchase",
            F.when(v > 800, "Export Winner Deals")
            .when(v > 300, "Secondary Export Deals")
            .otherwise("Deals Not Exported"),
        )
        .when(v.isNull(), "Not Available Scenarios")
        .when(v < 50, "Failed Out of Scope Deals")
        .otherwise("Unknown")
    )
    return read_table(spark, sf_dir, "events").select("event_id", label.alias("label"))


@_register(
    "regex_clean_strings",
    r"""
    SELECT doc_id,
           regexp_replace(text, '[aeiou]', '', 'g') AS devoweled,
           regexp_matches(text, 'spark') AS mentions_spark,
           length(text) AS n_chars_computed
    FROM documents
    """,
)
def regex_clean_strings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F16/F17: regex strip + regex contains (clean_dataframe,
    run_exports_query.py:49-67).

    r14 oracle fix (caught by the seventh boundary fixture): the
    oracle's old CASE wrapper coerced a NULL text to FALSE while
    Spark's rlike propagates NULL — invisible on the sf tables (no
    NULL texts), divergent at the boundary. DuckDB's bare
    regexp_matches is NULL-propagating, matching rlike exactly."""
    return read_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.regexp_replace("text", "[aeiou]", "").alias("devoweled"),
        F.col("text").rlike("spark").alias("mentions_spark"),
        F.length("text").cast("long").alias("n_chars_computed"),
    )


@_register(
    "date_ops",
    """
    SELECT event_id,
           CAST(date_trunc('month', ts) AS TIMESTAMP) AS month_start,
           strftime(ts, '%Y-%m') AS month_label,
           CAST(ts - INTERVAL 1 MONTH AS TIMESTAMP) AS one_month_before,
           CAST(year(ts) AS BIGINT) AS y,
           CAST(month(ts) AS BIGINT) AS m
    FROM events
    """,
)
def date_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F21-F24: month truncate/label/arithmetic (run_exports_query.py:113-121,
    182-184)."""
    return read_table(spark, sf_dir, "events").select(
        "event_id",
        F.date_trunc("month", "ts").alias("month_start"),
        F.date_format("ts", "yyyy-MM").alias("month_label"),
        (F.col("ts") - F.expr("INTERVAL 1 MONTH")).alias("one_month_before"),
        F.year("ts").cast("long").alias("y"),
        F.month("ts").cast("long").alias("m"),
    )


# ---------------------------------------------------------------------------
# §2.4/2.5 extensions: grouping sets, range frames, filtered aggregates,
# calendar densification, scalar string family
# ---------------------------------------------------------------------------


@_register(
    "grouping_sets_orders",
    """
    SELECT o_orderpriority, o_orderstatus,
           CAST(GROUPING(o_orderpriority) AS BIGINT) AS g_pri,
           CAST(GROUPING(o_orderstatus) AS BIGINT) AS g_st,
           CAST(count(*) AS BIGINT) AS n,
           ROUND(SUM(o_totalprice), 2) AS total
    FROM orders
    GROUP BY GROUPING SETS ((o_orderpriority), (o_orderstatus), ())
    HAVING count(*) > 0
    """,
)
def grouping_sets_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUPING SETS (the general form rollup/cube specialize): three
    explicit grouping sets in ONE aggregation pass (Expand + single
    shuffle), with GROUPING() disambiguating real NULLs from subtotals.
    Empty-input convention (the pre-stated r17 fix, landed): zero rows
    even for the () set (Spark expands rows per set before aggregating)
    where ANSI/DuckDB emit one grand-total row — the oracle's HAVING
    count(*) > 0 mirror matches the rollup/cube twins (rationale at
    relational.py ROLLUP_ORACLE); vacuous on non-empty input."""
    read_table(spark, sf_dir, "orders").createOrReplaceTempView("_gs_orders")
    return spark.sql(
        """
        SELECT o_orderpriority, o_orderstatus,
               CAST(grouping(o_orderpriority) AS LONG) AS g_pri,
               CAST(grouping(o_orderstatus) AS LONG) AS g_st,
               count(*) AS n,
               ROUND(SUM(o_totalprice), 2) AS total
        FROM _gs_orders
        GROUP BY GROUPING SETS ((o_orderpriority), (o_orderstatus), ())
        """
    )


@_register(
    "window_range_frame",
    """
    SELECT o_orderkey,
           ROUND(SUM(o_totalprice) OVER (
               PARTITION BY o_custkey ORDER BY o_orderdate
               RANGE BETWEEN INTERVAL 7 DAYS PRECEDING AND CURRENT ROW), 2)
               AS rolling_7d_total
    FROM orders
    """,
)
def window_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-based RANGE frame (rolling 7-day sum per customer). Spark's
    rangeBetween is numeric, so the ordering key is epoch MICROseconds —
    full precision, exactly the oracle's INTERVAL arithmetic (a seconds
    cast would misplace sub-second boundary rows). RANGE includes all
    peers of the current timestamp in both engines → deterministic."""
    o = read_table(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        # parquet column is TIMESTAMP_NTZ; cast to (UTC-pinned) TIMESTAMP
        # for unix_micros — lossless under the UTC session
        .orderBy(F.unix_micros(F.col("o_orderdate").cast("timestamp")))
        .rangeBetween(-7 * 86400 * 1_000_000, 0)
    )
    return o.select(
        "o_orderkey",
        F.round(F.sum("o_totalprice").over(w), 2).alias("rolling_7d_total"),
    )


@_register(
    "filtered_agg_orders",
    """
    SELECT o_orderpriority,
           CAST(count(*) FILTER (WHERE o_totalprice > 150000) AS BIGINT) AS n_big,
           ROUND(COALESCE(SUM(o_totalprice)
               FILTER (WHERE o_orderdate >= TIMESTAMP '1997-01-01'), 0), 2) AS recent_total,
           CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_customers
    FROM orders GROUP BY o_orderpriority
    """,
)
def filtered_agg_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FILTER-clause aggregates (conditional aggregation) — expressed as
    aggregate-over-CASE so partial aggregation still applies map-side."""
    o = read_table(spark, sf_dir, "orders")
    return o.groupBy("o_orderpriority").agg(
        F.count(F.when(F.col("o_totalprice") > 150000, 1)).alias("n_big"),
        F.round(
            F.coalesce(
                F.sum(
                    F.when(
                        F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp"),
                        F.col("o_totalprice"),
                    )
                ),
                F.lit(0.0),
            ),
            2,
        ).alias("recent_total"),
        F.countDistinct("o_custkey").alias("n_customers"),
    )


@_register(
    "calendar_spine_monthly",
    """
    WITH months AS (
        SELECT unnest(generate_series(TIMESTAMP '1995-01-01',
                                      TIMESTAMP '2001-08-01',
                                      INTERVAL 1 MONTH)) AS month
    ),
    o AS (
        SELECT date_trunc('month', o_orderdate) AS m,
               count(*) AS n, SUM(o_totalprice) AS t
        FROM orders GROUP BY 1
    )
    SELECT CAST(months.month AS TIMESTAMP) AS month,
           CAST(COALESCE(o.n, 0) AS BIGINT) AS n_orders,
           ROUND(COALESCE(o.t, 0), 2) AS total
    FROM months LEFT JOIN o ON o.m = months.month
    """,
)
def calendar_spine_monthly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar densification: a generated month spine left-joined against
    the monthly aggregate, so empty months surface as zero rows. The spine
    is 80 rows (sequence + explode on the driver's literal range) and
    BROADCASTS; the aggregate side shuffles once on a month key."""
    o = read_table(spark, sf_dir, "orders")
    spine = spark.range(1).select(
        F.explode(
            F.sequence(
                F.lit("1995-01-01").cast("timestamp"),
                F.lit("2001-08-01").cast("timestamp"),
                F.expr("INTERVAL 1 MONTH"),
            )
        ).alias("month")
    )
    monthly = o.groupBy(F.date_trunc("month", "o_orderdate").alias("m")).agg(
        F.count("*").alias("n"), F.sum("o_totalprice").alias("t")
    )
    return (
        F.broadcast(spine)
        .join(monthly, spine.month == monthly.m, "left")
        .select(
            "month",
            F.coalesce("n", F.lit(0)).alias("n_orders"),
            F.round(F.coalesce("t", F.lit(0.0)), 2).alias("total"),
        )
    )


@_register(
    "string_funcs_customer",
    """
    SELECT c_custkey,
           upper(c_name) AS up,
           substr(c_name, 1, 8) AS prefix8,
           CAST(length(c_name) AS BIGINT) AS name_len,
           reverse(c_mktsegment) AS seg_rev,
           lpad(c_mktsegment, 12, '*') AS seg_pad,
           replace(c_name, '#', '-') AS name_dash,
           concat_ws('|', c_mktsegment, c_name) AS seg_name,
           CAST(strpos(c_name, '1') AS BIGINT) AS pos_one,
           CAST(levenshtein(c_mktsegment, 'BUILDING') AS BIGINT) AS lev_building,
           CASE WHEN c_name IS NULL THEN NULL
                ELSE split_part(c_name, '#', 1) END AS name_stem
    FROM customer
    """,
)
def string_funcs_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar string-function family (§2.8) — every function pinned to the
    cross-engine-identical subset (1-based substr/strpos, lpad truncation,
    classic levenshtein), all codegen'd in one projection.

    r16 (found by probing adversarial names): DuckDB's ``split_part`` is
    NOT NULL-propagating — ``split_part(NULL, '#', 1)`` returns ``''``
    (measured) where Spark returns NULL, so the oracle wraps it in a
    NULL-preserving CASE. The divergence was INVISIBLE to every
    CSV-hash-based compare (both NULL and '' render as an empty CSV
    field — a measured harness blind spot, caught only by a cell-level
    diff) but is a real semantic difference. Two more frontiers are
    MEASURED, documented, and kept out of fuzz generation because no
    portable SQL expresses them: (1) Unicode SPECIAL-CASING in upper()
    — Java maps 'ß' → 'SS' and the 'ﬁ' ligature → 'FI' (full case
    mapping) while DuckDB maps 'ß' → 'ẞ' and leaves ligatures alone
    (simple mapping); ordinary accented letters ('café' → 'CAFÉ')
    agree, so generated names may carry accents but not special-casing
    chars. (2) levenshtein UNITS — DuckDB counts BYTES
    (levenshtein('Ü','U') = 2, measured) while Spark counts
    CHARACTERS; the levenshtein input column (c_mktsegment) stays
    ASCII in generation."""
    c = read_table(spark, sf_dir, "customer")
    return c.select(
        "c_custkey",
        F.upper("c_name").alias("up"),
        F.substring("c_name", 1, 8).alias("prefix8"),
        F.length("c_name").cast("long").alias("name_len"),
        F.reverse("c_mktsegment").alias("seg_rev"),
        F.lpad("c_mktsegment", 12, "*").alias("seg_pad"),
        F.regexp_replace("c_name", "#", "-").alias("name_dash"),
        F.concat_ws("|", "c_mktsegment", "c_name").alias("seg_name"),
        F.instr("c_name", "1").cast("long").alias("pos_one"),
        F.levenshtein("c_mktsegment", F.lit("BUILDING")).cast("long").alias("lev_building"),
        F.expr("split_part(c_name, '#', 1)").alias("name_stem"),
    )


@_register(
    "date_funcs_extended",
    """
    SELECT event_id,
           CAST(last_day(ts) AS TIMESTAMP) AS month_end,
           CAST(isodow(ts) AS BIGINT) AS iso_dow,
           CAST(weekofyear(ts) AS BIGINT) AS iso_week,
           CAST(quarter(ts) AS BIGINT) AS q,
           CAST(dayofyear(ts) AS BIGINT) AS doy,
           CAST(date_diff('day', TIMESTAMP '2024-01-01', ts) AS BIGINT) AS days_since,
           CAST(ts + INTERVAL 10 DAYS AS TIMESTAMP) AS ts_plus_10d
    FROM events
    """,
)
def date_funcs_extended(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extended temporal family. Cross-engine normalization notes:
    Spark's dayofweek is Sunday=1 while DuckDB's is Sunday=0 — both sides
    pin the ISO numbering (Monday=1) instead; last_day returns DATE in
    Spark, TIMESTAMP in DuckDB — cast both; date_add truncates to DATE, so
    day arithmetic uses an INTERVAL."""
    ev = read_table(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        F.last_day("ts").cast("timestamp").alias("month_end"),
        F.expr("extract(DAYOFWEEK_ISO FROM ts)").cast("long").alias("iso_dow"),
        F.weekofyear("ts").cast("long").alias("iso_week"),
        F.quarter("ts").cast("long").alias("q"),
        F.dayofyear("ts").cast("long").alias("doy"),
        F.datediff("ts", F.lit("2024-01-01").cast("timestamp")).cast("long").alias(
            "days_since"
        ),
        (F.col("ts") + F.expr("INTERVAL 10 DAYS")).alias("ts_plus_10d"),
    )


@_register(
    "order_nulls_handling",
    """
    SELECT event_id,
           CAST(rank() OVER (PARTITION BY event_type
                             ORDER BY value DESC NULLS LAST, event_id) AS BIGINT)
               AS rnk_desc_nulls_last,
           CAST(rank() OVER (PARTITION BY event_type
                             ORDER BY value ASC NULLS FIRST, event_id) AS BIGINT)
               AS rnk_asc_nulls_first
    FROM events
    """,
)
def order_nulls_handling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NULL placement in orderings is a classic silent cross-engine
    divergence (Spark defaults NULLS FIRST ascending, DuckDB NULLS LAST)
    — every ordering on a nullable key must pin it explicitly, as here
    on both sides."""
    ev = read_table(spark, sf_dir, "events")
    w1 = Window.partitionBy("event_type").orderBy(
        F.col("value").desc_nulls_last(), "event_id"
    )
    w2 = Window.partitionBy("event_type").orderBy(
        F.col("value").asc_nulls_first(), "event_id"
    )
    return ev.select(
        "event_id",
        F.rank().over(w1).cast("long").alias("rnk_desc_nulls_last"),
        F.rank().over(w2).cast("long").alias("rnk_asc_nulls_first"),
    )


@_register(
    "jsonl_roundtrip_docs",
    """
    SELECT doc_id, text, lang, source, CAST(n_chars AS BIGINT) AS n_chars
    FROM documents
    """,
)
def jsonl_roundtrip_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSONL sink → source roundtrip (the LLM-corpus interchange format):
    write the documents table as JSON-lines with explicit nulls, read it
    back under an explicit schema. The oracle is the ORIGINAL table —
    equality proves byte-faithful JSON escaping/typing both ways. The
    write is a real (small, /tmp-staged) sink pass on every invocation."""
    import hashlib
    import os
    import tempfile

    from monthly_report_etl_spark.sources.json import read_jsonl, write_jsonl

    d = read_table(spark, sf_dir, "documents").select(
        "doc_id", "text", "lang", "source", F.col("n_chars").cast("long").alias("n_chars")
    )
    key = hashlib.md5(sf_dir.encode("utf-8")).hexdigest()[:12]
    path = os.path.join(tempfile.gettempdir(), f"jsonl_docs_{key}")
    write_jsonl(d, path)
    return read_jsonl(
        spark,
        path,
        schema="doc_id LONG, text STRING, lang STRING, source STRING, n_chars LONG",
    ).select("doc_id", "text", "lang", "source", "n_chars")


@_register(
    "numeric_coercion",
    """
    SELECT doc_id,
           TRY_CAST(lang AS DOUBLE) AS lang_as_num,
           TRY_CAST(CAST(n_chars AS VARCHAR) AS DOUBLE) AS n_chars_num
    FROM documents
    """,
)
def numeric_coercion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F18: pd.to_numeric(errors='coerce') — unparseable → NULL
    (run_exports_query.py:69-71); non-ANSI cast nulls on failure."""
    return read_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.col("lang").cast("double").alias("lang_as_num"),
        F.col("n_chars").cast("string").cast("double").alias("n_chars_num"),
    )


# The operator modules' own (fn, oracle) tables, merged after this
# module's entries so QUERIES and ORACLES list those first.
for _module in (
    _text,
    _dedup,
    _similarity,
    _multimodal,
    _streaming,
    _relational,
    _olap,
    _corpus,
    _analytics,
):
    for _name, (_fn, _oracle) in _module.CATALOG.items():
        _register(_name, _oracle)(_fn)

