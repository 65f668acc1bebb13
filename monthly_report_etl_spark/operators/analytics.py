"""Event-analytics operator shapes: funnel, retention cohort, batch
sessionization, distribution moments, and the window distribution family
(percent_rank / cume_dist / ntile).

These are the product-analytics queries every events warehouse runs (the
reference's report is one instance of the genre — exports_results.sql's
per-month lender rollup); each is expressed as a single declarative plan
with a DuckDB oracle.

Scale notes: every operator here shuffles at most once on its natural
key (``user_id`` for the per-user shapes, the group key for the aggs);
window stages that share a partition key reuse one Exchange (Spark emits
consecutive Window nodes over the same HashPartitioning), and grouped
aggregations whose keys contain the window's partition key inherit its
partitioning (ClusteredDistribution is satisfied by a subset
partitioning), so sessionization is ONE shuffle end-to-end.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from monthly_report_etl_spark.sources.parquet import read_table


# ---------------------------------------------------------------------------
# funnel: view -> click-after-view -> purchase-after-click
# ---------------------------------------------------------------------------

FUNNEL_ORACLE = """
WITH e1 AS (
    SELECT user_id, ts, event_type,
           MIN(CASE WHEN event_type = 'view' THEN ts END)
               OVER (PARTITION BY user_id) AS t_view
    FROM events
),
e2 AS (
    SELECT *, MIN(CASE WHEN event_type = 'click' AND ts > t_view THEN ts END)
               OVER (PARTITION BY user_id) AS t_click
    FROM e1
),
e3 AS (
    SELECT *, MIN(CASE WHEN event_type = 'purchase' AND ts > t_click THEN ts END)
               OVER (PARTITION BY user_id) AS t_purchase
    FROM e2
),
u AS (
    SELECT user_id, MAX(t_view) AS tv, MAX(t_click) AS tc, MAX(t_purchase) AS tp
    FROM e3 GROUP BY user_id
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_users,
       CAST(COUNT(tv) AS BIGINT) AS n_view,
       CAST(COUNT(tc) AS BIGINT) AS n_click_after_view,
       CAST(COUNT(tp) AS BIGINT) AS n_purchase_after_click
FROM u
"""


def events_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel: first 'view', first 'click' strictly after it,
    first 'purchase' strictly after that — per user, then stage counts.

    The three stage timestamps are nested MIN-over-user windows (each
    references the previous), which Spark plans as three Window nodes over
    ONE Exchange on ``user_id``; the per-user collapse and the final
    1-row count are map-side after that. No joins, no second shuffle.
    """
    w = Window.partitionBy("user_id")
    e = read_table(spark, sf_dir, "events").select("user_id", "ts", "event_type")
    e = e.withColumn(
        "t_view", F.min(F.when(F.col("event_type") == "view", F.col("ts"))).over(w)
    )
    e = e.withColumn(
        "t_click",
        F.min(
            F.when(
                (F.col("event_type") == "click") & (F.col("ts") > F.col("t_view")),
                F.col("ts"),
            )
        ).over(w),
    )
    e = e.withColumn(
        "t_purchase",
        F.min(
            F.when(
                (F.col("event_type") == "purchase") & (F.col("ts") > F.col("t_click")),
                F.col("ts"),
            )
        ).over(w),
    )
    per_user = e.groupBy("user_id").agg(
        F.max("t_view").alias("tv"),
        F.max("t_click").alias("tc"),
        F.max("t_purchase").alias("tp"),
    )
    return per_user.agg(
        F.count("*").alias("n_users"),
        F.count("tv").alias("n_view"),
        F.count("tc").alias("n_click_after_view"),
        F.count("tp").alias("n_purchase_after_click"),
    )


# ---------------------------------------------------------------------------
# retention cohort (weekly — the events table spans one month)
# ---------------------------------------------------------------------------

RETENTION_ORACLE = """
WITH e AS (
    SELECT user_id,
           CAST(date_trunc('week', ts) AS TIMESTAMP) AS active_week,
           CAST(MIN(date_trunc('week', ts)) OVER (PARTITION BY user_id) AS TIMESTAMP)
               AS cohort_week
    FROM events
)
SELECT cohort_week, active_week,
       CAST(datediff('day', cohort_week, active_week) / 7 AS BIGINT) AS week_index,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
FROM e
GROUP BY cohort_week, active_week
ORDER BY cohort_week, active_week
"""


def events_retention_cohort(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention: users grouped by first-activity week, counted in
    every week they return. One window shuffle on ``user_id``, then the
    (cohort, week) distinct-count agg — the cohort matrix is
    weeks x weeks, tiny regardless of fact size.
    """
    e = read_table(spark, sf_dir, "events").select(
        "user_id", F.date_trunc("week", F.col("ts")).alias("active_week")
    )
    e = e.withColumn(
        "cohort_week", F.min("active_week").over(Window.partitionBy("user_id"))
    )
    return (
        e.groupBy("cohort_week", "active_week")
        .agg(F.countDistinct("user_id").alias("n_users"))
        .withColumn(
            "week_index",
            (F.datediff("active_week", "cohort_week") / 7).cast("long"),
        )
        .select("cohort_week", "active_week", "week_index", "n_users")
        .orderBy("cohort_week", "active_week")
    )


# ---------------------------------------------------------------------------
# batch sessionization (30-minute inactivity gap)
# ---------------------------------------------------------------------------

SESSIONIZE_BATCH_ORACLE = """
WITH o AS (
    SELECT user_id, event_id, ts,
           LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
    FROM events
    WHERE ts IS NOT NULL
),
f AS (
    SELECT *, CASE WHEN prev_ts IS NULL
                     OR date_diff('microsecond', prev_ts, ts) > 1800000000
                   THEN 1 ELSE 0 END AS new_sess
    FROM o
),
s AS (
    SELECT *, SUM(new_sess) OVER (
        PARTITION BY user_id ORDER BY ts, event_id
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_seq
    FROM f
)
SELECT user_id, CAST(session_seq AS BIGINT) AS session_seq,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       MIN(ts) AS session_start, MAX(ts) AS session_end,
       CAST(date_diff('microsecond', MIN(ts), MAX(ts)) AS BIGINT) AS duration_us
FROM s GROUP BY user_id, session_seq
"""


def events_sessionize_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization in batch (the windowed-cumsum islands
    pattern; the streaming twin is ``streaming_sessionize``'s
    session_window). lag -> gap flag -> running sum = session id, then a
    per-session rollup. Duration stays in exact integer microseconds (no
    float rounding seam).

    ONE shuffle: the lag and running-sum windows share the ``user_id``
    partitioning, and the (user_id, session_seq) agg's clustering is
    satisfied by it (subset rule) — the whole plan rides a single
    Exchange.

    NULL-event-time convention (r16, found by extending the fuzzer to
    this entry): the streaming twin and the whole timeline family got
    the convention at r15 but this batch form was missed — a NULL-ts
    event sat NULLS FIRST in Spark's session sort (its own phantom
    first session, shifting every later session_seq) and NULLS LAST in
    DuckDB's (silently merged into the last session). No event time,
    no position on the timeline: filtered both sides, the filter
    reaches the parquet scan.
    """
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    e = (
        read_table(spark, sf_dir, "events")
        .filter(F.col("ts").isNotNull())
        .select("user_id", "event_id", "ts")
    )
    e = e.withColumn("prev_ts", F.lag("ts").over(w))
    gap_us = F.unix_micros("ts") - F.unix_micros("prev_ts")
    e = e.withColumn(
        "new_sess",
        F.when(F.col("prev_ts").isNull() | (gap_us > 1_800_000_000), 1).otherwise(0),
    )
    e = e.withColumn(
        "session_seq",
        F.sum("new_sess").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    return e.groupBy("user_id", F.col("session_seq").cast("long").alias("session_seq")).agg(
        F.count("*").alias("n_events"),
        F.min("ts").alias("session_start"),
        F.max("ts").alias("session_end"),
        (F.unix_micros(F.max("ts")) - F.unix_micros(F.min("ts"))).alias("duration_us"),
    )


# ---------------------------------------------------------------------------
# distribution moments (manual power sums — identical formula both engines)
# ---------------------------------------------------------------------------

MOMENTS_ORACLE = """
WITH m AS (
    SELECT o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n,
           AVG(o_totalprice) AS m1,
           AVG(o_totalprice * o_totalprice) AS m2,
           AVG(o_totalprice * o_totalprice * o_totalprice) AS m3,
           STDDEV_SAMP(o_totalprice) AS sd,
           MEDIAN(o_totalprice) AS med
    FROM orders GROUP BY o_orderpriority
)
SELECT o_orderpriority, n,
       -- mean/median also get + 0.0 (r16 extended -0.0 probe, seed
       -- 20262012): a group whose only price is a stored -0.0 has
       -- mean/median exactly -0.0, same signed-zero ROUND class as
       -- skewness below; stddev is non-negative by construction
       ROUND(m1, 2) + 0.0 AS mean_price,
       ROUND(sd, 2) AS stddev_price,
       ROUND(med, 2) + 0.0 AS median_price,
       -- + 0.0 canonicalizes NEGATIVE ZERO (r16, found by the closing
       -- fuzz batch at seed 20260895 — the standardize-oracle class
       -- from r15): a tiny negative third central moment rounds to
       -- -0.000 under DuckDB's sign-preserving ROUND while Spark's
       -- BigDecimal round has no signed zero
       ROUND((m3 - 3 * m1 * m2 + 2 * m1 * m1 * m1)
             / POWER(m2 - m1 * m1, 1.5), 3) + 0.0 AS skewness_price
FROM m
"""


def stats_moments_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group distribution profile: n / mean / sample stddev / exact
    median / skewness. Skewness is computed from RAW POWER SUMS with the
    identical formula on both engines — Spark's ``skewness`` is the
    population g1 while DuckDB's applies the sample bias correction, so
    the built-ins would disagree by construction; power sums sidestep the
    semantic fork entirely. Single hash-agg shuffle with map-side
    partials (median is exact PERCENTILE_CONT — swap for
    ``percentile_approx`` at 100 TB).
    """
    x = F.col("o_totalprice")
    m = (
        read_table(spark, sf_dir, "orders")
        .groupBy("o_orderpriority")
        .agg(
            F.count("*").alias("n"),
            F.avg(x).alias("m1"),
            F.avg(x * x).alias("m2"),
            F.avg(x * x * x).alias("m3"),
            F.stddev_samp(x).alias("sd"),
            F.median(x).alias("med"),
        )
    )
    m1, m2, m3 = F.col("m1"), F.col("m2"), F.col("m3")
    return m.select(
        "o_orderpriority",
        "n",
        F.round(m1, 2).alias("mean_price"),
        F.round(F.col("sd"), 2).alias("stddev_price"),
        F.round(F.col("med"), 2).alias("median_price"),
        F.round(
            (m3 - 3 * m1 * m2 + 2 * m1 * m1 * m1) / F.pow(m2 - m1 * m1, F.lit(1.5)), 3
        ).alias("skewness_price"),
    )


# ---------------------------------------------------------------------------
# window distribution family: percent_rank / cume_dist / ntile
# ---------------------------------------------------------------------------

WINDOW_DISTRIBUTION_ORACLE = """
SELECT o_orderkey, o_orderpriority,
       ROUND(PERCENT_RANK() OVER w, 6) AS pct_rank,
       ROUND(CUME_DIST() OVER w, 6) AS cume,
       CAST(NTILE(4) OVER w AS BIGINT) AS quartile
FROM orders
WINDOW w AS (PARTITION BY o_orderpriority
             ORDER BY o_totalprice ASC NULLS LAST, o_orderkey ASC NULLS LAST)
"""


def window_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The distribution window trio (the only window functions the
    relational family didn't already cover). The ORDER BY carries
    ``o_orderkey`` as a total tiebreak so cume_dist and ntile are
    deterministic. One window shuffle on the partition key.

    NULLS LAST pinned explicitly (r15, found by
    tools/fuzz_differential.py): a NULL totalprice ranked FIRST under
    Spark's default ascending sort and LAST in DuckDB's, shifting
    every percent_rank/cume_dist in the partition — the same class as
    the rank-tiebreak fix; unknown sorts last.
    """
    w = Window.partitionBy("o_orderpriority").orderBy(
        F.col("o_totalprice").asc_nulls_last(),
        F.col("o_orderkey").asc_nulls_last(),
    )
    return read_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderpriority",
        F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
        F.round(F.cume_dist().over(w), 6).alias("cume"),
        F.ntile(4).over(w).cast("long").alias("quartile"),
    )


# WHERE ts IS NOT NULL (r15, found by tools/fuzz_differential.py):
# Spark's window() EXCLUDES rows with NULL event time, while the bare
# epoch arithmetic kept four NULL-window rows per event type — the same
# no-event-time-no-window convention as the tumbling twin.
# time_bucket, not epoch_us // (r16, found by probing PRE-1970
# timestamps): DuckDB's ``//`` TRUNCATES toward zero (-7 // 2 = -3,
# measured), so a negative off-grid epoch snapped to the grid point
# ABOVE the event and every window shifted one slide late — while
# Spark's grouped window() floors correctly at any epoch (measured:
# 1963-04-11 16:13:03 → starts {15:15..16:00} in Spark, the correct
# containing set). time_bucket(INTERVAL, ts) floors on both sides of
# the epoch (measured: 1963 16:13:03 → 16:00), and its sub-day origin
# (2000-01-01) sits on the same 15-minute grid as epoch 0.
SLIDING_WINDOW_ORACLE = """
SELECT time_bucket(INTERVAL '15 minutes', ts) - k.k * INTERVAL '15 minutes'
           AS window_start,
       event_type,
       CAST(count(*) AS BIGINT) AS n_events,
       ROUND(SUM(value), 2) AS sum_value
FROM events, (SELECT unnest(range(4)) AS k) k
WHERE ts IS NOT NULL
GROUP BY 1, 2
"""


def events_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding (hopping) windows in batch: 1-hour windows every 15
    minutes — each event lands in exactly 4 windows. Spark's ``window()``
    expression expands the 4 assignments JVM-side before ONE hash
    aggregation (no self-join, no 4x shuffle of the input: the explode
    happens map-side and partial aggregation collapses it before the
    exchange). The oracle replicates Spark's epoch-aligned window starts
    via ``time_bucket`` (floor-to-grid), so both engines bucket any
    timestamp identically.

    PRE-EPOCH contract (r16, found by probing extreme timestamps): the
    old oracle's ``epoch_us(ts) // slide`` snapped a NEGATIVE off-grid
    epoch to the grid point ABOVE the event — DuckDB's ``//``
    TRUNCATES toward zero (``-7 // 2 = -3``, measured) — shifting all
    four windows one slide late for every pre-1970 event, while
    Spark's grouped ``window()`` floors correctly at any epoch
    (measured: 1963-04-11 16:13:03 → starts {15:15..16:00}, exactly
    the containing set). ``time_bucket(INTERVAL '15 minutes', ts)``
    floors on both sides of the epoch and its sub-day origin
    (2000-01-01) sits on the same 15-minute grid as epoch 0. Pinned by
    ``test_sliding_window_pre_epoch_floor``; the tumbling twin already
    agreed across 1900-2100 (its oracle never divided epochs)."""
    ev = read_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour", "15 minutes").alias("w"), "event_type")
        .agg(F.count("*").alias("n_events"), F.round(F.sum("value"), 2).alias("sum_value"))
        .select(F.col("w.start").alias("window_start"), "event_type", "n_events", "sum_value")
    )


# ---------------------------------------------------------------------------
# per-user behavioral sequences (event-stream → training-sequence corpus)
# ---------------------------------------------------------------------------

# Deterministic history cap (VERDICT r5 #2): real sequence pipelines
# truncate — an unbounded per-user collect is a single-row OOM at 100 TB
# the moment one hot key (bot, SDK retry storm) accumulates 10^8 events.
# The cap keeps the LATEST MAX_SEQ_EVENTS events per user, selected by
# row_number over (ts DESC, event_id DESC) so the boundary is
# total-ordered and identical across engines/partitionings; the emitted
# sequence stays chronological. n_events_total preserves the uncapped
# count (it rides the same user_id exchange as a count window).
MAX_SEQ_EVENTS = 64

USER_SEQUENCES_ORACLE = f"""
WITH ranked AS (
    SELECT user_id, event_id, event_type, ts,
           ROW_NUMBER() OVER (PARTITION BY user_id
                              ORDER BY ts DESC, event_id DESC) AS rn,
           COUNT(*) OVER (PARTITION BY user_id) AS n_total
    FROM events WHERE ts IS NOT NULL
)
SELECT user_id,
       -- COALESCE '' (r16, found the first run after the harness
       -- learned to hash NULL differently from the empty string): a
       -- user whose kept events ALL have NULL event_type gets '' from
       -- Spark's array_join (it drops NULL elements and joins the
       -- empty remainder) but NULL from string_agg (skips NULLs,
       -- all-NULL group -> NULL) — the r14 array_functions convention
       -- (empty joins are '', never NULL) applies
       COALESCE(string_agg(event_type, '>' ORDER BY ts, event_id), '') AS seq,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(ANY_VALUE(n_total) AS BIGINT) AS n_events_total,
       MIN(ts) AS first_ts,
       MAX(ts) AS last_ts
FROM ranked WHERE rn <= {MAX_SEQ_EVENTS}
GROUP BY user_id
"""


def events_user_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Behavioral-corpus construction: each user's chronological
    event-type sequence as one training string ('view>click>...'),
    capped at the latest MAX_SEQ_EVENTS events (see cap note above),
    (ts, event_id) as the total order so the string is deterministic
    under any partitioning.

    One user_id exchange end-to-end: the truncation row_number, the
    total-count window, and the final aggregation all key by user_id
    (subset-clustering — asserted by test_single_exchange_analytics).
    The shuffle carries event type + two keys, never the full rows; no
    per-user state ever exceeds MAX_SEQ_EVENTS collected structs.

    NULL event time (r15 boundary hunt, uniform with the streaming
    window entries): an event with no timestamp has no place in a
    CHRONOLOGICAL sequence — and the engines disagree on where to put
    one (Spark's array_sort over (ts, ...) structs orders a NULL ts
    FIRST; DuckDB's string_agg ORDER BY ts puts it LAST, silently
    reversing the training string). Filtered out on both sides."""
    ev = read_table(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    w_rn = Window.partitionBy("user_id").orderBy(F.desc("ts"), F.desc("event_id"))
    w_all = Window.partitionBy("user_id")
    kept = (
        ev.select("user_id", "event_id", "event_type", "ts")
        .withColumn("rn", F.row_number().over(w_rn))
        .withColumn("n_total", F.count("*").over(w_all))
        .filter(F.col("rn") <= MAX_SEQ_EVENTS)
    )
    seq = F.array_join(
        F.transform(
            F.array_sort(
                F.collect_list(F.struct("ts", "event_id", "event_type"))
            ),
            lambda s: s["event_type"],
        ),
        ">",
    )
    return kept.groupBy("user_id").agg(
        seq.alias("seq"),
        F.count("*").alias("n_events"),
        F.first("n_total").alias("n_events_total"),
        F.min("ts").alias("first_ts"),
        F.max("ts").alias("last_ts"),
    )


# ---------------------------------------------------------------------------
# last-touch attribution (purchase ← latest click within the window)
# ---------------------------------------------------------------------------

ATTRIBUTION_WINDOW_HOURS = 1

LAST_TOUCH_ORACLE = f"""
WITH clicks AS (
    SELECT user_id, event_id AS click_id, ts AS click_ts
    FROM events WHERE event_type = 'click'
),
purchases AS (
    SELECT user_id, event_id AS purchase_id, ts AS purchase_ts
    FROM events WHERE event_type = 'purchase'
),
joined AS (
    SELECT p.purchase_id, p.user_id, p.purchase_ts, c.click_id, c.click_ts
    FROM purchases p JOIN clicks c
      ON c.user_id = p.user_id
     AND c.click_ts <= p.purchase_ts
     AND c.click_ts >= p.purchase_ts - INTERVAL {ATTRIBUTION_WINDOW_HOURS} HOUR
),
ranked AS (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY purchase_id
                                 ORDER BY click_ts DESC, click_id DESC) AS rn
    FROM joined
)
SELECT purchase_id, user_id, purchase_ts, click_id AS attributed_click_id,
       click_ts AS attributed_click_ts
FROM ranked WHERE rn = 1
"""


def events_last_touch_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marketing attribution: each purchase credits the LATEST click by
    the same user within the attribution window — the interval join +
    per-purchase argmax, collapsed to one aggregation with
    ``max_by(struct)`` ((click_ts, click_id) lexicographic max == the
    ORDER BY DESC tie-break) instead of a window over the joined rows.
    The interval join shuffles both sides on user_id; everything after
    rides that partitioning."""
    ev = read_table(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", F.col("event_id").alias("click_id"), F.col("ts").alias("click_ts")
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id",
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("purchase_ts"),
    )
    joined = purchases.join(clicks, "user_id").filter(
        (F.col("click_ts") <= F.col("purchase_ts"))
        & (
            F.col("click_ts")
            >= F.col("purchase_ts") - F.expr(f"INTERVAL {ATTRIBUTION_WINDOW_HOURS} HOUR")
        )
    )
    best = joined.groupBy("purchase_id", "user_id", "purchase_ts").agg(
        F.max(F.struct("click_ts", "click_id")).alias("m")
    )
    return best.select(
        "purchase_id",
        "user_id",
        "purchase_ts",
        F.col("m.click_id").alias("attributed_click_id"),
        F.col("m.click_ts").alias("attributed_click_ts"),
    )


CATALOG: dict[str, tuple] = {
    "events_funnel": (events_funnel, FUNNEL_ORACLE),
    "events_user_sequences": (events_user_sequences, USER_SEQUENCES_ORACLE),
    "events_last_touch_attribution": (
        events_last_touch_attribution,
        LAST_TOUCH_ORACLE,
    ),
    "events_sliding_window": (events_sliding_window, SLIDING_WINDOW_ORACLE),
    "events_retention_cohort": (events_retention_cohort, RETENTION_ORACLE),
    "events_sessionize_batch": (events_sessionize_batch, SESSIONIZE_BATCH_ORACLE),
    "stats_moments_group": (stats_moments_group, MOMENTS_ORACLE),
    "window_distribution": (window_distribution, WINDOW_DISTRIBUTION_ORACLE),
}
