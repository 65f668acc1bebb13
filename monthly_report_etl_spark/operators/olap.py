"""Classic OLAP query shapes over the TPC-H-ish testdata — the multi-join
aggregate pipelines every analytics engine is judged on. These exercise
join ordering, partial aggregation and top-k together (the reference never
joins more than a 48-row dim; a real engine must handle fact-to-fact).

Shapes (names follow the TPC-H queries they resemble; data is the driver's
synthetic star schema, constants picked for selectivity on it):

* shipping-priority (Q3-like): 3-way join, filtered both sides, grouped
  revenue, top-10.
* local-supplier-volume (Q5-like): 5-way join through two dimension
  chains, per-nation revenue.
* returned-items (Q10-like): fact-fact join + customer rollup, top-20.

Scale notes: fact-fact joins shuffle both sides on the join key (no way
around data motion); dims broadcast; aggregates get map-side partials;
top-k is TakeOrdered (per-partition heaps), never a global sort.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from monthly_report_etl_spark.sources.parquet import read_table


SHIPPING_PRIORITY_ORACLE = """
SELECT l.l_orderkey,
       ROUND(SUM(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue,
       CAST(o.o_orderdate AS TIMESTAMP) AS o_orderdate
FROM customer c
JOIN orders o ON c.c_custkey = o.o_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
WHERE c.c_mktsegment = 'BUILDING'
  AND o.o_orderdate < TIMESTAMP '1998-03-15'
  AND l.l_shipdate > TIMESTAMP '1998-03-15'
GROUP BY l.l_orderkey, o.o_orderdate
ORDER BY revenue DESC, l_orderkey
LIMIT 10
"""


def shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q3 shape: dim-filtered 3-way join → grouped revenue → top-10.

    customer broadcasts; orders⋈lineitem shuffles on orderkey once and the
    grouped agg reuses that partitioning (no second exchange)."""
    c = read_table(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = read_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1998-03-15").cast("timestamp")
    )
    li = read_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1998-03-15").cast("timestamp")
    )
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("l_orderkey", "o_orderdate")
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
                "revenue"
            )
        )
        .orderBy(F.desc("revenue"), "l_orderkey")
        .limit(10)
        .select("l_orderkey", "revenue", "o_orderdate")
    )


LOCAL_SUPPLIER_VOLUME_ORACLE = """
SELECT n.n_name,
       ROUND(SUM(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue
FROM customer c
JOIN orders o ON c.c_custkey = o.o_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
JOIN supplier s ON l.l_suppkey = s.s_suppkey AND s.s_nationkey = c.c_nationkey
JOIN nation n ON c.c_nationkey = n.n_nationkey
WHERE o.o_orderdate >= TIMESTAMP '1997-01-01'
  AND o.o_orderdate < TIMESTAMP '1998-01-01'
GROUP BY n.n_name
"""


def local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q5 shape: 5-way join with a cross-dimension equality (supplier and
    customer share a nation) → per-nation revenue. supplier/nation/customer
    broadcast; the single big shuffle is lineitem⋈orders."""
    c = read_table(spark, sf_dir, "customer")
    o = read_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    li = read_table(spark, sf_dir, "lineitem")
    s = read_table(spark, sf_dir, "supplier")
    n = read_table(spark, sf_dir, "nation")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(
            F.broadcast(s),
            (li.l_suppkey == s.s_suppkey) & (s.s_nationkey == c.c_nationkey),
        )
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
                "revenue"
            )
        )
    )


RETURNED_ITEMS_ORACLE = """
SELECT c.c_custkey, c.c_name,
       ROUND(SUM(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue,
       -- + 0.0 canonicalizes the signed zero (r16 finding 41): a stored
       -- -0.0 balance stays -0.0 under DuckDB's sign-preserving ROUND
       -- while Spark's ROUND re-decimalizes through BigDecimal, which
       -- has no signed zero; -0.0 + 0.0 = +0.0, all else unchanged
       ROUND(c.c_acctbal, 2) + 0.0 AS c_acctbal
FROM customer c
JOIN orders o ON c.c_custkey = o.o_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
WHERE l.l_returnflag = 'R'
GROUP BY c.c_custkey, c.c_name, c.c_acctbal
ORDER BY revenue DESC, c_custkey
LIMIT 20
"""


def returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q10 shape: returned-lineitem revenue per customer, top-20."""
    c = read_table(spark, sf_dir, "customer")
    o = read_table(spark, sf_dir, "orders")
    li = read_table(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("c_custkey", "c_name", "c_acctbal")
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
                "revenue"
            )
        )
        .orderBy(F.desc("revenue"), "c_custkey")
        .limit(20)
        .select("c_custkey", "c_name", "revenue", F.round("c_acctbal", 2).alias("c_acctbal"))
    )


REGIONAL_REVENUE_ORACLE = """
SELECT r.r_name,
       ROUND(SUM(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue,
       CAST(COUNT(DISTINCT c.c_custkey) AS BIGINT) AS n_customers
FROM region r
JOIN nation n ON n.n_regionkey = r.r_regionkey
JOIN customer c ON c.c_nationkey = n.n_nationkey
JOIN orders o ON o.o_custkey = c.c_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
WHERE o.o_orderdate >= TIMESTAMP '1996-01-01'
GROUP BY r.r_name
"""


def regional_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full dimension chain region→nation→customer joined into the fact
    side (completes coverage of every testdata table). The three dims
    broadcast as one chained lookup; lineitem⋈orders is the only
    shuffle."""
    r = read_table(spark, sf_dir, "region")
    n = read_table(spark, sf_dir, "nation")
    c = read_table(spark, sf_dir, "customer")
    o = read_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp")
    )
    li = read_table(spark, sf_dir, "lineitem")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("r_name")
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
                "revenue"
            ),
            F.countDistinct("c_custkey").alias("n_customers"),
        )
    )


# expressed as UNION ALL, not DuckDB UNPIVOT (r15 boundary fix): DuckDB's
# UNPIVOT silently EXCLUDES rows whose value is NULL, while Spark's
# unpivot keeps them — the long form of a wide row with a missing metric
# should still carry that metric's NULL (it is the true inverse of the
# pivot). Invisible on the sf part table (no NULL retailprice/size).
UNPIVOT_ORACLE = """
SELECT p_partkey, 'retailprice' AS metric, CAST(p_retailprice AS DOUBLE) AS val
FROM part
UNION ALL
SELECT p_partkey, 'size', CAST(p_size AS DOUBLE) FROM part
"""


def unpivot_part(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide→long unpivot (``stack``/UNPIVOT) — the inverse of A6's pivot.
    NULL metrics are KEPT (Spark's unpivot default); the oracle uses the
    explicit UNION ALL form because DuckDB's UNPIVOT drops NULL cells."""
    p = read_table(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.col("p_retailprice").cast("double").alias("retailprice"),
        F.col("p_size").cast("double").alias("size"),
    ).unpivot("p_partkey", ["retailprice", "size"], "metric", "val")


POSEXPLODE_ORACLE = """
SELECT doc_id, CAST(i - 1 AS BIGINT) AS pos, tok
FROM (
    SELECT doc_id, string_split(text, ' ') AS toks
    FROM documents WHERE doc_id < 20
) t, LATERAL (SELECT unnest(generate_series(1, len(toks))) AS i) g,
     LATERAL (SELECT toks[i] AS tok) x
"""


def posexplode_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """posexplode — ordinal-preserving explode (DuckDB needs a lateral
    generate_series to express the ordinal)."""
    d = read_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 20)
    return d.select(
        "doc_id", F.posexplode(F.split("text", " ")).alias("pos", "tok")
    ).withColumn("pos", F.col("pos").cast("long"))


PROMO_REVENUE_ORACLE = """
SELECT ROUND(100.0 * SUM(CASE WHEN p.p_type = 'PROMO'
                              THEN l.l_extendedprice * (1 - l.l_discount)
                              ELSE 0 END)
             / SUM(l.l_extendedprice * (1 - l.l_discount)), 4) AS promo_revenue_pct
FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
WHERE l.l_shipdate >= TIMESTAMP '1997-09-01'
  AND l.l_shipdate <  TIMESTAMP '1997-10-01'
"""


def promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q14 shape: conditional-revenue ratio over one ship month. The
    shipdate range prunes lineitem at the scan; part broadcasts at test
    SF (at 100 TB part is fact-sized — the partkey equi-join shuffles
    both sides, and the single-row ratio is a map-side partial
    aggregate)."""
    li = read_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-09-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-10-01").cast("timestamp"))
    )
    p = read_table(spark, sf_dir, "part")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .agg(
            F.round(
                100.0
                * F.sum(F.when(F.col("p_type") == "PROMO", rev).otherwise(0.0))
                / F.sum(rev),
                4,
            ).alias("promo_revenue_pct")
        )
    )


ORDER_PRIORITY_SEMIJOIN_ORACLE = """
SELECT o.o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n_orders
FROM orders o
WHERE o.o_orderdate >= TIMESTAMP '1997-01-01'
  AND o.o_orderdate <  TIMESTAMP '1997-04-01'
  AND EXISTS (SELECT 1 FROM lineitem l
              WHERE l.l_orderkey = o.o_orderkey AND l.l_returnflag = 'R')
GROUP BY o.o_orderpriority
ORDER BY o.o_orderpriority
"""


def order_priority_semijoin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q4 shape: EXISTS against the fact side compiled as a LEFT SEMI
    join (no row multiplication, lineitem deduped by the join itself).
    Both sides shuffle on orderkey; the priority rollup is a 5-row agg."""
    o = read_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-04-01").cast("timestamp"))
    )
    li = read_table(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    return (
        o.join(li, o.o_orderkey == li.l_orderkey, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("n_orders"))
        .orderBy("o_orderpriority")
    )


SMALL_QUANTITY_AVG_ORACLE = """
WITH brand_parts AS (
    SELECT p_partkey FROM part WHERE p_brand = 'Brand#7'
),
per_part AS (
    SELECT l.l_partkey, AVG(l.l_quantity) AS avg_qty
    FROM lineitem l JOIN brand_parts b ON l.l_partkey = b.p_partkey
    GROUP BY l.l_partkey
)
SELECT ROUND(SUM(l.l_extendedprice) / 7.0, 2) AS avg_yearly
FROM lineitem l
JOIN per_part a ON l.l_partkey = a.l_partkey
WHERE l.l_quantity < 0.5 * a.avg_qty
"""


def small_quantity_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q17 shape: the correlated per-part AVG subquery decorrelated into
    an aggregate + self-join — the standard rewrite every optimizer
    applies. The brand filter shrinks part to a broadcastable key set; the
    per-part average is computed over the SEMI-FILTERED lineitem (same
    result as the correlated form, since the average is per partkey), and
    the final join is agg-to-fact on partkey, co-partitioned with the agg
    that produced it."""
    bp = read_table(spark, sf_dir, "part").filter(F.col("p_brand") == "Brand#7").select("p_partkey")
    li = read_table(spark, sf_dir, "lineitem").join(
        F.broadcast(bp), F.col("l_partkey") == F.col("p_partkey"), "left_semi"
    )
    per_part = li.groupBy("l_partkey").agg(F.avg("l_quantity").alias("avg_qty"))
    return (
        li.join(
            per_part.withColumnRenamed("l_partkey", "_pk"),
            F.col("l_partkey") == F.col("_pk"),
        )
        .filter(F.col("l_quantity") < 0.5 * F.col("avg_qty"))
        .agg(F.round(F.sum("l_extendedprice") / 7.0, 2).alias("avg_yearly"))
    )


LARGE_ORDERS_ORACLE = """
WITH big AS (
    SELECT l_orderkey, SUM(l_quantity) AS sum_qty
    FROM lineitem GROUP BY l_orderkey HAVING SUM(l_quantity) > 150
)
SELECT c.c_name, c.c_custkey, o.o_orderkey,
       CAST(o.o_orderdate AS TIMESTAMP) AS o_orderdate,
       -- + 0.0: signed-zero canonicalization (r16 finding 41 — a stored
       -- -0.0 total survives DuckDB's ROUND, normalizes in Spark's)
       ROUND(o.o_totalprice, 2) + 0.0 AS o_totalprice,
       ROUND(b.sum_qty, 2) AS sum_qty
FROM big b
JOIN orders o ON o.o_orderkey = b.l_orderkey
JOIN customer c ON c.c_custkey = o.o_custkey
ORDER BY o_totalprice DESC, o_orderkey
LIMIT 20
"""


def large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q18 shape: HAVING over a fact-side rollup, merged back onto orders
    and customer, top-20. The quantity rollup and the orders join share
    the orderkey shuffle; customer broadcasts; top-k is TakeOrdered."""
    li = read_table(spark, sf_dir, "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("sum_qty"))
        .filter(F.col("sum_qty") > 150)
    )
    o = read_table(spark, sf_dir, "orders")
    c = read_table(spark, sf_dir, "customer")
    return (
        big.join(o, big.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .select(
            "c_name",
            "c_custkey",
            "o_orderkey",
            "o_orderdate",
            F.round("o_totalprice", 2).alias("o_totalprice"),
            F.round("sum_qty", 2).alias("sum_qty"),
        )
        .orderBy(F.desc("o_totalprice"), "o_orderkey")
        .limit(20)
    )


FORECAST_REVENUE_ORACLE = """
SELECT ROUND(SUM(l_extendedprice * l_discount), 2) AS forecast_revenue
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1997-01-01'
  AND l_shipdate <  TIMESTAMP '1998-01-01'
  AND l_discount BETWEEN 0.02 AND 0.06
  AND l_quantity < 24
"""


def forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q6 shape: pure scan-filter-aggregate — the query that measures
    whether predicates reach the parquet scan (all three land in
    PushedFilters) and the sum stays in one map-side partial + 1-row
    final. No joins, no wide shuffle at any scale."""
    li = read_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
        & (F.col("l_discount") >= 0.02)
        & (F.col("l_discount") <= 0.06)
        & (F.col("l_quantity") < 24)
    )
    return li.agg(
        F.round(F.sum(F.col("l_extendedprice") * F.col("l_discount")), 2).alias(
            "forecast_revenue"
        )
    )


DORMANT_RICH_CUSTOMERS_ORACLE = """
WITH threshold AS (
    SELECT AVG(c_acctbal) AS avg_bal FROM customer WHERE c_acctbal > 0
)
SELECT c.c_nationkey, CAST(COUNT(*) AS BIGINT) AS n_custs,
       ROUND(SUM(c.c_acctbal), 2) AS total_bal
FROM customer c, threshold t
WHERE c.c_acctbal > t.avg_bal
  AND NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
GROUP BY c.c_nationkey
ORDER BY c.c_nationkey
"""


def dormant_rich_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q22 shape: scalar subquery (global average, broadcast as a 1-row
    cross join) + NOT EXISTS decorrelated into a LEFT ANTI join against
    the fact side, then a per-nation rollup. The anti join shuffles on
    custkey; orders is projected to the join key only before the
    exchange (column pruning keeps the anti side narrow)."""
    c = read_table(spark, sf_dir, "customer")
    o = read_table(spark, sf_dir, "orders").select("o_custkey")
    avg_bal = c.filter(F.col("c_acctbal") > 0).agg(
        F.avg("c_acctbal").alias("avg_bal")
    )
    return (
        c.crossJoin(F.broadcast(avg_bal))
        .filter(F.col("c_acctbal") > F.col("avg_bal"))
        .join(o, F.col("c_custkey") == F.col("o_custkey"), "left_anti")
        .groupBy("c_nationkey")
        .agg(
            F.count("*").alias("n_custs"),
            F.round(F.sum("c_acctbal"), 2).alias("total_bal"),
        )
        .orderBy("c_nationkey")
    )


PRIORITY_LINECOUNT_ORACLE = """
SELECT l.l_returnflag,
       CAST(SUM(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                     THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       CAST(SUM(CASE WHEN o.o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                     THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
WHERE l.l_returnflag IN ('R', 'A')
  AND l.l_shipdate >= TIMESTAMP '1997-01-01'
  AND l.l_shipdate <  TIMESTAMP '1998-01-01'
GROUP BY l.l_returnflag
"""


def priority_linecount(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q12 shape: fact-to-fact equi-join + two-level conditional
    aggregation (IN-list CASE split into high/low counters). The IN and
    range predicates land in the lineitem scan's PushedFilters; the
    priority CASE is evaluated post-join and folds into the map-side
    partial aggregation."""
    o = read_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority")
    li = read_table(spark, sf_dir, "lineitem").filter(
        F.col("l_returnflag").isin("R", "A")
        & (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("l_returnflag")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(~high, 1).otherwise(0)).alias("low_line_count"),
        )
    )


ORDER_COUNT_DISTRIBUTION_ORACLE = """
SELECT c_count, CAST(COUNT(*) AS BIGINT) AS custdist
FROM (
    SELECT c.c_custkey, COUNT(o.o_orderkey) AS c_count
    FROM customer c
    LEFT JOIN orders o
      ON c.c_custkey = o.o_custkey
     AND o.o_orderpriority NOT LIKE '3%'
    GROUP BY c.c_custkey
)
GROUP BY c_count
"""


def order_count_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q13 shape: LEFT OUTER join with a filter INSIDE the join
    condition (NOT LIKE on the right side — semantically different from
    a WHERE, which would drop zero-order customers), COUNT of the
    nullable key per customer, then a histogram of the counts. Two
    aggregations; the second one's input is one row per customer, so the
    custkey exchange dominates and the c_count exchange is tiny."""
    c = read_table(spark, sf_dir, "customer").select("c_custkey")
    o = read_table(spark, sf_dir, "orders").select("o_custkey", "o_orderkey", "o_orderpriority")
    per_cust = (
        c.join(
            o,
            (F.col("c_custkey") == F.col("o_custkey"))
            & ~F.col("o_orderpriority").startswith("3"),
            "left",
        )
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(F.count("*").alias("custdist"))


TOP_REVENUE_SUPPLIER_ORACLE = """
WITH revenue AS (
    SELECT l_suppkey AS supplier_no,
           SUM(l_extendedprice * (1 - l_discount)) AS total_revenue
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1997-01-01'
      AND l_shipdate <  TIMESTAMP '1997-04-01'
    GROUP BY l_suppkey
)
SELECT s.s_suppkey, s.s_name, ROUND(r.total_revenue, 2) AS total_revenue
FROM supplier s JOIN revenue r ON s.s_suppkey = r.supplier_no
WHERE r.total_revenue = (SELECT MAX(total_revenue) FROM revenue)
"""


def top_revenue_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q15 shape: aggregate-then-select-the-max — the revenue rollup is
    computed ONCE (localCheckpoint truncates the lineage so the scalar
    MAX branch and the equality filter both read the materialized 100-row
    aggregate instead of re-scanning lineitem), the 1-row MAX is
    broadcast back, and the supplier dimension joins by broadcast. No
    single-partition window, no second fact scan."""
    li = read_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-04-01").cast("timestamp"))
    )
    revenue = (
        li.groupBy(F.col("l_suppkey").alias("supplier_no"))
        .agg(
            F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias(
                "total_revenue"
            )
        )
        .localCheckpoint()
    )
    mx = revenue.agg(F.max("total_revenue").alias("mx"))
    s = read_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        revenue.join(F.broadcast(mx), F.col("total_revenue") == F.col("mx"))
        .join(F.broadcast(s), F.col("s_suppkey") == F.col("supplier_no"))
        .select("s_suppkey", "s_name", F.round("total_revenue", 2).alias("total_revenue"))
    )


DISJUNCTIVE_BRACKETS_ORACLE = """
SELECT ROUND(SUM(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue
FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
WHERE (p.p_brand = 'Brand#12' AND p.p_size BETWEEN 1 AND 15
       AND l.l_quantity BETWEEN 1 AND 11)
   OR (p.p_brand = 'Brand#23' AND p.p_size BETWEEN 1 AND 25
       AND l.l_quantity BETWEEN 10 AND 20)
   OR (p.p_brand = 'Brand#3' AND p.p_size BETWEEN 1 AND 35
       AND l.l_quantity BETWEEN 20 AND 30)
"""


def disjunctive_brackets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q19 shape: disjunctive multi-bracket predicates spanning BOTH join
    sides. Catalyst splits the OR into single-side conjuncts it can push
    (each bracket's part-side and lineitem-side ranges OR-folded per
    side) and evaluates the cross-side residual post-join; the dimension
    side broadcasts."""
    li = read_table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_quantity", "l_extendedprice", "l_discount"
    )
    p = read_table(spark, sf_dir, "part").select("p_partkey", "p_brand", "p_size")
    bracket = (
        (
            (F.col("p_brand") == "Brand#12")
            & F.col("p_size").between(1, 15)
            & F.col("l_quantity").between(1, 11)
        )
        | (
            (F.col("p_brand") == "Brand#23")
            & F.col("p_size").between(1, 25)
            & F.col("l_quantity").between(10, 20)
        )
        | (
            (F.col("p_brand") == "Brand#3")
            & F.col("p_size").between(1, 35)
            & F.col("l_quantity").between(20, 30)
        )
    )
    return (
        li.join(F.broadcast(p), F.col("p_partkey") == F.col("l_partkey"))
        .filter(bracket)
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
    )


# Attributable shipments only (r15, found by tools/fuzz_differential.py):
# the correlated NOT EXISTS is three-valued, so an l1 line with a NULL
# shipdate qualified VACUOUSLY (nothing is '>' NULL) — crediting a
# supplier whose ship date is unknown as "the last shipper" — while the
# Spark top-2 decorrelation dropped it (NULL smax never equals the order
# max); and the Spark side's per-order supplier count included a
# NULL-suppkey group as "another supplier" where the oracle's
# l2.l_suppkey <> l1.l_suppkey never matches NULL. Both sides now
# consider only lines with a KNOWN supplier and a KNOWN ship date.
LAST_SHIPPER_ORACLE = """
WITH li AS (
    SELECT l_orderkey, l_suppkey, l_shipdate FROM lineitem
    WHERE l_suppkey IS NOT NULL AND l_shipdate IS NOT NULL
)
SELECT s.s_name, CAST(COUNT(DISTINCT l1.l_orderkey) AS BIGINT) AS n_orders
FROM supplier s
JOIN li l1 ON s.s_suppkey = l1.l_suppkey
JOIN orders o ON o.o_orderkey = l1.l_orderkey AND o.o_orderstatus = 'F'
WHERE EXISTS (SELECT 1 FROM li l2
              WHERE l2.l_orderkey = l1.l_orderkey
                AND l2.l_suppkey <> l1.l_suppkey)
  AND NOT EXISTS (SELECT 1 FROM li l3
                  WHERE l3.l_orderkey = l1.l_orderkey
                    AND l3.l_suppkey <> l1.l_suppkey
                    AND l3.l_shipdate > l1.l_shipdate)
GROUP BY s.s_name
"""


def last_shipper(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q21 shape (adapted to the reduced schema): per multi-supplier
    finished order, the supplier(s) whose latest line no other supplier
    shipped after — EXISTS + correlated NOT EXISTS double self-join in
    the oracle. The Spark plan DECORRELATES both into window aggregates
    over one l_orderkey exchange: per (order, supplier) max shipdate,
    then the order-level max / tie-count / second-max trio decides
    "no other supplier shipped later" without ever self-joining lineitem
    (the top-2 trick — at 100 TB the double correlated join is quadratic
    in per-order lines; this is one shuffle)."""
    o = read_table(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F").select(
        "o_orderkey"
    )
    # attributable shipments only (r15): see LAST_SHIPPER_ORACLE
    li = (
        read_table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_suppkey", "l_shipdate")
        .filter(F.col("l_suppkey").isNotNull() & F.col("l_shipdate").isNotNull())
    )
    li = li.join(o, F.col("l_orderkey") == F.col("o_orderkey"), "left_semi")
    per_os = li.groupBy("l_orderkey", "l_suppkey").agg(
        F.max("l_shipdate").alias("smax")
    )
    w = Window.partitionBy("l_orderkey")
    per_os = per_os.withColumn("n_sup", F.count("*").over(w)).withColumn(
        "max1", F.max("smax").over(w)
    )
    # qualifies iff another supplier exists and none shipped strictly
    # later — i.e. this supplier's latest line sits AT the order maximum
    # (ties qualify on both sides: '>' is strict in the NOT EXISTS)
    keep = per_os.filter((F.col("n_sup") >= 2) & (F.col("smax") == F.col("max1")))
    s = read_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        keep.join(F.broadcast(s), F.col("s_suppkey") == F.col("l_suppkey"))
        .groupBy("s_name")
        .agg(F.count_distinct("l_orderkey").alias("n_orders"))
    )


# ---------------------------------------------------------------------------
# Q7/Q8/Q9 shapes (r5): nation-pair volume, market share, product profit
# ---------------------------------------------------------------------------

NATION_PAIR_VOLUME_ORACLE = """
SELECT supp_nation, cust_nation, l_year, ROUND(SUM(volume), 2) AS revenue
FROM (
    SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
           CAST(EXTRACT(year FROM l.l_shipdate) AS BIGINT) AS l_year,
           l.l_extendedprice * (1 - l.l_discount) AS volume
    FROM supplier s
    JOIN lineitem l ON s.s_suppkey = l.l_suppkey
    JOIN orders o ON o.o_orderkey = l.l_orderkey
    JOIN customer c ON c.c_custkey = o.o_custkey
    JOIN nation n1 ON s.s_nationkey = n1.n_nationkey
    JOIN nation n2 ON c.c_nationkey = n2.n_nationkey
    WHERE ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
        OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
      AND l.l_shipdate >= TIMESTAMP '1996-01-01'
      AND l.l_shipdate <  TIMESTAMP '1998-01-01'
) shipping
GROUP BY supp_nation, cust_nation, l_year
"""


def nation_pair_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q7 shape: two independent dimension chains meeting at the
    lineitem-orders fact-fact join, a cross-side OR pair predicate, and
    a (nation, nation, year) rollup.

    Spark-first: the nation dim is pre-filtered to the two names and
    broadcast into supplier/customer BEFORE the fact join, so the OR
    pair condition runs on two cheap tagged columns post-join; the only
    shuffle is lineitem⋈orders on the orderkey."""
    n = read_table(spark, sf_dir, "nation").filter(
        F.col("n_name").isin("NATION_1", "NATION_2")
    )
    s = (
        read_table(spark, sf_dir, "supplier")
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey", F.col("n_name").alias("supp_nation"))
    )
    c = (
        read_table(spark, sf_dir, "customer")
        .join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
        .select("c_custkey", F.col("n_name").alias("cust_nation"))
    )
    li = read_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    o = read_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    joined = (
        li.join(F.broadcast(s), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(c), F.col("o_custkey") == F.col("c_custkey"))
        .filter(
            (
                (F.col("supp_nation") == "NATION_1")
                & (F.col("cust_nation") == "NATION_2")
            )
            | (
                (F.col("supp_nation") == "NATION_2")
                & (F.col("cust_nation") == "NATION_1")
            )
        )
    )
    return (
        joined.groupBy(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").cast("long").alias("l_year"),
        )
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
    )


MARKET_SHARE_ORACLE = """
SELECT o_year,
       ROUND(SUM(CASE WHEN nation = 'NATION_3' THEN volume ELSE 0 END)
             / SUM(volume), 6) AS mkt_share
FROM (
    SELECT CAST(EXTRACT(year FROM o.o_orderdate) AS BIGINT) AS o_year,
           l.l_extendedprice * (1 - l.l_discount) AS volume,
           n2.n_name AS nation
    FROM part p
    JOIN lineitem l ON p.p_partkey = l.l_partkey
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n1 ON c.c_nationkey = n1.n_nationkey
    JOIN region r ON n1.n_regionkey = r.r_regionkey
    JOIN nation n2 ON s.s_nationkey = n2.n_nationkey
    WHERE r.r_name = 'ASIA'
      AND p.p_type = 'PROMO'
      AND o.o_orderdate >= TIMESTAMP '1996-01-01'
      AND o.o_orderdate <  TIMESTAMP '1998-01-01'
) all_nations
GROUP BY o_year
"""


def market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q8 shape: 8-table join (both dimension chains plus part), with
    the share computed as a conditional-sum ratio in ONE aggregation —
    no self-join, no second pass. Every dim broadcasts; the one shuffle
    is lineitem⋈orders."""
    p = read_table(spark, sf_dir, "part").filter(F.col("p_type") == "PROMO").select("p_partkey")
    n = read_table(spark, sf_dir, "nation")
    r = read_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    asia_nations = n.join(
        F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey")
    ).select(F.col("n_nationkey").alias("asia_nationkey"))
    c = (
        read_table(spark, sf_dir, "customer")
        .join(
            F.broadcast(asia_nations),
            F.col("c_nationkey") == F.col("asia_nationkey"),
        )
        .select("c_custkey")
    )
    s = (
        read_table(spark, sf_dir, "supplier")
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey", F.col("n_name").alias("nation"))
    )
    o = read_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    li = read_table(spark, sf_dir, "lineitem")
    vol = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    joined = (
        li.join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .join(F.broadcast(s), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(c), F.col("o_custkey") == F.col("c_custkey"))
    )
    return (
        joined.groupBy(F.year("o_orderdate").cast("long").alias("o_year"))
        .agg(
            F.round(
                F.sum(F.when(F.col("nation") == "NATION_3", vol).otherwise(0.0))
                / F.sum(vol),
                6,
            ).alias("mkt_share")
        )
    )


# No partsupp table in the testdata, so supply cost is proxied as
# 60% of p_retailprice — the Q9 SHAPE (part-name LIKE filter, profit
# expression across two fact columns and a part attribute, nation+year
# rollup) is what is exercised.
PRODUCT_PROFIT_ORACLE = """
SELECT nation, o_year, ROUND(SUM(amount), 2) AS sum_profit
FROM (
    SELECT n.n_name AS nation,
           CAST(EXTRACT(year FROM o.o_orderdate) AS BIGINT) AS o_year,
           l.l_extendedprice * (1 - l.l_discount)
               - 0.6 * p.p_retailprice * l.l_quantity AS amount
    FROM part p
    JOIN lineitem l ON p.p_partkey = l.l_partkey
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
    JOIN orders o ON o.o_orderkey = l.l_orderkey
    JOIN nation n ON s.s_nationkey = n.n_nationkey
    WHERE p.p_name LIKE '%red%'
) profit
GROUP BY nation, o_year
"""


def product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q9 shape: profit per (supplier nation, order year) over parts
    matching a name pattern. part/supplier/nation broadcast; the one
    shuffle is lineitem⋈orders; profit folds two fact columns and the
    broadcast part attribute in one codegen'd expression."""
    p = (
        read_table(spark, sf_dir, "part")
        .filter(F.col("p_name").like("%red%"))
        .select("p_partkey", "p_retailprice")
    )
    n = read_table(spark, sf_dir, "nation")
    s = (
        read_table(spark, sf_dir, "supplier")
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey", F.col("n_name").alias("nation"))
    )
    o = read_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    li = read_table(spark, sf_dir, "lineitem")
    amount = F.col("l_extendedprice") * (1 - F.col("l_discount")) - 0.6 * F.col(
        "p_retailprice"
    ) * F.col("l_quantity")
    joined = (
        li.join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .join(F.broadcast(s), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(o, F.col("l_orderkey") == F.col("o_orderkey"))
    )
    return (
        joined.groupBy(
            "nation", F.year("o_orderdate").cast("long").alias("o_year")
        )
        .agg(F.round(F.sum(amount), 2).alias("sum_profit"))
    )


CHEAPEST_SUPPLIER_ORACLE = """
WITH sc AS (
    SELECT l.l_partkey, s.s_suppkey, s.s_name, s.s_acctbal
    FROM lineitem l JOIN supplier s ON s.s_suppkey = l.l_suppkey
),
ranked AS (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY l_partkey
                                 ORDER BY s_acctbal NULLS LAST, s_suppkey) AS rn
    FROM sc
)
SELECT p.p_partkey, p.p_name, r.s_suppkey, r.s_name,
       -- + 0.0: signed-zero canonicalization (r16 finding 41 — DuckDB's
       -- ROUND preserves -0.0, Spark's BigDecimal round normalizes it)
       ROUND(r.s_acctbal, 2) + 0.0 AS s_acctbal
FROM ranked r JOIN part p ON p.p_partkey = r.l_partkey
WHERE r.rn = 1 AND p.p_type = 'PROMO'
"""


def cheapest_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q2 shape: per-part argmin supplier (the correlated MIN subquery),
    decorrelated to ONE aggregation — ``min(struct(acctbal, suppkey,
    name))`` is the lexicographic argmin with the suppkey tie-break, so
    the whole query is broadcast-join → single hash-agg → broadcast part
    attach. The oracle keeps the faithful ROW_NUMBER form; no distinct
    pre-pass is needed because MIN is duplicate-insensitive.

    NULL-acctbal contract (r16, found by extending the fuzzer to this
    entry): Spark's struct ordering puts a NULL field FIRST ascending,
    so a supplier with an unknown balance beat every priced one — the
    wrong answer under Q2's correlated-MIN semantics, where MIN skips
    NULLs and a NULL-acctbal supplier can never be the argmin. The
    struct now leads with an isNull flag (false < true), which is
    exactly NULLS LAST; a part whose suppliers ALL have NULL balances
    still resolves by the suppkey tie-break, matching the oracle's
    ROW_NUMBER over an all-NULL key. The oracle pins NULLS LAST
    explicitly rather than riding DuckDB's default."""
    s = read_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name", "s_acctbal")
    li = read_table(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey")
    p = (
        read_table(spark, sf_dir, "part")
        .filter(F.col("p_type") == "PROMO")
        .select("p_partkey", "p_name")
    )
    j = li.join(F.broadcast(s), F.col("l_suppkey") == F.col("s_suppkey"))
    agg = j.groupBy("l_partkey").agg(
        F.min(
            F.struct(
                F.col("s_acctbal").isNull().alias("acct_is_null"),
                F.col("s_acctbal").alias("s_acctbal"),
                F.col("s_suppkey").alias("s_suppkey"),
                F.col("s_name").alias("s_name"),
            )
        ).alias("m")
    )
    return agg.join(
        F.broadcast(p), F.col("l_partkey") == F.col("p_partkey")
    ).select(
        "p_partkey",
        "p_name",
        F.col("m.s_suppkey").alias("s_suppkey"),
        F.col("m.s_name").alias("s_name"),
        F.round("m.s_acctbal", 2).alias("s_acctbal"),
    )


YEARLY_GROWTH_ORACLE = """
WITH yearly AS (
    SELECT n.n_name AS nation,
           CAST(EXTRACT(year FROM o.o_orderdate) AS BIGINT) AS o_year,
           -- exact decimal accumulation (r20 fix): the double SUM's
           -- result depends on addend order, and at sf0.001 one
           -- (nation, year) group lands within half an ulp of a .xx5
           -- boundary — Spark's partial-agg order rounded .07 where
           -- DuckDB rounded .08. Casting each (deterministic, per-row
           -- identical) product to DECIMAL makes the sum exact and
           -- order-free on both engines; cast back to DOUBLE so the
           -- output schema is unchanged.
           -- TRY_CAST, not CAST (r21, negatives-corner find): Spark's
           -- session is non-ANSI, so its decimal cast NULLs (and the
           -- SUM skips) any |product| >= 10^18 — DuckDB's plain CAST
           -- raised instead, an ENGINE DIVERGENCE on extreme-magnitude
           -- corners. TRY_CAST makes overflow behavior identical; in
           -- range (every real SF — prices are ~10^4) the two casts
           -- are the same function.
           CAST(ROUND(SUM(TRY_CAST(l.l_extendedprice * (1 - l.l_discount)
                              AS DECIMAL(30,12))), 2) AS DOUBLE) AS revenue
    FROM lineitem l
    JOIN orders o ON o.o_orderkey = l.l_orderkey
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
    JOIN nation n ON n.n_nationkey = s.s_nationkey
    WHERE o.o_orderdate IS NOT NULL
    GROUP BY 1, 2
)
SELECT nation, o_year, revenue,
       ROUND(revenue - LAG(revenue) OVER (PARTITION BY nation ORDER BY o_year),
             2) AS yoy_delta
FROM yearly
"""


def yearly_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Year-over-year revenue delta per supplier nation: the
    window-over-aggregate shape — LAG runs on the tiny aggregated frame
    (nations x years), so the window exchange moves a few hundred rows
    no matter how large the fact table is. The lag consumes the ROUNDED
    revenue so the delta arithmetic is identical across engines.

    NULL-year contract (fuzz-found r15, fixed r16): an order with a NULL
    o_orderdate has no year, and its NULL group would sit at opposite
    sort ends of the LAG window per engine (Spark asc = NULLS FIRST,
    DuckDB = NULLS LAST), shifting every YoY delta in the partition.
    Both sides exclude NULL order dates — the filter reaches the orders
    parquet scan as IsNotNull(o_orderdate) for free.

    Exact-sum contract (sweep-found r20): the revenue SUM accumulates
    in DECIMAL(30,12) (each product cast per-row — deterministic and
    engine-identical — before aggregation) because a double sum is
    addend-order-dependent: at sf0.001 the NATION_15/2000 group's true
    sum sits on a .xx5 rounding boundary and Spark's partial-agg order
    rounded down where DuckDB's rounded up. The decimal sum is exact,
    so ROUND sees the same value on both engines at every SF; the
    result is cast back to DOUBLE to keep the output schema.

    Overflow contract (r21, found by the negatives corner gate): a
    per-row |product| >= 10^18 cannot be represented in DECIMAL(30,12).
    Spark's non-ANSI cast NULLs such a row and the SUM skips it; the
    oracle now TRY_CASTs so DuckDB does the identical thing (its plain
    CAST raised — an engine divergence, not a wrong answer). The
    engine's exact-revenue domain is therefore |price*(1-discount)| <
    10^18 — twelve orders of magnitude above any real price — and rows
    beyond it are excluded identically by both engines rather than
    summed approximately in a re-order-dependent double."""
    li = read_table(spark, sf_dir, "lineitem")
    o = (
        read_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderdate").isNotNull())
        .select("o_orderkey", "o_orderdate")
    )
    s = read_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    n = read_table(spark, sf_dir, "nation")
    yearly = (
        li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(s), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").cast("long").alias("o_year"),
        )
        .agg(
            F.round(
                F.sum(
                    (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
                        "decimal(30,12)"
                    )
                ),
                2,
            )
            .cast("double")
            .alias("revenue")
        )
    )
    w = Window.partitionBy("nation").orderBy("o_year")
    return yearly.select(
        "nation",
        "o_year",
        "revenue",
        F.round(F.col("revenue") - F.lag("revenue").over(w), 2).alias("yoy_delta"),
    )


IMPORTANT_STOCK_ORACLE = """
WITH per_part AS (
    SELECT l.l_partkey,
           SUM(l.l_extendedprice * l.l_quantity) AS value_raw
    FROM lineitem l
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
    JOIN nation n ON n.n_nationkey = s.s_nationkey
    WHERE n.n_name = 'NATION_3'
    GROUP BY 1
)
SELECT l_partkey, ROUND(value_raw, 2) AS part_value
FROM per_part
WHERE value_raw > 0.002 * (SELECT SUM(value_raw) FROM per_part)
"""


def important_stock(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q11 shape (important stock): per-part value restricted to one
    nation's suppliers, HAVING value > fraction * the GLOBAL total over
    the same filtered set. The testdata has no partsupp table, so value
    is lineitem-derived (extendedprice x quantity) instead of
    supplycost x availqty — the plan shape is the point: the scalar
    subquery decorrelates to one extra reduce over the per-part
    aggregate, broadcast back as a one-row cross join (never a second
    scan of the fact table), and the nation restriction is a broadcast
    semi-chain applied BEFORE the groupBy so the aggregate only sees
    1/25th of the rows."""
    li = read_table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_suppkey", "l_extendedprice", "l_quantity"
    )
    s = read_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    n = read_table(spark, sf_dir, "nation").filter(F.col("n_name") == "NATION_3")
    nat_suppliers = s.join(
        F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey")
    ).select("s_suppkey")
    per_part = (
        li.join(F.broadcast(nat_suppliers), F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy("l_partkey")
        .agg(F.sum(F.col("l_extendedprice") * F.col("l_quantity")).alias("value_raw"))
    )
    total = per_part.agg(F.sum("value_raw").alias("grand_total"))
    return (
        per_part.crossJoin(F.broadcast(total))
        .filter(F.col("value_raw") > 0.002 * F.col("grand_total"))
        .select("l_partkey", F.round("value_raw", 2).alias("part_value"))
    )


SUPPLIER_PART_TYPES_ORACLE = """
SELECT p.p_brand, p.p_type, p.p_size,
       COUNT(DISTINCT l.l_suppkey) AS supplier_cnt
FROM lineitem l
JOIN part p ON p.p_partkey = l.l_partkey
WHERE p.p_brand <> 'Brand#13'
  AND p.p_type <> 'PROMO'
  AND p.p_size IN (1, 9, 14, 19, 23, 36, 45, 49)
  AND l.l_suppkey NOT IN (
      SELECT s_suppkey FROM supplier WHERE s_acctbal < 0
  )
GROUP BY 1, 2, 3
"""


def supplier_part_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q16 shape (supplier part-type counts): how many distinct
    suppliers can provide each qualifying (brand, type, size), excluding
    blocklisted suppliers (NOT IN subquery — negative account balance
    stands in for Q16's complaint-comment scan; the testdata has no
    partsupp, so the part<->supplier relationship is the distinct pairs
    observed in lineitem). Plan shape: broadcast ANTI join for the NOT
    IN (the blocklist is tiny), broadcast part-dim filter join, then one
    hash aggregate — COUNT(DISTINCT l_suppkey) is duplicate-insensitive,
    so no distinct pre-pass over the pairs is needed and the only
    exchange is the partial-agg shuffle on the 3 group keys.

    NULL-suppkey contract (r16, found by the closing fuzz batch): SQL's
    three-valued NOT IN drops a NULL-suppkey line (NULL NOT IN (...) is
    NULL), but a left_anti join KEEPS it (NULL equals nothing), so a
    part supplied only by unattributable lines formed a phantom
    supplier_cnt=0 group on the Spark side. A line with no supplier
    cannot witness a supplier anyway — filtered before the anti join,
    pushed to the scan (the olap_last_shipper attributable-shipments
    convention; the blocklist side has no NULL keys by construction,
    so the NOT-IN empty-on-NULL-blocklist frontier does not arise)."""
    li = (
        read_table(spark, sf_dir, "lineitem")
        .filter(F.col("l_suppkey").isNotNull())
        .select("l_partkey", "l_suppkey")
    )
    bad = (
        read_table(spark, sf_dir, "supplier")
        .filter(F.col("s_acctbal") < 0)
        .select("s_suppkey")
    )
    p = (
        read_table(spark, sf_dir, "part")
        .filter(
            (F.col("p_brand") != "Brand#13")
            & (F.col("p_type") != "PROMO")
            & F.col("p_size").isin(1, 9, 14, 19, 23, 36, 45, 49)
        )
        .select("p_partkey", "p_brand", "p_type", "p_size")
    )
    return (
        li.join(F.broadcast(bad), F.col("l_suppkey") == F.col("s_suppkey"), "left_anti")
        .join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.count_distinct("l_suppkey").alias("supplier_cnt"))
    )


DOMINANT_SUPPLIER_ORACLE = """
WITH pair_qty AS (
    SELECT l.l_partkey, l.l_suppkey, SUM(l.l_quantity) AS pair_qty
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    WHERE p.p_name LIKE 'blue%'
      AND l.l_shipdate >= TIMESTAMP '1998-01-01'
      AND l.l_shipdate < TIMESTAMP '1999-01-01'
    GROUP BY 1, 2
),
with_total AS (
    SELECT *, SUM(pair_qty) OVER (PARTITION BY l_partkey) AS part_qty
    FROM pair_qty
)
SELECT DISTINCT s.s_suppkey, s.s_name, n.n_name AS nation
FROM with_total w
JOIN supplier s ON s.s_suppkey = w.l_suppkey
JOIN nation n ON n.n_nationkey = s.s_nationkey
WHERE w.pair_qty > 0.5 * w.part_qty
"""


def dominant_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q20 shape (potential part promotion): suppliers who shipped more
    than half of a flagged part's 1998 volume — Q20's "availqty > half
    the year's shipments" threshold re-expressed against lineitem (no
    partsupp in the testdata), keeping the signature nested structure:
    filtered fact aggregate -> per-part threshold -> semi join up to the
    supplier dim. Plan shape: the name/date filters cut the fact scan
    FIRST (broadcast part-key join + pushed date range), the window
    total runs over the already-aggregated (part, supplier) frame (one
    small exchange on l_partkey), and the supplier/nation dims broadcast
    onto the surviving handful of rows. The distinct collapses suppliers
    dominating several parts and is duplicate-cheap (output is bounded
    by #suppliers)."""
    p = (
        read_table(spark, sf_dir, "part")
        .filter(F.col("p_name").startswith("blue"))
        .select("p_partkey")
    )
    li = read_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1998-01-01") & (F.col("l_shipdate") < "1999-01-01")
    )
    pair = (
        li.join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("l_partkey", "l_suppkey")
        .agg(F.sum("l_quantity").alias("pair_qty"))
    )
    w = Window.partitionBy("l_partkey")
    dominant = pair.withColumn("part_qty", F.sum("pair_qty").over(w)).filter(
        F.col("pair_qty") > 0.5 * F.col("part_qty")
    )
    s = read_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name", "s_nationkey")
    n = read_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    return (
        dominant.join(F.broadcast(s), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey", "s_name", F.col("n_name").alias("nation"))
        .distinct()
    )


CATALOG: dict[str, tuple] = {
    "olap_regional_revenue": (regional_revenue, REGIONAL_REVENUE_ORACLE),
    "olap_shipping_priority": (shipping_priority, SHIPPING_PRIORITY_ORACLE),
    "olap_local_supplier_volume": (local_supplier_volume, LOCAL_SUPPLIER_VOLUME_ORACLE),
    "olap_returned_items": (returned_items, RETURNED_ITEMS_ORACLE),
    "olap_promo_revenue": (promo_revenue, PROMO_REVENUE_ORACLE),
    "olap_order_priority_semijoin": (order_priority_semijoin, ORDER_PRIORITY_SEMIJOIN_ORACLE),
    "olap_small_quantity_avg": (small_quantity_avg, SMALL_QUANTITY_AVG_ORACLE),
    "olap_large_orders": (large_orders, LARGE_ORDERS_ORACLE),
    "olap_forecast_revenue": (forecast_revenue, FORECAST_REVENUE_ORACLE),
    "olap_dormant_rich_customers": (dormant_rich_customers, DORMANT_RICH_CUSTOMERS_ORACLE),
    "olap_priority_linecount": (priority_linecount, PRIORITY_LINECOUNT_ORACLE),
    "olap_order_count_distribution": (order_count_distribution, ORDER_COUNT_DISTRIBUTION_ORACLE),
    "olap_top_revenue_supplier": (top_revenue_supplier, TOP_REVENUE_SUPPLIER_ORACLE),
    "olap_disjunctive_brackets": (disjunctive_brackets, DISJUNCTIVE_BRACKETS_ORACLE),
    "olap_last_shipper": (last_shipper, LAST_SHIPPER_ORACLE),
    "olap_nation_pair_volume": (nation_pair_volume, NATION_PAIR_VOLUME_ORACLE),
    "olap_market_share": (market_share, MARKET_SHARE_ORACLE),
    "olap_product_profit": (product_profit, PRODUCT_PROFIT_ORACLE),
    "olap_cheapest_supplier": (cheapest_supplier, CHEAPEST_SUPPLIER_ORACLE),
    "olap_yearly_growth": (yearly_growth, YEARLY_GROWTH_ORACLE),
    "olap_important_stock": (important_stock, IMPORTANT_STOCK_ORACLE),
    "olap_supplier_part_types": (supplier_part_types, SUPPLIER_PART_TYPES_ORACLE),
    "olap_dominant_supplier": (dominant_supplier, DOMINANT_SUPPLIER_ORACLE),
    "unpivot_part": (unpivot_part, UNPIVOT_ORACLE),
    "posexplode_tokens": (posexplode_tokens, POSEXPLODE_ORACLE),
}
