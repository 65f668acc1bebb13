"""The exports pipeline — the reference's 7-CTE query, Spark-first.

Each function is one pure DataFrame→DataFrame step mirroring one CTE of
/root/reference/exports_results.sql (cited per function). Composition stays
a single lazy Catalyst plan; nothing is collected.

Scale design (100 TB):

* ``results`` JSON is parsed at ONE site with an explicit schema (the
  reference re-parses ``::JSON[]`` at 3 sites — sql:37,124,156) and the raw
  string is dropped immediately, so the wide JSON never rides through
  shuffles. The executed plan still runs that site in two branches: the
  main one and the ``global_stats`` aggregate's.
* Dedup is ONE hash aggregation keyed by ``scenarioId`` (one shuffle with
  map-side partial aggregation).
* Global denominators are computed as one tiny aggregate joined back via
  broadcast — never a single-partition window over a frame that grows
  with the data (SURVEY §2.5 W1-W3); the totals' window runs on the
  ≤#purposes-row aggregate only.
* The reference's per-lender loop (48 full re-runs of the query,
  run_exports_query.py:208-218) collapses into ONE pass: a broadcast
  cross join against the ~48-row lender list with a per-row array lookup —
  zero extra shuffles, output linear in (scenarios x lenders), which is the
  size of the answer itself.

DuckDB semantic subtleties reproduced exactly (verified empirically against
DuckDB 1.0 running the reference SQL — see tests/test_exports_pipeline.py):

* ``MAX_BY(col, time)`` in DuckDB ignores rows where ``col`` IS NULL (it
  returns the latest NON-NULL value). Spark's ``max_by`` instead returns
  the value at the latest row. Faithful form:
  ``F.max_by(col, F.when(col.isNotNull(), time))`` — Spark's max_by skips
  rows whose ordering key is NULL.
* In ``base``, ``CASE WHEN "exportedLender" IS NOT NULL`` resolves to the
  RAW column, not the ``COALESCE(...) AS "exportedLender"`` alias defined
  above it (DuckDB prefers base columns over lateral aliases).
* ``json_extract_string`` yields SQL NULL for both a missing key and a
  JSON ``null`` — matched by ``from_json`` with StringType leaves.
* JSON booleans/numbers are compared AS STRINGS ('true'/'false'/'null') —
  leaves stay StringType (schemas.RESULT_SCHEMA).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from monthly_report_etl_spark.schemas import RESULT_SCHEMA, RESULTS_ARRAY_SCHEMA

PASSTHROUGH_COLUMNS = [
    "primaryIncome",
    "rateType",
    "loanPurpose",
    "totalProposedLoanAmount",
    "applicantCount",
    "householdCount",
    "transactionType",
    "dependantsCount",
    "lvr",
    "lvrBucket",
    "applicantsWithHecs",
    "paygIncome",
    "weeklyRentalIncome",
    "selfEmployedIncome",
]

# Payload columns deduped with MAX_BY(col, time) — exports_results.sql:55-71.
DEDUP_PAYLOAD_COLUMNS = [
    "results",
    "exportedLender",
    *PASSTHROUGH_COLUMNS,
    "exported_lender_result",
]

FINAL_COLUMNS = [
    "associated_lender",
    "applicantCount",
    "applicantsWithHecs",
    "dependantsCount",
    "exportedLender",
    "householdCount",
    "loanPurpose",
    "lvr",
    "lvrBucket",
    "paygIncome",
    "primaryIncome",
    "rateType",
    "scenarioId",
    "selfEmployedIncome",
    "time",
    "totalProposedLoanAmount",
    "transactionType",
    "weeklyRentalIncome",
    "count_all_loan_purpose",
    "count_all_unique_scenario_id",
    "sum_all_total_proposed_loan_amount",
    "performance",
]

PERFORMANCE_LABELS = (
    "Secondary Export Deals",
    "Not Available Scenarios",
    "Failed In Scope Deals",
    "Failed Out of Scope Deals",
    "Export Winner Deals",
    "Deals Not Exported",
    "Unknown",
)


def base(df: DataFrame, start_date: str, end_date: str) -> DataFrame:
    """Step 1 — filter + project + per-event lender-result extraction.

    Mirrors CTE ``base`` (exports_results.sql:14-48): keep valid exports in
    the half-open [start, end) window, NULL lender → '', and extract the
    exported lender's element from the ``results`` array.

    Both the boolean and the two timestamp predicates sit directly on scan
    columns → Catalyst pushes them into the parquet scan (row-group and
    page-level pruning; at 100 TB with date-partitioned layout this is also
    partition pruning).
    """
    raw_lender = F.col("exportedLender")
    parsed = F.from_json("results", RESULTS_ARRAY_SCHEMA)
    return (
        df.filter(
            F.col("isValidExport")
            & (F.col("time") >= F.lit(start_date).cast("timestamp"))
            & (F.col("time") < F.lit(end_date).cast("timestamp"))
        )
        .select(
            "time",
            "scenarioId",
            parsed.alias("results"),  # parse once; raw string dropped here
            F.coalesce(raw_lender, F.lit("")).alias("exportedLender"),
            *PASSTHROUGH_COLUMNS,
            # CASE guard is on the RAW column (sql:34-42); the lambda's
            # comparison also binds the raw column in DuckDB.
            F.when(
                raw_lender.isNotNull(),
                F.get(F.filter(parsed, lambda x: x["lenderName"] == raw_lender), 0),
            ).alias("exported_lender_result"),
        )
    )


def dedup_latest(df: DataFrame) -> DataFrame:
    """Step 2 — latest-record-wins dedup per scenarioId + result collection.

    Mirrors CTE ``grouped_by_scenarioId`` (exports_results.sql:50-81):
    ``MAX(time)`` + 16x ``MAX_BY(col, time)`` + a collected array of every
    event's non-null extracted result.

    One hash-aggregate shuffle on ``scenarioId``; max/max_by get map-side
    partial aggregation, so the shuffle carries one row per (partition,
    scenario), not the raw events.

    DuckDB ``MAX_BY`` NULL-skip semantics reproduced via the conditional
    ordering key (see module docstring).
    """
    aggs = [F.max("time").alias("time")]
    for c in DEDUP_PAYLOAD_COLUMNS:
        if c == "exportedLender":
            # value is COALESCE'd to '' pre-agg (sql:56) → never NULL,
            # so the NULL-skip guard is vacuous; plain max_by.
            aggs.append(F.max_by(c, "time").alias(c))
        else:
            aggs.append(F.max_by(c, F.when(F.col(c).isNotNull(), F.col("time"))).alias(c))
    aggs.append(
        # list(x) then list_filter(x IS NOT NULL) (sql:73-76); Spark's
        # collect_list already drops SQL NULLs — same result.
        F.collect_list("exported_lender_result").alias("exportedLendersResults")
    )
    return df.groupBy("scenarioId").agg(*aggs)


def _failing_export_col() -> Column:
    """Failure rules — exports_results.sql:86-93, string-compared."""
    r = F.col("exported_lender_result")
    return (
        F.when(F.col("exportedLender") == "", F.lit(True))
        .when(
            r.isNull()
            | (r["doesService"] == "false")
            | r["maxBorrowingCapacity"].isNull()
            | (r["maxBorrowingCapacity"] == "null"),
            F.lit(True),
        )
        .otherwise(F.lit(False))
    )


def flag_failing(df: DataFrame) -> DataFrame:
    """Step 3 — classify failing exports (CTE ``with_failing_export``)."""
    return df.withColumn("failingExport", _failing_export_col())


def filter_passing(df: DataFrame) -> DataFrame:
    """Step 4 — keep non-failing exports (CTE ``harsh_filtered``, sql:98-105)."""
    return df.filter(~F.col("failingExport"))


def global_stats(df: DataFrame) -> DataFrame:
    """Step 5 — global denominators (CTE ``with_global_calculations``).

    The reference uses ``COUNT(DISTINCT scenarioId) OVER ()`` /
    ``OVER (PARTITION BY loanPurpose)`` / ``SUM(...) OVER ()``
    (exports_results.sql:107-115). Spark windows cannot take DISTINCT, and
    an empty-partition window over the rows funnels ALL data through one
    partition — a 100 TB non-starter. Faithful rewrite: one tiny aggregate,
    broadcast back once.

    The aggregate is keyed by loanPurpose (map-side partials) and holds
    the per-purpose distinct count and amount sum; the two totals are
    window sums over the whole aggregate. That single-partition window
    sees at most #purposes rows, never a row per scenario. Summing the
    per-purpose distinct counts is valid because step 2 guarantees one row
    per scenarioId, so scenarios never span two purposes.

    Spark shares no diamond subplans, so this branch still runs the
    upstream scan → ``from_json`` → dedup once more beside the main branch;
    with ``get_lenders``' own scan, an export reads the raw input three
    times.

    NULL loanPurpose groups together under PARTITION BY, so the join back
    is null-safe (``eqNullSafe``), and broadcast: no shuffle of the big
    side at any scale.
    """
    everything = Window.partitionBy()
    stats = (
        df.groupBy(F.col("loanPurpose").alias("_lp"))
        .agg(
            F.countDistinct("scenarioId").alias("count_all_loan_purpose"),
            F.sum("totalProposedLoanAmount").alias("_sum_lp"),
        )
        .withColumn(
            "count_all_unique_scenario_id", F.sum("count_all_loan_purpose").over(everything)
        )
        .withColumn("sum_all_total_proposed_loan_amount", F.sum("_sum_lp").over(everything))
    )
    return df.join(
        F.broadcast(stats), F.col("loanPurpose").eqNullSafe(F.col("_lp")), "left"
    ).drop("_lp", "_sum_lp")


def get_lenders(raw_df: DataFrame) -> DataFrame:
    """Distinct non-null lender list from the RAW (unfiltered) fact table.

    Mirrors get_lenders() (run_exports_query.py:38-45), which queries the
    raw view before any time/validity filter. Returns a 1-column DataFrame
    ``target_lender`` — kept distributed; consumers broadcast it.
    """
    return (
        raw_df.select(F.col("exportedLender").alias("target_lender"))
        .filter(F.col("target_lender").isNotNull())
        .distinct()
    )


def _placeholder_result(lender: Column) -> Column:
    """``[json_object('lenderName', lender)]`` default (sql:129): an element
    whose only populated field is lenderName."""
    return F.array(
        F.struct(
            lender.alias("lenderName"),
            F.lit(None).cast("string").alias("doesService"),
            F.lit(None).cast("string").alias("maxBorrowingCapacity"),
            F.lit(None).cast(RESULT_SCHEMA["performance"].dataType).alias("performance"),
        )
    )


def explode_lender_results(df: DataFrame, lenders: DataFrame) -> DataFrame:
    """Step 6 — single-pass multi-lender explode (CTE ``lender_results``).

    The reference re-runs the whole query per lender with ``{lender_name}``
    textually substituted (sql:117-134, run_exports_query.py:208-218). The
    union of those 48 runs is exactly: for every (scenario, lender) pair,
    explode the lender's matching ``results`` elements, or one placeholder
    element when there are none (the COALESCE/NULLIF/[] dance, sql:120-131
    — load-bearing: dropping it loses scenarios).

    Single pass here: broadcast-cross-join the deduped scenarios with the
    lender list, then a JVM-side higher-order ``filter`` per pair and one
    ``explode``. No shuffle at all in this step — the cross join streams
    against a broadcast ~48-row table and the explode is pipelined in the
    same stage. Output cardinality ~ scenarios x lenders, which is the
    reference's own output size.
    """
    target = F.col("target_lender")
    matched = F.filter(F.col("results"), lambda x: x["lenderName"] == target)
    arr = (
        F.when(matched.isNull() | (F.size(matched) == 0), _placeholder_result(target))
        .otherwise(matched)
    )
    return (
        df.crossJoin(F.broadcast(lenders))
        .withColumn("lender_result", F.explode(arr))
        .drop("results", "target_lender")
    )


def extract_performance(df: DataFrame) -> DataFrame:
    """Step 7 — pull lenderName/performance out of the element
    (CTE ``performance_extracted``, sql:136-145)."""
    return (
        df.withColumn("associated_lender", F.col("lender_result")["lenderName"])
        .withColumn("performance_json", F.col("lender_result")["performance"])
        .filter(F.col("associated_lender").isNotNull())
    )


def _secondary_export_exists() -> Column:
    """Correlated EXISTS over the collected results array (sql:152-163) —
    a higher-order ``exists`` over the array column, not a join."""
    assoc = F.col("associated_lender")
    return F.exists(
        "exportedLendersResults",
        lambda e: (e["lenderName"] == assoc)
        & (e["doesService"] == "true")
        & e["maxBorrowingCapacity"].isNotNull()
        & (e["maxBorrowingCapacity"] != "null"),
    )


def classify_performance(df: DataFrame) -> DataFrame:
    """Final CASE — the 7-way performance classifier (sql:150-175).

    Branch order is load-bearing: the Secondary-Export check precedes
    everything else; 'Unknown' is the fallthrough of both nests.
    """
    pj = F.col("performance_json")
    label = (
        F.when(
            (F.col("associated_lender") != F.col("exportedLender")) & _secondary_export_exists(),
            F.lit("Secondary Export Deals"),
        )
        .when(pj.isNull(), F.lit("Not Available Scenarios"))
        .when(
            pj["lenderFailedServicing"] == "true",
            F.when(pj["lenderFailedInScope"] == "true", F.lit("Failed In Scope Deals"))
            .when(pj["lenderFailedOutOfScope"] == "true", F.lit("Failed Out of Scope Deals"))
            .otherwise(F.lit("Unknown")),
        )
        .when(
            pj["lenderPassedServicing"] == "true",
            F.when(pj["lenderExportWinner"] == "true", F.lit("Export Winner Deals")).otherwise(
                F.lit("Deals Not Exported")
            ),
        )
        .otherwise(F.lit("Unknown"))
    )
    return df.withColumn("performance", label)


def final_select(df: DataFrame, sort: str = "within_partitions") -> DataFrame:
    """Final projection + ordering (exports_results.sql:179-205).

    The reference runs ORDER BY once PER LENDER FILE (each per-lender run
    sorts only its own output; the merged file is just file concatenation,
    merge_all_lenders.py:31-55). The faithful-and-scalable equivalent is
    ``sort='within_partitions'``: hash-repartition by lender, sort each
    partition by (lender, scenarioId) — per-lender order identical to the
    reference's files with NO range-sampling pass (a global ``orderBy``
    executes the whole upstream plan twice: once to sample bounds, once to
    sort — measured ~2x wall time at bench scale).

    ``sort='none'`` skips ordering (for callers that enrich further and
    order at the end). The COALESCE on exportedLender is a no-op after
    step 2 but kept for fidelity with sql:184.
    """
    out = df.withColumn(
        "exportedLender", F.coalesce(F.col("exportedLender"), F.lit(""))
    ).select(*FINAL_COLUMNS)
    if sort == "within_partitions":
        return out.repartition("associated_lender").sortWithinPartitions(
            "associated_lender", "scenarioId"
        )
    return out


def exports_pipeline(raw_df: DataFrame, start_date: str, end_date: str) -> DataFrame:
    """Steps 1-7 composed — semantically the union of the reference's
    per-lender runs over every distinct lender, as ONE Catalyst plan.
    The rows are unordered: ``monthly_report`` enriches them further and
    lays out the report itself.
    """
    lenders = get_lenders(raw_df)
    df = base(raw_df, start_date, end_date)
    df = dedup_latest(df)
    df = flag_failing(df)
    df = filter_passing(df)
    df = global_stats(df)
    df = explode_lender_results(df, lenders)
    df = extract_performance(df)
    df = classify_performance(df)
    return final_select(df, sort="none")
