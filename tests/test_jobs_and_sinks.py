"""Golden-contract tests for the TSV sinks and the export/merge jobs
(SURVEY §5 test strategy #3: the sink contract can't be oracle-tested)."""

from __future__ import annotations

import contextlib
import csv
import glob
import io
import os

import pytest
from pyspark.sql import functions as F

from monthly_report_etl_spark.config import PipelineConfig
from monthly_report_etl_spark.jobs import run_export_job, run_merge_job
from monthly_report_etl_spark.sources import read_tsv_directory, write_tsv
from monthly_report_etl_spark.sources.csv import _SINK_OPTIONS, _tsv_reader

BOM = b"\xef\xbb\xbf"


def _assert_single_file_matches_coalesce(df, out, tmp_path):
    """``out`` holds what ``write_tsv(df, out, single_file=True, bom=True)``
    must write: exactly the bytes one ``coalesce(1)`` task writes with the
    sink options, BOM once in front, in one part file beside ``_SUCCESS``,
    with no temporary directory left next to it."""
    ref_dir = str(tmp_path / "coalesce_reference")
    df.coalesce(1).write.options(**_SINK_OPTIONS).csv(ref_dir)
    (ref_part,) = glob.glob(os.path.join(ref_dir, "part-*.csv"))
    (part,) = glob.glob(os.path.join(out, "part-*.csv"))
    data = open(part, "rb").read()
    assert data == BOM + open(ref_part, "rb").read()
    assert data.count(BOM) == 1
    assert os.path.exists(os.path.join(out, "_SUCCESS"))
    parent = os.path.dirname(out)
    assert [n for n in os.listdir(parent) if n.startswith(".")] == []


def test_export_and_merge_jobs(spark, fixture_dir, tmp_path):
    out_dir = str(tmp_path / "output")
    merged_dir = str(tmp_path / "result")
    deals = os.path.join(fixture_dir, "exports_deals.parquet")
    comp = os.path.join(fixture_dir, "competitor_list.csv")

    report = run_export_job(
        spark, deals, comp, out_dir, PipelineConfig(), parquet_dir=str(tmp_path / "parquet")
    )
    n_expected = report.count()

    # one directory per lender
    lender_dirs = [d for d in os.listdir(out_dir) if d.startswith("associated_lender=")]
    n_lenders = report.select("associated_lender").distinct().count()
    assert len(lender_dirs) == n_lenders

    merged = run_merge_job(spark, out_dir, merged_dir)
    assert merged.count() == n_expected

    _assert_single_file_matches_coalesce(merged, merged_dir, tmp_path)  # S6


def test_export_job_sized_parquet_output(spark, fixture_dir, tmp_path):
    """The parquet copy is the report plan's own staged write, published by
    rename: the report's rows, in at most ``spark.sql.shuffle.partitions``
    files, each lender's rows in exactly one file and ordered within it by
    (``associated_lender``, ``scenarioId``), as the plan's closing
    ``repartition`` and sort lay them out. No staging or hidden directory
    is left beside either output. AQE's partition coalescing is off here:
    it merges this small fixture's shuffle partitions into one file, where
    a lender could not span two."""
    import pyarrow.parquet as pq

    out_dir = str(tmp_path / "output")
    pq_dir = str(tmp_path / "report_parquet")
    deals = os.path.join(fixture_dir, "exports_deals.parquet")
    comp = os.path.join(fixture_dir, "competitor_list.csv")
    coalesce = "spark.sql.adaptive.coalescePartitions.enabled"
    prev = spark.conf.get(coalesce)
    spark.conf.set(coalesce, "false")
    try:
        report = run_export_job(
            spark, deals, comp, out_dir, PipelineConfig(), parquet_dir=pq_dir
        )
    finally:
        spark.conf.set(coalesce, prev)

    copy = spark.read.parquet(pq_dir)
    assert copy.count() == report.count()
    assert copy.exceptAll(report).count() == 0 and report.exceptAll(copy).count() == 0

    files = sorted(glob.glob(os.path.join(pq_dir, "part-*.parquet")))
    assert 1 < len(files) <= int(spark.conf.get("spark.sql.shuffle.partitions"))
    lenders_seen = []
    for f in files:
        t = pq.read_table(f, columns=["associated_lender", "scenarioId"])
        keys = list(zip(*t.to_pydict().values()))
        assert keys == sorted(keys), f"{f} is not ordered by (associated_lender, scenarioId)"
        lenders_seen += sorted({lender for lender, _ in keys})
    assert len(lenders_seen) == len(set(lenders_seen)), "a lender spans two files"
    assert len(lenders_seen) == report.select("associated_lender").distinct().count()
    assert sorted(os.listdir(tmp_path)) == ["output", "report_parquet"]


def test_tsv_contract_bytes(spark, fixture_dir, tmp_path):
    """Byte-level contract of the sink: BOM, tab delimiter, QUOTE_ALL,
    '' for NULL, parseable with the csv module the reference validates
    with (run_exports_query.py:91-104)."""
    out_dir = str(tmp_path / "contract")
    deals = os.path.join(fixture_dir, "exports_deals.parquet")
    comp = os.path.join(fixture_dir, "competitor_list.csv")
    run_export_job(
        spark, deals, comp, out_dir, PipelineConfig(), parquet_dir=str(tmp_path / "parquet")
    )

    part = glob.glob(os.path.join(out_dir, "associated_lender=*", "part-*.csv"))[0]
    raw = open(part, "rb").read()
    assert raw.startswith(b"\xef\xbb\xbf")  # utf-8-sig BOM
    text = raw.decode("utf-8-sig")
    reader = csv.reader(io.StringIO(text), delimiter="\t")
    header = next(reader)
    assert len(header) > 20
    first = next(reader)
    assert len(first) == len(header)  # arity
    # QUOTE_ALL: every field of the raw first data line is quoted
    first_line = text.splitlines()[1]
    assert all(f.startswith('"') and f.endswith('"') for f in first_line.split("\t"))
    # the publish leaves no hidden temporary directory beside the output
    assert [n for n in os.listdir(tmp_path) if n.startswith(".")] == []


def test_skip_bad_files_drops_whole_file(spark, tmp_path):
    """S4 fidelity: the reference skips a whole unreadable CSV with a
    warning and keeps going (merge_all_lenders.py:46-49). A file with a
    corrupt row must contribute ZERO rows; good files are untouched."""
    d = tmp_path / "tsvs"
    d.mkdir()
    (d / "good.csv").write_text('a\tb\n"1"\t"x"\n"2"\t"y"\n')
    # unclosed quote → CSV tokenizer failure inside the file
    (d / "bad.csv").write_text('a\tb\n"3\t"z"\n"broken\n')

    permissive = read_tsv_directory(spark, str(d), columns=["a", "b"])
    skipped = read_tsv_directory(spark, str(d), columns=["a", "b"], skip_bad_files=True)

    rows = {(r["a"], r["b"]) for r in skipped.collect()}
    assert rows == {("1", "x"), ("2", "y")}  # bad.csv fully dropped
    assert permissive.count() >= skipped.count()


def test_tsv_roundtrip_hostile_strings(spark, tmp_path):
    """Sink-contract fuzz: tabs, quotes, backslashes, and (read back
    with ``multiLine``, as the reference's pandas reader parses them)
    embedded newlines all survive ``write_tsv`` and the report reader's
    options byte-exact, and the single-file sink writes them exactly as
    one ``coalesce(1)`` task would."""
    nasty = [
        ("tab", "a\tb"),
        ("quote", 'say "hi"'),
        ("backslash", "c:\\path\\x"),
        ("newline", "line1\nline2"),
        ("quote_tab", '"\t"'),
        ("trailing_bs", "ends with \\"),
    ]
    df = spark.createDataFrame(nasty, ["k", "v"])
    out = str(tmp_path / "hostile")
    write_tsv(df, out, single_file=True, bom=True)
    read_back = _tsv_reader(spark).option("multiLine", True).csv(out)
    back = {r["k"]: r["v"] for r in read_back.collect()}
    assert back == dict(nasty)
    _assert_single_file_matches_coalesce(df, out, tmp_path)


@pytest.mark.parametrize(
    "shape", ["empty", "first_partition_empty", "23_partitions", "newline_in_column_name"]
)
def test_single_file_sink_matches_coalesce(spark, tmp_path, shape):
    """The single-file sink concatenates per-partition parts on the driver.
    These shapes are where that can differ from one task writing every
    partition: no rows (Spark writes part 0 with only a header), an empty
    part 0 followed by full parts, part numbers past one digit (the parts
    must be taken in numeric partition order, not listing order), and a
    header that spans two lines."""
    frames = {
        "empty": lambda: spark.createDataFrame([], "a string, b int"),
        "first_partition_empty": lambda: spark.range(0, 40, numPartitions=4).filter("id >= 10"),
        "23_partitions": lambda: spark.range(0, 230, numPartitions=23).selectExpr(
            "id", "cast(id * 3 as string) AS s"
        ),
        "newline_in_column_name": lambda: spark.range(0, 30, numPartitions=3).toDF(
            "line1\nline2"
        ),
    }
    df = frames[shape]()
    out = str(tmp_path / "single")
    write_tsv(df, out, single_file=True, bom=True)
    _assert_single_file_matches_coalesce(df, out, tmp_path)


def _tree_bytes(root):
    """{path relative to ``root``: file bytes} for every file under it."""
    return {
        os.path.relpath(os.path.join(folder, n), root): open(os.path.join(folder, n), "rb").read()
        for folder, _, names in os.walk(root)
        for n in names
    }


def test_partitioned_sink_parts_are_bom_plus_spark_bytes(spark, tmp_path):
    """Every per-key part the partitioned sink publishes is the BOM followed
    by exactly the bytes Spark writes for that part with the sink options,
    at the same relative path (the job id in the name aside), next to
    ``_SUCCESS`` and without Spark's ``.crc`` sidecars."""
    df = spark.range(0, 60, numPartitions=4).selectExpr(
        "id", "cast(id * 2 as string) AS twice", "id % 3 AS k"
    )
    ref_dir, out = str(tmp_path / "spark_reference"), str(tmp_path / "published")
    df.write.partitionBy("k").options(**_SINK_OPTIONS).csv(ref_dir)
    write_tsv(df, out, partition_by="k", bom=True)

    def parts(root):
        return {
            (os.path.dirname(rel), os.path.basename(rel).split("-")[1]): data
            for rel, data in _tree_bytes(root).items()
            if os.path.basename(rel).startswith("part-")
        }

    expected = {key: BOM + data for key, data in parts(ref_dir).items()}
    assert len(expected) == 3 * 4
    assert parts(out) == expected
    published = _tree_bytes(out)
    assert sorted(n for n in published if not n.startswith("k=")) == ["_SUCCESS"]
    assert all(os.path.basename(n).startswith("part-") for n in published if n != "_SUCCESS")


@pytest.mark.parametrize(
    "layout, failing_step",
    [
        pytest.param("single_file", "spark_write", id="spark_write"),
        pytest.param("single_file", "concatenation", id="concatenation"),
        pytest.param("partition_by", "spark_write", id="partition_by-spark_write"),
        pytest.param("partition_by", "copy", id="partition_by-copy"),
    ],
)
def test_single_file_sink_failure_keeps_previous_output(
    spark, tmp_path, monkeypatch, layout, failing_step
):
    """A TSV write that fails, in Spark or in the driver-side copy of the
    parts, leaves the previous output in place, byte for byte and
    readable, and removes its temporary directory; for the single merged
    file and for the per-key (``partition_by``) layout alike."""
    import monthly_report_etl_spark.sources.csv as csv_mod

    out = str(tmp_path / "published")
    layout_kw = {"single_file": True} if layout == "single_file" else {"partition_by": "k"}
    good = spark.range(0, 50, numPartitions=4).selectExpr(
        "id", "cast(id * 2 as string) AS twice", "id % 3 AS k"
    )
    write_tsv(good, out, bom=True, **layout_kw)
    before = _tree_bytes(out)

    if failing_step == "spark_write":
        bad = good.withColumn(
            "id", F.when(F.col("id") == 7, F.raise_error(F.lit("injected"))).otherwise(F.col("id"))
        )
    else:
        def broken_concat(*args, **kwargs):
            raise OSError("injected")

        monkeypatch.setattr(csv_mod, "_concat", broken_concat)
        bad = good
    with pytest.raises(Exception, match="injected"):
        write_tsv(bad, out, bom=True, **layout_kw)

    assert _tree_bytes(out) == before
    assert read_tsv_directory(spark, out).count() == 50
    assert [n for n in os.listdir(tmp_path) if n.startswith(".")] == []


def test_export_with_empty_window_keeps_previous_outputs(spark, fixture_dir, tmp_path):
    """An export whose window holds no rows raises ``ValueError`` before
    either sink is touched: last month's TSV and parquet outputs stay byte
    for byte, and no staging or temporary directory is left behind."""
    out_dir = str(tmp_path / "output")
    pq_dir = str(tmp_path / "report_parquet")
    deals = os.path.join(fixture_dir, "exports_deals.parquet")
    comp = os.path.join(fixture_dir, "competitor_list.csv")
    run_export_job(spark, deals, comp, out_dir, PipelineConfig(), parquet_dir=pq_dir)
    before = {d: _tree_bytes(d) for d in (out_dir, pq_dir)}
    assert all(before.values())

    empty_window = PipelineConfig(
        "2020-01-01T00:00:00Z", "2020-02-01T00:00:00Z", "2020-01-28"
    )
    with pytest.raises(ValueError, match="no rows"):
        run_export_job(spark, deals, comp, out_dir, empty_window, parquet_dir=pq_dir)

    assert {d: _tree_bytes(d) for d in (out_dir, pq_dir)} == before
    assert sorted(os.listdir(tmp_path)) == ["output", "report_parquet"]


_REPORT_HEADER = BOM + b'"time"\t"scenarioId"\n'


def _write_lender_report(root, lenders):
    """A per-lender report: one BOM-prefixed TSV with the sink's header per
    ``{lender: data lines}`` entry, in the export's directory layout."""
    for lender, body in lenders.items():
        d = root / f"associated_lender={lender}"
        d.mkdir(parents=True, exist_ok=True)
        (d / "part-00000.csv").write_bytes(_REPORT_HEADER + body)


def test_merge_job_over_header_only_tsvs_raises(spark, tmp_path):
    """A per-lender directory whose files hold only the header merges to no
    rows, and the merge job fails on it instead of passing silently."""
    out_dir = tmp_path / "output"
    _write_lender_report(out_dir, {"lender_a": b"", "lender_b": b""})
    with pytest.raises(ValueError, match="no rows"):
        run_merge_job(spark, str(out_dir), str(tmp_path / "result"))


def test_export_failed_parquet_copy_keeps_previous_outputs(
    spark, fixture_dir, tmp_path, monkeypatch
):
    """An export whose TSV write fails in Spark, after the staged write
    that becomes the new parquet copy, leaves the previous TSV tree and
    the previous parquet tree byte for byte: the copy is renamed in only
    after the TSV publish. No hidden or staging directory is left."""
    import monthly_report_etl_spark.jobs as jobs_mod

    out_dir = str(tmp_path / "output")
    pq_dir = str(tmp_path / "report_parquet")
    deals = os.path.join(fixture_dir, "exports_deals.parquet")
    comp = os.path.join(fixture_dir, "competitor_list.csv")
    run_export_job(spark, deals, comp, out_dir, PipelineConfig(), parquet_dir=pq_dir)
    before = {d: _tree_bytes(d) for d in (out_dir, pq_dir)}
    assert all(before.values())

    real_write_tsv = jobs_mod.write_tsv

    def failing_write_tsv(df, path, **kw):
        lender = F.col("associated_lender")
        bad = df.withColumn(
            "associated_lender",
            F.when(lender.isNotNull(), F.raise_error(F.lit("injected"))).otherwise(lender),
        )
        return real_write_tsv(bad, path, **kw)

    monkeypatch.setattr(jobs_mod, "write_tsv", failing_write_tsv)
    with pytest.raises(Exception, match="injected"):
        run_export_job(spark, deals, comp, out_dir, PipelineConfig(), parquet_dir=pq_dir)

    assert {d: _tree_bytes(d) for d in (out_dir, pq_dir)} == before
    assert sorted(os.listdir(tmp_path)) == ["output", "report_parquet"]


def test_clean_merge_scans_report_once(spark, fixture_dir, tmp_path):
    """A report with no corrupt record merges with at most two Spark jobs
    (the header pass and the merged write; no bad-file probe), into the
    same bytes as the probe route: ``read_tsv_directory(skip_bad_files=True)``,
    ``time`` re-inferred, one BOM-prefixed file."""
    import hashlib

    out_dir = str(tmp_path / "output")
    deals = os.path.join(fixture_dir, "exports_deals.parquet")
    comp = os.path.join(fixture_dir, "competitor_list.csv")
    run_export_job(
        spark, deals, comp, out_dir, PipelineConfig(), parquet_dir=str(tmp_path / "parquet")
    )

    sc = spark.sparkContext
    group = "clean_merge"
    sc.setJobGroup(group, "merge a clean report")
    try:
        run_merge_job(spark, out_dir, str(tmp_path / "result"))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert len(sc.statusTracker().getJobIdsForGroup(group)) <= 2

    probed = read_tsv_directory(spark, out_dir, skip_bad_files=True)
    write_tsv(
        probed.withColumn("time", F.to_timestamp("time")),
        str(tmp_path / "reference"),
        single_file=True,
        bom=True,
    )

    def digest(d):
        (part,) = glob.glob(os.path.join(d, "part-*.csv"))
        return hashlib.sha256(open(part, "rb").read()).hexdigest()

    assert digest(str(tmp_path / "result")) == digest(str(tmp_path / "reference"))


def _spy_on_probe(monkeypatch, merged_dir):
    """Patch the merge job's ``read_tsv_directory``: each call that runs the
    bad-file probe records the merged output's files at that moment."""
    import monthly_report_etl_spark.jobs as jobs_mod

    seen = []
    real = jobs_mod.read_tsv_directory

    def spy(spark, path, **kw):
        if kw.get("skip_bad_files"):
            seen.append(_tree_bytes(merged_dir))
        return real(spark, path, **kw)

    monkeypatch.setattr(jobs_mod, "read_tsv_directory", spy)
    return seen


_GOOD_LENDERS = {
    "lender_a": b'"2025-03-01 00:00:00"\t"a1"\n"2025-03-02 00:00:00"\t"a2"\n',
    "lender_b": b'"2025-03-03 00:00:00"\t"b1"\n',
}


@pytest.mark.parametrize(
    "corrupt",
    [
        # an unclosed quote: the tokenizer fails inside the file
        b'"2025-03-04 00:00:00"\t"c1"\n"2025-03-05\t"c2"\n"broken\n',
        # a row with one field more than the header
        b'"2025-03-04 00:00:00"\t"c1"\n"2025-03-05 00:00:00"\t"c2"\t"extra"\n',
    ],
    ids=["unclosed_quote", "extra_field"],
)
def test_merge_job_drops_corrupt_lender_file(spark, tmp_path, monkeypatch, caplog, corrupt):
    """A lender file holding a corrupt record fails the single-scan merge
    before it publishes, so the previous merged output stays byte for byte
    until the bad-file probe's merge replaces it. That merge holds no row
    from the corrupt file, the warning names the file, and no temporary
    directory is left."""
    import logging

    out_dir = tmp_path / "output"
    merged_dir = str(tmp_path / "result")
    _write_lender_report(out_dir, _GOOD_LENDERS)
    run_merge_job(spark, str(out_dir), merged_dir)
    before = _tree_bytes(merged_dir)

    _write_lender_report(out_dir, {"lender_c": corrupt})
    probes = _spy_on_probe(monkeypatch, merged_dir)
    with caplog.at_level(logging.WARNING, logger="monthly_report_etl_spark.sources.csv"):
        merged = run_merge_job(spark, str(out_dir), merged_dir)

    assert probes == [before]
    assert {r["scenarioId"] for r in merged.collect()} == {"a1", "a2", "b1"}
    (part,) = glob.glob(os.path.join(merged_dir, "part-*.csv"))
    published = list(csv.reader(io.StringIO(open(part, encoding="utf-8-sig").read()), delimiter="\t"))
    assert sorted(row[1] for row in published[1:]) == ["a1", "a2", "b1"]
    assert _tree_bytes(merged_dir) != before
    assert any("associated_lender=lender_c" in m for m in caplog.messages)
    assert sorted(os.listdir(tmp_path)) == ["output", "result"]


@pytest.mark.parametrize("failure", ["missing_report", "merged_copy"])
def test_merge_job_other_failures_skip_the_probe(spark, tmp_path, monkeypatch, failure):
    """A merge that fails for any reason but a corrupt record raises that
    failure as it is and never starts the bad-file probe: a missing report
    directory fails the header pass, and a failed driver-side copy fails
    the merged write after Spark wrote it."""
    import monthly_report_etl_spark.sources.csv as csv_mod

    out_dir = tmp_path / "output"
    merged_dir = str(tmp_path / "result")
    probes = _spy_on_probe(monkeypatch, merged_dir)
    if failure == "missing_report":
        expected = "PATH_NOT_FOUND"
    else:
        _write_lender_report(out_dir, _GOOD_LENDERS)

        def broken_concat(*args, **kwargs):
            raise OSError("injected")

        monkeypatch.setattr(csv_mod, "_concat", broken_concat)
        expected = "injected"
    with pytest.raises(Exception, match=expected):
        run_merge_job(spark, str(out_dir), merged_dir)
    assert probes == []
    assert not os.path.exists(merged_dir)


def test_report_directory_listed_on_driver(spark, fixture_dir, tmp_path):
    """Reading the per-lender report starts no Spark job. Its lender
    directories outnumber Spark's default parallel-listing threshold (32),
    above which every read lists them with a distributed job; the session
    raises the threshold so the driver lists them itself."""
    out_dir = str(tmp_path / "output")
    deals = os.path.join(fixture_dir, "exports_deals.parquet")
    comp = os.path.join(fixture_dir, "competitor_list.csv")
    run_export_job(
        spark, deals, comp, out_dir, PipelineConfig(), parquet_dir=str(tmp_path / "parquet")
    )
    lender_dirs = [d for d in os.listdir(out_dir) if d.startswith("associated_lender=")]
    assert len(lender_dirs) > 32, "fixture no longer crosses Spark's default threshold"

    sc = spark.sparkContext
    group = "report_directory_listing"
    sc.setJobGroup(group, "read the per-lender report")
    try:
        read_tsv_directory(spark, out_dir, columns=["time", "scenarioId"])
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []


def test_merged_time_reinference(spark, fixture_dir, tmp_path):
    """merge job re-infers `time` (merge_all_lenders.py:58-59): the merged
    frame's time parses to timestamps, nulls only where source was null."""
    out_dir, merged_dir = str(tmp_path / "o"), str(tmp_path / "m")
    deals = os.path.join(fixture_dir, "exports_deals.parquet")
    comp = os.path.join(fixture_dir, "competitor_list.csv")
    run_export_job(
        spark, deals, comp, out_dir, PipelineConfig(), parquet_dir=str(tmp_path / "parquet")
    )
    merged = run_merge_job(spark, out_dir, merged_dir)
    assert dict(merged.dtypes)["time"] == "timestamp"
    assert merged.filter(F.col("time").isNull()).count() == 0


def test_write_parquet_sized_targets_file_count(spark, sf_dir, tmp_path):
    """The small-files guard: file count follows the planned input size /
    target ratio — a 3x-unioned input at a 1 MB target writes 3 files, a
    huge target writes exactly 1, and both read back complete."""
    import glob
    import os

    from monthly_report_etl_spark.sources.parquet import (
        read_table,
        write_parquet_sized,
    )

    li = read_table(spark, sf_dir, "lineitem")
    n_rows = li.count()
    tri = li.union(li).union(li)

    one = str(tmp_path / "one")
    n_big = write_parquet_sized(li, one, target_file_mb=10_000)
    assert n_big == 1
    assert len(glob.glob(os.path.join(one, "*.parquet"))) == 1

    multi = str(tmp_path / "multi")
    # sf0.001 lineitem is ~100 KB on disk; at sf0.01 it is ~1 MB — pick
    # the target so the 3x union lands above one file either way
    target = 1.0 if n_rows > 30_000 else 0.1
    n_multi = write_parquet_sized(tri, multi, target_file_mb=target)
    files = glob.glob(os.path.join(multi, "*.parquet"))
    assert n_multi >= 2
    assert len(files) == n_multi
    assert spark.read.parquet(multi).count() == 3 * n_rows


def test_export_job_dual_sink_executes_report_plan_once(
    spark, fixture_dir, tmp_path, monkeypatch
):
    """The report plan is BUILT once and EXECUTED once, by the staged write
    that becomes the parquet copy, and the TSV sink reads those staged
    files. A regression to writing each sink from the computed plan would
    run the full join/agg plan twice. Asserted directly: the report
    builder is called exactly once, an identity UDF at the end of the
    plan sees each report row exactly once, and every input file of the
    frame reaching the TSV writer lies inside the parquet copy's hidden
    publish directory (a computed join plan lists no such files)."""
    import monthly_report_etl_spark.jobs as jobs_mod

    deals = os.path.join(fixture_dir, "exports_deals.parquet")
    comp = os.path.join(fixture_dir, "competitor_list.csv")
    out_dir = str(tmp_path / "tsv")
    pq_dir = str(tmp_path / "parquet")

    plan_builds = []
    rows_computed = spark.sparkContext.accumulator(0)
    real_monthly_report = jobs_mod.monthly_report

    def count_row(v):
        rows_computed.add(1)
        return v

    def counting_monthly_report(*a, **kw):
        plan_builds.append(1)
        df = real_monthly_report(*a, **kw)
        return df.withColumn("scenarioId", F.udf(count_row, "string")("scenarioId"))

    published_at = []
    real_staged_publish = jobs_mod.staged_publish

    @contextlib.contextmanager
    def spy_staged_publish(path):
        with real_staged_publish(path) as new:
            published_at.append(new)
            yield new

    tsv_inputs = []
    real_write_tsv = jobs_mod.write_tsv

    def spy_write_tsv(df, path, **kw):
        tsv_inputs.extend(df.inputFiles())
        return real_write_tsv(df, path, **kw)

    monkeypatch.setattr(jobs_mod, "monthly_report", counting_monthly_report)
    monkeypatch.setattr(jobs_mod, "staged_publish", spy_staged_publish)
    monkeypatch.setattr(jobs_mod, "write_tsv", spy_write_tsv)

    run_export_job(spark, deals, comp, out_dir, PipelineConfig(), parquet_dir=pq_dir)

    assert len(plan_builds) == 1, "report plan built more than once"
    assert rows_computed.value == spark.read.parquet(pq_dir).count(), "report plan executed twice"
    (new_copy,) = published_at
    hidden = os.path.dirname(new_copy)
    assert os.path.dirname(hidden) == str(tmp_path)
    assert os.path.basename(hidden).startswith(".parquet.")
    assert tsv_inputs and all(
        f.startswith(f"file://{new_copy}/") for f in tsv_inputs
    ), f"the TSV sink does not read the staged write: {tsv_inputs[:3]}"


def _export_twice_with_retries(deals, comp, root):
    """Body of ``test_task_retries_write_identical_bytes``, run in its own
    process: one ``local[4,3]`` session (up to 3 attempts per task) runs the
    export twice, clean into ``<root>/clean`` and then into
    ``<root>/retried`` with an identity UDF in each Spark write, the staged
    write and the TSV write, that fails the first attempt of partition 0
    and leaves a marker file ``<root>/fired_<write>``. The JVM is waited
    for before this returns."""
    from pyspark import TaskContext

    import monthly_report_etl_spark.jobs as jobs_mod
    from monthly_report_etl_spark.session import get_spark

    def fail_first_attempt(write):
        def identity(v):
            task = TaskContext.get()
            if task.partitionId() == 0 and task.attemptNumber() == 0:
                open(os.path.join(root, f"fired_{write}"), "w").close()
                raise RuntimeError(f"injected failure in the {write} write")
            return v

        udf = F.udf(identity, "string")
        # coalesce keeps the column non-nullable, as the parquet schema has it
        return lambda df: df.withColumn(
            "scenarioId", F.coalesce(udf("scenarioId"), F.col("scenarioId"))
        )

    spark = get_spark(app_name="export_retries", master="local[4,3]", shuffle_partitions=4)
    jvm = spark.sparkContext._gateway.proc
    try:
        jobs_mod.run_export_job(
            spark, deals, comp, f"{root}/clean/tsv", parquet_dir=f"{root}/clean/parquet"
        )
        staged, tsv = fail_first_attempt("staged"), fail_first_attempt("tsv")
        real_report, real_write_tsv = jobs_mod.monthly_report, jobs_mod.write_tsv
        jobs_mod.monthly_report = lambda *a, **kw: staged(real_report(*a, **kw))
        jobs_mod.write_tsv = lambda df, path, **kw: real_write_tsv(tsv(df), path, **kw)
        jobs_mod.run_export_job(
            spark, deals, comp, f"{root}/retried/tsv", parquet_dir=f"{root}/retried/parquet"
        )
    finally:
        spark.stop()
        jvm.stdin.close()  # the JVM exits when its stdin closes
        jvm.wait(timeout=120)


def test_task_retries_write_identical_bytes(fixture_dir, tmp_path):
    """A task that fails on its first attempt and succeeds on a retry
    changes no byte of either sink: every TSV and parquet file of the
    retried export equals the clean export's at the same relative path,
    Spark's per-write job UUID aside. Both exports run in one JVM: the
    order of a parquet column's encoding list in the footer varies
    between JVMs, so parquet bytes are only comparable within one."""
    import re
    import subprocess
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    deals = os.path.join(fixture_dir, "exports_deals.parquet")
    comp = os.path.join(fixture_dir, "competitor_list.csv")
    code = (
        "import sys; from tests.test_jobs_and_sinks import _export_twice_with_retries; "
        "_export_twice_with_retries(*sys.argv[1:])"
    )
    subprocess.run(
        [sys.executable, "-c", code, deals, comp, str(tmp_path)],
        cwd=repo,
        check=True,
        timeout=600,
    )
    assert os.path.exists(tmp_path / "fired_staged"), "no staged-write task failed"
    assert os.path.exists(tmp_path / "fired_tsv"), "no TSV-write task failed"

    uuid = re.compile(r"[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}")
    for sink in ("tsv", "parquet"):
        clean, retried = (
            {uuid.sub("<job>", rel): data for rel, data in _tree_bytes(tmp_path / run / sink).items()}
            for run in ("clean", "retried")
        )
        assert any(rel.endswith((".csv", ".parquet")) for rel in clean)
        assert sorted(retried) == sorted(clean), sink
        assert [rel for rel in clean if retried[rel] != clean[rel]] == [], sink
