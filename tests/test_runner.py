"""Runner/report parity tests — the reference's pipeline (main.cc:368-409):
schema-grouped scans, per-file error isolation, the five-field report, and
the windowed result pull."""

from __future__ import annotations

import os
import shutil
from pathlib import Path

import duckdb
import pyarrow.parquet as pq
import pytest

from pyspark.sql import functions as F

from c2_duckdb_runner_spark.runner import run_scan, read_disk_stats
from c2_duckdb_runner_spark.runner import _count, _fs_bytes_ops, stream_rows
from c2_duckdb_runner_spark.tables import read_parquet


@pytest.fixture(scope="module")
def datadir(tmp_path_factory, sf_dir):
    """A homogeneous data dir, VPIC-campaign style: N same-schema files."""
    d = tmp_path_factory.mktemp("campaign")
    for i in range(3):
        shutil.copy(f"{sf_dir}/events.parquet", d / f"step{i}.parquet")
    return str(d)


def test_run_scan_report_fields(spark, datadir, sf_dir):
    os.environ["Env_ke"] = "0.5"
    report = run_scan(spark, [datadir])
    oracle = duckdb.sql(
        f"SELECT count(*) FROM '{sf_dir}/events.parquet' WHERE value > 0.5"
    ).fetchone()[0]
    assert report.total_rows == 3 * oracle
    assert report.n_files == 3
    assert report.predicate == "value > 0.5"
    assert report.seconds > 0
    assert report.read_bytes > 0  # engine-requested bytes, post-pushdown
    # main.cc:331-332 reports nonzero read ops; Hadoop's local FS has no op
    # counter, so on Linux the runner substitutes the JVM's kernel
    # read-syscall delta (same per-read semantics). A real scan must have
    # issued at least one read syscall per file.
    if report.ops_from_syscalls:
        assert report.read_ops >= report.n_files
    report.print()


def test_run_scan_isolates_bad_files(spark, datadir, tmp_path, capsys):
    """A corrupt file and a wrong-schema file each log and contribute 0 rows;
    the run continues (main.cc:267-271 semantics)."""
    d = tmp_path / "mixed"
    d.mkdir()
    shutil.copy(f"{datadir}/step0.parquet", d / "good.parquet")
    (d / "corrupt.parquet").write_bytes(b"not a parquet file")
    good = run_scan(spark, [datadir], predicate="value > 0.5")
    mixed = run_scan(spark, [str(d)], predicate="value > 0.5")
    assert mixed.total_rows == good.total_rows // 3
    assert mixed.n_files == 2
    err = capsys.readouterr().err
    assert "error scanning" in err and "corrupt.parquet" in err


def test_run_scan_arbitrary_predicate(spark, datadir):
    """The filter slot takes any Catalyst boolean expression
    (filter_arbitrary_predicate, main.cc:209/226)."""
    r = run_scan(
        spark, [datadir], predicate="event_type IN ('click','view') AND value > 0.9"
    )
    assert r.total_rows > 0


def test_disk_stats_parser():
    """iostats.h parser parity — only asserts shape (CI may lack disks)."""
    disks = os.listdir("/sys/block") if os.path.isdir("/sys/block") else []
    if not disks:
        pytest.skip("no /sys/block")
    s = read_disk_stats(disks[0])
    if s is not None:
        assert s.read_ops >= 0 and s.read_sectors >= 0


# ---------------------------------------------------------------------------
# Hostile-predicate robustness (round-6 verdict item 7): the reference's
# filter slot is an arbitrary SQL string (main.cc:164-169,209). These tests
# PIN the runner's behavior for each hostile shape: every parse/analysis
# error is isolated PER FILE (error_isolate_per_task semantics — the run
# completes, the file contributes 0 rows, stderr records it); no predicate
# shape can fail the whole run or execute anything beyond one boolean
# expression per scan.
# ---------------------------------------------------------------------------


def test_predicate_malformed_sql_isolated(spark, datadir, capsys):
    """Syntax garbage: every file logs a parse error and contributes 0;
    the run itself completes with full file accounting."""
    r = run_scan(spark, [datadir], predicate="value >>> ???")
    assert r.total_rows == 0
    assert r.n_files == 3
    assert "error scanning" in capsys.readouterr().err


def test_predicate_multi_statement_injection_isolated(spark, datadir, capsys):
    """A statement smuggled after a semicolon: the slot is ONE Catalyst
    boolean EXPRESSION, not a statement channel — the parse fails, the
    file is isolated, and nothing else executes."""
    r = run_scan(spark, [datadir], predicate="true; DROP TABLE events")
    assert r.total_rows == 0
    assert r.n_files == 3
    assert "error scanning" in capsys.readouterr().err


def test_predicate_missing_column_isolated(spark, datadir, capsys):
    """A predicate over a column no file has: analysis error per file,
    0 rows, run completes."""
    r = run_scan(spark, [datadir], predicate="no_such_column > 1")
    assert r.total_rows == 0
    assert r.n_files == 3
    assert "error scanning" in capsys.readouterr().err


def test_predicate_non_boolean_isolated(spark, datadir, capsys):
    """A non-boolean expression in the filter slot (a bare numeric
    column): Spark's analyzer rejects it per file; isolated, 0 rows."""
    r = run_scan(spark, [datadir], predicate="value")
    assert r.total_rows == 0
    assert "error scanning" in capsys.readouterr().err


def test_predicate_null_literal_counts_zero_without_error(spark, datadir, capsys):
    """A NULL-typed predicate is VALID SQL: NULL is falsy in a filter, so
    every file scans cleanly and contributes 0 rows — no error lines."""
    r = run_scan(spark, [datadir], predicate="CAST(NULL AS BOOLEAN)")
    assert r.total_rows == 0
    assert r.n_files == 3
    assert "error scanning" not in capsys.readouterr().err


def test_predicate_always_true_counts_everything(spark, datadir, sf_dir):
    """Tautology: total = 3x the fixture's row count (3 copies), proving
    the hostile cases above return 0 by REJECTION, not by accident."""
    ev_rows = spark.read.parquet(f"{sf_dir}/events.parquet").count()
    r = run_scan(spark, [datadir], predicate="1 = 1")
    assert r.total_rows == 3 * ev_rows


def test_predicate_schema_mismatch_isolates_only_bad_files(
    spark, datadir, tmp_path, capsys
):
    """Heterogeneous dir: files WITH the predicate column count normally,
    files WITHOUT it are isolated — per-FILE granularity, not per-run."""
    d = tmp_path / "hetero"
    d.mkdir()
    shutil.copy(f"{datadir}/step0.parquet", d / "events.parquet")
    # a single FILE (not a Spark-written directory — the runner's per-file
    # enumeration skips directories) whose schema lacks `value`
    import pyarrow.parquet as pq

    t = pq.read_table(f"{datadir}/step0.parquet", columns=["event_id", "event_type"])
    pq.write_table(t, str(d / "slim.parquet"))
    whole = run_scan(spark, [datadir], predicate="value > 0.5")
    r = run_scan(spark, [str(d)], predicate="value > 0.5")
    assert r.total_rows == whole.total_rows // 3  # the one good file
    assert "error scanning" in capsys.readouterr().err


def test_predicate_subquery_shape_pinned(spark, datadir, capsys):
    """A scalar subquery in the slot: pinned as ISOLATED — the per-file
    relation is anonymous, so the subquery can only resolve against
    whatever temp views happen to exist; against a name that does not,
    the analyzer rejects it per file and the run completes. (The name is
    deliberately one no other test registers: a bare `events` would
    resolve against a leftover temp view and scan cleanly.)"""
    r = run_scan(
        spark,
        [datadir],
        predicate="value > (SELECT 0.5 FROM events_subq_absent LIMIT 1)",
    )
    assert r.total_rows == 0
    assert r.n_files == 3
    assert "error scanning" in capsys.readouterr().err


@pytest.mark.parametrize("predicate, oracle", [
    ("value > (SELECT max(t) FROM runner_subq_tau)", "value > 0.5"),
    ("event_type IN (SELECT k FROM runner_subq_types)",
     "event_type IN ('click', 'view')"),
])
def test_predicate_resolvable_subquery_counts_like_duckdb(
        spark, datadir, predicate, oracle, capsys):
    """A scalar subquery and an ``IN (SELECT ...)`` over temp views that
    resolve: the single-stage count runs its plan outside the wrapper
    ``DataFrame.count`` uses, and adaptive execution still plans the
    subquery and the join. The group counts like DuckDB, with no per-file
    retry."""
    files = sorted(str(f) for f in Path(datadir).glob("*.parquet"))
    spark.createDataFrame([(0.5,)], "t double").createOrReplaceTempView(
        "runner_subq_tau")
    spark.createDataFrame([("click",), ("view",)], "k string") \
        .createOrReplaceTempView("runner_subq_types")
    try:
        want = duckdb.sql(
            f"SELECT count(*) FROM '{datadir}/*.parquet' WHERE {oracle}"
        ).fetchone()[0]
        assert want > 0
        assert _count(read_parquet(spark, *files), predicate) == want
        r = run_scan(spark, [datadir], predicate=predicate)
        assert r.total_rows == want and r.failed_files == {}
        assert "error scanning" not in capsys.readouterr().err
    finally:
        spark.catalog.dropTempView("runner_subq_tau")
        spark.catalog.dropTempView("runner_subq_types")


# ---------------------------------------------------------------------------
# Grouped scans and windowed transfer: run_scan counts each footer-schema
# group with one parallel scan, and stream_rows pulls one window of
# defaultParallelism partitions per job. Job counts come from the status
# tracker, read after the listener bus has drained.
# ---------------------------------------------------------------------------


def _new_jobs(spark, fn):
    """Run ``fn`` and return its result with the ids of the jobs it ran."""
    sc = spark.sparkContext
    bus = sc._jsc.sc().listenerBus()
    bus.waitUntilEmpty()
    before = max(sc.statusTracker().getJobIdsForGroup(), default=-1)
    out = fn()
    bus.waitUntilEmpty()
    return out, [j for j in sc.statusTracker().getJobIdsForGroup() if j > before]


def _stages(spark, jobs: list[int]) -> list[int]:
    """The number of stages of each job, in job order."""
    tracker = spark.sparkContext.statusTracker()
    return [len(tracker.getJobInfo(j).stageIds) for j in sorted(jobs)]


def _corrupt_column_pages(src: str, dst: str, column: str) -> None:
    """Copy ``src`` with one column chunk's pages overwritten by junk; the
    footer (and so the schema pyarrow reads) stays valid."""
    raw = bytearray(open(src, "rb").read())
    rg = pq.read_metadata(src).row_group(0)
    chunk = next(rg.column(i) for i in range(rg.num_columns)
                 if rg.column(i).path_in_schema == column)
    start = chunk.dictionary_page_offset or chunk.data_page_offset
    raw[start:start + chunk.total_compressed_size] = b"\xff" * chunk.total_compressed_size
    with open(dst, "wb") as fh:
        fh.write(raw)


def test_run_scan_same_schema_files_share_one_scan(spark, datadir, sf_dir):
    """Three same-schema files: schema inference plus one single-stage
    count, not three jobs per file."""
    report, jobs = _new_jobs(
        spark, lambda: run_scan(spark, [datadir], predicate="value > 0.5"))
    oracle = duckdb.sql(
        f"SELECT count(*) FROM '{sf_dir}/events.parquet' WHERE value > 0.5"
    ).fetchone()[0]
    assert report.total_rows == 3 * oracle
    assert report.failed_files == {}
    assert 1 <= len(jobs) <= 3, jobs


def test_count_plan_reads_only_the_predicate_columns(spark, datadir,
                                                     monkeypatch):
    """The plan ``_count`` runs: one scan whose ``ReadSchema`` is the
    predicate's column alone, under no exchange or aggregate. The
    DataFrame is caught where ``_count`` projects its constant; the plan
    read from it is the one its ``toRdd()`` executed."""
    files = sorted(str(f) for f in Path(datadir).glob("*.parquet"))
    df = read_parquet(spark, *files)
    seen = []
    select = type(df).select

    def spy(self, *cols):
        seen.append(select(self, *cols))
        return seen[-1]

    monkeypatch.setattr(type(df), "select", spy)
    n = _count(df, "value > 0.5")
    monkeypatch.undo()
    [rows] = seen
    plan = rows._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan and "HashAggregate" not in plan, plan
    assert "ReadSchema: struct<value:double>" in plan, plan
    assert n == df.filter("value > 0.5").count() > 0


def test_fs_bytes_ops_equals_sum_by_index(spark, datadir):
    """``_fs_bytes_ops`` reads the statistics as one array; its bytes and
    Hadoop ops equal a per-element sum over the same snapshot read by
    index, with no Spark job running in between."""
    run_scan(spark, [datadir], predicate="value > 0.5")  # nonzero counters
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    stats = spark.sparkContext._jvm.org.apache.hadoop.fs.FileSystem \
        .getAllStatistics()
    by_index = [stats.get(i) for i in range(stats.size())]
    want_bytes = sum(s.getBytesRead() for s in by_index)
    want_ops = sum(s.getReadOps() + s.getLargeReadOps() for s in by_index)
    got_bytes, got_ops, _ = _fs_bytes_ops(spark)
    assert want_bytes > 0
    assert (got_bytes, got_ops) == (want_bytes, want_ops)


def test_run_scan_failed_files_reported(spark, datadir, tmp_path, capsys):
    """A corrupt file and a file without the filter column are isolated:
    each logs in the reference's format and lands in ``failed_files`` with
    its first error line; the good file counts normally."""
    d = tmp_path / "failing"
    d.mkdir()
    shutil.copy(f"{datadir}/step0.parquet", d / "good.parquet")
    (d / "corrupt.parquet").write_bytes(b"not a parquet file")
    pq.write_table(pq.read_table(f"{datadir}/step0.parquet",
                                 columns=["event_id", "event_type"]),
                   str(d / "slim.parquet"))
    good = run_scan(spark, [datadir], predicate="value > 0.5")
    r = run_scan(spark, [str(d)], predicate="value > 0.5")
    assert r.total_rows == good.total_rows // 3
    assert r.n_files == 3
    assert sorted(r.failed_files) == [str(d / "corrupt.parquet"),
                                      str(d / "slim.parquet")]
    err = capsys.readouterr().err
    for path, msg in r.failed_files.items():
        assert msg and "\n" not in msg
        assert f"runner: error scanning {path}: {msg}" in err


def test_run_scan_corrupt_pages_isolated_within_group(spark, sf_dir, tmp_path,
                                                      capsys):
    """A file whose footer is valid but whose data pages are junk shares a
    schema group with good files: the group's scan fails, the rerun
    isolates that one file, and the others still match DuckDB. Warm, that
    is the failed group job plus one single-stage job per file."""
    d = tmp_path / "pages"
    d.mkdir()
    for i in range(2):
        shutil.copy(f"{sf_dir}/events.parquet", d / f"good{i}.parquet")
    bad = d / "bad.parquet"
    _corrupt_column_pages(f"{sf_dir}/events.parquet", str(bad), "value")
    r = run_scan(spark, [str(d)], predicate="value > 0.5")
    want = duckdb.sql(
        f"SELECT count(*) FROM read_parquet(['{d}/good0.parquet', "
        f"'{d}/good1.parquet']) WHERE value > 0.5"
    ).fetchone()[0]
    assert r.total_rows == want
    assert list(r.failed_files) == [str(bad)]
    err = capsys.readouterr().err
    assert err.count("runner: error scanning") == 1 and str(bad) in err
    warm, jobs = _new_jobs(
        spark, lambda: run_scan(spark, [str(d)], predicate="value > 0.5"))
    assert warm.total_rows == want and list(warm.failed_files) == [str(bad)]
    assert _stages(spark, jobs) == [1, 1, 1, 1], jobs


def test_run_scan_two_schema_groups(spark, sf_dir, tmp_path, capsys):
    """Two valid schemas that both have the filter column run as two
    groups (two grouped scans, no per-file rerun); the total matches
    DuckDB over every file."""
    d = tmp_path / "twoschemas"
    d.mkdir()
    for i in range(2):
        shutil.copy(f"{sf_dir}/events.parquet", d / f"wide{i}.parquet")
        pq.write_table(pq.read_table(f"{sf_dir}/events.parquet",
                                     columns=["event_id", "value"]),
                       str(d / f"narrow{i}.parquet"))
    r, jobs = _new_jobs(
        spark, lambda: run_scan(spark, [str(d)], predicate="value > 0.5"))
    want = duckdb.sql(
        f"SELECT count(*) FROM read_parquet('{d}/*.parquet', union_by_name=true)"
        " WHERE value > 0.5"
    ).fetchone()[0]
    assert r.total_rows == want
    assert r.n_files == 4 and r.failed_files == {}
    assert "error scanning" not in capsys.readouterr().err
    assert len(jobs) <= 6, jobs


def test_stream_rows_one_job_per_window(spark):
    """Many partitions drain exactly and in order, one job per window of
    defaultParallelism partitions, so at most one window is resident."""
    dp = spark.sparkContext.defaultParallelism
    parts = 4 * dp
    df = spark.range(0, 10_000, numPartitions=parts)
    ids, jobs = _new_jobs(spark, lambda: [
        row.id for batch in stream_rows(df, batch_hint=700)
        for row in batch])
    assert ids == list(range(10_000))
    assert len(jobs) == -(-parts // dp)


def test_stream_rows_keeps_sort_order(spark):
    df = spark.range(0, 5_000, numPartitions=8).select(
        ((F.col("id") * 7919) % 5_000).alias("k")).orderBy(F.col("k").desc())
    keys = [row.k for batch in stream_rows(df) for row in batch]
    assert keys == list(range(4_999, -1, -1))


def test_stream_rows_empty_yields_no_batch(spark):
    assert list(stream_rows(spark.range(0, 100).filter("id < 0"))) == []
    assert list(stream_rows(spark.range(0))) == []


def test_run_scan_hidden_file_reported_not_skipped(spark, datadir, tmp_path,
                                                   capsys):
    """Spark's file listing drops names starting with ``_`` or ``.``, even
    when given explicitly. Such a file in a schema group must not vanish
    from the count silently: it is isolated and reported like any file
    Spark cannot scan, and the good file still counts."""
    d = tmp_path / "hidden"
    d.mkdir()
    shutil.copy(f"{datadir}/step0.parquet", d / "good.parquet")
    shutil.copy(f"{datadir}/step0.parquet", d / "_hidden.parquet")
    good = run_scan(spark, [datadir], predicate="value > 0.5")
    r = run_scan(spark, [str(d)], predicate="value > 0.5")
    assert r.total_rows == good.total_rows // 3
    assert list(r.failed_files) == [str(d / "_hidden.parquet")]
    assert "_hidden.parquet" in capsys.readouterr().err
