"""The schema-caching Parquet loader (``tables.read_parquet``): a file set's
schema is inferred once per file version, so a warm load submits no Spark
job, a rewritten file is inferred again, and ``run_scan`` keeps its error
isolation on a warm cache. And the scratch-output rule (``tables.out_path``):
a write-then-read key reads what it wrote from the dataset it was given."""

from __future__ import annotations

import os
import re
import shutil
import sys
from concurrent.futures import ThreadPoolExecutor

import duckdb
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
import pytest

import __spark_entry__ as entrymod
from c2_duckdb_runner_spark import tables
from c2_duckdb_runner_spark.runner import run_scan
from tests.compare import assert_frames_match
from tests.test_runner import _new_jobs, _stages
from tools.oracle_staged import connect

PKG = os.path.join(os.path.dirname(os.path.dirname(__file__)), "c2_duckdb_runner_spark")


def _fresh_table(tmp_path, sf_dir, name: str) -> str:
    """A copy of fixture table ``name`` under a path no test has read yet."""
    d = tmp_path / "sf"
    d.mkdir(exist_ok=True)
    shutil.copy(f"{sf_dir}/{name}.parquet", d / f"{name}.parquet")
    return str(d)


def test_warm_load_submits_no_job(spark, sf_dir, tmp_path):
    d = _fresh_table(tmp_path, sf_dir, "orders")
    cold, cold_jobs = _new_jobs(spark, lambda: tables.load(spark, d, "orders"))
    warm, warm_jobs = _new_jobs(spark, lambda: tables.load(spark, d, "orders"))
    assert len(cold_jobs) >= 1
    assert warm_jobs == []
    assert warm.schema == cold.schema
    assert warm.collect() == cold.collect()


def test_cached_schema_is_sparks_inference(spark, sf_dir, tmp_path):
    """The cache holds Spark's own inference (``events.ts`` infers as
    TIMESTAMP_NTZ, which a pyarrow conversion would make ``timestamp``),
    so a warm ``load`` normalizes ``ts`` exactly as a cold one."""
    d = _fresh_table(tmp_path, sf_dir, "events")
    path = os.path.join(d, "events.parquet")
    cold = tables.load(spark, d, "events")
    warm = tables.load(spark, d, "events")
    (cached,) = [s for k, s in tables._schemas.items() if k[0][0][0] == path]
    assert cached == spark.read.parquet(path).schema
    assert dict(warm.dtypes)["ts"] == dict(cold.dtypes)["ts"] == "timestamp"
    assert warm.collect() == cold.collect()


def test_rewritten_file_is_inferred_again(spark, tmp_path):
    path = str(tmp_path / "t.parquet")
    pq.write_table(pa.table({"a": [1, 2]}), path)
    assert tables.read_parquet(spark, path).columns == ["a"]
    pq.write_table(pa.table({"a": [1, 2], "b": ["x", "y"]}), path)
    df, jobs = _new_jobs(spark, lambda: tables.read_parquet(spark, path))
    assert len(jobs) >= 1
    assert df.columns == ["a", "b"]
    assert [r.b for r in df.orderBy("a").collect()] == ["x", "y"]


def test_directory_is_not_cached(spark, tmp_path):
    """A directory keeps plain ``spark.read.parquet``: a part file
    rewritten in place leaves the directory's own stats unchanged."""
    d = tmp_path / "dir"
    d.mkdir()
    pq.write_table(pa.table({"a": [1]}), d / "part-0.parquet")
    assert tables.read_parquet(spark, str(d)).columns == ["a"]
    pq.write_table(pa.table({"a": [2], "b": ["x"]}), d / "part-0.parquet")
    df, jobs = _new_jobs(spark, lambda: tables.read_parquet(spark, str(d)))
    assert len(jobs) >= 1
    assert [tuple(r) for r in df.collect()] == [(2, "x")]


def test_warm_run_scan_skips_inference(spark, sf_dir, tmp_path):
    """First touch: schema inference, then the count (2 jobs). Warm: the
    count alone, one job of one stage, with DuckDB's count."""
    d = tmp_path / "campaign"
    d.mkdir()
    for i in range(3):
        shutil.copy(f"{sf_dir}/events.parquet", d / f"step{i}.parquet")
    scan = lambda: run_scan(spark, [str(d)], predicate="value > 0.5")  # noqa: E731
    cold, cold_jobs = _new_jobs(spark, scan)
    warm, warm_jobs = _new_jobs(spark, scan)
    assert warm.total_rows == cold.total_rows > 0
    assert cold.failed_files == warm.failed_files == {}
    assert len(warm_jobs) == len(cold_jobs) - 1, (cold_jobs, warm_jobs)
    assert len(cold_jobs) == 2 and _stages(spark, warm_jobs) == [1], cold_jobs
    assert warm.total_rows == duckdb.sql(
        f"SELECT count(*) FROM '{d}/*.parquet' WHERE value > 0.5").fetchone()[0]


def test_missing_filter_column_fails_cold_and_warm(spark, sf_dir, tmp_path, capsys):
    """A cached schema is that file's own, so a file without ``value``
    still fails on the filter instead of reading NULLs."""
    d = tmp_path / "drift"
    d.mkdir()
    shutil.copy(f"{sf_dir}/events.parquet", d / "good.parquet")
    pq.write_table(
        pq.read_table(f"{sf_dir}/events.parquet").drop(["value"]),
        d / "novalue.parquet")
    want = run_scan(spark, [str(d)], predicate="value > 0.5")
    again = run_scan(spark, [str(d)], predicate="value > 0.5")
    bad = str(d / "novalue.parquet")
    assert list(want.failed_files) == list(again.failed_files) == [bad]
    assert again.total_rows == want.total_rows > 0
    assert capsys.readouterr().err.count(f"error scanning {bad}") == 2


def test_concurrent_loads_agree(spark, sf_dir, tmp_path):
    """8 threads (more than the cores) miss on the same key at once: each
    gets the inferred schema and the cache keeps one entry for it."""
    d = _fresh_table(tmp_path, sf_dir, "lineitem")
    path = os.path.join(d, "lineitem.parquet")
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        with ThreadPoolExecutor(max_workers=8) as pool:
            futures = [pool.submit(lambda: tables.load(spark, d, "lineitem").schema)
                       for _ in range(8)]
            schemas = [f.result(timeout=120) for f in futures]
    finally:
        sys.setswitchinterval(interval)
    assert all(s == schemas[0] for s in schemas)
    assert schemas[0] == spark.read.parquet(path).schema
    assert sum(key[0][0][0] == path for key in tables._schemas) == 1


def test_cache_stays_within_bound(spark, tmp_path, monkeypatch):
    monkeypatch.setattr(tables, "SCHEMA_CACHE_SIZE", 3)
    paths = []
    for i in range(5):
        paths.append(str(tmp_path / f"f{i}.parquet"))
        pq.write_table(pa.table({f"c{i}": [i]}), paths[-1])
        tables.read_parquet(spark, paths[-1])
        assert len(tables._schemas) <= 3
    newest = next(reversed(tables._schemas))
    assert newest[0] == ((paths[-1], os.path.getsize(paths[-1]),
                          os.stat(paths[-1]).st_mtime_ns),)


def test_fixture_reads_go_through_tables():
    """One way to load a table: a direct ``spark.read.parquet`` of a
    fixture file would pay schema inference on every load again."""
    direct = re.compile(r"""spark\.read\s*\.parquet\(\s*f["']\{sf_dir\}/""")
    hits = []
    for root, _, files in os.walk(PKG):
        for f in files:
            path = os.path.join(root, f)
            if f.endswith(".py") and path != os.path.join(PKG, "tables.py"):
                with open(path) as fh:
                    if direct.search(fh.read()):
                        hits.append(os.path.relpath(path, PKG))
    assert hits == []


# Keys that write a layout and read it back; each once kept the first
# layout it wrote for a dataset basename.
WRITE_THEN_READ_KEYS = [
    "join_dynamic_partition_pruning",
    "join_bucketed_colocated",
    "scan_recursive_glob",
    "scan_nested_struct_pruning",
    "scan_csv_quarantine",
    "scan_json_multiline",
    "lakehouse_snapshot_timetravel",
    "lakehouse_vacuum_audit",
]

# The twin keeps the rows of these tables whose key is even.
_HALVED = {"orders": "o_orderkey", "customer": "c_custkey", "supplier": "s_suppkey"}


@pytest.fixture(scope="module")
def same_name_twin(sf_dir, tmp_path_factory):
    """A dataset with ``sf_dir``'s basename in another parent directory,
    holding half the orders, customers and suppliers."""
    out = tmp_path_factory.mktemp("twin") / os.path.basename(os.path.normpath(sf_dir))
    out.mkdir()
    for t in tables.TABLES:
        src = os.path.join(sf_dir, f"{t}.parquet")
        if t in _HALVED:
            tbl = pq.read_table(src)
            even = pc.equal(pc.bit_wise_and(tbl[_HALVED[t]], 1), 0)
            pq.write_table(tbl.filter(even), out / f"{t}.parquet")
        else:
            shutil.copy(src, out / f"{t}.parquet")
    return str(out)


def test_out_path_is_per_dataset(sf_dir, same_name_twin):
    a, b = tables.out_path(sf_dir, "x"), tables.out_path(same_name_twin, "x")
    assert a != b
    assert os.path.basename(os.path.dirname(a)).startswith(
        os.path.basename(os.path.normpath(sf_dir)) + "-")
    assert tables.out_path(sf_dir + "/", "x") == a


@pytest.mark.parametrize("key", WRITE_THEN_READ_KEYS)
def test_write_then_read_key_reads_its_own_dataset(spark, sf_dir, same_name_twin, key):
    """In one session, the key matches its oracle on the fixture and then
    on a same-named twin with other rows: nothing written for the first
    dataset is read for the second."""
    for d in (sf_dir, same_name_twin):
        got = entrymod.queries()[key](spark, d).toPandas()
        con = connect(d)
        try:
            want = con.execute(entrymod.oracle_sql()[key]).fetchdf()
        finally:
            con.close()
        assert_frames_match(got, want, f"{key} @ {d}")


def test_scratch_paths_come_from_out_path():
    """``tables.out_path`` is the only scratch-layout decision: no module
    builds a temp path or skips a write because a marker or table exists."""
    banned = re.compile(
        r"c2spark_io|c2spark_buckets|gettempdir|tableExists|/tmp/"
        r"""|["'/]_(SUCCESS|done|built)["']""")
    hits = []
    for root, _, files in os.walk(PKG):
        for f in files:
            path = os.path.join(root, f)
            if f.endswith(".py") and path != os.path.join(PKG, "tables.py"):
                with open(path) as fh:
                    for i, line in enumerate(fh, 1):
                        if banned.search(line):
                            hits.append(f"{os.path.relpath(path, PKG)}:{i}")
    assert hits == []
