"""Batch runner — behavioral parity with the reference's driver pipeline.

The reference (``main.cc:368-409``) reads env config, enumerates files,
fans a per-file filtered scan across a thread pool, and reports to stderr:
predicate, threads, query time, total rows, read ops, read bytes
(``main.cc:327-335``), plus optional kernel disk-stat deltas
(``main.cc:338-363``, ``iostats.h:44-77``).

Spark-first mapping (SURVEY.md §3.1): the fan-out collapses into as few
Spark jobs as the files allow. The runner reads every file's Parquet footer
on the driver, groups the files by schema and counts each group with one
parallel scan — Spark's scheduler *is* the thread pool (`pthread-helper.h`
at cluster scale), one task per file split, and every action is its own
barrier. A group costs two Spark jobs the first time its files are seen
(schema inference, then a single-stage count) and one after, as long as
the files are unchanged: the scan goes through ``tables.read_parquet``,
which keeps each file set's inferred schema. What remains custom is
exactly what SURVEY.md §4 predicted: grouping, metrics harvesting and the
report, no plan-level code.

I/O accounting parity (§3.3): the reference counts bytes the engine
*requests* from the filesystem via a wrapping FileSystem (``main.cc:107-113``)
— i.e. post-pushdown bytes. Our equivalent is Hadoop's
``FileSystem.Statistics`` (every Spark file read goes through it): snapshot
before, delta after. Same semantics, no custom FS wrapper. Hadoop's local FS
has no read-*op* counter, so on local disk the op count comes from the JVM's
kernel read-syscall delta (``/proc/<pid>/io`` syscr — one increment per
read(2)/pread(2), the same per-read semantics as the reference's wrapper).
The footers the runner reads on the driver to group files (pyarrow, in the
Python process) pass through neither counter.

Env contract (same names as the reference, ``main.cc:369-404``):
- ``Env_ke``        filter threshold, default 0.5
- ``Env_jobs``      parallelism, default 32, floor 1
- ``Env_mon_disks`` csv of block devices for /sys/block/<d>/stat deltas

Per-task error isolation (``main.cc:267-271``: a failing file logs and
contributes zero): Spark's default is fail-the-job, so a schema group whose
scan fails is rerun one file per job, each try/excepted — per-file
isolation without flipping ``spark.sql.files.ignoreCorruptFiles`` globally.
"""

from __future__ import annotations

import os
import sys
import time
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.rdd import _load_from_socket
from pyspark.serializers import BatchedSerializer, CPickleSerializer
from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from c2_duckdb_runner_spark.tables import read_parquet

DEFAULT_KE = "0.5"
DEFAULT_JOBS = 32


# --- kernel disk stats (iostats.h:44-77 parity; Linux only) ---------------

@dataclass
class DiskStats:
    read_ops: int = 0
    read_sectors: int = 0
    read_ticks_ms: int = 0

    def __sub__(self, other: "DiskStats") -> "DiskStats":
        return DiskStats(
            self.read_ops - other.read_ops,
            self.read_sectors - other.read_sectors,
            self.read_ticks_ms - other.read_ticks_ms,
        )


def read_disk_stats(disk: str) -> DiskStats | None:
    """Parse /sys/block/<disk>/stat — fields 1-3 are read ios / merges /
    sectors, field 4 read ticks (ms), mirroring iostats.h:64-77."""
    try:
        with open(f"/sys/block/{disk}/stat") as f:
            parts = f.read().split()
        return DiskStats(int(parts[0]), int(parts[2]), int(parts[3]))
    except (OSError, IndexError, ValueError):
        return None


# --- engine-level read accounting (main.cc:107-151 parity) ----------------

def _jvm_read_syscalls(spark: SparkSession) -> int:
    """Kernel read-syscall count (``syscr``) of the executor JVM from
    ``/proc/<pid>/io`` — the local-filesystem substitute for per-read op
    counting. Hadoop's RawLocalFileSystem structurally never increments
    ``readOps`` (only HDFS/S3A call ``incrementReadOps``; local streams
    count bytes alone, and ``getGlobalStorageStatistics`` reads the same
    zero counter), while the reference counts every ``Read`` call its FS
    wrapper sees (``main.cc:107-113``). The kernel's syscr counter has the
    same semantics — one increment per read(2)/pread(2) the engine issued —
    observed at the syscall boundary instead of a wrapper class. In
    ``local[N]`` mode driver == executor, so one pid covers every task."""
    try:
        jvm = spark.sparkContext._jvm
        pid = jvm.java.lang.ProcessHandle.current().pid()
        with open(f"/proc/{pid}/io") as f:
            for line in f:
                if line.startswith("syscr:"):
                    return int(line.split(":", 1)[1])
    except Exception:
        pass  # non-Linux or restricted /proc — ops stay Hadoop-only
    return 0


def _fs_bytes_ops(spark: SparkSession) -> tuple[int, int, int]:
    """Bytes from Hadoop FileSystem.Statistics (post-pushdown bytes the
    engine requested — the reference's headline metric, main.cc:333-334),
    plus BOTH op counters: Hadoop readOps (HDFS/S3A) and the JVM's kernel
    read-syscall count (local fs, see _jvm_read_syscalls). Every snapshot
    carries both units; the caller picks ONE source for the delta after the
    run, so a scheme that starts reporting mid-run can never mix a syscall
    count on one end with a (much smaller) Hadoop op count on the other.
    Reads made outside the JVM — ``run_scan``'s driver-side footer reads
    through pyarrow — are in neither counter."""
    jvm = spark.sparkContext._jvm
    total_bytes = hadoop_ops = 0
    # one array in one call: iterating the py4j List ends in a Java exception
    for s in jvm.org.apache.hadoop.fs.FileSystem.getAllStatistics().toArray():
        total_bytes += s.getBytesRead()
        hadoop_ops += s.getReadOps() + s.getLargeReadOps()
    return total_bytes, hadoop_ops, _jvm_read_syscalls(spark)


@dataclass
class RunReport:
    """The reference's stderr report block (main.cc:327-335, 350-361).

    ``read_bytes``/``read_ops`` cover the Spark scans only: the footers
    ``run_scan`` reads on the driver to group files by schema bypass
    Hadoop's ``FileSystem.Statistics`` and the JVM's ``syscr``.
    ``failed_files`` maps each file that was isolated (logged and counted
    as 0 rows, ``main.cc:267-271``) to the first line of its error.
    """

    predicate: str
    threads: int
    seconds: float
    total_rows: int
    read_bytes: int
    read_ops: int
    n_files: int
    disk_deltas: dict[str, DiskStats] = field(default_factory=dict)
    ops_from_syscalls: bool = False
    failed_files: dict[str, str] = field(default_factory=dict)

    def print(self, out=sys.stderr) -> None:
        print(f"predicate: {self.predicate}", file=out)
        print(f"threads: {self.threads}", file=out)
        print(f"query time: {self.seconds:.6f} s", file=out)
        print(f"total rows: {self.total_rows}", file=out)
        ops_note = ""
        if self.ops_from_syscalls:
            # Hadoop's local FS counts bytes but never read ops; on local
            # disk the op count is the JVM's kernel read-syscall delta
            # (same per-read semantics as the reference's FS wrapper,
            # main.cc:107-113, measured at the syscall boundary — includes
            # the engine's non-data reads too, e.g. shuffle spill).
            ops_note = " (kernel read syscalls; local fs has no op counter)"
        elif self.read_ops == 0 and self.read_bytes > 0:
            ops_note = " (local fs reports bytes only)"
        print(f"total read ops: {self.read_ops}{ops_note}", file=out)
        print(f"total read bytes: {self.read_bytes}", file=out)
        for d, s in self.disk_deltas.items():
            print(
                f"disk {d}: read ops {s.read_ops}, sectors {s.read_sectors}, "
                f"ticks {s.read_ticks_ms} ms",
                file=out,
            )


def _count(df, predicate: str) -> int:
    """``SELECT count(*) FROM df WHERE predicate`` as one map-side stage:
    each task counts its split's matching rows and the driver sums the
    partials (``main.cc:197``, merged as at ``main.cc:273-281``). Unlike
    ``DataFrame.count`` there is no partial aggregate, exchange or final
    aggregate; the scan still reads only the predicate's columns."""
    rows = df.filter(F.expr(predicate)).select(F.lit(1))
    return rows._jdf.queryExecution().toRdd().count()


def _enumerate_files(datadirs: list[str]) -> list[str]:
    """DT_REG enumeration (main.cc:297-324): every regular file, any name."""
    paths: list[str] = []
    for d in datadirs:
        paths.extend(
            os.path.join(d, f)
            for f in sorted(os.listdir(d))
            if os.path.isfile(os.path.join(d, f))
        )
    return paths


def _footer_schema(path: str) -> bytes | None:
    """The file's schema from its Parquet footer, read on the driver (no
    Spark job), without metadata and serialized — a ``pa.Schema`` that
    carries pandas metadata is unhashable. None if pyarrow cannot read it."""
    try:
        return pq.read_schema(path).remove_metadata().serialize().to_pybytes()
    except (OSError, pa.ArrowException):
        return None


def run_scan(
    spark: SparkSession,
    datadirs: list[str],
    predicate: str | None = None,
    mon_disks: list[str] | None = None,
) -> RunReport:
    """The reference's whole pipeline: a filtered count over every file.

    ``predicate`` is the arbitrary-SQL filter slot (``main.cc:164-169``,
    `filter_arbitrary_predicate` in §2) — any Catalyst boolean expression.
    Default mirrors the reference: ``ke > Env_ke``, with ``ke`` standing in
    as ``value`` (FIXTURES.md).

    Parity decisions, each deliberate:
    - **one query per schema group** (``main.cc:297-324``): files are
      independent tables, but files with the same footer schema are counted
      by one ``read_parquet(spark, *files)`` scan, whose tasks Spark spreads
      over the cores — the harness's inter-query parallelism
      (``main.cc:177,376-385``) without a serial job per file. Groups run
      side by side on a pool of ``Env_jobs`` threads. A group submits two
      jobs on first touch (schema inference plus a single-stage count) and
      one once its unchanged file set's schema is cached. Grouping by the
      footer schema is what keeps a file without the filter column an
      error: a shared schema would read its column as NULLs.
    - **per-task error isolation** (``main.cc:267-271``): a group whose
      scan fails, and every file whose footer pyarrow cannot read, is
      rerun one file per job; a file that fails to parse or lacks the
      filter column logs to stderr, contributes 0 rows and is listed in
      ``RunReport.failed_files``; the run continues.
    """
    threads = max(1, int(os.environ.get("Env_jobs", DEFAULT_JOBS)))
    mon_disks = mon_disks if mon_disks is not None else [
        d for d in os.environ.get("Env_mon_disks", "").split(",") if d
    ]
    if predicate is None:
        predicate = f"value > {os.environ.get('Env_ke', DEFAULT_KE)}"

    disk_before = {d: read_disk_stats(d) for d in mon_disks}
    paths = _enumerate_files(datadirs)

    def count_group(files: list[str]) -> int | None:
        # SELECT count(*) FROM <files> WHERE <predicate> (main.cc:164-169) as
        # one scan; None sends the group's files to scan_one
        try:
            df = read_parquet(spark, *files)
            # Spark silently skips hidden (_ or .) file names, which the
            # per-file path reports as errors
            if len(df.inputFiles()) != len({os.path.abspath(f) for f in files}):
                return None
            return _count(df, predicate)
        except Exception:
            return None

    def scan_one(path: str) -> tuple[int, str | None]:
        try:
            return _count(read_parquet(spark, path), predicate), None
        except Exception as exc:  # per-task isolation, main.cc:267-271
            msg = str(exc).split("\n", 1)[0]
            print(f"runner: error scanning {path}: {msg}", file=sys.stderr)
            return 0, msg

    bytes0, hops0, syscr0 = _fs_bytes_ops(spark)
    t0 = time.monotonic()
    total_rows = 0
    with ThreadPoolExecutor(max_workers=threads) as pool:
        groups: dict[bytes | None, list[str]] = {}
        for path, schema in zip(paths, pool.map(_footer_schema, paths)):
            groups.setdefault(schema, []).append(path)
        retry = groups.pop(None, [])
        for files, rows in zip(groups.values(), pool.map(count_group, groups.values())):
            if rows is None:
                retry += files
            else:
                total_rows += rows
        failed_files = {}
        for path, (rows, error) in zip(retry, pool.map(scan_one, retry)):
            total_rows += rows  # Wait(): main.cc:245-250
            if error is not None:
                failed_files[path] = error
    seconds = time.monotonic() - t0
    bytes1, hops1, syscr1 = _fs_bytes_ops(spark)
    # pick the op-count source ONCE, after the run: Hadoop iff the scheme
    # reported any ops by the end (local FS structurally never does), else
    # the kernel syscall counter — both deltas are same-unit by construction
    ops_syscr = hops1 == 0
    ops0, ops1 = (syscr0, syscr1) if ops_syscr else (hops0, hops1)

    deltas = {}
    for d, before in disk_before.items():
        after = read_disk_stats(d)
        if before is not None and after is not None:
            deltas[d] = after - before

    return RunReport(
        predicate=predicate,
        threads=threads,
        seconds=seconds,
        total_rows=total_rows,
        read_bytes=bytes1 - bytes0,
        read_ops=max(0, ops1 - ops0),
        n_files=len(paths),
        disk_deltas=deltas,
        ops_from_syscalls=ops_syscr,
        failed_files=failed_files,
    )


def stream_rows(df, batch_hint: int = 2048):
    """Vectorized pull loop — ``exec_vectorized_pull`` (main.cc:183-199).

    The reference drains a streaming result handle chunk-at-a-time without
    materializing the full result (``con.SendQuery`` + ``FetchRaw``). The
    Spark twin pulls the result's partitions in order, one window of
    ``defaultParallelism`` partitions per job, so a window's partitions are
    computed in parallel; at most one window is ever resident on the
    driver. The job runs JVM-side (``PythonRDD.runJob`` on the frame's
    pickled-row RDD, the transport ``toLocalIterator`` uses), so no Python
    worker touches the rows. ``batch_hint`` only shapes the yielded row
    batches (the reference's ~2048-row DataChunk granularity).
    """
    sc = df.sparkSession.sparkContext
    jrdd = df._jdf.javaToPython()
    n = jrdd.partitions().size()
    window = sc.defaultParallelism
    serializer = BatchedSerializer(CPickleSerializer())
    batch: list = []
    for lo in range(0, n, window):
        sock_info = sc._jvm.PythonRDD.runJob(
            sc._jsc.sc(), jrdd, list(range(lo, min(lo + window, n)))
        )
        for row in _load_from_socket(sock_info, serializer):
            batch.append(row)
            if len(batch) >= batch_hint:
                yield batch
                batch = []
    if batch:
        yield batch


def print_sample(df, n: int = 20, out=sys.stdout) -> None:
    """Textual chunk printer — ``sink_print`` (main.cc:193-195, the
    ``print_binary=0`` debug path; Spark's ``df.show`` is the same job)."""
    print(df._jdf.showString(n, 0, False), file=out)


def main(argv: list[str] | None = None) -> int:
    """CLI: ``python -m c2_duckdb_runner_spark.runner <datadir>...`` —
    the reference's ``./duckdb-runner <datadir>...`` (main.cc:368)."""
    from c2_duckdb_runner_spark.session import get_spark

    argv = argv if argv is not None else sys.argv[1:]
    if not argv:
        print("usage: runner <datadir>...", file=sys.stderr)
        return 2
    spark = get_spark("c2-spark-runner")
    report = run_scan(spark, argv)
    report.print()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
