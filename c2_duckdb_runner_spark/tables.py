"""Fixture tables: path-based parquet loads, no catalog.

Mirrors the reference's data model — a directory of files, table names are
path literals spliced into the query (``main.cc:164-169``). We read
self-describing parquet: the schema is Spark's own inference from the
footer, as in the reference's engine (``main.cc:181-183`` declares no
schema anywhere), but it is inferred once per file version, not on every
load — ``read_parquet`` keeps it keyed by each file's path, size and
mtime, so a later load of the same unchanged files submits no Spark job.

Queries that write output and read it back (format round trips, layouts,
stream sinks) put it at ``out_path(sf_dir, name)``: a directory private to
this process and to the dataset's real path, so no read sees a layout
written from another dataset, and every call writes what it reads.
"""

from __future__ import annotations

import atexit
import hashlib
import os
import shutil
import stat
import tempfile
import threading
from collections import OrderedDict

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

TABLES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]

# Distinct file sets whose inferred schema is kept; the least recently used
# is dropped first.
SCHEMA_CACHE_SIZE = 256

# Session confs that change what Spark infers from the same footers.
_INFERENCE_CONFS = (
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.mergeSchema",
)

_schemas: OrderedDict[tuple, StructType] = OrderedDict()
_schemas_lock = threading.Lock()


def _schema_key(spark: SparkSession, paths: tuple[str, ...]) -> tuple | None:
    """(path, size, mtime_ns) of every path plus the inference confs, or
    None unless every path is a regular file."""
    files = []
    for p in paths:
        try:
            st = os.stat(p)
        except OSError:
            return None
        if not stat.S_ISREG(st.st_mode):
            return None
        files.append((os.path.abspath(p), st.st_size, st.st_mtime_ns))
    return tuple(files), tuple(spark.conf.get(k) for k in _INFERENCE_CONFS)


def read_parquet(spark: SparkSession, *paths: str) -> DataFrame:
    """``spark.read.parquet(*paths)`` that infers each file set's schema once.

    The first read of a set of regular files runs Spark's own schema
    inference (one footer job) and keeps the resulting ``StructType``;
    every later read of the same files with unchanged size and mtime is
    ``spark.read.schema(cached).parquet(*paths)``, which submits no job.
    The schema is Spark's, not a pyarrow conversion (pyarrow maps
    TIMESTAMP_NTZ columns to ``timestamp``), and it is reused only for the
    exact file set it was inferred from, so the read is identical to a
    fresh inference: a file without a column still fails on it rather than
    reading NULLs, and a rewritten file is inferred again.

    A directory (or glob, or URI) keeps plain ``spark.read.parquet``: its
    partition discovery and hidden-file listing happen at read time, so a
    key over the path alone could go stale. Output written under
    ``out_path`` and read back also stays on plain ``spark.read.parquet``:
    each call rewrites it and reads it once, so a cache would gain
    nothing and could only go stale.
    """
    key = _schema_key(spark, paths)
    if key is None:
        return spark.read.parquet(*paths)
    with _schemas_lock:
        schema = _schemas.get(key)
        if schema is not None:
            _schemas.move_to_end(key)
    if schema is not None:
        return spark.read.schema(schema).parquet(*paths)
    # Inference runs outside the lock: two threads missing on the same key
    # both infer and store the same schema, which is harmless.
    df = spark.read.parquet(*paths)
    with _schemas_lock:
        _schemas[key] = df.schema
        while len(_schemas) > SCHEMA_CACHE_SIZE:
            _schemas.popitem(last=False)
    return df


_out_root: str | None = None
_out_root_lock = threading.Lock()


def out_path(sf_dir: str, name: str) -> str:
    """The directory for write-then-read output ``name`` of dataset
    ``sf_dir``: ``<root>/<basename>-<8 hex of sha1(realpath(sf_dir))>/<name>``.

    ``<root>`` is a ``mkdtemp`` made on the first call in this process (not
    at import: Python workers import the package too) and removed at
    interpreter exit. Two datasets with the same basename get different
    directories. This function creates and clears nothing below the root;
    the caller writes in ``overwrite`` mode (or clears) before it reads.
    """
    global _out_root
    with _out_root_lock:
        if _out_root is None:
            _out_root = tempfile.mkdtemp(prefix="c2spark_io_")
            atexit.register(shutil.rmtree, _out_root, ignore_errors=True)
    real = os.path.realpath(sf_dir)
    digest = hashlib.sha1(real.encode()).hexdigest()[:8]
    return os.path.join(_out_root, f"{os.path.basename(real)}-{digest}", name)


def _normalize_events_ts(df: DataFrame) -> DataFrame:
    """Normalize ``events.ts`` to TimestampType, for a batch or a
    streaming frame.

    ``events.ts`` is parquet TIMESTAMP(NANOS). Depending on the Spark build
    it surfaces either as LongType nanos (``nanosAsLong`` honored) or as
    TIMESTAMP_NTZ (this 4.1.2 build):

    - bigint nanos → ``timestamp_micros(ts div 1000)`` (integer ``div``, not
      ``/``: epoch-ns ≈ 1.7e18 overflows double's 53-bit mantissa);
    - TIMESTAMP_NTZ → ``cast(timestamp)``. The session timezone is pinned
      UTC (session.py), so the cast is value-preserving.

    DuckDB 1.0 reads the same column as µs TIMESTAMP, so both engines see
    identical values either way.
    """
    ts_type = dict(df.dtypes).get("ts")
    if ts_type == "bigint":
        return df.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
    if ts_type == "timestamp_ntz":
        return df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one fixture table (one parquet file per table, per TESTDATA.md);
    ``events.ts`` is normalized by ``_normalize_events_ts``."""
    df = read_parquet(spark, f"{sf_dir}/{name}.parquet")
    return _normalize_events_ts(df) if name == "events" else df


def load_spread(
    spark: SparkSession, sf_dir: str, name: str, key: str
) -> DataFrame:
    """Load + spread for compute-heavy map stages.

    The fixture files are single-row-group parquet, so a scan is ONE task no
    matter what ``maxPartitionBytes`` says (a row group can't be split) —
    and any expensive per-row compute chained onto it would run on one core.
    When the scan yields fewer partitions than half the cores, repartition
    on ``key`` to spread the compute; the shuffle of the raw rows is far
    cheaper than serializing the map work. At production scale the input is
    many files/row groups, the condition is false, and this is a no-op —
    exactly the behavior a 1000-executor cluster wants.
    """
    df = load(spark, sf_dir, name)
    cores = spark.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < max(2, cores // 2):
        df = df.repartition(cores, key)
    return df


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Ephemeral temp views so queries can also be expressed in spark.sql."""
    for t in TABLES:
        load(spark, sf_dir, t).createOrReplaceTempView(t)
