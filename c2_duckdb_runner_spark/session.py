"""SparkSession factory + per-session determinism pinning.

The reference runs N single-threaded engine instances side by side
(``main.cc:177`` pins ``maximum_threads = 1``; pool size from ``Env_jobs``,
``main.cc:376-385``). Spark's task scheduler plays the role of that pool:
one task per file split per core. We pin the handful of session options that
affect oracle (DuckDB) parity — session timezone, ANSI mode, shuffle width —
and leave physical planning to Catalyst + AQE.
"""

from __future__ import annotations

import os
from collections.abc import Iterator
from contextlib import contextmanager

from pyspark.sql import SparkSession

# Runtime-settable confs applied to ANY session we are handed (the driver
# creates its own SparkSession for verify; we must not assume we built it).
_RUNTIME_CONFS = {
    # DuckDB's oracle runs in UTC; Spark timestamp->string/epoch fns are
    # session-tz dependent. Pin UTC so both engines agree.
    "spark.sql.session.timeZone": "UTC",
    # Arrow for pandas interchange + pandas_udf hot paths.
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # AQE: runtime shuffle-partition coalescing + skew-join splitting.
    # At 100 TB this is what keeps post-filter stages from running 200k
    # tiny tasks; locally it keeps 32-partition shuffles honest.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # events.parquet stores TIMESTAMP(NANOS). On the pinned 4.1.2 build this
    # conf is a no-op (the column loads as TIMESTAMP_NTZ regardless), but on
    # builds that reject nanos outright without it, setting it keeps the
    # read alive so tables.load()'s bigint-nanos branch can normalize.
    # Setting it is free either way, so pin it unconditionally.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
}

# Shuffle width is runtime-settable and matters for sessions we are handed
# (an external driver's plain session defaults to 200 — far above its
# cores, pure scheduling overhead at fixture scale, and localCheckpoint-ed
# iterative loops materialize at that width where AQE can't re-plan them).
# Pin it to the SESSION's own scheduler parallelism — the same sizing rule
# get_spark() builds with, adapted to whatever session arrives.

# NOTE on events.ts (parquet TIMESTAMP(NANOS)): on this Spark 4.1.2 build the
# column loads as TIMESTAMP_NTZ (nanosAsLong above is a no-op here). The real
# guard is the load-time normalization in tables.load() /
# streaming._events_stream, which casts NTZ→TIMESTAMP (value-preserving under
# the pinned-UTC session) or converts bigint nanos on builds where
# nanosAsLong IS honored.


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))


def shuffle_width(spark: SparkSession) -> int:
    """The session's configured shuffle width — the scale-adaptive value
    operators use when they pin a standing hash partitioning (persisted
    edge relations etc.). Never hard-code a partition count: the same
    code must size itself from the session on a 32-core box and a
    1000-executor cluster alike."""
    try:
        return int(spark.conf.get("spark.sql.shuffle.partitions"))
    except (TypeError, ValueError):
        return spark.sparkContext.defaultParallelism


@contextmanager
def conf_override(spark: SparkSession, confs: dict[str, str]) -> Iterator[None]:
    """Set ``confs`` on the session for the block, then restore each prior
    value, unsetting any that had none. The override is session-wide, so
    another thread's query on the same session sees it while it lasts."""
    prior = {k: spark.conf.get(k, None) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        yield
    finally:
        for k, v in prior.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


# --- scratch persist tracking ------------------------------------------
# Operators persist() intermediate tables that several downstream branches
# of the SAME query reuse (minhash signatures, graph edge relations, …).
# DataFrame caches live in the CacheManager until explicitly unpersisted —
# the ContextCleaner never reclaims them — so a 325-query single-session
# sweep would otherwise accumulate two corpus-sized cached tables per dedup
# query. Queries return LAZY DataFrames (the caller materializes later), so
# the release point cannot be inside the query itself; instead every persist
# goes through scratch_persist() and the registry releases ALL outstanding
# scratch tables at the next top-level query entry — at most one query's
# scratch is ever resident.

_SCRATCH: list = []


def scratch_persist(df):
    """persist() whose release is deferred to the next registered-query
    entry (registry.register's wrapper calls release_scratch)."""
    _SCRATCH.append(df.persist())
    return df


def release_scratch() -> None:
    while _SCRATCH:
        df = _SCRATCH.pop()
        try:
            df.unpersist()
        except Exception:
            pass  # session already stopped — nothing to release


def apply_runtime_confs(spark: SparkSession) -> SparkSession:
    """Idempotently pin runtime confs on a session we may not have built."""
    confs = dict(_RUNTIME_CONFS)
    try:
        # Resize shuffle width ONLY when the session still carries the stock
        # default (200): that means nobody sized it, and 200 partitions on a
        # 32-core local session is pure scheduling overhead. A deliberately
        # configured width (driver or user) is respected as-is.
        if spark.conf.get("spark.sql.shuffle.partitions", "200") == "200":
            confs["spark.sql.shuffle.partitions"] = str(
                spark.sparkContext.defaultParallelism
            )
    except Exception:
        pass  # Connect-only session: no SparkContext handle — leave as-is
    for k, v in confs.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            pass  # conf not settable at runtime on this build — keep going
    return spark


def get_spark(
    app_name: str = "c2-spark",
    master: str | None = None,
    extra_confs: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a session sized like the reference's default run.

    ``Env_jobs`` default 32 (``main.cc:376-385``) ≈ ``local[32]`` here; on a
    real cluster the same code runs unmodified — parallelism comes from the
    scheduler, not from anything we hand-roll.
    """
    cpus = default_parallelism()
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.default.parallelism", str(cpus))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        # One file = at least one task, like the reference's per-file fanout
        # (main.cc:297-324); 128m splits keep big files parallel too.
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.ui.enabled", "false")
    )
    for k, v in _RUNTIME_CONFS.items():
        builder = builder.config(k, v)
    for k, v in (extra_confs or {}).items():
        builder = builder.config(k, v)
    return apply_runtime_confs(builder.getOrCreate())
