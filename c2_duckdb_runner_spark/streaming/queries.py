"""Structured Streaming over the ``events`` fixture.

The reference is strictly batch (SURVEY.md §1: absence verified across
``main.cc``); streaming is north-star surface from BASELINE.json. Each query
here runs a real micro-batch StreamingQuery — file source → event-time
transformation → memory sink — driven to completion with
``trigger(availableNow=True)``, then returns the sink contents as a static
DataFrame so the driver contract (``(spark, sf_dir) -> DataFrame``) holds.

Determinism notes (what makes these oracle-checkable):
- The file source gets a GLOB (``events*.parquet``): Spark 4's
  FileStreamSource rejects a bare file path ("basePath must be a directory").
- ``events.ts`` is parquet TIMESTAMP(NANOS) → TIMESTAMP_NTZ on this Spark
  build (or bigint where ``nanosAsLong`` is honored); normalized to µs
  TimestampType at the source (``_events_stream``) by the same function
  the batch path uses, ``tables._normalize_events_ts``.
- Append mode + watermark IS deterministic under availableNow: after the
  data batch, Spark runs a no-data batch that advances the watermark to
  max(ts) - delay and flushes every window with end <= watermark. The
  oracle reproduces exactly that cutoff in SQL.
- Aggregated doubles route through DECIMAL(18,6) (state merge order is
  nondeterministic; decimal addition is associative).

At scale: these plans are the real thing — state-store-backed windowed
aggregation sharded by group key across executors. The memory sink is only
the test harness's tail; production would writeStream to parquet/Kafka.
"""

from __future__ import annotations

import itertools
import os

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from c2_duckdb_runner_spark.operators.inference_ext import CENTS_SQL, cents
from c2_duckdb_runner_spark.registry import register
from c2_duckdb_runner_spark.session import conf_override
from c2_duckdb_runner_spark.tables import (
    _normalize_events_ts,
    load,
    out_path,
    read_parquet,
)

_SINK_IDS = itertools.count()
# Stream queries run their stateful shuffles at this width (see
# _run_to_memory).
_STATE_WIDTH = {"spark.sql.shuffle.partitions": "8"}


def _events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    static = read_parquet(spark, f"{sf_dir}/events.parquet")
    src = spark.readStream.schema(static.schema).parquet(f"{sf_dir}/events*.parquet")
    # Normalize ts at the SOURCE: F.window over TIMESTAMP_NTZ yields NTZ
    # w.start/w.end, so downstream unix_millis() would fail if we cast later.
    return _normalize_events_ts(src)


def _run_to_memory(spark: SparkSession, df: DataFrame, mode: str) -> DataFrame:
    """Drive a streaming frame to completion; return sink rows statically.

    State width: each stateful shuffle partition owns a state store whose
    per-microbatch commit is a fixed cost; at fixture scale 32 stores are
    pure overhead, so stream queries run at 8 (restored afterwards). On a
    real cluster you'd size this to the key cardinality instead.
    """
    name = f"c2s_sink_{os.getpid()}_{next(_SINK_IDS)}"
    with conf_override(spark, _STATE_WIDTH):
        q = (
            df.writeStream.format("memory")
            .queryName(name)
            .outputMode(mode)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    sink = spark.table(name)
    # Executor-side snapshot: the memory sink's rows are already bounded by
    # window/key cardinality, but localCheckpoint copies them into executor
    # storage blocks directly — the previous collect()+createDataFrame
    # round-tripped every sink row through the Python driver process.
    out = sink.localCheckpoint(eager=True)
    spark.catalog.dropTempView(name)
    return out


def _run_to_parquet(
    spark: SparkSession, df: DataFrame, tag: str, sf_dir: str
) -> DataFrame:
    """Drive an APPEND-mode stream through the transactional parquet sink
    and read the committed output back.

    The memory-sink drain (`_run_to_memory`) collects sink rows to the
    driver, which is fine for aggregated outputs (bounded by window/key
    cardinality) but wrong for streams whose output is O(|input|) — dedup
    survivors, join matches. Those route here: rows land executor-side in
    the file sink, the _spark_metadata log gives exactly-once read-back,
    and nothing proportional to the corpus ever transits the driver."""
    import shutil

    out_dir = out_path(sf_dir, f"stream_drain_{tag}")
    ckpt = f"{out_dir}_ckpt"
    shutil.rmtree(out_dir, ignore_errors=True)
    shutil.rmtree(ckpt, ignore_errors=True)
    with conf_override(spark, _STATE_WIDTH):
        q = (
            df.writeStream.format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    return spark.read.parquet(out_dir)


# DuckDB twins work on epoch millis; events.ts is TIMESTAMP_NS there.
_DUCK_MS = "epoch_ms(CAST(ts AS TIMESTAMP))"


@register(
    "stream_tumbling",
    oracle=f"""
SELECT ({_DUCK_MS} // 3600000) * 3600000 AS win_start_ms,
       COUNT(*) AS n,
       CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total
FROM events
GROUP BY 1
""",
)
def stream_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-hour event-time windows (complete mode: all windows)."""
    agg = (
        _events_stream(spark, sf_dir)
        .groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias("total"),
        )
        .select(F.unix_millis(F.col("w.start")).alias("win_start_ms"), "n", "total")
    )
    return _run_to_memory(spark, agg, "complete")


@register(
    "stream_sliding",
    oracle=f"""
WITH e AS (SELECT {_DUCK_MS} AS ms, value FROM events),
x AS (
  SELECT (ms // 1800000) * 1800000 - k * 1800000 AS win_start_ms, value
  FROM e CROSS JOIN (SELECT unnest(range(0, 2)) AS k)
)
SELECT win_start_ms, COUNT(*) AS n,
       CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total
FROM x GROUP BY 1
""",
)
def stream_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding windows, 1 hour wide / 30 min slide — every event lands in 2
    overlapping windows; the oracle expands the same 2 buckets per row."""
    agg = (
        _events_stream(spark, sf_dir)
        .groupBy(F.window("ts", "1 hour", "30 minutes").alias("w"))
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias("total"),
        )
        .select(F.unix_millis(F.col("w.start")).alias("win_start_ms"), "n", "total")
    )
    return _run_to_memory(spark, agg, "complete")


@register(
    "stream_session_window",
    oracle="""
WITH e AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS t FROM events
           WHERE ts IS NOT NULL),
b AS (
  SELECT user_id, t,
         CASE WHEN lag(t) OVER (PARTITION BY user_id ORDER BY t) IS NULL
                OR t - lag(t) OVER (PARTITION BY user_id ORDER BY t)
                   >= INTERVAL 15 MINUTE
              THEN 1 ELSE 0 END AS brk
  FROM e
),
g AS (
  SELECT user_id, t,
         SUM(brk) OVER (PARTITION BY user_id ORDER BY t
                        ROWS UNBOUNDED PRECEDING) AS sid
  FROM b
)
SELECT user_id,
       epoch_ms(MIN(t)) AS session_start_ms,
       epoch_ms(MAX(t) + INTERVAL 15 MINUTE) AS session_end_ms,
       COUNT(*) AS n
FROM g GROUP BY user_id, sid
""",
)
def stream_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user session windows with a 15-minute inactivity gap. Session end
    is last-event + gap (Spark semantics: an event at exactly the session
    end starts a new session — the oracle's >= mirrors that). The gap-based
    sessionization in SQL (lag → break flag → running sum) is the classic
    batch twin of Spark's native session_window state merge."""
    agg = (
        _events_stream(spark, sf_dir)
        .withWatermark("ts", "30 minutes")
        .groupBy(F.session_window("ts", "15 minutes").alias("w"), F.col("user_id"))
        .agg(F.count("*").alias("n"))
        .select(
            "user_id",
            F.unix_millis(F.col("w.start")).alias("session_start_ms"),
            F.unix_millis(F.col("w.end")).alias("session_end_ms"),
            "n",
        )
    )
    return _run_to_memory(spark, agg, "complete")


@register(
    "stream_watermark_late",
    oracle=f"""
WITH w AS (
  SELECT ({_DUCK_MS} // 3600000) * 3600000 AS win_start_ms, COUNT(*) AS n
  FROM events GROUP BY 1
),
wm AS (SELECT MAX({_DUCK_MS}) - 1800000 AS cutoff FROM events)
SELECT win_start_ms, n FROM w, wm
WHERE win_start_ms + 3600000 <= cutoff
""",
)
def stream_watermark_late(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked tumbling windows in APPEND mode: only windows the
    watermark has closed (end <= max(ts) - 30min) are emitted; the rest are
    withheld as potentially-late state. availableNow's trailing no-data
    batch makes the cutoff exactly max(ts) - delay, which the oracle
    replays. This is the late-data-handling contract at any scale."""
    agg = (
        _events_stream(spark, sf_dir)
        .withWatermark("ts", "30 minutes")
        .groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(F.count("*").alias("n"))
        .select(F.unix_millis(F.col("w.start")).alias("win_start_ms"), "n")
    )
    return _run_to_memory(spark, agg, "append")


@register(
    "stream_dedup",
    oracle="SELECT DISTINCT user_id, event_type FROM events",
)
def stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming dedup on (user_id, event_type): first occurrence is emitted,
    later ones are dropped against the state store; the watermark bounds how
    long the key state lives (dropDuplicatesWithinWatermark). Output is
    O(distinct keys) — grows with the corpus — so the drain goes through
    the transactional file sink, not the driver-side memory sink."""
    dedup = (
        _events_stream(spark, sf_dir)
        .withWatermark("ts", "30 minutes")
        .dropDuplicatesWithinWatermark(["user_id", "event_type"])
        .select("user_id", "event_type")
    )
    return _run_to_parquet(spark, dedup, "dedup", sf_dir)


@register(
    "stream_foreach_batch",
    oracle=(
        "SELECT event_type, COUNT(*) AS n, "
        "CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total "
        "FROM events GROUP BY event_type"
    ),
)
def stream_foreach_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """foreachBatch sink: each micro-batch lands as a parquet append keyed by
    batch id — the idempotent-writer pattern every production stream uses
    when the target isn't a native streaming sink (warehouses, upsert
    targets). The final table re-aggregates to per-type totals; with
    availableNow the batches partition the input, so re-aggregation equals
    the batch-free oracle."""
    out_dir = out_path(sf_dir, "fb_events")
    agg = (
        _events_stream(spark, sf_dir)
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("value").cast("decimal(18,6)")).alias("total_dec"),
        )
    )

    def write_batch(batch_df, batch_id: int) -> None:
        # mode=overwrite + deterministic path per batch id = idempotent on
        # retry, the exactly-once recipe for non-transactional targets
        batch_df.withColumn("batch_id", F.lit(batch_id)).write.mode(
            "overwrite"
        ).parquet(f"{out_dir}/batch={batch_id}")

    import shutil

    shutil.rmtree(out_dir, ignore_errors=True)
    with conf_override(spark, _STATE_WIDTH):
        q = (
            agg.writeStream.foreachBatch(write_batch)
            .outputMode("complete")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    final = spark.read.parquet(out_dir)
    # complete mode rewrites the whole aggregate per batch; the last batch id
    # carries the final state
    last = final.agg(F.max("batch_id")).collect()[0][0]
    return (
        final.filter(F.col("batch_id") == last)
        .select(
            "event_type", "n", F.col("total_dec").cast("double").alias("total")
        )
    )


@register(
    "stream_stateful_counts",
    oracle="SELECT user_id, COUNT(*) AS n FROM events GROUP BY user_id",
)
def stream_stateful_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful operator via applyInPandasWithState: a per-user
    running event counter (the minimal arbitrary-state shape — real
    pipelines put sessionization or CDC merge logic here). State is one
    bigint per user_id, sharded across executors by group key; each batch
    emits the updated counts (update mode)."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    def count_fn(key, pdfs, state):
        total = sum(len(p) for p in pdfs)
        prev = state.get[0] if state.exists else 0
        new = prev + total
        state.update((new,))
        yield pd.DataFrame({"user_id": [key[0]], "n": [new]})

    counted = (
        _events_stream(spark, sf_dir)
        .groupBy("user_id")
        .applyInPandasWithState(
            count_fn,
            outputStructType="user_id bigint, n bigint",
            stateStructType="n bigint",
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )
    return _run_to_memory(spark, counted, "update")


@register(
    "stream_static_join",
    oracle="""
SELECT c_mktsegment, COUNT(*) AS n,
       CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total
FROM events JOIN customer ON user_id = c_custkey
WHERE event_type = 'purchase'
GROUP BY c_mktsegment
""",
)
def stream_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static join: the purchase stream enriched against the static
    customer dim, then aggregated per market segment (complete mode).

    The static side is planned per micro-batch as an ordinary batch
    relation — broadcastable, no state store involved. Only the downstream
    aggregation is stateful. This is the canonical streaming-enrichment
    topology (stream fact ⨝ slowly-changing dim)."""
    purchases = _events_stream(spark, sf_dir).filter(
        F.col("event_type") == "purchase"
    )
    cust = load(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    agg = (
        purchases.join(cust, purchases.user_id == cust.c_custkey)
        .groupBy("c_mktsegment")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("value").cast("decimal(18,6)"))
            .cast("double")
            .alias("total"),
        )
    )
    return _run_to_memory(spark, agg, "complete")


@register(
    "stream_stream_interval_join",
    oracle=f"""
WITH e AS (SELECT user_id, event_type, {_DUCK_MS} AS ms, event_id FROM events)
SELECT a.event_id AS click_id, b.event_id AS purchase_id,
       a.user_id, a.ms AS click_ms, b.ms AS purchase_ms
FROM e a JOIN e b
  ON a.user_id = b.user_id
 AND a.event_type = 'click' AND b.event_type = 'purchase'
 AND b.ms BETWEEN a.ms AND a.ms + 7 * 86400000
""",
)
def stream_stream_interval_join(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Stream-stream interval join: clicks matched to purchases by the same
    user within the following 7 days — the attribution-join topology.

    Both sides carry watermarks and the join condition carries event-time
    bounds, which is what lets each side's state store evict rows that can
    no longer match (state is bounded by watermark + interval, not by the
    stream length). Inner join in append mode: matches emit as both sides
    arrive; under availableNow the result equals the batch join, which the
    oracle computes."""
    clicks = (
        _events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "click")
        .select(
            F.col("user_id"),
            F.col("ts").alias("c_ts"),
            F.col("event_id").alias("click_id"),
        )
        .withWatermark("c_ts", "1 hour")
    )
    purchases = (
        _events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("p_ts"),
            F.col("event_id").alias("purchase_id"),
        )
        .withWatermark("p_ts", "1 hour")
    )
    joined = clicks.join(
        purchases,
        (clicks.user_id == purchases.p_user)
        & (purchases.p_ts >= clicks.c_ts)
        & (purchases.p_ts <= clicks.c_ts + F.expr("INTERVAL 7 DAYS")),
    ).select(
        "click_id",
        "purchase_id",
        "user_id",
        F.unix_millis("c_ts").alias("click_ms"),
        F.unix_millis("p_ts").alias("purchase_ms"),
    )
    # Match count is O(|clicks × matching purchases|) — input-proportional —
    # so drain through the file sink, never the driver.
    return _run_to_parquet(spark, joined, "interval_join", sf_dir)


@register(
    "stream_transform_with_state",
    oracle="""
SELECT user_id, COUNT(*) AS n,
       CAST(ROUND(SUM(CAST(value AS DECIMAL(18,6))) * 1000000) AS BIGINT)
         AS total_micros
FROM events GROUP BY user_id
""",
)
def stream_transform_with_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arbitrary stateful processing via transformWithStateInPandas (the
    Spark 4 successor to applyInPandasWithState): a per-user running
    (count, sum) kept in a typed ValueState, updated per micro-batch.

    Determinism: `value` is cast to DECIMAL(18,6) JVM-side and shipped to
    the processor as integer micros, so state updates are exact int64
    adds — order-independent, replayable by the oracle. The API requires
    the RocksDB state-store provider (virtual-column-family state), pinned
    for the query and restored after.

    Environment gate: transformWithStateInPandas speaks protobuf to its
    state server; when `google.protobuf` is absent (this container bakes
    no protobuf and installs are off) the same processor semantics run
    through applyInPandasWithState instead — identical state type,
    identical emissions, identical oracle."""
    try:
        import google.protobuf  # noqa: F401
    except ImportError:
        return _tws_fallback_apply_in_pandas(spark, sf_dir)

    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    class RunningAgg(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._state = handle.getValueState("agg", "n BIGINT, t BIGINT")

        def handleInputRows(self, key, rows, timer_values):
            n, t = (self._state.get() or (0, 0)) if self._state.exists() else (0, 0)
            for pdf in rows:
                n += len(pdf)
                t += int(pdf["micros"].sum())
            self._state.update((n, t))
            yield pd.DataFrame(
                {"user_id": [key[0]], "n": [n], "total_micros": [t]}
            )

        def close(self) -> None:
            pass

    src = _events_stream(spark, sf_dir).select(
        "user_id",
        (F.col("value").cast("decimal(18,6)") * 1000000)
        .cast("long")
        .alias("micros"),
    )
    out = src.groupBy("user_id").transformWithStateInPandas(
        statefulProcessor=RunningAgg(),
        outputStructType="user_id BIGINT, n BIGINT, total_micros BIGINT",
        outputMode="Update",
        timeMode="None",
    )
    rocks = (
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
    )
    with conf_override(
        spark, {"spark.sql.streaming.stateStore.providerClass": rocks}
    ):
        return _run_to_memory(spark, out, "update")


def _tws_fallback_apply_in_pandas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """applyInPandasWithState twin of stream_transform_with_state: the same
    (count, micros-sum) ValueState semantics on the Spark 3-era API, used
    only when protobuf is unavailable."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    def agg_fn(key, pdfs, state):
        n, t = state.get if state.exists else (0, 0)
        for pdf in pdfs:
            n += len(pdf)
            t += int(pdf["micros"].sum())
        state.update((n, t))
        yield pd.DataFrame({"user_id": [key[0]], "n": [n], "total_micros": [t]})

    src = _events_stream(spark, sf_dir).select(
        "user_id",
        (F.col("value").cast("decimal(18,6)") * 1000000)
        .cast("long")
        .alias("micros"),
    )
    out = src.groupBy("user_id").applyInPandasWithState(
        agg_fn,
        outputStructType="user_id BIGINT, n BIGINT, total_micros BIGINT",
        stateStructType="n BIGINT, t BIGINT",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    return _run_to_memory(spark, out, "update")


@register(
    "stream_parquet_sink",
    oracle="""
SELECT event_id, user_id, event_type, round(value, 6) AS val
FROM events WHERE event_type <> 'error'
""",
)
def stream_parquet_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native transactional FILE sink: a stateless filtered projection
    streams to a parquet directory in append mode; every committed batch is
    recorded in the sink's _spark_metadata transaction log, and the batch
    read-back consults that log — uncommitted/orphan files from a crashed
    writer are invisible, which IS the exactly-once story for file outputs
    (no rename dance, no manifest service). Stateless append with
    availableNow is row-deterministic, so the full oracle checks values,
    not just counts."""
    src = _events_stream(spark, sf_dir)
    proj = src.filter(F.col("event_type") != "error").select(
        "event_id",
        "user_id",
        "event_type",
        F.round("value", 6).alias("val"),
    )
    return _run_to_parquet(spark, proj, "sink_events", sf_dir)


def _stream_tumbling_approx_estimates(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The raw streamed window estimates (win_start_ms, n, approx_users) —
    the production output; the registered query wraps it in an exact-twin
    verdict so the cross-engine differential can hash-match it."""
    agg = (
        _events_stream(spark, sf_dir)
        .groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(
            F.count("*").alias("n"),
            F.approx_count_distinct("user_id", rsd=0.02).alias("approx_users"),
        )
        .select(
            F.unix_millis(F.col("w.start")).alias("win_start_ms"),
            "n",
            "approx_users",
        )
    )
    return _run_to_memory(spark, agg, "complete")


@register(
    "stream_tumbling_approx_users",
    oracle=f"""
SELECT ({_DUCK_MS} // 3600000) * 3600000 AS win_start_ms,
       COUNT(*) AS n,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_users,
       CAST(CASE WHEN
         ABS(CAST(approx_count_distinct(user_id) AS DOUBLE)
             - COUNT(DISTINCT user_id))
         <= GREATEST(3.0, 0.10 * COUNT(DISTINCT user_id))
       THEN 1 ELSE 0 END AS INT) AS within_rsd
FROM events WHERE ts IS NOT NULL GROUP BY 1
""",
)
def stream_tumbling_approx_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketches INSIDE streaming state: hourly tumbling windows carrying an
    HLL approx-distinct of user_id alongside the exact row count. This is
    the always-on dashboard shape at 100 TB/day — per-window distinct
    users without ever holding the raw user set in state; the HLL partial
    in each micro-batch merges into the window's sketch exactly like the
    batch map-side combine.

    Cross-engine check (HLL internals are engine-specific): the drained
    stream joins a batch-exact per-window distinct twin and emits
    hash-matched (win_start_ms, n, exact_users) plus a within-10%-or-±3
    verdict bit; DuckDB self-checks its own sketch the same way.
    tests/test_streaming_extra.py pins the tighter 5% bound."""
    streamed = _stream_tumbling_approx_estimates(spark, sf_dir)
    exact = (
        load(spark, sf_dir, "events")
        .groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(F.countDistinct("user_id").alias("exact_users"))
        .select(
            F.unix_millis(F.col("w.start")).alias("win_start_ms"),
            "exact_users",
        )
    )
    j = streamed.join(exact, "win_start_ms")
    ok = F.abs(
        F.col("approx_users").cast("double") - F.col("exact_users")
    ) <= F.greatest(F.lit(3.0), 0.10 * F.col("exact_users"))
    return j.select(
        "win_start_ms",
        "n",
        "exact_users",
        ok.cast("int").alias("within_rsd"),
    )


@register(
    "stream_chained_window_agg",
    oracle=f"""
WITH m AS (SELECT MAX({_DUCK_MS}) AS mx FROM events),
ten AS (
  SELECT ({_DUCK_MS} // 600000) * 600000 AS w10, event_type,
         COUNT(*) AS c
  FROM events GROUP BY w10, event_type
),
hour AS (
  SELECT (w10 // 3600000) * 3600000 AS win_start_ms, event_type,
         CAST(MAX(c) AS BIGINT) AS peak_10min,
         CAST(SUM(c) AS BIGINT) AS total_events
  FROM ten GROUP BY (w10 // 3600000) * 3600000, event_type
)
SELECT win_start_ms, event_type, peak_10min, total_events
FROM hour, m WHERE win_start_ms + 3600000 <= mx
""",
)
def stream_chained_window_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CHAINED stateful streaming aggregation (Spark ≥3.5 multiple
    stateful operators): 10-minute tumbling counts per event type
    RE-AGGREGATED into hourly peak/total — the downsample-then-rollup
    telemetry cascade (fine-grain for alerting, coarse-grain for
    dashboards) in ONE streaming query, where pre-3.5 engines forced two
    jobs with an intermediate sink.

    The second ``groupBy(window(window, '1 hour'))`` consumes the first
    aggregation's window STRUCT as its event-time column; the watermark
    propagates through both stateful operators, so append mode emits an
    hourly row exactly when the watermark passes the hour's end — the
    oracle replays that cutoff (hour_end ≤ max event time). State is
    bounded per operator by windows-in-flight × types, never by stream
    length. Both aggregates are integer counts — engine-exact."""
    src = _events_stream(spark, sf_dir).withWatermark("ts", "0 seconds")
    ten = (
        src.groupBy(F.window("ts", "10 minutes").alias("w10"), "event_type")
        .agg(F.count("*").alias("c"))
    )
    hour = (
        ten.groupBy(F.window(F.col("w10"), "1 hour").alias("wh"), "event_type")
        .agg(
            F.max("c").cast("bigint").alias("peak_10min"),
            F.sum("c").cast("bigint").alias("total_events"),
        )
        .select(
            F.unix_millis(F.col("wh.start")).alias("win_start_ms"),
            "event_type",
            "peak_10min",
            "total_events",
        )
    )
    return _run_to_memory(spark, hour, "append")


@register(
    "stream_dlq_split",
    oracle=f"""
WITH v AS (
  SELECT event_id, event_type, {_DUCK_MS} AS ms,
         {CENTS_SQL.format('value')} AS cents,
         (value >= 0 AND value <= 150 AND event_type IS NOT NULL)
           AS is_valid
  FROM events
)
SELECT CASE WHEN is_valid THEN 'main' ELSE 'dlq' END AS sink,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(cents) AS BIGINT) AS sum_cents,
       CAST(MIN(event_id) AS BIGINT) AS first_event
FROM v GROUP BY 1
""",
)
def stream_dlq_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dead-letter-queue split — the ingestion stream's row-level safety
    valve: rows failing validation go to a DLQ path for replay/forensics
    while clean rows flow to the main table, in ONE pass inside
    foreachBatch (two filtered writes per micro-batch, both idempotent by
    batch-id path). Without a DLQ an invalid row either kills the query
    or silently disappears; with it, ingestion is total — every input row
    lands exactly once in exactly one of the two sinks.

    Validation here: value within the contract range [0, 150] and a
    non-null type (the shape of real schema-contract checks; ~5% of the
    fixture stream violates the range at every scale factor). The drained result re-reads
    BOTH sinks and aggregates per sink; the oracle replays the split
    statically, so a row routed to the wrong sink — or dropped — breaks
    the hash. The totality invariant (n_main + n_dlq = |events|) is
    checked implicitly by the counts."""
    import shutil

    out_dir = out_path(sf_dir, "dlq_split")
    src = _events_stream(spark, sf_dir).select(
        "event_id",
        "event_type",
        cents("value").alias("cents"),
        (
            (F.col("value") >= 0)
            & (F.col("value") <= 150)
            & F.col("event_type").isNotNull()
        ).alias("is_valid"),
    )

    def split_batch(batch_df, batch_id: int) -> None:
        # One batch scan feeds both branches; deterministic per-batch paths
        # keep retries idempotent (the foreachBatch exactly-once recipe).
        batch_df.persist()
        try:
            batch_df.filter(F.col("is_valid")).drop("is_valid").write.mode(
                "overwrite"
            ).parquet(f"{out_dir}/main/batch={batch_id}")
            batch_df.filter(~F.col("is_valid")).drop("is_valid").write.mode(
                "overwrite"
            ).parquet(f"{out_dir}/dlq/batch={batch_id}")
        finally:
            batch_df.unpersist()

    shutil.rmtree(out_dir, ignore_errors=True)
    with conf_override(spark, _STATE_WIDTH):
        q = (
            src.writeStream.foreachBatch(split_batch)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    def sink_agg(name: str) -> DataFrame:
        return (
            spark.read.parquet(f"{out_dir}/{name}")
            .agg(
                F.lit(name).alias("sink"),
                F.count("*").cast("bigint").alias("n"),
                F.sum("cents").cast("bigint").alias("sum_cents"),
                F.min("event_id").cast("bigint").alias("first_event"),
            )
            .select("sink", "n", "sum_cents", "first_event")
        )

    return sink_agg("main").unionByName(sink_agg("dlq"))
