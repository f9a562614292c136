"""Scale patterns: the join/layout techniques that matter at 100 TB.

None of these change WHAT is computed — each oracle is the plain textbook
join/agg — they change HOW, and the plan tests pin the "how":

- bucketed co-located join : both fact tables pre-bucketed on the join key →
  sort-merge join with ZERO exchanges. At 100 TB this is the difference
  between re-shuffling terabytes per query and reading co-located buckets.
- salted skew join         : a hot key would send one shuffle partition 100x
  the data of its peers; salting replicates the dim side S ways and spreads
  the fact side across (key, salt) — same result, flat partitions. (AQE's
  skew-join split handles sort-merge skew reactively; salting is the
  proactive pattern and works for any join type.)
- exact percentiles        : ordered-statistic aggregation — the shape that
  can NOT map-side-combine; Spark plans it as a single ObjectHashAggregate
  pass. approx_percentile (t-digest) is the 100 TB default; the exact
  version is the oracle-checkable baseline.

Reference reach: delegated SQL slot only (``main.cc:181-182``).
"""

from __future__ import annotations

import os
import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from c2_duckdb_runner_spark.registry import register
from c2_duckdb_runner_spark.tables import load, load_spread, out_path

_BUCKETS = 8


@register(
    "join_bucketed_colocated",
    oracle=(
        "SELECT o_orderpriority, COUNT(*) AS n, "
        "CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty "
        "FROM lineitem JOIN orders ON l_orderkey = o_orderkey "
        "GROUP BY o_orderpriority"
    ),
)
def join_bucketed_colocated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fact-fact join over tables bucketed on the join key.

    Both sides are written with ``bucketBy(8, key).sortBy(key)`` on every
    call (the layout investment), then the merge join consumes matching
    buckets directly — ``Bucketed: true`` in the scan, no Exchange in the
    plan (pinned by tests/test_plans.py). The ``merge`` hint keeps AQE from
    "helpfully" broadcasting the small fixture side, which would hide the
    co-location this query exists to demonstrate.
    """
    root = out_path(sf_dir, "buckets")
    # Table names carry the same dataset tag as the layout directory.
    tag = re.sub(r"\W", "_", os.path.basename(os.path.dirname(root)))
    li_t, o_t = f"c2s_li_b_{tag}", f"c2s_o_b_{tag}"
    (
        load(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_quantity")
        .write.mode("overwrite")
        .bucketBy(_BUCKETS, "l_orderkey")
        .sortBy("l_orderkey")
        .option("path", f"{root}/lineitem")
        .format("parquet")
        .saveAsTable(li_t)
    )
    (
        load(spark, sf_dir, "orders")
        .select("o_orderkey", "o_orderpriority")
        .write.mode("overwrite")
        .bucketBy(_BUCKETS, "o_orderkey")
        .sortBy("o_orderkey")
        .option("path", f"{root}/orders")
        .format("parquet")
        .saveAsTable(o_t)
    )
    li = spark.table(li_t).hint("merge")
    o = spark.table(o_t)
    return (
        li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("o_orderpriority")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("l_quantity").cast("bigint")).alias("sum_qty"),
        )
    )


_SALT = 8


@register(
    "join_salted_skew",
    oracle=(
        "SELECT l_orderkey, l_linenumber, s_name "
        "FROM lineitem JOIN supplier ON l_suppkey = s_suppkey"
    ),
)
def join_salted_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-safe equi-join by key salting — result identical to the plain
    join (that IS the oracle), but the shuffle key is (suppkey, salt) so a
    hot supplier spreads over 8 partitions instead of melting one reducer.
    The dim side is replicated 8x via explode(sequence(...)) — at 100 TB you
    salt only the keys AQE's skew stats flag, not the whole table; doing it
    wholesale here keeps the demo deterministic."""
    li = load(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_suppkey"
    )
    s = load(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    fact = li.withColumn(
        "salt", F.pmod(F.xxhash64("l_orderkey", "l_linenumber"), F.lit(_SALT))
    )
    dim = s.withColumn(
        "salt", F.explode(F.sequence(F.lit(0), F.lit(_SALT - 1)))
    ).withColumn("salt", F.col("salt").cast("bigint"))
    return (
        fact.join(
            dim,
            (fact.l_suppkey == dim.s_suppkey) & (fact.salt == dim.salt),
        )
        .select("l_orderkey", "l_linenumber", "s_name")
    )


_BAND = 1000.0  # price band width


@register(
    "join_range_banded",
    oracle=(
        "SELECT l.l_orderkey, l.l_linenumber, p.p_partkey "
        "FROM lineitem l JOIN part p "
        "ON l.l_partkey = p.p_partkey "
        "AND l.l_extendedprice BETWEEN p.p_retailprice - 500 "
        "                          AND p.p_retailprice + 500"
    ),
)
def join_range_banded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range predicate as an equi-join on band ids — the scale path for
    theta joins (cf. join_theta_range, which documents the O(n·m)
    BroadcastNestedLoop cost).

    ``price BETWEEN anchor-500 AND anchor+500`` can only touch rows whose
    ⌊price/1000⌋ band is within 1 of the anchor's band, so the probe side
    replicates into its band±1 (3 rows) and the join becomes hash-equi on
    (partkey, band) with the exact range re-checked after. Shuffle is keyed
    and flat; no nested-loop anywhere. Same trick handles time-interval
    joins at 100 TB (band = day bucket).
    """
    li = load(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_partkey", "l_extendedprice"
    )
    p = load(spark, sf_dir, "part").select("p_partkey", "p_retailprice")

    def band(col: str):
        # The band is only a BLOCKING key (the exact BETWEEN recheck runs
        # after the join), so hostile ±1e308/±Inf prices clamp to ±1e15
        # before the floor instead of overflowing Spark's LONG floor —
        # equal extremes still land in equal bands and survive the
        # recheck, NaN never passes BETWEEN in either engine
        c = F.least(F.greatest(F.col(col), F.lit(-1e15)), F.lit(1e15))
        return F.floor(c / _BAND)

    probe = p.select(
        "p_partkey",
        "p_retailprice",
        F.explode(
            F.array(
                band("p_retailprice") - 1,
                band("p_retailprice"),
                band("p_retailprice") + 1,
            )
        ).alias("band"),
    )
    fact = li.withColumn("band", band("l_extendedprice"))
    return (
        fact.join(
            probe,
            (fact.l_partkey == probe.p_partkey) & (fact.band == probe.band),
        )
        .filter(
            (F.col("l_extendedprice") >= F.col("p_retailprice") - 500)
            & (F.col("l_extendedprice") <= F.col("p_retailprice") + 500)
        )
        .select("l_orderkey", "l_linenumber", "p_partkey")
    )


@register(
    "agg_percentiles",
    # NaN/Inf pin (r11 hostile): Spark percentile ranks NaN highest and
    # interpolates Inf to NaN differently than DuckDB's quantile_cont —
    # non-finite values leave the ordered set on BOTH sides
    oracle=(
        "WITH r AS (SELECT l_returnflag, CASE WHEN isfinite(l_extendedprice)"
        " THEN l_extendedprice END AS px FROM lineitem) "
        "SELECT l_returnflag, "
        "ROUND(quantile_cont(px, 0.25), 6) AS p25, "
        "ROUND(quantile_cont(px, 0.5), 6) AS p50, "
        "ROUND(quantile_cont(px, 0.75), 6) AS p75, "
        "ROUND(quantile_cont(px, 0.99), 6) AS p99 "
        "FROM r GROUP BY l_returnflag"
    ),
)
def agg_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles per group (Spark ``percentile`` ==
    DuckDB ``quantile_cont``, both linear-interpolation). Exact ordered
    statistics buffer the group — fine here, wrong at 100 TB, where the
    registered ``agg_approx_distinct``-style sketches (approx_percentile)
    take over; this is their correctness baseline. Measured: spreading the
    input first costs more than it saves here — the shuffle moves every
    value once just to build partial buffers elsewhere, and the merge still
    concatenates them; plain scan→partial→final wins. One aggregate taking
    the array of fractions buffers each group once and reads all four
    quantiles off the single sorted run — measured 4.4x over four separate
    ``percentile`` calls, which each rebuild that buffer."""
    li = load(spark, sf_dir, "lineitem").withColumn(
        "px",
        F.expr("CASE WHEN NOT isnan(l_extendedprice) AND "
               "abs(l_extendedprice) <> double('inf') "
               "THEN l_extendedprice END"),
    )
    pcts = F.expr("percentile(px, array(0.25, 0.5, 0.75, 0.99))")
    names = ["p25", "p50", "p75", "p99"]
    return (
        li.groupBy("l_returnflag")
        .agg(pcts.alias("pcts"))
        .select(
            "l_returnflag",
            *[F.round(F.col("pcts")[i], 6).alias(n) for i, n in enumerate(names)],
        )
    )


@register(
    "audit_key_skew",
    oracle="""
WITH f AS (
  SELECT l_partkey AS key, COUNT(*) AS c FROM lineitem GROUP BY l_partkey
),
s AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_keys,
         CAST(SUM(c) AS BIGINT) AS n_rows,
         CAST(MAX(c) AS BIGINT) AS max_key_rows,
         ROUND(AVG(c), 6) AS avg_key_rows,
         ROUND(sqrt(CAST(COUNT(*) * SUM(c * c) - SUM(c) * SUM(c) AS DOUBLE))
               / SUM(c), 6) AS cv
  FROM f
),
top AS (
  SELECT list(key ORDER BY c DESC, key ASC)[1:5] AS top_keys
  FROM f
)
SELECT s.*, top.top_keys FROM s, top
""",
)
def audit_key_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join/shuffle-key skew diagnosis — the first thing to run when a 100 TB
    join straggles: per-key row counts folded into distribution stats
    (max/avg, coefficient of variation) plus the 5 heaviest keys. cv ≈ 0
    means uniform hashing will balance; max_key_rows ≫ avg says those keys
    need salting (``join_salted_skew``) or AQE skew-join splitting.

    One keyed count (map-side combinable) + one scalar fold over the
    per-key table + a 5-row TakeOrdered — nothing proportional to |rows|
    ever reaches the driver. Determinism: cv is derived from EXACT integer
    moments (n·Σc² − (Σc)² under one sqrt) instead of a streaming
    STDDEV_POP whose Welford partial-merge order varies per engine/run —
    both sides aggregate integers exactly and take sqrt of the same value.
    (n·Σc² stays far inside int64 until Σc² ~ 9e18; at that corpus size
    this audit would run per-partition anyway.)"""
    f = (
        load(spark, sf_dir, "lineitem")
        .groupBy(F.col("l_partkey").alias("key"))
        .agg(F.count("*").alias("c"))
    )
    stats = f.agg(
        F.count("*").alias("n_keys"),
        F.sum("c").cast("bigint").alias("n_rows"),
        F.max("c").alias("max_key_rows"),
        F.round(F.avg("c"), 6).alias("avg_key_rows"),
        F.round(
            F.sqrt(
                (
                    F.count("*") * F.sum(F.col("c") * F.col("c"))
                    - F.sum("c") * F.sum("c")
                ).cast("double")
            )
            / F.sum("c"),
            6,
        ).alias("cv"),
    )
    top = (
        f.orderBy(F.col("c").desc(), F.col("key").asc())
        .limit(5)  # TakeOrderedAndProject: 5 rows/partition reduced on driver
        .agg(
            # collect_list order is not contractual — re-sort the 5 survivors
            # by (-count, key) inside the array for a deterministic result
            F.expr(
                "transform(array_sort(collect_list("
                "struct(CAST(-c AS BIGINT) AS negc, key))), s -> s.key)"
            ).alias("top_keys")
        )
    )
    return stats.crossJoin(F.broadcast(top))


@register(
    "agg_histogram_equiwidth",
    oracle="""
WITH mm AS (
  SELECT MIN(CASE WHEN abs(l_extendedprice) <= 1e15
             THEN l_extendedprice END) AS lo,
         MAX(CASE WHEN abs(l_extendedprice) <= 1e15
             THEN l_extendedprice END) AS hi
  FROM lineitem
),
b AS (
  SELECT l_returnflag,
         CASE WHEN abs(l_extendedprice) <= 1e15 THEN
           CAST(least(floor((l_extendedprice - mm.lo)
                            / ((mm.hi - mm.lo) / 10)), 9) AS INT)
         END AS bucket
  FROM lineitem, mm
)
SELECT b.l_returnflag, b.bucket,
       ROUND(mm.lo + b.bucket * ((mm.hi - mm.lo) / 10), 6) AS lo_edge,
       ROUND(mm.lo + (b.bucket + 1) * ((mm.hi - mm.lo) / 10), 6) AS hi_edge,
       CAST(COUNT(*) AS BIGINT) AS n
FROM b, mm
GROUP BY b.l_returnflag, b.bucket, mm.lo, mm.hi
""",
)
def agg_histogram_equiwidth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-width histogram (10 buckets) of extended price per return flag —
    the distribution-profiling pass that sizes salting, bucket layouts, and
    AQE skew thresholds before a big job runs.

    Two scans total: a scalar min/max pre-pass broadcast to every task
    (one row — the same broadcast-scalar shape as text_winsorize_lengths),
    then one grouped count keyed on (flag, bucket) — ≤ |flags|×10 output
    rows regardless of input size. Bucket index is pure double arithmetic
    (floor((x-lo)/w) clamped to the top bucket) evaluated identically in
    both engines, so the differential is exact; only the float EDGES are
    rounded for display."""
    li = load(spark, sf_dir, "lineitem").select("l_returnflag", "l_extendedprice")
    # finite-only domain (r11 hostile pin): lo/hi over ±Inf/NaN poison
    # every bucket edge; non-finite/NULL prices take the NULL bucket
    # |x| <= 1e15 (NaN/±Inf fail the comparison too): ±1e308 values make
    # hi-lo overflow to Inf and the bucket arithmetic becomes engine-
    # dependent NaN soup — the histogram domain is bounded instead
    finite = F.expr("CASE WHEN abs(l_extendedprice) <= 1e15 "
                    "THEN l_extendedprice END")
    mm = li.agg(
        F.min(finite).alias("lo"), F.max(finite).alias("hi")
    )
    w = (F.col("hi") - F.col("lo")) / 10
    return (
        li.crossJoin(F.broadcast(mm))
        .withColumn(
            "bucket",
            # the isNotNull guard matters: least() SKIPS NULL args in both
            # engines, so an unguarded out-of-domain row would land in
            # bucket 9 instead of the NULL bucket
            F.when(
                finite.isNotNull(),
                F.least(
                    F.floor((finite - F.col("lo")) / w), F.lit(9)
                ).cast("int"),
            ),
        )
        .groupBy("l_returnflag", "bucket", "lo", "hi")
        .agg(F.count("*").alias("n"))
        .select(
            "l_returnflag",
            "bucket",
            F.round(F.col("lo") + F.col("bucket") * w, 6).alias("lo_edge"),
            F.round(F.col("lo") + (F.col("bucket") + 1) * w, 6).alias("hi_edge"),
            "n",
        )
    )


_IVL_MS = 30 * 86_400_000  # 30-day interval length and band width


@register(
    "join_interval_overlap_banded",
    oracle=f"""
WITH a AS (
  SELECT o_custkey, o_orderkey,
         epoch_ms(CAST(o_orderdate AS TIMESTAMP)) AS s,
         epoch_ms(CAST(o_orderdate AS TIMESTAMP)) + {_IVL_MS} AS e
  FROM orders WHERE o_orderpriority = '1-URGENT'
),
b AS (
  SELECT o_custkey, o_orderkey,
         epoch_ms(CAST(o_orderdate AS TIMESTAMP)) AS s,
         epoch_ms(CAST(o_orderdate AS TIMESTAMP)) + {_IVL_MS} AS e
  FROM orders WHERE o_orderpriority = '5-LOW'
)
SELECT a.o_custkey AS custkey,
       a.o_orderkey AS urgent_key, b.o_orderkey AS low_key,
       CAST((least(a.e, b.e) - greatest(a.s, b.s)) // 86400000 AS INT)
         AS overlap_days
FROM a JOIN b
  ON a.o_custkey = b.o_custkey AND a.s < b.e AND b.s < a.e
""",
)
def join_interval_overlap_banded(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Interval-OVERLAP join as a banded equi-join: per customer, every
    (urgent-order window ⨯ low-order window) pair whose 30-day validity
    intervals overlap. The oracle states the textbook theta form
    (a.s < b.e AND b.s < a.e); the Spark plan replicates each interval
    into the 30-day band(s) it spans (≤ 2 here), hash-joins on
    (custkey, band), re-checks the exact overlap, and emits each pair
    EXACTLY ONCE by keeping only the band containing
    greatest(a.start, b.start) — no DISTINCT pass needed, no nested loop
    anywhere. This generalizes join_range_banded (point-in-band) to
    interval-vs-interval: SCD validity joins, IP-range joins, and
    meeting/session overlap all take this exact shape at 100 TB, with the
    band width chosen ≈ the typical interval length so replication stays
    O(1) per row."""
    o = load(spark, sf_dir, "orders").select(
        "o_custkey",
        "o_orderkey",
        "o_orderpriority",
        F.unix_millis(F.col("o_orderdate").cast("timestamp")).alias("s"),
    ).withColumn("e", F.col("s") + F.lit(_IVL_MS))

    def banded(df, prio):
        return (
            df.filter(F.col("o_orderpriority") == prio)
            .withColumn(
                "band",
                F.explode(
                    F.sequence(
                        F.expr(f"s div {_IVL_MS}"),
                        F.expr(f"(e - 1) div {_IVL_MS}"),
                    )
                ),
            )
            .drop("o_orderpriority")
        )

    a = banded(o, "1-URGENT").alias("a")
    b = banded(o, "5-LOW").alias("b")
    joined = a.join(
        b,
        (F.col("a.o_custkey") == F.col("b.o_custkey"))
        & (F.col("a.band") == F.col("b.band"))
        & (F.col("a.s") < F.col("b.e"))
        & (F.col("b.s") < F.col("a.e"))
        # exactly-once: a pair sharing k bands matches only in the band
        # where the later interval starts
        & (
            F.col("a.band")
            == F.floor(
                F.greatest(F.col("a.s"), F.col("b.s")) / F.lit(_IVL_MS)
            )
        ),
    )
    return joined.select(
        F.col("a.o_custkey").alias("custkey"),
        F.col("a.o_orderkey").alias("urgent_key"),
        F.col("b.o_orderkey").alias("low_key"),
        (
            (
                F.least(F.col("a.e"), F.col("b.e"))
                - F.greatest(F.col("a.s"), F.col("b.s"))
            )
            / F.lit(86_400_000)
        )
        .cast("int")
        .alias("overlap_days"),
    )
