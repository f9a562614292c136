"""Aggregation surface (reference delegates all of it at ``main.cc:181-182``;
the only aggregate it computes itself is the row count, ``main.cc:197``).

Determinism discipline: Spark's partial aggregation merges partitions in
nondeterministic order, so SUM/AVG over raw doubles is not reproducible
bit-for-bit against any oracle. Every money aggregate routes through
DECIMAL(18,2) (exact — fixtures are 2-dp values) and casts the final result
back to DOUBLE. min/max/count are order-independent and stay native.

Scale notes: group-bys here are all partial+final (map-side combine built
in); low-cardinality keys (returnflag × linestatus = 6 groups) reduce to
almost nothing before the shuffle.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from c2_duckdb_runner_spark.operators.inference_ext import CENTS_SQL, cents
from c2_duckdb_runner_spark.registry import register
from c2_duckdb_runner_spark.tables import load


def dsum(col: str, alias: str) -> Column:
    """Deterministic money sum: decimal-exact, surfaced as double."""
    return (
        F.sum(F.col(col).cast("decimal(18,2)")).cast("double").alias(alias)
    )


def davg(col: str, alias: str) -> Column:
    """Deterministic money avg: exact decimal sum / count, double division."""
    return (
        F.sum(F.col(col).cast("decimal(18,2)")).cast("double")
        / F.count(F.col(col))
    ).alias(alias)


@register(
    "agg_groupby_hash",
    oracle=(
        "SELECT l_returnflag, l_linestatus, "
        "CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty, "
        "CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price, "
        "CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE)"
        " AS sum_disc_price, "
        "CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(l_quantity)"
        " AS avg_qty, "
        "MIN(l_extendedprice) AS min_price, MAX(l_extendedprice) AS max_price, "
        "COUNT(*) AS count_order "
        "FROM lineitem WHERE l_quantity < 45 GROUP BY l_returnflag, l_linestatus"
    ),
)
def agg_groupby_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1-shaped pricing summary (the canonical scan→agg benchmark)."""
    li = load(spark, sf_dir, "lineitem").filter(F.col("l_quantity") < 45)
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        dsum("l_quantity", "sum_qty"),
        dsum("l_extendedprice", "sum_base_price"),
        F.sum(
            (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
                "decimal(18,4)"
            )
        )
        .cast("double")
        .alias("sum_disc_price"),
        davg("l_quantity", "avg_qty"),
        F.min("l_extendedprice").alias("min_price"),
        F.max("l_extendedprice").alias("max_price"),
        F.count("*").alias("count_order"),
    )


@register(
    "agg_min_max",
    oracle=(
        "SELECT o_orderstatus, MIN(o_totalprice) AS min_price, "
        "MAX(o_totalprice) AS max_price, "
        "MIN(o_orderdate) AS first_order, MAX(o_orderdate) AS last_order "
        "FROM orders GROUP BY o_orderstatus"
    ),
)
def agg_min_max(spark: SparkSession, sf_dir: str) -> DataFrame:
    """min/max are order-independent — safe on raw doubles and timestamps."""
    return (
        load(spark, sf_dir, "orders")
        .groupBy("o_orderstatus")
        .agg(
            F.min("o_totalprice").alias("min_price"),
            F.max("o_totalprice").alias("max_price"),
            F.min("o_orderdate").alias("first_order"),
            F.max("o_orderdate").alias("last_order"),
        )
    )


@register(
    "agg_distinct",
    oracle=(
        "SELECT COUNT(DISTINCT o_custkey) AS n_customers, "
        "COUNT(DISTINCT o_orderpriority) AS n_priorities FROM orders"
    ),
)
def agg_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact distinct — Spark expands to a two-stage aggregate; at scale
    prefer approx_count_distinct (next entry) when ±2% is acceptable."""
    return load(spark, sf_dir, "orders").agg(
        F.countDistinct("o_custkey").alias("n_customers"),
        F.countDistinct("o_orderpriority").alias("n_priorities"),
    )


@register(
    "agg_approx_distinct",
    oracle=(
        # Accuracy-pinned boolean oracle: the two engines run *different* HLL
        # implementations (Spark HLL++ vs DuckDB's sketch), so the raw approx
        # counts are never byte-comparable. But both agree bit-for-bit on the
        # VERDICT "my approx is within tolerance of my exact count" — each
        # side checks its own sketch against the shared exact answer, and the
        # exact count itself is hash-matched too. Tolerance 5×rsd (10%) is
        # ~5 standard deviations of the HLL estimator: deterministic-pass for
        # both engines, yet still a real accuracy gate.
        "SELECT exact_users, "
        "CAST(CASE WHEN ABS(CAST(approx_users AS DOUBLE) - exact_users) "
        "<= 0.10 * exact_users THEN 1 ELSE 0 END AS INT) AS within_rsd "
        "FROM (SELECT approx_count_distinct(user_id) AS approx_users, "
        "COUNT(DISTINCT user_id) AS exact_users FROM events)"
    ),
)
def agg_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog++ distinct (rsd 2%), cross-engine checked via an
    accuracy-pinned boolean: each engine asserts its own approx estimate is
    within 5×rsd of the exact distinct count, so the hash compares the exact
    count plus the (deterministically-true) verdict bit rather than two
    incomparable sketches. tests/test_aggregates-style bound now lives in
    the oracle itself."""
    agg = load(spark, sf_dir, "events").agg(
        F.approx_count_distinct("user_id", 0.02).alias("approx_users"),
        F.countDistinct("user_id").alias("exact_users"),
    )
    return agg.select(
        "exact_users",
        F.when(
            F.abs(F.col("approx_users").cast("double") - F.col("exact_users"))
            <= 0.10 * F.col("exact_users"),
            F.lit(1),
        )
        .otherwise(F.lit(0))
        .cast("int")
        .alias("within_rsd"),
    )


@register(
    "agg_groupby_multikey",
    oracle=(
        "SELECT l_returnflag, l_linestatus, l_quantity, COUNT(*) AS n "
        "FROM lineitem GROUP BY l_returnflag, l_linestatus, l_quantity"
    ),
)
def agg_groupby_multikey(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composite-key hash aggregate (3 grouping columns) — one shuffle on
    the tuple key, partial+final combine as in main.cc:197/273-281."""
    return (
        load(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag", "l_linestatus", "l_quantity")
        .agg(F.count("*").alias("n"))
    )


@register(
    "agg_having",
    oracle=(
        "SELECT o_custkey, COUNT(*) AS n_orders, "
        "CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_spend "
        "FROM orders GROUP BY o_custkey HAVING COUNT(*) >= 12"
    ),
)
def agg_having(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HAVING = post-aggregation filter."""
    return (
        load(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(
            F.count("*").alias("n_orders"),
            dsum("o_totalprice", "total_spend"),
        )
        .filter(F.col("n_orders") >= 12)
    )


@register(
    "agg_rollup",
    oracle=(
        "SELECT l_returnflag, l_linestatus, COUNT(*) AS n, "
        "CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty "
        "FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)"
    ),
)
def agg_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP — hierarchical subtotals (flag, flag+status, grand total)."""
    return (
        load(spark, sf_dir, "lineitem")
        .rollup("l_returnflag", "l_linestatus")
        .agg(F.count("*").alias("n"), dsum("l_quantity", "sum_qty"))
    )


@register(
    "agg_cube",
    oracle=(
        "SELECT l_returnflag, l_linestatus, COUNT(*) AS n "
        "FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)"
    ),
)
def agg_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE — all 2^k grouping combinations."""
    return (
        load(spark, sf_dir, "lineitem")
        .cube("l_returnflag", "l_linestatus")
        .agg(F.count("*").alias("n"))
    )


@register(
    "agg_grouping_sets",
    oracle=(
        "SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n FROM orders "
        "GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority))"
    ),
)
def agg_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUP BY GROUPING SETS: two independent groupings in one Expand +
    aggregate pass instead of a self-union of two scans."""
    load(spark, sf_dir, "orders").createOrReplaceTempView("v_orders_gs")
    return spark.sql(
        "SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n FROM v_orders_gs "
        "GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority))"
    )


@register(
    "agg_conditional",
    oracle=(
        "SELECT COUNT(*) AS n_total, "
        "COUNT(CASE WHEN event_type = 'purchase' THEN 1 END) AS n_purchase, "
        "CAST(SUM(CASE WHEN event_type = 'purchase' "
        "  THEN CAST(value AS DECIMAL(18,2)) ELSE CAST(0 AS DECIMAL(18,2)) END)"
        " AS DOUBLE) AS purchase_value "
        "FROM events"
    ),
)
def agg_conditional(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot-style conditional aggregation in one scan (no per-type passes)."""
    ev = load(spark, sf_dir, "events")
    is_p = F.col("event_type") == "purchase"
    return ev.agg(
        F.count("*").alias("n_total"),
        F.count(F.when(is_p, 1)).alias("n_purchase"),
        F.sum(
            F.when(is_p, F.col("value").cast("decimal(18,2)")).otherwise(
                F.lit(0).cast("decimal(18,2)")
            )
        )
        .cast("double")
        .alias("purchase_value"),
    )


@register(
    "agg_variance_manual",
    oracle=(
        "SELECT l_returnflag, "
        "CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS s1, "
        "CAST(SUM(CAST(l_quantity * l_quantity AS DECIMAL(28,4))) AS DOUBLE) AS s2, "
        "COUNT(*) AS n, "
        "ROUND((CAST(SUM(CAST(l_quantity * l_quantity AS DECIMAL(28,4))) AS DOUBLE) "
        " - CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) "
        "   * CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*)) "
        " / (COUNT(*) - 1), 6) AS var_qty "
        "FROM lineitem GROUP BY l_returnflag"
    ),
)
def agg_variance_manual(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample variance via exact sufficient statistics (Σx, Σx², n in
    decimal) — deterministic where native stddev/var over doubles is not.
    The same two-pass-free formulation works distributed at any scale."""
    li = load(spark, sf_dir, "lineitem")
    s1 = F.sum(F.col("l_quantity").cast("decimal(18,2)")).cast("double")
    s2 = F.sum(
        (F.col("l_quantity") * F.col("l_quantity")).cast("decimal(28,4)")
    ).cast("double")
    n = F.count("*")
    return li.groupBy("l_returnflag").agg(
        s1.alias("s1"),
        s2.alias("s2"),
        n.alias("n"),
        F.round((s2 - s1 * s1 / n) / (n - F.lit(1)), 6).alias("var_qty"),
    )


@register(
    "agg_percentile_disc",
    # NaN pin (r11 hostile): Spark's ordered statistics rank NaN as the
    # largest value while DuckDB's quantile_* ignore it — NaN is excluded
    # from the ordered set on BOTH sides (rows kept NULL so group
    # structure is unchanged)
    oracle="""
SELECT l_returnflag,
       CAST(quantile_disc(CASE WHEN NOT isnan(l_quantity)
                               THEN l_quantity END, 0.25) AS DOUBLE) AS q25,
       CAST(quantile_disc(CASE WHEN NOT isnan(l_quantity)
                               THEN l_quantity END, 0.50) AS DOUBLE) AS q50,
       CAST(quantile_disc(CASE WHEN NOT isnan(l_quantity)
                               THEN l_quantity END, 0.75) AS DOUBLE) AS q75
FROM lineitem GROUP BY l_returnflag
""",
)
def agg_percentile_disc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Discrete (type-1) percentiles — percentile_disc WITHIN GROUP returns
    an actual member of the group (smallest value whose cume_dist ≥ p),
    never an interpolation, so the result is exact and hash-stable even on
    doubles (no midpoint arithmetic). This is the ordered-statistic the
    exact `agg_percentiles` (continuous) deliberately does NOT give; both
    buffer per-group values, the documented exact-percentile cost."""
    li = load(spark, sf_dir, "lineitem").withColumn(
        "qty_real", F.expr("CASE WHEN NOT isnan(l_quantity) THEN l_quantity END")
    )
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.expr(
                "percentile_disc(0.25) WITHIN GROUP (ORDER BY qty_real)"
            ).alias("q25"),
            F.expr(
                "percentile_disc(0.50) WITHIN GROUP (ORDER BY qty_real)"
            ).alias("q50"),
            F.expr(
                "percentile_disc(0.75) WITHIN GROUP (ORDER BY qty_real)"
            ).alias("q75"),
        )
    )


@register(
    "agg_argminmax",
    oracle=f"""
SELECT o_custkey,
       arg_max(o_orderkey, {CENTS_SQL.format('o_totalprice')} * 10000000
                           + o_orderkey) AS biggest_order,
       arg_min(o_orderkey, {CENTS_SQL.format('o_totalprice')} * 10000000
                           + o_orderkey) AS smallest_order,
       CAST(MAX(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS max_price
FROM orders GROUP BY o_custkey
""",
)
def agg_argminmax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Argument-extremes (max_by/min_by ≙ DuckDB arg_max/arg_min) — 'which
    order was the biggest' without a join-back or a window. Ties are the
    trap: both engines pick an ARBITRARY row on equal keys, so the ordering
    key is made total by folding the unique o_orderkey into its low digits
    (prices have 2 decimals → ×100 is integral; ×1e7 leaves orderkey room).
    One hash aggregate, partial+final, no second pass — the cheapest
    formulation of a per-group argmax at any scale."""
    o = load(spark, sf_dir, "orders")
    key = (
        cents("o_totalprice") * F.lit(10000000)
        + F.col("o_orderkey")
    )
    return o.groupBy("o_custkey").agg(
        F.max_by("o_orderkey", key).alias("biggest_order"),
        F.min_by("o_orderkey", key).alias("smallest_order"),
        F.max(F.col("o_totalprice").cast("decimal(18,2)"))
        .cast("double")
        .alias("max_price"),
    )


@register(
    "agg_bitmap_distinct",
    oracle="""
SELECT l_returnflag, CAST(COUNT(DISTINCT l_suppkey) AS BIGINT) AS nd_supp
FROM lineitem GROUP BY l_returnflag
""",
)
def agg_bitmap_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT distinct count via Spark 4 bitmap aggregates — the scalable
    alternative to COUNT(DISTINCT): keys hash into 32k-bit bucket bitmaps
    (bitmap_bucket_number / bitmap_bit_position), each (group, bucket)
    partial-aggregates to one bitmap JVM-side, and popcounts sum per group.
    Unlike expand-based COUNT(DISTINCT) this never shuffles raw keys — the
    shuffle payload is ceil(keyspace/32768) bitmaps per group — and unlike
    HLL (`agg_approx_distinct`) it is exact, so the COUNT(DISTINCT) oracle
    hash-matches."""
    li = load(spark, sf_dir, "lineitem")
    per_bucket = li.groupBy(
        "l_returnflag",
        F.expr("bitmap_bucket_number(l_suppkey)").alias("bkt"),
    ).agg(
        F.expr(
            "bitmap_count(bitmap_construct_agg(bitmap_bit_position(l_suppkey)))"
        ).alias("cnt")
    )
    return per_bucket.groupBy("l_returnflag").agg(
        F.sum("cnt").cast("bigint").alias("nd_supp")
    )


@register(
    "agg_grouping_id",
    oracle="""
SELECT o_orderstatus, o_orderpriority,
       CAST(GROUPING(o_orderstatus) AS INT) AS g_status,
       CAST(GROUPING(o_orderpriority) AS INT) AS g_prio,
       CAST(COUNT(*) AS BIGINT) AS n
FROM orders GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
""",
)
def agg_grouping_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP with GROUPING() markers — the only way to tell a subtotal row
    (key nulled by the rollup) from a genuine NULL key value. Without the
    marker, rollup outputs are ambiguous the moment a grouping column is
    nullable; with it, every row self-describes its aggregation level.
    Spark's grouping() mirrors the SQL-standard function DuckDB implements;
    the Expand-based plan computes all levels in one pass."""
    o = load(spark, sf_dir, "orders")
    return o.rollup("o_orderstatus", "o_orderpriority").agg(
        F.grouping("o_orderstatus").cast("int").alias("g_status"),
        F.grouping("o_orderpriority").cast("int").alias("g_prio"),
        F.count("*").alias("n"),
    )
