"""Round-3 allocation/experimentation extensions.

- largest-remainder allocation — split an order's total across its line
  items proportionally so the integer parts sum EXACTLY to the total (the
  finance-grade proration every billing/revenue-recognition pipeline
  needs: naive rounding leaks cents, and leaked cents fail audits);
- A/B sample-ratio-mismatch (SRM) check — the experimentation-platform
  health query: is the observed variant split consistent with the
  intended 50/50 assignment? (An SRM means the bucketing is broken and
  every downstream metric is garbage.)

Determinism: both are pure integer arithmetic — floor division +
largest-remainder ranks, and a cross-multiplied chi-square comparison.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from c2_duckdb_runner_spark.operators.inference_ext import CENTS_SQL, cents
from c2_duckdb_runner_spark.registry import register
from c2_duckdb_runner_spark.tables import load


@register(
    "alloc_largest_remainder",
    oracle=f"""
WITH li AS (
  SELECT l_orderkey AS k, l_linenumber AS ln,
         CAST(l_quantity AS BIGINT) AS q
  FROM lineitem
),
o AS (
  SELECT o_orderkey AS k,
         {CENTS_SQL.format('o_totalprice')} AS total_cents
  FROM orders WHERE o_orderkey % 9 = 0
),
j AS (
  SELECT o.k AS k, ln, q, total_cents,
         CAST(SUM(q) OVER (PARTITION BY o.k) AS BIGINT) AS qsum
  FROM o JOIN li ON li.k = o.k
),
base AS (
  SELECT k, ln, q, total_cents, qsum,
         total_cents * q // qsum AS floor_cents,
         total_cents * q % qsum AS rem
  FROM j
),
ranked AS (
  SELECT k, ln, q, total_cents, floor_cents,
         ROW_NUMBER() OVER (PARTITION BY k ORDER BY rem DESC, ln ASC, q ASC)
           AS rr,
         total_cents - SUM(floor_cents) OVER (PARTITION BY k) AS leftover
  FROM base
)
SELECT CAST(k AS BIGINT) AS order_key, CAST(ln AS BIGINT) AS line_no,
       CAST(q AS BIGINT) AS quantity,
       CAST(floor_cents + CASE WHEN rr <= leftover THEN 1 ELSE 0 END
            AS BIGINT) AS alloc_cents
FROM ranked
""",
)
def alloc_largest_remainder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Largest-remainder (Hamilton) allocation — prorate each order's
    total across its line items by quantity such that the integer cent
    allocations sum EXACTLY to the order total: floor shares first, then
    the leftover cents go to the largest fractional remainders
    (tie-broken by line number, then quantity — a TOTAL order even on
    duplicate line numbers). Naive per-line rounding drifts by up to
    n/2 cents per order — the drift revenue-recognition audits exist to
    catch; this is the algorithm that makes reconciliation exact by
    construction.

    Shape: one order-keyed join, then ONE window partitioning (quantity
    sum, remainder ranks, floor-sum leftover all share the o_orderkey
    sort) — per-order state is the line count, never corpus-sized.
    Every quantity is integer, so shares and remainders are exact int64
    on both engines; Σ alloc_cents = total_cents is a provable invariant
    (pinned by the oracle's identical arithmetic)."""
    li = load(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("k"),
        F.col("l_linenumber").alias("ln"),
        F.col("l_quantity").cast("bigint").alias("q"),
    )
    o = (
        load(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") % 9 == 0)
        .select(
            F.col("o_orderkey").alias("k"),
            cents("o_totalprice").alias(
                "total_cents"
            ),
        )
    )
    wk = Window.partitionBy("k")
    j = o.join(li, "k").withColumn("qsum", F.sum("q").over(wk).cast("bigint"))
    base = j.select(
        "k",
        "ln",
        "q",
        "total_cents",
        F.expr("total_cents * q div qsum").alias("floor_cents"),
        (F.col("total_cents") * F.col("q") % F.col("qsum")).alias("rem"),
    )
    ranked = base.select(
        "k",
        "ln",
        "q",
        "floor_cents",
        # (rem, ln) alone is NOT a total order: the fixture's lineitem
        # carries duplicate line numbers, and the round-6 10x sweep caught
        # two equal-remainder twin lines whose ±1 cent landed on a
        # partition-order-dependent row — q completes the ordering (full
        # ties are then identical rows, interchangeable in the multiset)
        F.row_number()
        .over(
            Window.partitionBy("k").orderBy(
                F.desc("rem"), F.asc("ln"), F.asc("q")
            )
        )
        .alias("rr"),
        (F.col("total_cents") - F.sum("floor_cents").over(wk)).alias("leftover"),
    )
    return ranked.select(
        F.col("k").cast("bigint").alias("order_key"),
        F.col("ln").cast("bigint").alias("line_no"),
        F.col("q").cast("bigint").alias("quantity"),
        (
            F.col("floor_cents")
            + F.when(F.col("rr") <= F.col("leftover"), 1).otherwise(0)
        )
        .cast("bigint")
        .alias("alloc_cents"),
    )


@register(
    "ab_sample_ratio_check",
    oracle="""
WITH assign AS (
  SELECT DISTINCT user_id,
         CAST(('0x' || substring(md5('ab:' || CAST(user_id AS VARCHAR)),
                                 1, 8)) AS BIGINT) % 2 AS variant
  FROM events
),
c AS (
  SELECT CAST(COUNT(*) FILTER (WHERE variant = 0) AS BIGINT) AS n0,
         CAST(COUNT(*) FILTER (WHERE variant = 1) AS BIGINT) AS n1
  FROM assign
)
SELECT n0, n1, CAST(n0 + n1 AS BIGINT) AS n_total,
       CAST((n0 - n1) * (n0 - n1) AS BIGINT) AS chisq_num,
       ((n0 - n1) * (n0 - n1) * 1000 > 3841 * (n0 + n1)) AS srm_flag
FROM c
""",
)
def ab_sample_ratio_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A/B sample-ratio-mismatch (SRM) check — the first health query an
    experimentation platform runs: with a 50/50 hash assignment, the
    chi-square statistic is (n0−n1)²/N; if it exceeds the χ²₁ 95%
    critical value 3.841 the BUCKETING is broken (clients crashing in one
    arm, bot filtering skew) and every downstream metric is invalid.
    The comparison is cross-multiplied — (n0−n1)²·1000 > 3841·N — so no
    division or float appears and both engines agree exactly.

    Assignment is the real mechanism: a salted hash of the unit id
    (md5 parity here ≙ the production bucketing hash), so the check
    validates the actual assignment function, not a stored column. One
    distinct + one global count — trivially scalable."""
    assign = (
        load(spark, sf_dir, "events")
        .select("user_id")
        .distinct()
        .select(
            (
                F.expr(
                    "CAST(conv(substring(md5('ab:' || CAST(user_id AS STRING)),"
                    " 1, 8), 16, 10) AS BIGINT)"
                )
                % 2
            ).alias("variant")
        )
    )
    c = assign.agg(
        F.count(F.when(F.col("variant") == 0, 1)).cast("bigint").alias("n0"),
        F.count(F.when(F.col("variant") == 1, 1)).cast("bigint").alias("n1"),
    )
    d = F.col("n0") - F.col("n1")
    return c.select(
        "n0",
        "n1",
        (F.col("n0") + F.col("n1")).cast("bigint").alias("n_total"),
        (d * d).cast("bigint").alias("chisq_num"),
        ((d * d * 1000) > 3841 * (F.col("n0") + F.col("n1"))).alias("srm_flag"),
    )


@register(
    "sql_create_function_udf",
    oracle="""
SELECT l_orderkey, l_linenumber,
       CAST(floor(l_extendedprice * (1 - l_discount) * (1 + l_tax) * 100
                  + 0.5) AS BIGINT) AS charged_cents
FROM lineitem WHERE l_linenumber = 1
""",
)
def sql_create_function_udf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL-DEFINED scalar function (CREATE TEMPORARY FUNCTION … RETURN
    expr) — the shareable-business-logic surface: the charged-amount rule
    is declared ONCE in SQL and every query calls it by name, exactly like
    DuckDB macros (``CREATE MACRO``), with none of a Python UDF's
    serialization cost. Because the body is a SQL expression, Catalyst
    INLINES it — the plan is identical to writing the expression by hand,
    so the function boundary costs nothing (same reason the oracle can
    just inline it).

    The rule: net-of-discount, tax added, half-up integer cents (floor of
    x+0.5 — pinned explicitly, as numpy/engine round-half rules differ).
    Map-only codegen projection."""
    from c2_duckdb_runner_spark.tables import register_views

    register_views(spark, sf_dir)
    spark.sql(
        "CREATE OR REPLACE TEMPORARY FUNCTION charged_cents("
        "price DOUBLE, disc DOUBLE, tax DOUBLE) RETURNS BIGINT "
        "RETURN CAST(floor(price * (1 - disc) * (1 + tax) * 100 + 0.5) "
        "AS BIGINT)"
    )
    return spark.sql(
        "SELECT l_orderkey, l_linenumber, "
        "charged_cents(l_extendedprice, l_discount, l_tax) AS charged_cents "
        "FROM lineitem WHERE l_linenumber = 1"
    )
