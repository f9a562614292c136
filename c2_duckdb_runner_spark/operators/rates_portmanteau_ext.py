"""Round-4 rate-ranking / residual-diagnostic extensions:

- BAYES-SMOOTHED RATE — Beta(2,2)-posterior mean per nation, the
  shrinkage fix for ranking small-n segments by raw rate (the classic
  "sort by average" bug). Posterior mean (α+s)/(α+β+n) is an exact
  fraction → exact micro integers;
- WILSON LOWER BOUND — the frequentist counterpart (z=1.96): rank
  segments by the confidence-interval FLOOR, not the point estimate.
  The only float is one sqrt of an exact ratio, written
  token-identically on both engines;
- LJUNG-BOX PORTMANTEAU — Q = n(n+2)Σ r_k²/(n−k) over the lag-1..3
  autocorrelations ts_autocorr_lags computes (same micro-int r_k
  construction, cited there): is there autocorrelation LEFT in the
  series — the residual-whiteness gate a forecast pipeline runs after
  ts_holt_linear_forecast. Q stays integer at micro² scale; the 95%
  χ²(3) decision compares against an inlined integer threshold.

Reference reach: the delegated SQL slot (``main.cc:181-182``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from c2_duckdb_runner_spark.operators.inference_ext import DAILY_MILLI_SQL, daily_milli
from c2_duckdb_runner_spark.registry import register
from c2_duckdb_runner_spark.tables import load

# ---------------------------------------------------------------------------
# agg_bayes_smoothed_rate
# ---------------------------------------------------------------------------

_BAYES_ORACLE = """
WITH g AS (
  SELECT CAST(c_nationkey AS INT) AS nationkey,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(CASE WHEN c_acctbal > 5000 THEN 1 ELSE 0 END) AS BIGINT) AS s
  FROM customer GROUP BY 1
)
SELECT nationkey, n, s,
  CAST((1000000*s) // n AS BIGINT) AS raw_rate_micro,
  CAST((1000000*(2 + s)) // (4 + n) AS BIGINT) AS smoothed_rate_micro
FROM g
"""


@register("agg_bayes_smoothed_rate", oracle=_BAYES_ORACLE)
def agg_bayes_smoothed_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Beta(2,2)-smoothed high-balance rate per nation: the posterior
    mean (2+s)/(4+n) shrinks small-n segments toward 50% so a 1-of-2
    segment can't outrank a 400-of-1000 one — exact micro integers,
    one keyed scan."""
    c = load(spark, sf_dir, "customer")
    g = (
        c.select(
            F.col("c_nationkey").cast("int").alias("nationkey"),
            F.expr("CASE WHEN c_acctbal > 5000 THEN 1 ELSE 0 END").alias("hi"),
        )
        .groupBy("nationkey")
        .agg(
            F.count("*").cast("bigint").alias("n"),
            F.sum("hi").cast("bigint").alias("s"),
        )
    )
    return g.select(
        "nationkey",
        "n",
        "s",
        F.expr("CAST((1000000*s) DIV n AS BIGINT)").alias("raw_rate_micro"),
        F.expr("CAST((1000000*(2 + s)) DIV (4 + n) AS BIGINT)").alias(
            "smoothed_rate_micro"
        ),
    )


# ---------------------------------------------------------------------------
# rank_wilson_lower_bound
# ---------------------------------------------------------------------------

_WILSON_ORACLE = """
WITH g AS (
  SELECT CAST(c_nationkey AS INT) AS nationkey,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(CASE WHEN c_acctbal > 5000 THEN 1 ELSE 0 END) AS BIGINT) AS s
  FROM customer GROUP BY 1
),
d AS (SELECT nationkey, n, s, CAST(s AS DOUBLE)/CAST(n AS DOUBLE) AS p FROM g)
SELECT nationkey, n, s,
  ROUND((p + 1.959963985*1.959963985/(2.0*CAST(n AS DOUBLE))
        - 1.959963985*sqrt(p*(1.0-p)/CAST(n AS DOUBLE)
          + 1.959963985*1.959963985
            /(4.0*CAST(n AS DOUBLE)*CAST(n AS DOUBLE))))
       / (1.0 + 1.959963985*1.959963985/CAST(n AS DOUBLE)), 6) AS wilson_lb_r6
FROM d
"""


@register("rank_wilson_lower_bound", oracle=_WILSON_ORACLE)
def rank_wilson_lower_bound(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wilson 95% lower confidence bound on the per-nation high-balance
    rate — the frequentist segment-ranking key next to the Bayes
    posterior mean. Inputs are exact integer (n, s); the float tail
    (one sqrt of an exact ratio, IEEE-determined) is written
    token-identically on both engines and rounded to 6 dp on a
    25-row frame."""
    c = load(spark, sf_dir, "customer")
    g = (
        c.select(
            F.col("c_nationkey").cast("int").alias("nationkey"),
            F.expr("CASE WHEN c_acctbal > 5000 THEN 1 ELSE 0 END").alias("hi"),
        )
        .groupBy("nationkey")
        .agg(
            F.count("*").cast("bigint").alias("n"),
            F.sum("hi").cast("bigint").alias("s"),
        )
        .withColumn("p", F.expr("CAST(s AS DOUBLE)/CAST(n AS DOUBLE)"))
    )
    return g.select(
        "nationkey",
        "n",
        "s",
        F.round(
            F.expr(
                "(p + 1.959963985*1.959963985/(2.0*CAST(n AS DOUBLE))"
                " - 1.959963985*sqrt(p*(1.0-p)/CAST(n AS DOUBLE)"
                " + 1.959963985*1.959963985"
                "/(4.0*CAST(n AS DOUBLE)*CAST(n AS DOUBLE))))"
                " / (1.0 + 1.959963985*1.959963985/CAST(n AS DOUBLE))"
            ),
            6,
        ).alias("wilson_lb_r6"),
    )


# ---------------------------------------------------------------------------
# ts_ljung_box
# ---------------------------------------------------------------------------

_LB_THRESH = 7_814_728_000_000  # χ²(3) at 0.95 = 7.814728, at micro² scale

_LB_ORACLE = f"""
WITH daily AS ({DAILY_MILLI_SQL}),
means AS (
  SELECT event_type, CAST(SUM(x) AS BIGINT) // CAST(COUNT(*) AS BIGINT) AS m
  FROM daily GROUP BY event_type
),
dev AS (
  SELECT d.event_type, d.d, d.x - m.m AS dv,
         lead(d.x - m.m, 1) OVER w AS dv1,
         lead(d.x - m.m, 2) OVER w AS dv2,
         lead(d.x - m.m, 3) OVER w AS dv3
  FROM daily d JOIN means m USING (event_type)
  WINDOW w AS (PARTITION BY d.event_type ORDER BY d.d)
),
num AS (
  SELECT event_type,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(dv * dv) AS BIGINT) AS den,
         CAST(SUM(CASE WHEN dv1 IS NULL THEN 0 ELSE dv * dv1 END) AS BIGINT) AS n1,
         CAST(SUM(CASE WHEN dv2 IS NULL THEN 0 ELSE dv * dv2 END) AS BIGINT) AS n2,
         CAST(SUM(CASE WHEN dv3 IS NULL THEN 0 ELSE dv * dv3 END) AS BIGINT) AS n3
  FROM dev GROUP BY event_type
),
r AS (
  SELECT event_type, n,
    CASE WHEN n1 >= 0 THEN (1000000*n1) // GREATEST(den, 1)
         ELSE -((1000000*(-n1)) // GREATEST(den, 1)) END AS r1,
    CASE WHEN n2 >= 0 THEN (1000000*n2) // GREATEST(den, 1)
         ELSE -((1000000*(-n2)) // GREATEST(den, 1)) END AS r2,
    CASE WHEN n3 >= 0 THEN (1000000*n3) // GREATEST(den, 1)
         ELSE -((1000000*(-n3)) // GREATEST(den, 1)) END AS r3
  FROM num
)
SELECT event_type, n,
  CAST(n*(n+2)*(r1*r1 // GREATEST(n-1, 1) + r2*r2 // GREATEST(n-2, 1) + r3*r3 // GREATEST(n-3, 1)) AS BIGINT)
    AS q_micro2,
  CAST(CASE WHEN n*(n+2)*(r1*r1 // GREATEST(n-1, 1) + r2*r2 // GREATEST(n-2, 1) + r3*r3 // GREATEST(n-3, 1))
            >= {_LB_THRESH} THEN 1 ELSE 0 END AS INT) AS autocorrelated
FROM r
"""


@register("ts_ljung_box", oracle=_LB_ORACLE)
def ts_ljung_box(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ljung-Box portmanteau test per event type over the daily mean
    series: Q = n(n+2)·Σ_{k≤3} r_k²/(n−k) with the SAME micro-int
    autocorrelations ts_autocorr_lags emits (inference_ext.py:219) —
    the whiteness gate for forecast residuals. r_k² is micro²-scaled so
    Q stays an exact integer (shared truncation), and the 95% χ²(3)
    decision compares against the inlined integer threshold
    7.814728·10¹² — no chi-square CDF at runtime.

    Scale: one keyed daily rollup; windows partition by event type over
    the calendar-bounded series."""
    daily = daily_milli(spark, sf_dir)
    means = daily.groupBy("event_type").agg(
        F.expr("CAST(SUM(x) AS BIGINT) div CAST(COUNT(*) AS BIGINT)").alias("m")
    )
    w = Window.partitionBy("event_type").orderBy("d")
    dev = (
        daily.join(F.broadcast(means), "event_type")
        .select("event_type", "d", (F.col("x") - F.col("m")).alias("dv"))
        .select(
            "event_type",
            "dv",
            F.lead("dv", 1).over(w).alias("dv1"),
            F.lead("dv", 2).over(w).alias("dv2"),
            F.lead("dv", 3).over(w).alias("dv3"),
        )
    )
    num = dev.groupBy("event_type").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum(F.expr("dv * dv")).cast("bigint").alias("den"),
        F.sum(F.expr("CASE WHEN dv1 IS NULL THEN 0 ELSE dv * dv1 END"))
        .cast("bigint")
        .alias("n1"),
        F.sum(F.expr("CASE WHEN dv2 IS NULL THEN 0 ELSE dv * dv2 END"))
        .cast("bigint")
        .alias("n2"),
        F.sum(F.expr("CASE WHEN dv3 IS NULL THEN 0 ELSE dv * dv3 END"))
        .cast("bigint")
        .alias("n3"),
    )
    r = num.select(
        "event_type",
        "n",
        F.expr(
            "CASE WHEN n1 >= 0 THEN (1000000*n1) DIV GREATEST(den, 1)"
            " ELSE -((1000000*(-n1)) DIV GREATEST(den, 1)) END"
        ).alias("r1"),
        F.expr(
            "CASE WHEN n2 >= 0 THEN (1000000*n2) DIV GREATEST(den, 1)"
            " ELSE -((1000000*(-n2)) DIV GREATEST(den, 1)) END"
        ).alias("r2"),
        F.expr(
            "CASE WHEN n3 >= 0 THEN (1000000*n3) DIV GREATEST(den, 1)"
            " ELSE -((1000000*(-n3)) DIV GREATEST(den, 1)) END"
        ).alias("r3"),
    )
    return r.select(
        "event_type",
        "n",
        F.expr(
            "CAST(n*(n+2)*(r1*r1 DIV GREATEST(n-1, 1) + r2*r2 DIV GREATEST(n-2, 1)"
            " + r3*r3 DIV GREATEST(n-3, 1)) AS BIGINT)"
        ).alias("q_micro2"),
        F.expr(
            f"CAST(CASE WHEN n*(n+2)*(r1*r1 DIV GREATEST(n-1, 1) + r2*r2 DIV GREATEST(n-2, 1)"
            f" + r3*r3 DIV GREATEST(n-3, 1)) >= {_LB_THRESH} THEN 1 ELSE 0 END AS INT)"
        ).alias("autocorrelated"),
    )
