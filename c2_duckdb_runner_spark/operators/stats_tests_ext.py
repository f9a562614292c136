"""Round-4 nonparametric-test extensions — completing the drift/inference
family (KS, chi-square, bootstrap) with the two remaining workhorses:

- PERMUTATION (randomization) test for a group mean difference — the
  assumption-free significance test: re-label rows B times and ask how
  often the shuffled statistic beats the observed one. Like the
  bootstrap, the B relabelings evaluate as ONE scan with B conditional
  partial sums (deterministic md5 coin per (row, b) — no row explosion,
  no RNG, reproducible across engines and partitionings);
- MANN-KENDALL trend test per key — the standard monotone-trend detector
  for time series: S = Σ_{i<j} sign(x_j − x_i) over the key's (bounded,
  downsampled) daily series. Sign sums over integer series points are
  exact; the pair enumeration runs on the 30-point-per-key DAILY rollup,
  never the raw events (the downsample IS the scale story: at 100 TB the
  series per key is still ~30 points).

Reference reach: the delegated SQL slot (``main.cc:181-182``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from c2_duckdb_runner_spark.operators.inference_ext import CENTS_SQL, cents
from c2_duckdb_runner_spark.registry import register
from c2_duckdb_runner_spark.tables import load

# ---------------------------------------------------------------------------
# stats_permutation_test
# ---------------------------------------------------------------------------

_PERM_B = 16


def _perm_u(engine: str, b: int) -> str:
    s = f"CAST(event_id AS STRING) || '_p' || '{b}'"
    d = f"CAST(event_id AS VARCHAR) || '_p' || '{b}'"
    return (
        f"CAST(conv(substring(md5({s}), 1, 4), 16, 10) AS INT)"
        if engine == "spark"
        else f"CAST(('0x' || substring(md5({d}), 1, 4)) AS INT)"
    )


def _perm_oracle() -> str:
    sums = ",\n".join(
        f"  CAST(SUM(CASE WHEN {_perm_u('duck', b)} < 32768 THEN cents ELSE 0 END) AS BIGINT) AS s{b},\n"
        f"  CAST(SUM(CASE WHEN {_perm_u('duck', b)} < 32768 THEN 1 ELSE 0 END) AS BIGINT) AS c{b}"
        for b in range(_PERM_B)
    )
    tstats = ", ".join(
        f"abs((10000 * s{b}) // GREATEST(c{b}, 1) "
        f"- (10000 * (tot - s{b})) // GREATEST(n - c{b}, 1))"
        for b in range(_PERM_B)
    )
    return f"""
WITH e AS (
  SELECT event_id, user_id % 2 AS grp,
         {CENTS_SQL.format('value')} AS cents
  FROM events
),
agg AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(cents) AS BIGINT) AS tot,
         CAST(SUM(CASE WHEN grp = 0 THEN cents ELSE 0 END) AS BIGINT) AS s_obs,
         CAST(SUM(CASE WHEN grp = 0 THEN 1 ELSE 0 END) AS BIGINT) AS c_obs,
{sums}
  FROM e
),
t AS (
  SELECT n,
         abs((10000 * s_obs) // GREATEST(c_obs, 1)
             - (10000 * (tot - s_obs)) // GREATEST(n - c_obs, 1)) AS t_obs,
         [{tstats}] AS perms
  FROM agg
)
SELECT n, CAST(t_obs AS BIGINT) AS t_obs_micro,
       CAST(len(list_filter(perms, p -> p >= t_obs)) AS INT) AS n_extreme,
       CAST({_PERM_B} AS INT) AS n_perms,
       CAST(CASE WHEN len(list_filter(perms, p -> p >= t_obs)) = 0
            THEN 1 ELSE 0 END AS INT) AS signif
FROM t
"""


@register("stats_permutation_test", oracle=_perm_oracle())
def stats_permutation_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Permutation test for the odd-vs-even-user mean value difference:
    16 deterministic md5-coin relabelings, each evaluated as conditional
    partial sums inside the SAME single aggregation as the observed
    statistic — one corpus scan total, the randomization-inference twin
    of stats_bootstrap_mean_ci's one-scan trick.

    Everything is integer (cents in, micro-unit |mean difference| out via
    integral division), so both engines agree bit-for-bit on every
    permuted statistic and on the extremeness count. ``signif`` is the
    B=16 Monte-Carlo verdict: no permutation reached the observed gap."""
    e = load(spark, sf_dir, "events").select(
        "event_id",
        (F.col("user_id") % 2).alias("grp"),
        cents("value").alias("cents"),
    )
    aggs = [
        F.count("*").cast("bigint").alias("n"),
        F.sum("cents").cast("bigint").alias("tot"),
        F.sum(F.when(F.col("grp") == 0, F.col("cents")).otherwise(0))
        .cast("bigint")
        .alias("s_obs"),
        F.sum(F.when(F.col("grp") == 0, 1).otherwise(0))
        .cast("bigint")
        .alias("c_obs"),
    ]
    for b in range(_PERM_B):
        u = _perm_u("spark", b)
        aggs.append(
            F.expr(
                f"CAST(SUM(CASE WHEN {u} < 32768 THEN cents ELSE 0 END) AS BIGINT)"
            ).alias(f"s{b}")
        )
        aggs.append(
            F.expr(
                f"CAST(SUM(CASE WHEN {u} < 32768 THEN 1 ELSE 0 END) AS BIGINT)"
            ).alias(f"c{b}")
        )
    agg = e.agg(*aggs)
    tstats = ", ".join(
        f"abs((10000 * s{b}) div GREATEST(c{b}, 1L) "
        f"- (10000 * (tot - s{b})) div GREATEST(n - c{b}, 1L))"
        for b in range(_PERM_B)
    )
    t = agg.select(
        "n",
        F.expr(
            "abs((10000 * s_obs) div GREATEST(c_obs, 1L) "
            "- (10000 * (tot - s_obs)) div GREATEST(n - c_obs, 1L))"
        ).alias("t_obs"),
        F.expr(f"array({tstats})").alias("perms"),
    )
    return t.select(
        "n",
        F.col("t_obs").cast("bigint").alias("t_obs_micro"),
        F.expr("CAST(size(filter(perms, p -> p >= t_obs)) AS INT)").alias(
            "n_extreme"
        ),
        F.lit(_PERM_B).cast("int").alias("n_perms"),
        F.expr(
            "CAST(CASE WHEN size(filter(perms, p -> p >= t_obs)) = 0 "
            "THEN 1 ELSE 0 END AS INT)"
        ).alias("signif"),
    )


# ---------------------------------------------------------------------------
# ts_mann_kendall_trend
# ---------------------------------------------------------------------------

_MK_THRESH = 60  # |S| above this on a ~30-point series = clear trend


@register(
    "ts_mann_kendall_trend",
    oracle=f"""
WITH daily AS (
  SELECT event_type, date_trunc('day', ts) AS d,
         (10000 * CAST(SUM({CENTS_SQL.format('value')}) AS BIGINT))
           // CAST(COUNT(*) AS BIGINT) AS x
  FROM events GROUP BY event_type, date_trunc('day', ts)
),
pairs AS (
  SELECT a.event_type,
         CASE WHEN b.x > a.x THEN 1 WHEN b.x < a.x THEN -1 ELSE 0 END AS sgn
  FROM daily a JOIN daily b
    ON a.event_type = b.event_type AND a.d < b.d
)
SELECT event_type,
       CAST((SELECT COUNT(*) FROM daily dd WHERE dd.event_type = pairs.event_type) AS INT) AS n_points,
       CAST(SUM(sgn) AS BIGINT) AS s_stat,
       CASE WHEN SUM(sgn) > {_MK_THRESH} THEN 'up'
            WHEN SUM(sgn) < -{_MK_THRESH} THEN 'down'
            ELSE 'flat' END AS trend
FROM pairs GROUP BY event_type
""",
)
def ts_mann_kendall_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann–Kendall monotone-trend test per event type: S = sum of
    sign(x_j - x_i) over all ordered day pairs of the type's DAILY mean
    series (integer micro-units, so every sign is exact cross-engine).

    Scale shape: the raw events reduce to a ~30-point daily series per
    key FIRST (one keyed aggregate with map-side partials); the O(n²)
    pair enumeration then runs on 30-point series — ~435 pairs per key
    regardless of corpus size. That downsample-then-test order is the
    whole design: trend tests at 100 TB are cheap because the series,
    not the events, carry the statistic."""
    daily = (
        load(spark, sf_dir, "events")
        .groupBy("event_type", F.date_trunc("day", F.col("ts")).alias("d"))
        .agg(F.sum(cents("value")).alias("s"), F.count("*").alias("n"))
        .select("event_type", "d", F.expr("(10000 * s) div n").alias("x"))
    )
    a, b = daily.alias("a"), daily.alias("b")
    pairs = a.join(
        b,
        (F.col("a.event_type") == F.col("b.event_type"))
        & (F.col("a.d") < F.col("b.d")),
    ).select(
        F.col("a.event_type").alias("event_type"),
        F.when(F.col("b.x") > F.col("a.x"), 1)
        .when(F.col("b.x") < F.col("a.x"), -1)
        .otherwise(0)
        .alias("sgn"),
    )
    npts = daily.groupBy("event_type").agg(
        F.count("*").cast("int").alias("n_points")
    )
    s = pairs.groupBy("event_type").agg(
        F.sum("sgn").cast("bigint").alias("s_stat")
    )
    return (
        s.join(npts, "event_type")
        .select(
            "event_type",
            "n_points",
            "s_stat",
            F.when(F.col("s_stat") > _MK_THRESH, "up")
            .when(F.col("s_stat") < -_MK_THRESH, "down")
            .otherwise("flat")
            .alias("trend"),
        )
    )
