"""Round-4 experimentation / growth-analytics extensions.

- CUPED VARIANCE REDUCTION (Deng et al., WSDM'13): adjust each user's
  post-period metric by θ·(pre-period covariate − its mean) before
  comparing arms — the standard trick that cuts A/B test variance
  20-50%; θ = cov(X,Y)/var(X) comes from exact integer sufficient
  statistics, the same DECIMAL route as agg_regression_manual;
- SYNCHRONOUS LABEL PROPAGATION over the trade graph — the community
  detector next to dedup_cluster_cc's connectivity: each round every
  node adopts its neighborhood's majority label (min label breaks
  ties), all nodes updating together so the result is
  iteration-deterministic;
- NEW vs RETURNING daily active users — the growth-accounting split
  (every DAU is either first-seen today or returning);
- WEEK-OVER-WEEK revenue change per event type — lag over the weekly
  rollup with the percent change as a sign-split integral micro-ratio.

Reference reach: the delegated SQL slot (``main.cc:181-182``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from c2_duckdb_runner_spark.operators.graph import _EDGES_SQL, _edges
from c2_duckdb_runner_spark.operators.inference_ext import CENTS_SQL, cents, sdiv
from c2_duckdb_runner_spark.registry import fdoc, register
from c2_duckdb_runner_spark.tables import load


# ---------------------------------------------------------------------------
# ab_cuped_adjustment
# ---------------------------------------------------------------------------


def _cuped_oracle() -> str:
    sdx_duck = (
        "("
        + sdiv("1000 * ax", "n_users", "duck")
        + " - "
        + sdiv("1000 * sx", "n", "duck")
        + ")"
    )
    y_mean = sdiv("1000 * ay", "n_users", "duck")
    adj = sdiv(f"th_micro * {sdx_duck}", "1000000", "duck")
    th = sdiv(
        "1000000 * (n * sxy - CAST(sx AS HUGEINT) * sy)",
        "GREATEST(n * sxx - CAST(sx AS HUGEINT) * sx, 1)",
        "duck",
    )
    return f"""
WITH bounds AS (SELECT MIN(ts) + INTERVAL 15 DAY AS cut FROM events),
u AS (
  SELECT user_id, user_id % 2 AS arm,
         (1000 * CAST(SUM(CASE WHEN ts < cut
              THEN {CENTS_SQL.format('value')} ELSE 0 END) AS BIGINT))
           // GREATEST(SUM(CASE WHEN ts < cut THEN 1 ELSE 0 END), 1) AS x,
         (1000 * CAST(SUM(CASE WHEN ts >= cut
              THEN {CENTS_SQL.format('value')} ELSE 0 END) AS BIGINT))
           // GREATEST(SUM(CASE WHEN ts >= cut THEN 1 ELSE 0 END), 1) AS y
  FROM events CROSS JOIN bounds GROUP BY user_id
),
s AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
         CAST(SUM(CAST(x AS HUGEINT) * y) AS HUGEINT) AS sxy,
         CAST(SUM(CAST(x AS HUGEINT) * x) AS HUGEINT) AS sxx
  FROM u
),
theta AS (SELECT n, sx, sy, {th} AS th_micro FROM s),
arms AS (
  SELECT arm, CAST(COUNT(*) AS BIGINT) AS n_users,
         CAST(SUM(x) AS BIGINT) AS ax, CAST(SUM(y) AS BIGINT) AS ay
  FROM u GROUP BY arm
)
SELECT CAST(arm AS BIGINT) AS arm, n_users,
       CAST({y_mean} AS BIGINT) AS y_mean_micro,
       CAST({y_mean} - {adj} AS BIGINT) AS y_adj_micro,
       CAST(th_micro AS BIGINT) AS theta_micro
FROM arms CROSS JOIN theta
"""


@register("ab_cuped_adjustment", oracle=_cuped_oracle())
def ab_cuped_adjustment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUPED-adjusted A/B comparison: per user, X = pre-period mean value
    (first 15 days) and Y = post-period mean, both integer milli-means;
    θ = cov(X,Y)/var(X) from the exact sufficient statistics
    (n·Σxy − ΣxΣy over n·Σx² − (Σx)², micro-scaled, sign-split); each
    arm reports its raw post mean and the CUPED-adjusted mean
    Ȳ_arm − θ·(X̄_arm − X̄). If arms were imbalanced on pre-period
    behavior, the adjusted column removes exactly the predictable part.

    Products route through HUGEINT/DECIMAL(38) (Σxy overflows 2⁶³ at
    fleet scale). Scale shape: one user-keyed aggregate builds (x, y);
    the sufficient stats and arm rollups are two broadcast-sized
    aggregates over it — the estimator merges from partials, no second
    corpus pass."""
    ev = load(spark, sf_dir, "events")
    bounds = ev.agg((F.min("ts") + F.expr("INTERVAL 15 DAYS")).alias("cut"))
    pre, post = F.col("ts") < F.col("cut"), F.col("ts") >= F.col("cut")
    u = (
        ev.crossJoin(F.broadcast(bounds))
        .groupBy("user_id")
        .agg(
            F.sum(F.when(pre, cents("value")).otherwise(0)).alias("sx"),
            F.sum(F.when(pre, 1).otherwise(0)).alias("nx"),
            F.sum(F.when(post, cents("value")).otherwise(0)).alias("sy"),
            F.sum(F.when(post, 1).otherwise(0)).alias("ny"),
        )
        .select(
            (F.col("user_id") % 2).alias("arm"),
            F.expr("(1000 * sx) div GREATEST(nx, 1L)").alias("x"),
            F.expr("(1000 * sy) div GREATEST(ny, 1L)").alias("y"),
        )
    )
    s = u.agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum(F.expr("CAST(x AS DECIMAL(19,0)) * y")).alias("sxy"),
        F.sum(F.expr("CAST(x AS DECIMAL(19,0)) * x")).alias("sxx"),
    )
    theta = s.select(
        "n",
        "sx",
        F.expr(
            sdiv(
                "1000000 * (n * sxy - CAST(sx AS DECIMAL(19,0)) * sy)",
                "GREATEST(n * sxx - CAST(sx AS DECIMAL(19,0)) * sx, 1)",
                "spark",
            )
        )
        .cast("bigint")
        .alias("th_micro"),
    )
    arms = u.groupBy("arm").agg(
        F.count("*").cast("bigint").alias("n_users"),
        F.sum("x").cast("bigint").alias("ax"),
        F.sum("y").cast("bigint").alias("ay"),
    )
    sdx = (
        sdiv("1000 * ax", "n_users", "spark")
        + " - "
        + sdiv("1000 * sx", "n", "spark")
    )
    return arms.crossJoin(F.broadcast(theta)).select(
        F.col("arm").cast("bigint").alias("arm"),
        "n_users",
        F.expr(f"CAST({sdiv('1000 * ay', 'n_users', 'spark')} AS BIGINT)").alias(
            "y_mean_micro"
        ),
        F.expr(
            f"CAST({sdiv('1000 * ay', 'n_users', 'spark')}"
            f" - {sdiv(f'th_micro * ({sdx})', '1000000', 'spark')} AS BIGINT)"
        ).alias("y_adj_micro"),
        F.col("th_micro").cast("bigint").alias("theta_micro"),
    )


# ---------------------------------------------------------------------------
# graph_label_propagation_sync
# ---------------------------------------------------------------------------

_LPA_ROUNDS = 3


def _lpa_oracle() -> str:
    ctes = [
        f"edges AS ({_EDGES_SQL})",
        "l0 AS (SELECT DISTINCT src AS id, src AS label FROM edges)",
    ]
    for t in range(1, _LPA_ROUNDS + 1):
        ctes.append(
            f"""cnt{t} AS (
  SELECT e.src AS id, l.label, COUNT(*) AS c
  FROM edges e JOIN l{t-1} l ON l.id = e.dst
  GROUP BY e.src, l.label
)"""
        )
        ctes.append(
            f"""l{t} AS (
  SELECT id, label FROM (
    SELECT id, label,
           ROW_NUMBER() OVER (PARTITION BY id ORDER BY c DESC, label) AS rn
    FROM cnt{t}
  ) WHERE rn = 1
)"""
        )
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"""
SELECT label AS community, CAST(COUNT(*) AS BIGINT) AS n_nodes
FROM l{_LPA_ROUNDS} GROUP BY label HAVING COUNT(*) > 1
"""
    )


@register("graph_label_propagation_sync", oracle=_lpa_oracle())
@fdoc(f"""Synchronous label propagation (Raghavan et al., 2007) over the
    customer-supplier graph, {_LPA_ROUNDS} rounds: every node
    simultaneously adopts the most frequent label among its neighbors,
    ties to the smallest label — the determinism knobs (synchronous
    update + total-order tie-break) that make LPA reproducible, unlike
    the textbook's random asynchronous schedule. Output: communities
    that attracted more than one node.

    Complements dedup_cluster_cc: CC answers reachability; LPA
    concentrates labels in DENSE regions. Scale shape: each round is
    one keyed join (edges ⋈ labels on dst — the standard message
    shuffle) and one (node, label) count; the per-node argmax is a
    min-of-(−c, label)-struct AGGREGATE (r11 optimization round) — a
    map-side-combinable partial, so the argmax shuffle carries one
    partially-folded row per node instead of pushing every (node, label)
    count through a row_number window's full shuffle + sort (the
    simsearch_kmeans_assign recipe). Same total tie-break, same rows.""")
def graph_label_propagation_sync(spark: SparkSession, sf_dir: str) -> DataFrame:
    from c2_duckdb_runner_spark.session import scratch_persist

    # Persist hash-partitioned on dst: every round's message join keys on
    # dst = label-carrier id, so the cached layout is reused by all rounds
    # instead of re-exchanging |E| rows per round.
    edges = scratch_persist(_edges(spark, sf_dir).repartition(F.col("dst")))
    labels = edges.select(F.col("src").alias("id")).distinct().select(
        "id", F.col("id").alias("label")
    )
    for _ in range(_LPA_ROUNDS):
        cnt = (
            edges.join(
                labels.select(F.col("id").alias("nid"), "label"),
                F.col("dst") == F.col("nid"),
            )
            .groupBy(F.col("src").alias("id"), "label")
            .agg(F.count("*").alias("c"))
        )
        labels = (
            cnt.groupBy("id")
            .agg(F.min(F.struct((-F.col("c")).alias("nc"), "label")).alias("b"))
            .select("id", F.col("b.label").alias("label"))
            .localCheckpoint()
        )
    return (
        labels.groupBy(F.col("label").alias("community"))
        .agg(F.count("*").cast("bigint").alias("n_nodes"))
        .filter(F.col("n_nodes") > 1)
    )


# ---------------------------------------------------------------------------
# agg_new_vs_returning_daily
# ---------------------------------------------------------------------------


@register(
    "agg_new_vs_returning_daily",
    oracle="""
WITH e AS (
  SELECT user_id, date_trunc('day', ts) AS d,
         MIN(date_trunc('day', ts)) OVER (PARTITION BY user_id) AS first_d
  FROM events
),
dau AS (SELECT DISTINCT user_id, d, first_d FROM e)
SELECT epoch_ms(d) AS day_ms,
       CAST(SUM(CASE WHEN d = first_d THEN 1 ELSE 0 END) AS BIGINT) AS n_new,
       CAST(SUM(CASE WHEN d <> first_d THEN 1 ELSE 0 END) AS BIGINT)
         AS n_returning,
       CAST(COUNT(*) AS BIGINT) AS n_active
FROM dau GROUP BY d
""",
)
def agg_new_vs_returning_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Growth accounting: each day's active users split into NEW (first
    day ever seen) and RETURNING — the decomposition behind every DAU
    dashboard, where flat totals can hide collapsing acquisition.

    One user-partitioned window carries the first-seen day (no join back
    to a first-seen table), a distinct collapses to user-days, and one
    keyed aggregate splits the counts. Days ship as epoch millis per
    the repo's date-output convention."""
    e = load(spark, sf_dir, "events").select(
        "user_id",
        F.date_trunc("day", F.col("ts")).alias("d"),
        F.min(F.date_trunc("day", F.col("ts")))
        .over(Window.partitionBy("user_id"))
        .alias("first_d"),
    )
    dau = e.distinct()
    return dau.groupBy("d").agg(
        F.sum(F.when(F.col("d") == F.col("first_d"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_new"),
        F.sum(F.when(F.col("d") != F.col("first_d"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_returning"),
        F.count("*").cast("bigint").alias("n_active"),
    ).select(
        F.expr("unix_millis(d)").alias("day_ms"),
        "n_new",
        "n_returning",
        "n_active",
    )


# ---------------------------------------------------------------------------
# window_pct_change_wow
# ---------------------------------------------------------------------------


@register(
    "window_pct_change_wow",
    oracle=f"""
WITH weekly AS (
  SELECT event_type, date_trunc('week', ts) AS w,
         CAST(SUM({CENTS_SQL.format('value')}) AS BIGINT) AS rev
  FROM events GROUP BY event_type, date_trunc('week', ts)
),
lagged AS (
  SELECT event_type, w, rev,
         LAG(rev) OVER (PARTITION BY event_type ORDER BY w) AS prev
  FROM weekly
)
SELECT event_type, epoch_ms(w) AS week_ms, rev AS rev_cents,
       CAST(CASE WHEN prev IS NULL OR prev = 0 THEN NULL
            ELSE {sdiv('1000000 * (rev - prev)', 'prev', 'duck')} END AS BIGINT)
         AS wow_change_micro
FROM lagged
""",
)
def window_pct_change_wow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Week-over-week revenue change per event type: weekly cent totals
    (both engines truncate weeks to ISO Monday), one LAG per key, and
    the percent change as a sign-split micro-ratio (NULL for the first
    week and for a zero base, rather than a fake 0).

    One keyed rollup plus a per-key window over the handful of weekly
    rows — the standard period-over-period report shape that
    re-aggregates from daily partials at any scale."""
    weekly = (
        load(spark, sf_dir, "events")
        .groupBy("event_type", F.date_trunc("week", F.col("ts")).alias("w"))
        .agg(
            F.sum(cents("value"))
            .cast("bigint")
            .alias("rev")
        )
    )
    lagged = weekly.select(
        "event_type",
        "w",
        "rev",
        F.lag("rev").over(Window.partitionBy("event_type").orderBy("w")).alias("prev"),
    )
    return lagged.select(
        "event_type",
        F.expr("unix_millis(w)").alias("week_ms"),
        F.col("rev").alias("rev_cents"),
        F.expr(
            "CAST(CASE WHEN prev IS NULL OR prev = 0 THEN NULL"
            f" ELSE {sdiv('1000000 * (rev - prev)', 'prev', 'spark')} END AS BIGINT)"
        ).alias("wow_change_micro"),
    )
