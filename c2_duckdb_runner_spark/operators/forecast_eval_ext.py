"""Round-4 forecasting / distribution-comparison / model-eval extensions.

- HOLT LINEAR EXPONENTIAL SMOOTHING per event type — level+trend double
  smoothing with α=β=1/4 as exact integral shifts, folded sequentially
  over the ordered daily series (Spark: aggregate() over the collected
  per-key array; DuckDB: recursive CTE) — the first true recurrence in
  the time-series family (EWMA covers level only);
- QQ DECILE TABLE comparing the odd-user vs even-user value
  distributions decile by decile — the visual companion to
  stats_ks_drift_test's single statistic, with exact position-based
  deciles reconstructed from bounded value histograms;
- TIME-CONSTRAINED FUNNEL (ClickHouse windowFunnel semantics):
  view→click→purchase where each step must land within 7 days of the
  previous — funnel_view_click_purchase without the time constraint is
  a different (weaker) question;
- DECILE LIFT/GAINS TABLE — the binary-classifier evaluation report
  (score = document length, label = English): per score-decile counts,
  cumulative capture and lift, with decile boundaries taken from the
  bounded value histogram so no global row rank exists.

Reference reach: the delegated SQL slot (``main.cc:181-182``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from c2_duckdb_runner_spark.operators.inference_ext import (
    CENTS_SQL,
    DAILY_MILLI_SQL,
    cents,
    daily_milli,
    sdiv,
)
from c2_duckdb_runner_spark.registry import fdoc, register
from c2_duckdb_runner_spark.tables import load


# ---------------------------------------------------------------------------
# ts_holt_linear_forecast
# ---------------------------------------------------------------------------

_HOLT_H = 7  # forecast horizon in days


@register(
    "ts_holt_linear_forecast",
    oracle=f"""
WITH RECURSIVE daily AS ({DAILY_MILLI_SQL}),
pts AS (
  SELECT event_type, x,
         ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY d) AS i
  FROM daily
),
len AS (SELECT event_type, CAST(MAX(i) AS BIGINT) AS n FROM pts GROUP BY event_type),
hw AS (
  SELECT p2.event_type, CAST(2 AS BIGINT) AS i,
         CAST(p2.x AS BIGINT) AS l, CAST(p2.x - p1.x AS BIGINT) AS b
  FROM pts p1 JOIN pts p2
    ON p1.event_type = p2.event_type AND p1.i = 1 AND p2.i = 2
  UNION ALL
  SELECT hw.event_type, hw.i + 1,
         {sdiv('p.x + 3 * (hw.l + hw.b)', '4', 'duck')},
         {sdiv(
             "(" + sdiv('p.x + 3 * (hw.l + hw.b)', '4', 'duck')
             + " - hw.l) + 3 * hw.b",
             '4', 'duck')}
  FROM hw JOIN pts p ON p.event_type = hw.event_type AND p.i = hw.i + 1
)
SELECT hw.event_type AS event_type, len.n AS n_points,
       hw.l AS level_milli, hw.b AS trend_milli,
       CAST(hw.l + {_HOLT_H} * hw.b AS BIGINT) AS forecast_{_HOLT_H}d_milli
FROM hw JOIN len ON hw.event_type = len.event_type AND hw.i = len.n
""",
)
@fdoc(f"""Holt's linear (double) exponential smoothing per event type over
    the daily milli-unit series, with α=β=1/4 so both updates are exact
    integral divisions: l' = (x + 3(l+b)) div 4, b' = ((l'-l) + 3b)
    div 4 (sign-split — trend is routinely negative), initialized at
    l=x₂, b=x₂-x₁, then a {_HOLT_H}-day-ahead forecast l + {_HOLT_H}·b.

    This is a genuine sequential recurrence — each state depends on the
    previous — so Spark folds it with aggregate() over the per-key
    ordered array (the series is the bounded ~30-point daily downsample,
    safely collectible per key) while the oracle unrolls the same
    recurrence as a recursive CTE. Identical integer ops at every step →
    identical (level, trend, forecast) triples.

    Scale shape: one keyed rollup, then per-key constant work; keys
    process independently (no cross-key state), so a million series cost
    one shuffle.""")
def ts_holt_linear_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    daily = daily_milli(spark, sf_dir)
    arr = daily.groupBy("event_type").agg(
        F.expr("transform(sort_array(collect_list(struct(d, x))), p -> p.x)").alias(
            "xs"
        )
    )
    l_upd = sdiv("x + 3 * (s.l + s.b)", "4L", "spark")
    b_upd = sdiv(f"(({l_upd}) - s.l) + 3 * s.b", "4L", "spark")
    folded = arr.select(
        "event_type",
        F.size("xs").cast("bigint").alias("n_points"),
        F.expr(
            "aggregate(slice(xs, 3, greatest(size(xs) - 2, 0)),"
            " named_struct('l', CAST(element_at(xs, 2) AS BIGINT),"
            "              'b', CAST(element_at(xs, 2) - element_at(xs, 1) AS BIGINT)),"
            f" (s, x) -> named_struct('l', CAST({l_upd} AS BIGINT),"
            f"                        'b', CAST({b_upd} AS BIGINT)),"
            " s -> s)"
        ).alias("st"),
    )
    return folded.select(
        "event_type",
        "n_points",
        F.col("st.l").alias("level_milli"),
        F.col("st.b").alias("trend_milli"),
        (F.col("st.l") + _HOLT_H * F.col("st.b"))
        .cast("bigint")
        .alias(f"forecast_{_HOLT_H}d_milli"),
    )


# ---------------------------------------------------------------------------
# stats_qq_deciles
# ---------------------------------------------------------------------------


def _side_deciles_sql(side: int, alias: str) -> str:
    return f"""
h_{alias} AS (
  SELECT {CENTS_SQL.format('value')} AS v, CAST(COUNT(*) AS BIGINT) AS cnt
  FROM events WHERE user_id % 2 = {side} GROUP BY 1
),
c_{alias} AS (
  SELECT v, cnt, CAST(SUM(cnt) OVER (ORDER BY v) - cnt AS BIGINT) AS cum_before,
         CAST(SUM(cnt) OVER () AS BIGINT) AS n
  FROM h_{alias}
),
d_{alias} AS (
  SELECT dec.d AS decile, c.v AS {alias}_cents
  FROM (SELECT unnest(range(0, 11)) AS d) dec
  JOIN c_{alias} c
    ON (dec.d * (c.n - 1)) // 10 >= c.cum_before
   AND (dec.d * (c.n - 1)) // 10 < c.cum_before + c.cnt
)"""


@register(
    "stats_qq_deciles",
    oracle=f"""
WITH {_side_deciles_sql(1, 'odd')},
{_side_deciles_sql(0, 'even')}
SELECT CAST(d_odd.decile AS INT) AS decile,
       d_odd.odd_cents AS odd_cents, d_even.even_cents AS even_cents,
       CAST(d_odd.odd_cents - d_even.even_cents AS BIGINT) AS gap_cents
FROM d_odd JOIN d_even ON d_odd.decile = d_even.decile
""",
)
def stats_qq_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """QQ decile table for the odd-vs-even-user value distributions: the
    exact 0th..10th decile of each side, paired — the plottable
    companion to stats_ks_drift_test's single max-gap statistic (if the
    distributions match, gap_cents ≈ 0 down the whole table).

    Exact order statistics WITHOUT a global row sort: each side reduces
    to its distinct-value histogram (bounded by the value domain, not
    the corpus), a window over that histogram assigns cumulative
    positions, and decile d is the value whose position block contains
    (d·(n-1)) div 10 — 11 broadcast positions range-joined against the
    bounded histogram. The same reconstruction trick as
    stats_quantile_normalize, applied per side."""
    ev = load(spark, sf_dir, "events")

    def side(side_val: int, alias: str) -> DataFrame:
        h = (
            ev.filter(F.col("user_id") % 2 == side_val)
            .groupBy(cents("value").alias("v"))
            .agg(F.count("*").cast("bigint").alias("cnt"))
        )
        wv = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, 0)
        c = h.select(
            "v",
            "cnt",
            (F.sum("cnt").over(wv) - F.col("cnt")).cast("bigint").alias("cum_before"),
            F.sum("cnt").over(
                Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
            )
            .cast("bigint")
            .alias("n"),
        )
        dec = spark.range(0, 11).select(F.col("id").alias("decile"))
        pos = F.expr("(decile * (n - 1)) div 10")
        return c.join(
            F.broadcast(dec),
            (pos >= F.col("cum_before")) & (pos < F.col("cum_before") + F.col("cnt")),
        ).select("decile", F.col("v").alias(f"{alias}_cents"))

    d_odd, d_even = side(1, "odd"), side(0, "even")
    return d_odd.join(d_even, "decile").select(
        F.col("decile").cast("int").alias("decile"),
        "odd_cents",
        "even_cents",
        (F.col("odd_cents") - F.col("even_cents")).cast("bigint").alias("gap_cents"),
    )


# ---------------------------------------------------------------------------
# funnel_window_constrained
# ---------------------------------------------------------------------------

_FUNNEL_WINDOW_DAYS = 7


@register(
    "funnel_window_constrained",
    oracle=f"""
WITH u AS (
  SELECT user_id,
         list(ts ORDER BY ts) FILTER (WHERE event_type = 'view') AS va,
         list(ts ORDER BY ts) FILTER (WHERE event_type = 'click') AS ca,
         list(ts ORDER BY ts) FILTER (WHERE event_type = 'purchase') AS pa
  FROM events GROUP BY user_id
),
steps AS (
  SELECT user_id,
         list_min(va) AS tv,
         list_min(list_filter(ca, t -> t > list_min(va)
           AND t <= list_min(va) + INTERVAL {_FUNNEL_WINDOW_DAYS} DAY)) AS tc
  FROM u WHERE len(va) > 0
),
steps2 AS (
  SELECT s.user_id, s.tv, s.tc,
         list_min(list_filter(u.pa, t -> t > s.tc
           AND t <= s.tc + INTERVAL {_FUNNEL_WINDOW_DAYS} DAY)) AS tp
  FROM steps s JOIN u ON s.user_id = u.user_id
),
lvl AS (
  SELECT CASE WHEN tp IS NOT NULL THEN 3
              WHEN tc IS NOT NULL THEN 2
              ELSE 1 END AS level
  FROM steps2
)
SELECT CAST(level AS INT) AS level, CAST(COUNT(*) AS BIGINT) AS n_users
FROM lvl GROUP BY level
""",
)
@fdoc(f"""Time-constrained conversion funnel (ClickHouse windowFunnel
    semantics): a user reaches level 2 only if a click lands within
    {_FUNNEL_WINDOW_DAYS} days AFTER their first view, and level 3 only
    if a purchase lands within {_FUNNEL_WINDOW_DAYS} days after that
    click — unlike funnel_view_click_purchase, which only asks for
    ordering. The sequential step dependency (each anchor is the
    previous step's earliest qualifying timestamp) is resolved with
    per-user sorted timestamp arrays and array_min-over-filter, not
    self-joins.

    Scale shape: ONE shuffle on user_id builds the three per-user step
    arrays (each bounded by the user's own event count); everything
    after is per-row array expressions and a 3-row aggregate. No
    event-to-event join exists, so the cost is linear in events at any
    scale.""")
def funnel_window_constrained(spark: SparkSession, sf_dir: str) -> DataFrame:
    u = (
        load(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(
            F.sort_array(
                F.collect_list(F.when(F.col("event_type") == "view", F.col("ts")))
            ).alias("va"),
            F.sort_array(
                F.collect_list(F.when(F.col("event_type") == "click", F.col("ts")))
            ).alias("ca"),
            F.sort_array(
                F.collect_list(F.when(F.col("event_type") == "purchase", F.col("ts")))
            ).alias("pa"),
        )
    )
    w = f"INTERVAL {_FUNNEL_WINDOW_DAYS} DAYS"
    steps = u.filter(F.size("va") > 0).select(
        "user_id",
        "pa",
        F.expr("element_at(va, 1)").alias("tv"),
        F.expr(
            f"array_min(filter(ca, t -> t > element_at(va, 1)"
            f" AND t <= element_at(va, 1) + {w}))"
        ).alias("tc"),
    )
    steps2 = steps.select(
        "tv",
        "tc",
        F.expr(
            f"array_min(filter(pa, t -> t > tc AND t <= tc + {w}))"
        ).alias("tp"),
    )
    lvl = steps2.select(
        F.when(F.col("tp").isNotNull(), 3)
        .when(F.col("tc").isNotNull(), 2)
        .otherwise(1)
        .alias("level")
    )
    return lvl.groupBy(F.col("level").cast("int").alias("level")).agg(
        F.count("*").cast("bigint").alias("n_users")
    )


# ---------------------------------------------------------------------------
# eval_decile_lift_table
# ---------------------------------------------------------------------------


@register(
    "eval_decile_lift_table",
    oracle="""
WITH h AS (
  SELECT n_chars AS v, CAST(COUNT(*) AS BIGINT) AS cnt
  FROM documents GROUP BY n_chars
),
c AS (
  SELECT v, cnt, CAST(SUM(cnt) OVER (ORDER BY v DESC) - cnt AS BIGINT) AS cum_before,
         CAST(SUM(cnt) OVER () AS BIGINT) AS n
  FROM h
),
cuts AS (
  SELECT dec.d AS decile, c.v AS cut_v
  FROM (SELECT unnest(range(1, 10)) AS d) dec
  JOIN c ON (dec.d * c.n) // 10 - 1 >= c.cum_before
        AND (dec.d * c.n) // 10 - 1 < c.cum_before + c.cnt
),
assigned2 AS (
  SELECT d.doc_id, CAST(d.lang = 'en' AS INT) AS pos,
         1 + CAST(COALESCE(
               (SELECT COUNT(*) FROM cuts WHERE d.n_chars < cuts.cut_v), 0) AS INT)
           AS decile
  FROM documents d
),
per AS (
  SELECT decile, CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(pos) AS BIGINT) AS positives
  FROM assigned2 GROUP BY decile
),
tot AS (SELECT CAST(SUM(positives) AS BIGINT) AS p_all,
               CAST(SUM(n) AS BIGINT) AS n_all FROM per),
cumt AS (
  SELECT decile, n, positives,
         CAST(SUM(positives) OVER (ORDER BY decile) AS BIGINT) AS cum_pos,
         CAST(SUM(n) OVER (ORDER BY decile) AS BIGINT) AS cum_n
  FROM per
)
SELECT CAST(decile AS INT) AS decile, n, positives,
       CAST((1000000 * cum_pos) // p_all AS BIGINT) AS capture_micro,
       CAST(CASE WHEN cum_n = 0 THEN 0
            ELSE ((1000000 * cum_pos * n_all)) // (cum_n * p_all) END AS BIGINT)
         AS lift_micro
FROM cumt CROSS JOIN tot
""",
)
def eval_decile_lift_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decile lift/gains table — the standard binary-classifier report:
    rank documents by a score (length, descending — the "model"), cut
    into 10 score-deciles, and report per-decile positives (English
    docs), cumulative capture rate and cumulative lift vs the base rate,
    all as exact micro-unit integers.

    The decile boundaries come from the bounded distinct-score histogram
    (same reconstruction as stats_qq_deciles, descending), broadcast as
    9 cut values; each row's decile is 1 + |cuts above its score| — a
    map-only comparison against a 9-element broadcast, never a global
    ntile window. Ties share a decile by construction, identically in
    both engines."""
    docs = load(spark, sf_dir, "documents")
    h = docs.groupBy(F.col("n_chars").alias("v")).agg(
        F.count("*").cast("bigint").alias("cnt")
    )
    wv = Window.orderBy(F.col("v").desc()).rowsBetween(Window.unboundedPreceding, 0)
    c = h.select(
        "v",
        "cnt",
        (F.sum("cnt").over(wv) - F.col("cnt")).cast("bigint").alias("cum_before"),
        F.sum("cnt")
        .over(Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing))
        .cast("bigint")
        .alias("n"),
    )
    dec = spark.range(1, 10).select(F.col("id").alias("d"))
    pos_expr = F.expr("(d * n) div 10 - 1")
    cuts = c.join(
        F.broadcast(dec),
        (pos_expr >= F.col("cum_before"))
        & (pos_expr < F.col("cum_before") + F.col("cnt")),
    ).select(F.col("d").alias("decile"), F.col("v").alias("cut_v"))
    cut_arr = cuts.agg(
        F.expr("sort_array(collect_list(struct(decile, cut_v)))").alias("ca")
    ).select(F.expr("transform(ca, p -> p.cut_v)").alias("cut_vs"))
    assigned = docs.crossJoin(F.broadcast(cut_arr)).select(
        (F.col("lang") == "en").cast("int").alias("pos"),
        (
            1
            + F.expr("size(filter(cut_vs, cv -> n_chars < cv))")
        )
        .cast("int")
        .alias("decile"),
    )
    per = assigned.groupBy("decile").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("pos").cast("bigint").alias("positives"),
    )
    tot = per.agg(
        F.sum("positives").cast("bigint").alias("p_all"),
        F.sum("n").cast("bigint").alias("n_all"),
    )
    wd = Window.orderBy("decile").rowsBetween(Window.unboundedPreceding, 0)
    cumt = per.select(
        "decile",
        "n",
        "positives",
        F.sum("positives").over(wd).cast("bigint").alias("cum_pos"),
        F.sum("n").over(wd).cast("bigint").alias("cum_n"),
    )
    return cumt.crossJoin(F.broadcast(tot)).select(
        F.col("decile").cast("int").alias("decile"),
        "n",
        "positives",
        F.expr("CAST((1000000 * cum_pos) div p_all AS BIGINT)").alias(
            "capture_micro"
        ),
        F.expr(
            "CAST(CASE WHEN cum_n = 0 THEN 0"
            " ELSE (1000000 * cum_pos * n_all) div (cum_n * p_all) END AS BIGINT)"
        ).alias("lift_micro"),
    )
