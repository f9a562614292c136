"""Round-4 time-series decomposition, causal-inference and ranking-eval
extensions. Four operators, all exact cross-engine:

- ADDITIVE SEASONAL DECOMPOSITION of the daily series per event type
  (trend = centered 7-day moving average, seasonal = mean weekday
  deviation, residual = remainder) — the classical STL-lite split every
  metrics dashboard runs, in integer milli-units with sign-split
  integral divisions;
- STRATIFIED ATT ESTIMATE (causal inference): treated-vs-control mean
  outcome difference per stratum, weighted by treated counts — the
  stratification estimator that precedes propensity-score matching;
- RANK MOVERS between the first and second half of the observation
  window — the "biggest climbers" report, with candidate generation
  bounded by an overall top-N so no global rank over the full key
  domain exists;
- NDCG@10 RETRIEVAL EVALUATION over the embedding corpus — graded
  companion to search_mrr_eval, with the 1/log2(1+r) discount table
  precomputed once as integer micro-constants shared verbatim by both
  engines (the only ranks are 1..10, so the float log never runs inside
  either engine).

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
from c2_duckdb_runner_spark.operators.simsearch import (
    PROBE_DEPTH,
    PROBE_RANKED_SQL,
    probe_scores,
    probe_topk,
)
from c2_duckdb_runner_spark.registry import fdoc, register
from c2_duckdb_runner_spark.tables import load


# ---------------------------------------------------------------------------
# ts_seasonal_decompose_additive
# ---------------------------------------------------------------------------


@register(
    "ts_seasonal_decompose_additive",
    oracle=f"""
WITH daily AS ({DAILY_MILLI_SQL}),
tr AS (
  SELECT event_type, d, x,
         CAST(SUM(x) OVER w7 AS BIGINT) // CAST(COUNT(*) OVER w7 AS BIGINT)
           AS trend
  FROM daily
  WINDOW w7 AS (PARTITION BY event_type ORDER BY d
                ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
),
dev AS (
  SELECT event_type, d, x, trend, x - trend AS dv,
         isodow(CAST(d AS DATE)) AS dow
  FROM tr
),
seas AS (
  SELECT event_type, d, x, trend, dv,
         {sdiv('CAST(SUM(dv) OVER wd AS BIGINT)',
               'CAST(COUNT(*) OVER wd AS BIGINT)', 'duck')} AS seasonal
  FROM dev
  WINDOW wd AS (PARTITION BY event_type, dow)
)
SELECT event_type, strftime(d, '%Y-%m-%d') AS d, x AS x_milli,
       trend AS trend_milli, CAST(seasonal AS BIGINT) AS seasonal_milli,
       CAST(dv - seasonal AS BIGINT) AS residual_milli
FROM seas
""",
)
def ts_seasonal_decompose_additive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Additive decomposition x = trend + seasonal + residual of each
    event type's daily mean series: trend is the centered 7-day moving
    average (shorter frames at the edges, identically in both engines),
    seasonal is the mean detrended deviation per ISO weekday, residual
    is what remains. Everything in integer milli-units; the two means
    are integral divisions (the trend one over positive sums, the
    seasonal one sign-split).

    Scale shape: both windows partition by event_type (+weekday) — no
    global sort; the series per key is the bounded daily downsample, so
    the decomposition is a constant-size computation per key after one
    scan's keyed rollup. Weekday parity: Spark weekday()+1 == DuckDB
    isodow (1=Monday..7=Sunday)."""
    daily = daily_milli(spark, sf_dir)
    w7 = (
        Window.partitionBy("event_type")
        .orderBy("d")
        .rowsBetween(-3, 3)
    )
    tr = daily.select(
        "event_type",
        "d",
        "x",
        (F.sum("x").over(w7).cast("bigint")).alias("ssum"),
        (F.count("*").over(w7).cast("bigint")).alias("scnt"),
    ).select(
        "event_type",
        "d",
        "x",
        F.expr("ssum div scnt").alias("trend"),
    )
    dev = tr.select(
        "event_type",
        "d",
        "x",
        "trend",
        (F.col("x") - F.col("trend")).alias("dv"),
        (F.expr("weekday(CAST(d AS DATE))") + 1).alias("dow"),
    )
    wd = Window.partitionBy("event_type", "dow")
    seas = dev.select(
        "event_type",
        "d",
        "x",
        "trend",
        "dv",
        F.sum("dv").over(wd).cast("bigint").alias("dsum"),
        F.count("*").over(wd).cast("bigint").alias("dcnt"),
    ).select(
        "event_type",
        "d",
        "x",
        "trend",
        "dv",
        F.expr(sdiv("dsum", "dcnt", "spark")).alias("seasonal"),
    )
    return seas.select(
        "event_type",
        F.date_format("d", "yyyy-MM-dd").alias("d"),
        F.col("x").alias("x_milli"),
        F.col("trend").alias("trend_milli"),
        F.col("seasonal").cast("bigint").alias("seasonal_milli"),
        (F.col("dv") - F.col("seasonal")).cast("bigint").alias("residual_milli"),
    )


# ---------------------------------------------------------------------------
# causal_stratified_att
# ---------------------------------------------------------------------------

_ATT_BAND_W = 50.0  # value in [0, 500) -> 10 outcome strata
_ATT_MAX_BAND = 9


@register(
    "causal_stratified_att",
    oracle=f"""
WITH e AS (
  SELECT {CENTS_SQL.format('value')} AS cents,
         user_id % 2 AS treated,
         LEAST(CAST(floor(value / {_ATT_BAND_W}) AS INT), {_ATT_MAX_BAND}) AS band
  FROM events
),
s AS (
  SELECT band,
         CAST(SUM(CASE WHEN treated = 1 THEN 1 ELSE 0 END) AS BIGINT) AS nt,
         CAST(SUM(CASE WHEN treated = 1 THEN cents ELSE 0 END) AS BIGINT) AS st,
         CAST(SUM(CASE WHEN treated = 0 THEN 1 ELSE 0 END) AS BIGINT) AS nc,
         CAST(SUM(CASE WHEN treated = 0 THEN cents ELSE 0 END) AS BIGINT) AS sc
  FROM e GROUP BY band
),
d AS (
  SELECT band, nt, nc,
         (1000000 * st) // GREATEST(nt, 1)
           - (1000000 * sc) // GREATEST(nc, 1) AS diff_micro
  FROM s WHERE nt > 0 AND nc > 0
)
SELECT CAST(COUNT(*) AS INT) AS n_strata,
       CAST(SUM(nt) AS BIGINT) AS n_treated,
       CAST(SUM(nc) AS BIGINT) AS n_control,
       CAST({sdiv('SUM(nt * diff_micro)', 'SUM(nt)', 'duck')} AS BIGINT)
         AS att_micro
FROM d
""",
)
def causal_stratified_att(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified ATT (average treatment effect on the treated): odd
    users are "treated", strata are outcome-value bands, the effect is
    the treated-minus-control mean difference per stratum averaged with
    treated-count weights — the classical stratification estimator that
    propensity-score methods generalize. Strata with an empty arm drop
    (no extrapolation), matching textbook practice.

    Means are micro-unit integral divisions over integer cents, the
    weighted average is a sign-split integral division, so the estimate
    is bit-identical in both engines. Scale shape: ONE scan → 10-row
    stratum table (map-side partials) → 1-row weighted fold; this is
    the re-aggregatable sufficient-statistics form (nt, st, nc, sc per
    stratum), so at 100 TB the estimator merges from partition partials
    without a second pass."""
    e = load(spark, sf_dir, "events").select(
        cents("value").alias("cents"),
        (F.col("user_id") % 2).alias("treated"),
        F.expr(
            f"LEAST(CAST(floor(value / {_ATT_BAND_W}) AS INT), {_ATT_MAX_BAND})"
        ).alias("band"),
    )
    s = e.groupBy("band").agg(
        F.sum(F.when(F.col("treated") == 1, 1).otherwise(0))
        .cast("bigint")
        .alias("nt"),
        F.sum(F.when(F.col("treated") == 1, F.col("cents")).otherwise(0))
        .cast("bigint")
        .alias("st"),
        F.sum(F.when(F.col("treated") == 0, 1).otherwise(0))
        .cast("bigint")
        .alias("nc"),
        F.sum(F.when(F.col("treated") == 0, F.col("cents")).otherwise(0))
        .cast("bigint")
        .alias("sc"),
    )
    d = s.filter((F.col("nt") > 0) & (F.col("nc") > 0)).select(
        "nt",
        "nc",
        F.expr(
            "(1000000 * st) div GREATEST(nt, 1L)"
            " - (1000000 * sc) div GREATEST(nc, 1L)"
        ).alias("diff_micro"),
    )
    return d.agg(
        F.count("*").cast("int").alias("n_strata"),
        F.sum("nt").cast("bigint").alias("n_treated"),
        F.sum("nc").cast("bigint").alias("n_control"),
        F.expr(
            "CAST(" + sdiv("SUM(nt * diff_micro)", "SUM(nt)", "spark") + " AS BIGINT)"
        ).alias("att_micro"),
    )


# ---------------------------------------------------------------------------
# rank_movers_halves
# ---------------------------------------------------------------------------

_MOVERS_POOL = 100  # bounded candidate set: overall top-N users
_MOVERS_TOP = 15


@register(
    "rank_movers_halves",
    oracle=f"""
WITH bounds AS (SELECT MIN(ts) + INTERVAL 15 DAY AS cut FROM events),
rev AS (
  SELECT user_id,
         CAST(SUM(CASE WHEN ts < cut THEN {CENTS_SQL.format('value')}
                  ELSE 0 END) AS BIGINT) AS rev1,
         CAST(SUM(CASE WHEN ts >= cut THEN {CENTS_SQL.format('value')}
                  ELSE 0 END) AS BIGINT) AS rev2
  FROM events CROSS JOIN bounds GROUP BY user_id
),
pool AS (
  SELECT * FROM rev ORDER BY rev1 + rev2 DESC, user_id LIMIT {_MOVERS_POOL}
),
ranked AS (
  SELECT user_id, rev1, rev2,
         ROW_NUMBER() OVER (ORDER BY rev1 DESC, user_id) AS r1,
         ROW_NUMBER() OVER (ORDER BY rev2 DESC, user_id) AS r2
  FROM pool
)
SELECT user_id, CAST(r1 AS INT) AS rank_h1, CAST(r2 AS INT) AS rank_h2,
       CAST(r1 - r2 AS INT) AS rank_gain
FROM ranked ORDER BY r1 - r2 DESC, user_id LIMIT {_MOVERS_TOP}
""",
)
@fdoc(f"""Rank movers: which users climbed the revenue leaderboard most
    between the first and second half of the observation window (cut at
    min(ts)+15 days)? Both halves' revenues come from ONE conditional
    aggregate; the leaderboard is restricted to the overall
    top-{_MOVERS_POOL} BEFORE any ranking, so the only ROW_NUMBER
    windows run over a constant-size pool — the standard trick that
    keeps "movers" reports from needing a global rank of the entire key
    domain (which, unlike this pool, grows with the corpus).

    Integer cents everywhere; every ordering is total (user_id
    tie-break), so ranks, gains and the top-{_MOVERS_TOP} cut are
    deterministic cross-engine.""")
def rank_movers_halves(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    bounds = ev.agg(
        (F.min("ts") + F.expr("INTERVAL 15 DAYS")).alias("cut")
    )
    rev = (
        ev.crossJoin(F.broadcast(bounds))
        .groupBy("user_id")
        .agg(
            F.sum(
                F.when(
                    F.col("ts") < F.col("cut"),
                    cents("value"),
                ).otherwise(0)
            )
            .cast("bigint")
            .alias("rev1"),
            F.sum(
                F.when(
                    F.col("ts") >= F.col("cut"),
                    cents("value"),
                ).otherwise(0)
            )
            .cast("bigint")
            .alias("rev2"),
        )
    )
    pool = rev.orderBy(
        (F.col("rev1") + F.col("rev2")).desc(), "user_id"
    ).limit(_MOVERS_POOL)
    ranked = pool.select(
        "user_id",
        F.row_number()
        .over(Window.orderBy(F.col("rev1").desc(), "user_id"))
        .alias("r1"),
        F.row_number()
        .over(Window.orderBy(F.col("rev2").desc(), "user_id"))
        .alias("r2"),
    )
    return (
        ranked.select(
            "user_id",
            F.col("r1").cast("int").alias("rank_h1"),
            F.col("r2").cast("int").alias("rank_h2"),
            (F.col("r1") - F.col("r2")).cast("int").alias("rank_gain"),
        )
        .orderBy(F.col("rank_gain").desc(), "user_id")
        .limit(_MOVERS_TOP)
    )


# ---------------------------------------------------------------------------
# search_ndcg_eval
# ---------------------------------------------------------------------------

# floor(10^6 / log2(1 + r)) for r = 1..10 — precomputed ONCE here and
# inlined verbatim into both engines' plans, so no float log runs anywhere.
_NDCG_DISCOUNT = (
    1000000, 630929, 500000, 430676, 386852,
    356207, 333333, 315464, 301029, 289064,
)


def _discount_case(col: str) -> str:
    whens = " ".join(
        f"WHEN {col} = {r} THEN {c}"
        for r, c in enumerate(_NDCG_DISCOUNT, start=1)
    )
    return f"CASE {whens} ELSE 0 END"


@register(
    "search_ndcg_eval",
    oracle=f"""
WITH {PROBE_RANKED_SQL},
dcg AS (
  SELECT q_id,
         CAST(SUM(CASE WHEN label = qlabel
              THEN {_discount_case('rnk')} ELSE 0 END) AS BIGINT) AS dcg_micro,
         CAST(SUM(CASE WHEN label = qlabel THEN 1 ELSE 0 END) AS BIGINT)
           AS n_rel_at_k
  FROM ranked WHERE rnk <= {PROBE_DEPTH} GROUP BY q_id
),
nrel AS (
  SELECT q_id, LEAST(CAST(COUNT(*) AS BIGINT), {PROBE_DEPTH}) AS n_ideal
  FROM ranked WHERE label = qlabel GROUP BY q_id
),
ideal AS (
  SELECT q_id, n_ideal,
         CAST(SUM(CASE WHEN u.r <= n_ideal
              THEN {_discount_case('u.r')} ELSE 0 END) AS BIGINT) AS idcg_micro
  FROM nrel CROSS JOIN UNNEST(range(1, {PROBE_DEPTH} + 1)) AS u(r)
  GROUP BY q_id, n_ideal
)
SELECT dcg.q_id AS q_id, CAST(dcg.n_rel_at_k AS INT) AS n_rel_at_k,
       dcg.dcg_micro AS dcg_micro, ideal.idcg_micro AS idcg_micro,
       CAST(CASE WHEN ideal.idcg_micro = 0 THEN 0
            ELSE (1000000 * dcg.dcg_micro) // ideal.idcg_micro END AS BIGINT)
         AS ndcg_micro
FROM dcg JOIN ideal ON dcg.q_id = ideal.q_id
""",
)
@fdoc(f"""NDCG@{PROBE_DEPTH} retrieval evaluation — the graded companion to
    search_mrr_eval on the same probe set (label match = binary
    relevance): DCG sums the precomputed integer discount table at the
    hit ranks, IDCG sums its prefix of length min(#relevant, k), and
    the normalized score is one integral division. Because ranks only
    take values 1..{PROBE_DEPTH}, the 1/log2(1+r) discounts are a
    10-entry constant table inlined into BOTH plans — no engine ever
    evaluates a float log, so the scores hash-match exactly.

    Scale shape identical to search_mrr_eval: broadcast probes, map-only
    corpus scoring, salted two-stage per-query top-k (no reducer sorts a
    whole query's scores); the ideal-list size is a plain per-query
    count, and its construction explodes a constant 10-element range.""")
def search_ndcg_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    scored = probe_scores(spark, sf_dir)
    ranked = probe_topk(scored)
    dcg = (
        ranked.groupBy("q_id")
        .agg(
            F.sum(
                F.when(
                    F.col("label") == F.col("qlabel"),
                    F.expr(_discount_case("rnk")),
                ).otherwise(0)
            )
            .cast("bigint")
            .alias("dcg_micro"),
            F.sum(F.when(F.col("label") == F.col("qlabel"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_rel_at_k"),
        )
    )
    # the ideal-list size is counted from the unranked scores, so it needs
    # no window at all
    nrel = (
        scored.filter(F.col("label") == F.col("qlabel"))
        .groupBy("q_id")
        .agg(
            F.least(F.count("*").cast("bigint"), F.lit(PROBE_DEPTH).cast("bigint")).alias(
                "n_ideal"
            )
        )
    )
    ideal = (
        nrel.select(
            "q_id",
            "n_ideal",
            F.explode(F.expr(f"sequence(1, {PROBE_DEPTH})")).alias("r"),
        )
        .groupBy("q_id", "n_ideal")
        .agg(
            F.sum(
                F.when(
                    F.col("r") <= F.col("n_ideal"), F.expr(_discount_case("r"))
                ).otherwise(0)
            )
            .cast("bigint")
            .alias("idcg_micro")
        )
    )
    return dcg.join(ideal, "q_id").select(
        "q_id",
        F.col("n_rel_at_k").cast("int").alias("n_rel_at_k"),
        "dcg_micro",
        "idcg_micro",
        F.expr(
            "CAST(CASE WHEN idcg_micro = 0 THEN 0"
            " ELSE (1000000 * dcg_micro) div idcg_micro END AS BIGINT)"
        ).alias("ndcg_micro"),
    )
