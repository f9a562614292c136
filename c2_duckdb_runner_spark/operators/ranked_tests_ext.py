"""Round-4 ranked-test extensions — three more oracled operators:

- FRIEDMAN TEST — the k-related-samples rank test (blocks = days,
  treatments = event types): the nonparametric repeated-measures ANOVA
  that completes the test family (permutation, Mann-Kendall, runs,
  Cochran Q). Within-block ranks are tie-broken permutations, so the
  statistic is an exact integer fraction;
- RANK-BIASED OVERLAP (RBO@10, p=½) between two rankers — the
  top-weighted list-similarity measure (Webber et al.): where RRF and
  Copeland FUSE rankers, RBO measures how much they AGREE. With p=½ the
  geometric weights are dyadic, so RBO·2520·1023 is a whole number
  (the same lcm·2ᵏ trick as search_err_eval), precomputed as a 10-entry
  suffix-weight table inlined into BOTH engines' plans;
- SEASONALITY STRENGTH — F_s = 1 − Var(residual)/Var(series) per event
  type from the weekday-mean seasonal fit: the one-number summary of
  ts_seasonal_decompose_additive, kept exact by comparing the
  cross-multiplied sums-of-squares n·Σx² − (Σx)².

Reference reach: the delegated SQL slot (``main.cc:181-182``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from c2_duckdb_runner_spark.operators.inference_ext import CENTS_SQL, cents
from c2_duckdb_runner_spark.registry import register
from c2_duckdb_runner_spark.tables import load

# ---------------------------------------------------------------------------
# stats_friedman_test
# ---------------------------------------------------------------------------

_FRIEDMAN_ORACLE = f"""
WITH d AS (
  SELECT CAST(ts AS DATE) AS day, event_type,
         CAST(SUM({CENTS_SQL.format('value')}) AS BIGINT) AS cents
  FROM events GROUP BY 1, 2
),
full_days AS (SELECT day FROM d GROUP BY day HAVING COUNT(*) = 5),
rk AS (
  SELECT d.day, d.event_type,
         row_number() OVER (PARTITION BY d.day
                            ORDER BY d.cents, d.event_type) AS r
  FROM d JOIN full_days f ON f.day = d.day
),
rj AS (SELECT event_type, CAST(SUM(r) AS BIGINT) AS r_j FROM rk GROUP BY 1),
agg AS (SELECT CAST(SUM(r_j*r_j) AS BIGINT) AS sr2,
               CAST((SELECT COUNT(*) FROM full_days) AS BIGINT) AS n FROM rj)
SELECT n, sr2,
  CAST(12*sr2 - 3*n*n*5*36 AS BIGINT) AS q_num,
  CAST(n*5*6 AS BIGINT) AS q_den,
  CAST(CASE WHEN 12*sr2 - 3*n*n*5*36 >= 0
       THEN (1000000*(12*sr2 - 3*n*n*5*36)) // (n*5*6)
       ELSE -((1000000*(3*n*n*5*36 - 12*sr2)) // (n*5*6)) END AS BIGINT)
    AS q_micro
FROM agg
"""


@register("stats_friedman_test", oracle=_FRIEDMAN_ORACLE)
def stats_friedman_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Friedman test: do the five event types keep a consistent daily
    revenue ORDERING across days? Blocks = complete days (all 5 types
    present — incomplete blocks would break the k-constant formula),
    within-block ranks tie-broken by event_type, so
    Q = (12ΣR_j² − 3n²k(k+1)²)/(nk(k+1)) is an exact fraction (k=5).

    Scale: one keyed rollup; the rank windows partition BY DAY over
    5-row partitions; everything after runs on 5 treatment rows."""
    e = load(spark, sf_dir, "events")
    d = (
        e.select(
            F.to_date("ts").alias("day"),
            "event_type",
            cents("value").alias("c"),
        )
        .groupBy("day", "event_type")
        .agg(F.sum("c").alias("cents"))
    )
    full_days = d.groupBy("day").agg(F.count("*").alias("k")).where("k = 5").select(
        "day"
    )
    rk = d.join(F.broadcast(full_days), "day").withColumn(
        "r",
        F.row_number().over(
            Window.partitionBy("day").orderBy("cents", "event_type")
        ),
    )
    rj = rk.groupBy("event_type").agg(F.sum("r").cast("bigint").alias("r_j"))
    n_days = full_days.agg(F.count("*").cast("bigint").alias("n"))
    agg = rj.agg(F.sum(F.expr("r_j*r_j")).cast("bigint").alias("sr2")).crossJoin(
        F.broadcast(n_days)
    )
    return agg.select(
        "n",
        "sr2",
        F.expr("CAST(12*sr2 - 3*n*n*5*36 AS BIGINT)").alias("q_num"),
        F.expr("CAST(n*5*6 AS BIGINT)").alias("q_den"),
        F.expr(
            "CAST(CASE WHEN 12*sr2 - 3*n*n*5*36 >= 0"
            " THEN (1000000*(12*sr2 - 3*n*n*5*36)) DIV (n*5*6)"
            " ELSE -((1000000*(3*n*n*5*36 - 12*sr2)) DIV (n*5*6)) END AS BIGINT)"
        ).alias("q_micro"),
    )


# ---------------------------------------------------------------------------
# search_rbo_overlap
# ---------------------------------------------------------------------------

# suffix weights sw(m) = Σ_{d=m..10} (2520//d)·2^(10−d) — precomputed once
# and inlined VERBATIM into both engines' plans (the rank-only-table trick
# NDCG's discounts use), so no float pow runs anywhere.
_RBO_SW = tuple(
    sum((2520 // d) * (2 ** (10 - d)) for d in range(m, 11)) for m in range(1, 11)
)
_RBO_DEN = 2520 * 1023  # perfect-agreement normalizer: Σ_d (2520//d)·2^(10−d)·d


def _rbo_sw_case(col: str) -> str:
    whens = " ".join(
        f"WHEN {col} = {m} THEN {w}" for m, w in enumerate(_RBO_SW, start=1)
    )
    return f"CASE {whens} ELSE 0 END"


_RBO_ORACLE = f"""
WITH ranked AS (
  SELECT doc_id,
    row_number() OVER (ORDER BY n_chars DESC, doc_id) AS ra,
    row_number() OVER (ORDER BY len(string_split(text,' ')) DESC, doc_id) AS rb
  FROM documents
),
both_top AS (SELECT GREATEST(ra, rb) AS m FROM ranked
             WHERE ra <= 10 AND rb <= 10),
agg AS (SELECT CAST(COALESCE(SUM({_rbo_sw_case('m')}), 0) AS BIGINT) AS rbo_num,
               CAST(COUNT(*) AS BIGINT) AS n_common FROM both_top)
SELECT n_common, rbo_num, CAST({_RBO_DEN} AS BIGINT) AS rbo_den,
       CAST((1000000*rbo_num) // {_RBO_DEN} AS BIGINT) AS rbo_micro
FROM agg
"""


@register("search_rbo_overlap", oracle=_RBO_ORACLE)
def search_rbo_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rank-biased overlap @10 (p = ½) between the char-length and
    token-count rankers: RBO = Σ_d p^d·|A_d ∩ B_d|/d, rewritten per-doc
    as a SUFFIX-WEIGHT lookup on max(rank_A, rank_B) — a doc in both
    top-10s contributes sw(max) = Σ_{d≥max} (2520//d)·2^(10−d), making
    RBO·2520·1023 a whole number (same dyadic trick as search_err_eval).
    Where search_rrf_fusion/search_fusion_condorcet COMBINE rankers,
    RBO quantifies their agreement — the metric you check BEFORE fusing.

    Scale: each ranker's top-10 is PRE-CUT with orderBy().limit(10) — a
    TakeOrderedAndProject, never a single-reducer global window over the
    corpus. Ranks are assigned over the two BOUNDED 10-row lists and the
    `ra<=10 AND rb<=10` intersection becomes an inner join of those
    lists; everything after runs on ≤ 10 rows."""
    d = load(spark, sf_dir, "documents")
    cand_a = (
        d.select("doc_id", "n_chars")
        .orderBy(F.desc("n_chars"), F.asc("doc_id"))
        .limit(10)
    )
    rank_a = cand_a.select(
        "doc_id",
        F.row_number()
        .over(Window.orderBy(F.desc("n_chars"), F.asc("doc_id")))
        .alias("ra"),
    )
    cand_b = (
        d.select("doc_id", F.expr("size(split(text, ' '))").alias("ntok"))
        .orderBy(F.desc("ntok"), F.asc("doc_id"))
        .limit(10)
    )
    rank_b = cand_b.select(
        "doc_id",
        F.row_number()
        .over(Window.orderBy(F.desc("ntok"), F.asc("doc_id")))
        .alias("rb"),
    )
    both = rank_a.join(rank_b, "doc_id").select(
        F.greatest("ra", "rb").alias("m")
    )
    agg = both.agg(
        F.coalesce(F.sum(F.expr(_rbo_sw_case("m"))), F.lit(0))
        .cast("bigint")
        .alias("rbo_num"),
        F.count("*").cast("bigint").alias("n_common"),
    )
    return agg.select(
        "n_common",
        "rbo_num",
        F.lit(_RBO_DEN).cast("bigint").alias("rbo_den"),
        F.expr(f"CAST((1000000*rbo_num) DIV {_RBO_DEN} AS BIGINT)").alias(
            "rbo_micro"
        ),
    )


# ---------------------------------------------------------------------------
# ts_seasonality_strength
# ---------------------------------------------------------------------------

_SEASTR_ORACLE = f"""
WITH daily AS (
  SELECT event_type, CAST(ts AS DATE) AS day,
         CAST((10 * CAST(SUM({CENTS_SQL.format('value')}) AS BIGINT))
              // CAST(COUNT(*) AS BIGINT) AS BIGINT) AS milli
  FROM events GROUP BY 1, 2
),
wd AS (SELECT event_type, day, milli, isodow(day) AS dow FROM daily),
seas AS (
  SELECT event_type, dow,
         CAST(CASE WHEN SUM(milli) >= 0 THEN SUM(milli) // COUNT(*)
              ELSE -((-SUM(milli)) // COUNT(*)) END AS BIGINT) AS smean
  FROM wd GROUP BY 1, 2
),
r AS (
  SELECT w.event_type, w.milli AS x, CAST(w.milli - s.smean AS BIGINT) AS resid
  FROM wd w JOIN seas s ON s.event_type = w.event_type AND s.dow = w.dow
),
v AS (
  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
         CAST(COUNT(*)*SUM(x*x) - SUM(x)*SUM(x) AS BIGINT) AS ssx,
         CAST(COUNT(*)*SUM(resid*resid) - SUM(resid)*SUM(resid) AS BIGINT) AS ssr
  FROM r GROUP BY 1
)
SELECT event_type, n,
  CAST(ssx - ssr AS BIGINT) AS strength_num, ssx AS strength_den,
  CAST(CASE WHEN ssx = 0 THEN 0
       WHEN ssx - ssr >= 0 THEN (1000000*(ssx - ssr)) // ssx
       ELSE -((1000000*(ssr - ssx)) // ssx) END AS BIGINT) AS strength_micro
FROM v
"""


@register("ts_seasonality_strength", oracle=_SEASTR_ORACLE)
def ts_seasonality_strength(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonality strength F_s = 1 − Var(residual)/Var(series) per event
    type, with the weekday-mean fit of ts_seasonal_decompose_additive:
    the one-number answer to "is this series weekly-seasonal enough to
    model?". Both variances enter as the cross-multiplied integer sums
    of squares n·Σx² − (Σx)², so the ratio is an exact fraction
    (sign-split micro at the end — the truncated integer weekday means
    can leave the residual SS a hair above the raw SS on flat series).
    Weekday parity: Spark weekday()+1 == DuckDB isodow.

    Scale: one keyed rollup; the weekday fit and SS folds run on the
    calendar-bounded (type × day) series."""
    e = load(spark, sf_dir, "events")
    daily = (
        e.groupBy("event_type", F.to_date("ts").alias("day"))
        .agg(F.sum(cents("value")).alias("s"), F.count("*").alias("n"))
        .select("event_type", "day", F.expr("(10 * s) div n").alias("milli"))
        .withColumn("dow", F.expr("weekday(day) + 1"))
    )
    seas = daily.groupBy("event_type", "dow").agg(
        F.expr(
            "CAST(CASE WHEN SUM(milli) >= 0 THEN SUM(milli) div COUNT(*)"
            " ELSE -((-SUM(milli)) div COUNT(*)) END AS BIGINT)"
        ).alias("smean")
    )
    r = daily.join(F.broadcast(seas), ["event_type", "dow"]).select(
        "event_type",
        F.col("milli").alias("x"),
        F.expr("CAST(milli - smean AS BIGINT)").alias("resid"),
    )
    v = r.groupBy("event_type").agg(
        F.count("*").cast("bigint").alias("n"),
        F.expr("CAST(COUNT(*)*SUM(x*x) - SUM(x)*SUM(x) AS BIGINT)").alias("ssx"),
        F.expr(
            "CAST(COUNT(*)*SUM(resid*resid) - SUM(resid)*SUM(resid) AS BIGINT)"
        ).alias("ssr"),
    )
    return v.select(
        "event_type",
        "n",
        F.expr("CAST(ssx - ssr AS BIGINT)").alias("strength_num"),
        F.col("ssx").alias("strength_den"),
        F.expr(
            "CAST(CASE WHEN ssx = 0 THEN 0"
            " WHEN ssx - ssr >= 0 THEN (1000000*(ssx - ssr)) DIV ssx"
            " ELSE -((1000000*(ssr - ssx)) DIV ssx) END AS BIGINT)"
        ).alias("strength_micro"),
    )
