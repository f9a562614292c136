"""Round-4 randomness / decay / association extensions.

- ZIPF RANK-FREQUENCY PROFILE of the corpus vocabulary: word frequency
  at ranks 1, 2, 4, ..., 32 plus the frequency ratio to the
  double-rank word — a Zipfian corpus shows a flat ratio column (the
  log-log slope, without ever taking a log);
- TIME-DECAYED ENGAGEMENT SCORE per user: Σ value · 2^-(age/7d) with
  the decay quantized to whole weeks so the weight is an exact power of
  two and the sum is a pure integer — the recency-weighted activity
  metric behind churn models;
- WALD-WOLFOWITZ RUNS TEST per event type: are the above/below-median
  days of the daily series randomly ordered? The z² significance
  comparison is cross-multiplied into one integer inequality, so the
  verdict needs no square root;
- CRAMÉR'S V for the event-type × user-parity contingency table — the
  bounded effect-size companion to stats_chi2_drift's significance
  test, same exact-integer χ² core.

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
)
from c2_duckdb_runner_spark.registry import fdoc, register
from c2_duckdb_runner_spark.tables import load

# ---------------------------------------------------------------------------
# text_zipf_rank_profile
# ---------------------------------------------------------------------------

_ZIPF_RANKS = (1, 2, 4, 8, 16, 32)
_ZIPF_RANKS_SQL = ", ".join(str(r) for r in _ZIPF_RANKS)


@register(
    "text_zipf_rank_profile",
    oracle=f"""
WITH t AS (
  SELECT unnest(string_split(text, ' ')) AS w FROM documents
),
cnt AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS c FROM t GROUP BY w),
ranked AS (
  SELECT w, c, ROW_NUMBER() OVER (ORDER BY c DESC, w) AS r FROM cnt
),
probe AS (
  SELECT a.r AS rank, a.w AS word, a.c AS freq, b.c AS freq_at_2r
  FROM ranked a JOIN ranked b ON b.r = 2 * a.r
  WHERE a.r IN ({_ZIPF_RANKS_SQL})
)
SELECT CAST(rank AS INT) AS rank, word, freq,
       CAST((1000000 * freq) // freq_at_2r AS BIGINT) AS ratio_to_2r_micro
FROM probe
""",
)
@fdoc(f"""Zipf's-law probe: the word frequency at ranks 1, 2, 4, ..., 32
    and the exact ratio f(r)/f(2r) in micro-units — under Zipf
    (f ∝ 1/r^s) this ratio is the constant 2^s down the whole column,
    so the table reads as a log-log slope without either engine taking
    a log. The doubling probe needs only |{_ZIPF_RANKS}| rank lookups,
    not the whole curve.

    Scale shape: the corpus only streams through one token count; only
    ranks ≤ 2·max(probe rank) are ever consumed, so the vocabulary-sized
    count table is PRE-CUT with orderBy().limit(2·32) — a
    TakeOrderedAndProject — and the rank window runs over that BOUNDED
    64-row list, never a single-reducer sort of the whole vocabulary.
    The rank-to-double-rank pairing is a self-join on the tiny probe
    set.""")
def text_zipf_rank_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load(spark, sf_dir, "documents").select(
        F.explode(F.split("text", " ")).alias("w")
    )
    cnt = t.groupBy("w").agg(F.count("*").cast("bigint").alias("c"))
    # only ranks up to 2*max(_ZIPF_RANKS) feed the probe — cut first
    top = cnt.orderBy(F.col("c").desc(), "w").limit(2 * max(_ZIPF_RANKS))
    ranked = top.select(
        "w",
        "c",
        F.row_number().over(Window.orderBy(F.col("c").desc(), "w")).alias("r"),
    )
    a = ranked.filter(F.col("r").isin(*_ZIPF_RANKS)).select(
        F.col("r").alias("rank"), F.col("w").alias("word"), F.col("c").alias("freq")
    )
    b = ranked.select((F.col("r")).alias("r2"), F.col("c").alias("freq_at_2r"))
    # broadcast the 6-row probe set, not the vocabulary-sized rank table
    return (
        b.join(F.broadcast(a), F.col("r2") == 2 * F.col("rank"))
        .select(
            F.col("rank").cast("int").alias("rank"),
            "word",
            "freq",
            F.expr("CAST((1000000 * freq) div freq_at_2r AS BIGINT)").alias(
                "ratio_to_2r_micro"
            ),
        )
    )


# ---------------------------------------------------------------------------
# agg_time_decay_score
# ---------------------------------------------------------------------------

_DECAY_HALF_LIFE_DAYS = 7
_DECAY_TOP = 25


@register(
    "agg_time_decay_score",
    oracle=f"""
WITH anchor AS (SELECT MAX(ts) AS now FROM events),
aged AS (
  SELECT user_id,
         {CENTS_SQL.format('value')} AS cents,
         LEAST(CAST(date_diff('day', CAST(ts AS DATE), CAST(now AS DATE))
               AS BIGINT) // {_DECAY_HALF_LIFE_DAYS}, 62) AS half_lives
  FROM events CROSS JOIN anchor
)
SELECT user_id,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM((1000000 * cents) // (CAST(1 AS BIGINT) << half_lives))
            AS BIGINT) AS decayed_score_micro
FROM aged GROUP BY user_id
ORDER BY decayed_score_micro DESC, user_id LIMIT {_DECAY_TOP}
""",
)
@fdoc(f"""Recency-weighted engagement score: each event contributes
    value · 2^-(age in {_DECAY_HALF_LIFE_DAYS}-day half-lives), with the
    age quantized to whole half-lives so the decay factor is an exact
    power of two — the weight is one integer shift (guarded at 62 to
    stay inside the 63-bit word, per the bloom-filter convention) and
    the score a pure integer sum. Top-{_DECAY_TOP} users by score.

    This quantized-exponential form is also the re-aggregatable one: a
    day's partial scores can be merged later by shifting them another
    k half-lives, which is how a 100 TB event store maintains decayed
    scores incrementally instead of rescanning. One scan, one keyed
    aggregate, TakeOrdered.""")
def agg_time_decay_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    anchor = ev.agg(F.max("ts").alias("now"))
    aged = ev.crossJoin(F.broadcast(anchor)).select(
        "user_id",
        cents("value").alias("cents"),
        F.expr(
            "LEAST(CAST(datediff(CAST(now AS DATE), CAST(ts AS DATE)) AS BIGINT)"
            f" div {_DECAY_HALF_LIFE_DAYS}, 62L)"
        ).alias("half_lives"),
    )
    return (
        aged.groupBy("user_id")
        .agg(
            F.count("*").cast("bigint").alias("n_events"),
            F.sum(
                F.expr("(1000000 * cents) div (CAST(1 AS BIGINT) << half_lives)")
            )
            .cast("bigint")
            .alias("decayed_score_micro"),
        )
        .orderBy(F.col("decayed_score_micro").desc(), "user_id")
        .limit(_DECAY_TOP)
    )


# ---------------------------------------------------------------------------
# stats_runs_test
# ---------------------------------------------------------------------------


@register(
    "stats_runs_test",
    oracle=f"""
WITH daily AS ({DAILY_MILLI_SQL}),
med AS (
  SELECT event_type, x AS m
  FROM (
    SELECT event_type, x,
           ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY x) AS rn,
           COUNT(*) OVER (PARTITION BY event_type) AS n
    FROM daily
  ) WHERE rn = (n + 1) // 2
),
signs AS (
  SELECT d.event_type, d.d,
         CASE WHEN d.x > med.m THEN 1 ELSE 0 END AS s
  FROM daily d JOIN med ON d.event_type = med.event_type
  WHERE d.x <> med.m
),
runs AS (
  SELECT event_type,
         CAST(SUM(CASE WHEN s = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
         CAST(SUM(CASE WHEN s = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n2,
         CAST(1 + SUM(CASE WHEN s <> prev_s THEN 1 ELSE 0 END) AS BIGINT) AS r
  FROM (
    SELECT event_type, s,
           LAG(s) OVER (PARTITION BY event_type ORDER BY d) AS prev_s
    FROM signs
  )
  GROUP BY event_type
),
verdict AS (
  SELECT event_type, n1, n2, r, n1 + n2 AS n,
         r * (n1 + n2) - (n1 + n2) - 2 * n1 * n2 AS dd
  FROM runs
)
SELECT event_type, CAST(n1 AS BIGINT) AS n_above, CAST(n2 AS BIGINT) AS n_below,
       CAST(r AS BIGINT) AS n_runs,
       CAST(CASE WHEN 10000 * dd * dd * (n - 1)
                 <= 38416 * 2 * n1 * n2 * (2 * n1 * n2 - n)
            THEN 1 ELSE 0 END AS INT) AS random_ok
FROM verdict
""",
)
def stats_runs_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wald-Wolfowitz runs test per event type: split the daily series
    at its median (median-equal days drop, per the textbook recipe),
    count runs of consecutive same-side days, and test |R - E[R]| ≤
    1.96·σ. The normal-approximation inequality is cross-multiplied
    into pure integers — with D = R·n - n - 2·n₁·n₂ (i.e. n·(R-E[R])),
    randomness holds iff 10⁴·D²·(n-1) ≤ 38416·2·n₁n₂·(2n₁n₂-n) — so no
    square root or float appears and both engines agree exactly.

    Too FEW runs means trending/clustered days; too MANY means
    oscillation — the randomness gate a forecasting pipeline checks
    before trusting ts_holt_linear_forecast's extrapolation. All
    windows partition by event_type over the bounded daily series."""
    daily = daily_milli(spark, sf_dir)
    we = Window.partitionBy("event_type")
    med = (
        daily.select(
            "event_type",
            "x",
            F.row_number().over(we.orderBy("x")).alias("rn"),
            F.count("*").over(we).alias("n"),
        )
        .filter(F.col("rn") == F.expr("(n + 1) div 2"))
        .select("event_type", F.col("x").alias("m"))
    )
    signs = (
        daily.join(F.broadcast(med), "event_type")
        .filter(F.col("x") != F.col("m"))
        .select(
            "event_type",
            "d",
            F.when(F.col("x") > F.col("m"), 1).otherwise(0).alias("s"),
        )
    )
    lagged = signs.select(
        "event_type",
        "s",
        F.lag("s").over(we.orderBy("d")).alias("prev_s"),
    )
    runs = lagged.groupBy("event_type").agg(
        F.sum(F.when(F.col("s") == 1, 1).otherwise(0)).cast("bigint").alias("n1"),
        F.sum(F.when(F.col("s") == 0, 1).otherwise(0)).cast("bigint").alias("n2"),
        (
            1
            + F.sum(
                F.when(
                    F.col("prev_s").isNotNull() & (F.col("s") != F.col("prev_s")), 1
                ).otherwise(0)
            )
        )
        .cast("bigint")
        .alias("r"),
    )
    verdict = runs.select(
        "event_type",
        "n1",
        "n2",
        "r",
        (F.col("n1") + F.col("n2")).alias("n"),
        (
            F.col("r") * (F.col("n1") + F.col("n2"))
            - (F.col("n1") + F.col("n2"))
            - 2 * F.col("n1") * F.col("n2")
        ).alias("dd"),
    )
    return verdict.select(
        "event_type",
        F.col("n1").alias("n_above"),
        F.col("n2").alias("n_below"),
        F.col("r").alias("n_runs"),
        F.expr(
            "CAST(CASE WHEN 10000 * dd * dd * (n - 1)"
            " <= 38416 * 2 * n1 * n2 * (2 * n1 * n2 - n)"
            " THEN 1 ELSE 0 END AS INT)"
        ).alias("random_ok"),
    )


# ---------------------------------------------------------------------------
# stats_cramers_v
# ---------------------------------------------------------------------------


@register(
    "stats_cramers_v",
    oracle="""
WITH o AS (
  SELECT event_type, user_id % 2 AS parity, CAST(COUNT(*) AS BIGINT) AS obs
  FROM events GROUP BY event_type, user_id % 2
),
mar AS (
  SELECT o.event_type, o.parity, o.obs,
         CAST(SUM(o.obs) OVER (PARTITION BY o.event_type) AS BIGINT) AS rsum,
         CAST(SUM(o.obs) OVER (PARTITION BY o.parity) AS BIGINT) AS csum,
         CAST(SUM(o.obs) OVER () AS BIGINT) AS n
  FROM o
),
terms AS (
  SELECT n,
         CAST(((1000 * (CAST(obs AS HUGEINT) * n - CAST(rsum AS HUGEINT) * csum))
               * (1000 * (CAST(obs AS HUGEINT) * n - CAST(rsum AS HUGEINT) * csum)))
              // (CAST(n AS HUGEINT) * rsum * csum) AS BIGINT) AS tm
  FROM mar
),
chi AS (SELECT ANY_VALUE(n) AS n, CAST(SUM(tm) AS BIGINT) AS chi2_micro FROM terms)
SELECT n AS n_obs, chi2_micro,
       CAST(chi2_micro // n AS BIGINT) AS v2_micro,
       CAST(CASE WHEN chi2_micro // n >= 10000 THEN 1 ELSE 0 END AS INT)
         AS assoc_flag
FROM chi
""",
)
def stats_cramers_v(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cramér's V effect size for the event-type × user-parity
    contingency table: V² = χ²/(N·(k-1)) with k = min(rows, cols) = 2,
    so V² = χ²/N — the bounded [0,1] association measure that tells you
    whether a SIGNIFICANT chi-square (stats_chi2_drift's question) is
    also a LARGE one. Same exact-integer χ² core: each cell contributes
    (1000·(obs·N − rowsum·colsum))² div (N·rowsum·colsum) micro-units
    through HUGEINT/DECIMAL(38) intermediates.

    The assoc_flag fires at V² ≥ 0.01 (V ≥ 0.1, the conventional
    "small effect" floor) — compared in squared space so no square root
    runs. One keyed aggregate to the k×2 cell table; the marginals are
    windows over those cells, not the corpus."""
    o = load(spark, sf_dir, "events").groupBy(
        "event_type", (F.col("user_id") % 2).alias("parity")
    ).agg(F.count("*").cast("bigint").alias("obs"))
    mar = o.select(
        "obs",
        F.sum("obs").over(Window.partitionBy("event_type")).cast("bigint").alias("rsum"),
        F.sum("obs").over(Window.partitionBy("parity")).cast("bigint").alias("csum"),
        F.sum("obs")
        .over(Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing))
        .cast("bigint")
        .alias("n"),
    )
    terms = mar.select(
        "n",
        F.expr(
            "CAST(((1000 * (CAST(obs AS DECIMAL(19,0)) * n"
            " - CAST(rsum AS DECIMAL(19,0)) * csum))"
            " * (1000 * (CAST(obs AS DECIMAL(19,0)) * n"
            " - CAST(rsum AS DECIMAL(19,0)) * csum)))"
            " div (CAST(n AS DECIMAL(19,0)) * rsum * csum) AS BIGINT)"
        ).alias("tm"),
    )
    chi = terms.agg(
        F.any_value(F.col("n")).alias("n"),
        F.sum("tm").cast("bigint").alias("chi2_micro"),
    )
    return chi.select(
        F.col("n").alias("n_obs"),
        "chi2_micro",
        F.expr("CAST(chi2_micro div n AS BIGINT)").alias("v2_micro"),
        F.expr(
            "CAST(CASE WHEN chi2_micro div n >= 10000 THEN 1 ELSE 0 END AS INT)"
        ).alias("assoc_flag"),
    )
