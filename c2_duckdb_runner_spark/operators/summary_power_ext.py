"""Round-4 experiment-power / dashboard-summary extensions.

- MDE POWER CHECK: the A/B pre-flight — given the arms' sizes and the
  pooled outcome variance, is the observed gap larger than the minimum
  detectable effect at α=0.05, power=0.80? The z-quantile factor
  (1.96+0.84)² = 7.84 is exact in integer micro-units, so the whole
  check is one cross-multiplied integer inequality (squared space — no
  square root);
- TOP-N PLUS OTHER: the dashboard rollup that keeps the top revenue
  parts as rows and folds the long tail into one OTHER row whose value
  is total-minus-top (never a scan of the tail);
- DATASET CARD: the one-row corpus summary a training run logs next to
  its data mixture — sizes, vocabulary, duplication rate, language
  diversity (Gini-Simpson, the no-log entropy), mean length;
- STL-RESIDUAL ANOMALY FLAGS: days whose seasonal-decomposition
  residual exceeds 2×MAD — the anomaly detector that consumes
  ts_seasonal_decompose_additive's residuals (z-scores flag trend and
  weekday effects as anomalies; residual-MAD does not).

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
# ab_power_mde_check
# ---------------------------------------------------------------------------

# (z_{0.025} + z_{0.20})² = (1.96 + 0.84)² = 2.8² = 7.84 — exact in micro.
_Z_FACTOR_MICRO = 7_840_000


@register(
    "ab_power_mde_check",
    oracle=f"""
WITH e AS (
  SELECT user_id % 2 AS arm, {CENTS_SQL.format('value')} AS cents
  FROM events
),
s AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(cents) AS BIGINT) AS sx,
         CAST(SUM(CAST(cents AS HUGEINT) * cents) AS HUGEINT) AS sxx,
         CAST(SUM(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS na,
         CAST(SUM(CASE WHEN arm = 1 THEN cents ELSE 0 END) AS BIGINT) AS sa,
         CAST(SUM(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS nb,
         CAST(SUM(CASE WHEN arm = 0 THEN cents ELSE 0 END) AS BIGINT) AS sb
  FROM e
),
d AS (
  SELECT na, nb,
         CAST((n * sxx - CAST(sx AS HUGEINT) * sx) // (CAST(n AS HUGEINT) * (n - 1))
              AS BIGINT) AS var_cents2,
         (1000000 * sa) // na - (1000000 * sb) // nb AS diff_micro
  FROM s
),
m AS (
  SELECT na, nb, var_cents2, diff_micro,
         CAST(({_Z_FACTOR_MICRO} * 2 * CAST(var_cents2 AS HUGEINT))
              // LEAST(na, nb) AS BIGINT) AS mde2_microcents2
  FROM d
)
SELECT na AS n_a, nb AS n_b, var_cents2, CAST(diff_micro AS BIGINT) AS diff_micro,
       mde2_microcents2,
       CAST(CASE WHEN CAST(diff_micro AS HUGEINT) * diff_micro
                 >= CAST(mde2_microcents2 AS HUGEINT) * 1000000
            THEN 1 ELSE 0 END AS INT) AS detectable
FROM m
""",
)
def ab_power_mde_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A/B power pre-flight: the minimum detectable effect at α=0.05,
    power=0.80 is MDE² = (z_α/2 + z_β)²·2·σ²/n, and the experiment is
    worth reading only if the observed gap clears it. Everything stays
    integer: the z-factor 7.84 ships as 7,840,000 micro-units, pooled
    variance comes from exact HUGEINT/DECIMAL sufficient statistics
    (n·Σx² − (Σx)²)/(n·(n−1)), and the verdict compares diff² against
    MDE²·10⁶ in squared micro-space — no square root, no float, both
    engines agree bit-for-bit.

    Scale shape: ONE scan reduces to a 1-row sufficient-statistics
    record (map-side partials); the entire power calculation is
    constant-size arithmetic after that, and the stats merge from
    partition partials at any corpus size."""
    e = load(spark, sf_dir, "events").select(
        (F.col("user_id") % 2).alias("arm"),
        cents("value").alias("cents"),
    )
    s = e.agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("cents").cast("bigint").alias("sx"),
        F.sum(F.expr("CAST(cents AS DECIMAL(19,0)) * cents")).alias("sxx"),
        F.sum(F.when(F.col("arm") == 1, 1).otherwise(0)).cast("bigint").alias("na"),
        F.sum(F.when(F.col("arm") == 1, F.col("cents")).otherwise(0))
        .cast("bigint")
        .alias("sa"),
        F.sum(F.when(F.col("arm") == 0, 1).otherwise(0)).cast("bigint").alias("nb"),
        F.sum(F.when(F.col("arm") == 0, F.col("cents")).otherwise(0))
        .cast("bigint")
        .alias("sb"),
    )
    d = s.select(
        "na",
        "nb",
        F.expr(
            "CAST((n * sxx - CAST(sx AS DECIMAL(19,0)) * sx)"
            " div (CAST(n AS DECIMAL(19,0)) * (n - 1)) AS BIGINT)"
        ).alias("var_cents2"),
        F.expr("(1000000 * sa) div na - (1000000 * sb) div nb").alias("diff_micro"),
    )
    m = d.select(
        "na",
        "nb",
        "var_cents2",
        "diff_micro",
        F.expr(
            f"CAST(({_Z_FACTOR_MICRO} * 2 * CAST(var_cents2 AS DECIMAL(19,0)))"
            " div LEAST(na, nb) AS BIGINT)"
        ).alias("mde2_microcents2"),
    )
    return m.select(
        F.col("na").alias("n_a"),
        F.col("nb").alias("n_b"),
        "var_cents2",
        F.col("diff_micro").cast("bigint").alias("diff_micro"),
        "mde2_microcents2",
        F.expr(
            "CAST(CASE WHEN CAST(diff_micro AS DECIMAL(19,0)) * diff_micro"
            " >= CAST(mde2_microcents2 AS DECIMAL(19,0)) * 1000000"
            " THEN 1 ELSE 0 END AS INT)"
        ).alias("detectable"),
    )


# ---------------------------------------------------------------------------
# agg_topn_plus_other
# ---------------------------------------------------------------------------

_TOPN = 10


@register(
    "agg_topn_plus_other",
    oracle=f"""
WITH rev AS (
  SELECT l_partkey,
         CAST(SUM({CENTS_SQL.format('l_extendedprice')}) AS BIGINT) AS r
  FROM lineitem GROUP BY l_partkey
),
top AS (SELECT * FROM rev ORDER BY r DESC, l_partkey LIMIT {_TOPN}),
ranked AS (
  SELECT CAST(l_partkey AS VARCHAR) AS label, r AS rev_cents,
         CAST(ROW_NUMBER() OVER (ORDER BY r DESC, l_partkey) AS INT) AS rank
  FROM top
),
tot AS (SELECT CAST(SUM(r) AS BIGINT) AS t FROM rev),
ts AS (SELECT CAST(SUM(r) AS BIGINT) AS s FROM top)
SELECT label, rev_cents, rank FROM ranked
UNION ALL
SELECT 'OTHER', CAST(t - s AS BIGINT), CAST(0 AS INT) FROM tot CROSS JOIN ts
""",
)
@fdoc(f"""Top-{_TOPN}-plus-OTHER revenue rollup — the dashboard pattern that
    keeps the head as rows and folds the tail into one line whose value
    is total − Σ(top): the tail is NEVER enumerated, so the report costs
    one keyed aggregate + one TakeOrdered + two scalar sums regardless
    of how many million keys the tail holds. Integer cents; the head
    rank and the LIMIT are total-ordered, OTHER carries rank 0.

    The window that assigns head ranks runs over the {_TOPN}-row
    TakeOrdered result, never the key domain.""")
def agg_topn_plus_other(spark: SparkSession, sf_dir: str) -> DataFrame:
    rev = (
        load(spark, sf_dir, "lineitem")
        .groupBy("l_partkey")
        .agg(
            F.sum(cents("l_extendedprice"))
            .cast("bigint")
            .alias("r")
        )
    )
    from c2_duckdb_runner_spark.session import scratch_persist

    rev = scratch_persist(rev)
    top = rev.orderBy(F.col("r").desc(), "l_partkey").limit(_TOPN)
    ranked = top.select(
        F.col("l_partkey").cast("string").alias("label"),
        F.col("r").alias("rev_cents"),
        F.row_number()
        .over(Window.orderBy(F.col("r").desc(), "l_partkey"))
        .cast("int")
        .alias("rank"),
    )
    tot = rev.agg(F.sum("r").cast("bigint").alias("t"))
    ts = top.agg(F.sum("r").cast("bigint").alias("s"))
    other = tot.crossJoin(ts).select(
        F.lit("OTHER").alias("label"),
        (F.col("t") - F.col("s")).cast("bigint").alias("rev_cents"),
        F.lit(0).cast("int").alias("rank"),
    )
    return ranked.unionByName(other)


# ---------------------------------------------------------------------------
# corpus_dataset_card
# ---------------------------------------------------------------------------


@register(
    "corpus_dataset_card",
    oracle="""
WITH base AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources,
         CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs,
         CAST(COUNT(*) - COUNT(DISTINCT md5(text)) AS BIGINT) AS n_dups,
         CAST((1000 * CAST(SUM(n_chars) AS BIGINT)) // CAST(COUNT(*) AS BIGINT)
              AS BIGINT) AS mean_len_milli
  FROM documents
),
tok AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS total_tokens,
         CAST(COUNT(DISTINCT tok) AS BIGINT) AS vocab_size
  FROM (SELECT unnest(string_split(text, ' ')) AS tok FROM documents)
),
langs AS (
  SELECT CAST(SUM(CAST(c AS HUGEINT) * c) AS HUGEINT) AS sum_c2,
         CAST(SUM(c) AS BIGINT) AS n
  FROM (SELECT COUNT(*) AS c FROM documents GROUP BY lang)
)
SELECT n_docs, n_sources, n_langs, vocab_size, total_tokens,
       CAST((1000000 * n_dups) // n_docs AS BIGINT) AS dup_rate_micro,
       CAST(1000000 - (1000000 * sum_c2) // (CAST(n AS HUGEINT) * n) AS BIGINT)
         AS lang_gini_micro,
       mean_len_milli
FROM base CROSS JOIN tok CROSS JOIN langs
""",
)
def corpus_dataset_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dataset card: the one-row corpus summary a training run logs next
    to its mixture weights — document/source/language counts, vocabulary
    size, total tokens, exact duplication rate, language diversity as
    the Gini-Simpson index 1−Σp² (the no-log diversity measure, exact in
    integer micro-units through HUGEINT/DECIMAL), and mean length.

    Scale shape: three independent aggregates (doc-level, token-level,
    language histogram), each one scan-reduce with map-side partials,
    cross-joined as 1-row broadcasts. The language Σc² works on the
    k-row histogram, never the corpus."""
    docs = load(spark, sf_dir, "documents")
    base = docs.agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.countDistinct("source").cast("bigint").alias("n_sources"),
        F.countDistinct("lang").cast("bigint").alias("n_langs"),
        (F.count("*") - F.countDistinct(F.md5("text")))
        .cast("bigint")
        .alias("n_dups"),
        F.expr(
            "CAST((1000 * CAST(SUM(n_chars) AS BIGINT))"
            " div CAST(COUNT(*) AS BIGINT) AS BIGINT)"
        ).alias("mean_len_milli"),
    )
    tok = (
        docs.select(F.explode(F.split("text", " ")).alias("tok"))
        .agg(
            F.count("*").cast("bigint").alias("total_tokens"),
            F.countDistinct("tok").cast("bigint").alias("vocab_size"),
        )
    )
    langs = (
        docs.groupBy("lang")
        .agg(F.count("*").cast("bigint").alias("c"))
        .agg(
            F.sum(F.expr("CAST(c AS DECIMAL(19,0)) * c")).alias("sum_c2"),
            F.sum("c").cast("bigint").alias("n"),
        )
    )
    return (
        base.crossJoin(F.broadcast(tok))
        .crossJoin(F.broadcast(langs))
        .select(
            "n_docs",
            "n_sources",
            "n_langs",
            "vocab_size",
            "total_tokens",
            F.expr("CAST((1000000 * n_dups) div n_docs AS BIGINT)").alias(
                "dup_rate_micro"
            ),
            F.expr(
                "CAST(1000000 - (1000000 * sum_c2)"
                " div (CAST(n AS DECIMAL(19,0)) * n) AS BIGINT)"
            ).alias("lang_gini_micro"),
            "mean_len_milli",
        )
    )


# ---------------------------------------------------------------------------
# ts_anomaly_stl_residual
# ---------------------------------------------------------------------------


@register(
    "ts_anomaly_stl_residual",
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
  SELECT event_type, d, x, dv,
         {sdiv('CAST(SUM(dv) OVER wd AS BIGINT)',
               'CAST(COUNT(*) OVER wd AS BIGINT)', 'duck')} AS seasonal
  FROM dev
  WINDOW wd AS (PARTITION BY event_type, dow)
),
res AS (
  SELECT event_type, d, x, CAST(dv - seasonal AS BIGINT) AS r FROM seas
),
med AS (
  SELECT event_type, r AS med_r
  FROM (SELECT event_type, r,
               ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY r) AS rn,
               COUNT(*) OVER (PARTITION BY event_type) AS n
        FROM res) WHERE rn = (n + 1) // 2
),
madt AS (
  SELECT event_type, ad AS mad_r
  FROM (SELECT res.event_type, abs(res.r - med.med_r) AS ad,
               ROW_NUMBER() OVER (PARTITION BY res.event_type
                 ORDER BY abs(res.r - med.med_r)) AS rn,
               COUNT(*) OVER (PARTITION BY res.event_type) AS n
        FROM res JOIN med ON res.event_type = med.event_type)
  WHERE rn = (n + 1) // 2
)
SELECT res.event_type AS event_type, strftime(res.d, '%Y-%m-%d') AS d,
       res.x AS x_milli, res.r AS residual_milli,
       med.med_r AS median_resid_milli, madt.mad_r AS mad_milli
FROM res
JOIN med ON res.event_type = med.event_type
JOIN madt ON res.event_type = madt.event_type
WHERE abs(res.r - med.med_r) > 2 * GREATEST(madt.mad_r, 1)
""",
)
def ts_anomaly_stl_residual(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Residual-based anomaly flags: recompute the additive
    decomposition's residuals (ts_seasonal_decompose_additive) and flag
    days where |residual − median| > 2×MAD — the robust detector that
    ignores trend and weekday structure by construction, where a plain
    z-score (ts_anomaly_zscore) flags the structure itself. Median and
    MAD are exact order statistics by position (lower median), all in
    integer milli-units.

    Every window partitions by event type (+weekday) over the bounded
    daily series; the MAD needs one extra per-key pass over ~30 rows.
    Constant work per key at any corpus size."""
    daily = daily_milli(spark, sf_dir)
    w7 = Window.partitionBy("event_type").orderBy("d").rowsBetween(-3, 3)
    tr = daily.select(
        "event_type",
        "d",
        "x",
        F.sum("x").over(w7).cast("bigint").alias("ssum"),
        F.count("*").over(w7).cast("bigint").alias("scnt"),
    ).select(
        "event_type", "d", "x", F.expr("x - (ssum div scnt)").alias("dv"),
        (F.expr("weekday(CAST(d AS DATE))") + 1).alias("dow"),
    )
    wd = Window.partitionBy("event_type", "dow")
    res = tr.select(
        "event_type",
        "d",
        "x",
        "dv",
        F.sum("dv").over(wd).cast("bigint").alias("dsum"),
        F.count("*").over(wd).cast("bigint").alias("dcnt"),
    ).select(
        "event_type",
        "d",
        "x",
        (F.col("dv") - F.expr(sdiv("dsum", "dcnt", "spark"))).cast("bigint").alias("r"),
    )
    we = Window.partitionBy("event_type")
    med = (
        res.select(
            "event_type",
            "r",
            F.row_number().over(we.orderBy("r")).alias("rn"),
            F.count("*").over(we).alias("n"),
        )
        .filter(F.col("rn") == F.expr("(n + 1) div 2"))
        .select("event_type", F.col("r").alias("med_r"))
    )
    withmed = res.join(F.broadcast(med), "event_type").withColumn(
        "ad", F.abs(F.col("r") - F.col("med_r"))
    )
    madt = (
        withmed.select(
            "event_type",
            "ad",
            F.row_number().over(we.orderBy("ad")).alias("rn"),
            F.count("*").over(we).alias("n"),
        )
        .filter(F.col("rn") == F.expr("(n + 1) div 2"))
        .select("event_type", F.col("ad").alias("mad_r"))
    )
    return (
        withmed.join(F.broadcast(madt), "event_type")
        .filter(
            F.abs(F.col("r") - F.col("med_r"))
            > 2 * F.greatest(F.col("mad_r"), F.lit(1))
        )
        .select(
            "event_type",
            F.date_format("d", "yyyy-MM-dd").alias("d"),
            F.col("x").alias("x_milli"),
            F.col("r").alias("residual_milli"),
            F.col("med_r").alias("median_resid_milli"),
            F.col("mad_r").alias("mad_milli"),
        )
    )
