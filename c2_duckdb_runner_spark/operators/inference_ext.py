"""Round-4 inference / distribution-alignment extensions.

Four operators that round out the statistics family (KS, chi-square,
bootstrap, permutation, Mann-Kendall) with the remaining classical tools a
data-quality pipeline leans on, each re-derived in EXACT integer
arithmetic so both engines agree bit-for-bit:

- ONE-WAY ANOVA (F statistic) across event types over the DAILY mean
  series — downsample-then-test, the same scale shape as Mann-Kendall:
  the raw events reduce to ~30 observations per group FIRST, so the
  sufficient statistics are map-side partial aggregates and the F ratio
  is a constant-size integer computation;
- AUTOCORRELATION (ACF at lags 1..3) per event type on the same daily
  series — the seasonality probe next to ts_seasonal_hour_baseline and
  ts_mann_kendall_trend;
- QUANTILE NORMALIZATION of per-source document-length distributions
  onto the global distribution — the cross-source drift equalizer used
  before mixing corpora; rank-to-position mapping stays exact because
  the "sorted global vector" is reconstructed from a bounded
  distinct-value histogram, never a global row sort;
- K-ANONYMITY + L-DIVERSITY audit over quasi-identifier groups — the
  privacy screen that complements text_pii_redact (row-level redaction)
  with a group-level disclosure check.

It also owns two kits the rest of the package builds on:

- the exact-cents kit: ``cents`` (a float column as integer BIGINT cents,
  in Spark) and ``CENTS_SQL`` (its oracle twin), with the one non-finite
  policy every cents key shares;
- the integer daily-series kit the ts_* / daily-stats family builds on:
  ``daily_milli`` (the Spark per-type daily mean in milli-units),
  ``DAILY_MILLI_SQL`` (its independently written oracle twin) and ``sdiv``
  (the sign-split integral division formatter for both engines).

Reference reach: the delegated SQL slot (``main.cc:181-182``).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from c2_duckdb_runner_spark.registry import register
from c2_duckdb_runner_spark.tables import load

# ---------------------------------------------------------------------------
# The exact-cents kit: how a float becomes integer cents, in both engines
# ---------------------------------------------------------------------------

# The oracle side of cents, formatted with the column name.
CENTS_SQL = "CAST(round({0} * 100) AS BIGINT)"


def cents(x: str) -> Column:
    """Column ``x`` as exact integer cents: ``round(x · 100)`` cast to
    BIGINT, the same value in both engines. Halves round away from zero
    (±0.005 → ±1, 2.675 → 268) and NULL stays NULL. Sums, sorts and hashes
    over cents are exact, where the same over the raw doubles drift.
    ``CENTS_SQL`` is the oracle twin.

    Non-finite policy: a value with no finite BIGINT cents (±inf, NaN,
    ±1e308) raises in both engines: Spark's ANSI cast with
    ``CAST_OVERFLOW``, DuckDB with ``Conversion Error``. Such an input
    makes a key ``both_error``, rejected rather than answered wrong. The
    other policies make keys wrong today, because the keys' other
    expressions treat the surviving NULLs or rows differently per engine.
    Of the 48 keys that take cents of ``events.value``, 47 are
    ``both_error`` on the hostile sf0.001 twin; with a NULL guard in both
    engines (``abs(x) < 1e16``) those 47 give 25 pass, 1 both_error and
    21 fail. A switch
    waits until those keys agree; it is one edit here and one in
    ``CENTS_SQL``."""
    return F.round(F.col(x) * 100).cast("bigint")


# ---------------------------------------------------------------------------
# The integer daily-series kit, shared by the ts_* / daily-stats family
# ---------------------------------------------------------------------------

# The oracle side, written independently of daily_milli (neither is
# generated from the other, so the differential compares two renderings).
DAILY_MILLI_SQL = f"""
  SELECT event_type, date_trunc('day', ts) AS d,
         (10 * CAST(SUM({CENTS_SQL.format('value')}) AS BIGINT))
           // CAST(COUNT(*) AS BIGINT) AS x
  FROM events WHERE ts IS NOT NULL
  GROUP BY event_type, date_trunc('day', ts)
"""


def daily_milli(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily mean event value per type, in integer MILLI-units:
    ``(event_type, d, x)`` with ``x = (10·Σ round(value·100)) div count``.
    Events with a NULL ``ts`` belong to no day and are dropped, so ``d`` is
    never NULL.

    The integral division is part of the statistic's definition (both
    engines truncate toward zero on positive operands), so every
    downstream sum/product is exact cross-engine."""
    return (
        load(spark, sf_dir, "events")
        .filter(F.col("ts").isNotNull())
        .select("event_type", "ts", cents("value").alias("c"))
        .groupBy("event_type", F.date_trunc("day", F.col("ts")).alias("d"))
        .agg(F.expr("(10 * SUM(c)) div COUNT(*)").alias("x"))
    )


def sdiv(num: str, den: str, engine: str) -> str:
    """Sign-split integral division: both engines truncate toward zero,
    but splitting on sign makes the agreement explicit for negative
    numerators (denominators are always positive here)."""
    op = "div" if engine == "spark" else "//"
    return (
        f"CASE WHEN ({num}) >= 0 THEN ({num}) {op} ({den})"
        f" ELSE -((-({num})) {op} ({den})) END"
    )


# ---------------------------------------------------------------------------
# stats_anova_f_daily
# ---------------------------------------------------------------------------

# F critical value at alpha=0.05 for df1=4, df2≈145 is ~2.43; 2.5 is the
# conservative integer-micro threshold used for the one-bit verdict.
_ANOVA_CRIT_MICRO = 2_500_000


@register(
    "stats_anova_f_daily",
    oracle=f"""
WITH daily AS ({DAILY_MILLI_SQL}),
g AS (
  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_g,
         CAST(SUM(x) AS BIGINT) AS t_g,
         CAST(SUM(x * x) AS BIGINT) AS ss_g
  FROM daily GROUP BY event_type
),
tot AS (
  SELECT CAST(SUM(n_g) AS BIGINT) AS n, CAST(SUM(t_g) AS BIGINT) AS t,
         CAST(COUNT(*) AS BIGINT) AS k
  FROM g
),
m AS (
  SELECT n_g, t_g, ss_g, t_g // n_g AS m_g, t // n AS m_all, n, k
  FROM g CROSS JOIN tot
),
parts AS (
  SELECT CAST(SUM(n_g * (m_g - m_all) * (m_g - m_all)) AS BIGINT) AS ssb,
         CAST(SUM(ss_g - 2 * m_g * t_g + n_g * m_g * m_g) AS BIGINT) AS ssw
  FROM m
),
f AS (
  SELECT k, n, ssb, ssw,
         CAST((CAST(ssb AS HUGEINT) * (1000000 * (n - k)))
              // (CAST(ssw AS HUGEINT) * (k - 1)) AS BIGINT) AS f_micro
  FROM parts CROSS JOIN tot
)
SELECT CAST(k AS INT) AS k_groups, n AS n_obs,
       ssb AS ssb_milli2, ssw AS ssw_milli2, f_micro,
       CAST(CASE WHEN f_micro >= {_ANOVA_CRIT_MICRO} THEN 1 ELSE 0 END AS INT)
         AS strong_effect
FROM f
""",
)
def stats_anova_f_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-way ANOVA across event types over the daily-mean series:
    F = (SSB/(k-1)) / (SSW/(N-k)) with every sufficient statistic an
    exact integer.

    Group means are integral divisions (milli-units); SSW uses the
    expansion Σx² - 2·m_g·T_g + n_g·m_g² so no per-row join back to the
    group mean is needed — three keyed aggregates total, each with
    map-side partials. The F ratio routes through DECIMAL(38)/HUGEINT
    because 10⁶·SSB·(N-k) can exceed 2⁶³ even when every input fits.

    Scale shape: the events collapse to a (k·~30)-row daily table in one
    scan; everything after is constant-size. At 100 TB the daily rollup
    is the only cost, and it re-aggregates from pre-binned partials."""
    daily = daily_milli(spark, sf_dir)
    g = daily.groupBy("event_type").agg(
        F.count("*").cast("bigint").alias("n_g"),
        F.sum("x").cast("bigint").alias("t_g"),
        F.sum(F.col("x") * F.col("x")).cast("bigint").alias("ss_g"),
    )
    tot = g.agg(
        F.sum("n_g").cast("bigint").alias("n"),
        F.sum("t_g").cast("bigint").alias("t"),
        F.count("*").cast("bigint").alias("k"),
    )
    m = g.crossJoin(F.broadcast(tot)).select(
        "n_g",
        "t_g",
        "ss_g",
        F.expr("t_g div n_g").alias("m_g"),
        F.expr("t div n").alias("m_all"),
    )
    parts = m.agg(
        F.sum(
            F.col("n_g") * (F.col("m_g") - F.col("m_all")) * (F.col("m_g") - F.col("m_all"))
        )
        .cast("bigint")
        .alias("ssb"),
        F.sum(
            F.col("ss_g") - 2 * F.col("m_g") * F.col("t_g") + F.col("n_g") * F.col("m_g") * F.col("m_g")
        )
        .cast("bigint")
        .alias("ssw"),
    )
    f = parts.crossJoin(F.broadcast(tot)).select(
        "k",
        "n",
        "ssb",
        "ssw",
        F.expr(
            "CAST((CAST(ssb AS DECIMAL(19,0)) * (1000000 * (n - k)))"
            " div (CAST(ssw AS DECIMAL(19,0)) * (k - 1)) AS BIGINT)"
        ).alias("f_micro"),
    )
    return f.select(
        F.col("k").cast("int").alias("k_groups"),
        F.col("n").alias("n_obs"),
        F.col("ssb").alias("ssb_milli2"),
        F.col("ssw").alias("ssw_milli2"),
        "f_micro",
        (F.col("f_micro") >= _ANOVA_CRIT_MICRO).cast("int").alias("strong_effect"),
    )


# ---------------------------------------------------------------------------
# ts_autocorr_lags
# ---------------------------------------------------------------------------


@register(
    "ts_autocorr_lags",
    oracle=f"""
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
         CAST(SUM(dv * dv) AS BIGINT) AS den,
         CAST(SUM(CASE WHEN dv1 IS NULL THEN 0 ELSE dv * dv1 END) AS BIGINT) AS n1,
         CAST(SUM(CASE WHEN dv1 IS NULL THEN 0 ELSE 1 END) AS BIGINT) AS c1,
         CAST(SUM(CASE WHEN dv2 IS NULL THEN 0 ELSE dv * dv2 END) AS BIGINT) AS n2,
         CAST(SUM(CASE WHEN dv2 IS NULL THEN 0 ELSE 1 END) AS BIGINT) AS c2,
         CAST(SUM(CASE WHEN dv3 IS NULL THEN 0 ELSE dv * dv3 END) AS BIGINT) AS n3,
         CAST(SUM(CASE WHEN dv3 IS NULL THEN 0 ELSE 1 END) AS BIGINT) AS c3
  FROM dev GROUP BY event_type
),
lags AS (
  SELECT event_type, 1 AS lag, n1 AS num, c1 AS n_pairs, den FROM num
  UNION ALL
  SELECT event_type, 2, n2, c2, den FROM num
  UNION ALL
  SELECT event_type, 3, n3, c3, den FROM num
)
SELECT event_type, CAST(lag AS INT) AS lag, n_pairs,
       CAST(CASE WHEN num >= 0
            THEN (1000000 * num) // GREATEST(den, 1)
            ELSE -((1000000 * (-num)) // GREATEST(den, 1)) END AS BIGINT)
         AS acf_micro
FROM lags
""",
)
def ts_autocorr_lags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample autocorrelation at lags 1..3 per event type over the daily
    mean series: r_L = Σ dev_t·dev_{t+L} / Σ dev² with deviations in
    integer milli-units, so numerator and denominator are exact BIGINTs
    and the micro-unit ratio is a sign-split integral division (both
    engines truncate toward zero; splitting on sign makes that
    indifference explicit rather than relied upon).

    All three lags come from ONE windowed pass (three leads over the same
    per-type day order) and one keyed aggregate — the window partitions
    by event_type, so no global sort exists at any scale. ~30 points per
    key regardless of corpus size: the downsample carries the statistic,
    exactly like ts_mann_kendall_trend."""
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
        F.sum(F.col("dv") * F.col("dv")).cast("bigint").alias("den"),
        *[
            c
            for i in (1, 2, 3)
            for c in (
                F.sum(
                    F.when(F.col(f"dv{i}").isNull(), 0).otherwise(
                        F.col("dv") * F.col(f"dv{i}")
                    )
                )
                .cast("bigint")
                .alias(f"n{i}"),
                F.sum(F.when(F.col(f"dv{i}").isNull(), 0).otherwise(1))
                .cast("bigint")
                .alias(f"c{i}"),
            )
        ],
    )
    lags = num.selectExpr(
        "event_type",
        "stack(3, 1, n1, c1, 2, n2, c2, 3, n3, c3) AS (lag, num, n_pairs)",
        "den",
    )
    return lags.select(
        "event_type",
        F.col("lag").cast("int").alias("lag"),
        "n_pairs",
        F.expr(
            "CAST(CASE WHEN num >= 0"
            " THEN (1000000 * num) div GREATEST(den, 1L)"
            " ELSE -((1000000 * (-num)) div GREATEST(den, 1L)) END AS BIGINT)"
        ).alias("acf_micro"),
    )


# ---------------------------------------------------------------------------
# stats_quantile_normalize
# ---------------------------------------------------------------------------


@register(
    "stats_quantile_normalize",
    oracle="""
WITH tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM documents),
ranked AS (
  SELECT doc_id, source, n_chars,
         CAST(ROW_NUMBER() OVER (PARTITION BY source
                                 ORDER BY n_chars, doc_id) AS BIGINT) AS r,
         CAST(COUNT(*) OVER (PARTITION BY source) AS BIGINT) AS n_s
  FROM documents
),
pos AS (
  SELECT doc_id, source, n_chars,
         ((r - 1) * (n - 1)) // GREATEST(n_s - 1, 1) AS p
  FROM ranked CROSS JOIN tot
),
hist AS (
  SELECT n_chars AS val, CAST(COUNT(*) AS BIGINT) AS cnt
  FROM documents GROUP BY n_chars
),
cum AS (
  SELECT val, cnt,
         CAST(SUM(cnt) OVER (ORDER BY val) - cnt AS BIGINT) AS cum_before
  FROM hist
),
posmap AS (
  SELECT CAST(u.i AS BIGINT) AS p, val
  FROM cum CROSS JOIN UNNEST(range(cum_before, cum_before + cnt)) AS u(i)
)
SELECT pos.doc_id, pos.source, pos.n_chars,
       CAST(posmap.val AS BIGINT) AS qnorm_chars
FROM pos JOIN posmap USING (p)
""",
)
def stats_quantile_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile-normalize each source's document-length distribution onto
    the GLOBAL length distribution: a doc at within-source rank r maps to
    the global sorted value at position ((r-1)·(N-1)) div (n_s-1) — the
    classic cross-array quantile normalization, made exact by integer
    rank arithmetic.

    The "global sorted vector" is never materialized by a global row
    sort: it is reconstructed as (position → value) from the bounded
    distinct-value histogram (one groupBy + a window over DISTINCT
    lengths, cardinality ≤ value range, not corpus size) exploded via
    sequence(). The doc→value lookup is then a plain equi-join on the
    integer position — one linear shuffle, no range join, no single
    global-order partition over the corpus (the only ordered window runs
    on the histogram). Within-source ranks partition by source."""
    docs = load(spark, sf_dir, "documents")
    n = docs.agg(F.count("*").cast("bigint").alias("n"))
    ws = Window.partitionBy("source").orderBy("n_chars", "doc_id")
    ranked = docs.select(
        "doc_id",
        "source",
        "n_chars",
        F.row_number().over(ws).cast("bigint").alias("r"),
        F.count("*").over(Window.partitionBy("source")).cast("bigint").alias("n_s"),
    )
    pos = ranked.crossJoin(F.broadcast(n)).select(
        "doc_id",
        "source",
        "n_chars",
        F.expr("((r - 1) * (n - 1)) div GREATEST(n_s - 1, 1L)").alias("p"),
    )
    hist = docs.groupBy(F.col("n_chars").alias("val")).agg(
        F.count("*").cast("bigint").alias("cnt")
    )
    wcum = Window.orderBy("val").rowsBetween(Window.unboundedPreceding, 0)
    cum = hist.select(
        "val",
        "cnt",
        (F.sum("cnt").over(wcum) - F.col("cnt")).cast("bigint").alias("cum_before"),
    )
    posmap = cum.select(
        F.explode(F.expr("sequence(cum_before, cum_before + cnt - 1)")).alias("p"),
        "val",
    )
    return pos.join(posmap, "p").select(
        "doc_id",
        "source",
        "n_chars",
        F.col("val").cast("bigint").alias("qnorm_chars"),
    )


# ---------------------------------------------------------------------------
# privacy_k_anonymity_audit
# ---------------------------------------------------------------------------

_K_ANON = 10  # minimum group size for k-anonymity
_L_DIV = 3  # minimum distinct sensitive values for l-diversity
_BAND_CENTS = 200_000  # sensitive attribute banded to $2000 buckets


@register(
    "privacy_k_anonymity_audit",
    oracle=f"""
WITH c AS (
  SELECT c_nationkey, c_mktsegment,
         {CENTS_SQL.format('c_acctbal')} // {_BAND_CENTS} AS band
  FROM customer
)
SELECT CAST(c_nationkey AS INT) AS c_nationkey, c_mktsegment,
       CAST(COUNT(*) AS BIGINT) AS grp_n,
       CAST(COUNT(DISTINCT band) AS BIGINT) AS l_distinct,
       CAST(CASE WHEN COUNT(*) >= {_K_ANON} THEN 1 ELSE 0 END AS INT) AS k_anon_ok,
       CAST(CASE WHEN COUNT(DISTINCT band) >= {_L_DIV} THEN 1 ELSE 0 END AS INT)
         AS l_div_ok,
       CAST(CASE WHEN COUNT(*) < {_K_ANON} THEN COUNT(*) ELSE 0 END AS BIGINT)
         AS at_risk_rows
FROM c GROUP BY c_nationkey, c_mktsegment
""",
)
def privacy_k_anonymity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-anonymity + l-diversity audit over the quasi-identifier pair
    (nation, market segment), with account balance banded to $2000
    buckets as the sensitive attribute: a group is safe to release when
    it hides ≥ k individuals AND spans ≥ l distinct sensitive bands
    (k-anonymous groups can still leak via a constant sensitive value —
    that is exactly what l-diversity catches).

    The banding goes through integer cents so negative balances truncate
    identically in both engines. One keyed aggregate (count + distinct
    count share the shuffle); QI-group cardinality is the product of two
    small domains, so the output is catalog-sized at any corpus scale —
    the audit re-aggregates from per-partition partials at 100 TB."""
    c = load(spark, sf_dir, "customer").select(
        "c_nationkey", "c_mktsegment", cents("c_acctbal").alias("c")
    )
    c = c.select(
        "c_nationkey", "c_mktsegment", F.expr(f"c div {_BAND_CENTS}").alias("band")
    )
    g = c.groupBy("c_nationkey", "c_mktsegment").agg(
        F.count("*").cast("bigint").alias("grp_n"),
        F.countDistinct("band").cast("bigint").alias("l_distinct"),
    )
    return g.select(
        F.col("c_nationkey").cast("int").alias("c_nationkey"),
        "c_mktsegment",
        "grp_n",
        "l_distinct",
        (F.col("grp_n") >= _K_ANON).cast("int").alias("k_anon_ok"),
        (F.col("l_distinct") >= _L_DIV).cast("int").alias("l_div_ok"),
        F.when(F.col("grp_n") < _K_ANON, F.col("grp_n"))
        .otherwise(F.lit(0))
        .cast("bigint")
        .alias("at_risk_rows"),
    )
