"""Round-6 batch C: rank/robust statistics and agreement/mixture tools.

- HODGES-LEHMANN pseudo-median: the low median of all Walsh averages
  (x_i + x_j)/2, i <= j — the location estimate dual to the Wilcoxon
  test (30% efficiency edge over the median at the normal, still 50%
  breakdown-robust). The O(n²) pair set is collapsed to the VALUE-DOMAIN
  square: pairs of histogram bins with product weights, so a billion
  rows with a 50-value domain cost 1275 pair bins.
- WILCOXON SIGNED-RANK: the paired two-sample test (view vs click daily
  revenue, paired by calendar day) — integer 2R mid-ranks from the
  |diff| histogram, the same doubled-rank trick as stats_kruskal_wallis;
  W+ + W- = n(n+1) is a hard invariant.
- KRIPPENDORFF'S ALPHA (nominal): inter-rater agreement where units have
  VARIABLE numbers of ratings (kappa needs exactly two raters) — each
  order's line items "rate" the order with a return flag. Per-unit
  disagreement d_u/(m_u - 1) is kept EXACT by scaling with
  LCM(1..16) = 720720 (fixture max 17 lines/order); only the final
  1 - Do/De combination runs in double, identical op order both engines.
- TEMPERATURE-SCALED MIXTURE: the τ = 0.5 source-mixture reweighting
  every multilingual/multi-domain pretraining run applies (upweight
  small sources, cap big ones), integerized by the shared
  largest-remainder rule so allocations sum exactly to the budget.
- TUKEY IQR FENCES: the boxplot outlier rule (1.5·IQR beyond the
  quartiles) with quartiles from exact histogram rank arithmetic and
  fences kept integer by working in DOUBLED units.

Reference reach: the delegated SQL surface (``main.cc:181-182``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from c2_duckdb_runner_spark.operators.inference_ext import CENTS_SQL, cents, daily_milli
from c2_duckdb_runner_spark.registry import fdoc, register
from c2_duckdb_runner_spark.session import scratch_persist
from c2_duckdb_runner_spark.tables import load

# ---------------------------------------------------------------------------
# stats_hodges_lehmann
# ---------------------------------------------------------------------------

_HL_ORACLE = """
WITH v AS (
  SELECT l_returnflag AS grp, CAST(round(l_quantity) AS BIGINT) AS x
  FROM lineitem
),
h AS (SELECT grp, x, CAST(COUNT(*) AS BIGINT) AS c FROM v GROUP BY 1, 2),
pairs AS (
  SELECT a.grp, a.x + b.x AS s,
         CAST(SUM(CASE WHEN a.x < b.x THEN a.c * b.c
                  ELSE a.c * (a.c + 1) // 2 END) AS BIGINT) AS w
  FROM h a JOIN h b ON a.grp = b.grp AND a.x <= b.x
  GROUP BY 1, 2
),
t AS (SELECT grp, CAST(SUM(w) AS BIGINT) AS wtot FROM pairs GROUP BY 1),
c AS (
  SELECT pairs.grp, s,
         CAST(SUM(w) OVER (PARTITION BY pairs.grp ORDER BY s) AS BIGINT)
           AS cum, wtot
  FROM pairs JOIN t ON t.grp = pairs.grp
)
SELECT grp AS l_returnflag, CAST(MIN(wtot) AS BIGINT) AS n_walsh,
       CAST(MIN(s) AS BIGINT) AS hl_double,
       CAST(MIN(s) * 500 AS BIGINT) AS hl_milli
FROM c WHERE cum >= (wtot + 1) // 2 GROUP BY grp
"""


@register("stats_hodges_lehmann", oracle=_HL_ORACLE)
def stats_hodges_lehmann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hodges-Lehmann pseudo-median of l_quantity per return flag: the
    low median of all Walsh averages (x_i+x_j)/2 over pairs i <= j,
    reported in exact DOUBLED units (hl_double = the median pair SUM)
    and milli.

    Scale shape: the quadratic pair set lives in VALUE-DOMAIN space —
    the quantity histogram (~50 bins/group) self-joins to ~1275 weighted
    pair bins; pair multiplicities are c_i·c_j (i<j) and C(c_i+1, 2) on
    the diagonal (i=j Walsh pairs include self-pairs), so the weighted
    median over bins equals the row-space Walsh median exactly. Rows are
    touched once, by the histogram aggregate."""
    v = load(spark, sf_dir, "lineitem").select(
        F.col("l_returnflag").alias("grp"),
        F.expr("CAST(round(l_quantity) AS BIGINT)").alias("x"),
    )
    h = v.groupBy("grp", "x").agg(F.count("*").cast("bigint").alias("c"))
    a, b = h.alias("a"), h.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.grp") == F.col("b.grp"))
            & (F.col("a.x") <= F.col("b.x")),
        )
        .groupBy(F.col("a.grp").alias("grp"), (F.col("a.x") + F.col("b.x")).alias("s"))
        .agg(
            F.sum(
                F.expr(
                    "CASE WHEN a.x < b.x THEN a.c * b.c"
                    " ELSE a.c * (a.c + 1) div 2 END"
                )
            )
            .cast("bigint")
            .alias("w")
        )
    )
    t = pairs.groupBy("grp").agg(F.sum("w").cast("bigint").alias("wtot"))
    wcum = (
        Window.partitionBy("grp")
        .orderBy("s")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    c = pairs.join(F.broadcast(t), "grp").select(
        "grp", "s", F.sum("w").over(wcum).cast("bigint").alias("cum"), "wtot"
    )
    return (
        c.filter(F.expr("cum >= (wtot + 1) div 2"))
        .groupBy("grp")
        .agg(
            F.min("wtot").cast("bigint").alias("n_walsh"),
            F.min("s").cast("bigint").alias("hl_double"),
            (F.min("s") * 500).cast("bigint").alias("hl_milli"),
        )
        .select(
            F.col("grp").alias("l_returnflag"),
            "n_walsh",
            "hl_double",
            "hl_milli",
        )
    )


# ---------------------------------------------------------------------------
# stats_wilcoxon_signed_rank
# ---------------------------------------------------------------------------

_WSR_ORACLE = f"""
WITH daily AS (
  SELECT event_type, date_trunc('day', ts) AS d,
         (10 * CAST(SUM({CENTS_SQL.format('value')}) AS BIGINT))
           // CAST(COUNT(*) AS BIGINT) AS x
  FROM events WHERE ts IS NOT NULL AND event_type IN ('view', 'click')
  GROUP BY 1, 2
),
paired AS (
  SELECT a.d, a.x - b.x AS diff
  FROM daily a JOIN daily b ON a.d = b.d
  WHERE a.event_type = 'view' AND b.event_type = 'click'
),
nz AS (SELECT d, diff, abs(diff) AS ad FROM paired WHERE diff <> 0),
h AS (
  SELECT ad, CAST(COUNT(*) AS BIGINT) AS cnt,
         CAST(SUM(CASE WHEN diff > 0 THEN 1 ELSE 0 END) AS BIGINT) AS pos
  FROM nz GROUP BY ad
),
c AS (
  SELECT ad, cnt, pos,
         CAST(SUM(cnt) OVER (ORDER BY ad) - cnt AS BIGINT) AS cb
  FROM h
)
SELECT CAST(SUM(cnt) AS BIGINT) AS n_pairs,
       CAST(SUM(pos * (2 * cb + cnt + 1)) AS BIGINT) AS w2_plus,
       CAST(SUM((cnt - pos) * (2 * cb + cnt + 1)) AS BIGINT) AS w2_minus
FROM c
"""


@register("stats_wilcoxon_signed_rank", oracle=_WSR_ORACLE)
def stats_wilcoxon_signed_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wilcoxon signed-rank test for paired daily revenue (view vs click,
    paired by calendar day): zero diffs dropped, |diff| ranked with
    MID-RANKS kept integer by doubling (2·midrank = 2·count_below +
    count_tied + 1, the stats_kruskal_wallis trick), W⁺/W⁻ reported in
    doubled units — W2⁺ + W2⁻ = n(n+1) is a hard invariant the test
    suite pins.

    Scale shape: daily rollup is the only data-sized stage; the pairing
    join, |diff| histogram and cumulative window all run on the
    calendar-bounded daily series. The cumulative window ranks the
    HISTOGRAM (an aggregate), never raw rows."""
    # the filter is on a grouping key, so Catalyst pushes it below the
    # aggregate: only view/click rows are rolled up
    daily = daily_milli(spark, sf_dir).filter(
        F.col("event_type").isin("view", "click")
    )
    a = daily.filter("event_type = 'view'").select(
        "d", F.col("x").alias("xa")
    )
    b = daily.filter("event_type = 'click'").select(
        "d", F.col("x").alias("xb")
    )
    nz = (
        a.join(b, "d")
        .select(F.expr("xa - xb").alias("diff"))
        .filter("diff <> 0")
        .select("diff", F.expr("abs(diff)").alias("ad"))
    )
    h = nz.groupBy("ad").agg(
        F.count("*").cast("bigint").alias("cnt"),
        F.sum(F.expr("CASE WHEN diff > 0 THEN 1 ELSE 0 END"))
        .cast("bigint")
        .alias("pos"),
    )
    wcum = Window.orderBy("ad").rowsBetween(Window.unboundedPreceding, 0)
    c = h.select(
        "ad",
        "cnt",
        "pos",
        (F.sum("cnt").over(wcum) - F.col("cnt")).cast("bigint").alias("cb"),
    )
    return c.agg(
        F.sum("cnt").cast("bigint").alias("n_pairs"),
        F.sum(F.expr("pos * (2 * cb + cnt + 1)"))
        .cast("bigint")
        .alias("w2_plus"),
        F.sum(F.expr("(cnt - pos) * (2 * cb + cnt + 1)"))
        .cast("bigint")
        .alias("w2_minus"),
    )


# ---------------------------------------------------------------------------
# eval_krippendorff_alpha
# ---------------------------------------------------------------------------

_KRIPP_LCM = 720720  # LCM(1..16); fixture max 17 lines per order


_KRIPP_ORACLE = f"""
WITH r AS (
  SELECT l_orderkey AS unit, l_returnflag AS label FROM lineitem
),
u AS (
  SELECT unit, CAST(SUM(nv) AS BIGINT) AS m,
         CAST(SUM(nv * nv) AS BIGINT) AS snv2
  FROM (SELECT unit, label, CAST(COUNT(*) AS BIGINT) AS nv
        FROM r GROUP BY unit, label)
  GROUP BY unit
),
o AS (
  SELECT CAST(SUM({_KRIPP_LCM} * (m * m - snv2) // (m - 1)) AS BIGINT)
           AS o_sc,
         CAST(SUM(m) AS BIGINT) AS n
  FROM u WHERE m >= 2
),
tot AS (
  SELECT CAST(SUM(nv * nv) AS BIGINT) AS snv2_all FROM (
    SELECT label, CAST(COUNT(*) AS BIGINT) AS nv
    FROM r JOIN u USING (unit) WHERE u.m >= 2 GROUP BY label
  )
)
SELECT n, o_sc, snv2_all,
       ROUND(1.0 - (CAST(n - 1 AS DOUBLE)
                    * (CAST(o_sc AS DOUBLE) / {_KRIPP_LCM}.0))
                   / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)
                      - CAST(snv2_all AS DOUBLE)), 6) AS alpha
FROM o, tot
"""


@register("eval_krippendorff_alpha", oracle=_KRIPP_ORACLE)
@fdoc(f"""Krippendorff's alpha (nominal) treating each order's line items as
    repeated ratings of the order's return flag — the inter-annotator
    agreement coefficient that, unlike Cohen's kappa, accepts a VARIABLE
    number of ratings per unit (here 2..17) and is the standard metric
    for multi-annotator labeling campaigns.

    Exactness: the per-unit observed-disagreement term d_u/(m_u − 1) is
    scaled by LCM(1..16) = {_KRIPP_LCM} so every contribution is an
    exact integer (sum order-free); only the final 1 − D_o/D_e
    combination runs in double, with an identical operation order on
    both engines — the same pattern the round-6 assortativity overflow
    fix established. Single-rating units are excluded from BOTH sides,
    per the estimator's definition.

    Scale shape: one unit-keyed aggregate (map-combining), one label
    aggregate, 1-row outputs crossed via broadcast.""")
def eval_krippendorff_alpha(spark: SparkSession, sf_dir: str) -> DataFrame:
    r = load(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("unit"),
        F.col("l_returnflag").alias("label"),
    )
    per = r.groupBy("unit", "label").agg(
        F.count("*").cast("bigint").alias("nv")
    )
    u = per.groupBy("unit").agg(
        F.sum("nv").cast("bigint").alias("m"),
        F.sum(F.expr("nv * nv")).cast("bigint").alias("snv2"),
    )
    o = u.filter("m >= 2").agg(
        F.sum(F.expr(f"{_KRIPP_LCM} * (m * m - snv2) div (m - 1)"))
        .cast("bigint")
        .alias("o_sc"),
        F.sum("m").cast("bigint").alias("n"),
    )
    tot = (
        r.join(u.filter("m >= 2").select("unit"), "unit")
        .groupBy("label")
        .agg(F.count("*").cast("bigint").alias("nv"))
        .agg(F.sum(F.expr("nv * nv")).cast("bigint").alias("snv2_all"))
    )
    return o.crossJoin(F.broadcast(tot)).select(
        "n",
        "o_sc",
        "snv2_all",
        F.round(
            F.expr(
                f"1.0 - (CAST(n - 1 AS DOUBLE)"
                f" * (CAST(o_sc AS DOUBLE) / {_KRIPP_LCM}.0))"
                " / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)"
                " - CAST(snv2_all AS DOUBLE))"
            ),
            6,
        ).alias("alpha"),
    )


# ---------------------------------------------------------------------------
# sample_temperature_mixture
# ---------------------------------------------------------------------------

_TEMP_BUDGET = 1000

_TEMP_ORACLE = f"""
WITH s AS (
  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs
  FROM documents GROUP BY source
),
w AS (
  SELECT source, n_docs,
         CAST(round(sqrt(CAST(n_docs AS DOUBLE)) * 1000) AS BIGINT) AS wt
  FROM s
),
tot AS (SELECT CAST(SUM(wt) AS BIGINT) AS wsum FROM w),
q AS (
  SELECT source, n_docs, wt,
         CAST(({_TEMP_BUDGET} * wt) // wsum AS BIGINT) AS base,
         CAST(({_TEMP_BUDGET} * wt) % wsum AS BIGINT) AS rem
  FROM w, tot
),
r AS (
  SELECT *, ROW_NUMBER() OVER (ORDER BY rem DESC, source ASC) AS rr,
         CAST({_TEMP_BUDGET} - SUM(base) OVER () AS BIGINT) AS leftover
  FROM q
)
SELECT source, n_docs, wt AS weight,
       CAST(base + CASE WHEN rr <= leftover THEN 1 ELSE 0 END AS BIGINT)
         AS alloc
FROM r
"""


@register("sample_temperature_mixture", oracle=_TEMP_ORACLE)
@fdoc(f"""Temperature-scaled mixture allocation (τ = 0.5): source weights
    ∝ n^τ = √n — the standard multilingual/multi-domain reweighting that
    upweights small sources without letting any source vanish —
    integerized over a {_TEMP_BUDGET}-slot budget by the shared
    largest-remainder rule, so allocations sum EXACTLY to the budget.
    The one float op (sqrt of an exact count) is IEEE-determined and
    immediately rounded, the sample_neyman_allocation contract.

    Scale shape: one source-keyed count; apportionment runs on the
    source domain (the rank window is over the AGGREGATE).""")
def sample_temperature_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = load(spark, sf_dir, "documents").groupBy("source").agg(
        F.count("*").cast("bigint").alias("n_docs")
    )
    # persisted: the weight frame feeds both the budget total and the
    # apportionment — without it the plan re-scans documents
    s = scratch_persist(s)
    w = s.select(
        "source",
        "n_docs",
        F.expr(
            "CAST(round(sqrt(CAST(n_docs AS DOUBLE)) * 1000) AS BIGINT)"
        ).alias("wt"),
    )
    tot = w.agg(F.sum("wt").cast("bigint").alias("wsum"))
    q = w.crossJoin(F.broadcast(tot)).select(
        "source",
        "n_docs",
        "wt",
        F.expr(f"CAST(({_TEMP_BUDGET} * wt) div wsum AS BIGINT)").alias("base"),
        F.expr(f"CAST(({_TEMP_BUDGET} * wt) % wsum AS BIGINT)").alias("rem"),
    )
    r = q.withColumn(
        "rr",
        F.row_number().over(Window.orderBy(F.desc("rem"), F.asc("source"))),
    ).withColumn(
        "leftover",
        (F.lit(_TEMP_BUDGET) - F.sum("base").over(Window.partitionBy()))
        .cast("bigint"),
    )
    return r.select(
        "source",
        "n_docs",
        F.col("wt").alias("weight"),
        F.expr(
            "CAST(base + CASE WHEN rr <= leftover THEN 1 ELSE 0 END AS BIGINT)"
        ).alias("alloc"),
    )


# ---------------------------------------------------------------------------
# stats_iqr_fences
# ---------------------------------------------------------------------------

_IQR_ORACLE = f"""
WITH v AS (
  SELECT event_type, {CENTS_SQL.format('value')} AS x FROM events
),
h AS (SELECT event_type, x, CAST(COUNT(*) AS BIGINT) AS cnt
      FROM v GROUP BY 1, 2),
n AS (SELECT event_type, CAST(SUM(cnt) AS BIGINT) AS n FROM h GROUP BY 1),
c AS (
  SELECT h.event_type, x,
         CAST(SUM(cnt) OVER (PARTITION BY h.event_type ORDER BY x)
              AS BIGINT) AS cum, n.n
  FROM h JOIN n ON n.event_type = h.event_type
),
q1 AS (SELECT event_type, MIN(x) AS q1 FROM c
       WHERE cum >= (n + 3) // 4 GROUP BY event_type),
q3 AS (SELECT event_type, MIN(x) AS q3 FROM c
       WHERE cum >= (3 * n + 3) // 4 GROUP BY event_type)
SELECT v.event_type, CAST(MIN(n.n) AS BIGINT) AS n,
       CAST(MIN(q1.q1) AS BIGINT) AS q1_cents,
       CAST(MIN(q3.q3) AS BIGINT) AS q3_cents,
       CAST(SUM(CASE WHEN 2 * v.x < 2 * q1.q1 - 3 * (q3.q3 - q1.q1)
                       OR 2 * v.x > 2 * q3.q3 + 3 * (q3.q3 - q1.q1)
                THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
FROM v
JOIN q1 ON q1.event_type = v.event_type
JOIN q3 ON q3.event_type = v.event_type
JOIN n ON n.event_type = v.event_type
GROUP BY v.event_type
"""


@register("stats_iqr_fences", oracle=_IQR_ORACLE)
def stats_iqr_fences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tukey boxplot outlier fences per event type: lower-quartile rank
    ceil(n/4), upper ceil(3n/4) picked EXACTLY from the value-histogram
    cumulative counts; the 1.5·IQR fences stay integer by testing in
    DOUBLED units (2x < 2·q1 − 3·IQR). Complements stats_mad_robust_z —
    IQR fences are the boxplot convention, MAD the robust-z convention.

    Scale shape: same distributed-exact-quantile mechanism — windows
    run over the per-type HISTOGRAM; the outlier count is one broadcast
    join + aggregate over the raw stream."""
    v = load(spark, sf_dir, "events").select(
        "event_type", cents("value").alias("x")
    )
    h = v.groupBy("event_type", "x").agg(
        F.count("*").cast("bigint").alias("cnt")
    )
    n = h.groupBy("event_type").agg(F.sum("cnt").cast("bigint").alias("n"))
    wcum = (
        Window.partitionBy("event_type")
        .orderBy("x")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    c = h.join(F.broadcast(n), "event_type").select(
        "event_type",
        "x",
        F.sum("cnt").over(wcum).cast("bigint").alias("cum"),
        "n",
    )
    q1 = (
        c.filter(F.expr("cum >= (n + 3) div 4"))
        .groupBy("event_type")
        .agg(F.min("x").alias("q1"))
    )
    q3 = (
        c.filter(F.expr("cum >= (3 * n + 3) div 4"))
        .groupBy("event_type")
        .agg(F.min("x").alias("q3"))
    )
    return (
        v.join(F.broadcast(q1), "event_type")
        .join(F.broadcast(q3), "event_type")
        .join(F.broadcast(n), "event_type")
        .groupBy("event_type")
        .agg(
            F.min("n").cast("bigint").alias("n"),
            F.min("q1").cast("bigint").alias("q1_cents"),
            F.min("q3").cast("bigint").alias("q3_cents"),
            F.sum(
                F.expr(
                    "CASE WHEN 2 * x < 2 * q1 - 3 * (q3 - q1)"
                    " OR 2 * x > 2 * q3 + 3 * (q3 - q1)"
                    " THEN 1 ELSE 0 END"
                )
            )
            .cast("bigint")
            .alias("n_outliers"),
        )
    )
