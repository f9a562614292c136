"""Round-7 batch A: rank/median nonparametrics, agreement, inequality,
classifier summary stats, and dedup-coverage estimation.

- MOOD'S MEDIAN TEST: k-sample location test on the pooled-median 2xk
  contingency table — the robust ANOVA alternative when distributions
  are heavy-tailed; exact integer chi-square in micro units.
- MATTHEWS CORRELATION + YOUDEN J + BALANCED ACCURACY: the three
  prevalence-robust single-number summaries of a binary confusion
  matrix (MCC is the standard headline metric for imbalanced filters).
- CLIFF'S DELTA: ordinal effect size P(X>Y) - P(X<Y) between weekday
  and weekend traffic — the nonparametric companion to Welch's t,
  exact from the merged value histogram (never pair enumeration).
- KENDALL'S W: concordance of k event-type "raters" ranking the shared
  days by volume — do all signals agree which days were big? Tie-
  corrected, exact integers via doubled mid-ranks.
- CAPTURE-RECAPTURE (Lincoln-Petersen / Chapman): estimate the distinct-
  fingerprint universe from two independent deterministic hash samples
  and audit the estimator against the exactly-known truth — the
  standard trick for sizing a dedup job before running it.
- SIMPSON / GINI-SIMPSON DIVERSITY per source: the collision-probability
  diversity index of the token distribution (template spam shows up as
  low diversity long before vocabulary shrinks).
- THEIL T between nations: the additively-decomposable inequality index
  next to Gini/Lorenz/HHI; ordered ln fold over the bounded group set.
- D'HONDT DIVISOR ALLOCATION: the divisor-method seat apportionment
  next to alloc_largest_remainder's quota method — quotient ranking is
  EXACT via the (v div d, (1e6*(v mod d)) div d) integer key pair
  (fraction denominators <= seat count, so the scaled remainder
  preserves strict order at any magnitude without 128-bit sort keys).

Cross-engine exactness: every division is on non-negative operands
(DuckDB ``//`` floors, Spark ``div`` truncates — equal only there);
overflow-prone final combinations route through Spark DECIMAL(38,0) ==
DuckDB HUGEINT; double folds are left-folds over explicitly ordered
bounded arrays with identical operation order, ROUND(...,6) both sides.

Reference reach: the delegated SQL surface (``main.cc:181-182``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from c2_duckdb_runner_spark.operators.inference_ext import CENTS_SQL, cents
from c2_duckdb_runner_spark.registry import fdoc, register
from c2_duckdb_runner_spark.tables import load

_D38 = "DECIMAL(38,0)"

# ---------------------------------------------------------------------------
# stats_mood_median_test
# ---------------------------------------------------------------------------

# chi-square 95% critical values in micro units, df 1..8 (both engines
# inline the same CASE, so the decision is deterministic)
_CHI2_95_MICRO = (
    "CASE {df} WHEN 1 THEN 3841459 WHEN 2 THEN 5991465 WHEN 3 THEN 7814728"
    " WHEN 4 THEN 9487729 WHEN 5 THEN 11070498 WHEN 6 THEN 12591587"
    " WHEN 7 THEN 14067140 ELSE 15507313 END"
)

_MOOD_ORACLE = f"""
WITH v AS (
  SELECT event_type, {CENTS_SQL.format('value')} AS x FROM events
),
h AS (SELECT x, CAST(COUNT(*) AS BIGINT) AS cnt FROM v GROUP BY 1),
n AS (SELECT CAST(SUM(cnt) AS BIGINT) AS n FROM h),
c AS (SELECT x, CAST(SUM(cnt) OVER (ORDER BY x) AS BIGINT) AS cum, n.n
      FROM h, n),
med AS (SELECT MIN(x) AS m, MIN(n) AS n FROM c WHERE cum >= (n + 1) // 2),
cells AS (
  SELECT v.event_type,
         CAST(SUM(CASE WHEN v.x > med.m THEN 1 ELSE 0 END) AS BIGINT) AS a,
         CAST(SUM(CASE WHEN v.x <= med.m THEN 1 ELSE 0 END) AS BIGINT) AS b
  FROM v, med GROUP BY 1
),
tot AS (SELECT CAST(SUM(a) AS BIGINT) AS ta, CAST(SUM(b) AS BIGINT) AS tb,
               CAST(COUNT(*) AS BIGINT) AS k FROM cells),
chi AS (
  SELECT CAST(SUM(
    (CAST(1000000 AS HUGEINT)
     * (CAST(a AS HUGEINT) * (ta + tb) - CAST(a + b AS HUGEINT) * ta)
     * (CAST(a AS HUGEINT) * (ta + tb) - CAST(a + b AS HUGEINT) * ta))
    // (CAST(ta + tb AS HUGEINT) * CAST(a + b AS HUGEINT) * ta)
    +
    (CAST(1000000 AS HUGEINT)
     * (CAST(b AS HUGEINT) * (ta + tb) - CAST(a + b AS HUGEINT) * tb)
     * (CAST(b AS HUGEINT) * (ta + tb) - CAST(a + b AS HUGEINT) * tb))
    // (CAST(ta + tb AS HUGEINT) * CAST(a + b AS HUGEINT) * tb)
  ) AS BIGINT) AS chi2_micro, MIN(k) AS k
  FROM cells, tot
)
SELECT med.n AS n_total, med.m AS pooled_median_cents,
       chi.k AS k_groups, chi.chi2_micro,
       CAST(chi.k - 1 AS BIGINT) AS df,
       CAST(CASE WHEN chi.chi2_micro > {_CHI2_95_MICRO.format(df='chi.k - 1')}
            THEN 1 ELSE 0 END AS INT) AS reject_95
FROM med, chi
"""


@register("stats_mood_median_test", oracle=_MOOD_ORACLE)
def stats_mood_median_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mood's median test: do the k event types share a common location?
    Counts above/at-or-below the POOLED low median form a 2xk table; the
    chi-square statistic is exact integer micro via per-cell
    10^6*(O*N - r*c)^2 div (N*r*c) — each cell's contribution is an
    exact non-negative integer (so the cross-engine SUM is order-free),
    and the per-cell products run in 128-bit (Spark DECIMAL(38,0) ==
    DuckDB HUGEINT) because O*N grows with the corpus squared. The
    pooled median comes from the value histogram (the stats_mad_robust_z
    rank recipe) — no row sort at any scale. Decision bit against the
    inlined chi-square(df) 95% table, df data-derived.

    Scale shape: one histogram aggregate (value-domain-sized), one
    global-window cumsum OVER THE AGGREGATE, one broadcast of the 1-row
    median, one conditional-sum scan."""
    v = load(spark, sf_dir, "events").select(
        "event_type",
        cents("value").alias("x"),
    )
    h = v.groupBy("x").agg(F.count("*").cast("bigint").alias("cnt"))
    c = h.select(
        "x",
        F.sum("cnt").over(
            Window.orderBy("x").rowsBetween(Window.unboundedPreceding, 0)
        ).alias("cum"),
        F.sum("cnt").over(
            Window.rowsBetween(
                Window.unboundedPreceding, Window.unboundedFollowing
            )
        ).alias("n"),
    )
    med = c.filter(F.expr("cum >= (n + 1) div 2")).agg(
        F.min("x").alias("m"), F.min("n").alias("n")
    )
    cells = v.crossJoin(F.broadcast(med)).groupBy("event_type").agg(
        F.sum(F.expr("CASE WHEN x > m THEN 1 ELSE 0 END"))
        .cast("bigint")
        .alias("a"),
        F.sum(F.expr("CASE WHEN x <= m THEN 1 ELSE 0 END"))
        .cast("bigint")
        .alias("b"),
        F.min("n").alias("n"),
        F.min("m").alias("m"),
    )
    tot = cells.agg(
        F.sum("a").cast("bigint").alias("ta"),
        F.sum("b").cast("bigint").alias("tb"),
        F.count("*").cast("bigint").alias("k"),
    )
    contrib = (
        f"(CAST(1000000 AS {_D38})"
        f" * (CAST({{o}} AS {_D38}) * (ta + tb)"
        f"    - CAST(a + b AS {_D38}) * {{t}})"
        f" * (CAST({{o}} AS {_D38}) * (ta + tb)"
        f"    - CAST(a + b AS {_D38}) * {{t}}))"
        f" div (CAST(ta + tb AS {_D38}) * CAST(a + b AS {_D38}) * {{t}})"
    )
    chi = (
        cells.crossJoin(F.broadcast(tot))
        .agg(
            F.sum(
                F.expr(
                    contrib.format(o="a", t="ta")
                    + " + "
                    + contrib.format(o="b", t="tb")
                )
            ).alias("chi2_d"),
            F.min("k").alias("k"),
            F.min("n").alias("n_total"),
            F.min("m").alias("m"),
        )
        .select(
            F.col("n_total"),
            F.col("m").alias("pooled_median_cents"),
            F.col("k").alias("k_groups"),
            F.expr("CAST(chi2_d AS BIGINT)").alias("chi2_micro"),
            F.expr("CAST(k - 1 AS BIGINT)").alias("df"),
            F.expr(
                "CAST(CASE WHEN CAST(chi2_d AS BIGINT) > "
                + _CHI2_95_MICRO.format(df="k - 1")
                + " THEN 1 ELSE 0 END AS INT)"
            ).alias("reject_95"),
        )
    )
    return chi


# ---------------------------------------------------------------------------
# eval_matthews_corrcoef
# ---------------------------------------------------------------------------

_MCC_ORACLE = """
WITH d AS (
  SELECT CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y,
         CASE WHEN n_chars >= 400 THEN 1 ELSE 0 END AS p
  FROM documents
),
cm AS (
  SELECT CAST(SUM(y * p) AS BIGINT) AS tp,
         CAST(SUM((1 - y) * p) AS BIGINT) AS fp,
         CAST(SUM(y * (1 - p)) AS BIGINT) AS fn,
         CAST(SUM((1 - y) * (1 - p)) AS BIGINT) AS tn
  FROM d
)
SELECT tp, fp, fn, tn,
       ROUND((CAST(tp AS DOUBLE) * CAST(tn AS DOUBLE)
              - CAST(fp AS DOUBLE) * CAST(fn AS DOUBLE))
             / sqrt(CAST(tp + fp AS DOUBLE) * CAST(tp + fn AS DOUBLE)
                    * CAST(tn + fp AS DOUBLE) * CAST(tn + fn AS DOUBLE)), 6)
         AS mcc,
       CAST((1000000 * tp) // (tp + fn)
            + (1000000 * tn) // (tn + fp) - 1000000 AS BIGINT)
         AS youden_j_micro,
       CAST(((1000000 * tp) // (tp + fn)
             + (1000000 * tn) // (tn + fp)) // 2 AS BIGINT)
         AS balanced_acc_micro
FROM cm
"""


@register("eval_matthews_corrcoef", oracle=_MCC_ORACLE)
def eval_matthews_corrcoef(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MCC + Youden's J + balanced accuracy for the length>=400 English
    detector (same toy classifier as eval_auprc_threshold_sweep, so the
    two artifacts describe one model): the three prevalence-robust
    confusion summaries. TP/FP/FN/TN are exact conditional sums from ONE
    scan; MCC's four-way product runs in DOUBLE with identical operation
    order both engines (int64 wraps at ~55k positives for the product of
    four marginals), ROUND 6; Youden and balanced accuracy stay exact
    integer micro (divisions before subtraction, all operands
    non-negative).

    Scale shape: map-only projection + one global aggregate; output is
    one row."""
    d = load(spark, sf_dir, "documents").select(
        F.expr("CASE WHEN lang = 'en' THEN 1 ELSE 0 END").alias("y"),
        F.expr("CASE WHEN n_chars >= 400 THEN 1 ELSE 0 END").alias("p"),
    )
    cm = d.agg(
        F.sum(F.expr("y * p")).cast("bigint").alias("tp"),
        F.sum(F.expr("(1 - y) * p")).cast("bigint").alias("fp"),
        F.sum(F.expr("y * (1 - p)")).cast("bigint").alias("fn"),
        F.sum(F.expr("(1 - y) * (1 - p)")).cast("bigint").alias("tn"),
    )
    return cm.select(
        "tp", "fp", "fn", "tn",
        F.round(
            F.expr(
                "(CAST(tp AS DOUBLE) * CAST(tn AS DOUBLE)"
                " - CAST(fp AS DOUBLE) * CAST(fn AS DOUBLE))"
                " / sqrt(CAST(tp + fp AS DOUBLE) * CAST(tp + fn AS DOUBLE)"
                "        * CAST(tn + fp AS DOUBLE) * CAST(tn + fn AS DOUBLE))"
            ),
            6,
        ).alias("mcc"),
        F.expr(
            "CAST((1000000 * tp) div (tp + fn)"
            " + (1000000 * tn) div (tn + fp) - 1000000 AS BIGINT)"
        ).alias("youden_j_micro"),
        F.expr(
            "CAST(((1000000 * tp) div (tp + fn)"
            " + (1000000 * tn) div (tn + fp)) div 2 AS BIGINT)"
        ).alias("balanced_acc_micro"),
    )


# ---------------------------------------------------------------------------
# stats_cliffs_delta
# ---------------------------------------------------------------------------

_CLIFFS_ORACLE = """
WITH daily AS (
  SELECT date_trunc('day', ts) AS d, CAST(COUNT(*) AS BIGINT) AS x
  FROM events GROUP BY 1
),
g AS (
  SELECT x, CASE WHEN dayofweek(d) IN (0, 6) THEN 1 ELSE 0 END AS wk
  FROM daily
),
h AS (
  SELECT x AS v,
         CAST(SUM(CASE WHEN wk = 0 THEN 1 ELSE 0 END) AS BIGINT) AS ca,
         CAST(SUM(CASE WHEN wk = 1 THEN 1 ELSE 0 END) AS BIGINT) AS cb
  FROM g GROUP BY 1
),
c AS (
  SELECT v, ca, cb,
         CAST(SUM(cb) OVER (ORDER BY v) - cb AS BIGINT) AS cb_lt,
         CAST(SUM(cb) OVER () AS BIGINT) AS nb,
         CAST(SUM(ca) OVER () AS BIGINT) AS na
  FROM h
)
SELECT MIN(na) AS n_weekday, MIN(nb) AS n_weekend,
       CAST(SUM(ca * cb_lt) AS BIGINT) AS n_gt,
       CAST(SUM(ca * (nb - cb_lt - cb)) AS BIGINT) AS n_lt,
       CAST((1000000 * (SUM(ca * cb_lt) - SUM(ca * (nb - cb_lt - cb))
                        + MIN(na) * MIN(nb)))
            // (MIN(na) * MIN(nb)) AS BIGINT) AS delta_plus1_ppm
FROM c
"""


@register("stats_cliffs_delta", oracle=_CLIFFS_ORACLE)
def stats_cliffs_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cliff's delta between weekday and weekend daily event volume:
    P(weekday > weekend) - P(weekday < weekend) over all cross pairs —
    the ordinal effect size that stays meaningful when distributions are
    skewed. EXACT from the merged value histogram: for each weekday
    value v with count ca, the number of strictly-smaller weekend days
    is the windowed cumsum cb_lt(v) — Sum(ca*cb_lt) counts every (x>y)
    pair without enumerating the n1*n2 product. Shipped as
    delta_plus1_ppm = 10^6*(gt - lt + n1*n2) div (n1*n2): the +n1*n2
    shift keeps the numerator non-negative so DuckDB floor == Spark
    truncate (delta itself can be negative).

    Scale shape: day rollup, tiny merged histogram, windows over the
    AGGREGATE only. Weekend test: Spark dayofweek() is 1=Sun..7=Sat,
    DuckDB 0=Sun..6=Sat — engine-specific literals, same set."""
    daily = (
        load(spark, sf_dir, "events")
        .groupBy(F.date_trunc("day", "ts").alias("d"))
        .agg(F.count("*").cast("bigint").alias("x"))
    )
    g = daily.select(
        "x",
        F.expr(
            "CASE WHEN dayofweek(d) IN (1, 7) THEN 1 ELSE 0 END"
        ).alias("wk"),
    )
    h = g.groupBy(F.col("x").alias("v")).agg(
        F.sum(F.expr("CASE WHEN wk = 0 THEN 1 ELSE 0 END"))
        .cast("bigint")
        .alias("ca"),
        F.sum(F.expr("CASE WHEN wk = 1 THEN 1 ELSE 0 END"))
        .cast("bigint")
        .alias("cb"),
    )
    wall = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    c = h.select(
        "v", "ca", "cb",
        (
            F.sum("cb").over(
                Window.orderBy("v").rowsBetween(Window.unboundedPreceding, 0)
            )
            - F.col("cb")
        ).cast("bigint").alias("cb_lt"),
        F.sum("cb").over(wall).cast("bigint").alias("nb"),
        F.sum("ca").over(wall).cast("bigint").alias("na"),
    )
    return c.agg(
        F.min("na").alias("n_weekday"),
        F.min("nb").alias("n_weekend"),
        F.sum(F.expr("ca * cb_lt")).cast("bigint").alias("n_gt"),
        F.sum(F.expr("ca * (nb - cb_lt - cb)")).cast("bigint").alias("n_lt"),
        F.expr(
            "CAST((1000000 * (SUM(ca * cb_lt) - SUM(ca * (nb - cb_lt - cb))"
            " + MIN(na) * MIN(nb))) div (MIN(na) * MIN(nb)) AS BIGINT)"
        ).alias("delta_plus1_ppm"),
    )


# ---------------------------------------------------------------------------
# stats_kendall_w
# ---------------------------------------------------------------------------

_KENDALL_W_ORACLE = """
WITH daily AS (
  SELECT event_type AS t, date_trunc('day', ts) AS d,
         CAST(COUNT(*) AS BIGINT) AS x
  FROM events GROUP BY 1, 2
),
kk AS (SELECT CAST(COUNT(DISTINCT t) AS BIGINT) AS k FROM daily),
fd AS (
  SELECT d FROM daily GROUP BY d
  HAVING COUNT(*) = (SELECT k FROM kk)
),
r AS (SELECT t, daily.d, x FROM daily JOIN fd ON fd.d = daily.d),
h AS (SELECT t, x, CAST(COUNT(*) AS BIGINT) AS cnt FROM r GROUP BY 1, 2),
hc AS (
  SELECT t, x, cnt,
         CAST(SUM(cnt) OVER (PARTITION BY t ORDER BY x) - cnt AS BIGINT)
           AS clt
  FROM h
),
rr AS (
  SELECT r.t, r.d, CAST(2 * hc.clt + hc.cnt + 1 AS BIGINT) AS r2
  FROM r JOIN hc ON hc.t = r.t AND hc.x = r.x
),
rd AS (SELECT d, CAST(SUM(r2) AS BIGINT) AS s2 FROM rr GROUP BY d),
nt AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM rd),
ties AS (
  SELECT CAST(SUM(cnt * cnt * cnt - cnt) AS BIGINT) AS tt FROM h
),
s AS (
  SELECT CAST(SUM((s2 - k * (n + 1)) * (s2 - k * (n + 1))) AS BIGINT) AS s4
  FROM rd, nt, kk
)
SELECT nt.n AS n_days, kk.k AS k_raters, s.s4 AS s4, ties.tt AS tie_term,
       CAST((CAST(3000000 AS HUGEINT) * s4)
            // (CAST(k AS HUGEINT) * k * (n * n * n - n)
                - CAST(k AS HUGEINT) * tt) AS BIGINT) AS w_ppm
FROM s, nt, kk, ties
"""


@register("stats_kendall_w", oracle=_KENDALL_W_ORACLE)
def stats_kendall_w(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kendall's coefficient of concordance W across the k event types
    "rating" the shared complete days by volume: W = 1 means every
    signal ranks the days identically (one global traffic driver), W = 0
    means independent rankings. Tie-corrected, exact: within-type ranks
    are DOUBLED mid-ranks from the per-type value histogram (2*mid =
    2*cum_lt + cnt + 1, always integer), day rank-sums S2_j have exact
    mean k*(n+1), and W_ppm = 3*10^6*Sum(S2_j - k(n+1))^2 div
    (k^2(n^3-n) - k*SumT) — the factor 3 (not 12) absorbs the 4x from
    rank doubling. Combination in 128-bit for headroom; every magnitude
    is day-count-bounded.

    Scale shape: one day-rollup aggregate, histogram ranks per type
    (partitioned windows over aggregates), one day-keyed reduce."""
    daily = (
        load(spark, sf_dir, "events")
        .groupBy(
            F.col("event_type").alias("t"),
            F.date_trunc("day", "ts").alias("d"),
        )
        .agg(F.count("*").cast("bigint").alias("x"))
    )
    kk = daily.agg(F.countDistinct("t").cast("bigint").alias("k"))
    fd = (
        daily.groupBy("d")
        .agg(F.count("*").alias("c"))
        .crossJoin(F.broadcast(kk))
        .filter("c = k")
        .select("d")
    )
    r = daily.join(fd, "d").select("t", "d", "x")
    h = r.groupBy("t", "x").agg(F.count("*").cast("bigint").alias("cnt"))
    hc = h.select(
        "t", "x", "cnt",
        (
            F.sum("cnt").over(
                Window.partitionBy("t")
                .orderBy("x")
                .rowsBetween(Window.unboundedPreceding, 0)
            )
            - F.col("cnt")
        ).cast("bigint").alias("clt"),
    )
    rr = r.join(hc, ["t", "x"]).select(
        "d", F.expr("CAST(2 * clt + cnt + 1 AS BIGINT)").alias("r2")
    )
    rd = rr.groupBy("d").agg(F.sum("r2").cast("bigint").alias("s2"))
    nt = rd.agg(F.count("*").cast("bigint").alias("n"))
    ties = h.agg(
        F.sum(F.expr("cnt * cnt * cnt - cnt")).cast("bigint").alias("tt")
    )
    s = (
        rd.crossJoin(F.broadcast(nt))
        .crossJoin(F.broadcast(kk))
        .agg(
            F.sum(
                F.expr("(s2 - k * (n + 1)) * (s2 - k * (n + 1))")
            ).cast("bigint").alias("s4"),
            F.min("n").alias("n"),
            F.min("k").alias("k"),
        )
    )
    return s.crossJoin(F.broadcast(ties)).select(
        F.col("n").alias("n_days"),
        F.col("k").alias("k_raters"),
        "s4",
        F.col("tt").alias("tie_term"),
        F.expr(
            f"CAST((CAST(3000000 AS {_D38}) * s4)"
            f" div (CAST(k AS {_D38}) * k * (n * n * n - n)"
            f"      - CAST(k AS {_D38}) * tt) AS BIGINT)"
        ).alias("w_ppm"),
    )


# ---------------------------------------------------------------------------
# stats_capture_recapture
# ---------------------------------------------------------------------------

_CRC_ORACLE = """
WITH fp AS (SELECT DISTINCT md5(text) AS f FROM documents),
s AS (
  SELECT f,
         CASE WHEN CAST(('0x' || substring(md5('a|' || f), 1, 8)) AS BIGINT)
                   % 10 < 3 THEN 1 ELSE 0 END AS in_a,
         CASE WHEN CAST(('0x' || substring(md5('b|' || f), 1, 8)) AS BIGINT)
                   % 10 < 3 THEN 1 ELSE 0 END AS in_b
  FROM fp
),
agg AS (
  SELECT CAST(SUM(in_a) AS BIGINT) AS n1, CAST(SUM(in_b) AS BIGINT) AS n2,
         CAST(SUM(in_a * in_b) AS BIGINT) AS m,
         CAST(COUNT(*) AS BIGINT) AS n_true
  FROM s
)
SELECT n1, n2, m, n_true,
       CAST((n1 * n2) // greatest(m, 1) AS BIGINT) AS lincoln_petersen,
       CAST(((n1 + 1) * (n2 + 1)) // (m + 1) - 1 AS BIGINT) AS chapman,
       CAST((1000000 * abs(((n1 + 1) * (n2 + 1)) // (m + 1) - 1 - n_true))
            // n_true AS BIGINT) AS chapman_err_ppm
FROM agg
"""


@register("stats_capture_recapture", oracle=_CRC_ORACLE)
def stats_capture_recapture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Capture-recapture sizing of the distinct-fingerprint universe:
    two INDEPENDENT deterministic 30% hash samples (salts 'a|' / 'b|'
    over the md5 text fingerprint) play the two field surveys;
    Lincoln-Petersen N^ = n1*n2 div m and the bias-corrected Chapman
    estimator are compared against the exactly-known truth — the audit
    that tells you how well a sample-based dedup sizing would have
    predicted the full job. All integers; divisions on non-negative
    operands (the -1 and the signed error sit outside the division,
    inside abs).

    Scale shape: one distinct over fingerprints (hash-group), one
    map-only sample tagging, one global sum; output is one row.
    Cross-engine hash: conv(substring(md5(x),1,8),16,10) (Spark) ==
    CAST('0x'||substring(md5(x),1,8) AS BIGINT) (DuckDB)."""
    fp = (
        load(spark, sf_dir, "documents")
        .select(F.md5("text").alias("f"))
        .distinct()
    )
    s = fp.select(
        F.expr(
            "CASE WHEN CAST(conv(substring(md5(concat('a|', f)), 1, 8),"
            " 16, 10) AS BIGINT) % 10 < 3 THEN 1 ELSE 0 END"
        ).alias("in_a"),
        F.expr(
            "CASE WHEN CAST(conv(substring(md5(concat('b|', f)), 1, 8),"
            " 16, 10) AS BIGINT) % 10 < 3 THEN 1 ELSE 0 END"
        ).alias("in_b"),
    )
    agg = s.agg(
        F.sum("in_a").cast("bigint").alias("n1"),
        F.sum("in_b").cast("bigint").alias("n2"),
        F.sum(F.expr("in_a * in_b")).cast("bigint").alias("m"),
        F.count("*").cast("bigint").alias("n_true"),
    )
    return agg.select(
        "n1", "n2", "m", "n_true",
        F.expr("CAST((n1 * n2) div greatest(m, 1) AS BIGINT)").alias(
            "lincoln_petersen"),
        F.expr(
            "CAST(((n1 + 1) * (n2 + 1)) div (m + 1) - 1 AS BIGINT)"
        ).alias("chapman"),
        F.expr(
            "CAST((1000000 * abs(((n1 + 1) * (n2 + 1)) div (m + 1) - 1"
            " - n_true)) div n_true AS BIGINT)"
        ).alias("chapman_err_ppm"),
    )


# ---------------------------------------------------------------------------
# text_simpson_diversity
# ---------------------------------------------------------------------------

_SIMPSON_ORACLE = """
WITH tok AS (
  SELECT source, unnest(string_split(text, ' ')) AS w FROM documents
),
h AS (
  SELECT source, w, CAST(COUNT(*) AS BIGINT) AS n
  FROM tok WHERE w <> '' GROUP BY 1, 2
),
s AS (
  SELECT source, CAST(SUM(n) AS BIGINT) AS nt,
         CAST(COUNT(*) AS BIGINT) AS vocab,
         CAST(SUM(n * (n - 1)) AS BIGINT) AS coll
  FROM h GROUP BY 1
)
SELECT source, nt AS n_tokens, vocab,
       CAST(1000000 - (CAST(1000000 AS HUGEINT) * coll)
                      // (CAST(nt AS HUGEINT) * (nt - 1)) AS BIGINT)
         AS gini_simpson_ppm
FROM s
"""


@register("text_simpson_diversity", oracle=_SIMPSON_ORACLE)
def text_simpson_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini-Simpson diversity of the token distribution per source:
    1 - Sum n_i(n_i-1) / (N(N-1)) — the probability two tokens drawn
    without replacement differ. Template spam collapses this index long
    before the raw vocabulary count moves (the fixture's word vocabulary
    saturates at ~31, but the DISTRIBUTION over it still separates
    sources), so it complements text_type_token_ratio. Exact rational in
    ppm; the collision sum grows ~ N^2 per head token, so the final
    division runs 128-bit (Spark DECIMAL(38,0) == DuckDB HUGEINT).

    Scale shape: token explode (map-only) -> (source, token) hash
    aggregate -> source-sized reduce."""
    tok = load(spark, sf_dir, "documents").select(
        "source", F.explode(F.split("text", " ")).alias("w")
    )
    h = (
        tok.filter("w <> ''")
        .groupBy("source", "w")
        .agg(F.count("*").cast("bigint").alias("n"))
    )
    s = h.groupBy("source").agg(
        F.sum("n").cast("bigint").alias("nt"),
        F.count("*").cast("bigint").alias("vocab"),
        F.sum(F.expr("n * (n - 1)")).cast("bigint").alias("coll"),
    )
    return s.select(
        "source",
        F.col("nt").alias("n_tokens"),
        "vocab",
        # nt <= 1 (hostile single-token source) zeroes the denominator:
        # ANSI div ERRORS, DuckDB // yields NULL — NULL is the pin (the
        # index is undefined for a one-token distribution)
        F.expr(
            f"CAST(CASE WHEN nt > 1 THEN "
            f"1000000 - (CAST(1000000 AS {_D38}) * coll)"
            f" div (CAST(nt AS {_D38}) * (nt - 1)) END AS BIGINT)"
        ).alias("gini_simpson_ppm"),
    )


# ---------------------------------------------------------------------------
# stats_theil_between_nations
# ---------------------------------------------------------------------------

_THEIL_ORACLE = f"""
WITH rev AS (
  SELECT n_name AS nation,
         CAST(SUM({CENTS_SQL.format('o_totalprice')}) AS BIGINT)
           AS cents
  FROM orders
  JOIN customer ON c_custkey = o_custkey
  JOIN nation ON n_nationkey = c_nationkey
  GROUP BY 1
),
t AS (
  SELECT CAST(SUM(cents) AS BIGINT) AS total,
         CAST(COUNT(*) AS BIGINT) AS k
  FROM rev
),
arr AS (
  SELECT list(cents ORDER BY nation) AS xs, MIN(total) AS total,
         MIN(k) AS k
  FROM rev, t
)
SELECT k AS n_groups, total AS total_cents,
  ROUND(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
    list_transform(xs, x ->
      (CAST(x AS DOUBLE) / CAST(total AS DOUBLE))
      * ln(CAST(x AS DOUBLE) * CAST(k AS DOUBLE)
           / CAST(total AS DOUBLE)))),
    (acc, v) -> acc + v), 6) AS theil_t
FROM arr
"""


@register("stats_theil_between_nations", oracle=_THEIL_ORACLE)
def stats_theil_between_nations(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Theil T inequality index of revenue across nations — the
    additively decomposable member of the inequality family (Gini and
    Lorenz are already registered): T = Sum s_i ln(s_i * k) over revenue
    shares s_i. Revenue sums stay exact integer cents; the ln fold runs
    over the BOUNDED nation list as a LEFT FOLD in nation order with
    identical element expressions on both engines (the
    stats_conditional_entropy recipe), ROUND 6.

    Scale shape: two broadcastable dimension joins, one nation-keyed
    aggregate, one 25-element array fold."""
    o = load(spark, sf_dir, "orders").select("o_custkey", "o_totalprice")
    c = load(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = load(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    rev = (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy(F.col("n_name").alias("nation"))
        .agg(
            F.sum(cents("o_totalprice"))
            .cast("bigint")
            .alias("cents")
        )
    )
    arr = rev.agg(
        F.expr("array_sort(collect_list(struct(nation, cents)))").alias("a"),
        F.sum("cents").cast("bigint").alias("total"),
        F.count("*").cast("bigint").alias("k"),
    )
    return arr.select(
        F.col("k").alias("n_groups"),
        F.col("total").alias("total_cents"),
        F.round(
            F.expr(
                "aggregate(transform(a, s ->"
                " (CAST(s.cents AS DOUBLE) / CAST(total AS DOUBLE))"
                " * ln(CAST(s.cents AS DOUBLE) * CAST(k AS DOUBLE)"
                "      / CAST(total AS DOUBLE))),"
                " CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)"
            ),
            6,
        ).alias("theil_t"),
    )


# ---------------------------------------------------------------------------
# alloc_dhondt_divisor
# ---------------------------------------------------------------------------

_DHONDT_SEATS = 50

_DHONDT_ORACLE = f"""
WITH rev AS (
  SELECT n_name AS party,
         CAST(SUM({CENTS_SQL.format('o_totalprice')}) AS BIGINT) AS v
  FROM orders
  JOIN customer ON c_custkey = o_custkey
  JOIN nation ON n_nationkey = c_nationkey
  GROUP BY 1
),
q AS (
  SELECT party, d, v // d AS q1, (1000000 * (v % d)) // d AS q2
  FROM rev CROSS JOIN (SELECT unnest(range(1, {_DHONDT_SEATS + 1})) AS d)
),
top AS (
  SELECT party FROM q
  ORDER BY q1 DESC, q2 DESC, party ASC, d ASC LIMIT {_DHONDT_SEATS}
)
SELECT party, CAST(COUNT(*) AS BIGINT) AS seats
FROM top GROUP BY party
"""


@register("alloc_dhondt_divisor", oracle=_DHONDT_ORACLE)
@fdoc(f"""D'Hondt divisor apportionment of {_DHONDT_SEATS} "seats" (budget
    units) across nations by revenue — the divisor-method counterpart of
    alloc_largest_remainder's quota method (divisor methods are
    house-monotone; quota methods can suffer the Alabama paradox).
    Quotients v/d are ranked EXACTLY with int64 only: the key pair
    (v div d, (10^6*(v mod d)) div d) preserves strict fraction order
    because distinct fractions with denominators <= {_DHONDT_SEATS}
    differ by >= 1/{_DHONDT_SEATS}^2 while the scaled remainder
    resolves 10^-6 — no 128-bit sort keys, no floats, any magnitude.
    Ties broken (party, d) to a total order (the alloc_largest_remainder
    lesson: equal quotients must land deterministically).

    Scale shape: party aggregate (bounded) -> explode {_DHONDT_SEATS}
    divisors -> TakeOrdered over the bounded quotient list.""")
def alloc_dhondt_divisor(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders").select("o_custkey", "o_totalprice")
    c = load(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = load(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    rev = (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy(F.col("n_name").alias("party"))
        .agg(
            F.sum(cents("o_totalprice"))
            .cast("bigint")
            .alias("v")
        )
    )
    q = rev.select(
        "party",
        F.explode(F.expr(f"sequence(1, {_DHONDT_SEATS})")).alias("d"),
        "v",
    ).select(
        "party",
        "d",
        F.expr("v div d").alias("q1"),
        F.expr("(1000000 * (v % d)) div d").alias("q2"),
    )
    top = (
        q.orderBy(
            F.desc("q1"), F.desc("q2"), F.asc("party"), F.asc("d")
        )
        .limit(_DHONDT_SEATS)
        .select("party")
    )
    return top.groupBy("party").agg(
        F.count("*").cast("bigint").alias("seats")
    )
