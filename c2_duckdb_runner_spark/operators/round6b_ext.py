"""Round-6 batch B: stratified k-fold, robust MAD outliers, Page-Hinkley
drift, boilerplate n-grams, trimmed mean.

- STRATIFIED K-FOLD ASSIGNMENT: the md5-deterministic fold split every
  eval pipeline needs (same recipe as the repo's mixture/DSIR samplers:
  the fold is a pure function of the id, so re-runs and engines agree),
  with the per-stratum imbalance audit that catches a skewed hash.
- MEDIAN / MAD ROBUST OUTLIERS: the robust-z outlier screen (|x - med| >
  3·MAD) built on the EXACT distributed low-median — value histogram +
  cumulative offsets, the same mechanism as window_ntile_histogram, run
  twice (values, then absolute deviations).
- PAGE-HINKLEY TEST: the classic sequential drift detector — cumulative
  deviation from the series mean minus its running minimum — over the
  per-type daily revenue series; the streaming-world complement to the
  two-sample KS/PSI drift family.
- BOILERPLATE N-GRAMS: 5-grams shared by many documents (the C4/RefinedWeb
  boilerplate-removal signal: navigation chrome, license footers); doc
  frequency over DISTINCT per-doc grams, top list pre-cut.
- TRIMMED MEAN: decile-trimmed mean via exact histogram-rank arithmetic —
  the robust location estimate, computed without ever sorting rows (the
  trim boundaries are rank arithmetic over the value histogram).

Reference reach: the delegated SQL surface (``main.cc:181-182``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from c2_duckdb_runner_spark.operators.inference_ext import CENTS_SQL, cents, daily_milli
from c2_duckdb_runner_spark.registry import fdoc, register
from c2_duckdb_runner_spark.tables import load

# ---------------------------------------------------------------------------
# mlsplit_kfold_stratified
# ---------------------------------------------------------------------------

_KFOLDS = 5

_KF_H_SPARK = (
    "CAST(conv(substring(md5(CAST(doc_id AS STRING)), 1, 15), 16, 10)"
    " AS BIGINT)"
)
_KF_H_DUCK = (
    "CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT)"
)

_KFOLD_ORACLE = f"""
WITH f AS (
  SELECT source, CAST({_KF_H_DUCK} % {_KFOLDS} AS INT) AS fold
  FROM documents
),
c AS (
  SELECT source, fold, CAST(COUNT(*) AS BIGINT) AS n
  FROM f GROUP BY 1, 2
)
SELECT source, fold, n,
       CAST(MAX(n) OVER (PARTITION BY source)
            - MIN(n) OVER (PARTITION BY source) AS BIGINT) AS imbalance
FROM c
"""


@register("mlsplit_kfold_stratified", oracle=_KFOLD_ORACLE)
@fdoc(f"""Stratified {_KFOLDS}-fold assignment: fold = md5(doc_id) mod
    {_KFOLDS} within each source stratum, plus the per-stratum max-min
    fold-size imbalance — the audit that a biased id space (sequential
    ids, sharded ids) hasn't skewed the split.

    Scale shape: map-only fold assignment, one grouped count (stratum ×
    fold, domain-bounded), imbalance windows run over that aggregate.""")
def mlsplit_kfold_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    f = load(spark, sf_dir, "documents").select(
        "source", F.expr(f"CAST({_KF_H_SPARK} % {_KFOLDS} AS INT)").alias("fold")
    )
    c = f.groupBy("source", "fold").agg(
        F.count("*").cast("bigint").alias("n")
    )
    w = Window.partitionBy("source")
    return c.select(
        "source",
        "fold",
        "n",
        (F.max("n").over(w) - F.min("n").over(w))
        .cast("bigint")
        .alias("imbalance"),
    )


# ---------------------------------------------------------------------------
# stats_mad_robust_z
# ---------------------------------------------------------------------------

_MAD_ORACLE = f"""
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
med AS (
  SELECT event_type, MIN(x) AS med, MIN(n) AS n
  FROM c WHERE cum >= (n + 1) // 2 GROUP BY event_type
),
d AS (
  SELECT v.event_type, abs(v.x - med.med) AS dx, med.med, med.n
  FROM v JOIN med ON med.event_type = v.event_type
),
hd AS (SELECT event_type, dx, med, n, CAST(COUNT(*) AS BIGINT) AS cnt
       FROM d GROUP BY 1, 2, 3, 4),
cd AS (
  SELECT event_type, dx, med, n,
         CAST(SUM(cnt) OVER (PARTITION BY event_type ORDER BY dx)
              AS BIGINT) AS cum
  FROM hd
),
mad AS (
  SELECT event_type, MIN(dx) AS mad, MIN(med) AS med, MIN(n) AS n
  FROM cd WHERE cum >= (n + 1) // 2 GROUP BY event_type
)
SELECT v.event_type, CAST(MIN(mad.n) AS BIGINT) AS n,
       CAST(MIN(mad.med) AS BIGINT) AS median_cents,
       CAST(MIN(mad.mad) AS BIGINT) AS mad_cents,
       CAST(SUM(CASE WHEN abs(v.x - mad.med) > 3 * mad.mad
                THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
FROM v JOIN mad ON mad.event_type = v.event_type
GROUP BY v.event_type
"""


@register("stats_mad_robust_z", oracle=_MAD_ORACLE)
def stats_mad_robust_z(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust outlier screen per event type: exact LOW MEDIAN of the cent
    values, exact low median of the absolute deviations (MAD), and the
    count of |x - median| > 3·MAD rows — the location/scale estimates
    that a single corrupt batch cannot drag the way mean/stddev can.

    Scale shape: the distributed-exact-median mechanism — BOTH medians
    come from value histograms (key-cardinality-sized aggregates) with a
    cumulative window over the HISTOGRAM, never a sort of the raw
    stream; the final outlier count is one broadcast join + aggregate.
    Rule: low median = smallest value whose cumulative count reaches
    ceil(n/2); integer-exact on both engines."""
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
        "event_type", "x", F.sum("cnt").over(wcum).cast("bigint").alias("cum"), "n"
    )
    med = (
        c.filter(F.expr("cum >= (n + 1) div 2"))
        .groupBy("event_type")
        .agg(F.min("x").alias("med"), F.min("n").alias("n"))
    )
    d = v.join(F.broadcast(med), "event_type").select(
        "event_type", F.expr("abs(x - med)").alias("dx"), "med", "n", "x"
    )
    hd = d.groupBy("event_type", "dx", "med", "n").agg(
        F.count("*").cast("bigint").alias("cnt")
    )
    wdx = (
        Window.partitionBy("event_type")
        .orderBy("dx")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cd = hd.select(
        "event_type",
        "dx",
        "med",
        "n",
        F.sum("cnt").over(wdx).cast("bigint").alias("cum"),
    )
    mad = (
        cd.filter(F.expr("cum >= (n + 1) div 2"))
        .groupBy("event_type")
        .agg(
            F.min("dx").alias("mad"),
            F.min("med").alias("med"),
            F.min("n").alias("n"),
        )
    )
    return (
        v.join(F.broadcast(mad), "event_type")
        .groupBy("event_type")
        .agg(
            F.min("n").cast("bigint").alias("n"),
            F.min("med").cast("bigint").alias("median_cents"),
            F.min("mad").cast("bigint").alias("mad_cents"),
            F.sum(
                F.expr("CASE WHEN abs(x - med) > 3 * mad THEN 1 ELSE 0 END")
            )
            .cast("bigint")
            .alias("n_outliers"),
        )
    )


# ---------------------------------------------------------------------------
# ts_page_hinkley
# ---------------------------------------------------------------------------

_PH_LAMBDA = 50_000  # alarm threshold, milli-units

_PH_ORACLE = f"""
WITH daily AS (
  SELECT event_type, date_trunc('day', ts) AS d,
         (10 * CAST(SUM({CENTS_SQL.format('value')}) AS BIGINT))
           // CAST(COUNT(*) AS BIGINT) AS x
  FROM events WHERE ts IS NOT NULL GROUP BY 1, 2
),
m AS (
  SELECT event_type, CAST(SUM(x) AS BIGINT) AS sx,
         CAST(COUNT(*) AS BIGINT) AS nd
  FROM daily GROUP BY 1
),
mu AS (SELECT event_type, sx // nd AS mean_milli, nd FROM m),
cum AS (
  SELECT daily.event_type, d,
         CAST(SUM(x - mean_milli) OVER (PARTITION BY daily.event_type
              ORDER BY d) AS BIGINT) AS mt,
         mean_milli, nd
  FROM daily JOIN mu ON mu.event_type = daily.event_type
),
ph AS (
  SELECT event_type, mt,
         CAST(MIN(mt) OVER (PARTITION BY event_type ORDER BY d)
              AS BIGINT) AS runmin,
         mean_milli, nd
  FROM cum
)
SELECT event_type, CAST(nd AS BIGINT) AS n_days,
       CAST(mean_milli AS BIGINT) AS mean_milli,
       CAST(MAX(mt - runmin) AS BIGINT) AS ph_milli,
       CAST(SUM(CASE WHEN mt - runmin > {_PH_LAMBDA} THEN 1 ELSE 0 END)
            AS BIGINT) AS n_alarm_days
FROM ph GROUP BY event_type, nd, mean_milli
"""


@register("ts_page_hinkley", oracle=_PH_ORACLE)
@fdoc(f"""Page-Hinkley sequential drift test on the per-type daily revenue
    series: PH_t = m_t - min_(s<=t) m_s with m_t the cumulative deviation
    from the series mean — the classic upward-shift detector; alarm days
    are those exceeding λ = {_PH_LAMBDA} milli. Complements the
    two-sample drift family (KS, PSI, chi²) with the SEQUENTIAL view.

    Scale shape: the only data-sized stage is the daily rollup; every
    window runs over the per-type DAILY series (calendar-bounded, the
    ts_* family contract) partitioned by type. Integer milli end-to-end:
    x uses the shared (10·cents) div count convention, so both engines
    agree bit-for-bit.""")
def ts_page_hinkley(spark: SparkSession, sf_dir: str) -> DataFrame:
    daily = daily_milli(spark, sf_dir)
    mu = daily.groupBy("event_type").agg(
        F.expr("CAST(SUM(x) AS BIGINT) div COUNT(*)").alias("mean_milli"),
        F.count("*").cast("bigint").alias("nd"),
    )
    wcum = (
        Window.partitionBy("event_type")
        .orderBy("d")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = daily.join(F.broadcast(mu), "event_type").select(
        "event_type",
        "d",
        F.sum(F.expr("x - mean_milli")).over(wcum).cast("bigint").alias("mt"),
        "mean_milli",
        "nd",
    )
    ph = cum.select(
        "event_type",
        "mt",
        F.min("mt").over(wcum).cast("bigint").alias("runmin"),
        "mean_milli",
        "nd",
    )
    return ph.groupBy("event_type", "nd", "mean_milli").agg(
        F.max(F.expr("mt - runmin")).cast("bigint").alias("ph_milli"),
        F.sum(
            F.expr(f"CASE WHEN mt - runmin > {_PH_LAMBDA} THEN 1 ELSE 0 END")
        )
        .cast("bigint")
        .alias("n_alarm_days"),
    ).select(
        "event_type",
        F.col("nd").cast("bigint").alias("n_days"),
        F.col("mean_milli").cast("bigint").alias("mean_milli"),
        "ph_milli",
        "n_alarm_days",
    )


# ---------------------------------------------------------------------------
# text_boilerplate_ngrams
# ---------------------------------------------------------------------------

_BP_MIN_DF = 3
_BP_TOP = 15

_BP_ORACLE = f"""
WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
g AS (
  SELECT doc_id, unnest(list_distinct(list_transform(
           range(1, greatest(len(w) - 3, 1)),
           i -> array_to_string(w[i:i+4], ' ')))) AS ngram
  FROM t
),
df AS (SELECT ngram, CAST(COUNT(*) AS BIGINT) AS df FROM g GROUP BY 1),
nd AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents)
SELECT ngram, df,
       CAST(df * 1000000 // n_docs AS BIGINT) AS doc_share_ppm
FROM df, nd WHERE df >= {_BP_MIN_DF}
ORDER BY df DESC, ngram LIMIT {_BP_TOP}
"""


@register("text_boilerplate_ngrams", oracle=_BP_ORACLE)
@fdoc(f"""Boilerplate detector: 5-grams appearing in ≥ {_BP_MIN_DF} distinct
    documents, ranked by document frequency — the C4/RefinedWeb signal
    for navigation chrome, cookie banners and license footers that
    within-document repetition filters (text_repetition_ratio) cannot
    see because each document contains the phrase only once.

    Scale shape: one linear explode of DISTINCT per-doc 5-grams, one
    gram-keyed count, result pre-cut with orderBy().limit()
    (TakeOrderedAndProject) — never a global window.""")
def text_boilerplate_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    from c2_duckdb_runner_spark.tables import load_spread

    g = (
        load_spread(spark, sf_dir, "documents", "doc_id")
        .select("doc_id", F.split("text", " ").alias("w"))
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    "CASE WHEN size(w) >= 5 THEN array_distinct(transform("
                    "sequence(1, size(w) - 4), i -> concat_ws(' ', "
                    "slice(w, i, 5)))) ELSE CAST(array() AS ARRAY<STRING>) END"
                )
            ).alias("ngram"),
        )
    )
    df = g.groupBy("ngram").agg(F.count("*").cast("bigint").alias("df"))
    nd = load(spark, sf_dir, "documents").agg(
        F.count("*").cast("bigint").alias("n_docs")
    )
    return (
        df.filter(F.col("df") >= _BP_MIN_DF)
        .crossJoin(F.broadcast(nd))
        .select(
            "ngram",
            "df",
            F.expr("CAST(CAST(df AS DECIMAL(38,0)) * 1000000 div n_docs AS BIGINT)").alias(
                "doc_share_ppm"
            ),
        )
        .orderBy(F.desc("df"), F.asc("ngram"))
        .limit(_BP_TOP)
    )


# ---------------------------------------------------------------------------
# stats_trimmed_mean
# ---------------------------------------------------------------------------

_TRIM_ORACLE = """
WITH v AS (
  SELECT l_returnflag, CAST(round(l_quantity) AS BIGINT) AS x FROM lineitem
),
h AS (SELECT l_returnflag, x, CAST(COUNT(*) AS BIGINT) AS cnt
      FROM v GROUP BY 1, 2),
n AS (SELECT l_returnflag, CAST(SUM(cnt) AS BIGINT) AS n FROM h GROUP BY 1),
b AS (SELECT l_returnflag, n, n // 10 AS lo, n - n // 10 AS hi FROM n),
c AS (
  SELECT h.l_returnflag, x, cnt,
         CAST(SUM(cnt) OVER (PARTITION BY h.l_returnflag ORDER BY x) - cnt
              AS BIGINT) AS cb,
         lo, hi, n
  FROM h JOIN b ON b.l_returnflag = h.l_returnflag
)
SELECT l_returnflag, CAST(MIN(n) AS BIGINT) AS n,
       CAST(MIN(hi) - MIN(lo) AS BIGINT) AS n_kept,
       CAST(SUM(x * GREATEST(LEAST(cb + cnt, hi) - GREATEST(cb, lo), 0))
            AS BIGINT) AS trimmed_sum,
       CAST(SUM(x * GREATEST(LEAST(cb + cnt, hi) - GREATEST(cb, lo), 0))
            * 1000 // (MIN(hi) - MIN(lo)) AS BIGINT) AS trimmed_mean_milli
FROM c GROUP BY l_returnflag
"""


@register("stats_trimmed_mean", oracle=_TRIM_ORACLE)
def stats_trimmed_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decile-trimmed mean of l_quantity per return flag: drop the bottom
    and top 10% BY EXACT RANK and average the middle 80% — the robust
    location estimate between the mean (outlier-fragile) and the median
    (throws away 100% of the tails).

    Scale shape: the trim never sorts rows — the value histogram (the
    quantity domain is 1..50, so ~50 rows per group) carries cumulative
    rank offsets, and each value's kept multiplicity is pure interval
    arithmetic: overlap of [cb+1, cb+cnt] with the kept rank band
    [lo+1, hi]. One grouped aggregate + one histogram window."""
    v = load(spark, sf_dir, "lineitem").select(
        "l_returnflag", F.expr("CAST(round(l_quantity) AS BIGINT)").alias("x")
    )
    h = v.groupBy("l_returnflag", "x").agg(
        F.count("*").cast("bigint").alias("cnt")
    )
    n = h.groupBy("l_returnflag").agg(F.sum("cnt").cast("bigint").alias("n"))
    b = n.select(
        "l_returnflag",
        "n",
        F.expr("n div 10").alias("lo"),
        F.expr("n - n div 10").alias("hi"),
    )
    wcum = (
        Window.partitionBy("l_returnflag")
        .orderBy("x")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    c = h.join(F.broadcast(b), "l_returnflag").select(
        "l_returnflag",
        "x",
        "cnt",
        (F.sum("cnt").over(wcum) - F.col("cnt")).cast("bigint").alias("cb"),
        "lo",
        "hi",
        "n",
    )
    kept = "GREATEST(LEAST(cb + cnt, hi) - GREATEST(cb, lo), 0L)"
    return c.groupBy("l_returnflag").agg(
        F.min("n").cast("bigint").alias("n"),
        (F.min("hi") - F.min("lo")).cast("bigint").alias("n_kept"),
        F.sum(F.expr(f"x * {kept}")).cast("bigint").alias("trimmed_sum"),
        F.expr(
            f"CAST(SUM(x * {kept}) * 1000 div (MIN(hi) - MIN(lo)) AS BIGINT)"
        ).alias("trimmed_mean_milli"),
    )
