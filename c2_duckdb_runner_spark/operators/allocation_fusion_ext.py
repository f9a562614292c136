"""Round-4 allocation / fusion / risk extensions — five more oracled
operators closing started families:

- T-CLOSENESS audit — the third rung of the privacy ladder after
  k-anonymity and l-diversity: each QI group's SENSITIVE-value
  distribution must stay within EMD ≤ t of the global one (l-diversity
  counts values; t-closeness bounds the distribution skew). EMD over
  ordered bands = Σ|cumulative difference|, cross-multiplied to stay
  integer;
- F-BETA THRESHOLD SWEEP — the threshold-table companion to the
  threshold-free eval_auc_rank: P/R/F1 at six operating points, ALL
  evaluated as conditional sums in ONE scan (no row × threshold
  explosion), stack-unpivoted;
- MAX DRAWDOWN of the daily revenue series vs its running peak — the
  risk metric every monitoring dashboard pairs with the control chart;
- NEYMAN ALLOCATION — optimal stratified-sampling budget split
  n_h ∝ N_h·S_h with largest-remainder integerization (same
  apportionment contract as alloc_largest_remainder), the design step
  upstream of sample_stratified_exact;
- CONDORCET/COPELAND RANK FUSION — majority-duel fusion of three
  rankers over a bounded candidate union; the voting-theory alternative
  to search_rrf_fusion's score-based fusion.

Reference reach: the delegated SQL slot (``main.cc:181-182``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from c2_duckdb_runner_spark.operators.inference_ext import CENTS_SQL, cents
from c2_duckdb_runner_spark.operators.matching_ext import _BAND_SQL, _band
from c2_duckdb_runner_spark.registry import register
from c2_duckdb_runner_spark.session import scratch_persist
from c2_duckdb_runner_spark.tables import load

# ---------------------------------------------------------------------------
# privacy_t_closeness
# ---------------------------------------------------------------------------

_TCLOSE_ORACLE = f"""
WITH base AS (
  SELECT CAST(c_nationkey AS INT) AS nationkey, c_mktsegment AS segment,
         GREATEST(0, LEAST(10, {_BAND_SQL.format('c_acctbal')} + 1)) AS band
  FROM customer
),
gb AS (SELECT nationkey, segment, band, CAST(COUNT(*) AS BIGINT) AS gn
       FROM base GROUP BY 1,2,3),
tb AS (SELECT band, CAST(COUNT(*) AS BIGINT) AS tn FROM base GROUP BY 1),
grid AS (
  SELECT g.nationkey, g.segment, t.band,
         COALESCE(gb.gn, 0) AS gn, t.tn
  FROM (SELECT DISTINCT nationkey, segment FROM base) g
  CROSS JOIN tb t
  LEFT JOIN gb ON gb.nationkey = g.nationkey AND gb.segment = g.segment
              AND gb.band = t.band
),
cum AS (
  SELECT nationkey, segment, band,
         CAST(SUM(gn) OVER (PARTITION BY nationkey, segment ORDER BY band)
              AS BIGINT) AS cg,
         CAST(SUM(tn) OVER (PARTITION BY nationkey, segment ORDER BY band)
              AS BIGINT) AS ct,
         CAST(SUM(gn) OVER (PARTITION BY nationkey, segment) AS BIGINT) AS g_tot,
         CAST(SUM(tn) OVER (PARTITION BY nationkey, segment) AS BIGINT) AS t_tot
  FROM grid
)
SELECT nationkey, segment, MAX(g_tot) AS group_n,
  CAST(SUM(abs(cg*t_tot - ct*g_tot)) AS BIGINT) AS emd_num,
  CAST(MAX(g_tot)*MAX(t_tot)*11 AS BIGINT) AS emd_den,
  CAST(CASE WHEN 4*SUM(abs(cg*t_tot - ct*g_tot)) <= MAX(g_tot)*MAX(t_tot)*11
       THEN 1 ELSE 0 END AS INT) AS t_close
FROM cum GROUP BY 1,2
"""


@register("privacy_t_closeness", oracle=_TCLOSE_ORACLE)
def privacy_t_closeness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """t-closeness audit (t=0.25) over the same (nation, segment) QI
    groups as the k-anonymity/l-diversity ops, sensitive attribute =
     11 ordered balance bands: EMD between the group and global band
    distributions as Σ|cumG·T − cumT·G| — cross-multiplied so the
    decision 4·EMD_num ≤ EMD_den never touches a float.

    Scale shape: two keyed counts off one scan (the scan is read once
    into the banded projection), a bands×groups grid (bounded:
    |QI groups|·11 rows), and per-group windows over 11-row partitions.
    The global band spine broadcasts."""
    c = load(spark, sf_dir, "customer")
    base = scratch_persist(
        c.select(
            F.col("c_nationkey").cast("int").alias("nationkey"),
            F.col("c_mktsegment").alias("segment"),
            F.greatest(F.lit(0), F.least(F.lit(10), _band(F.col("c_acctbal")) + 1))
            .alias("band"),
        )
    )
    gb = base.groupBy("nationkey", "segment", "band").agg(F.count("*").alias("gn"))
    tb = base.groupBy("band").agg(F.count("*").alias("tn"))
    groups = base.select("nationkey", "segment").distinct()
    grid = (
        groups.crossJoin(F.broadcast(tb))
        .join(F.broadcast(gb), ["nationkey", "segment", "band"], "left")
        .select(
            "nationkey",
            "segment",
            "band",
            F.coalesce("gn", F.lit(0)).alias("gn"),
            "tn",
        )
    )
    wg = Window.partitionBy("nationkey", "segment")
    wcum = wg.orderBy("band")
    cum = grid.select(
        "nationkey",
        "segment",
        F.sum("gn").over(wcum).cast("bigint").alias("cg"),
        F.sum("tn").over(wcum).cast("bigint").alias("ct"),
        F.sum("gn").over(wg).cast("bigint").alias("g_tot"),
        F.sum("tn").over(wg).cast("bigint").alias("t_tot"),
    )
    return cum.groupBy("nationkey", "segment").agg(
        F.max("g_tot").alias("group_n"),
        F.sum(F.expr("abs(cg*t_tot - ct*g_tot)")).cast("bigint").alias("emd_num"),
        F.expr("CAST(MAX(g_tot)*MAX(t_tot)*11 AS BIGINT)").alias("emd_den"),
        F.expr(
            "CAST(CASE WHEN 4*SUM(abs(cg*t_tot - ct*g_tot))"
            " <= MAX(g_tot)*MAX(t_tot)*11 THEN 1 ELSE 0 END AS INT)"
        ).alias("t_close"),
    )


# ---------------------------------------------------------------------------
# eval_fbeta_threshold_sweep
# ---------------------------------------------------------------------------

_FBETA_THRS = (25, 50, 100, 150, 200, 250)

_FBETA_ORACLE = f"""
WITH s AS (
  SELECT CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y,
         {CENTS_SQL.format('value')} AS cents
  FROM events
),
agg AS (
  SELECT t.thr,
    CAST(SUM(CASE WHEN s.cents >= t.thr*100 AND s.y = 1 THEN 1 ELSE 0 END)
         AS BIGINT) AS tp,
    CAST(SUM(CASE WHEN s.cents >= t.thr*100 AND s.y = 0 THEN 1 ELSE 0 END)
         AS BIGINT) AS fp,
    CAST(SUM(CASE WHEN s.cents <  t.thr*100 AND s.y = 1 THEN 1 ELSE 0 END)
         AS BIGINT) AS fn
  FROM s CROSS JOIN (SELECT unnest([{", ".join(map(str, _FBETA_THRS))}]) AS thr) t
  GROUP BY 1
)
SELECT CAST(thr AS INT) AS thr, tp, fp, fn,
  CAST(CASE WHEN tp + fp > 0 THEN (1000000*tp) // (tp + fp) ELSE 0 END
       AS BIGINT) AS precision_micro,
  CAST(CASE WHEN tp + fn > 0 THEN (1000000*tp) // (tp + fn) ELSE 0 END
       AS BIGINT) AS recall_micro,
  CAST(CASE WHEN 2*tp + fp + fn > 0 THEN (2000000*tp) // (2*tp + fp + fn)
       ELSE 0 END AS BIGINT) AS f1_micro
FROM agg
"""


@register("eval_fbeta_threshold_sweep", oracle=_FBETA_ORACLE)
def eval_fbeta_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Precision/recall/F1 of the value-threshold purchase classifier at
    six operating points — the threshold TABLE next to the threshold-free
    eval_auc_rank. All 18 counts (tp/fp/fn × 6 thresholds) evaluate as
    conditional sums in ONE scan and stack-unpivot to rows afterward —
    the oracle's row×threshold cross join is semantics, not the plan
    (at 100 TB a 6× row explosion is a real cost; 18 extra accumulators
    are free). F1 = 2tp/(2tp+fp+fn) avoids the P,R intermediate so one
    integer division suffices."""
    e = load(spark, sf_dir, "events")
    s = e.select(
        F.expr("CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END").alias("y"),
        cents("value").alias("cents"),
    )
    aggs = []
    for t in _FBETA_THRS:
        aggs.append(
            F.sum(F.expr(f"CASE WHEN cents >= {t}*100 AND y = 1 THEN 1 ELSE 0 END"))
            .cast("bigint")
            .alias(f"tp{t}")
        )
        aggs.append(
            F.sum(F.expr(f"CASE WHEN cents >= {t}*100 AND y = 0 THEN 1 ELSE 0 END"))
            .cast("bigint")
            .alias(f"fp{t}")
        )
        aggs.append(
            F.sum(F.expr(f"CASE WHEN cents < {t}*100 AND y = 1 THEN 1 ELSE 0 END"))
            .cast("bigint")
            .alias(f"fn{t}")
        )
    row = s.agg(*aggs)
    stacked = row.selectExpr(
        f"stack({len(_FBETA_THRS)}, "
        + ", ".join(
            f"CAST({t} AS INT), tp{t}, fp{t}, fn{t}" for t in _FBETA_THRS
        )
        + ") AS (thr, tp, fp, fn)"
    )
    return stacked.select(
        "thr",
        "tp",
        "fp",
        "fn",
        F.expr(
            "CAST(CASE WHEN tp + fp > 0 THEN (1000000*tp) DIV (tp + fp)"
            " ELSE 0 END AS BIGINT)"
        ).alias("precision_micro"),
        F.expr(
            "CAST(CASE WHEN tp + fn > 0 THEN (1000000*tp) DIV (tp + fn)"
            " ELSE 0 END AS BIGINT)"
        ).alias("recall_micro"),
        F.expr(
            "CAST(CASE WHEN 2*tp + fp + fn > 0 THEN (2000000*tp)"
            " DIV (2*tp + fp + fn) ELSE 0 END AS BIGINT)"
        ).alias("f1_micro"),
    )


# ---------------------------------------------------------------------------
# ts_max_drawdown
# ---------------------------------------------------------------------------

_DRAWDOWN_ORACLE = f"""
WITH d AS (SELECT CAST(ts AS DATE) AS day,
                  CAST(SUM({CENTS_SQL.format('value')}) AS BIGINT) AS cents
           FROM events GROUP BY 1),
m AS (SELECT day, cents,
             CAST(MAX(cents) OVER (ORDER BY day) AS BIGINT) AS peak FROM d)
SELECT strftime(day, '%Y-%m-%d') AS trough_day,
       CAST(peak - cents AS BIGINT) AS drawdown_cents, peak AS peak_cents,
       CAST((10000*(peak - cents)) // peak AS BIGINT) AS drawdown_bp
FROM m ORDER BY peak - cents DESC, day ASC LIMIT 1
"""


@register("ts_max_drawdown", oracle=_DRAWDOWN_ORACLE)
def ts_max_drawdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Worst daily-revenue drawdown vs the running peak (deepest
    below-peak day, earliest-day tie-break) — the risk-monitoring
    counterpart to the XmR control chart, in exact cents/basis points.
    Note the peak is of the DAILY series, not a cumulative sum (a
    nonnegative revenue cumsum never declines, so that drawdown is
    identically zero by construction).

    One data-sized groupBy; the running-max window and top-1 pick run
    over the calendar-bounded daily series."""
    e = load(spark, sf_dir, "events")
    d = (
        e.select(
            F.to_date("ts").alias("day"),
            cents("value").alias("c"),
        )
        .groupBy("day")
        .agg(F.sum("c").alias("cents"))
    )
    m = d.withColumn(
        "peak",
        F.max("cents")
        .over(Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0))
        .cast("bigint"),
    )
    return (
        m.select(
            F.date_format("day", "yyyy-MM-dd").alias("trough_day"),
            F.expr("CAST(peak - cents AS BIGINT)").alias("drawdown_cents"),
            F.col("peak").alias("peak_cents"),
            F.expr("CAST((10000*(peak - cents)) DIV peak AS BIGINT)").alias(
                "drawdown_bp"
            ),
        )
        .orderBy(F.desc("drawdown_cents"), F.asc("trough_day"))
        .limit(1)
    )


# ---------------------------------------------------------------------------
# sample_neyman_allocation
# ---------------------------------------------------------------------------

_NEYMAN_ORACLE = """
WITH s AS (
  SELECT CAST(c_nationkey AS INT) AS nk,
         CAST(COUNT(*) AS BIGINT) AS n_h,
         CAST(SUM(CAST(round(c_acctbal) AS BIGINT)) AS BIGINT) AS sx,
         CAST(SUM(CAST(round(c_acctbal) AS BIGINT)
                  * CAST(round(c_acctbal) AS BIGINT)) AS BIGINT) AS sxx
  FROM customer GROUP BY 1
),
w AS (
  SELECT nk, n_h,
    CASE WHEN n_h >= 2 THEN
      n_h * CAST(round(sqrt(CAST(n_h*sxx - sx*sx AS DOUBLE)
                            / CAST(n_h*(n_h-1) AS DOUBLE))) AS BIGINT)
    ELSE 0 END AS wt
  FROM s
),
tot AS (SELECT CAST(SUM(wt) AS BIGINT) AS wsum FROM w),
q AS (
  SELECT nk, n_h, wt,
         CAST((100*wt) // GREATEST(wsum, 1) AS BIGINT) AS base,
         CAST((100*wt) % GREATEST(wsum, 1) AS BIGINT) AS rem
  FROM w, tot
),
r AS (
  SELECT *, row_number() OVER (ORDER BY rem DESC, nk ASC) AS rr,
         CAST(100 - SUM(base) OVER () AS BIGINT) AS leftover
  FROM q
)
SELECT nk AS nationkey, n_h, wt AS weight,
       CAST(base + CASE WHEN rr <= leftover THEN 1 ELSE 0 END AS BIGINT) AS alloc
FROM r
"""


@register("sample_neyman_allocation", oracle=_NEYMAN_ORACLE)
def sample_neyman_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Neyman-optimal stratified sampling allocation: split a 100-unit
    budget across nations ∝ N_h·S_h (strata with more rows AND more
    balance variance earn more samples), integerized by the same
    largest-remainder rule as alloc_largest_remainder so the allocations
    sum EXACTLY to the budget. S_h comes from integer (n, Σx, Σx²) in
    whole dollars (cents would overflow the Σx² BIGINT at sf ≥ 1); the
    one float op — sqrt of the exact variance ratio — is IEEE-determined
    and immediately rounded to an integer weight, so the downstream
    apportionment is pure integer arithmetic.

    One keyed scan; apportionment runs on 25 rows."""
    c = load(spark, sf_dir, "customer")
    s = (
        c.select(
            F.col("c_nationkey").cast("int").alias("nk"),
            F.expr("CAST(round(c_acctbal) AS BIGINT)").alias("x"),
        )
        .groupBy("nk")
        .agg(
            F.count("*").cast("bigint").alias("n_h"),
            F.sum("x").cast("bigint").alias("sx"),
            F.sum(F.expr("x*x")).cast("bigint").alias("sxx"),
        )
    )
    w = scratch_persist(
        s.select(
            "nk",
            "n_h",
            F.expr(
                "CASE WHEN n_h >= 2 THEN"
                " n_h * CAST(round(sqrt(CAST(n_h*sxx - sx*sx AS DOUBLE)"
                " / CAST(n_h*(n_h-1) AS DOUBLE))) AS BIGINT)"
                " ELSE 0L END"
            ).alias("wt"),
        )
    )
    tot = w.agg(F.sum("wt").cast("bigint").alias("wsum"))
    q = w.crossJoin(F.broadcast(tot)).select(
        "nk",
        "n_h",
        "wt",
        F.expr("CAST((100*wt) DIV GREATEST(wsum, 1) AS BIGINT)").alias("base"),
        F.expr("CAST((100*wt) % GREATEST(wsum, 1) AS BIGINT)").alias("rem"),
    )
    r = q.withColumn(
        "rr", F.row_number().over(Window.orderBy(F.desc("rem"), F.asc("nk")))
    ).withColumn(
        "leftover",
        (F.lit(100) - F.sum("base").over(Window.partitionBy())).cast("bigint"),
    )
    return r.select(
        F.col("nk").alias("nationkey"),
        "n_h",
        F.col("wt").alias("weight"),
        F.expr(
            "CAST(base + CASE WHEN rr <= leftover THEN 1 ELSE 0 END AS BIGINT)"
        ).alias("alloc"),
    )


# ---------------------------------------------------------------------------
# search_fusion_condorcet
# ---------------------------------------------------------------------------

_CONDORCET_ORACLE = """
WITH ranked AS (
  SELECT doc_id,
    row_number() OVER (ORDER BY n_chars DESC, doc_id) AS r1,
    row_number() OVER (ORDER BY len(string_split(text,' ')) DESC, doc_id) AS r2,
    row_number() OVER (ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS r3
  FROM documents
),
cand AS (
  SELECT doc_id,
         CASE WHEN r1 <= 20 THEN r1 ELSE 999 END AS r1,
         CASE WHEN r2 <= 20 THEN r2 ELSE 999 END AS r2,
         CASE WHEN r3 <= 20 THEN r3 ELSE 999 END AS r3
  FROM ranked WHERE r1 <= 20 OR r2 <= 20 OR r3 <= 20
),
duel AS (
  SELECT a.doc_id,
    CAST(SUM(CASE WHEN
      (CASE WHEN a.r1 < b.r1 THEN 1 ELSE 0 END +
       CASE WHEN a.r2 < b.r2 THEN 1 ELSE 0 END +
       CASE WHEN a.r3 < b.r3 THEN 1 ELSE 0 END) >= 2 THEN 1 ELSE 0 END)
      AS BIGINT) AS copeland
  FROM cand a JOIN cand b ON a.doc_id <> b.doc_id
  GROUP BY 1
)
SELECT d.doc_id, d.copeland, c.r1, c.r2, c.r3
FROM duel d JOIN cand c ON c.doc_id = d.doc_id
ORDER BY d.copeland DESC, d.doc_id ASC LIMIT 10
"""


@register("search_fusion_condorcet", oracle=_CONDORCET_ORACLE)
def search_fusion_condorcet(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Copeland (Condorcet-style) fusion of three rankers (length,
    token count, content hash): a candidate's score is the number of
    pairwise majority duels it wins across the top-20 union (rank 999
    for unranked — a list that omits a doc votes against it). The
    voting-theoretic alternative to search_rrf_fusion: immune to score
    scale, sensitive only to order.

    Scale shape: each ranker's top-20 is PRE-CUT with orderBy().limit(20)
    — a TakeOrderedAndProject (k rows per partition, merged on the
    driver), never a single-reducer global ROW_NUMBER over the corpus.
    Ranks are then assigned by a window over each BOUNDED 20-row list
    (the same per-shard-merge shape a search head uses), the candidate
    union is a full-outer join of three 20-row lists, and the duel
    matrix is a broadcast self-join of that ≤60-row relation."""
    d = load(spark, sf_dir, "documents")

    def _top20(keyed: DataFrame, sort_cols, alias: str) -> DataFrame:
        cut = keyed.orderBy(*sort_cols).limit(20)
        return cut.select(
            "doc_id",
            F.row_number().over(Window.orderBy(*sort_cols)).alias(alias),
        )

    r1 = _top20(
        d.select("doc_id", "n_chars"),
        [F.desc("n_chars"), F.asc("doc_id")],
        "r1",
    )
    r2 = _top20(
        d.select("doc_id", F.expr("size(split(text, ' '))").alias("ntok")),
        [F.desc("ntok"), F.asc("doc_id")],
        "r2",
    )
    r3 = _top20(
        d.select("doc_id", F.expr("md5(CAST(doc_id AS STRING))").alias("h")),
        [F.asc("h"), F.asc("doc_id")],
        "r3",
    )
    # candidate union as ONE aggregate over the tagged union of the three
    # bounded lists (a full-outer join cannot broadcast and would plan
    # three sort-merge joins; the union+pivot shuffles ≤ 3k rows once)
    u = (
        r1.select("doc_id", F.col("r1").alias("r"), F.lit(1).alias("l"))
        .unionAll(r2.select("doc_id", F.col("r2").alias("r"), F.lit(2).alias("l")))
        .unionAll(r3.select("doc_id", F.col("r3").alias("r"), F.lit(3).alias("l")))
    )
    cand = scratch_persist(
        u.groupBy("doc_id").agg(
            *[
                F.coalesce(
                    F.min(F.when(F.col("l") == i, F.col("r"))), F.lit(999)
                ).alias(f"r{i}")
                for i in (1, 2, 3)
            ]
        )
    )
    b = cand.select(
        F.col("doc_id").alias("b_id"),
        F.col("r1").alias("b1"),
        F.col("r2").alias("b2"),
        F.col("r3").alias("b3"),
    )
    duel = (
        cand.crossJoin(F.broadcast(b))
        .where(F.col("doc_id") != F.col("b_id"))
        .groupBy("doc_id")
        .agg(
            F.sum(
                F.expr(
                    "CASE WHEN (CASE WHEN r1 < b1 THEN 1 ELSE 0 END"
                    " + CASE WHEN r2 < b2 THEN 1 ELSE 0 END"
                    " + CASE WHEN r3 < b3 THEN 1 ELSE 0 END) >= 2"
                    " THEN 1 ELSE 0 END"
                )
            )
            .cast("bigint")
            .alias("copeland")
        )
    )
    return (
        duel.join(cand, "doc_id")
        .select("doc_id", "copeland", "r1", "r2", "r3")
        .orderBy(F.desc("copeland"), F.asc("doc_id"))
        .limit(10)
    )
