"""Round-4 paired-metric / concentration extensions — five operators that
finish families started elsewhere in the registry, all integer-exact:

- KENDALL τ of the daily (revenue, volume) series — the pairwise
  complement to stats_spearman_daily: concordant/discordant counts over
  tie-broken permutation ranks, so τ = (C−D)/(n(n−1)/2) is an exact
  fraction;
- RICH-CLUB coefficient φ(k) of the customer–supplier graph — after
  degree distribution/assortativity/k-core, the remaining classical
  degree-structure probe: edge density among nodes of degree > k;
- BRIER score of the SAME length-based pseudo-probability model
  eval_calibration_ece grades (micro² integers — the squared-loss leg of
  the calibration stool);
- McNEMAR's paired test between two deterministic classifiers — the
  b/c discordant-pair χ² with continuity correction, the right test for
  "is model A better than B on the SAME examples" (a two-proportion test
  on paired data is wrong);
- HERFINDAHL-HIRSCHMAN index of order concentration by nation — the
  antitrust-standard concentration measure next to the Gini already
  registered, as the exact fraction Σsᵢ²/(Σsᵢ)².

Reference reach: the delegated SQL slot (``main.cc:181-182``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from c2_duckdb_runner_spark.operators.graph import _OFFSET, cust_supp_pairs
from c2_duckdb_runner_spark.operators.inference_ext import CENTS_SQL, cents
from c2_duckdb_runner_spark.registry import register
from c2_duckdb_runner_spark.session import scratch_persist
from c2_duckdb_runner_spark.tables import load

# ---------------------------------------------------------------------------
# ts_kendall_tau_daily
# ---------------------------------------------------------------------------

_KENDALL_ORACLE = f"""
WITH d AS (
  SELECT CAST(ts AS DATE) AS day,
         CAST(SUM({CENTS_SQL.format('value')}) AS BIGINT) AS cents,
         CAST(COUNT(*) AS BIGINT) AS n_ev
  FROM events GROUP BY 1
),
rk AS (
  SELECT row_number() OVER (ORDER BY cents, day) AS ra,
         row_number() OVER (ORDER BY n_ev, day) AS rb
  FROM d
),
pr AS (
  SELECT CAST(SUM(CASE WHEN (y.rb - x.rb) > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_c,
         CAST(SUM(CASE WHEN (y.rb - x.rb) < 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_d,
         CAST((SELECT COUNT(*) FROM rk) AS BIGINT) AS n
  FROM rk x JOIN rk y ON x.ra < y.ra
)
SELECT n, n_c, n_d,
  CAST(CASE WHEN n_c >= n_d THEN (1000000*(n_c - n_d)) // ((n*(n-1))//2)
       ELSE -((1000000*(n_d - n_c)) // ((n*(n-1))//2)) END AS BIGINT) AS tau_micro
FROM pr
"""


@register("ts_kendall_tau_daily", oracle=_KENDALL_ORACLE)
def ts_kendall_tau_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kendall τ between daily revenue and daily event volume: with the
    same (metric, day) total-order tie-breaks as stats_spearman_daily both
    rank vectors are permutations, so concordance is decided by the rb
    sign alone (pairs are enumerated with ra ascending) and
    τ = (C−D)/(n(n−1)/2) is exact.

    Scale: the pair enumeration is over the CALENDAR-BOUNDED daily rollup
    (30×29/2 pairs here, ~66k/year at any corpus size) — the one
    data-sized stage is the daily groupBy. The rank relation is persisted
    so the self-join reads the cache, not the source twice."""
    e = load(spark, sf_dir, "events")
    d = (
        e.select(
            F.to_date("ts").alias("day"),
            cents("value").alias("c"),
        )
        .groupBy("day")
        .agg(F.sum("c").alias("cents"), F.count("*").alias("n_ev"))
    )
    rk = scratch_persist(
        d.select(
            F.row_number().over(Window.orderBy("cents", "day")).alias("ra"),
            F.row_number().over(Window.orderBy("n_ev", "day")).alias("rb"),
        )
    )
    x = rk.select(F.col("ra").alias("xra"), F.col("rb").alias("xrb"))
    y = rk.select(F.col("ra").alias("yra"), F.col("rb").alias("yrb"))
    pairs = x.join(y, F.col("xra") < F.col("yra"))
    n_total = rk.agg(F.count("*").alias("n"))
    pr = pairs.agg(
        F.sum(F.expr("CASE WHEN (yrb - xrb) > 0 THEN 1 ELSE 0 END"))
        .cast("bigint")
        .alias("n_c"),
        F.sum(F.expr("CASE WHEN (yrb - xrb) < 0 THEN 1 ELSE 0 END"))
        .cast("bigint")
        .alias("n_d"),
    ).crossJoin(F.broadcast(n_total))
    return pr.select(
        "n",
        "n_c",
        "n_d",
        F.expr(
            "CAST(CASE WHEN n_c >= n_d"
            " THEN (1000000*(n_c - n_d)) DIV ((n*(n-1)) DIV 2)"
            " ELSE -((1000000*(n_d - n_c)) DIV ((n*(n-1)) DIV 2)) END AS BIGINT)"
        ).alias("tau_micro"),
    )


# ---------------------------------------------------------------------------
# graph_rich_club
# ---------------------------------------------------------------------------

_RICHCLUB_ORACLE = """
WITH pairs AS (
  SELECT DISTINCT o.o_custkey AS c, 10000000 + l.l_suppkey AS s
  FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
  WHERE o_custkey IS NOT NULL AND l_suppkey IS NOT NULL
),
edges AS (SELECT c AS src, s AS dst FROM pairs UNION ALL SELECT s, c FROM pairs),
deg AS (SELECT src AS v, CAST(COUNT(*) AS BIGINT) AS d FROM edges GROUP BY 1),
ed AS (
  SELECT ds.d AS d_src, dd.d AS d_dst
  FROM pairs p JOIN deg ds ON ds.v = p.c JOIN deg dd ON dd.v = p.s
),
ks AS (SELECT unnest([2, 4, 8, 16]) AS k),
club AS (
  SELECT k,
    (SELECT CAST(COUNT(*) AS BIGINT) FROM deg WHERE d > k) AS n_k,
    (SELECT CAST(COUNT(*) AS BIGINT) FROM ed
     WHERE d_src > k AND d_dst > k) AS m_k
  FROM ks
)
SELECT CAST(k AS INT) AS k, n_k, m_k,
  CAST(CASE WHEN n_k >= 2 THEN (10000*2*m_k) // (n_k*(n_k-1)) ELSE 0 END
       AS BIGINT) AS phi_bp
FROM club
"""


@register("graph_rich_club", oracle=_RICHCLUB_ORACLE)
def graph_rich_club(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rich-club coefficient φ(k) = 2·m_k / (n_k(n_k−1)) for k ∈
    {2,4,8,16}: do high-degree customers and suppliers preferentially
    trade with each other? Basis-point exact fractions.

    Scale shape: degrees are one keyed count; each UNDIRECTED edge is
    annotated with both endpoint degrees via two keyed joins; then ALL
    four thresholds evaluate as conditional sums in ONE pass over that
    annotated edge relation (stack-unpivoted to rows) — adding thresholds
    never adds passes."""
    pairs = scratch_persist(
        cust_supp_pairs(spark, sf_dir)
        .select("c", (F.lit(_OFFSET) + F.col("s")).alias("s"))
        .distinct()
    )
    edges = pairs.select(F.col("c").alias("src"), F.col("s").alias("dst")).union(
        pairs.select(F.col("s").alias("src"), F.col("c").alias("dst"))
    )
    deg = scratch_persist(
        edges.groupBy(F.col("src").alias("v")).agg(F.count("*").alias("d"))
    )
    ds = deg.select(F.col("v").alias("c"), F.col("d").alias("d_src"))
    dd = deg.select(F.col("v").alias("s"), F.col("d").alias("d_dst"))
    ed = pairs.join(ds, "c").join(dd, "s")
    ks = [2, 4, 8, 16]
    m_aggs = [
        F.sum(
            F.expr(f"CASE WHEN d_src > {k} AND d_dst > {k} THEN 1 ELSE 0 END")
        )
        .cast("bigint")
        .alias(f"m{k}")
        for k in ks
    ]
    n_aggs = [
        F.sum(F.expr(f"CASE WHEN d > {k} THEN 1 ELSE 0 END"))
        .cast("bigint")
        .alias(f"n{k}")
        for k in ks
    ]
    m_row = ed.agg(*m_aggs)
    n_row = deg.agg(*n_aggs)
    stacked = m_row.crossJoin(F.broadcast(n_row)).selectExpr(
        "stack(4, "
        + ", ".join(f"CAST({k} AS INT), n{k}, m{k}" for k in ks)
        + ") AS (k, n_k, m_k)"
    )
    return stacked.select(
        "k",
        "n_k",
        "m_k",
        F.expr(
            "CAST(CASE WHEN n_k >= 2 THEN (10000*2*m_k) DIV (n_k*(n_k-1))"
            " ELSE 0 END AS BIGINT)"
        ).alias("phi_bp"),
    )


# ---------------------------------------------------------------------------
# eval_brier_score
# ---------------------------------------------------------------------------

_BRIER_ORACLE = """
WITH s AS (
  SELECT LEAST((1000000 * n_chars) // 600, 1000000) AS p,
         CASE WHEN lang = 'en' THEN 1000000 ELSE 0 END AS y
  FROM documents
)
SELECT CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM((p - y)*(p - y)) AS BIGINT) AS brier_num,
       CAST(CAST(SUM((p - y)*(p - y)) AS BIGINT) // COUNT(*) AS BIGINT)
         AS brier_mean_micro2
FROM s
"""


@register("eval_brier_score", oracle=_BRIER_ORACLE)
def eval_brier_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brier score of the SAME min(1, n_chars/600) pseudo-probability
    model eval_calibration_ece grades (cites
    control_calibration_ext.py:145): mean squared gap between predicted
    probability and outcome, in exact micro² integers — squared loss is
    the proper-scoring-rule companion to the binned ECE (a model can
    game ECE's bins but not the Brier decomposition).

    One map-side scoring scan, one global sum — map-side-combinable at
    any corpus size (micro² partial sums need BIGINT headroom up to
    ~9·10⁶ rows per final aggregate; beyond that, re-scale to centi²)."""
    d = load(spark, sf_dir, "documents")
    s = d.select(
        F.expr("LEAST((1000000 * n_chars) div 600, 1000000L)").alias("p"),
        F.expr("CASE WHEN lang = 'en' THEN 1000000 ELSE 0 END").alias("y"),
    )
    return s.agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum(F.expr("(p - y)*(p - y)")).cast("bigint").alias("brier_num"),
    ).select(
        "n",
        "brier_num",
        F.expr("CAST(brier_num DIV n AS BIGINT)").alias("brier_mean_micro2"),
    )


# ---------------------------------------------------------------------------
# eval_mcnemar_paired
# ---------------------------------------------------------------------------

_MCNEMAR_ORACLE = """
WITH s AS (
  SELECT CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y,
         CASE WHEN value >= 100 THEN 1 ELSE 0 END AS pa,
         CASE WHEN user_id % 3 = 0 THEN 1 ELSE 0 END AS pb
  FROM events
),
cnt AS (
  SELECT CAST(SUM(CASE WHEN pa = y AND pb <> y THEN 1 ELSE 0 END) AS BIGINT) AS b,
         CAST(SUM(CASE WHEN pa <> y AND pb = y THEN 1 ELSE 0 END) AS BIGINT) AS c,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM s
)
SELECT n, b, c,
  CAST(CASE WHEN b + c > 0 AND abs(b - c) >= 1
       THEN (1000000*(abs(b - c) - 1)*(abs(b - c) - 1)) // (b + c)
       ELSE 0 END AS BIGINT) AS chi2_micro
FROM cnt
"""


@register("eval_mcnemar_paired", oracle=_MCNEMAR_ORACLE)
def eval_mcnemar_paired(spark: SparkSession, sf_dir: str) -> DataFrame:
    """McNemar's test (continuity-corrected) between two deterministic
    purchase classifiers on the SAME events: only the discordant pairs
    b (A right, B wrong) and c (A wrong, B right) carry information —
    the paired-data test an unpaired two-proportion z would get wrong.
    χ² = (|b−c|−1)²/(b+c) as exact micro integers (abs before any
    division; all counts BIGINT).

    One conditional-sum scan; the statistic is a 1-row fold."""
    e = load(spark, sf_dir, "events")
    s = e.select(
        F.expr("CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END").alias("y"),
        F.expr("CASE WHEN value >= 100 THEN 1 ELSE 0 END").alias("pa"),
        F.expr("CASE WHEN user_id % 3 = 0 THEN 1 ELSE 0 END").alias("pb"),
    )
    cnt = s.agg(
        F.sum(F.expr("CASE WHEN pa = y AND pb <> y THEN 1 ELSE 0 END"))
        .cast("bigint")
        .alias("b"),
        F.sum(F.expr("CASE WHEN pa <> y AND pb = y THEN 1 ELSE 0 END"))
        .cast("bigint")
        .alias("c"),
        F.count("*").cast("bigint").alias("n"),
    )
    return cnt.select(
        "n",
        "b",
        "c",
        F.expr(
            "CAST(CASE WHEN b + c > 0 AND abs(b - c) >= 1"
            " THEN (1000000*(abs(b - c) - 1)*(abs(b - c) - 1)) DIV (b + c)"
            " ELSE 0 END AS BIGINT)"
        ).alias("chi2_micro"),
    )


# ---------------------------------------------------------------------------
# agg_herfindahl_hhi
# ---------------------------------------------------------------------------

_HHI_ORACLE = """
WITH s AS (
  SELECT c.c_nationkey AS nk, CAST(COUNT(*) AS BIGINT) AS cnt
  FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
  GROUP BY 1
),
t AS (SELECT CAST(SUM(cnt*cnt) AS BIGINT) AS num, CAST(SUM(cnt) AS BIGINT) AS tot,
             CAST(COUNT(*) AS BIGINT) AS n_groups FROM s)
SELECT n_groups, tot AS n_orders, num AS hhi_num,
       CAST(tot*tot AS BIGINT) AS hhi_den,
       CAST((10000*num) // (tot*tot) AS BIGINT) AS hhi_bp
FROM t
"""


@register("agg_herfindahl_hhi", oracle=_HHI_ORACLE)
def agg_herfindahl_hhi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Herfindahl-Hirschman concentration of orders across nations:
    HHI = Σ sᵢ² / (Σ sᵢ)² emitted as the exact integer fraction plus
    basis points — COUNT-based shares so squares stay in BIGINT range
    (order counts square safely to ~3·10⁹ rows; revenue-cents would
    overflow at sf≥1 and belong in DECIMAL). Complements
    agg_gini_concentration: HHI weights large shares quadratically,
    Gini ranks them.

    One keyed join + one group count; the concentration fold runs on
    25 rows."""
    o = load(spark, sf_dir, "orders").select("o_custkey")
    c = load(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    s = (
        o.join(c, o.o_custkey == c.c_custkey)
        .groupBy("c_nationkey")
        .agg(F.count("*").alias("cnt"))
    )
    t = s.agg(
        F.sum(F.expr("cnt*cnt")).cast("bigint").alias("num"),
        F.sum("cnt").cast("bigint").alias("tot"),
        F.count("*").cast("bigint").alias("n_groups"),
    )
    return t.select(
        "n_groups",
        F.col("tot").alias("n_orders"),
        F.col("num").alias("hhi_num"),
        F.expr("CAST(tot*tot AS BIGINT)").alias("hhi_den"),
        F.expr("CAST((10000*num) DIV (tot*tot) AS BIGINT)").alias("hhi_bp"),
    )
