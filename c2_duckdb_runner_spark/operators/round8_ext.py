"""Round-8 batch A: local clustering, water-filling allocation, rolling
regression, systematic sampling, AR(1) mean reversion, and PSI drift.

- LOCAL CLUSTERING COEFFICIENT: per-node triangle density on the supplier
  co-order graph — the node-level companion to graph_triangle_count
  (graph.py, which reports only the global count); the standard
  community-vs-hub discriminator in graph curation.
- WATER-FILLING ALLOCATION: progressive filling of a shared capacity
  across demands (max-min fairness) — the fourth allocation policy next
  to D'Hondt / Sainte-Lague / largest-remainder, solved in CLOSED FORM
  from the sorted-demand prefix sums (no iteration), exact integers.
- ROLLING OLS SLOPE: 7-day windowed least-squares trend per nation in
  exact sufficient-statistic arithmetic (the windowed companion to
  agg_regression_manual / ts_theil_sen_slope).
- SYSTEMATIC CUMULATIVE-WEIGHT SAMPLING: the classic PPS-systematic
  design (every step-th unit of cumulative mass) — deterministic,
  stratified-by-construction, and the scalable alternative to sorting by
  random keys for corpus subsampling.
- AR(1) MEAN-REVERSION: lag-1 autoregression coefficient per nation's
  daily revenue as an exact numerator/denominator pair — phi < 1 is the
  mean-reversion telemetry next to ts_variance_ratio_test.
- PSI (Population Stability Index): the scorecard-industry drift metric
  between the first and second half of the order history, bucketed
  equal-width in exact integer cents, ln-fold over the bounded bucket
  domain (the corpus_jsd_trigram_drift determinism recipe).

Reference reach: the delegated SQL surface (``main.cc:181-182``); the
sampling/drift members extend the first-class LLM-pipeline families.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from c2_duckdb_runner_spark.operators.inference_ext import CENTS_SQL, cents
from c2_duckdb_runner_spark.registry import fdoc, register
from c2_duckdb_runner_spark.session import scratch_persist
from c2_duckdb_runner_spark.tables import load

# ---------------------------------------------------------------------------
# graph_local_clustering_topk
# ---------------------------------------------------------------------------

_LCC_TOP = 20
_LCC_BACKBONE = 5000

_LCC_ORACLE = f"""
WITH w AS (
  SELECT a.l_suppkey AS s1, b.l_suppkey AS s2, CAST(COUNT(*) AS BIGINT) AS w
  FROM lineitem a JOIN lineitem b
    ON a.l_orderkey = b.l_orderkey AND a.l_suppkey < b.l_suppkey
  GROUP BY 1, 2
),
e AS (
  SELECT s1, s2 FROM w
  ORDER BY w DESC, s1 ASC, s2 ASC LIMIT {_LCC_BACKBONE}
),
deg AS (
  SELECT v, CAST(COUNT(*) AS BIGINT) AS d
  FROM (SELECT s1 AS v FROM e UNION ALL SELECT s2 FROM e) GROUP BY v
),
tri AS (
  SELECT e1.s1 AS x, e1.s2 AS y, e2.s2 AS z
  FROM e e1 JOIN e e2 ON e2.s1 = e1.s2
  JOIN e e3 ON e3.s1 = e1.s1 AND e3.s2 = e2.s2
),
tn AS (
  SELECT v, CAST(COUNT(*) AS BIGINT) AS t
  FROM (SELECT x AS v FROM tri UNION ALL SELECT y FROM tri
        UNION ALL SELECT z FROM tri) GROUP BY v
)
SELECT CAST(deg.v AS BIGINT) AS node, deg.d AS degree,
       CAST(COALESCE(tn.t, 0) AS BIGINT) AS n_tri,
       CAST(2 * COALESCE(tn.t, 0) * 1000000 // (deg.d * (deg.d - 1))
            AS BIGINT) AS lcc_ppm
FROM deg LEFT JOIN tn ON tn.v = deg.v
WHERE deg.d >= 2
ORDER BY lcc_ppm DESC, node ASC LIMIT {_LCC_TOP}
"""


@register("graph_local_clustering_topk", oracle=_LCC_ORACLE)
@fdoc(f"""Local clustering coefficient per node on the TOP-SUPPORT BACKBONE
    of the supplier co-order graph: keep the {_LCC_BACKBONE} strongest
    edges by co-occurrence count (total (w, s1, s2) tiebreak — the
    standard backbone extraction for dense co-occurrence networks), then
    lcc(v) = 2·T(v) / (d(v)·(d(v)−1)) in exact integer ppm over that
    subgraph, top-{_LCC_TOP} with degree ≥ 2. graph_triangle_count
    reports the GLOBAL triangle count on the full graph (a streaming
    SUM, never materialized); per-node counts require LISTING each
    triangle's 3 node credits, and this fixture's raw co-order graph is
    a near-clique (measured 91% dense at sf0.1: ~1.2e8 triangles per
    replica copy, ~1e10 at 100x) — the first round-8 formulation
    exploded exactly that and filled the disk at the 100x replica. The
    backbone fence is therefore part of the DECLARED semantics (the
    jaccard _DEG_CAP discipline): triangle work is bounded by the
    constant backbone size at ANY corpus scale, while the one
    input-sized operation left is the support aggregate.

    Scale shape: per-order pair expansion (bounded by lines-per-order²)
    -> one (s1, s2)-keyed count -> TakeOrdered {_LCC_BACKBONE} ->
    everything downstream (degrees, oriented intersection, credit
    explode, top-k) runs on the broadcastable constant-size backbone.""")
def graph_local_clustering_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    w = (
        li.alias("a")
        .join(
            li.alias("b"),
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_suppkey") < F.col("b.l_suppkey")),
        )
        .groupBy(
            F.col("a.l_suppkey").alias("s1"), F.col("b.l_suppkey").alias("s2")
        )
        .agg(F.count("*").cast("bigint").alias("w"))
    )
    pairs = scratch_persist(
        w.orderBy(F.desc("w"), F.asc("s1"), F.asc("s2"))
        .limit(_LCC_BACKBONE)
        .select("s1", "s2")
    )
    deg = scratch_persist(
        pairs.select(F.col("s1").alias("v"))
        .union(pairs.select(F.col("s2").alias("v")))
        .groupBy("v")
        .agg(F.count("*").cast("bigint").alias("d"))
    )
    # backbone is constant-size: the rank-ordered 3-way self-join (each
    # triangle x<y<z found exactly once) is broadcast-joined and cheap —
    # no orientation machinery needed below the fence
    e1 = pairs.select(F.col("s1").alias("x"), F.col("s2").alias("y"))
    e2 = pairs.select(F.col("s1").alias("y2"), F.col("s2").alias("z2"))
    e3 = pairs.select(F.col("s1").alias("x3"), F.col("s2").alias("z3"))
    tri = (
        e1.join(F.broadcast(e2), F.col("y") == F.col("y2"))
        .join(
            F.broadcast(e3),
            (F.col("x") == F.col("x3")) & (F.col("z2") == F.col("z3")),
        )
        .select("x", "y", F.col("z2").alias("z"))
    )
    tn = (
        tri.select(F.col("x").alias("v"))
        .union(tri.select(F.col("y").alias("v")))
        .union(tri.select(F.col("z").alias("v")))
        .groupBy("v")
        .agg(F.count("*").cast("bigint").alias("t"))
    )
    return (
        deg.filter(F.col("d") >= 2)
        .join(tn, "v", "left")
        .select(
            F.col("v").cast("bigint").alias("node"),
            F.col("d").alias("degree"),
            F.coalesce("t", F.lit(0).cast("bigint")).alias("n_tri"),
            F.expr(
                "CAST(2 * COALESCE(t, 0) * 1000000 div (d * (d - 1)) AS BIGINT)"
            ).alias("lcc_ppm"),
        )
        .orderBy(F.desc("lcc_ppm"), F.asc("node"))
        .limit(_LCC_TOP)
    )


# ---------------------------------------------------------------------------
# alloc_water_filling
# ---------------------------------------------------------------------------

_WF_ORACLE = """
WITH dem AS (
  SELECT n_name AS party, CAST(COUNT(*) AS BIGINT) AS d
  FROM orders JOIN customer ON c_custkey = o_custkey
  JOIN nation ON n_nationkey = c_nationkey GROUP BY 1
),
cap AS (SELECT CAST(SUM(d) // 2 AS BIGINT) AS ccap,
               CAST(COUNT(*) AS BIGINT) AS n FROM dem),
s AS (
  SELECT party, d,
         CAST(ROW_NUMBER() OVER (ORDER BY d, party) AS BIGINT) AS r,
         CAST(SUM(d) OVER (ORDER BY d, party
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
           AS cum
  FROM dem
),
b AS (
  SELECT COALESCE(MAX(r), 0) AS r0
  FROM s, cap WHERE cum + (cap.n - r) * d <= cap.ccap
),
lvl AS (
  SELECT b.r0, cap.n, cap.ccap,
         COALESCE((SELECT cum FROM s WHERE r = b.r0), 0) AS cum0
  FROM b, cap
),
lam AS (
  SELECT r0, n, ccap,
         CASE WHEN r0 >= n THEN NULL
              ELSE (ccap - cum0) // (n - r0) END AS lambda,
         CASE WHEN r0 >= n THEN 0
              ELSE (ccap - cum0) % (n - r0) END AS leftover
  FROM lvl
)
SELECT s.party, s.d AS demand,
       CAST(CASE WHEN lam.lambda IS NULL OR s.r <= lam.r0 THEN s.d
                 ELSE lam.lambda
                      + (CASE WHEN s.r - lam.r0 <= lam.leftover
                              THEN 1 ELSE 0 END)
            END AS BIGINT) AS alloc
FROM s, lam
"""


@register("alloc_water_filling", oracle=_WF_ORACLE)
def alloc_water_filling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Water-filling (progressive filling / max-min fair) allocation: a
    shared capacity of half the total order volume is poured across the
    nations' demands; small demands are fully satisfied, large ones are
    capped at a common water level λ. Solved in CLOSED FORM: sort demands
    ascending, r0 = last rank where full satisfaction of ranks ≤ r0 plus
    level d_r0 for the rest fits the capacity, λ = (C − cum_{r0}) div
    (n − r0), and the integer remainder goes one unit each to the first
    `leftover` unsaturated parties in (demand, party) order — so
    Σ alloc == min(C, Σ d) EXACTLY. The max-min policy every multi-tenant
    scheduler and congestion-control allocator uses, next to the
    proportional divisor methods (alloc_dhondt_divisor).

    Scale shape: one input-sized aggregate to the party domain, then all
    window math runs on the BOUNDED party relation (the
    stats_kruskal_wallis aggregate-window discipline); the boundary rank
    r0 is a 1-row aggregate over it."""
    o = load(spark, sf_dir, "orders").select("o_custkey")
    c = load(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = load(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    dem = scratch_persist(
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy(F.col("n_name").alias("party"))
        .agg(F.count("*").cast("bigint").alias("d"))
    )
    cap = dem.agg(
        F.expr("CAST(SUM(d) div 2 AS BIGINT)").alias("ccap"),
        F.count("*").cast("bigint").alias("n"),
    )
    wo = Window.orderBy("d", "party")
    s = scratch_persist(
        dem.select(
            "party",
            "d",
            F.row_number().over(wo).cast("bigint").alias("r"),
            F.sum("d")
            .over(wo.rowsBetween(Window.unboundedPreceding, 0))
            .cast("bigint")
            .alias("cum"),
        )
    )
    b = (
        s.crossJoin(F.broadcast(cap))
        .filter(F.expr("cum + (n - r) * d <= ccap"))
        .agg(F.coalesce(F.max("r"), F.lit(0).cast("bigint")).alias("r0"))
    )
    lvl = (
        b.crossJoin(F.broadcast(cap))
        .join(
            s.select(F.col("r").alias("r0j"), F.col("cum").alias("cum0")),
            F.col("r0") == F.col("r0j"),
            "left",
        )
        .select(
            "r0",
            "n",
            "ccap",
            F.coalesce("cum0", F.lit(0).cast("bigint")).alias("cum0"),
        )
    )
    lam = lvl.select(
        "r0",
        F.expr(
            "CASE WHEN r0 >= n THEN NULL ELSE (ccap - cum0) div (n - r0) END"
        ).alias("lambda"),
        F.expr(
            "CASE WHEN r0 >= n THEN 0L ELSE (ccap - cum0) % (n - r0) END"
        ).alias("leftover"),
    )
    return s.crossJoin(F.broadcast(lam)).select(
        "party",
        F.col("d").alias("demand"),
        F.expr(
            "CAST(CASE WHEN lambda IS NULL OR r <= r0 THEN d"
            " ELSE lambda + (CASE WHEN r - r0 <= leftover THEN 1 ELSE 0 END)"
            " END AS BIGINT)"
        ).alias("alloc"),
    )


# ---------------------------------------------------------------------------
# window_rolling_ols_slope
# ---------------------------------------------------------------------------

_OLS_W = 7

_OLS_ORACLE = f"""
WITH daily AS (
  SELECT n_name AS nation, CAST(o_orderdate AS DATE) AS day,
         CAST(datediff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE))
              AS BIGINT) AS x,
         CAST(SUM({CENTS_SQL.format('o_totalprice')}) AS BIGINT) AS y
  FROM orders JOIN customer ON c_custkey = o_custkey
  JOIN nation ON n_nationkey = c_nationkey
  GROUP BY 1, 2, 3
),
w AS (
  SELECT nation, x AS day_idx,
         COUNT(*) OVER fr AS cnt,
         CAST(SUM(x) OVER fr AS BIGINT) AS sx,
         CAST(SUM(CAST(y AS DECIMAL(38,0))) OVER fr AS DECIMAL(38,0)) AS sy,
         CAST(SUM(CAST(x AS DECIMAL(38,0)) * y) OVER fr AS DECIMAL(38,0))
           AS sxy,
         CAST(SUM(x * x) OVER fr AS BIGINT) AS sxx
  FROM daily
  WINDOW fr AS (PARTITION BY nation ORDER BY day
                ROWS BETWEEN {_OLS_W - 1} PRECEDING AND CURRENT ROW)
)
SELECT nation, day_idx,
       CAST(CAST({_OLS_W} * sxy - sx * sy AS DECIMAL(38,0)) AS VARCHAR)
         AS slope_num,
       CAST({_OLS_W} * sxx - sx * sx AS BIGINT) AS slope_den
FROM w WHERE cnt = {_OLS_W}
"""


@register("window_rolling_ols_slope", oracle=_OLS_ORACLE)
@fdoc(f"""Rolling {_OLS_W}-day least-squares revenue trend per nation: the
    OLS slope over the trailing window as an EXACT rational —
    slope = (n·Σxy − Σx·Σy) / (n·Σx² − (Σx)²) with x = day index and
    y = revenue cents — reported as the (numerator, denominator) pair so
    no floating division (and no floor-vs-truncate divergence on the
    signed numerator) ever enters the hash. The denominator is positive
    whenever the frame holds {_OLS_W} distinct days, which the cnt
    filter guarantees. The windowed trend detector next to the global
    agg_regression_manual fit and the rank-based ts_theil_sen_slope.

    Scale shape: input-sized aggregate to the (nation × day) grid, then
    frame sums over nation-partitioned windows — day-grid-bounded
    relations at any scale factor. Cross products Σxy route through
    DECIMAL(38,0) ≙ HUGEINT (the repo's 128-bit rule: day-level national
    revenue in cents × a 4-digit day index overflows int64 within two
    decades of scale).""")
def window_rolling_ols_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders").select(
        "o_custkey", "o_totalprice", "o_orderdate"
    )
    c = load(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = load(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    daily = (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy(
            F.col("n_name").alias("nation"),
            F.expr("CAST(o_orderdate AS DATE)").alias("day"),
        )
        .agg(
            F.sum(cents("o_totalprice"))
            .cast("bigint")
            .alias("y")
        )
        .withColumn(
            "x", F.expr("CAST(datediff(day, DATE '1995-01-01') AS BIGINT)")
        )
    )
    fr = (
        Window.partitionBy("nation")
        .orderBy("day")
        .rowsBetween(-(_OLS_W - 1), 0)
    )
    w = daily.select(
        "nation",
        F.col("x").alias("day_idx"),
        F.count("*").over(fr).alias("cnt"),
        F.sum("x").over(fr).cast("bigint").alias("sx"),
        F.sum(F.expr("CAST(y AS DECIMAL(38,0))"))
        .over(fr)
        .cast("decimal(38,0)")
        .alias("sy"),
        F.sum(F.expr("CAST(x AS DECIMAL(38,0)) * y"))
        .over(fr)
        .cast("decimal(38,0)")
        .alias("sxy"),
        F.sum(F.expr("x * x")).over(fr).cast("bigint").alias("sxx"),
    )
    return w.filter(F.col("cnt") == _OLS_W).select(
        "nation",
        "day_idx",
        # the signed 128-bit numerator ships as STRING: DECIMAL(38,0)
        # degrades to float64 in DuckDB's pandas conversion, and BIGINT
        # overflows within two decades of scale — digits compare exactly
        F.expr(
            f"CAST(CAST({_OLS_W} * sxy - sx * sy AS DECIMAL(38,0)) AS STRING)"
        ).alias("slope_num"),
        F.expr(f"CAST({_OLS_W} * sxx - sx * sx AS BIGINT)").alias("slope_den"),
    )


# ---------------------------------------------------------------------------
# sample_systematic_cumweight
# ---------------------------------------------------------------------------

_SYS_TARGET = 100  # ~target sample size; step = total_mass div target
_SYS_BUCKETS = 1024  # fixed two-phase prefix-sum fan-in (bounded at any SF)

_SYS_ORACLE = f"""
WITH d AS (
  SELECT doc_id, CAST(n_chars AS BIGINT) AS w FROM documents
),
tot AS (SELECT CAST(SUM(w) AS BIGINT) AS tw FROM d),
c AS (
  SELECT doc_id, w,
         CAST(SUM(w) OVER (ORDER BY doc_id) AS BIGINT) AS cum
  FROM d
)
SELECT c.doc_id, c.w, c.cum
FROM c, tot
WHERE c.cum // greatest(tot.tw // {_SYS_TARGET}, 1)
    > (c.cum - c.w) // greatest(tot.tw // {_SYS_TARGET}, 1)
"""


@register("sample_systematic_cumweight", oracle=_SYS_ORACLE)
@fdoc(f"""Systematic PPS sampling by cumulative weight: lay the documents on
    a line in doc_id order, each owning a segment of length n_chars, and
    pick the document under every step-th mass boundary
    (step = total_mass div {_SYS_TARGET}) — the textbook
    probability-proportional-to-size systematic design: deterministic,
    one pass, inclusion probability ∝ w, and evenly spread along the
    frame order (implicit stratification), which is why survey samplers
    and corpus subsamplers prefer it to sort-by-random-key.

    Scale shape: the global running sum is computed with the TWO-PHASE
    prefix trick, never a single-partition window — docs land in
    {_SYS_BUCKETS} ORDERED id-range buckets (count fixed at any scale
    factor: buckets grow, fan-in doesn't), per-bucket mass is one hash
    aggregate, bucket prefix offsets are a bounded window over that
    {_SYS_BUCKETS}-row aggregate (broadcast back), and within-bucket
    cumulation is a bucket-partitioned window. The bucketed prefix sum
    equals the oracle's global window exactly (prefix-sum associativity).
    Selection is the pure-integer boundary-crossing predicate — no
    division of signed values anywhere.""")
def sample_systematic_cumweight(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents").select(
        "doc_id", F.col("n_chars").cast("bigint").alias("w")
    )
    tot = d.agg(
        F.sum("w").cast("bigint").alias("tw"),
        F.max("doc_id").cast("bigint").alias("mx"),
    )
    withb = scratch_persist(
        d.crossJoin(F.broadcast(tot)).select(
            "doc_id",
            "w",
            "tw",
            F.expr(
                f"CAST(doc_id div greatest((mx + {_SYS_BUCKETS}) div"
                f" {_SYS_BUCKETS}, 1) AS BIGINT)"
            ).alias("b"),
        )
    )
    bsum = withb.groupBy("b").agg(F.sum("w").cast("bigint").alias("bw"))
    wb = Window.orderBy("b").rowsBetween(Window.unboundedPreceding, 0)
    boff = bsum.select(
        "b", (F.sum("bw").over(wb) - F.col("bw")).cast("bigint").alias("off")
    )
    wi = (
        Window.partitionBy("b")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = withb.join(F.broadcast(boff), "b").select(
        "doc_id",
        "w",
        "tw",
        (F.col("off") + F.sum("w").over(wi)).cast("bigint").alias("cum"),
    )
    return cum.filter(
        F.expr(
            f"cum div greatest(tw div {_SYS_TARGET}, 1)"
            f" > (cum - w) div greatest(tw div {_SYS_TARGET}, 1)"
        )
    ).select("doc_id", "w", "cum")


# ---------------------------------------------------------------------------
# ts_ar1_phi_ppm
# ---------------------------------------------------------------------------

_AR1_ORACLE = f"""
WITH daily AS (
  SELECT n_name AS nation, CAST(o_orderdate AS DATE) AS day,
         CAST(SUM({CENTS_SQL.format('o_totalprice')}) AS BIGINT) AS y
  FROM orders JOIN customer ON c_custkey = o_custkey
  JOIN nation ON n_nationkey = c_nationkey GROUP BY 1, 2
),
lagd AS (
  SELECT nation, y,
         LAG(y) OVER (PARTITION BY nation ORDER BY day) AS yp
  FROM daily
),
s AS (
  SELECT nation, CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(CAST(yp AS HUGEINT) * y) AS HUGEINT) AS sxy,
         CAST(SUM(CAST(yp AS HUGEINT)) AS HUGEINT) AS sx,
         CAST(SUM(CAST(y AS HUGEINT)) AS HUGEINT) AS sy,
         CAST(SUM(CAST(yp AS HUGEINT) * yp) AS HUGEINT) AS sxx
  FROM lagd WHERE yp IS NOT NULL GROUP BY nation
)
SELECT nation, n AS n_pairs,
       CAST(CAST(n * sxy - sx * sy AS DECIMAL(38,0)) AS VARCHAR) AS phi_num,
       CAST(CAST(n * sxx - sx * sx AS DECIMAL(38,0)) AS VARCHAR) AS phi_den
FROM s WHERE n >= 2
"""


@register("ts_ar1_phi_ppm", oracle=_AR1_ORACLE)
def ts_ar1_phi_ppm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AR(1) autoregression coefficient of each nation's daily revenue:
    phi = Cov(y_t, y_{t−1}) / Var(y_{t−1}) over lag-1 pairs, as the exact
    (numerator, denominator) sufficient-statistic pair — |phi| < 1 is
    mean reversion, the per-series stationarity telemetry next to the
    pooled ts_variance_ratio_test. Numerator sign is meaningful, so no
    integer division touches it (floor-vs-truncate differs on negatives
    across engines); consumers divide.

    Scale shape: input-sized aggregate to the (nation × day) grid, one
    lag window per nation partition over that bounded grid, one final
    aggregate. Cross products y_t·y_{t−1} are cents × cents — int64
    overflows at ~10× fixture scale — so every product routes through
    DECIMAL(38,0) ≙ HUGEINT per the repo's 128-bit rule."""
    o = load(spark, sf_dir, "orders").select(
        "o_custkey", "o_totalprice", "o_orderdate"
    )
    c = load(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = load(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    daily = (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy(
            F.col("n_name").alias("nation"),
            F.expr("CAST(o_orderdate AS DATE)").alias("day"),
        )
        .agg(
            F.sum(cents("o_totalprice"))
            .cast("bigint")
            .alias("y")
        )
    )
    lagd = daily.select(
        "nation",
        "y",
        F.lag("y").over(Window.partitionBy("nation").orderBy("day")).alias("yp"),
    ).filter(F.col("yp").isNotNull())
    s = lagd.groupBy("nation").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum(F.expr("CAST(yp AS DECIMAL(38,0)) * y"))
        .cast("decimal(38,0)")
        .alias("sxy"),
        F.sum(F.expr("CAST(yp AS DECIMAL(38,0))")).cast("decimal(38,0)").alias("sx"),
        F.sum(F.expr("CAST(y AS DECIMAL(38,0))")).cast("decimal(38,0)").alias("sy"),
        F.sum(F.expr("CAST(yp AS DECIMAL(38,0)) * yp"))
        .cast("decimal(38,0)")
        .alias("sxx"),
    )
    return s.filter(F.col("n") >= 2).select(
        "nation",
        F.col("n").alias("n_pairs"),
        # signed 128-bit rationals ship as STRING (DuckDB's pandas path
        # degrades wide decimals to float64; digits compare exactly)
        F.expr(
            "CAST(CAST(n * sxy - sx * sy AS DECIMAL(38,0)) AS STRING)"
        ).alias("phi_num"),
        F.expr(
            "CAST(CAST(n * sxx - sx * sx AS DECIMAL(38,0)) AS STRING)"
        ).alias("phi_den"),
    )


# ---------------------------------------------------------------------------
# eval_psi_population_stability
# ---------------------------------------------------------------------------

_PSI_BUCKETS = 10
_PSI_SPLIT = "DATE '1998-01-01'"

_PSI_TERM = (
    "((CAST(c.np + 1 AS DOUBLE) / CAST(c.tp + {b} AS DOUBLE))"
    " - (CAST(c.nq + 1 AS DOUBLE) / CAST(c.tq + {b} AS DOUBLE)))"
    " * ln((CAST(c.np + 1 AS DOUBLE) / CAST(c.tp + {b} AS DOUBLE))"
    "      / (CAST(c.nq + 1 AS DOUBLE) / CAST(c.tq + {b} AS DOUBLE)))"
).format(b=_PSI_BUCKETS)

_PSI_ORACLE = f"""
WITH sc AS (
  SELECT {CENTS_SQL.format('o_totalprice')} AS v,
         CASE WHEN CAST(o_orderdate AS DATE) < {_PSI_SPLIT}
              THEN 0 ELSE 1 END AS half
  FROM orders
),
rng AS (SELECT MIN(v) AS lo, MAX(v) AS hi FROM sc),
bk AS (
  SELECT least({_PSI_BUCKETS - 1},
               ((v - lo) * {_PSI_BUCKETS}) // (hi - lo + 1)) AS bucket, half
  FROM sc, rng
),
grid AS (SELECT unnest(range(0, {_PSI_BUCKETS})) AS bucket),
cnt AS (
  SELECT grid.bucket,
         CAST(COALESCE(SUM(CASE WHEN half = 0 THEN 1 END), 0) AS BIGINT)
           AS np,
         CAST(COALESCE(SUM(CASE WHEN half = 1 THEN 1 END), 0) AS BIGINT)
           AS nq
  FROM grid LEFT JOIN bk ON bk.bucket = grid.bucket GROUP BY 1
),
tot AS (SELECT CAST(SUM(np) AS BIGINT) AS tp, CAST(SUM(nq) AS BIGINT) AS tq
        FROM cnt),
arr AS (
  SELECT list((bucket, np, nq, tp, tq) ORDER BY bucket) AS xs
  FROM cnt, tot GROUP BY tp, tq
)
SELECT (SELECT tp FROM tot) AS n_ref, (SELECT tq FROM tot) AS n_cur,
  ROUND(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
    list_transform(xs, c -> {_PSI_TERM.replace("c.np", "c[2]")
        .replace("c.nq", "c[3]").replace("c.tp", "c[4]")
        .replace("c.tq", "c[5]")})),
    (acc, v) -> acc + v), 6) AS psi_nats
FROM arr
"""


@register("eval_psi_population_stability", oracle=_PSI_ORACLE)
@fdoc(f"""Population Stability Index between the order-value distribution
    before and after {_PSI_SPLIT}: PSI = Σ (p_i − q_i)·ln(p_i/q_i) over
    {_PSI_BUCKETS} equal-width buckets (bounds from the POOLED min/max in
    exact integer cents, add-one smoothed so empty cells stay finite) —
    the scorecard-industry drift gate next to stats_chi2_drift (which
    tests significance; PSI is the thresholded effect-size convention:
    <0.1 stable, >0.25 shifted). ln enters only in the final fold over
    the {_PSI_BUCKETS}-element ordered bucket array (the
    corpus_jsd_trigram_drift determinism recipe); every count is exact
    integer up to that point.

    Scale shape: one input-sized bucketing pass (bucket id is pure
    integer arithmetic against the broadcast 1-row min/max), one
    {_PSI_BUCKETS}-cell aggregate, one bounded fold.""")
def eval_psi_population_stability(spark: SparkSession, sf_dir: str) -> DataFrame:
    sc = scratch_persist(
        load(spark, sf_dir, "orders").select(
            cents("o_totalprice").alias("v"),
            F.expr(
                f"CASE WHEN CAST(o_orderdate AS DATE) < {_PSI_SPLIT}"
                " THEN 0 ELSE 1 END"
            ).alias("half"),
        )
    )
    rng = sc.agg(F.min("v").alias("lo"), F.max("v").alias("hi"))
    bk = sc.crossJoin(F.broadcast(rng)).select(
        F.expr(
            f"least({_PSI_BUCKETS - 1},"
            f" ((v - lo) * {_PSI_BUCKETS}) div (hi - lo + 1))"
        ).alias("bucket"),
        "half",
    )
    grid = spark.range(_PSI_BUCKETS).select(F.col("id").alias("bucket"))
    # aggregate BEFORE touching the grid: a grid-side left join over the
    # row-level frame shuffles the whole input onto 10 bucket keys (the
    # 10x artifact measured the plan flip: 6.6 KB -> 16 MB shuffle when
    # the frame outgrew the broadcast threshold); the map-combining
    # aggregate reduces to <= 2 x buckets cells first, then the bounded
    # grid join only fills empty buckets
    cells = bk.groupBy("bucket").agg(
        F.sum(F.expr("CASE WHEN half = 0 THEN 1 ELSE 0 END"))
        .cast("bigint")
        .alias("np0"),
        F.sum(F.expr("CASE WHEN half = 1 THEN 1 ELSE 0 END"))
        .cast("bigint")
        .alias("nq0"),
    )
    cnt = grid.join(F.broadcast(cells), "bucket", "left").select(
        "bucket",
        F.coalesce("np0", F.lit(0).cast("bigint")).alias("np"),
        F.coalesce("nq0", F.lit(0).cast("bigint")).alias("nq"),
    )
    tot = cnt.agg(
        F.sum("np").cast("bigint").alias("tp"),
        F.sum("nq").cast("bigint").alias("tq"),
    )
    arr = (
        cnt.crossJoin(F.broadcast(tot))
        .select(F.struct("bucket", "np", "nq", "tp", "tq").alias("c"))
        .agg(F.expr("array_sort(collect_list(c))").alias("xs"))
        .crossJoin(F.broadcast(tot))
    )
    return arr.select(
        F.col("tp").alias("n_ref"),
        F.col("tq").alias("n_cur"),
        F.round(
            F.expr(
                f"aggregate(transform(xs, c -> {_PSI_TERM}),"
                " CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)"
            ),
            6,
        ).alias("psi_nats"),
    )
