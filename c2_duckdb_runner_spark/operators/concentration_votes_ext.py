"""Round-4 concentration / partition-quality extensions — four more
oracled operators:

- PARETO 80/20 POINT — the smallest number of top customers covering
  80% of revenue, located EXACTLY inside the distinct-spend histogram
  (cross-multiplied crossing test + an integer ceil for the position
  inside the tie group) — no global per-row running sum;
- LORENZ DECILE CURVE — cumulative revenue share by spend decile, the
  curve the registered Gini coefficient integrates; deciles come from
  broadcast histogram cuts (same mechanism as eval_decile_lift_table),
  never a global ntile window;
- GRAPH MODULARITY of the nation partition — is the customer–supplier
  graph assortative by nation? Q·4m² = Σ_c(4·m·m_c − d_c²) keeps the
  classic modularity sum integer-exact;
- COCHRAN'S Q — the k-classifier generalization of the registered
  McNemar test: do three deterministic classifiers have equal error
  rates on the SAME examples?

Reference reach: the delegated SQL slot (``main.cc:181-182``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from c2_duckdb_runner_spark.operators.graph import cust_supp_pairs
from c2_duckdb_runner_spark.operators.inference_ext import CENTS_SQL, cents
from c2_duckdb_runner_spark.registry import register
from c2_duckdb_runner_spark.session import scratch_persist
from c2_duckdb_runner_spark.tables import load

# ---------------------------------------------------------------------------
# agg_pareto_8020
# ---------------------------------------------------------------------------

_PARETO_ORACLE = f"""
WITH s AS (
  SELECT o_custkey,
         CAST(SUM({CENTS_SQL.format('o_totalprice')}) AS BIGINT) AS cents
  FROM orders GROUP BY 1
),
h AS (SELECT cents AS v, CAST(COUNT(*) AS BIGINT) AS cnt FROM s GROUP BY 1),
c AS (
  SELECT v, cnt,
         CAST(SUM(cnt) OVER (ORDER BY v DESC) - cnt AS BIGINT) AS ccnt_before,
         CAST(SUM(v*cnt) OVER (ORDER BY v DESC) - v*cnt AS BIGINT) AS csum_before,
         CAST(SUM(v*cnt) OVER () AS BIGINT) AS tot,
         CAST(SUM(cnt) OVER () AS BIGINT) AS n_cust
  FROM h
)
SELECT n_cust AS n_customers,
  CAST(ccnt_before + (4*tot - 5*csum_before + 5*v - 1) // (5*v) AS BIGINT) AS n_top,
  CAST((10000*(ccnt_before + (4*tot - 5*csum_before + 5*v - 1) // (5*v)))
       // n_cust AS BIGINT) AS top_share_bp
FROM c
WHERE 5*(csum_before + cnt*v) >= 4*tot AND 5*csum_before < 4*tot
"""


@register("agg_pareto_8020", oracle=_PARETO_ORACLE)
def agg_pareto_8020(spark: SparkSession, sf_dir: str) -> DataFrame:
    """How many top customers cover 80% of revenue? The crossing point is
    located inside the DISTINCT-SPEND histogram: walk the descending
    cumulative (count, sum) per distinct value, find the value where
    5·cumsum first reaches 4·total (cross-multiplied — no 0.8 float),
    and place the exact rank inside that tie group with an integer ceil
    ⌈(4·tot − 5·before)/(5·v)⌉. The windows run over distinct spend
    values, never customer rows, and there is no global running sum over
    the population — same scale doctrine as eval_decile_lift_table."""
    o = load(spark, sf_dir, "orders")
    s = o.groupBy("o_custkey").agg(
        F.sum(cents("o_totalprice"))
        .cast("bigint")
        .alias("cents")
    )
    h = s.groupBy(F.col("cents").alias("v")).agg(F.count("*").cast("bigint").alias("cnt"))
    wv = Window.orderBy(F.col("v").desc()).rowsBetween(Window.unboundedPreceding, 0)
    wall = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    c = h.select(
        "v",
        "cnt",
        (F.sum("cnt").over(wv) - F.col("cnt")).cast("bigint").alias("ccnt_before"),
        (F.sum(F.expr("v*cnt")).over(wv) - F.expr("v*cnt"))
        .cast("bigint")
        .alias("csum_before"),
        F.sum(F.expr("v*cnt")).over(wall).cast("bigint").alias("tot"),
        F.sum("cnt").over(wall).cast("bigint").alias("n_cust"),
    )
    return c.where(
        F.expr("5*(csum_before + cnt*v) >= 4*tot AND 5*csum_before < 4*tot")
    ).select(
        F.col("n_cust").alias("n_customers"),
        F.expr(
            "CAST(ccnt_before + (4*tot - 5*csum_before + 5*v - 1) DIV (5*v)"
            " AS BIGINT)"
        ).alias("n_top"),
        F.expr(
            "CAST((10000*(ccnt_before + (4*tot - 5*csum_before + 5*v - 1)"
            " DIV (5*v))) DIV n_cust AS BIGINT)"
        ).alias("top_share_bp"),
    )


# ---------------------------------------------------------------------------
# agg_lorenz_deciles
# ---------------------------------------------------------------------------

_LORENZ_ORACLE = f"""
WITH s AS (
  SELECT o_custkey,
         CAST(SUM({CENTS_SQL.format('o_totalprice')}) AS BIGINT) AS cents
  FROM orders GROUP BY 1
),
h AS (SELECT cents AS v, CAST(COUNT(*) AS BIGINT) AS cnt FROM s GROUP BY 1),
c AS (
  SELECT v, cnt, CAST(SUM(cnt) OVER (ORDER BY v ASC) - cnt AS BIGINT) AS cum_before,
         CAST(SUM(cnt) OVER () AS BIGINT) AS n
  FROM h
),
cuts AS (
  SELECT dec.d AS decile, c.v AS cut_v
  FROM (SELECT unnest(range(1, 10)) AS d) dec
  JOIN c ON (dec.d * c.n) // 10 - 1 >= c.cum_before
        AND (dec.d * c.n) // 10 - 1 < c.cum_before + c.cnt
),
assigned AS (
  SELECT s.cents,
         1 + CAST(COALESCE(
               (SELECT COUNT(*) FROM cuts WHERE s.cents > cuts.cut_v), 0) AS INT)
           AS decile
  FROM s
),
per AS (SELECT decile, CAST(COUNT(*) AS BIGINT) AS n_customers,
               CAST(SUM(cents) AS BIGINT) AS decile_cents
        FROM assigned GROUP BY 1),
tot AS (SELECT CAST(SUM(decile_cents) AS BIGINT) AS t FROM per),
cumt AS (SELECT decile, n_customers, decile_cents,
                CAST(SUM(decile_cents) OVER (ORDER BY decile) AS BIGINT) AS crun
         FROM per)
SELECT CAST(decile AS INT) AS decile, n_customers, decile_cents,
       CAST(((1000*crun) // t) * 1000 + (((1000*crun) % t) * 1000) // t
            AS BIGINT) AS cum_share_micro
FROM cumt CROSS JOIN tot
"""


@register("agg_lorenz_deciles", oracle=_LORENZ_ORACLE)
def agg_lorenz_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lorenz curve at decile resolution — cumulative revenue share of
    the poorest→richest customer deciles, the curve
    agg_gini_concentration integrates. Decile boundaries come from the
    ascending distinct-spend histogram, broadcast as 9 cut values, and
    each customer's decile is a map-only comparison (ties share a
    decile identically in both engines) — exactly the
    eval_decile_lift_table mechanism, no global ntile. The per-customer
    rollup is persisted so cuts and assignment read ONE orders pass."""
    o = load(spark, sf_dir, "orders")
    s = scratch_persist(
        o.groupBy("o_custkey").agg(
            F.sum(cents("o_totalprice"))
            .cast("bigint")
            .alias("cents")
        )
    )
    h = s.groupBy(F.col("cents").alias("v")).agg(
        F.count("*").cast("bigint").alias("cnt")
    )
    wv = Window.orderBy(F.col("v").asc()).rowsBetween(Window.unboundedPreceding, 0)
    c = h.select(
        "v",
        "cnt",
        (F.sum("cnt").over(wv) - F.col("cnt")).cast("bigint").alias("cum_before"),
        F.sum("cnt")
        .over(Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing))
        .cast("bigint")
        .alias("n"),
    )
    dec = spark.range(1, 10).select(F.col("id").alias("d"))
    pos_expr = F.expr("(d * n) div 10 - 1")
    cuts = c.join(
        F.broadcast(dec),
        (pos_expr >= F.col("cum_before"))
        & (pos_expr < F.col("cum_before") + F.col("cnt")),
    ).select(F.col("d").alias("decile"), F.col("v").alias("cut_v"))
    cut_arr = cuts.agg(
        F.expr("sort_array(collect_list(struct(decile, cut_v)))").alias("ca")
    ).select(F.expr("transform(ca, p -> p.cut_v)").alias("cut_vs"))
    assigned = s.crossJoin(F.broadcast(cut_arr)).select(
        "cents",
        (1 + F.expr("size(filter(cut_vs, cv -> cents > cv))")).cast("int").alias(
            "decile"
        ),
    )
    per = assigned.groupBy("decile").agg(
        F.count("*").cast("bigint").alias("n_customers"),
        F.sum("cents").cast("bigint").alias("decile_cents"),
    )
    tot = per.agg(F.sum("decile_cents").cast("bigint").alias("t"))
    wd = Window.orderBy("decile").rowsBetween(Window.unboundedPreceding, 0)
    cumt = per.select(
        "decile",
        "n_customers",
        "decile_cents",
        F.sum("decile_cents").over(wd).cast("bigint").alias("crun"),
    )
    # micro share via the exact split floor((a·10⁶)/t) = floor(a·10³/t)·10³
    # + floor(((a·10³) mod t)·10³/t): a full 10⁶ multiply of a corpus-sized
    # cent total overflows int64 at ~10× sf0.1 (caught by the round-5 scale
    # run); the two-stage form is exact and safe to ~400× with the same
    # integer semantics in both engines.
    return cumt.crossJoin(F.broadcast(tot)).select(
        F.col("decile").cast("int").alias("decile"),
        "n_customers",
        "decile_cents",
        F.expr(
            "CAST(((1000*crun) DIV t) * 1000"
            " + (((1000*crun) % t) * 1000) DIV t AS BIGINT)"
        ).alias("cum_share_micro"),
    )


# ---------------------------------------------------------------------------
# graph_modularity_nation
# ---------------------------------------------------------------------------

_MODULARITY_ORACLE = """
WITH pairs AS (
  SELECT DISTINCT o.o_custkey AS c, l.l_suppkey AS s
  FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
),
lab AS (
  SELECT p.c, p.s, cu.c_nationkey AS cn, su.s_nationkey AS sn
  FROM pairs p JOIN customer cu ON cu.c_custkey = p.c
               JOIN supplier su ON su.s_suppkey = p.s
),
m AS (SELECT CAST(COUNT(*) AS BIGINT) AS m_edges FROM lab),
intra AS (
  SELECT CAST(cn AS INT) AS com,
         CAST(SUM(CASE WHEN cn = sn THEN 1 ELSE 0 END) AS BIGINT) AS m_c
  FROM lab GROUP BY 1
),
degs AS (
  SELECT com, CAST(SUM(d) AS BIGINT) AS d_c FROM (
    SELECT CAST(cn AS INT) AS com, CAST(COUNT(*) AS BIGINT) AS d FROM lab GROUP BY cn
    UNION ALL
    SELECT CAST(sn AS INT) AS com, CAST(COUNT(*) AS BIGINT) AS d FROM lab GROUP BY sn
  ) GROUP BY 1
),
terms AS (
  SELECT d.com, COALESCE(i.m_c, 0) AS m_c, d.d_c, m.m_edges
  FROM degs d LEFT JOIN intra i ON i.com = d.com CROSS JOIN m
)
SELECT CAST(COUNT(*) AS INT) AS n_communities,
  CAST(MAX(m_edges) AS BIGINT) AS m_edges,
  CAST(SUM(4*m_edges*m_c - d_c*d_c) AS BIGINT) AS q_num,
  CAST(4*MAX(m_edges)*MAX(m_edges) AS BIGINT) AS q_den,
  CAST(CASE WHEN SUM(4*m_edges*m_c - d_c*d_c) >= 0
       THEN (1000000*SUM(4*m_edges*m_c - d_c*d_c))
            // (4*MAX(m_edges)*MAX(m_edges))
       ELSE -((1000000*(-SUM(4*m_edges*m_c - d_c*d_c)))
            // (4*MAX(m_edges)*MAX(m_edges))) END AS BIGINT) AS q_micro
FROM terms
"""


@register("graph_modularity_nation", oracle=_MODULARITY_ORACLE)
def graph_modularity_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Newman modularity Q of the NATION partition of the bipartite
    customer–supplier graph: do same-nation pairs trade more than a
    degree-preserving random graph predicts? Q·4m² = Σ_c(4·m·m_c − d_c²)
    keeps it integer-exact (sign-split micro at the end); the observed
    Q < 0 says nation is a DISASSORTATIVE partition here — exactly what
    graph_degree_assortativity measures on degrees, completed on labels.

    Scale shape: edges annotated with both endpoint labels via two keyed
    joins (the labeled edge relation is persisted and feeds the intra
    count AND both degree sums — one pass over data-sized state);
    everything after runs on 25 community rows."""
    cu = load(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    su = load(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    pairs = cust_supp_pairs(spark, sf_dir).distinct()
    lab = scratch_persist(
        pairs.join(cu, pairs.c == cu.c_custkey)
        .join(su, pairs.s == su.s_suppkey)
        .select(
            F.col("c_nationkey").cast("int").alias("cn"),
            F.col("s_nationkey").cast("int").alias("sn"),
        )
    )
    m = lab.agg(F.count("*").cast("bigint").alias("m_edges"))
    intra = lab.groupBy(F.col("cn").alias("com")).agg(
        F.sum(F.expr("CASE WHEN cn = sn THEN 1 ELSE 0 END"))
        .cast("bigint")
        .alias("m_c")
    )
    degs = (
        lab.groupBy(F.col("cn").alias("com"))
        .agg(F.count("*").cast("bigint").alias("d"))
        .union(
            lab.groupBy(F.col("sn").alias("com")).agg(
                F.count("*").cast("bigint").alias("d")
            )
        )
        .groupBy("com")
        .agg(F.sum("d").cast("bigint").alias("d_c"))
    )
    terms = (
        degs.join(F.broadcast(intra), "com", "left")
        .select("com", F.coalesce("m_c", F.lit(0)).alias("m_c"), "d_c")
        .crossJoin(F.broadcast(m))
    )
    return terms.agg(
        F.count("*").cast("int").alias("n_communities"),
        F.max("m_edges").cast("bigint").alias("m_edges"),
        F.sum(F.expr("4*m_edges*m_c - d_c*d_c")).cast("bigint").alias("q_num"),
        F.expr("CAST(4*MAX(m_edges)*MAX(m_edges) AS BIGINT)").alias("q_den"),
        F.expr(
            "CAST(CASE WHEN SUM(4*m_edges*m_c - d_c*d_c) >= 0"
            " THEN (1000000*SUM(4*m_edges*m_c - d_c*d_c))"
            " DIV (4*MAX(m_edges)*MAX(m_edges))"
            " ELSE -((1000000*(-SUM(4*m_edges*m_c - d_c*d_c)))"
            " DIV (4*MAX(m_edges)*MAX(m_edges))) END AS BIGINT)"
        ).alias("q_micro"),
    )


# ---------------------------------------------------------------------------
# stats_cochran_q
# ---------------------------------------------------------------------------

_COCHRAN_ORACLE = """
WITH s AS (
  SELECT CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y,
         CASE WHEN value >= 100 THEN 1 ELSE 0 END AS p1,
         CASE WHEN user_id % 3 = 0 THEN 1 ELSE 0 END AS p2,
         CASE WHEN value >= 50 AND user_id % 2 = 0 THEN 1 ELSE 0 END AS p3
  FROM events
),
c AS (
  SELECT CASE WHEN p1 = y THEN 1 ELSE 0 END AS x1,
         CASE WHEN p2 = y THEN 1 ELSE 0 END AS x2,
         CASE WHEN p3 = y THEN 1 ELSE 0 END AS x3
  FROM s
),
agg AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(x1) AS BIGINT) AS g1, CAST(SUM(x2) AS BIGINT) AS g2,
         CAST(SUM(x3) AS BIGINT) AS g3,
         CAST(SUM(x1+x2+x3) AS BIGINT) AS sl,
         CAST(SUM((x1+x2+x3)*(x1+x2+x3)) AS BIGINT) AS sl2
  FROM c
)
SELECT n, g1, g2, g3,
  CAST(3*2*(3*(g1*g1+g2*g2+g3*g3) - sl*sl) AS BIGINT) AS q_num,
  CAST(3*(3*sl - sl2) AS BIGINT) AS q_den,
  CAST(CASE WHEN 3*sl - sl2 > 0
       THEN (1000000*(2*(3*(g1*g1+g2*g2+g3*g3) - sl*sl))) // (3*sl - sl2)
       ELSE 0 END AS BIGINT) AS q_micro
FROM agg
"""


@register("stats_cochran_q", oracle=_COCHRAN_ORACLE)
def stats_cochran_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cochran's Q across THREE deterministic purchase classifiers on the
    same events — the k-sample generalization of eval_mcnemar_paired
    (reduces to McNemar at k=2): Q = k(k−1)·(kΣGⱼ² − (ΣL)²)/(kΣL − ΣL²)
    from per-row correctness indicators. All moments are conditional
    sums in ONE scan; the statistic is an exact integer fraction plus a
    positive-operand micro division (BIGINT headroom to ~10⁷ rows per
    final aggregate; re-scale beyond)."""
    e = load(spark, sf_dir, "events")
    c = e.select(
        F.expr(
            "CASE WHEN (CASE WHEN value >= 100 THEN 1 ELSE 0 END)"
            " = (CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)"
            " THEN 1 ELSE 0 END"
        ).alias("x1"),
        F.expr(
            "CASE WHEN (CASE WHEN user_id % 3 = 0 THEN 1 ELSE 0 END)"
            " = (CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)"
            " THEN 1 ELSE 0 END"
        ).alias("x2"),
        F.expr(
            "CASE WHEN (CASE WHEN value >= 50 AND user_id % 2 = 0 THEN 1 ELSE 0 END)"
            " = (CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)"
            " THEN 1 ELSE 0 END"
        ).alias("x3"),
    )
    agg = c.agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("x1").cast("bigint").alias("g1"),
        F.sum("x2").cast("bigint").alias("g2"),
        F.sum("x3").cast("bigint").alias("g3"),
        F.sum(F.expr("x1+x2+x3")).cast("bigint").alias("sl"),
        F.sum(F.expr("(x1+x2+x3)*(x1+x2+x3)")).cast("bigint").alias("sl2"),
    )
    return agg.select(
        "n",
        "g1",
        "g2",
        "g3",
        F.expr("CAST(3*2*(3*(g1*g1+g2*g2+g3*g3) - sl*sl) AS BIGINT)").alias("q_num"),
        F.expr("CAST(3*(3*sl - sl2) AS BIGINT)").alias("q_den"),
        F.expr(
            "CAST(CASE WHEN 3*sl - sl2 > 0"
            " THEN (1000000*(2*(3*(g1*g1+g2*g2+g3*g3) - sl*sl))) DIV (3*sl - sl2)"
            " ELSE 0 END AS BIGINT)"
        ).alias("q_micro"),
    )
