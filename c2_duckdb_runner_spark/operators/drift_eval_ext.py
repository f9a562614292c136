"""Round-4 model-evaluation / drift-inference extensions — the five
remaining metrics an evaluation + monitoring pipeline runs next to the
existing KS/chi-square/ECE/lift family:

- EXACT AUC-ROC via the rank-sum (Mann-Whitney) identity, kept as an
  integer fraction so no float division ever touches the hash;
- POPULATION STABILITY INDEX (PSI) — the industry-standard score-drift
  metric between a reference and a current window;
- MUTUAL INFORMATION between two categorical columns — the
  feature-selection/leak-detection primitive Gini split gain (already
  registered) doesn't cover;
- WELCH's unequal-variance t statistic + Welch–Satterthwaite df — the
  parametric two-sample test the permutation test approximates;
- BENJAMINI-HOCHBERG FDR over per-nation permutation p-values — the
  multiple-testing correction any per-segment monitoring sweep needs
  before alerting on 25 simultaneous tests.

Determinism doctrine (same as the rest of the repo): counts and sums stay
integer end-to-end; every ``ln``-bearing reduction is a LEFT-TO-RIGHT fold
over an explicitly ORDER-BY-sorted bounded array (``F.aggregate`` ≙
``list_reduce``), never a float SUM whose partial-merge order varies; the
only raw float ops are IEEE-determined (divide, sqrt, ln of identical
inputs) written with identical expression shape on both engines.

Reference reach: the delegated SQL slot (``main.cc:181-182``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from c2_duckdb_runner_spark.operators.inference_ext import CENTS_SQL, cents
from c2_duckdb_runner_spark.registry import register
from c2_duckdb_runner_spark.tables import load

# ---------------------------------------------------------------------------
# eval_auc_rank — exact AUC as an integer fraction
# ---------------------------------------------------------------------------

_AUC_ORACLE = f"""
WITH s AS (
  SELECT {CENTS_SQL.format('value')} AS c,
         CAST(SUM(CASE WHEN event_type='purchase' THEN 1 ELSE 0 END) AS BIGINT) AS pos,
         CAST(SUM(CASE WHEN event_type<>'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS neg
  FROM events GROUP BY 1
),
w AS (
  SELECT pos, neg,
         CAST(SUM(neg) OVER (ORDER BY c ROWS BETWEEN UNBOUNDED PRECEDING
                             AND CURRENT ROW) - neg AS BIGINT) AS below
  FROM s
)
SELECT CAST(SUM(pos) AS BIGINT) AS n_pos, CAST(SUM(neg) AS BIGINT) AS n_neg,
       CAST(SUM(pos*(2*below+neg)) AS BIGINT) AS auc_num2,
       CAST(2*SUM(pos)*SUM(neg) AS BIGINT) AS auc_den2
FROM w
"""


@register("eval_auc_rank", oracle=_AUC_ORACLE)
def eval_auc_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact AUC-ROC of `value` as a purchase-vs-rest score, via the
    rank-sum identity AUC = P(score_pos > score_neg) + ½·P(tie).

    Computed on the per-distinct-score histogram, not the row stream: one
    groupBy collapses N rows to the score domain (cents resolution bounds
    it by price range, independent of row count — the 100 TB reduction),
    then a single running-sum window over that bounded domain counts
    (pos, neg) discordant pairs. Doubling everything (`auc_num2/auc_den2`)
    keeps tie half-credits integer, so the result is an EXACT fraction —
    no float division, no rounding-band flakiness. The single-partition
    window is over the score domain only (≪ rows), never the input."""
    e = load(spark, sf_dir, "events")
    hist = (
        e.select(
            cents("value").alias("c"),
            F.expr(
                "CAST(CASE WHEN event_type='purchase' THEN 1 ELSE 0 END AS BIGINT)"
            ).alias("p"),
        )
        .groupBy("c")
        .agg(
            F.sum("p").alias("pos"),
            (F.count("*") - F.sum("p")).alias("neg"),
        )
    )
    from pyspark.sql.window import Window

    w = Window.orderBy("c").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    ranked = hist.withColumn("below", F.sum("neg").over(w) - F.col("neg"))
    return ranked.agg(
        F.sum("pos").alias("n_pos"),
        F.sum("neg").alias("n_neg"),
        F.sum(F.expr("pos*(2*below+neg)")).alias("auc_num2"),
        (F.lit(2) * F.sum("pos") * F.sum("neg")).alias("auc_den2"),
    )


# ---------------------------------------------------------------------------
# stats_psi_drift — population stability index over fixed-width bins
# ---------------------------------------------------------------------------

_PSI_ORACLE = """
WITH b AS (
  SELECT LEAST(9, CAST(floor(value/33.0) AS INT)) AS bin,
         CAST(SUM(CASE WHEN day(ts) <= 15 THEN 1 ELSE 0 END) AS BIGINT) AS n_old,
         CAST(SUM(CASE WHEN day(ts) > 15 THEN 1 ELSE 0 END) AS BIGINT) AS n_new
  FROM events GROUP BY 1
),
grid AS (
  SELECT g.bin, COALESCE(b.n_old, 0) AS n_old, COALESCE(b.n_new, 0) AS n_new
  FROM (SELECT unnest(range(0,10)) AS bin) g LEFT JOIN b ON b.bin = g.bin
),
tot AS (SELECT CAST(SUM(n_old) AS BIGINT) AS t_old,
               CAST(SUM(n_new) AS BIGINT) AS t_new,
               list((n_old, n_new) ORDER BY bin) AS cells FROM grid)
SELECT t_old AS n_old, t_new AS n_new,
  ROUND(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
    list_transform(cells, c ->
      ((CAST(c[1]+1 AS DOUBLE)/CAST(t_old+10 AS DOUBLE))
       - (CAST(c[2]+1 AS DOUBLE)/CAST(t_new+10 AS DOUBLE)))
      * ln((CAST(c[1]+1 AS DOUBLE)/CAST(t_old+10 AS DOUBLE))
           / (CAST(c[2]+1 AS DOUBLE)/CAST(t_new+10 AS DOUBLE))))),
    (acc, x) -> acc + x), 6) AS psi_r6
FROM tot
"""


@register("stats_psi_drift", oracle=_PSI_ORACLE)
def stats_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PSI between the first- and second-half-of-month value distributions
    over 10 fixed-width bins, add-one smoothed so empty bins can't blow up
    the log.

    One conditional-sum scan builds both histograms at once (never two
    passes); the 10-bin grid is a literal sequence outer-joined in so
    zero-count bins still contribute; the Σ(p−q)·ln(p/q) reduction is a
    left-to-right fold over the bin-ordered 10-element array — bounded,
    deterministic, identical on both engines. Scale: the scan is the only
    data-sized stage; everything after is a 10-row plan."""
    e = load(spark, sf_dir, "events")
    b = (
        e.select(
            F.expr("LEAST(9, CAST(floor(value/33.0) AS INT))").alias("bin"),
            F.expr("CAST(CASE WHEN day(ts) <= 15 THEN 1 ELSE 0 END AS BIGINT)").alias(
                "o"
            ),
        )
        .groupBy("bin")
        .agg(
            F.sum("o").alias("n_old"),
            (F.count("*") - F.sum("o")).alias("n_new"),
        )
    )
    grid = spark.range(10).select(F.col("id").cast("int").alias("bin"))
    g = (
        grid.join(F.broadcast(b), "bin", "left")
        .select(
            "bin",
            F.coalesce("n_old", F.lit(0)).alias("n_old"),
            F.coalesce("n_new", F.lit(0)).alias("n_new"),
        )
    )
    return g.agg(
        F.sum("n_old").alias("t_old"),
        F.sum("n_new").alias("t_new"),
        F.array_sort(F.collect_list(F.struct("bin", "n_old", "n_new"))).alias("cells"),
    ).select(
        F.col("t_old").alias("n_old"),
        F.col("t_new").alias("n_new"),
        F.round(
            F.expr(
                """
                aggregate(
                  transform(cells, c ->
                    ((CAST(c.n_old+1 AS DOUBLE)/CAST(t_old+10 AS DOUBLE))
                     - (CAST(c.n_new+1 AS DOUBLE)/CAST(t_new+10 AS DOUBLE)))
                    * ln((CAST(c.n_old+1 AS DOUBLE)/CAST(t_old+10 AS DOUBLE))
                         / (CAST(c.n_new+1 AS DOUBLE)/CAST(t_new+10 AS DOUBLE)))),
                  CAST(0.0 AS DOUBLE), (acc, x) -> acc + x)
                """
            ),
            6,
        ).alias("psi_r6"),
    )


# ---------------------------------------------------------------------------
# stats_mutual_information — MI between event_type and a user bucket
# ---------------------------------------------------------------------------

_MI_ORACLE = """
WITH cell AS (
  SELECT event_type AS a, CAST(user_id % 4 AS INT) AS b,
         CAST(COUNT(*) AS BIGINT) AS c
  FROM events GROUP BY 1, 2
),
parts AS (
  SELECT
    (SELECT CAST(SUM(c) AS BIGINT) FROM cell) AS n,
    (SELECT COUNT(*) FROM cell) AS n_cells,
    (SELECT list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
        list_transform(list(c ORDER BY a, b),
                       x -> CAST(x AS DOUBLE)*ln(CAST(x AS DOUBLE)))),
        (acc,x)->acc+x) FROM cell) AS s_ab,
    (SELECT list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
        list_transform(list(c ORDER BY a),
                       x -> CAST(x AS DOUBLE)*ln(CAST(x AS DOUBLE)))),
        (acc,x)->acc+x)
     FROM (SELECT a, CAST(SUM(c) AS BIGINT) AS c FROM cell GROUP BY 1)) AS s_a,
    (SELECT list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
        list_transform(list(c ORDER BY b),
                       x -> CAST(x AS DOUBLE)*ln(CAST(x AS DOUBLE)))),
        (acc,x)->acc+x)
     FROM (SELECT b, CAST(SUM(c) AS BIGINT) AS c FROM cell GROUP BY 1)) AS s_b
)
SELECT CAST(n AS BIGINT) AS n, CAST(n_cells AS INT) AS n_cells,
  ROUND((s_ab - s_a - s_b + CAST(n AS DOUBLE)*ln(CAST(n AS DOUBLE)))
        / CAST(n AS DOUBLE), 6) AS mi_r6
FROM parts
"""

_FOLD_NLOGN = (
    "aggregate(transform({arr}, x -> CAST(x AS DOUBLE)*ln(CAST(x AS DOUBLE))), "
    "CAST(0.0 AS DOUBLE), (acc, x) -> acc + x)"
)


@register("stats_mutual_information", oracle=_MI_ORACLE)
def stats_mutual_information(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mutual information (nats) between event_type and user_id%4 via the
    counts-only identity MI = [Σc_ab·ln c_ab − Σc_a·ln c_a − Σc_b·ln c_b
    + N·ln N] / N.

    The data-sized work is ONE (a,b) cell count; margins derive from the
    cell table (≤ |a|·|b| rows), so the input is scanned once. The three
    ln-sums fold left-to-right over explicitly sorted bounded arrays —
    categorical-cardinality-sized, never data-sized — making the float
    result bit-identical across engines and partitionings."""
    e = load(spark, sf_dir, "events")
    cell = (
        e.select(
            F.col("event_type").alias("a"),
            F.expr("CAST(user_id % 4 AS INT)").alias("b"),
        )
        .groupBy("a", "b")
        .agg(F.count("*").alias("c"))
    )
    from c2_duckdb_runner_spark.session import scratch_persist

    cell = scratch_persist(cell)
    s_ab = cell.agg(
        F.sum("c").alias("n"),
        F.count("*").cast("int").alias("n_cells"),
        F.expr(
            "transform(array_sort(collect_list(struct(a, b, c))), x -> x.c)"
        ).alias("arr"),
    ).select("n", "n_cells", F.expr(_FOLD_NLOGN.format(arr="arr")).alias("s_ab"))
    s_a = (
        cell.groupBy("a")
        .agg(F.sum("c").alias("c"))
        .agg(
            F.expr("transform(array_sort(collect_list(struct(a, c))), x -> x.c)").alias(
                "arr"
            )
        )
        .select(F.expr(_FOLD_NLOGN.format(arr="arr")).alias("s_a"))
    )
    s_b = (
        cell.groupBy("b")
        .agg(F.sum("c").alias("c"))
        .agg(
            F.expr("transform(array_sort(collect_list(struct(b, c))), x -> x.c)").alias(
                "arr"
            )
        )
        .select(F.expr(_FOLD_NLOGN.format(arr="arr")).alias("s_b"))
    )
    return (
        s_ab.crossJoin(F.broadcast(s_a))
        .crossJoin(F.broadcast(s_b))
        .select(
            "n",
            "n_cells",
            F.round(
                F.expr(
                    "(s_ab - s_a - s_b + CAST(n AS DOUBLE)*ln(CAST(n AS DOUBLE)))"
                    " / CAST(n AS DOUBLE)"
                ),
                6,
            ).alias("mi_r6"),
        )
    )


# ---------------------------------------------------------------------------
# stats_welch_tstat — unequal-variance two-sample t
# ---------------------------------------------------------------------------

_WELCH_ORACLE = """
WITH g AS (
  SELECT CASE WHEN lang='en' THEN 1 ELSE 0 END AS grp,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(n_chars) AS BIGINT) AS s,
         CAST(SUM(n_chars*n_chars) AS BIGINT) AS q
  FROM documents GROUP BY 1
),
m AS (
  SELECT
    MAX(CASE WHEN grp=1 THEN n END) AS n1, MAX(CASE WHEN grp=0 THEN n END) AS n2,
    MAX(CASE WHEN grp=1 THEN s END) AS s1, MAX(CASE WHEN grp=0 THEN s END) AS s2,
    MAX(CASE WHEN grp=1 THEN q END) AS q1, MAX(CASE WHEN grp=0 THEN q END) AS q2
  FROM g
),
d AS (
  SELECT n1, n2,
    (CAST(q1 AS DOUBLE) - CAST(s1 AS DOUBLE)*CAST(s1 AS DOUBLE)/CAST(n1 AS DOUBLE))
      /CAST(n1-1 AS DOUBLE) AS v1,
    (CAST(q2 AS DOUBLE) - CAST(s2 AS DOUBLE)*CAST(s2 AS DOUBLE)/CAST(n2 AS DOUBLE))
      /CAST(n2-1 AS DOUBLE) AS v2,
    CAST(s1 AS DOUBLE)/CAST(n1 AS DOUBLE) AS m1,
    CAST(s2 AS DOUBLE)/CAST(n2 AS DOUBLE) AS m2
  FROM m
)
SELECT CAST(n1 AS BIGINT) AS n1, CAST(n2 AS BIGINT) AS n2,
  ROUND((m1-m2)/sqrt(v1/CAST(n1 AS DOUBLE) + v2/CAST(n2 AS DOUBLE)), 6) AS t_r6,
  ROUND((v1/CAST(n1 AS DOUBLE)+v2/CAST(n2 AS DOUBLE))
          *(v1/CAST(n1 AS DOUBLE)+v2/CAST(n2 AS DOUBLE))
    / (v1*v1/(CAST(n1 AS DOUBLE)*CAST(n1 AS DOUBLE)*CAST(n1-1 AS DOUBLE))
       + v2*v2/(CAST(n2 AS DOUBLE)*CAST(n2 AS DOUBLE)*CAST(n2-1 AS DOUBLE))),
    4) AS df_r4
FROM d
"""


@register("stats_welch_tstat", oracle=_WELCH_ORACLE)
def stats_welch_tstat(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Welch's t statistic + Welch–Satterthwaite df for English-vs-other
    document lengths.

    All data-sized arithmetic is integer (n, Σx, Σx² per group — one
    map-side-combinable scan); the float tail (two divisions, one sqrt,
    both IEEE-correctly-rounded on identical inputs) runs on a 1-row
    frame with the expression written token-identically on both engines,
    so the rounded result can't drift."""
    d = load(spark, sf_dir, "documents")
    g = (
        d.select(
            F.expr("CASE WHEN lang='en' THEN 1 ELSE 0 END").alias("grp"),
            F.col("n_chars").alias("x"),
        )
        .groupBy("grp")
        .agg(
            F.count("*").alias("n"),
            F.sum("x").alias("s"),
            F.sum(F.expr("x*x")).alias("q"),
        )
    )
    m = g.agg(
        F.max(F.expr("CASE WHEN grp=1 THEN n END")).alias("n1"),
        F.max(F.expr("CASE WHEN grp=0 THEN n END")).alias("n2"),
        F.max(F.expr("CASE WHEN grp=1 THEN s END")).alias("s1"),
        F.max(F.expr("CASE WHEN grp=0 THEN s END")).alias("s2"),
        F.max(F.expr("CASE WHEN grp=1 THEN q END")).alias("q1"),
        F.max(F.expr("CASE WHEN grp=0 THEN q END")).alias("q2"),
    )
    dd = m.select(
        "n1",
        "n2",
        F.expr(
            "(CAST(q1 AS DOUBLE) - CAST(s1 AS DOUBLE)*CAST(s1 AS DOUBLE)"
            "/CAST(n1 AS DOUBLE))/CAST(n1-1 AS DOUBLE)"
        ).alias("v1"),
        F.expr(
            "(CAST(q2 AS DOUBLE) - CAST(s2 AS DOUBLE)*CAST(s2 AS DOUBLE)"
            "/CAST(n2 AS DOUBLE))/CAST(n2-1 AS DOUBLE)"
        ).alias("v2"),
        F.expr("CAST(s1 AS DOUBLE)/CAST(n1 AS DOUBLE)").alias("m1"),
        F.expr("CAST(s2 AS DOUBLE)/CAST(n2 AS DOUBLE)").alias("m2"),
    )
    return dd.select(
        F.col("n1").alias("n1"),
        F.col("n2").alias("n2"),
        F.round(
            F.expr("(m1-m2)/sqrt(v1/CAST(n1 AS DOUBLE) + v2/CAST(n2 AS DOUBLE))"), 6
        ).alias("t_r6"),
        F.round(
            F.expr(
                "(v1/CAST(n1 AS DOUBLE)+v2/CAST(n2 AS DOUBLE))"
                "*(v1/CAST(n1 AS DOUBLE)+v2/CAST(n2 AS DOUBLE))"
                " / (v1*v1/(CAST(n1 AS DOUBLE)*CAST(n1 AS DOUBLE)*CAST(n1-1 AS DOUBLE))"
                " + v2*v2/(CAST(n2 AS DOUBLE)*CAST(n2 AS DOUBLE)*CAST(n2-1 AS DOUBLE)))"
            ),
            4,
        ).alias("df_r4"),
    )


# ---------------------------------------------------------------------------
# stats_bh_fdr — Benjamini-Hochberg over per-nation permutation p-values
# ---------------------------------------------------------------------------

_BH_B = 24  # permutations per nation; p-values are (1+hits)/(B+1)
_BH_ALPHA_NUM, _BH_ALPHA_DEN = 10, 100  # alpha = 0.10


def _bh_coin(engine: str, b: int) -> str:
    s = f"CAST(c_custkey AS STRING) || '_f' || '{b}'"
    d = f"CAST(c_custkey AS VARCHAR) || '_f' || '{b}'"
    return (
        f"CAST(conv(substring(md5({s}), 1, 4), 16, 10) AS INT)"
        if engine == "spark"
        else f"CAST(('0x' || substring(md5({d}), 1, 4)) AS INT)"
    )


def _bh_meandiff_bps(s_a: str, c_a: str) -> str:
    """Sign-split basis-point mean difference of group A vs its complement.

    abs() BEFORE the integer division so both engines do only positive
    truncating division (negative // differs: DuckDB floors, Spark
    truncates)."""
    num = f"(({s_a})*((n)-({c_a})) - ((tot)-({s_a}))*({c_a}))"
    den = f"GREATEST(({c_a})*((n)-({c_a})), 1)"
    return (
        f"(CASE WHEN {num} >= 0 THEN (10000*{num})/({den})"
        f" ELSE (10000*(-{num}))/({den}) END)"
    )


def _bh_oracle() -> str:
    stats = ",\n".join(
        f"    CAST(SUM(CASE WHEN {_bh_coin('duck', b)} < 32768 THEN cents ELSE 0 END)"
        f" AS BIGINT) AS s{b},\n"
        f"    CAST(SUM(CASE WHEN {_bh_coin('duck', b)} < 32768 THEN 1 ELSE 0 END)"
        f" AS BIGINT) AS c{b}"
        for b in range(_BH_B)
    )
    perms = ", ".join(
        _bh_meandiff_bps(f"s{b}", f"c{b}").replace("/(", "//(") for b in range(_BH_B)
    )
    obs = _bh_meandiff_bps("s_obs", "c_obs").replace("/(", "//(")
    return f"""
WITH agg AS (
  SELECT c_nationkey,
    CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(cents) AS BIGINT) AS tot,
    CAST(SUM(CASE WHEN c_custkey % 2 = 0 THEN cents ELSE 0 END) AS BIGINT) AS s_obs,
    CAST(SUM(CASE WHEN c_custkey % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS c_obs,
{stats}
  FROM (SELECT c_nationkey, c_custkey,
               {CENTS_SQL.format('c_acctbal')} AS cents FROM customer)
  GROUP BY 1
),
t AS (
  SELECT c_nationkey, n, {obs} AS t_obs, [{perms}] AS perms FROM agg
),
pv AS (
  SELECT c_nationkey, n, CAST(t_obs AS BIGINT) AS t_obs_bps,
         CAST(1 + len(list_filter(perms, p -> p >= t_obs)) AS BIGINT) AS p_num
  FROM t
),
rk AS (
  SELECT *, row_number() OVER (ORDER BY p_num, c_nationkey) AS i,
         COUNT(*) OVER () AS m FROM pv
),
k AS (SELECT COALESCE(MAX(CASE WHEN {_BH_ALPHA_DEN}*p_num*m
                  <= {_BH_ALPHA_NUM}*i*{_BH_B + 1} THEN i END), 0) AS kmax FROM rk)
SELECT CAST(c_nationkey AS INT) AS nationkey, n AS n_custs, t_obs_bps, p_num,
       CAST(i AS INT) AS bh_rank,
       CAST(CASE WHEN i <= (SELECT kmax FROM k) THEN 1 ELSE 0 END AS INT) AS rejected
FROM rk
"""


@register("stats_bh_fdr", oracle=_bh_oracle())
def stats_bh_fdr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-nation even-vs-odd-custkey mean-balance permutation test
    (B=24 deterministic md5 relabelings, single scan), then
    Benjamini-Hochberg FDR across the 25 nations at α=0.10.

    p-values stay INTEGER numerators over (B+1); the BH step-up condition
    compares cross-multiplied integers (α·i/m ≥ p ⇔ 100·p_num·m ≤
    10·i·(B+1)) — no float ever enters the decision. The statistic is a
    sign-split |mean-diff| in basis points: abs() happens BEFORE the
    truncating division so the engines' negative-division semantics never
    meet a negative operand. Scale: one conditional-sum scan over
    customer; everything after runs on 25 rows."""
    c = load(spark, sf_dir, "customer").select(
        "c_nationkey",
        "c_custkey",
        cents("c_acctbal").alias("cents"),
    )
    aggs = [
        F.count("*").alias("n"),
        F.sum("cents").alias("tot"),
        F.sum(F.expr("CASE WHEN c_custkey % 2 = 0 THEN cents ELSE 0 END")).alias(
            "s_obs"
        ),
        F.sum(F.expr("CASE WHEN c_custkey % 2 = 0 THEN 1 ELSE 0 END")).alias("c_obs"),
    ]
    for b in range(_BH_B):
        coin = _bh_coin("spark", b)
        aggs.append(
            F.sum(F.expr(f"CASE WHEN {coin} < 32768 THEN cents ELSE 0 END")).alias(
                f"s{b}"
            )
        )
        aggs.append(
            F.sum(F.expr(f"CASE WHEN {coin} < 32768 THEN 1 ELSE 0 END")).alias(f"c{b}")
        )
    agg = c.groupBy("c_nationkey").agg(*aggs)

    def bps(s_a: str, c_a: str) -> str:
        num = f"(({s_a})*((n)-({c_a})) - ((tot)-({s_a}))*({c_a}))"
        den = f"GREATEST(({c_a})*((n)-({c_a})), 1)"
        return (
            f"(CASE WHEN {num} >= 0 THEN (10000*{num}) DIV ({den})"
            f" ELSE (10000*(-{num})) DIV ({den}) END)"
        )

    perms = ", ".join(bps(f"s{b}", f"c{b}") for b in range(_BH_B))
    t = agg.select(
        "c_nationkey",
        "n",
        F.expr(bps("s_obs", "c_obs")).alias("t_obs"),
        F.expr(f"array({perms})").alias("perms"),
    )
    pv = t.select(
        "c_nationkey",
        "n",
        F.col("t_obs").cast("bigint").alias("t_obs_bps"),
        F.expr(
            "CAST(1 + size(filter(perms, p -> p >= t_obs)) AS BIGINT)"
        ).alias("p_num"),
    )
    from pyspark.sql.window import Window

    rk = (
        pv.withColumn("i", F.row_number().over(Window.orderBy("p_num", "c_nationkey")))
        .withColumn("m", F.count("*").over(Window.partitionBy()))
        .withColumn(
            "kmax",
            F.coalesce(
                F.max(
                    F.expr(
                        f"CASE WHEN {_BH_ALPHA_DEN}*p_num*m"
                        f" <= {_BH_ALPHA_NUM}*i*{_BH_B + 1} THEN i END"
                    )
                ).over(Window.partitionBy()),
                F.lit(0),
            ),
        )
    )
    return rk.select(
        F.col("c_nationkey").cast("int").alias("nationkey"),
        F.col("n").alias("n_custs"),
        "t_obs_bps",
        "p_num",
        F.col("i").cast("int").alias("bh_rank"),
        F.expr("CAST(CASE WHEN i <= kmax THEN 1 ELSE 0 END AS INT)").alias("rejected"),
    )
