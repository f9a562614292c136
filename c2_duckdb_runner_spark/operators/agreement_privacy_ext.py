"""Round-4 structure/agreement/privacy extensions — five operators that
complete families the registry already started:

- WEISFEILER-LEHMAN color refinement (2 rounds) on the customer–supplier
  graph — the graph-isomorphism-grade structural signature (WL kernels,
  GNN expressiveness bound); next to PageRank/k-core/triangles this is
  the remaining classical per-node structure primitive;
- EXPECTED RECIPROCAL RANK @10 — the cascade-model retrieval metric next
  to NDCG/MRR, made INTEGER-EXACT: with binary relevance the stopping
  probabilities are dyadic, so ERR·(2520·1024) is a whole number
  (2520 = lcm(1..10) clears every 1/rank, 2^10 clears every (1/2)^k);
- L-DIVERSITY audit — the k-anonymity follow-up: each quasi-identifier
  group must also carry ≥ l distinct SENSITIVE values (k-anon alone
  leaks when a group is sensitive-homogeneous);
- COHEN'S KAPPA between two independent deterministic quality raters —
  chance-corrected agreement as an EXACT integer fraction
  (N·Σdiag − Σrow·col) / (N² − Σrow·col), no float until the final
  sign-split micro division;
- SPEARMAN rank correlation of the daily (revenue, volume) series —
  rank-based, so exact where Pearson-on-doubles would hash a float sum;
  total-order tie-breaks make both rank vectors permutations and
  ρ = 1 − 6Σd²/(n(n²−1)) an exact fraction.

Reference reach: the delegated SQL slot (``main.cc:181-182``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from c2_duckdb_runner_spark.operators.graph import _edges
from c2_duckdb_runner_spark.operators.inference_ext import CENTS_SQL, cents
from c2_duckdb_runner_spark.operators.matching_ext import _BAND_SQL, _band
from c2_duckdb_runner_spark.operators.simsearch import (
    PROBE_DEPTH,
    PROBE_RANKED_SQL,
    probe_scores,
    probe_topk,
)
from c2_duckdb_runner_spark.registry import register
from c2_duckdb_runner_spark.session import scratch_persist, shuffle_width
from c2_duckdb_runner_spark.tables import load

# ---------------------------------------------------------------------------
# graph_wl_refinement
# ---------------------------------------------------------------------------

_WL_ORACLE = """
WITH pairs AS (
  SELECT DISTINCT o.o_custkey AS c, 10000000 + l.l_suppkey AS s
  FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
  WHERE o_custkey IS NOT NULL AND l_suppkey IS NOT NULL
),
edges AS (
  SELECT c AS src, s AS dst FROM pairs UNION ALL SELECT s, c FROM pairs
),
c0 AS (SELECT src AS v, CAST(COUNT(*) AS VARCHAR) AS col FROM edges GROUP BY 1),
c1 AS (
  SELECT e.src AS v,
         substring(md5(cv.col || '|' ||
                       string_agg(cn.col, ',' ORDER BY cn.col)), 1, 8) AS col
  FROM edges e JOIN c0 cv ON cv.v = e.src JOIN c0 cn ON cn.v = e.dst
  GROUP BY e.src, cv.col
),
c2 AS (
  SELECT e.src AS v,
         substring(md5(cv.col || '|' ||
                       string_agg(cn.col, ',' ORDER BY cn.col)), 1, 8) AS col
  FROM edges e JOIN c1 cv ON cv.v = e.src JOIN c1 cn ON cn.v = e.dst
  GROUP BY e.src, cv.col
)
SELECT * FROM (
  SELECT CAST(0 AS INT) AS round, CAST(COUNT(DISTINCT col) AS BIGINT) AS n_colors,
         CAST(COUNT(*) AS BIGINT) AS n_nodes FROM c0
  UNION ALL
  SELECT 1, CAST(COUNT(DISTINCT col) AS BIGINT), CAST(COUNT(*) AS BIGINT) FROM c1
  UNION ALL
  SELECT 2, CAST(COUNT(DISTINCT col) AS BIGINT), CAST(COUNT(*) AS BIGINT) FROM c2
)
"""


@register("graph_wl_refinement", oracle=_WL_ORACLE)
def graph_wl_refinement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two rounds of Weisfeiler-Lehman color refinement on the symmetrized
    customer–supplier graph (same edge relation as PageRank/BFS,
    ``graph._edges``): color₀ = degree, colorₖ = md5(own ∥ sorted multiset
    of neighbor colors), reporting the color-count trajectory
    (12 → 27 → 31 at sf0.001) that certifies refinement progress.

    Scale shape (r11 optimization round): the persisted edge relation
    carries a STANDING dst-hash partitioning (the graph_hits_rounds
    recipe), so each round's neighbor-color join re-shuffles only the
    node-cardinality color relation into it — never the edges — and the
    follow-up groupBy(src) is the round's one edge-sized shuffle. The
    own-color is attached AFTER that aggregate, to the node-sized
    multiset relation, instead of riding every edge through the round
    (before r11 each round shuffled edge-sized data three times: join on
    src, join on dst, groupBy). shuffle_hash-pinned like HITS so small
    SFs don't take a broadcast plan that cliffs at 10×. The neighbor
    multiset is per-node bounded state (degree-sized array, sorted then
    folded into md5), never corpus state. Colors are md5-canonical so
    the trajectory is engine- and partitioning-independent."""
    edges = scratch_persist(
        _edges(spark, sf_dir).repartition(shuffle_width(spark), "dst")
    )

    def refine(colors: DataFrame) -> DataFrame:
        cn = colors.select(F.col("v").alias("dst"), F.col("col").alias("ncol"))
        nbr = (
            edges.join(cn.hint("shuffle_hash"), "dst")
            .groupBy(F.col("src").alias("v"))
            .agg(
                F.expr(
                    "concat_ws(',', array_sort(collect_list(ncol)))"
                ).alias("nbrs")
            )
        )
        return scratch_persist(
            nbr.join(colors.hint("shuffle_hash"), "v")
            .select(
                "v",
                F.expr(
                    "substring(md5(concat(col, '|', nbrs)), 1, 8)"
                ).alias("col"),
            )
        )

    c0 = scratch_persist(
        edges.groupBy(F.col("src").alias("v")).agg(
            F.count("*").cast("string").alias("col")
        )
    )
    c1 = refine(c0)
    c2 = refine(c1)

    def stats(df: DataFrame, rnd: int) -> DataFrame:
        return df.agg(
            F.lit(rnd).cast("int").alias("round"),
            F.countDistinct("col").alias("n_colors"),
            F.count("*").alias("n_nodes"),
        ).select("round", "n_colors", "n_nodes")

    return stats(c0, 0).union(stats(c1, 1)).union(stats(c2, 2))


# ---------------------------------------------------------------------------
# search_err_eval — integer-exact Expected Reciprocal Rank @10
# ---------------------------------------------------------------------------

_ERR_DEN = 2520 * 1024  # lcm(1..10) * 2^10 — clears every 1/r and (1/2)^k


_ERR_ORACLE = f"""
WITH {PROBE_RANKED_SQL},
top AS (
  SELECT q_id, rnk, CASE WHEN label = qlabel THEN 1 ELSE 0 END AS rel,
         CAST(SUM(CASE WHEN label = qlabel THEN 1 ELSE 0 END)
              OVER (PARTITION BY q_id ORDER BY rnk
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
              AS BIGINT) AS c_before
  FROM ranked WHERE rnk <= {PROBE_DEPTH}
)
SELECT q_id,
  CAST(SUM(rel) AS BIGINT) AS n_rel_at_k,
  CAST(SUM(CASE WHEN rel = 1
       THEN (2520 // rnk) * (CAST(1 AS BIGINT) << CAST(9 - COALESCE(c_before, 0) AS INT))
       ELSE 0 END) AS BIGINT) AS err_num,
  CAST({_ERR_DEN} AS BIGINT) AS err_den
FROM top GROUP BY q_id
"""


@register("search_err_eval", oracle=_ERR_ORACLE)
def search_err_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ERR@10 per query under the cascade click model (R = ½ for a
    label-matching hit): ERR = Σᵣ (1/r)·Rᵣ·Π_{i<r}(1−Rᵢ). Only relevant
    ranks contribute (1/r)·(1/2)^(c+1) where c = relevant hits ranked
    above — a dyadic rational times 1/r, so ERR·2520·1024 is an INTEGER
    (emitted as err_num/err_den; no float ever enters the hash beyond
    the same rounded-cosine ordering key NDCG uses).

    Scale shape identical to search_ndcg_eval: the probe set broadcasts
    against the corpus, scoring is a map-only ordered fold, and the
    per-query top-10 is the salted two-stage exact top-k
    (simsearch.probe_topk) — no reducer sorts a whole query's scores."""
    ranked = probe_topk(probe_scores(spark, sf_dir))
    top = ranked.select(
        "q_id",
        "rnk",
        F.expr("CASE WHEN label = qlabel THEN 1 ELSE 0 END").alias("rel"),
    ).withColumn(
        "c_before",
        F.sum("rel")
        .over(
            Window.partitionBy("q_id")
            .orderBy("rnk")
            .rowsBetween(Window.unboundedPreceding, -1)
        )
        .cast("bigint"),
    )
    return top.groupBy("q_id").agg(
        F.sum("rel").cast("bigint").alias("n_rel_at_k"),
        F.sum(
            F.expr(
                "CASE WHEN rel = 1 THEN (2520 DIV rnk)"
                " * shiftleft(CAST(1 AS BIGINT),"
                "             CAST(9 - COALESCE(c_before, 0) AS INT))"
                " ELSE 0 END"
            )
        )
        .cast("bigint")
        .alias("err_num"),
        F.lit(_ERR_DEN).cast("bigint").alias("err_den"),
    )


# ---------------------------------------------------------------------------
# privacy_l_diversity
# ---------------------------------------------------------------------------

_LDIV_ORACLE = f"""
WITH g AS (
  SELECT CAST(c_nationkey AS INT) AS nationkey, c_mktsegment AS segment,
         CAST(COUNT(*) AS BIGINT) AS group_n,
         CAST(COUNT(DISTINCT {_BAND_SQL.format('c_acctbal')}) AS BIGINT)
           AS n_sensitive
  FROM customer GROUP BY 1, 2
)
SELECT nationkey, segment, group_n, n_sensitive,
       CAST(CASE WHEN n_sensitive >= 3 THEN 1 ELSE 0 END AS INT) AS l_diverse
FROM g
"""


@register("privacy_l_diversity", oracle=_LDIV_ORACLE)
def privacy_l_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """l-diversity audit (l=3) over the (nation, segment) quasi-identifier
    groups with the account-balance band as the sensitive attribute: a
    group that is k-anonymous but sensitive-homogeneous still leaks, so
    this is the check privacy_k_anonymity_audit (registered) must be
    paired with. One keyed aggregate with a distinct-count — single
    shuffle, map-side-combinable, grain = QI groups not rows."""
    c = load(spark, sf_dir, "customer")
    return (
        c.select(
            F.col("c_nationkey").cast("int").alias("nationkey"),
            F.col("c_mktsegment").alias("segment"),
            _band(F.col("c_acctbal")).alias("band"),
        )
        .groupBy("nationkey", "segment")
        .agg(
            F.count("*").alias("group_n"),
            F.countDistinct("band").alias("n_sensitive"),
        )
        .select(
            "nationkey",
            "segment",
            "group_n",
            "n_sensitive",
            F.expr("CAST(CASE WHEN n_sensitive >= 3 THEN 1 ELSE 0 END AS INT)").alias(
                "l_diverse"
            ),
        )
    )


# ---------------------------------------------------------------------------
# stats_cohens_kappa
# ---------------------------------------------------------------------------

_KAPPA_ORACLE = """
WITH pred AS (
  SELECT CASE WHEN n_chars < 260 THEN 'low' WHEN n_chars < 340 THEN 'mid'
              ELSE 'high' END AS a,
         CASE WHEN len(string_split(text,' ')) < 44 THEN 'low'
              WHEN len(string_split(text,' ')) < 57 THEN 'mid'
              ELSE 'high' END AS b
  FROM documents
),
cm AS (SELECT a, b, CAST(COUNT(*) AS BIGINT) AS n FROM pred GROUP BY 1, 2),
marg AS (
  SELECT CAST(SUM(n) AS BIGINT) AS tot,
         CAST(SUM(CASE WHEN a = b THEN n ELSE 0 END) AS BIGINT) AS diag,
         CAST((SELECT SUM(ra.n_a * rb.n_b) FROM
               (SELECT a, SUM(n) AS n_a FROM cm GROUP BY 1) ra JOIN
               (SELECT b, SUM(n) AS n_b FROM cm GROUP BY 1) rb
               ON ra.a = rb.b) AS BIGINT) AS rc
  FROM cm
)
SELECT tot AS n, diag AS n_agree,
  CAST(tot*diag - rc AS BIGINT) AS kappa_num,
  CAST(tot*tot - rc AS BIGINT) AS kappa_den,
  CAST(CASE WHEN tot*diag - rc >= 0
       THEN (1000000*(tot*diag - rc)) // (tot*tot - rc)
       ELSE -((1000000*(rc - tot*diag)) // (tot*tot - rc)) END AS BIGINT)
    AS kappa_micro
FROM marg
"""


@register("stats_cohens_kappa", oracle=_KAPPA_ORACLE)
def stats_cohens_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohen's κ between two independent deterministic quality raters
    (character-count bands vs token-count bands — distinct features, real
    disagreement): κ = (p_o − p_e)/(1 − p_e) kept as the EXACT integer
    fraction (N·Σdiag − Σ rowₖ·colₖ)/(N² − Σ rowₖ·colₖ); the only
    division is the final sign-split micro, on abs-first operands so
    truncation is engine-identical.

    Scale shape: one scan classifies map-side; everything after runs on
    the 3×3 cell table. Margin cross-products come from the cell table
    (persisted), not re-scans."""
    d = load(spark, sf_dir, "documents")
    pred = d.select(
        F.expr(
            "CASE WHEN n_chars < 260 THEN 'low' WHEN n_chars < 340 THEN 'mid'"
            " ELSE 'high' END"
        ).alias("a"),
        F.expr(
            "CASE WHEN size(split(text, ' ')) < 44 THEN 'low'"
            " WHEN size(split(text, ' ')) < 57 THEN 'mid' ELSE 'high' END"
        ).alias("b"),
    )
    cm = scratch_persist(pred.groupBy("a", "b").agg(F.count("*").alias("n")))
    totals = cm.agg(
        F.sum("n").alias("tot"),
        F.sum(F.expr("CASE WHEN a = b THEN n ELSE 0 END")).alias("diag"),
    )
    ra = cm.groupBy("a").agg(F.sum("n").alias("n_a"))
    rb = cm.groupBy("b").agg(F.sum("n").alias("n_b"))
    rc = (
        ra.join(rb, ra["a"] == rb["b"])
        .agg(F.sum(F.expr("n_a * n_b")).alias("rc"))
    )
    return (
        totals.crossJoin(F.broadcast(rc))
        .select(
            F.col("tot").alias("n"),
            F.col("diag").alias("n_agree"),
            F.expr("CAST(tot*diag - rc AS BIGINT)").alias("kappa_num"),
            F.expr("CAST(tot*tot - rc AS BIGINT)").alias("kappa_den"),
            F.expr(
                "CAST(CASE WHEN tot*diag - rc >= 0"
                " THEN (1000000*(tot*diag - rc)) DIV (tot*tot - rc)"
                " ELSE -((1000000*(rc - tot*diag)) DIV (tot*tot - rc)) END"
                " AS BIGINT)"
            ).alias("kappa_micro"),
        )
    )


# ---------------------------------------------------------------------------
# stats_spearman_daily
# ---------------------------------------------------------------------------

_SPEARMAN_ORACLE = f"""
WITH d AS (
  SELECT CAST(ts AS DATE) AS day,
         CAST(SUM({CENTS_SQL.format('value')}) AS BIGINT) AS cents,
         CAST(COUNT(*) AS BIGINT) AS n_ev
  FROM events GROUP BY 1
),
rk AS (
  SELECT day,
         row_number() OVER (ORDER BY cents, day) AS ra,
         row_number() OVER (ORDER BY n_ev, day) AS rb
  FROM d
),
s AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM((ra-rb)*(ra-rb)) AS BIGINT) AS sum_d2 FROM rk)
SELECT n, sum_d2,
  CAST(CASE WHEN n*(n*n-1) - 6*sum_d2 >= 0
       THEN (1000000*(n*(n*n-1) - 6*sum_d2)) // (n*(n*n-1))
       ELSE -((1000000*(6*sum_d2 - n*(n*n-1))) // (n*(n*n-1))) END AS BIGINT)
    AS rho_micro
FROM s
"""


@register("stats_spearman_daily", oracle=_SPEARMAN_ORACLE)
def stats_spearman_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spearman ρ between daily revenue and daily event volume:
    rank-based, so the correlation is an exact fraction
    1 − 6Σd²/(n(n²−1)) — the (cents, day) / (n_ev, day) total-order
    tie-breaks make both rank vectors permutations, eliminating the
    average-rank floats a tied Spearman would need. Complements the
    Pearson agg_corr_manual already registered.

    Scale: ranks run over the DAILY rollup (calendar-bounded series),
    not rows; the only data-sized stage is the one groupBy."""
    e = load(spark, sf_dir, "events")
    d = (
        e.select(
            F.to_date("ts").alias("day"),
            cents("value").alias("c"),
        )
        .groupBy("day")
        .agg(F.sum("c").alias("cents"), F.count("*").alias("n_ev"))
    )
    rk = d.select(
        F.row_number().over(Window.orderBy("cents", "day")).alias("ra"),
        F.row_number().over(Window.orderBy("n_ev", "day")).alias("rb"),
    )
    s = rk.agg(
        F.count("*").alias("n"),
        F.sum(F.expr("CAST((ra-rb)*(ra-rb) AS BIGINT)")).alias("sum_d2"),
    )
    return s.select(
        "n",
        "sum_d2",
        F.expr(
            "CAST(CASE WHEN n*(n*n-1) - 6*sum_d2 >= 0"
            " THEN (1000000*(n*(n*n-1) - 6*sum_d2)) DIV (n*(n*n-1))"
            " ELSE -((1000000*(6*sum_d2 - n*(n*n-1))) DIV (n*(n*n-1))) END"
            " AS BIGINT)"
        ).alias("rho_micro"),
    )
