"""Round-4 graph-walk / data-selection extensions.

Four operators from the graph-embedding and data-mixing playbooks, each
deterministic and exactly reproduced by the DuckDB oracle:

- HASH-DRIVEN RANDOM WALKS over the customer-supplier trade graph — the
  sampling primitive under DeepWalk/node2vec-style embeddings: at each
  hop the walker picks neighbor number H(walk, step, node) mod outdeg,
  with the md5 coin replacing an RNG so walks are reproducible across
  engines, partitionings and reruns;
- DSIR-STYLE HASHED IMPORTANCE SCORING (Xie et al., 2023, arXiv
  2302.03169): score each document by how much more likely its hashed
  word features are under the TARGET distribution (English docs) than
  under the raw corpus — the data-selection weight used to resample
  pretraining mixtures, with the per-feature likelihood ratio kept as an
  exact smoothed integer ratio (no float log anywhere);
- PMI COLLOCATIONS: adjacent-word pairs whose joint frequency beats the
  independence baseline, with PMI's exp() form — p(x,y)/(p(x)p(y)) — as
  an exact integer ratio instead of its log;
- THEIL-SEN SLOPE per event type on the daily mean series — the robust
  (median-of-pairwise-slopes) companion to ts_mann_kendall_trend's sign
  test, on the same bounded daily downsample.

Reference reach: the delegated SQL slot (``main.cc:181-182``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from c2_duckdb_runner_spark.operators.graph import _EDGES_SQL, _edges
from c2_duckdb_runner_spark.operators.inference_ext import DAILY_MILLI_SQL, daily_milli
from c2_duckdb_runner_spark.registry import fdoc, register
from c2_duckdb_runner_spark.session import scratch_persist
from c2_duckdb_runner_spark.tables import load

# ---------------------------------------------------------------------------
# graph_random_walks_hash
# ---------------------------------------------------------------------------

_WALK_SEEDS = 20  # customers 1..20 that trade
_WALK_STEPS = 4

_RANKED_SQL = f"""
  SELECT src, dst,
         ROW_NUMBER() OVER (PARTITION BY src ORDER BY dst) - 1 AS idx,
         COUNT(*) OVER (PARTITION BY src) AS outdeg
  FROM ({_EDGES_SQL})
"""


def _walk_coin(engine: str, step: int) -> str:
    s = f"CAST(walk_id AS STRING) || '_s{step}_' || CAST(cur AS STRING)"
    d = f"CAST(walk_id AS VARCHAR) || '_s{step}_' || CAST(cur AS VARCHAR)"
    return (
        f"CAST(conv(substring(md5({s}), 1, 15), 16, 10) AS BIGINT)"
        if engine == "spark"
        else f"CAST(('0x' || substring(md5({d}), 1, 15)) AS BIGINT)"
    )


def _walks_oracle() -> str:
    ctes = [
        f"ranked AS ({_RANKED_SQL})",
        f"""s0 AS (
  SELECT src AS walk_id, src AS cur, CAST(src AS VARCHAR) AS path
  FROM (SELECT DISTINCT src FROM ranked WHERE src <= {_WALK_SEEDS})
)""",
    ]
    for t in range(1, _WALK_STEPS + 1):
        ctes.append(
            f"""s{t} AS (
  SELECT s.walk_id, r.dst AS cur, s.path || '>' || CAST(r.dst AS VARCHAR) AS path
  FROM s{t-1} s JOIN ranked r
    ON s.cur = r.src AND r.idx = {_walk_coin('duck', t)} % r.outdeg
)"""
        )
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"\nSELECT walk_id, cur AS end_node, path FROM s{_WALK_STEPS}"
    )


@register("graph_random_walks_hash", oracle=_walks_oracle())
@fdoc(f"""Fixed-length random walks over the symmetric customer-supplier
    graph, the corpus generator for DeepWalk-family graph embeddings:
    {_WALK_SEEDS} seed walkers take {_WALK_STEPS} hops; at each hop the
    next node is the current node's neighbor number H mod outdeg under a
    deterministic per-(walk, step, node) md5 coin, with neighbors ranked
    by id — no RNG, so both engines trace identical paths.

    Scale shape: the ranked-neighbor relation (node → idx'th neighbor,
    outdeg) is built ONCE with a per-src window (partitioned by node,
    never global) and reused by every hop; each hop is one keyed
    equi-join on the current node with the idx-pick as a join-time
    filter, so a million concurrent walkers cost {_WALK_STEPS} linear
    joins total — the frontier never fans out beyond one row per walker.

    Edges come from graph._edges (supplier ids offset by 10M).""")
def graph_random_walks_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    edges = _edges(spark, sf_dir)
    wsrc = Window.partitionBy("src")
    ranked = scratch_persist(
        edges.select(
            "src",
            "dst",
            (F.row_number().over(wsrc.orderBy("dst")) - 1).alias("idx"),
            F.count("*").over(wsrc).alias("outdeg"),
        )
    )
    state = (
        ranked.filter(F.col("src") <= _WALK_SEEDS)
        .select(F.col("src").alias("walk_id"))
        .distinct()
        .select(
            "walk_id",
            F.col("walk_id").alias("cur"),
            F.col("walk_id").cast("string").alias("path"),
        )
    )
    for t in range(1, _WALK_STEPS + 1):
        pick = F.expr(_walk_coin("spark", t)) % F.col("outdeg")
        state = (
            state.join(
                ranked,
                (state.cur == ranked.src) & (ranked.idx == pick),
            )
            .select(
                "walk_id",
                F.col("dst").alias("cur"),
                F.concat(
                    F.col("path"), F.lit(">"), F.col("dst").cast("string")
                ).alias("path"),
            )
        )
    return state.select("walk_id", F.col("cur").alias("end_node"), "path")


# ---------------------------------------------------------------------------
# sample_dsir_hashed_importance
# ---------------------------------------------------------------------------

_DSIR_BUCKETS = 128
_DSIR_TOP = 50


def _dsir_bucket(engine: str) -> str:
    return (
        f"CAST(conv(substring(md5(tok), 1, 15), 16, 10) AS BIGINT) % {_DSIR_BUCKETS}"
        if engine == "spark"
        else f"CAST(('0x' || substring(md5(tok), 1, 15)) AS BIGINT) % {_DSIR_BUCKETS}"
    )


@register(
    "sample_dsir_hashed_importance",
    oracle=f"""
WITH t AS (
  SELECT doc_id, lang, unnest(string_split(text, ' ')) AS tok FROM documents
),
b AS (SELECT doc_id, lang, {_dsir_bucket('duck')} AS bkt FROM t),
feat AS (
  SELECT bkt,
         CAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS t_cnt,
         CAST(COUNT(*) AS BIGINT) AS r_cnt
  FROM b GROUP BY bkt
),
tot AS (
  SELECT CAST(SUM(t_cnt) AS BIGINT) AS t_tot, CAST(SUM(r_cnt) AS BIGINT) AS r_tot
  FROM feat
),
scored AS (
  SELECT b.doc_id,
         CAST(COUNT(*) AS BIGINT) AS n_toks,
         CAST(SUM((1000000 * (f.t_cnt + 1) * (r_tot + {_DSIR_BUCKETS}))
              // ((f.r_cnt + 1) * (t_tot + {_DSIR_BUCKETS}))) AS BIGINT)
           AS ratio_sum_micro
  FROM b JOIN feat f USING (bkt) CROSS JOIN tot
  GROUP BY b.doc_id
)
SELECT doc_id, n_toks,
       (ratio_sum_micro // n_toks) AS importance_micro
FROM scored
ORDER BY (ratio_sum_micro // n_toks) DESC, doc_id LIMIT {_DSIR_TOP}
""",
)
@fdoc(f"""DSIR-style data selection: score each document by the mean hashed
    n-gram importance ratio p_target(f)/p_raw(f), target = the English
    sub-corpus, features = word unigrams hashed into {_DSIR_BUCKETS}
    buckets. The paper's log-likelihood-ratio sum becomes a mean of
    exact Laplace-smoothed integer ratios in micro-units ((t+1)/T over
    (r+1)/R, cross-multiplied so only integer products and one integral
    division exist) — a deterministic monotone stand-in for the float
    formula that both engines compute identically.

    Scale shape: the feature table is {_DSIR_BUCKETS} rows (broadcast),
    corpus totals are 1 row (broadcast), so scoring is a map-side join
    over the token stream plus one doc-keyed aggregate; the final
    selection is a TakeOrdered top-{_DSIR_TOP}. This is DSIR's actual
    production shape: the importance model is tiny, the corpus only
    streams. Cites dedup.py's cross-engine md5-bucket convention.""")
def sample_dsir_hashed_importance(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load(spark, sf_dir, "documents").select(
        "doc_id", "lang", F.explode(F.split("text", " ")).alias("tok")
    )
    b = t.select("doc_id", "lang", F.expr(_dsir_bucket("spark")).alias("bkt"))
    # r12: persist the bucket feature table (≤ _DSIR_BUCKETS rows). It is
    # consumed THREE times — its own broadcast build, the totals row's
    # build, and nothing else cheap — and each un-persisted consumption
    # re-ran the full corpus explode+hash (token stream evaluated 3×;
    # now 2×: once filling this cache, once in the scoring pass).
    feat = scratch_persist(
        b.groupBy("bkt").agg(
            F.sum(F.when(F.col("lang") == "en", 1).otherwise(0))
            .cast("bigint")
            .alias("t_cnt"),
            F.count("*").cast("bigint").alias("r_cnt"),
        )
    )
    tot = feat.agg(
        F.sum("t_cnt").cast("bigint").alias("t_tot"),
        F.sum("r_cnt").cast("bigint").alias("r_tot"),
    )
    scored = (
        b.join(F.broadcast(feat), "bkt")
        .crossJoin(F.broadcast(tot))
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("bigint").alias("n_toks"),
            F.sum(
                F.expr(
                    f"(1000000 * (t_cnt + 1) * (r_tot + {_DSIR_BUCKETS}))"
                    f" div ((r_cnt + 1) * (t_tot + {_DSIR_BUCKETS}))"
                )
            )
            .cast("bigint")
            .alias("ratio_sum_micro"),
        )
    )
    return (
        scored.select(
            "doc_id",
            "n_toks",
            F.expr("ratio_sum_micro div n_toks").alias("importance_micro"),
        )
        .orderBy(F.col("importance_micro").desc(), "doc_id")
        .limit(_DSIR_TOP)
    )


# ---------------------------------------------------------------------------
# text_pmi_collocations
# ---------------------------------------------------------------------------

_PMI_MIN_COUNT = 5
_PMI_TOP = 20


@register(
    "text_pmi_collocations",
    oracle=f"""
WITH t AS (
  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
),
uni AS (
  SELECT unnest(toks) AS w FROM t
),
ucnt AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS c FROM uni GROUP BY w),
utot AS (SELECT CAST(SUM(c) AS BIGINT) AS nu FROM ucnt),
bi AS (
  SELECT toks[i] AS w1, toks[i + 1] AS w2
  FROM t CROSS JOIN UNNEST(range(1, greatest(len(toks), 1))) AS u(i)
),
bcnt AS (
  SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS c_xy
  FROM bi GROUP BY w1, w2 HAVING COUNT(*) >= {_PMI_MIN_COUNT}
),
btot AS (SELECT CAST(COUNT(*) AS BIGINT) AS nb FROM bi),
pmi AS (
  SELECT b.w1, b.w2, b.c_xy,
         CAST((CAST(1000000 * b.c_xy * nu AS HUGEINT) * nu)
              // (CAST(nb AS HUGEINT) * u1.c * u2.c) AS BIGINT)
           AS pmi_ratio_micro
  FROM bcnt b
  JOIN ucnt u1 ON u1.w = b.w1
  JOIN ucnt u2 ON u2.w = b.w2
  CROSS JOIN utot CROSS JOIN btot
)
SELECT w1, w2, c_xy, pmi_ratio_micro
FROM pmi ORDER BY pmi_ratio_micro DESC, w1, w2 LIMIT {_PMI_TOP}
""",
)
@fdoc(f"""Collocation mining by pointwise mutual information: adjacent word
    pairs (count ≥ {_PMI_MIN_COUNT}) ranked by p(x,y)/(p(x)·p(y)) — PMI
    with the log dropped (exp-PMI), which preserves the ranking while
    staying an EXACT integer: 10⁶·c_xy·Nu² div (Nb·c_x·c_y), routed
    through HUGEINT/DECIMAL(38) because c_xy·Nu² overflows 2⁶³ at scale.

    Scale shape: bigrams come from each doc's own token array (slice by
    position — no self-join), unigram/bigram totals are one-row
    broadcasts, the unigram dictionary joins are keyed on the word (the
    dictionary is vocabulary-sized, not corpus-sized), and the final
    ranking is a TakeOrdered. Complements text_cooccurrence_pairs (raw
    counts) with the independence-normalized statistic.""")
def text_pmi_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load(spark, sf_dir, "documents").select(
        "doc_id", F.split("text", " ").alias("toks")
    )
    uni = t.select(F.explode("toks").alias("w"))
    ucnt = uni.groupBy("w").agg(F.count("*").cast("bigint").alias("c"))
    utot = ucnt.agg(F.sum("c").cast("bigint").alias("nu"))
    bi = t.select(
        F.explode(
            F.expr(
                "transform(slice(toks, 1, greatest(size(toks) - 1, 0)),"
                " (x, i) -> struct(x AS w1, toks[i + 1] AS w2))"
            )
        ).alias("p")
    ).select("p.w1", "p.w2")
    bcnt = (
        bi.groupBy("w1", "w2")
        .agg(F.count("*").cast("bigint").alias("c_xy"))
        .filter(F.col("c_xy") >= _PMI_MIN_COUNT)
    )
    btot = bi.agg(F.count("*").cast("bigint").alias("nb"))
    pmi = (
        bcnt.join(F.broadcast(ucnt.selectExpr("w AS w1", "c AS c1")), "w1")
        .join(F.broadcast(ucnt.selectExpr("w AS w2", "c AS c2")), "w2")
        .crossJoin(F.broadcast(utot))
        .crossJoin(F.broadcast(btot))
        .select(
            "w1",
            "w2",
            "c_xy",
            F.expr(
                "CAST((CAST(1000000 * c_xy * nu AS DECIMAL(19,0))"
                " * CAST(nu AS DECIMAL(19,0)))"
                " div (CAST(nb AS DECIMAL(19,0)) * c1 * c2) AS BIGINT)"
            ).alias("pmi_ratio_micro"),
        )
    )
    return pmi.orderBy(F.col("pmi_ratio_micro").desc(), "w1", "w2").limit(_PMI_TOP)


# ---------------------------------------------------------------------------
# ts_theil_sen_slope
# ---------------------------------------------------------------------------


@register(
    "ts_theil_sen_slope",
    oracle=f"""
WITH daily AS ({DAILY_MILLI_SQL}),
slopes AS (
  SELECT a.event_type,
         CASE WHEN b.x - a.x >= 0
           THEN (1000000 * (b.x - a.x))
                  // date_diff('day', CAST(a.d AS DATE), CAST(b.d AS DATE))
           ELSE -((1000000 * (a.x - b.x))
                  // date_diff('day', CAST(a.d AS DATE), CAST(b.d AS DATE)))
         END AS s
  FROM daily a JOIN daily b
    ON a.event_type = b.event_type AND a.d < b.d
),
ranked AS (
  SELECT event_type, s,
         ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY s) AS rn,
         COUNT(*) OVER (PARTITION BY event_type) AS n_pairs
  FROM slopes
)
SELECT event_type, CAST(n_pairs AS BIGINT) AS n_pairs,
       CAST(s AS BIGINT) AS sen_slope_micro,
       CASE WHEN s > 0 THEN 'up' WHEN s < 0 THEN 'down' ELSE 'flat' END AS trend
FROM ranked WHERE rn = (n_pairs + 1) // 2
""",
)
def ts_theil_sen_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil-Sen trend estimator per event type: the MEDIAN of all
    pairwise slopes (x_j - x_i)/(d_j - d_i) over the daily mean series —
    the robust companion to ts_mann_kendall_trend's sign test (same
    downsample, same pair set), immune to outlier days that wreck
    least-squares slopes.

    Each slope is a sign-split integral division in micro-milli-units
    per day (both engines truncate toward zero; splitting on sign makes
    the agreement explicit), and the lower median is picked by position
    — the VALUE at rank (n+1) div 2 is deterministic regardless of how
    equal slopes tie-break. Pair enumeration runs on the ~30-point daily
    rollup (~435 pairs/key at any corpus size), partitioned by key."""
    daily = daily_milli(spark, sf_dir)
    a, b = daily.alias("a"), daily.alias("b")
    slopes = a.join(
        b,
        (F.col("a.event_type") == F.col("b.event_type"))
        & (F.col("a.d") < F.col("b.d")),
    ).select(
        F.col("a.event_type").alias("event_type"),
        F.expr(
            "CASE WHEN b.x - a.x >= 0"
            " THEN (1000000 * (b.x - a.x))"
            " div datediff(CAST(b.d AS DATE), CAST(a.d AS DATE))"
            " ELSE -((1000000 * (a.x - b.x))"
            " div datediff(CAST(b.d AS DATE), CAST(a.d AS DATE))) END"
        ).alias("s"),
    )
    we = Window.partitionBy("event_type")
    ranked = slopes.select(
        "event_type",
        "s",
        F.row_number().over(we.orderBy("s")).alias("rn"),
        F.count("*").over(we).alias("n_pairs"),
    )
    return ranked.filter(
        F.col("rn") == F.expr("(n_pairs + 1) div 2")
    ).select(
        "event_type",
        F.col("n_pairs").cast("bigint").alias("n_pairs"),
        F.col("s").cast("bigint").alias("sen_slope_micro"),
        F.when(F.col("s") > 0, "up")
        .when(F.col("s") < 0, "down")
        .otherwise("flat")
        .alias("trend"),
    )
