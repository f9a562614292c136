"""Round-4 attribution + retrieval-evaluation extensions.

Four operators a marketing/search analytics stack runs daily, each exact
cross-engine:

- U-SHAPED MULTI-TOUCH ATTRIBUTION: credit each user's first purchase
  across the touch events that preceded it (40% first touch, 40% last,
  20% split across the middle) in integer basis points with the integral
  remainder pinned to the last touch — the position-based model between
  first-touch and linear, next to funnel_view_click_purchase and
  agg_markov_transitions;
- RECIPROCAL RANK FUSION of two rankers (integer-idf lexical score and
  length-proximity) — the standard hybrid-search combiner: rrf(d) =
  Σ 1/(60+rank_r(d)), integerized as 10⁶ div (60+rank);
- MRR RETRIEVAL EVALUATION over the embedding corpus (label match =
  relevance) — the eval loop that grades simsearch_* variants;
- WEIGHTED PRIORITY SAMPLING without replacement (exponential-clock
  analog): priority = hash64(id) div weight, keep the k smallest — the
  deterministic weighted sampler complementing sample_weighted_mixture's
  Bernoulli rates.

Reference reach: the delegated SQL slot (``main.cc:181-182``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from c2_duckdb_runner_spark.operators.simsearch import (
    PROBE_DEPTH,
    PROBE_QUERIES,
    PROBE_RANKED_SQL,
    probe_scores,
    probe_topk,
)
from c2_duckdb_runner_spark.registry import fdoc, register
from c2_duckdb_runner_spark.tables import load

# ---------------------------------------------------------------------------
# attribution_multitouch_ushape
# ---------------------------------------------------------------------------


@register(
    "attribution_multitouch_ushape",
    oracle="""
WITH e AS (
  SELECT user_id, event_type, ts, event_id,
         MIN(CASE WHEN event_type = 'purchase' THEN ts END)
           OVER (PARTITION BY user_id) AS fp
  FROM events
),
touch AS (
  SELECT user_id, event_type,
         ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn,
         ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC)
           AS rn_back,
         COUNT(*) OVER (PARTITION BY user_id) AS n
  FROM e WHERE fp IS NOT NULL AND ts < fp
),
credit AS (
  SELECT event_type,
         CASE
           WHEN n = 1 THEN 10000
           WHEN n = 2 THEN 5000
           WHEN rn = 1 THEN 4000
           WHEN rn_back = 1 THEN 4000 + (2000 - (2000 // (n - 2)) * (n - 2))
           ELSE 2000 // (n - 2)
         END AS bp
  FROM touch
)
SELECT event_type AS channel, CAST(COUNT(*) AS BIGINT) AS touches,
       CAST(SUM(bp) AS BIGINT) AS credit_bp
FROM credit GROUP BY event_type
""",
)
def attribution_multitouch_ushape(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Position-based (U-shaped) multi-touch attribution of each user's
    FIRST purchase: the touches are that user's events strictly before
    the purchase; first and last touch get 4000 basis points each, the
    middle 2000 are split by integral division with the remainder pinned
    to the last touch, so every journey's credits sum to exactly 10000
    and both engines agree bit-for-bit (1-touch → 10000; 2-touch →
    5000/5000).

    Scale shape: one window partition key (user_id) carries everything —
    the first-purchase timestamp is a windowed conditional MIN (no join
    back), the position ranks and journey length come from the same
    partitioning, so the whole model is ONE shuffle on user_id followed
    by a channel-keyed aggregate with map-side partials. Journeys are
    never materialized as pair lists."""
    e = load(spark, sf_dir, "events").select(
        "user_id",
        "event_type",
        "ts",
        "event_id",
        F.min(F.when(F.col("event_type") == "purchase", F.col("ts"))).over(
            Window.partitionBy("user_id")
        ).alias("fp"),
    )
    wu = Window.partitionBy("user_id")
    touch = e.filter(F.col("fp").isNotNull() & (F.col("ts") < F.col("fp"))).select(
        "event_type",
        F.row_number().over(wu.orderBy("ts", "event_id")).alias("rn"),
        F.row_number()
        .over(wu.orderBy(F.col("ts").desc(), F.col("event_id").desc()))
        .alias("rn_back"),
        F.count("*").over(wu).alias("n"),
    )
    credit = touch.select(
        "event_type",
        F.expr(
            "CASE WHEN n = 1 THEN 10000"
            " WHEN n = 2 THEN 5000"
            " WHEN rn = 1 THEN 4000"
            " WHEN rn_back = 1 THEN 4000 + (2000 - (2000 div (n - 2)) * (n - 2))"
            " ELSE 2000 div (n - 2) END"
        ).alias("bp"),
    )
    return credit.groupBy(F.col("event_type").alias("channel")).agg(
        F.count("*").cast("bigint").alias("touches"),
        F.sum("bp").cast("bigint").alias("credit_bp"),
    )


# ---------------------------------------------------------------------------
# search_rrf_fusion
# ---------------------------------------------------------------------------

_RRF_QUERY = ("join", "merge", "sort")  # lexical probe terms
_RRF_Q_SQL = ", ".join(f"'{w}'" for w in _RRF_QUERY)
_RRF_K = 60  # the standard RRF dampening constant
_RRF_CAND = 100  # per-ranker candidate list depth
_RRF_TOP = 20
_RRF_TARGET_LEN = 300  # ranker B: proximity to this document length


@register(
    "search_rrf_fusion",
    oracle=f"""
WITH t AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
),
tf AS (
  SELECT doc_id, tok, CAST(COUNT(*) AS BIGINT) AS tf FROM t
  WHERE tok IN ({_RRF_Q_SQL}) GROUP BY doc_id, tok
),
df AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY tok),
nd AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents),
lex AS (
  SELECT tf.doc_id AS doc_id,
         CAST(SUM(tf * ((1000000 * n_docs) // df)) AS BIGINT) AS s_lex
  FROM tf JOIN df ON df.tok = tf.tok CROSS JOIN nd
  GROUP BY tf.doc_id
),
rank_a AS (
  SELECT doc_id, ROW_NUMBER() OVER (ORDER BY s_lex DESC, doc_id) AS ra
  FROM (SELECT * FROM lex ORDER BY s_lex DESC, doc_id LIMIT {_RRF_CAND})
),
rank_b AS (
  SELECT doc_id, ROW_NUMBER() OVER (ORDER BY dist, doc_id) AS rb
  FROM (SELECT doc_id, abs(n_chars - {_RRF_TARGET_LEN}) AS dist
        FROM documents ORDER BY dist, doc_id LIMIT {_RRF_CAND})
),
fused AS (
  SELECT COALESCE(rank_a.doc_id, rank_b.doc_id) AS doc_id,
         CAST(COALESCE(1000000 // ({_RRF_K} + ra), 0)
            + COALESCE(1000000 // ({_RRF_K} + rb), 0) AS BIGINT) AS rrf_micro,
         CAST(COALESCE(ra, 0) AS INT) AS rank_lex,
         CAST(COALESCE(rb, 0) AS INT) AS rank_len
  FROM rank_a FULL OUTER JOIN rank_b ON rank_a.doc_id = rank_b.doc_id
)
SELECT doc_id, rrf_micro, rank_lex, rank_len
FROM fused ORDER BY rrf_micro DESC, doc_id LIMIT {_RRF_TOP}
""",
)
@fdoc(f"""Reciprocal-rank fusion of two retrieval lists — the hybrid-search
    combiner (Cormack et al., SIGIR'09): each ranker contributes
    10⁶ div (60 + rank) and the fused top-{_RRF_TOP} is ordered by the
    integer sum, so a document ranked well by EITHER list surfaces.
    Ranker A scores integer tf·idf-ratio (idf as the exact ratio
    10⁶·N div df — no float log anywhere); ranker B is length proximity.

    Scale shape: candidate generation is each ranker's top-{_RRF_CAND}
    via a TakeOrdered (never a global ROW_NUMBER over the corpus); rank
    assignment windows run on the bounded candidate lists (≤{_RRF_CAND}
    rows — the single-partition window is over a constant-size list, the
    same shape a distributed search head uses when merging per-shard
    top-k lists). The fusion join is two 100-row lists.""")
def search_rrf_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    t = docs.select("doc_id", F.explode(F.split("text", " ")).alias("tok"))
    tf = (
        t.filter(F.col("tok").isin(*_RRF_QUERY))
        .groupBy("doc_id", "tok")
        .agg(F.count("*").cast("bigint").alias("tf"))
    )
    df = tf.groupBy("tok").agg(F.count("*").cast("bigint").alias("df"))
    nd = docs.agg(F.count("*").cast("bigint").alias("n_docs"))
    lex = (
        tf.join(F.broadcast(df), "tok")
        .crossJoin(F.broadcast(nd))
        .groupBy("doc_id")
        .agg(
            F.sum(F.expr("tf * ((1000000 * n_docs) div df)"))
            .cast("bigint")
            .alias("s_lex")
        )
    )
    cand_a = lex.orderBy(F.col("s_lex").desc(), "doc_id").limit(_RRF_CAND)
    rank_a = cand_a.select(
        "doc_id",
        F.row_number()
        .over(Window.orderBy(F.col("s_lex").desc(), "doc_id"))
        .alias("ra"),
    )
    cand_b = (
        docs.select(
            "doc_id",
            F.abs(F.col("n_chars") - _RRF_TARGET_LEN).alias("dist"),
        )
        .orderBy("dist", "doc_id")
        .limit(_RRF_CAND)
    )
    rank_b = cand_b.select(
        "doc_id",
        F.row_number().over(Window.orderBy("dist", "doc_id")).alias("rb"),
    )
    fused = (
        rank_a.join(rank_b, "doc_id", "full_outer")
        .select(
            "doc_id",
            (
                F.coalesce(
                    F.expr(f"1000000 div ({_RRF_K} + ra)"), F.lit(0)
                )
                + F.coalesce(
                    F.expr(f"1000000 div ({_RRF_K} + rb)"), F.lit(0)
                )
            )
            .cast("bigint")
            .alias("rrf_micro"),
            F.coalesce(F.col("ra"), F.lit(0)).cast("int").alias("rank_lex"),
            F.coalesce(F.col("rb"), F.lit(0)).cast("int").alias("rank_len"),
        )
    )
    return fused.orderBy(F.col("rrf_micro").desc(), "doc_id").limit(_RRF_TOP)


# ---------------------------------------------------------------------------
# search_mrr_eval
# ---------------------------------------------------------------------------

@register(
    "search_mrr_eval",
    oracle=f"""
WITH {PROBE_RANKED_SQL},
hits AS (
  SELECT q_id,
         MIN(CASE WHEN label = qlabel THEN rnk END) AS first_rel
  FROM ranked WHERE rnk <= {PROBE_DEPTH} GROUP BY q_id
)
SELECT q_id, CAST(COALESCE(first_rel, 0) AS INT) AS first_rel_rank,
       CAST(CASE WHEN first_rel IS NULL THEN 0
            ELSE 1000000 // first_rel END AS BIGINT) AS rr_micro
FROM hits
""",
)
@fdoc(f"""Mean-reciprocal-rank evaluation harness for the simsearch family:
    {PROBE_QUERIES} probe vectors retrieve their top-{PROBE_DEPTH} cosine
    neighbors; a neighbor is relevant when its label matches the probe's;
    the reciprocal rank of the first hit ships in integer micro-units
    (10⁶ div rank — exact, no float mean), 0 when the list has no hit.

    Determinism: cosine rounds to 6 decimals with vec_id tie-break — the
    same pinned ordering simsearch_topk_bruteforce hash-matches on.
    Scale shape: the {PROBE_QUERIES}-row probe set broadcasts; the corpus
    scores map-only (no corpus shuffle for scoring); the per-query top-10
    uses the salted two-stage exact top-k (simsearch.probe_topk), so no
    reducer ever sorts a whole query's score column.""")
def search_mrr_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    ranked = probe_topk(probe_scores(spark, sf_dir))
    hits = ranked.groupBy("q_id").agg(
        F.min(F.when(F.col("label") == F.col("qlabel"), F.col("rnk"))).alias(
            "first_rel"
        )
    )
    return hits.select(
        "q_id",
        F.coalesce(F.col("first_rel"), F.lit(0)).cast("int").alias("first_rel_rank"),
        F.expr(
            "CAST(CASE WHEN first_rel IS NULL THEN 0"
            " ELSE 1000000 div first_rel END AS BIGINT)"
        ).alias("rr_micro"),
    )


# ---------------------------------------------------------------------------
# sample_weighted_priority
# ---------------------------------------------------------------------------

_WPS_K = 50


@register(
    "sample_weighted_priority",
    oracle=f"""
WITH pri AS (
  SELECT doc_id, source, n_chars,
         CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR) || '_wps'), 1, 15))
              AS BIGINT) // GREATEST(n_chars, 1) AS priority
  FROM documents
)
SELECT doc_id, source, n_chars, priority
FROM pri ORDER BY priority, doc_id LIMIT {_WPS_K}
""",
)
@fdoc(f"""Weighted sampling without replacement via deterministic priorities
    (the integer exponential-clock trick): each doc draws a 60-bit md5
    "clock" and divides it by its weight (length in chars), and the
    {_WPS_K} smallest priorities win — heavier docs get proportionally
    smaller priorities, the integral analog of the Efraimidis-Spirakis
    u^(1/w) key, reproducible across engines, partitionings and reruns
    (same property sample_deterministic pins for the unweighted case).

    Scale shape: priority is a map-only expression; selection is a
    TakeOrdered top-k (per-partition heaps merged at the driver), so no
    global sort and no shuffle of the corpus. The md5 domain is 15 hex
    digits = 60 bits, inside BIGINT in both engines.""")
def sample_weighted_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    pri = load(spark, sf_dir, "documents").select(
        "doc_id",
        "source",
        "n_chars",
        F.expr(
            "CAST(conv(substring(md5(CAST(doc_id AS STRING) || '_wps'), 1, 15),"
            " 16, 10) AS BIGINT) div GREATEST(n_chars, 1L)"
        ).alias("priority"),
    )
    return pri.orderBy("priority", "doc_id").limit(_WPS_K)
