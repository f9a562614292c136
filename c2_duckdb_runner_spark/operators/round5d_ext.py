"""Round-5 batch D: average precision and PQ asymmetric-distance search.

- AVERAGE PRECISION @10 (the per-query term of MAP): Σ over relevant
  ranks of precision@rank, normalized by the retrieved-relevant count —
  the order-sensitive retrieval metric next to MRR (first hit only) and
  NDCG (graded discount). Same probe/relevance harness as
  search_mrr_eval, same salted two-stage exact top-k.
- PQ ADC (asymmetric distance computation): the actual SEARCH path of
  product quantization — the query stays full-precision, the corpus is
  codes only, and each candidate's distance is a sum of 4 lookup-table
  entries. simsearch_pq_assign built the codes; this op scores with
  them, which is what a billion-vector index does per query.

Reference reach: the delegated SQL surface (``main.cc:181-182``); both
extend the first-class simsearch/eval families.
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
from c2_duckdb_runner_spark.session import scratch_persist
from c2_duckdb_runner_spark.tables import load

# ---------------------------------------------------------------------------
# eval_average_precision
# ---------------------------------------------------------------------------

_AP_ORACLE = f"""
WITH {PROBE_RANKED_SQL},
hits AS (
  SELECT q_id, rnk,
         CASE WHEN label = qlabel THEN 1 ELSE 0 END AS rel,
         CAST(SUM(CASE WHEN label = qlabel THEN 1 ELSE 0 END)
              OVER (PARTITION BY q_id ORDER BY rnk) AS BIGINT) AS relcnt
  FROM ranked WHERE rnk <= {PROBE_DEPTH}
),
agg AS (
  SELECT q_id,
         CAST(SUM(rel) AS BIGINT) AS n_rel,
         CAST(SUM(CASE WHEN rel = 1
              THEN (1000000 * relcnt) // rnk ELSE 0 END) AS BIGINT) AS ap_num
  FROM hits GROUP BY q_id
)
SELECT q_id, CAST(n_rel AS INT) AS n_rel_at_k,
       CAST(CASE WHEN n_rel > 0 THEN ap_num // n_rel ELSE 0 END AS BIGINT)
         AS ap_micro
FROM agg
"""


@register("eval_average_precision", oracle=_AP_ORACLE)
@fdoc(f"""Average precision @{PROBE_DEPTH} per probe query (the per-query term
    of MAP): AP = (Σ over relevant ranks i of precision@i) / R, with
    precision@i kept as the exact integer (10⁶·relcnt@i) div i and the
    final mean as one integer division — 0 for queries with no hit.
    Completes the retrieval-eval ladder: MRR (first hit), NDCG (graded
    discount), ERR (cascade), AP (order-sensitive area under P-R).

    Scale shape: {PROBE_QUERIES} probes broadcast; the corpus scores
    map-only; per-query top-{PROBE_DEPTH} via the salted two-stage exact
    top-k (rank in (q, salt) keep k, re-rank the bounded survivors), so
    no reducer sorts a whole query's score column; the running relevant
    count is a window over ≤{PROBE_DEPTH} rows per query.""")
def eval_average_precision(spark: SparkSession, sf_dir: str) -> DataFrame:
    ranked = probe_topk(probe_scores(spark, sf_dir))
    wrun = (
        Window.partitionBy("q_id")
        .orderBy("rnk")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    hits = ranked.select(
        "q_id",
        "rnk",
        F.expr("CASE WHEN label = qlabel THEN 1 ELSE 0 END").alias("rel"),
    ).select(
        "q_id",
        "rnk",
        "rel",
        F.sum("rel").over(wrun).cast("bigint").alias("relcnt"),
    )
    agg = hits.groupBy("q_id").agg(
        F.sum("rel").cast("bigint").alias("n_rel"),
        F.sum(
            F.expr(
                "CASE WHEN rel = 1 THEN (1000000 * relcnt) div rnk"
                " ELSE 0 END"
            )
        )
        .cast("bigint")
        .alias("ap_num"),
    )
    return agg.select(
        "q_id",
        F.col("n_rel").cast("int").alias("n_rel_at_k"),
        F.expr(
            "CAST(CASE WHEN n_rel > 0 THEN ap_num div n_rel"
            " ELSE 0 END AS BIGINT)"
        ).alias("ap_micro"),
    )


# ---------------------------------------------------------------------------
# simsearch_pq_adc
# ---------------------------------------------------------------------------

_ADC_SUBSPACES, _ADC_SUBDIM, _ADC_CODEBOOK = 4, 16, 8
_ADC_QUERY_ID = 100  # deterministic full-precision probe
_ADC_TOP = 10


def _adc_sub_fold(vcol: str, ccol: str, m: int) -> str:
    lo = m * _ADC_SUBDIM + 1
    return (
        f"list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
        f"list_transform(range({lo}, {lo + _ADC_SUBDIM}), "
        f"i -> ({vcol}[i] - {ccol}[i]) * ({vcol}[i] - {ccol}[i]))), "
        f"(acc, x) -> acc + x)"
    )


def _adc_oracle() -> str:
    sub_assign = ", ".join(
        f"{_adc_sub_fold('e.v', 'c.cv', m)} AS dd{m}"
        for m in range(_ADC_SUBSPACES)
    )
    sub_lut = ", ".join(
        f"{_adc_sub_fold('q.qv', 'c.cv', m)} AS l{m}"
        for m in range(_ADC_SUBSPACES)
    )
    stack = " UNION ALL ".join(
        f"SELECT vec_id, c_id, {m} AS m, dd{m} AS d2 FROM dist"
        for m in range(_ADC_SUBSPACES)
    )
    lutstack = " UNION ALL ".join(
        f"SELECT c_id, {m} AS m, l{m} AS lv FROM lutd"
        for m in range(_ADC_SUBSPACES)
    )
    return f"""
WITH e AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
),
c AS (SELECT vec_id AS c_id, v AS cv FROM e WHERE vec_id < {_ADC_CODEBOOK}),
q AS (SELECT v AS qv FROM e WHERE vec_id = {_ADC_QUERY_ID}),
dist AS (SELECT e.vec_id, c.c_id, {sub_assign} FROM e CROSS JOIN c),
stacked AS ({stack}),
codes AS (
  SELECT vec_id, m, MIN((d2, c_id)) AS best FROM stacked GROUP BY 1, 2
),
lutd AS (SELECT c.c_id, {sub_lut} FROM c CROSS JOIN q),
lut AS ({lutstack}),
adc AS (
  SELECT k.vec_id,
         MIN(CASE WHEN k.m = 0 THEN l.lv END) AS a0,
         MIN(CASE WHEN k.m = 1 THEN l.lv END) AS a1,
         MIN(CASE WHEN k.m = 2 THEN l.lv END) AS a2,
         MIN(CASE WHEN k.m = 3 THEN l.lv END) AS a3
  FROM codes k JOIN lut l ON l.m = k.m AND l.c_id = k.best[2]
  GROUP BY k.vec_id
)
SELECT vec_id, ROUND(((a0 + a1) + a2) + a3, 6) AS adc_dist2_r6
FROM adc
WHERE vec_id <> {_ADC_QUERY_ID}
ORDER BY ((a0 + a1) + a2) + a3 ASC, vec_id ASC
LIMIT {_ADC_TOP}
"""


@register("simsearch_pq_adc", oracle=_adc_oracle())
@fdoc(f"""Product-quantization ASYMMETRIC distance search — the query side of
    simsearch_pq_assign: the corpus exists only as {_ADC_SUBSPACES}
    small codes per vector, the query stays full-precision, and a
    candidate's distance is the sum of {_ADC_SUBSPACES} entries from a
    per-query lookup table (query-to-codeword distances, {_ADC_SUBSPACES}
    × {_ADC_CODEBOOK} = 32 doubles). This is how a billion-vector PQ
    index scores: build one tiny LUT per query, then a table-lookup sum
    per candidate — no full-precision corpus read at query time.

    Determinism: every squared-L2 is the strict left-to-right fold the
    PQ family hash-matches on; the 4-term ADC sum is explicitly
    parenthesized ((a0+a1)+a2)+a3 in BOTH engines (an unordered SUM over
    a group would let addition order drift).

    Scale shape: codes = one corpus-sized relation keyed by vec; the LUT
    is a 32-row broadcast; scoring is a broadcast join + 4-column
    arithmetic; output is a TakeOrdered top-{_ADC_TOP}.""")
def simsearch_pq_adc(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.expr("transform(embedding, x -> CAST(x AS DOUBLE))").alias("v"),
    )
    cent = F.broadcast(
        e.filter(F.col("vec_id") < _ADC_CODEBOOK)
        .limit(_ADC_CODEBOOK)  # bounded codebook: provable loop-join build
        .select(F.col("vec_id").alias("c_id"), F.col("v").alias("cv"))
    )
    qv = F.broadcast(
        e.filter(F.col("vec_id") == _ADC_QUERY_ID).limit(1).select(
            F.col("v").alias("qv")
        )
    )

    def spark_fold(vcol: str, ccol: str, m: int) -> str:
        lo = m * _ADC_SUBDIM + 1
        return (
            f"aggregate(zip_with(slice({vcol}, {lo}, {_ADC_SUBDIM}), "
            f"slice({ccol}, {lo}, {_ADC_SUBDIM}), "
            f"(a, b) -> (a - b) * (a - b)), CAST(0.0 AS DOUBLE), "
            f"(acc, x) -> acc + x)"
        )

    dist = e.crossJoin(cent).select(
        "vec_id",
        "c_id",
        *[
            F.expr(spark_fold("v", "cv", m)).alias(f"d{m}")
            for m in range(_ADC_SUBSPACES)
        ],
    )
    stack_args = ", ".join(f"{m}, d{m}" for m in range(_ADC_SUBSPACES))
    codes = (
        dist.select(
            "vec_id",
            "c_id",
            F.expr(f"stack({_ADC_SUBSPACES}, {stack_args}) AS (m, d2)"),
        )
        .groupBy("vec_id", "m")
        .agg(F.min(F.struct("d2", "c_id")).alias("best"))
        .select("vec_id", "m", F.col("best.c_id").alias("code"))
    )
    lut = (
        cent.crossJoin(qv)
        .select(
            "c_id",
            *[
                F.expr(spark_fold("qv", "cv", m)).alias(f"l{m}")
                for m in range(_ADC_SUBSPACES)
            ],
        )
        .select(
            "c_id",
            F.expr(f"stack({_ADC_SUBSPACES}, "
                   + ", ".join(f"{m}, l{m}" for m in range(_ADC_SUBSPACES))
                   + ") AS (m, lv)"),
        )
    )
    adc = (
        codes.join(
            F.broadcast(lut),
            (codes["m"] == lut["m"]) & (codes["code"] == lut["c_id"]),
        )
        .groupBy("vec_id")
        .agg(
            *[
                F.min(F.when(codes["m"] == m, F.col("lv"))).alias(f"a{m}")
                for m in range(_ADC_SUBSPACES)
            ]
        )
    )
    return (
        adc.filter(F.col("vec_id") != _ADC_QUERY_ID)
        .select(
            "vec_id",
            F.expr("((a0 + a1) + a2) + a3").alias("adc"),
        )
        .orderBy(F.asc("adc"), F.asc("vec_id"))
        .limit(_ADC_TOP)
        .select("vec_id", F.round("adc", 6).alias("adc_dist2_r6"))
    )
