"""Round-5 batch E: lexical diversity and recall@k.

- TYPE-TOKEN RATIO + HAPAX FRACTION per source shard: the classic
  lexical-diversity corpus-health signals (a shard whose TTR collapses
  is template spam; a hapax fraction near zero is boilerplate) —
  integer-exact micro ratios, one token scan.
- RECALL@10 on the shared probe/relevance harness (search_mrr_eval /
  eval_average_precision): retrieved-relevant over ALL corpus-relevant,
  completing the retrieval ladder's recall axis next to AP's precision
  axis.

Reference reach: the delegated SQL surface (``main.cc:181-182``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from c2_duckdb_runner_spark.operators.simsearch import (
    PROBE_DEPTH,
    PROBE_RANKED_SQL,
    probe_scores,
    probe_topk,
)
from c2_duckdb_runner_spark.registry import fdoc, register
from c2_duckdb_runner_spark.tables import load

# ---------------------------------------------------------------------------
# text_type_token_ratio
# ---------------------------------------------------------------------------

_TTR_ORACLE = """
WITH t AS (
  SELECT source, unnest(string_split(text, ' ')) AS w FROM documents
),
types AS (
  SELECT source, w, CAST(COUNT(*) AS BIGINT) AS c FROM t GROUP BY 1, 2
)
SELECT source,
       CAST(SUM(c) AS BIGINT) AS n_tokens,
       CAST(COUNT(*) AS BIGINT) AS n_types,
       CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_hapax,
       CAST((1000000 * COUNT(*)) // SUM(c) AS BIGINT) AS ttr_micro,
       CAST((1000000 * SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END)) // COUNT(*)
            AS BIGINT) AS hapax_frac_micro
FROM types GROUP BY source
"""


@register("text_type_token_ratio", oracle=_TTR_ORACLE)
def text_type_token_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Type-token ratio and hapax-legomenon fraction per source shard —
    the lexical-diversity pair every corpus health report carries: TTR
    (distinct words / total words) collapses on template spam, and a
    hapax fraction near zero flags boilerplate-dominated shards. Exact
    integer micro ratios.

    Scale shape: one token explode + one (source, word) aggregate with
    map-side combine, then a source-sized rollup — the same two-level
    reduction as tokenizer_vocab_coverage, never a distinct over the raw
    token stream."""
    t = load(spark, sf_dir, "documents").select(
        "source", F.explode(F.split("text", " ")).alias("w")
    )
    types = t.groupBy("source", "w").agg(
        F.count("*").cast("bigint").alias("c")
    )
    return types.groupBy("source").agg(
        F.sum("c").cast("bigint").alias("n_tokens"),
        F.count("*").cast("bigint").alias("n_types"),
        F.sum(F.expr("CASE WHEN c = 1 THEN 1 ELSE 0 END"))
        .cast("bigint")
        .alias("n_hapax"),
        F.expr("CAST((1000000 * COUNT(*)) DIV SUM(c) AS BIGINT)").alias(
            "ttr_micro"
        ),
        F.expr(
            "CAST((1000000 * SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END))"
            " DIV COUNT(*) AS BIGINT)"
        ).alias("hapax_frac_micro"),
    )


# ---------------------------------------------------------------------------
# eval_recall_at_k
# ---------------------------------------------------------------------------

# the recall depth under its older name, which test_invariants_r5 imports
_RK_DEPTH = PROBE_DEPTH

_RK_ORACLE = f"""
WITH {PROBE_RANKED_SQL},
pool AS (
  SELECT q.q_id, CAST(COUNT(*) AS BIGINT) AS n_corpus_rel
  FROM q JOIN e ON e.label = q.qlabel AND e.vec_id <> q.q_id
  GROUP BY q.q_id
),
hits AS (
  SELECT q_id,
         CAST(SUM(CASE WHEN label = qlabel THEN 1 ELSE 0 END) AS BIGINT)
           AS n_rel_at_k
  FROM ranked WHERE rnk <= {PROBE_DEPTH} GROUP BY q_id
)
SELECT h.q_id, CAST(h.n_rel_at_k AS INT) AS n_rel_at_k,
       CAST(p.n_corpus_rel AS BIGINT) AS n_corpus_rel,
       CAST(CASE WHEN p.n_corpus_rel > 0
            THEN (1000000 * h.n_rel_at_k) // p.n_corpus_rel
            ELSE 0 END AS BIGINT) AS recall_micro
FROM hits h JOIN pool p ON p.q_id = h.q_id
"""


@register("eval_recall_at_k", oracle=_RK_ORACLE)
@fdoc(f"""Recall@{PROBE_DEPTH} per probe query: retrieved-relevant over ALL
    corpus-relevant (same-label docs) — the recall axis of the retrieval
    ladder (AP covers the precision axis on the identical harness), the
    number an ANN index quotes against exact search. Exact integer
    micro.

    Scale shape: probes broadcast, corpus scores map-only, per-query
    top-{PROBE_DEPTH} via the salted two-stage exact top-k; the
    corpus-relevant pool size is a per-query count over the same scored
    rows, as search_ndcg_eval counts its ideal-list size.""")
def eval_recall_at_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    scored = probe_scores(spark, sf_dir)
    pool = (
        scored.filter(F.col("label") == F.col("qlabel"))
        .groupBy("q_id")
        .agg(F.count("*").cast("bigint").alias("n_corpus_rel"))
    )
    ranked = probe_topk(scored)
    hits = ranked.groupBy("q_id").agg(
        F.sum(F.expr("CASE WHEN label = qlabel THEN 1 ELSE 0 END"))
        .cast("bigint")
        .alias("n_rel_at_k")
    )
    return hits.join(pool, "q_id").select(
        "q_id",
        F.col("n_rel_at_k").cast("int").alias("n_rel_at_k"),
        F.col("n_corpus_rel").cast("bigint").alias("n_corpus_rel"),
        F.expr(
            "CAST(CASE WHEN n_corpus_rel > 0"
            " THEN (1000000 * n_rel_at_k) DIV n_corpus_rel"
            " ELSE 0 END AS BIGINT)"
        ).alias("recall_micro"),
    )
