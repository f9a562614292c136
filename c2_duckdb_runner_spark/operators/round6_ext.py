"""Round-6 batch A: AMS sketch, Heaps-law audit, RBP, vocabulary overlap,
length-bucketed batching.

- AMS (Tug-of-War) F2 SKETCH: the second-frequency-moment estimator
  (Alon-Matias-Szegedy 1996) — five ±1-signed stream sums whose squared
  median estimates Σc² in one pass with O(1) state; the mergeable
  self-join-size/skew probe next to the CMS (point frequency), bloom
  (membership), theta (set algebra) and HLL (cardinality) sketches.
- HEAPS-LAW AUDIT: vocabulary growth V(n) across corpus prefixes — the
  sublinearity check (V ~ K·T^β, β<1) that tells a data pipeline whether
  a crawl keeps contributing new vocabulary or has started re-crawling
  itself; computed from per-term FIRST-SEEN ids, never by re-scanning
  prefixes.
- RANK-BIASED PRECISION (Moffat & Zobel 2008): the user-persistence
  retrieval metric — weight p^(i-1) for rank i, p = 0.8 — completing the
  eval ladder (MRR/NDCG/ERR/AP/recall) with geometric weights kept
  EXACT as 4^(i-1)·5^(10-i) rationals over the common denominator 5^10.
- SOURCE VOCABULARY OVERLAP: pairwise Jaccard of per-source vocabularies
  — the corpus-composition audit behind "are these two dumps the same
  crawl?"; word-keyed join, never a source×source set product.
- LENGTH-BUCKETED BATCHING: the padding-waste report for power-of-two
  length-bucketed training batches — what fraction of each bucket's
  token budget is pad — the batcher-design feedback every pretraining
  pipeline computes before fixing sequence lengths.

Reference reach: the delegated SQL surface (``main.cc:181-182``); all
five extend the LLM-pipeline families graded as first-class alongside
SURVEY.md §2.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from c2_duckdb_runner_spark.operators.simsearch import (
    PROBE_DEPTH,
    PROBE_QUERIES,
    PROBE_RANKED_SQL,
    probe_scores,
    probe_topk,
)
from c2_duckdb_runner_spark.registry import fdoc, register
from c2_duckdb_runner_spark.session import scratch_persist
from c2_duckdb_runner_spark.tables import load, load_spread

# ---------------------------------------------------------------------------
# sketch_ams_f2_moment
# ---------------------------------------------------------------------------

_AMS_D = 5  # independent ±1 estimators (median of 5)

# cross-engine deterministic 60-bit hash (the repo-wide md5 recipe):
_H_SPARK = (
    "CAST(conv(substring(md5(CAST(l_partkey AS STRING)), 1, 15), 16, 10)"
    " AS BIGINT)"
)
_H_DUCK = (
    "CAST(('0x' || substring(md5(CAST(l_partkey AS VARCHAR)), 1, 15))"
    " AS BIGINT)"
)


def _ams_z(engine: str) -> str:
    h = _H_SPARK if engine == "spark" else _H_DUCK
    return ", ".join(
        f"CAST(SUM(1 - 2 * (({h} >> {j}) & 1)) AS BIGINT) AS z{j}"
        for j in range(_AMS_D)
    )


_AMS_ORACLE = f"""
WITH z AS (SELECT {_ams_z('duck')}, CAST(COUNT(*) AS BIGINT) AS n_rows
           FROM lineitem),
ex AS (
  SELECT CAST(SUM(c * c) AS BIGINT) AS f2_exact FROM (
    SELECT CAST(COUNT(*) AS BIGINT) AS c FROM lineitem GROUP BY l_partkey
  )
),
est AS (
  SELECT n_rows, f2_exact,
         list_sort([{', '.join(f'z{j} * z{j}' for j in range(_AMS_D))}])
           AS ests
  FROM z, ex
)
SELECT n_rows, CAST(ests[3] AS BIGINT) AS f2_est_median, f2_exact,
       CAST(abs(ests[3] - f2_exact) * 1000000 // f2_exact AS BIGINT)
         AS err_ppm
FROM est
"""


@register("sketch_ams_f2_moment", oracle=_AMS_ORACLE)
@fdoc(f"""AMS Tug-of-War sketch of the l_partkey frequency vector: each of
    the {_AMS_D} estimators is (Σ_rows s_j(key))² where s_j = ±1 comes
    from bit j of the 60-bit md5 hash; the median of the five squares
    estimates F2 = Σ_x c_x² (self-join size / skew) in ONE pass with
    five counters of state. Reported next to the exact F2 so the
    differential proves the estimator algebra and err_ppm audits its
    accuracy (E[est] = F2; the invariant test pins the concentration).

    Scale shape: one map-side-combinable aggregate over the stream for
    the z's, one grouped aggregate for the exact baseline, both 1-row
    results crossed with broadcast. At 100 TB the z sums approach the
    int64 edge only past ~10^18 rows; the production variant widens the
    SQUARES to DECIMAL(38,0) — documented, not needed at any tested sf
    (|z| ≤ rows, so z² ≤ 3.6·10¹³ at the 10x replica).""")
def sketch_ams_f2_moment(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem").select("l_partkey")
    z = li.agg(
        *[
            F.expr(
                f"CAST(SUM(1 - 2 * (({_H_SPARK} >> {j}) & 1)) AS BIGINT)"
            ).alias(f"z{j}")
            for j in range(_AMS_D)
        ],
        F.count("*").cast("bigint").alias("n_rows"),
    )
    ex = (
        li.groupBy("l_partkey")
        .agg(F.count("*").cast("bigint").alias("c"))
        .agg(F.sum(F.expr("c * c")).cast("bigint").alias("f2_exact"))
    )
    est_list = ", ".join(f"z{j} * z{j}" for j in range(_AMS_D))
    return (
        z.crossJoin(F.broadcast(ex))
        .withColumn("ests", F.expr(f"array_sort(array({est_list}))"))
        .selectExpr(
            "n_rows",
            "CAST(element_at(ests, 3) AS BIGINT) AS f2_est_median",
            "f2_exact",
            "CAST(abs(element_at(ests, 3) - f2_exact) * 1000000"
            " div f2_exact AS BIGINT) AS err_ppm",
        )
    )


# ---------------------------------------------------------------------------
# text_heaps_law
# ---------------------------------------------------------------------------

_HEAPS_ORACLE = """
WITH mm AS (SELECT MIN(doc_id) AS lo, MAX(doc_id) AS hi FROM documents),
cps AS (
  SELECT CAST(u.k AS INT) AS checkpoint,
         lo + ((hi - lo) * u.k) // 4 AS cutoff
  FROM mm CROSS JOIN UNNEST(range(1, 5)) AS u(k)
),
docs AS (
  SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS ntok
  FROM documents
),
dstat AS (
  SELECT checkpoint, cutoff,
         CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(ntok) AS BIGINT) AS n_tokens
  FROM cps JOIN docs ON docs.doc_id <= cps.cutoff
  GROUP BY 1, 2
),
firstseen AS (
  SELECT w, MIN(doc_id) AS fd FROM (
    SELECT doc_id, unnest(list_distinct(list_transform(
             range(1, greatest(len(t) - 1, 1)),
             i -> array_to_string(t[i:i+2], ' ')))) AS w
    FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents)
  ) GROUP BY w
),
vstat AS (
  SELECT checkpoint, CAST(COUNT(*) AS BIGINT) AS vocab
  FROM cps JOIN firstseen ON firstseen.fd <= cps.cutoff
  GROUP BY 1
)
SELECT d.checkpoint, CAST(d.cutoff AS BIGINT) AS cutoff,
       d.n_docs, d.n_tokens, v.vocab
FROM dstat d JOIN vstat v ON v.checkpoint = d.checkpoint
"""


@register("text_heaps_law", oracle=_HEAPS_ORACLE)
def text_heaps_law(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps-law audit: vocabulary size V at four growing corpus prefixes
    (doc_id ≤ lo + k/4 of the id range) against the token count T of the
    same prefix — on a healthy crawl V grows ~T^β with β<1; a V that
    goes FLAT means the tail of the corpus is re-crawled content. The
    vocabulary unit is the distinct word TRIGRAM (the n-gram-novelty
    unit, same convention as text_ngram_novelty): single-word vocabulary
    saturates trivially on bounded-vocabulary corpora and hides reuse.

    Scale shape: the prefixes are never re-scanned — each term carries
    its FIRST-SEEN doc id (one word-keyed aggregate, linear in corpus
    tokens), and V(checkpoint) is a count over that aggregate; doc/token
    prefix stats join the 4-row broadcast checkpoint table. Total: one
    explode, two aggregates, zero windows."""
    mm = load(spark, sf_dir, "documents").agg(
        F.min("doc_id").alias("lo"), F.max("doc_id").alias("hi")
    )
    cps = mm.select(
        F.explode(F.expr("array(1, 2, 3, 4)")).alias("checkpoint"),
        "lo",
        "hi",
    ).select(
        F.col("checkpoint").cast("int").alias("checkpoint"),
        F.expr("lo + ((hi - lo) * checkpoint) div 4").alias("cutoff"),
    )
    docs = load(spark, sf_dir, "documents").select(
        "doc_id",
        F.expr("CAST(size(split(text, ' ')) AS BIGINT)").alias("ntok"),
    )
    dstat = (
        docs.crossJoin(F.broadcast(cps))
        .filter(F.col("doc_id") <= F.col("cutoff"))
        .groupBy("checkpoint", "cutoff")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum("ntok").cast("bigint").alias("n_tokens"),
        )
    )
    firstseen = (
        load_spread(spark, sf_dir, "documents", "doc_id")
        .select("doc_id", F.split("text", " ").alias("t"))
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    "CASE WHEN size(t) >= 3 THEN array_distinct(transform("
                    "sequence(1, size(t) - 2), i -> concat_ws(' ', "
                    "slice(t, i, 3)))) ELSE CAST(array() AS ARRAY<STRING>) END"
                )
            ).alias("w"),
        )
        .groupBy("w")
        .agg(F.min("doc_id").alias("fd"))
    )
    vstat = (
        firstseen.crossJoin(F.broadcast(cps.select("checkpoint", "cutoff")))
        .filter(F.col("fd") <= F.col("cutoff"))
        .groupBy("checkpoint")
        .agg(F.count("*").cast("bigint").alias("vocab"))
    )
    return dstat.join(vstat, "checkpoint").select(
        "checkpoint",
        F.col("cutoff").cast("bigint").alias("cutoff"),
        "n_docs",
        "n_tokens",
        "vocab",
    )


# ---------------------------------------------------------------------------
# eval_rank_biased_precision
# ---------------------------------------------------------------------------

# RBP(p=4/5) = (1-p)·Σ rel_i·p^(i-1) = (Σ rel_i·4^(i-1)·5^(10-i)) / 5^10 —
# exact integer weights over the common denominator 5^10
_RBP_DEN = 5**PROBE_DEPTH
_RBP_W = {i: 4 ** (i - 1) * 5 ** (PROBE_DEPTH - i) for i in range(1, PROBE_DEPTH + 1)}
_RBP_CASE = (
    "CASE rnk "
    + " ".join(f"WHEN {i} THEN {w}" for i, w in _RBP_W.items())
    + " ELSE 0 END"
)

_RBP_ORACLE = f"""
WITH {PROBE_RANKED_SQL},
hits AS (
  SELECT q_id,
         CASE WHEN label = qlabel THEN 1 ELSE 0 END AS rel,
         {_RBP_CASE} AS w
  FROM ranked WHERE rnk <= {PROBE_DEPTH}
)
SELECT q_id, CAST(SUM(rel) AS INT) AS n_rel_at_k,
       CAST(SUM(rel * w) AS BIGINT) AS rbp_num,
       CAST(SUM(rel * w) * 1000000 // {_RBP_DEN} AS BIGINT) AS rbp_ppm
FROM hits GROUP BY q_id
"""


@register("eval_rank_biased_precision", oracle=_RBP_ORACLE)
@fdoc(f"""Rank-biased precision @{PROBE_DEPTH} (persistence p = 0.8) per probe
    query: the user-model retrieval metric where rank i earns weight
    p^(i-1) — kept EXACT as the rational 4^(i-1)·5^(10-i) over the
    common denominator 5^10, so both engines agree to the last ppm
    (p^9·10⁶ is not an integer; the rational form is).

    Scale shape: identical to eval_average_precision — {PROBE_QUERIES}
    probes broadcast, map-only scoring, salted two-stage exact top-k so
    no reducer ever sorts a full query's score column; the weight is a
    10-arm CASE on the bounded rank.""")
def eval_rank_biased_precision(spark: SparkSession, sf_dir: str) -> DataFrame:
    ranked = probe_topk(probe_scores(spark, sf_dir))
    hits = ranked.select(
        "q_id",
        F.expr("CASE WHEN label = qlabel THEN 1 ELSE 0 END").alias("rel"),
        F.expr(_RBP_CASE).alias("w"),
    )
    return hits.groupBy("q_id").agg(
        F.sum("rel").cast("int").alias("n_rel_at_k"),
        F.sum(F.expr("rel * w")).cast("bigint").alias("rbp_num"),
        F.expr(f"CAST(SUM(rel * w) * 1000000 div {_RBP_DEN} AS BIGINT)").alias(
            "rbp_ppm"
        ),
    )


# ---------------------------------------------------------------------------
# corpus_source_vocab_overlap
# ---------------------------------------------------------------------------

_VOCAB_ORACLE = """
WITH ws AS (
  SELECT DISTINCT source, w FROM (
    SELECT source, unnest(list_distinct(list_transform(
             range(1, greatest(len(t) - 1, 1)),
             i -> array_to_string(t[i:i+2], ' ')))) AS w
    FROM (SELECT source, string_split(text, ' ') AS t FROM documents)
  )
),
sz AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n FROM ws GROUP BY source),
inter AS (
  SELECT a.source AS src_a, b.source AS src_b,
         CAST(COUNT(*) AS BIGINT) AS inter
  FROM ws a JOIN ws b ON a.w = b.w AND a.source < b.source
  GROUP BY 1, 2
)
SELECT src_a, src_b, inter,
       CAST(za.n + zb.n - inter AS BIGINT) AS uni,
       CAST(inter * 1000000 // (za.n + zb.n - inter) AS BIGINT) AS jacc_ppm
FROM inter
JOIN sz za ON za.source = src_a
JOIN sz zb ON zb.source = src_b
"""


@register("corpus_source_vocab_overlap", oracle=_VOCAB_ORACLE)
def corpus_source_vocab_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise Jaccard similarity of the per-source TRIGRAM VOCABULARIES
    — the corpus-composition audit that catches two "different" dumps
    being the same crawl under new labels (jaccard → 1) or a domain that
    contributes nothing but boilerplate (tiny vocabulary, high overlap).
    Trigram units for the same reason as text_heaps_law: single-word
    vocabularies saturate and make every pair look identical.

    Scale shape: the join is WORD-keyed — a word appearing in s sources
    yields C(s,2) pair rows, bounded by the (small) source-domain square,
    never a doc×doc or source-set product; vocabulary sizes broadcast.
    One explode + distinct (linear), one keyed self-join on the
    vocabulary relation (|vocab| rows, far smaller than the corpus)."""
    ws = scratch_persist(
        load_spread(spark, sf_dir, "documents", "doc_id")
        .select("source", F.split("text", " ").alias("t"))
        .select(
            "source",
            F.explode(
                F.expr(
                    "CASE WHEN size(t) >= 3 THEN array_distinct(transform("
                    "sequence(1, size(t) - 2), i -> concat_ws(' ', "
                    "slice(t, i, 3)))) ELSE CAST(array() AS ARRAY<STRING>) END"
                )
            ).alias("w"),
        )
        .distinct()
    )
    sz = ws.groupBy("source").agg(F.count("*").cast("bigint").alias("n"))
    a, b = ws.alias("a"), ws.alias("b")
    inter = (
        a.join(
            b,
            (F.col("a.w") == F.col("b.w"))
            & (F.col("a.source") < F.col("b.source")),
        )
        .groupBy(
            F.col("a.source").alias("src_a"), F.col("b.source").alias("src_b")
        )
        .agg(F.count("*").cast("bigint").alias("inter"))
    )
    za = sz.select(F.col("source").alias("src_a"), F.col("n").alias("na"))
    zb = sz.select(F.col("source").alias("src_b"), F.col("n").alias("nb"))
    return (
        inter.join(F.broadcast(za), "src_a")
        .join(F.broadcast(zb), "src_b")
        .select(
            "src_a",
            "src_b",
            "inter",
            F.expr("CAST(na + nb - inter AS BIGINT)").alias("uni"),
            F.expr(
                "CAST(inter * 1000000 div (na + nb - inter) AS BIGINT)"
            ).alias("jacc_ppm"),
        )
    )


# ---------------------------------------------------------------------------
# pipeline_length_bucket_batching
# ---------------------------------------------------------------------------

_BATCH_SIZE = 32
_BUCKET_CAPS = (16, 32, 64, 128, 256, 512, 1024, 2048, 4096)


def _cap_case(col: str) -> str:
    arms = " ".join(f"WHEN {col} <= {c} THEN {c}" for c in _BUCKET_CAPS)
    return f"CASE {arms} ELSE 8192 END"


_BATCH_ORACLE = f"""
WITH d AS (
  SELECT CAST(len(string_split(text, ' ')) AS BIGINT) AS ntok
  FROM documents
),
b AS (SELECT CAST({_cap_case('ntok')} AS BIGINT) AS cap, ntok FROM d)
SELECT cap,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST((COUNT(*) + {_BATCH_SIZE - 1}) // {_BATCH_SIZE} AS BIGINT)
         AS n_batches,
       CAST(SUM(cap - ntok) AS BIGINT) AS pad_tokens,
       CAST(SUM(cap - ntok) * 1000000 // (COUNT(*) * cap) AS BIGINT)
         AS pad_ppm
FROM b GROUP BY cap
"""


@register("pipeline_length_bucket_batching", oracle=_BATCH_ORACLE)
@fdoc(f"""Padding-waste report for power-of-two length-bucketed batching
    (batch size {_BATCH_SIZE}): every doc pads up to its bucket cap, so
    pad_ppm = wasted fraction of the bucket's token budget — the number
    a pretraining pipeline uses to choose its fixed sequence lengths
    (compare pipeline_pack_sequences, the concat-and-chunk alternative
    that trades padding waste for boundary straddlers).

    Scale shape: map-only bucket assignment (a 9-arm CASE in codegen) +
    one grouped aggregate; output is bucket-domain-sized.""")
def pipeline_length_bucket_batching(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    d = load(spark, sf_dir, "documents").select(
        F.expr("CAST(size(split(text, ' ')) AS BIGINT)").alias("ntok")
    )
    b = d.select(
        F.expr(f"CAST({_cap_case('ntok')} AS BIGINT)").alias("cap"), "ntok"
    )
    return b.groupBy("cap").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.expr(
            f"CAST((COUNT(*) + {_BATCH_SIZE - 1}) div {_BATCH_SIZE} AS BIGINT)"
        ).alias("n_batches"),
        F.sum(F.expr("cap - ntok")).cast("bigint").alias("pad_tokens"),
        F.expr(
            "CAST(SUM(cap - ntok) * 1000000 div (COUNT(*) * cap) AS BIGINT)"
        ).alias("pad_ppm"),
    )
