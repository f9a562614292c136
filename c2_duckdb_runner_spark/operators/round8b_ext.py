"""Round-8 batch B: streaming windowed top-k, per-doc bigram entropy,
Cramér-von Mises drift, DP sensitivity audit, corpus growth curve, and PQ
codebook training.

- STREAMING TOP-K PER WINDOW: the per-window leaderboard (top event types
  per hour) — the trending/alerting topology: streaming windowed counts,
  then a bounded batch rank over the flushed aggregate.
- CHAR-BIGRAM ENTROPY: per-document Shannon entropy of the character
  bigram distribution — the classic gibberish/boilerplate detector in
  crawl-quality stacks (low entropy = repeated padding, high = random
  bytes); exact counts, ln only in the per-doc bounded fold.
- CRAMÉR-VON MISES two-sample: the integral-statistic companion to
  stats_ks_drift_test (KS reads the max gap, CvM the whole squared-gap
  area) — exact integer U via ranks over the bounded day grid.
- DP SENSITIVITY AUDIT: the L∞/L0/L1 per-user contribution bounds of a
  daily-count histogram — what calibrating a differentially-private
  release actually needs before any noise is drawn.
- CORPUS GROWTH DEDUP CURVE: process sources in a fixed acquisition
  order and measure each source's marginal novelty vs everything before
  it — the data-acquisition diminishing-returns curve.
- PQ CODEBOOK UPDATE: one k-means round per SUBSPACE (product
  quantization training, m=4 × k=8) — the codebook-training companion
  to simsearch_pq_adc (which only assigns against fixed codebooks);
  reuses embed_kmeans_update_round's exact-micro mean recipe per
  subspace.

Reference reach: the delegated SQL surface (``main.cc:181-182``); all six
extend the first-class LLM-pipeline families (streaming analytics, text
quality, drift, privacy, acquisition planning, ANN indexing).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from c2_duckdb_runner_spark.operators.inference_ext import CENTS_SQL, cents
from c2_duckdb_runner_spark.registry import fdoc, register
from c2_duckdb_runner_spark.session import scratch_persist
from c2_duckdb_runner_spark.tables import load, load_spread

# ---------------------------------------------------------------------------
# stream_topk_per_window
# ---------------------------------------------------------------------------

_TOPK_K = 3
_DUCK_MS = "epoch_ms(CAST(ts AS TIMESTAMP))"

_STK_ORACLE = f"""
WITH w AS (
  SELECT ({_DUCK_MS} // 3600000) * 3600000 AS win_start_ms,
         event_type, CAST(COUNT(*) AS BIGINT) AS n
  FROM events WHERE ts IS NOT NULL GROUP BY 1, 2
)
SELECT win_start_ms, event_type, n, CAST(rnk AS INT) AS rnk FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY win_start_ms
                               ORDER BY n DESC, event_type ASC NULLS FIRST)
    AS rnk
  FROM w
) WHERE rnk <= {_TOPK_K}
"""


@register("stream_topk_per_window", oracle=_STK_ORACLE)
@fdoc(f"""Top-{_TOPK_K} event types per tumbling hour, streaming: the
    windowed counts run as a real micro-batch StreamingQuery (complete
    mode, the stream_tumbling drain), and the per-window rank runs as a
    bounded BATCH step over the flushed aggregate — ranking is not
    expressible inside an append-mode stream (no windowed row_number in
    streaming), so the production topology is exactly this two-stage
    shape: stream maintains the (window × key) counts, a downstream
    reader ranks them. Total tiebreak (n DESC, event_type ASC).

    Scale shape: streaming state is (window × event_type)-bounded; the
    batch rank partitions by window over the aggregate (never row-level
    data).""")
def stream_topk_per_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    from c2_duckdb_runner_spark.streaming.queries import (
        _events_stream,
        _run_to_memory,
    )

    agg = (
        _events_stream(spark, sf_dir)
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count("*").cast("bigint").alias("n"))
        .select(
            F.unix_millis(F.col("w.start")).alias("win_start_ms"),
            "event_type",
            "n",
        )
    )
    flushed = _run_to_memory(spark, agg, "complete")
    rnk = F.row_number().over(
        Window.partitionBy("win_start_ms").orderBy(
            F.desc("n"), F.asc("event_type")
        )
    )
    return (
        flushed.withColumn("rnk", rnk.cast("int"))
        .filter(F.col("rnk") <= _TOPK_K)
        .select("win_start_ms", "event_type", "n", "rnk")
    )


# ---------------------------------------------------------------------------
# text_char_bigram_entropy
# ---------------------------------------------------------------------------

_ENT_TOP = 20

_ENT_ORACLE = f"""
WITH g AS (
  SELECT doc_id, u.i AS i, substring(text, CAST(u.i AS INT), 2) AS bg
  FROM documents CROSS JOIN UNNEST(range(1, length(text))) AS u(i)
  WHERE length(text) >= 2
),
cnt AS (
  SELECT doc_id, bg, CAST(COUNT(*) AS BIGINT) AS c FROM g GROUP BY 1, 2
),
tot AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS t FROM cnt GROUP BY 1),
arr AS (
  SELECT cnt.doc_id, MIN(tot.t) AS t, list((bg, c) ORDER BY bg) AS xs
  FROM cnt JOIN tot ON tot.doc_id = cnt.doc_id GROUP BY cnt.doc_id
),
h AS (
  SELECT doc_id, t AS n_bigrams,
    ROUND(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
      list_transform(xs, c ->
        -(CAST(c[2] AS DOUBLE) / CAST(t AS DOUBLE))
         * ln(CAST(c[2] AS DOUBLE) / CAST(t AS DOUBLE)))),
      (acc, v) -> acc + v), 6) AS entropy_nats
  FROM arr
)
SELECT doc_id, n_bigrams, entropy_nats FROM h
ORDER BY entropy_nats ASC, doc_id ASC LIMIT {_ENT_TOP}
"""


@register("text_char_bigram_entropy", oracle=_ENT_ORACLE)
@fdoc(f"""Shannon entropy of each document's character-bigram distribution,
    lowest-{_ENT_TOP} — the repetition/gibberish screen crawl-quality
    stacks run beside the Gopher token filters (low bigram entropy flags
    boilerplate padding and repeated-character spam that token-level
    ratios miss). Counts are exact integers; ln enters only in the
    per-document fold over that document's OWN ordered bigram histogram
    (bounded by the doc, the corpus_jsd_trigram_drift determinism
    recipe), ROUND 6, total (entropy, doc_id) tiebreak.

    Scale shape (r11 optimization round): MAP-ONLY — each document's
    bigram histogram never leaves the row. The bigrams are sorted
    in-place (array_sort), run-length folded into the same
    -(c/t)·ln(c/t) terms in the same ascending-bigram order the old
    collect_list path produced (bit-identical doubles: one add per
    bigram run starting from 0.0), and only the {_ENT_TOP}-row
    TakeOrdered leaves the executors. Before r11 this was explode →
    (doc, bigram) aggregate → per-doc collect_list — two corpus-sized
    exchanges; now there are ZERO exchanges (one narrow spread
    repartition at single-row-group fixture scale only). Per-doc state
    is bounded by document length exactly as before.""")
def text_char_bigram_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    term_of = (
        "-(CAST({c} AS DOUBLE) / CAST(n_bigrams AS DOUBLE))"
        " * ln(CAST({c} AS DOUBLE) / CAST(n_bigrams AS DOUBLE))"
    )
    # run-length fold over the doc's SORTED bigram array: state carries
    # (current run value, run length, accumulated entropy); each run
    # flushes its term when the next run starts, the finish lambda
    # flushes the last — addition order = ascending bigram, identical to
    # the old sorted-collect fold.
    fold = (
        "aggregate("
        "  array_sort(transform(sequence(1, length(text) - 1),"
        "                       i -> substring(text, i, 2))),"
        "  named_struct('prev', CAST(NULL AS STRING),"
        "               'cnt', CAST(0 AS BIGINT),"
        "               'acc', CAST(0.0 AS DOUBLE)),"
        "  (s, x) -> CASE"
        "    WHEN s.prev IS NULL THEN"
        "      named_struct('prev', x, 'cnt', CAST(1 AS BIGINT), 'acc', s.acc)"
        "    WHEN x = s.prev THEN"
        "      named_struct('prev', s.prev, 'cnt', s.cnt + CAST(1 AS BIGINT),"
        "                   'acc', s.acc)"
        "    ELSE named_struct('prev', x, 'cnt', CAST(1 AS BIGINT),"
        f"                     'acc', s.acc + {term_of.format(c='s.cnt')}) END,"
        f"  s -> s.acc + {term_of.format(c='s.cnt')})"
    )
    return (
        load_spread(spark, sf_dir, "documents", "doc_id")
        .filter("length(text) >= 2")
        .select(
            "doc_id",
            (F.length("text") - 1).cast("bigint").alias("n_bigrams"),
            "text",
        )
        .select(
            "doc_id",
            "n_bigrams",
            F.round(F.expr(fold), 6).alias("entropy_nats"),
        )
        .orderBy(F.asc("entropy_nats"), F.asc("doc_id"))
        .limit(_ENT_TOP)
    )


# ---------------------------------------------------------------------------
# stats_cvm_two_sample
# ---------------------------------------------------------------------------

_CVM_A = "click"
_CVM_B = "purchase"

_CVM_ORACLE = f"""
WITH daily AS (
  SELECT event_type AS g, CAST(ts AS DATE) AS day,
         CAST(SUM({CENTS_SQL.format('value')}) AS BIGINT) AS v
  FROM events WHERE event_type IN ('{_CVM_A}', '{_CVM_B}')
  GROUP BY 1, 2
),
rk AS (
  SELECT g,
         CAST(ROW_NUMBER() OVER (ORDER BY v, g, day) AS BIGINT) AS r,
         CAST(ROW_NUMBER() OVER (PARTITION BY g ORDER BY v, g, day)
              AS BIGINT) AS i
  FROM daily
),
s AS (
  SELECT CAST(SUM(CASE WHEN g = '{_CVM_A}' THEN (r - i) * (r - i) END)
              AS BIGINT) AS sa,
         CAST(SUM(CASE WHEN g = '{_CVM_B}' THEN (r - i) * (r - i) END)
              AS BIGINT) AS sb,
         CAST(SUM(CASE WHEN g = '{_CVM_A}' THEN 1 ELSE 0 END) AS BIGINT) AS n,
         CAST(SUM(CASE WHEN g = '{_CVM_B}' THEN 1 ELSE 0 END) AS BIGINT) AS m
  FROM rk
)
SELECT n AS n_a, m AS n_b,
       CAST(n * sa + m * sb AS BIGINT) AS u_stat,
       CAST(6 * (n * sa + m * sb) - n * m * (4 * n * m - 1) AS BIGINT)
         AS t_num,
       CAST(6 * n * m * (n + m) AS BIGINT) AS t_den
FROM s
"""


@register("stats_cvm_two_sample", oracle=_CVM_ORACLE)
@fdoc(f"""Cramér-von Mises two-sample statistic between the '{_CVM_A}' and
    '{_CVM_B}' daily-revenue distributions: U = n·Σ(r_i−i)² + m·Σ(s_j−j)²
    over the pooled ranks, T = U/(nm(n+m)) − (4nm−1)/(6(n+m)), reported
    as the exact integer triple (U, T numerator, T denominator) over the
    common denominator 6nm(n+m) — T can be (slightly) negative, so no
    integer division touches it. KS (stats_ks_drift_test) reads only the
    max CDF gap; CvM integrates the whole squared gap, the
    power-against-tail-shifts companion. Ranks use the deterministic
    total order (value, group, day) — the tie convention both engines
    replay bit-for-bit (declared semantics, as in stats_kruskal_wallis's
    integer midranks).

    Scale shape: the rank windows run over the (group × day)-grid
    AGGREGATE — a relation bounded by the calendar at any scale factor —
    never over row-level events (the stats_kruskal_wallis discipline);
    the one input-sized operation is the daily rollup.""")
def stats_cvm_two_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    daily = (
        load(spark, sf_dir, "events")
        .filter(F.col("event_type").isin(_CVM_A, _CVM_B))
        .groupBy(
            F.col("event_type").alias("g"),
            F.expr("CAST(ts AS DATE)").alias("day"),
        )
        .agg(
            F.sum(cents("value"))
            .cast("bigint")
            .alias("v")
        )
    )
    rk = daily.select(
        "g",
        F.row_number()
        .over(Window.orderBy("v", "g", "day"))
        .cast("bigint")
        .alias("r"),
        F.row_number()
        .over(Window.partitionBy("g").orderBy("v", "g", "day"))
        .cast("bigint")
        .alias("i"),
    )
    s = rk.agg(
        F.sum(F.expr(f"CASE WHEN g = '{_CVM_A}' THEN (r - i) * (r - i) END"))
        .cast("bigint")
        .alias("sa"),
        F.sum(F.expr(f"CASE WHEN g = '{_CVM_B}' THEN (r - i) * (r - i) END"))
        .cast("bigint")
        .alias("sb"),
        F.sum(F.expr(f"CASE WHEN g = '{_CVM_A}' THEN 1 ELSE 0 END"))
        .cast("bigint")
        .alias("n"),
        F.sum(F.expr(f"CASE WHEN g = '{_CVM_B}' THEN 1 ELSE 0 END"))
        .cast("bigint")
        .alias("m"),
    )
    return s.select(
        F.col("n").alias("n_a"),
        F.col("m").alias("n_b"),
        F.expr("CAST(n * sa + m * sb AS BIGINT)").alias("u_stat"),
        F.expr(
            "CAST(6 * (n * sa + m * sb) - n * m * (4 * n * m - 1) AS BIGINT)"
        ).alias("t_num"),
        F.expr("CAST(6 * n * m * (n + m) AS BIGINT)").alias("t_den"),
    )


# ---------------------------------------------------------------------------
# privacy_dp_sensitivity_audit
# ---------------------------------------------------------------------------

_DPS_ORACLE = """
WITH cell AS (
  SELECT user_id, CAST(ts AS DATE) AS day, CAST(COUNT(*) AS BIGINT) AS c
  FROM events GROUP BY 1, 2
),
per_user AS (
  SELECT user_id, CAST(COUNT(*) AS BIGINT) AS l0,
         CAST(SUM(c) AS BIGINT) AS l1, CAST(MAX(c) AS BIGINT) AS linf
  FROM cell GROUP BY 1
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_users,
       CAST(MAX(linf) AS BIGINT) AS linf_contrib,
       CAST(MAX(l0) AS BIGINT) AS l0_buckets,
       CAST(MAX(l1) AS BIGINT) AS l1_total
FROM per_user
"""


@register("privacy_dp_sensitivity_audit", oracle=_DPS_ORACLE)
def privacy_dp_sensitivity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user contribution bounds of the daily event-count histogram —
    the three sensitivities a differentially-private histogram release is
    calibrated against BEFORE any noise is drawn: L∞ (max count one user
    adds to any single cell), L0 (max number of cells one user touches),
    L1 (max total events one user contributes). Gaussian-mechanism noise
    scales with the L2 ≤ √(L0)·L∞ bound and Laplace with L1, so the audit
    IS the privacy budget's input; the worst-case user drives all three.
    Completes the anonymity-audit family (privacy_k_anonymity_audit
    measures the released table; this measures the release's noise
    calibration).

    Scale shape: one input-sized (user × day) hash aggregate, one
    user-keyed aggregate over it, one 1-row reduction — all
    map-combining, no joins."""
    cell = (
        load(spark, sf_dir, "events")
        .groupBy("user_id", F.expr("CAST(ts AS DATE)").alias("day"))
        .agg(F.count("*").cast("bigint").alias("c"))
    )
    per_user = cell.groupBy("user_id").agg(
        F.count("*").cast("bigint").alias("l0"),
        F.sum("c").cast("bigint").alias("l1"),
        F.max("c").cast("bigint").alias("linf"),
    )
    return per_user.agg(
        F.count("*").cast("bigint").alias("n_users"),
        F.max("linf").cast("bigint").alias("linf_contrib"),
        F.max("l0").cast("bigint").alias("l0_buckets"),
        F.max("l1").cast("bigint").alias("l1_total"),
    )


# ---------------------------------------------------------------------------
# corpus_growth_dedup_curve
# ---------------------------------------------------------------------------

_CGD_ORACLE = """
WITH src AS (
  SELECT source, CAST(ROW_NUMBER() OVER (ORDER BY source) AS BIGINT) AS srk
  FROM (SELECT DISTINCT source FROM documents)
),
d AS (
  SELECT sha256(text) AS h, documents.source, src.srk
  FROM documents JOIN src ON src.source = documents.source
),
firsts AS (SELECT h, CAST(MIN(srk) AS BIGINT) AS minr FROM d GROUP BY h)
SELECT d.source, MIN(d.srk) AS acq_order,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(CASE WHEN f.minr = d.srk THEN 1 ELSE 0 END) AS BIGINT)
         AS n_novel,
       CAST(1000000 * SUM(CASE WHEN f.minr < d.srk THEN 1 ELSE 0 END)
            // COUNT(*) AS BIGINT) AS dup_vs_prior_ppm
FROM d JOIN firsts f ON f.h = d.h
GROUP BY d.source
"""


@register("corpus_growth_dedup_curve", oracle=_CGD_ORACLE)
def corpus_growth_dedup_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marginal-novelty curve of corpus acquisition: process sources in a
    fixed order (alphabetical stands in for acquisition time) and report,
    per source, how many of its documents are exact duplicates of ANY
    earlier source — the diminishing-returns curve a data-acquisition
    plan reads before paying for the next crawl. A document counts novel
    iff the minimum source rank over its sha256(text) group equals its
    own source's rank (so within-source duplicates stay novel — they are
    this source's own mass; only cross-source priority demotes).

    Scale shape: hash projection (map-only) → one h-keyed aggregate for
    the first-seeing rank → one h-keyed join back (both sides hash-
    partitioned on h, the dedup_exact shuffle shape) → source-domain
    aggregate. The source-rank window runs over the bounded distinct-
    source relation."""
    docs = load(spark, sf_dir, "documents").select(
        F.sha2("text", 256).alias("h"), "source"
    )
    src = (
        docs.select("source")
        .distinct()
        .select(
            "source",
            F.row_number().over(Window.orderBy("source")).cast("bigint").alias("srk"),
        )
    )
    d = scratch_persist(docs.join(F.broadcast(src), "source"))
    firsts = d.groupBy("h").agg(F.min("srk").cast("bigint").alias("minr"))
    return (
        d.join(firsts, "h")
        .groupBy("source")
        .agg(
            F.min("srk").alias("acq_order"),
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum(F.expr("CASE WHEN minr = srk THEN 1 ELSE 0 END"))
            .cast("bigint")
            .alias("n_novel"),
            F.expr(
                "CAST(1000000 * SUM(CASE WHEN minr < srk THEN 1 ELSE 0 END)"
                " div COUNT(*) AS BIGINT)"
            ).alias("dup_vs_prior_ppm"),
        )
    )


# ---------------------------------------------------------------------------
# embed_pq_codebook_update
# ---------------------------------------------------------------------------

_PQ_M = 4  # subspaces
_PQ_SUBDIM = 16  # 64 dims / 4
_PQ_K = 8  # centroids per subspace = subvectors of vec_id < 8
_PQ_OFF = 10_000_000  # offset > max |component| * 1e6: non-negative div

_PQ_D2 = (
    "list_reduce(list_transform(range(1, {sd} + 1),"
    " i -> (n.sv[i] - c.cvec[i]) * (n.sv[i] - c.cvec[i])), (x, y) -> x + y)"
).format(sd=_PQ_SUBDIM)

_PQ_ORACLE = f"""
WITH e AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
),
sub AS (
  SELECT vec_id, CAST(u.s AS BIGINT) AS s,
         v[CAST(u.s * {_PQ_SUBDIM} + 1 AS INT):
           CAST((u.s + 1) * {_PQ_SUBDIM} AS INT)] AS sv
  FROM e CROSS JOIN UNNEST(range(0, {_PQ_M})) AS u(s)
),
c AS (SELECT s, vec_id AS c_id, sv AS cvec FROM sub WHERE vec_id < {_PQ_K}),
d2 AS (
  SELECT n.vec_id, n.s, c.c_id, {_PQ_D2} AS d2
  FROM sub n JOIN c ON c.s = n.s
),
cell AS (
  SELECT vec_id, s, c_id AS cell FROM (
    SELECT vec_id, s, c_id,
           ROW_NUMBER() OVER (PARTITION BY vec_id, s ORDER BY d2, c_id) AS rn
    FROM d2) WHERE rn = 1
),
qv AS (
  SELECT cell.s, cell.cell, u.i AS dim,
         CAST(round(sub.sv[CAST(u.i AS INT)] * 1000000) AS BIGINT) AS q
  FROM sub JOIN cell ON cell.vec_id = sub.vec_id AND cell.s = sub.s
  CROSS JOIN UNNEST(range(1, {_PQ_SUBDIM + 1})) AS u(i)
),
newc AS (
  SELECT s, cell, dim,
         CAST((SUM(q) + COUNT(*) * {_PQ_OFF}) // COUNT(*)
              - {_PQ_OFF} AS BIGINT) AS mu,
         CAST(COUNT(*) AS BIGINT) AS n_assigned
  FROM qv GROUP BY 1, 2, 3
),
oldc AS (
  SELECT s, c_id AS cell, u.i AS dim,
         CAST(round(cvec[CAST(u.i AS INT)] * 1000000) AS BIGINT) AS old_mu
  FROM c CROSS JOIN UNNEST(range(1, {_PQ_SUBDIM + 1})) AS u(i)
)
SELECT newc.s AS subspace, newc.cell, MIN(n_assigned) AS n_assigned,
       CAST(SUM(abs(mu - old_mu)) AS BIGINT) AS shift_l1_micro
FROM newc JOIN oldc ON oldc.s = newc.s AND oldc.cell = newc.cell
                   AND oldc.dim = newc.dim
GROUP BY newc.s, newc.cell
"""


@register("embed_pq_codebook_update", oracle=_PQ_ORACLE)
@fdoc(f"""One product-quantization TRAINING round: the 64-dim embeddings
    split into {_PQ_M} × {_PQ_SUBDIM}-dim subspaces, each subspace runs
    an independent Lloyd update against its {_PQ_K} seed centroids
    (subvectors of vec_id < {_PQ_K}), reporting per-(subspace, centroid)
    assignment mass and L1 codebook shift. simsearch_pq_adc ASSIGNS
    against fixed codebooks; this is the step that trains them —
    subspace independence is exactly what makes PQ training
    embarrassingly parallel at corpus scale. Numeric discipline is
    embed_kmeans_update_round's (round7c_ext.py): left-fold double
    distances (bit-identical both engines), means in exact integer
    micros via the non-negative offset-div trick.

    Scale shape: the {_PQ_M * _PQ_K}-row codebook broadcasts; the
    subspace explode is a constant {_PQ_M}× map-side expansion;
    assignment is a map-side argmin (array_min over a struct, no
    shuffle); the one aggregate is map-combining over
    {_PQ_M} × {_PQ_K} × {_PQ_SUBDIM} keys — constant output at any
    corpus size.""")
def embed_pq_codebook_update(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.expr("transform(embedding, x -> CAST(x AS DOUBLE))").alias("v"),
    )
    sub = e.select(
        "vec_id",
        F.explode(
            F.expr(
                f"transform(sequence(0, {_PQ_M - 1}), s -> struct("
                f"CAST(s AS BIGINT) AS s,"
                f" slice(v, s * {_PQ_SUBDIM} + 1, {_PQ_SUBDIM}) AS sv))"
            )
        ).alias("x"),
    ).select("vec_id", "x.s", "x.sv")
    cents = (
        sub.filter(F.col("vec_id") < _PQ_K)
        .groupBy("s")
        .agg(
            F.expr(
                "array_sort(collect_list(struct(vec_id AS c_id, sv AS cvec)))"
            ).alias("cents")
        )
    )
    d2 = (
        "aggregate(zip_with(sv, c.cvec, (a, b) -> (a - b) * (a - b)),"
        " CAST(0.0 AS DOUBLE), (acc, x) -> acc + x)"
    )
    assigned = sub.join(F.broadcast(cents), "s").withColumn(
        "cell",
        F.expr(
            f"array_min(transform(cents, c -> struct({d2} AS d2,"
            " c.c_id AS c_id))).c_id"
        ),
    )
    qv = assigned.select(
        "s",
        "cell",
        F.posexplode(
            F.expr("transform(sv, x -> CAST(round(x * 1000000) AS BIGINT))")
        ).alias("dim0", "q"),
    ).select("s", "cell", (F.col("dim0") + 1).cast("bigint").alias("dim"), "q")
    newc = qv.groupBy("s", "cell", "dim").agg(
        F.expr(
            f"CAST((SUM(q) + COUNT(*) * {_PQ_OFF}) div COUNT(*)"
            f" - {_PQ_OFF} AS BIGINT)"
        ).alias("mu"),
        F.count("*").cast("bigint").alias("n_assigned"),
    )
    oldc = (
        sub.filter(F.col("vec_id") < _PQ_K)
        .select(
            "s",
            F.col("vec_id").alias("cell"),
            F.posexplode(
                F.expr(
                    "transform(sv, x -> CAST(round(x * 1000000) AS BIGINT))"
                )
            ).alias("dim0", "old_mu"),
        )
        .select("s", "cell", (F.col("dim0") + 1).cast("bigint").alias("dim"), "old_mu")
    )
    return (
        newc.join(F.broadcast(oldc), ["s", "cell", "dim"])
        .groupBy(F.col("s").alias("subspace"), "cell")
        .agg(
            F.min("n_assigned").alias("n_assigned"),
            F.sum(F.expr("abs(mu - old_mu)")).cast("bigint").alias("shift_l1_micro"),
        )
    )
