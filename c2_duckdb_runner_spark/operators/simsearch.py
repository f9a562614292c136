"""Similarity search over the ``embeddings`` fixture (ArrayType(FloatType)).

Reached in the reference only through the delegated SQL slot
(``main.cc:181-182``); no per-operator reference code exists. Four shapes,
from exact to scale-path:

- brute-force top-k : score every vector, TakeOrderedAndProject. The
  correctness baseline; O(corpus) per query but embarrassingly parallel —
  at 100 TB this is one pruned scan + a k-row-per-partition reduce, no
  shuffle of the corpus.
- IVF (label cells) : prune to the query's coarse-quantizer cell before
  scoring. The fixture's ``label`` column stands in for the centroid id a
  real IVF index would assign; the plan shows the partition-pruning shape.
- hyperplane LSH    : deterministic axis-aligned sign buckets (a fixed,
  engine-agnostic instance of random-hyperplane LSH) — query probes only
  its own bucket.
- batch kNN         : many query vectors at once; candidates bucket-joined,
  per-query top-k via window row_number. The realistic training-pipeline
  shape (the corpus shuffles once, keyed on bucket, not per query).

The module is also the one home of the cosine-probe kit that every
cosine key builds on: ``embedded`` (the vectors in doubles with their L2
norm), ``probe_scores`` and ``probe_topk`` (the retrieval-eval probe set
and its exact per-query top-k), and their independently written oracle
twins ``EMBEDDED_SQL`` and ``PROBE_RANKED_SQL``.

Everything stays JVM-side: dot products are ``aggregate(zip_with(...))``
(whole-stage codegen), never a Python UDF. Cosines are folded strictly
left-to-right over the same doubles in Spark and DuckDB, rounded to 6 dp
before use, so the differential hash is stable.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from c2_duckdb_runner_spark.registry import register
from c2_duckdb_runner_spark.tables import load

_QUERY_ID = 1  # deterministic probe vector
_TOP_K = 10

# doubled vector + L2 norm, shared by all variants
_V = "transform(embedding, x -> CAST(x AS DOUBLE))"
_NRM = "sqrt(aggregate(transform(v, x -> x * x), CAST(0.0 AS DOUBLE), (a, b) -> a + b))"
_DOT = (
    "aggregate(zip_with(v, qv, (x, y) -> x * y), "
    "CAST(0.0 AS DOUBLE), (x, y) -> x + y)"
)

# The retrieval-eval probe harness: probes vec_id 0..PROBE_QUERIES each
# rank the rest of the corpus by cosine; the top PROBE_DEPTH are scored.
PROBE_QUERIES = 10
PROBE_DEPTH = 10

# oracle twin of ``embedded``: the CTEs e (doubled vector) and n (+ norm)
EMBEDDED_SQL = """
e AS (
  SELECT vec_id, label,
         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
),
n AS (
  SELECT vec_id, label, v,
         sqrt(list_reduce(list_transform(v, x -> x * x), (a, b) -> a + b)) AS nrm
  FROM e
)"""

_DUCK_BASE = f"""{EMBEDDED_SQL},
q AS (SELECT v AS qv, nrm AS qnrm, label AS qlabel FROM n WHERE vec_id = 1)
"""

_DUCK_COS = (
    "ROUND(list_reduce(list_transform(range(1, 65), i -> n.v[i] * q.qv[i]),"
    " (x, y) -> x + y) / (n.nrm * q.qnrm), 6)"
)

# oracle twin of ``probe_topk(probe_scores(...))`` before its rank filter:
# the CTEs e, n, q (probes), scored (probe x corpus) and ranked (plain
# per-query ROW_NUMBER, unfiltered)
PROBE_RANKED_SQL = f"""{EMBEDDED_SQL},
q AS (SELECT vec_id AS q_id, label AS qlabel, v AS qv, nrm AS qnrm
      FROM n WHERE vec_id <= {PROBE_QUERIES}),
scored AS (
  SELECT q.q_id, q.qlabel, n.vec_id, n.label,
         ROUND(list_reduce(list_transform(range(1, 65), i -> n.v[i] * q.qv[i]),
               (x, y) -> x + y) / (n.nrm * q.qnrm), 6) AS cos
  FROM n, q WHERE n.vec_id <> q.q_id
),
ranked AS (
  SELECT q_id, qlabel, label,
         ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id) AS rnk
  FROM scored
)"""


def embedded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The embeddings as ``(vec_id, label, v, nrm)``: v is the vector in
    doubles, nrm its L2 norm folded left to right."""
    return (
        load(spark, sf_dir, "embeddings")
        .withColumn("v", F.expr(_V))
        .withColumn("nrm", F.expr(_NRM))
        .select("vec_id", "label", "v", "nrm")
    )


def probe_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``(q_id, qlabel, vec_id, label, cos)`` for the probes
    ``vec_id <= PROBE_QUERIES`` against the rest of the corpus.

    vec_id starts at 0, so the probe set has PROBE_QUERIES + 1 rows; the
    limit makes that bound provable, and the probe set broadcasts, so the
    corpus is scored map-only and never shuffles."""
    e = embedded(spark, sf_dir)
    q = e.filter(F.col("vec_id") <= PROBE_QUERIES).limit(PROBE_QUERIES + 1).select(
        F.col("vec_id").alias("q_id"),
        F.col("label").alias("qlabel"),
        F.col("v").alias("qv"),
        F.col("nrm").alias("qnrm"),
    )
    return (
        e.crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != F.col("q_id"))
        .select(
            "q_id",
            "qlabel",
            "vec_id",
            "label",
            F.round(F.expr(_DOT) / (F.col("nrm") * F.col("qnrm")), 6).alias("cos"),
        )
    )


def probe_topk(scored: DataFrame) -> DataFrame:
    """``(q_id, qlabel, label, rnk)`` for each probe's top PROBE_DEPTH
    rows of ``probe_scores``, ranked by (cos DESC, vec_id).

    Salted two-stage exact top-k (sample_domain_cap's pattern): stage 1
    ranks inside (q_id, salt) buckets and keeps k per bucket, stage 2
    re-ranks the <= 8k survivors per query. It is exact because a row in
    a query's global top k is also in the top k of its own bucket (a
    subset of the query's rows), and (cos, vec_id) is a total order; yet
    no reducer ever sorts a whole query's corpus."""
    salt = (F.xxhash64("vec_id") % 8).alias("salt")
    w1 = Window.partitionBy("q_id", "salt").orderBy(F.col("cos").desc(), "vec_id")
    pre = (
        scored.select("q_id", "qlabel", "label", "cos", "vec_id", salt)
        .select(
            "q_id", "qlabel", "label", "cos", "vec_id",
            F.row_number().over(w1).alias("r1"),
        )
        .filter(F.col("r1") <= PROBE_DEPTH)
    )
    wq = Window.partitionBy("q_id").orderBy(F.col("cos").desc(), "vec_id")
    return pre.select(
        "q_id", "qlabel", "label", F.row_number().over(wq).alias("rnk")
    ).filter(F.col("rnk") <= PROBE_DEPTH)


def _scored(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus with v/nrm plus the (broadcast) query vector columns qv/qnrm."""
    e = embedded(spark, sf_dir)
    q = (
        e.filter(F.col("vec_id") == _QUERY_ID)
        .limit(1)  # vec_id unique: provably 1-row build for the loop join
        .select(
            F.col("v").alias("qv"),
            F.col("nrm").alias("qnrm"),
            F.col("label").alias("qlabel"),
        )
    )
    # one-row dimension: broadcast nested-loop join, corpus never shuffles
    return e.crossJoin(F.broadcast(q)).withColumn(
        "cos", F.round(F.expr(_DOT) / (F.col("nrm") * F.col("qnrm")), 6)
    )


@register(
    "simsearch_topk_bruteforce",
    oracle=f"""
WITH {_DUCK_BASE}
SELECT n.vec_id AS vec_id, n.label AS label, {_DUCK_COS} AS cos
FROM n, q
WHERE n.vec_id <> 1
ORDER BY cos DESC, vec_id ASC
LIMIT {_TOP_K}
""",
)
def simsearch_topk_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-k: score all, TakeOrderedAndProject (k rows/partition
    reduced on the driver — no corpus shuffle)."""
    return (
        _scored(spark, sf_dir)
        .filter(F.col("vec_id") != _QUERY_ID)
        .select("vec_id", "label", "cos")
        .orderBy(F.col("cos").desc(), F.col("vec_id").asc())
        .limit(_TOP_K)
    )


@register(
    "simsearch_ivf_label",
    oracle=f"""
WITH {_DUCK_BASE}
SELECT n.vec_id AS vec_id, {_DUCK_COS} AS cos
FROM n JOIN q ON n.label = q.qlabel
WHERE n.vec_id <> 1
ORDER BY cos DESC, vec_id ASC
LIMIT {_TOP_K}
""",
)
def simsearch_ivf_label(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-style ANN: prune to the query's coarse cell (label) before scoring
    — at scale this is partition pruning on the centroid-id partition key,
    scanning 1/n_cells of the corpus."""
    scored = _scored(spark, sf_dir)
    return (
        scored.filter((F.col("label") == F.col("qlabel")) & (F.col("vec_id") != _QUERY_ID))
        .select("vec_id", "cos")
        .orderBy(F.col("cos").desc(), F.col("vec_id").asc())
        .limit(_TOP_K)
    )


# --- IVF multi-probe: nprobe=2 cells, decimal-exact assignment ------------
_N_CENT = 8
_N_PROBE = 2

# per-centroid squared-L2 as a strictly LEFT-TO-RIGHT double fold. Unlike
# simsearch_kmeans_assign (whose DuckDB twin uses an unordered SUM and so
# needs DECIMAL for merge-order independence), this oracle folds with
# list_reduce in the same element order — the doubles are bit-identical in
# both engines, cell boundaries included, at ~5× less cost than
# interpreted BigDecimal arithmetic in the hot HOF.
_D2_FOLD = (
    "aggregate(zip_with(v, c.cvec, (a, b) -> (a - b) * (a - b)), "
    "CAST(0.0 AS DOUBLE), (acc, x) -> acc + x)"
)
# all k (d2, c_id) pairs for one row, from the broadcast centroid array
_CELL_SCORES = f"transform(cents, c -> struct({_D2_FOLD} AS d2, c.c_id AS c_id))"


@register(
    "simsearch_ivf_multiprobe",
    oracle=f"""
WITH {_DUCK_BASE},
c AS (SELECT vec_id AS c_id,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS cvec
      FROM embeddings WHERE vec_id < {_N_CENT}),
d2 AS (
  SELECT n.vec_id, c.c_id,
         list_reduce(list_transform(range(1, 65),
                       i -> (n.v[i] - c.cvec[i]) * (n.v[i] - c.cvec[i])),
                     (x, y) -> x + y) AS d2
  FROM n CROSS JOIN c
),
cell AS (
  SELECT vec_id, c_id AS cell FROM (
    SELECT vec_id, c_id,
           ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, c_id) AS rn
    FROM d2) WHERE rn = 1
),
probe AS (
  SELECT c_id AS cell FROM (
    SELECT c_id, ROW_NUMBER() OVER (ORDER BY d2, c_id) AS rn
    FROM d2 WHERE vec_id = {_QUERY_ID}) WHERE rn <= {_N_PROBE}
)
SELECT n.vec_id AS vec_id, cell.cell AS cell, {_DUCK_COS} AS cos
FROM n JOIN cell ON cell.vec_id = n.vec_id
       JOIN probe ON probe.cell = cell.cell, q
WHERE n.vec_id <> {_QUERY_ID}
ORDER BY cos DESC, vec_id ASC
LIMIT {_TOP_K}
""",
)
def simsearch_ivf_multiprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full IVF query path, nprobe=2: assign every corpus vector to its
    nearest of k=8 seed centroids, find the QUERY's 2 nearest cells, score
    exact cosine only inside those cells, take top-10.

    Scale shape — zero corpus shuffle end to end: the k centroids collapse
    into ONE broadcast row (collect_list of structs), cell assignment is an
    ``array_min(transform(...))`` higher-order argmin computed map-side per
    row (no groupBy, unlike the training-step ``simsearch_kmeans_assign``
    which must emit the assignment table), the probe-cell set rides the same
    broadcast row, and the final top-k is TakeOrderedAndProject. On a real
    cluster the candidate filter prunes ~(nprobe/k) of the corpus before
    any cosine is computed. Distances fold left-to-right in double in BOTH
    engines (aggregate ≙ list_reduce, same element order), so the values —
    and therefore every cell boundary — are bit-identical."""
    e = embedded(spark, sf_dir)
    cents = (
        e.filter(F.col("vec_id") < _N_CENT)
        .select(F.struct(F.col("vec_id").alias("c_id"), F.col("v").alias("cvec")).alias("c"))
        .agg(F.collect_list("c").alias("cents"))
    )  # ONE row: the whole coarse quantizer
    scored_cells = (
        e.crossJoin(F.broadcast(cents))
        .withColumn("cell", F.expr(f"array_min({_CELL_SCORES}).c_id"))
        .drop("cents")
    )
    q = (
        e.filter(F.col("vec_id") == _QUERY_ID)
        .limit(1)  # vec_id unique: provably 1-row build for the loop join
        .crossJoin(F.broadcast(cents))
        .select(
            F.col("v").alias("qv"),
            F.col("nrm").alias("qnrm"),
            F.expr(
                f"transform(slice(array_sort({_CELL_SCORES}), 1, {_N_PROBE}),"
                " s -> s.c_id)"
            ).alias("probe_cells"),
        )
    )
    return (
        scored_cells.crossJoin(F.broadcast(q))
        .filter(
            F.array_contains(F.col("probe_cells"), F.col("cell"))
            & (F.col("vec_id") != _QUERY_ID)
        )
        .withColumn("cos", F.round(F.expr(_DOT) / (F.col("nrm") * F.col("qnrm")), 6))
        .select("vec_id", "cell", "cos")
        .orderBy(F.col("cos").desc(), F.col("vec_id").asc())
        .limit(_TOP_K)
    )


# Deterministic hyperplane LSH: sign buckets of 3 fixed components.
# Spark subscript v[i] is 0-based but DuckDB's is 1-based, so the Spark side
# must use element_at (1-based) to address the same components.
_BUCKET = (
    "concat(CASE WHEN v[{i0}] >= 0 THEN '1' ELSE '0' END, "
    "CASE WHEN v[{i1}] >= 0 THEN '1' ELSE '0' END, "
    "CASE WHEN v[{i2}] >= 0 THEN '1' ELSE '0' END)"
)
_B_SPARK = (
    "concat(CASE WHEN element_at(v, 1) >= 0 THEN '1' ELSE '0' END, "
    "CASE WHEN element_at(v, 22) >= 0 THEN '1' ELSE '0' END, "
    "CASE WHEN element_at(v, 43) >= 0 THEN '1' ELSE '0' END)"
)
_B_DUCK = _BUCKET.format(i0="1", i1="22", i2="43").replace("v[", "n.v[")
_B_DUCK_Q = _BUCKET.format(i0="1", i1="22", i2="43").replace("v[", "q.qv[")


@register(
    "simsearch_lsh_hyperplane",
    oracle=f"""
WITH {_DUCK_BASE}
SELECT n.vec_id AS vec_id, {_DUCK_COS} AS cos
FROM n JOIN q ON {_B_DUCK} = {_B_DUCK_Q}
WHERE n.vec_id <> 1
ORDER BY cos DESC, vec_id ASC
LIMIT {_TOP_K}
""",
)
def simsearch_lsh_hyperplane(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hyperplane-LSH ANN: 3-bit sign bucket (fixed axis-aligned hyperplanes,
    engine-agnostic so the oracle can replay it); the query probes only its
    bucket, cutting the scored set ~8x. At scale the bucket id is the
    shuffle/partition key."""
    scored = _scored(spark, sf_dir).withColumn("bucket", F.expr(_B_SPARK))
    qbucket = F.expr(_B_SPARK.replace("element_at(v,", "element_at(qv,"))
    return (
        scored.filter((F.col("bucket") == qbucket) & (F.col("vec_id") != _QUERY_ID))
        .select("vec_id", "cos")
        .orderBy(F.col("cos").desc(), F.col("vec_id").asc())
        .limit(_TOP_K)
    )


@register(
    "simsearch_batch_knn",
    oracle=f"""
WITH {_DUCK_BASE},
qs AS (SELECT vec_id AS q_id, v AS qv, nrm AS qnrm FROM n WHERE vec_id IN (1, 2, 3)),
scored AS (
  SELECT qs.q_id, n.vec_id,
         ROUND(list_reduce(list_transform(range(1, 65), i -> n.v[i] * qs.qv[i]),
                           (x, y) -> x + y) / (n.nrm * qs.qnrm), 6) AS cos
  FROM n CROSS JOIN qs
  WHERE n.vec_id <> qs.q_id
),
ranked AS (
  SELECT q_id, vec_id, cos,
         ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id ASC) AS rn
  FROM scored
)
SELECT q_id, vec_id, cos, CAST(rn AS INTEGER) AS rn FROM ranked WHERE rn <= 5
""",
)
def simsearch_batch_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch kNN: 3 probe vectors at once, per-query top-5 via window
    row_number. The query set is broadcast; the corpus is scanned once and
    never shuffled until the k-row window reduce."""
    e = embedded(spark, sf_dir)
    qs = e.filter(F.col("vec_id").isin(1, 2, 3)).limit(3).select(
        F.col("vec_id").alias("q_id"),
        F.col("v").alias("qv"),
        F.col("nrm").alias("qnrm"),
    )
    scored = (
        e.crossJoin(F.broadcast(qs))
        .filter(F.col("vec_id") != F.col("q_id"))
        .withColumn("cos", F.round(F.expr(_DOT) / (F.col("nrm") * F.col("qnrm")), 6))
    )
    w = Window.partitionBy("q_id").orderBy(F.col("cos").desc(), F.col("vec_id").asc())
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 5)
        .select("q_id", "vec_id", "cos", "rn")
    )


_RANGE_TAU = 0.25


@register(
    "simsearch_range_threshold",
    oracle=f"""
WITH {_DUCK_BASE}
SELECT n.vec_id AS vec_id, n.label AS label, {_DUCK_COS} AS cos
FROM n, q
WHERE n.vec_id <> 1 AND {_DUCK_COS} >= {_RANGE_TAU}
""",
)
def simsearch_range_threshold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range query — the other half of the ANN API next to top-k: ALL
    neighbors with cosine >= tau, unbounded result size (faiss
    range_search). Same zero-corpus-shuffle shape as the brute-force
    scorer: query vector broadcast, cosine folded left-to-right map-side,
    and the tau filter replaces TakeOrdered — no sort, no limit, fully
    parallel emit. The dedup-by-similarity pipeline (drop everything
    within tau of a kept doc) is this plan with the keeper set broadcast."""
    return (
        _scored(spark, sf_dir)
        .filter((F.col("vec_id") != _QUERY_ID) & (F.col("cos") >= _RANGE_TAU))
        .select("vec_id", "label", "cos")
    )


_MRL_DIMS = 16
_COARSE_K = 50

_DUCK_COS16 = (
    f"ROUND(list_reduce(list_transform(range(1, {_MRL_DIMS + 1}), "
    "i -> n.v[i] * q.qv[i]), (x, y) -> x + y) / ("
    f"sqrt(list_reduce(list_transform(n.v[1:{_MRL_DIMS}], x -> x * x), "
    "(a, b) -> a + b)) * "
    f"sqrt(list_reduce(list_transform(q.qv[1:{_MRL_DIMS}], x -> x * x), "
    "(a, b) -> a + b))), 6)"
)


@register(
    "simsearch_matryoshka_twostage",
    oracle=f"""
WITH {_DUCK_BASE},
c16 AS (
  SELECT n.vec_id AS vec_id, n.label AS label,
         {_DUCK_COS16} AS cos16, {_DUCK_COS} AS cos
  FROM n, q WHERE n.vec_id <> 1
),
coarse AS (
  SELECT * FROM c16 ORDER BY cos16 DESC, vec_id ASC LIMIT {_COARSE_K}
)
SELECT vec_id, label, cos16, cos
FROM coarse ORDER BY cos DESC, vec_id ASC LIMIT {_TOP_K}
""",
)
def simsearch_matryoshka_twostage(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Two-stage retrieval with Matryoshka truncation (Kusupati et al.,
    2022 — public): stage 1 scores the corpus on the FIRST 16 of 64
    dimensions only (4× less arithmetic and, at scale, 4× less index
    memory — the point of MRL-trained embeddings), keeps the top 50
    candidates; stage 2 reranks just those with the exact full-dimension
    cosine and emits the final top 10.

    This is THE production ANN serving shape: a cheap recall stage over
    everything, an exact precision stage over a constant-size candidate
    set. Plan: both stages are TakeOrderedAndProject (k rows per
    partition, no corpus shuffle); the rerank touches 50 rows however
    big the corpus is. Truncated and full cosines use the same
    ordered-fold + round-6 discipline as every simsearch query."""
    s = _scored(spark, sf_dir).filter(F.col("vec_id") != _QUERY_ID)
    d = _MRL_DIMS
    cos16 = F.round(
        F.expr(
            f"aggregate(zip_with(slice(v, 1, {d}), slice(qv, 1, {d}), "
            "(x, y) -> x * y), CAST(0.0 AS DOUBLE), (x, y) -> x + y)"
        )
        / (
            F.expr(
                f"sqrt(aggregate(transform(slice(v, 1, {d}), x -> x * x), "
                "CAST(0.0 AS DOUBLE), (a, b) -> a + b))"
            )
            * F.expr(
                f"sqrt(aggregate(transform(slice(qv, 1, {d}), x -> x * x), "
                "CAST(0.0 AS DOUBLE), (a, b) -> a + b))"
            )
        ),
        6,
    )
    coarse = (
        s.withColumn("cos16", cos16)
        .select("vec_id", "label", "cos16", "cos")
        .orderBy(F.col("cos16").desc(), F.col("vec_id").asc())
        .limit(_COARSE_K)
    )
    return coarse.orderBy(F.col("cos").desc(), F.col("vec_id").asc()).limit(
        _TOP_K
    )
