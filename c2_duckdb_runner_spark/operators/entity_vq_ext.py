"""Round-3 entity-resolution + vector-codec extensions.

- sorted-neighborhood dedup (SNM) — the classic entity-resolution
  alternative to hash blocking: sort records by a semantic key, compare
  each record only to its w nearest neighbors in sort order. Catches the
  near-dups whose hashes disagree but whose sort keys collide;
- two-level residual vector quantization (RVQ) — the codebook cascade
  behind neural audio codecs and modern ANN compression: quantize the
  vector coarsely, then quantize the RESIDUAL with a second codebook.

Determinism: SNM verifies with integer Levenshtein and picks nearest by
(min distance, id); RVQ distances are index-ordered double folds with
total-ordered argmins (d2, then codeword id), residual scaling is an
exact power of two.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from c2_duckdb_runner_spark.registry import fdoc, register
from c2_duckdb_runner_spark.tables import load, load_spread

# ---------------------------------------------------------------------------
# dedup_sorted_neighborhood
# ---------------------------------------------------------------------------

_SNM_W = 3  # compare each record to its next w neighbors in sort order


@register(
    "dedup_sorted_neighborhood",
    oracle=f"""
WITH d AS (
  SELECT doc_id, text, string_split(text, ' ')[1] AS bucket
  FROM documents
),
r AS (
  SELECT doc_id, text, bucket,
         ROW_NUMBER() OVER (PARTITION BY bucket ORDER BY text, doc_id)
           AS rn
  FROM d
),
probe AS (
  SELECT doc_id, text, bucket, rn + o.o AS target
  FROM r CROSS JOIN (SELECT unnest(range(1, {_SNM_W + 1})) AS o) o
),
pairs AS (
  SELECT p.doc_id AS a_id, b.doc_id AS b_id,
         levenshtein(p.text, b.text) AS lev
  FROM probe p JOIN r b ON b.bucket = p.bucket AND b.rn = p.target
),
sides AS (
  SELECT a_id AS doc_id, b_id AS nn_id, lev FROM pairs
  UNION ALL
  SELECT b_id AS doc_id, a_id AS nn_id, lev FROM pairs
),
best AS (
  SELECT doc_id, nn_id, lev FROM (
    SELECT doc_id, nn_id, lev,
           ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY lev, nn_id)
             AS rk
    FROM sides) WHERE rk = 1
)
SELECT d.doc_id AS doc_id, best.nn_id AS nn_id,
       CAST(best.lev AS BIGINT) AS nn_lev,
       (best.lev IS NOT NULL AND best.lev <= 24) AS is_near_dup
FROM d LEFT JOIN best ON best.doc_id = d.doc_id
""",
)
@fdoc(f"""Sorted-neighborhood dedup (Hernández & Stolfo) — the entity-
    resolution classic: sort by a semantic key, slide a window of
    {_SNM_W}, verify candidates with exact edit distance. It catches
    near-dups whose minhashes/simhashes diverge but whose sort keys put
    them side by side — which is why production matchers run SNM passes
    ALONGSIDE hash blocking, one pass per key. Output is O(n): each doc's
    single nearest neighbor and a ≤24-edits verdict.

    Scale shape: the sort is PER BUCKET (first token), so the window
    ranks come from a keyed sort, not a global one — the standard
    multi-pass SNM layout where each pass's key doubles as the partition
    key. Candidates come from a bounded rank-offset probe (explode
    +1..+{_SNM_W}, equi-join on (bucket, rank)), so each record generates
    ≤ {_SNM_W} ordered pairs — never a bucket cross product. Levenshtein
    runs on ≤ {_SNM_W}·n pairs, and the nearest-pick is total-ordered
    (lev, then id).""")
def dedup_sorted_neighborhood(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_spread(spark, sf_dir, "documents", "doc_id").select(
        "doc_id", "text", F.expr("split(text, ' ')[0]").alias("bucket")
    )
    r = d.withColumn(
        "rn",
        F.row_number().over(Window.partitionBy("bucket").orderBy("text", "doc_id")),
    )
    probe = r.select(
        F.col("doc_id").alias("a_id"),
        F.col("text").alias("a_text"),
        "bucket",
        F.explode(F.expr(f"sequence(rn + 1, rn + {_SNM_W})")).alias("target"),
    )
    pairs = probe.join(
        r.select(
            F.col("doc_id").alias("b_id"),
            F.col("text").alias("b_text"),
            "bucket",
            F.col("rn").alias("target"),
        ),
        ["bucket", "target"],
    ).select(
        "a_id", "b_id", F.levenshtein("a_text", "b_text").alias("lev")
    )
    both = pairs.select(
        F.col("a_id").alias("doc_id"), F.col("b_id").alias("nn_id"), "lev"
    ).unionByName(
        pairs.select(
            F.col("b_id").alias("doc_id"), F.col("a_id").alias("nn_id"), "lev"
        )
    )
    best = both.groupBy("doc_id").agg(
        F.min(F.struct("lev", "nn_id")).alias("m")
    )
    return (
        d.join(best, "doc_id", "left")
        .select(
            "doc_id",
            F.col("m.nn_id").alias("nn_id"),
            F.col("m.lev").cast("bigint").alias("nn_lev"),
            (F.col("m.lev").isNotNull() & (F.col("m.lev") <= 24)).alias(
                "is_near_dup"
            ),
        )
    )


# ---------------------------------------------------------------------------
# embed_rvq_assign
# ---------------------------------------------------------------------------

_RVQ_COARSE = 4  # codebook 1: corpus vectors 0..3
_RVQ_FINE_LO = 4  # codebook 2: corpus vectors 4..7, scaled by 1/4 (exact)
_RVQ_FINE_HI = 8


def _rvq_oracle() -> str:
    return f"""
WITH e AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
),
cb1 AS (
  SELECT vec_id AS c_id, v AS cvec FROM e WHERE vec_id < {_RVQ_COARSE}
),
a1 AS (
  SELECT e.vec_id AS vec_id, c_id, cvec,
         list_reduce(list_transform(range(1, 65),
           i -> (e.v[i] - cvec[i]) * (e.v[i] - cvec[i])),
           (x, y) -> x + y) AS d2
  FROM e CROSS JOIN cb1
),
p1 AS (
  SELECT vec_id, c_id AS c1, cvec FROM (
    SELECT vec_id, c_id, cvec,
           ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, c_id) AS rn
    FROM a1) WHERE rn = 1
),
res AS (
  SELECT e.vec_id AS vec_id, p1.c1 AS c1,
         list_transform(range(1, 65), i -> e.v[i] - p1.cvec[i]) AS r
  FROM e JOIN p1 ON p1.vec_id = e.vec_id
),
cb2 AS (
  SELECT vec_id AS f_id, list_transform(v, x -> x * 0.25) AS fvec
  FROM e WHERE vec_id >= {_RVQ_FINE_LO} AND vec_id < {_RVQ_FINE_HI}
),
a2 AS (
  SELECT res.vec_id AS vec_id, c1, f_id,
         list_reduce(list_transform(range(1, 65),
           i -> (r[i] - fvec[i]) * (r[i] - fvec[i])),
           (x, y) -> x + y) AS d2
  FROM res CROSS JOIN cb2
)
SELECT vec_id, CAST(c1 AS BIGINT) AS c1, CAST(f_id AS BIGINT) AS c2,
       CAST(floor(d2 * 1000000) AS BIGINT) AS err_micro
FROM (
  SELECT vec_id, c1, f_id, d2,
         ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, f_id) AS rn
  FROM a2) WHERE rn = 1
"""


@register("embed_rvq_assign", oracle=_rvq_oracle())
def embed_rvq_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-level RESIDUAL vector quantization (RVQ) — the codebook cascade
    behind neural audio codecs (SoundStream/EnCodec) and high-recall ANN
    compression: stage 1 snaps the vector to its nearest coarse codeword,
    stage 2 quantizes what stage 1 missed (the residual) with a finer
    codebook, and the leftover energy is the reconstruction error. Two
    4-entry codebooks here (corpus seeds; the fine book scaled by 1/4 —
    an exact power-of-two, so residual-sized entries cost no rounding).

    Scale shape: both codebooks collapse into ONE broadcast row each;
    both argmins are map-side higher-order folds over the broadcast
    structs (the simsearch_ivf_multiprobe pattern — no groupBy, no
    shuffle of the corpus, assignment is a pure projection). Distances
    fold index-ordered in double (bit-identical cross-engine), argmins
    tie-break on codeword id, and the error is floored to micro-units."""
    e = load_spread(spark, sf_dir, "embeddings", "vec_id").select(
        "vec_id", F.expr("transform(embedding, x -> CAST(x AS DOUBLE))").alias("v")
    )
    cb1 = (
        e.filter(F.col("vec_id") < _RVQ_COARSE)
        .select(
            F.struct(F.col("vec_id").alias("c_id"), F.col("v").alias("cvec")).alias(
                "c"
            )
        )
        .agg(F.sort_array(F.collect_list("c")).alias("cb1"))
    )
    cb2 = (
        e.filter(
            (F.col("vec_id") >= _RVQ_FINE_LO) & (F.col("vec_id") < _RVQ_FINE_HI)
        )
        .select(
            F.struct(
                F.col("vec_id").alias("f_id"),
                F.expr("transform(v, x -> x * 0.25D)").alias("fvec"),
            ).alias("c")
        )
        .agg(F.sort_array(F.collect_list("c")).alias("cb2"))
    )
    d2_1 = (
        "aggregate(zip_with(v, c.cvec, (a, b) -> (a - b) * (a - b)), "
        "CAST(0.0 AS DOUBLE), (acc, x) -> acc + x)"
    )
    stage1 = (
        e.crossJoin(F.broadcast(cb1))
        .withColumn(
            "pick1",
            F.expr(
                f"array_min(transform(cb1, c -> "
                f"struct({d2_1} AS d2, c.c_id AS c_id, c.cvec AS cvec)))"
            ),
        )
        .select(
            "vec_id",
            F.col("pick1.c_id").alias("c1"),
            F.expr("zip_with(v, pick1.cvec, (a, b) -> a - b)").alias("r"),
        )
    )
    d2_2 = (
        "aggregate(zip_with(r, c.fvec, (a, b) -> (a - b) * (a - b)), "
        "CAST(0.0 AS DOUBLE), (acc, x) -> acc + x)"
    )
    return (
        stage1.crossJoin(F.broadcast(cb2))
        .withColumn(
            "pick2",
            F.expr(
                f"array_min(transform(cb2, c -> "
                f"struct({d2_2} AS d2, c.f_id AS f_id)))"
            ),
        )
        .select(
            "vec_id",
            F.col("c1").cast("bigint").alias("c1"),
            F.col("pick2.f_id").cast("bigint").alias("c2"),
            F.expr("CAST(floor(pick2.d2 * 1000000) AS BIGINT)").alias(
                "err_micro"
            ),
        )
    )
