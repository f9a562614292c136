"""Round-3 keyword / projection / weighted-statistic extensions.

Three more platform operators (reference reach: the delegated SQL slot,
``main.cc:181-182``):

- RAKE keyword extraction — unsupervised key-phrase mining (stopword-run
  phrase splitting + degree/frequency word scores), the tagging/topic
  signal corpus curation attaches before mixing;
- Johnson–Lindenstrauss random projection — 64d → 16d with a fixed ±1
  sign matrix, the cheap dimensionality reduction in front of LSH/ANN
  (the sign matrix is generated ONCE from md5 and embedded as literals —
  exactly how a production job ships its projection);
- exact weighted median — the order statistic where each row carries a
  weight (docs weighted by token count), via one running-weight window.

Determinism: RAKE scores are integer ppm; JL output is index-ordered
folds over literal signs (bit-identical doubles); the weighted median is
an integer threshold on integer cumulative weights.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from c2_duckdb_runner_spark.registry import fdoc, register
from c2_duckdb_runner_spark.tables import load, load_spread

# ---------------------------------------------------------------------------
# text_rake_keywords
# ---------------------------------------------------------------------------

_STOP = ("the", "a", "of", "and", "to", "in")
_MAX_PHRASE = 4
_RAKE_TOP = 20

_STOP_SQL = ", ".join(f"'{w}'" for w in _STOP)


@register(
    "text_rake_keywords",
    oracle=f"""
WITH tt AS (
  SELECT doc_id, string_split(text, ' ') AS t FROM documents
),
tok AS (
  SELECT doc_id, t[i] AS tok, i AS pos
  FROM tt CROSS JOIN UNNEST(range(1, len(t) + 1)) AS u(i)
),
runs AS (
  SELECT doc_id, tok, pos,
         pos - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY pos) AS run
  FROM tok WHERE tok NOT IN ({_STOP_SQL})
),
phrases AS (
  SELECT doc_id, run,
         array_to_string(list(tok ORDER BY pos), ' ') AS phrase,
         COUNT(*) AS plen
  FROM runs GROUP BY doc_id, run
  HAVING COUNT(*) <= {_MAX_PHRASE}
),
pw AS (
  SELECT phrase, plen, unnest(string_split(phrase, ' ')) AS w FROM phrases
),
ws AS (
  SELECT w, CAST(SUM(plen) AS BIGINT) AS deg,
         CAST(COUNT(*) AS BIGINT) AS freq
  FROM pw GROUP BY w
),
dp AS (
  SELECT phrase, unnest(string_split(phrase, ' ')) AS w
  FROM (SELECT DISTINCT phrase FROM phrases)
),
scored AS (
  SELECT dp.phrase AS phrase,
         SUM(deg * 1000000 // freq) AS score_ppm
  FROM dp JOIN ws ON ws.w = dp.w
  GROUP BY dp.phrase
),
cnt AS (SELECT phrase, COUNT(*) AS n_occurrences FROM phrases GROUP BY phrase)
SELECT scored.phrase AS phrase,
       CAST(score_ppm AS BIGINT) AS score_ppm,
       CAST(n_occurrences AS BIGINT) AS n_occurrences
FROM scored JOIN cnt ON cnt.phrase = scored.phrase
ORDER BY score_ppm DESC, phrase ASC
LIMIT {_RAKE_TOP}
""",
)
@fdoc(f"""RAKE keyword extraction (Rose et al.) — unsupervised key-phrase
    mining: candidate phrases are maximal stopword-free token runs (capped
    at {_MAX_PHRASE} words), each word scores deg/freq over the whole
    corpus (deg = total length of phrases containing it — rewarding words
    that travel in long phrases), and a phrase scores the sum of its word
    scores. Top-{_RAKE_TOP} corpus keywords, the tagging signal attached
    before domain mixing.

    Shape: ONE doc_id-keyed window pass turns token positions into run ids
    (the gaps-and-islands trick: pos − row_number over non-stop tokens),
    phrases aggregate per (doc, run), the word-stats table reduces on the
    word key and re-joins the phrase-word pairs — every shuffle is keyed
    (doc, word, or phrase), nothing corpus-sized on one key. Scores are
    integer ppm (deg·10⁶ div freq), so the ranking is engine-exact; the
    duplicate-phrase rollup happens once per distinct phrase string.""")
def text_rake_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    tok = load_spread(spark, sf_dir, "documents", "doc_id").select(
        "doc_id",
        F.posexplode(F.split("text", " ")).alias("pos0", "tok"),
    ).select("doc_id", "tok", (F.col("pos0") + 1).alias("pos"))
    from pyspark.sql.window import Window

    nonstop = tok.filter(~F.col("tok").isin(*_STOP))
    runs = nonstop.withColumn(
        "run",
        F.col("pos")
        - F.row_number().over(Window.partitionBy("doc_id").orderBy("pos")),
    )
    phrases = (
        runs.groupBy("doc_id", "run")
        .agg(
            F.array_join(
                F.expr("transform(array_sort(collect_list(struct(pos, tok))), s -> s.tok)"),
                " ",
            ).alias("phrase"),
            F.count("*").alias("plen"),
        )
        .filter(F.col("plen") <= _MAX_PHRASE)
        # Three consumers (word stats, distinct-phrase scoring, occurrence
        # counts) re-enter this frame; checkpoint so the explode + window
        # subtree runs once, not three times. Bounded: one row per
        # stopword-free run.
        .localCheckpoint()
    )
    pw = phrases.select(
        "phrase", "plen", F.explode(F.split("phrase", " ")).alias("w")
    )
    ws = pw.groupBy("w").agg(
        F.sum("plen").cast("bigint").alias("deg"),
        F.count("*").cast("bigint").alias("freq"),
    )
    # Score each DISTINCT phrase once (its member words with multiplicity),
    # not once per occurrence — word stats still count every occurrence.
    dp = phrases.select("phrase").distinct().select(
        "phrase", F.explode(F.split("phrase", " ")).alias("w")
    )
    scored = (
        dp.join(ws, "w")
        .groupBy("phrase")
        .agg(F.sum(F.expr("deg * 1000000 div freq")).alias("score_ppm"))
    )
    cnt = phrases.groupBy("phrase").agg(F.count("*").alias("n_occurrences"))
    return (
        scored.join(cnt, "phrase")
        .select(
            "phrase",
            F.col("score_ppm").cast("bigint").alias("score_ppm"),
            F.col("n_occurrences").cast("bigint").alias("n_occurrences"),
        )
        .orderBy(F.desc("score_ppm"), F.asc("phrase"))
        .limit(_RAKE_TOP)
    )


# ---------------------------------------------------------------------------
# embed_jl_projection
# ---------------------------------------------------------------------------

_JL_K = 16
_JL_D = 64

# Fixed ±1 sign matrix, generated once from md5 and shipped as literals in
# BOTH plans — the production pattern (the projection is an artifact, not
# per-row compute). hashlib at module import keeps it deterministic across
# runs/engines with no RNG.
_JL_SIGNS = [
    [
        1 if hashlib.md5(f"jl:{j}:{i}".encode()).digest()[0] % 2 == 0 else -1
        for i in range(_JL_D)
    ]
    for j in range(_JL_K)
]


def _jl_oracle() -> str:
    y_exprs = []
    for j in range(_JL_K):
        lit = "[" + ", ".join(f"{s}.0" for s in _JL_SIGNS[j]) + "]"
        y_exprs.append(
            f"list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
            f"list_transform(range(1, {_JL_D + 1}), "
            f"i -> v[i] * ({lit})[i])), (a, b) -> a + b) AS y{j}"
        )
    sq = " + ".join(f"y{j} * y{j}" for j in range(_JL_K))
    return f"""
WITH e AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
),
p AS (
  SELECT vec_id,
         list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
           list_transform(v, x -> x * x)), (a, b) -> a + b) AS sqx,
         {", ".join(y_exprs)}
  FROM e
)
SELECT vec_id, y0, y1, y2, y3,
       ({sq}) AS sqy,
       CAST(floor(({sq}) * 1000000 / ({_JL_K} * sqx)) AS BIGINT)
         AS norm_ratio_micro
FROM p
"""


@register("embed_jl_projection", oracle=_jl_oracle())
def embed_jl_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Johnson–Lindenstrauss random projection, 64d → 16d with a fixed ±1
    sign matrix (Achlioptas construction) — the cheap distance-preserving
    reduction in front of LSH tables and coarse ANN stages. Emits the
    first 4 projected coordinates, the projected squared norm, and the
    norm-preservation ratio ‖y‖²/(k·‖x‖²) in integer micro-units (its
    expectation is exactly 1 for ±1 signs — the in-query JL certificate).

    The sign matrix is generated ONCE (md5-seeded, no RNG) and embedded
    as plan literals on both engines — matching production, where the
    projection matrix is a versioned artifact, not per-row compute. Every
    y_j is an index-ordered fold over the literal signs (bit-identical
    doubles), the squared norm sums in fixed textual order, and the ratio
    is floored to micro-units — fully map-only, zero shuffle, codegen."""
    y_exprs = []
    for j in range(_JL_K):
        lit = "array(" + ", ".join(f"{s}D" for s in _JL_SIGNS[j]) + ")"
        y_exprs.append(
            f"aggregate(zip_with(v, {lit}, (x, s) -> x * s), "
            f"CAST(0.0 AS DOUBLE), (a, b) -> a + b) AS y{j}"
        )
    sq = " + ".join(f"y{j} * y{j}" for j in range(_JL_K))
    e = load_spread(spark, sf_dir, "embeddings", "vec_id").selectExpr(
        "vec_id", "transform(embedding, x -> CAST(x AS DOUBLE)) AS v"
    )
    p = e.selectExpr(
        "vec_id",
        "aggregate(transform(v, x -> x * x), CAST(0.0 AS DOUBLE), "
        "(a, b) -> a + b) AS sqx",
        *y_exprs,
    )
    return p.selectExpr(
        "vec_id",
        "y0",
        "y1",
        "y2",
        "y3",
        f"({sq}) AS sqy",
        f"CAST(floor(({sq}) * 1000000 / ({_JL_K} * sqx)) AS BIGINT) "
        "AS norm_ratio_micro",
    )


# ---------------------------------------------------------------------------
# agg_weighted_median
# ---------------------------------------------------------------------------


@register(
    "agg_weighted_median",
    oracle="""
WITH d AS (
  SELECT doc_id, lang, n_chars,
         CAST(len(string_split(text, ' ')) AS BIGINT) AS w
  FROM documents
),
cum AS (
  SELECT lang, doc_id, n_chars, w,
         SUM(w) OVER (PARTITION BY lang ORDER BY n_chars NULLS FIRST, doc_id
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS cw,
         SUM(w) OVER (PARTITION BY lang) AS tw
  FROM d
)
SELECT lang, CAST(tw AS BIGINT) AS total_w,
       CAST(n_chars AS BIGINT) AS w_median
FROM (
  SELECT lang, tw, n_chars,
         ROW_NUMBER() OVER (PARTITION BY lang
                            ORDER BY n_chars NULLS FIRST, doc_id) AS rn
  FROM cum WHERE 2 * cw >= tw
) WHERE rn = 1
""",
)
def agg_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact WEIGHTED median — the order statistic where rows carry
    weights (here: per-language median document length, each doc weighted
    by its token count, so long documents pull the median the way they
    pull the token budget — the statistic that actually matters when
    deciding a truncation length). Lower weighted median: the smallest
    value whose cumulative weight reaches half the total, computed as an
    integer threshold (2·cw ≥ tw — no halves, no floats).

    Shape: ONE lang-keyed window pass produces both the running weight and
    the group total (same partitioning, one sort), then the qualifying
    rows reduce with a min-of-struct — no second scan, no self-join. The
    (value, doc_id) tie-break makes the picked row total-ordered, so both
    engines select the identical document."""
    from pyspark.sql.window import Window

    d = load(spark, sf_dir, "documents").select(
        "doc_id",
        "lang",
        "n_chars",
        F.size(F.split("text", " ")).cast("bigint").alias("w"),
    )
    wrun = (
        Window.partitionBy("lang")
        .orderBy("n_chars", "doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wall = Window.partitionBy("lang")
    cum = d.select(
        "lang",
        "doc_id",
        "n_chars",
        F.sum("w").over(wrun).alias("cw"),
        F.sum("w").over(wall).alias("tw"),
    )
    return (
        cum.filter(2 * F.col("cw") >= F.col("tw"))
        .groupBy("lang")
        .agg(
            F.min("tw").cast("bigint").alias("total_w"),
            F.min(F.struct("n_chars", "doc_id"))
            .getField("n_chars")
            .cast("bigint")
            .alias("w_median"),
        )
    )
