"""Round-3 statistics + lexical-retrieval extensions.

Four operators spanning the audit/drift/retrieval space (reference reach:
the delegated SQL slot, ``main.cc:181-182``):

- BM25 lexical retrieval — the keyword-search scorer that sits NEXT TO
  the embedding ANN family in every hybrid retrieval stack;
- two-sample Kolmogorov–Smirnov drift test — "did this week's value
  distribution move?" answered exactly, in integers;
- MAD (median-absolute-deviation) robust outliers — the outlier fence
  that survives the outliers themselves (σ-based fences do not);
- Benford first-digit audit — the fraud/synthetic-data smell test.

Determinism: KS and Benford are pure integer cross-multiplication; MAD
uses exact discrete medians on integers; BM25 composes integer-derived
doubles in one fixed textual order (identical IEEE ops on both engines).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from c2_duckdb_runner_spark.operators.inference_ext import CENTS_SQL, cents
from c2_duckdb_runner_spark.registry import fdoc, register
from c2_duckdb_runner_spark.tables import load, load_spread

# ---------------------------------------------------------------------------
# search_bm25_topk
# ---------------------------------------------------------------------------

_BM25_QUERY = ("window", "hash", "stream")  # the probe keyword set
_BM25_K1 = "1.2"
_BM25_B = "0.75"
_BM25_TOP = 15

_Q_SQL = ", ".join(f"'{w}'" for w in _BM25_QUERY)


@register(
    "search_bm25_topk",
    oracle=f"""
WITH t AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
),
dl AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS len FROM t GROUP BY doc_id),
stats AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(len) AS BIGINT) AS total_len
  FROM dl
),
tf AS (
  SELECT doc_id, tok, CAST(COUNT(*) AS BIGINT) AS tf FROM t
  WHERE tok IN ({_Q_SQL}) GROUP BY doc_id, tok
),
df AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY tok),
scored AS (
  SELECT tf.doc_id AS doc_id,
         ln((CAST(n_docs AS DOUBLE) - df + 0.5) / (df + 0.5) + 1.0)
         * (tf * ({_BM25_K1} + 1.0))
         / (tf + {_BM25_K1} * (1.0 - {_BM25_B}
            + {_BM25_B} * (CAST(len AS DOUBLE) * n_docs / total_len)))
           AS s
  FROM tf JOIN df ON df.tok = tf.tok
          JOIN dl ON dl.doc_id = tf.doc_id
          CROSS JOIN stats
),
agg AS (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_terms,
         CAST(floor(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
           list(s ORDER BY s, doc_id)), (a, b) -> a + b) * 1000000)
           AS BIGINT) AS score_micro
  FROM scored GROUP BY doc_id
)
SELECT doc_id, n_terms, score_micro FROM agg
ORDER BY score_micro DESC, doc_id ASC LIMIT {_BM25_TOP}
""",
)
@fdoc(f"""BM25 lexical retrieval — the keyword scorer of every hybrid search
    stack (BM25 recall + embedding rerank): Okapi BM25 with k1=1.2,
    b=0.75 over the corpus's own term statistics, top-{_BM25_TOP} docs
    for a {len(_BM25_QUERY)}-term query.

    Scale shape: the probe-term filter hits the token stream FIRST (only
    query-term postings survive — at 100 TB this is the inverted-index
    lookup), document lengths and corpus stats reduce separately, the
    3-row df table and 1-row stats broadcast back, and the final ranking
    is a TakeOrdered. Determinism: every input to the float formula is an
    exact integer (tf, df, len, N, Σlen) and the formula is ONE fixed
    expression tree — identical IEEE evaluation on both engines — with
    the per-doc term-score sum folded in (score, doc) order and floored
    to integer micro-units for the hash.""")
def search_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_spread(spark, sf_dir, "documents", "doc_id").select(
        "doc_id", F.explode(F.split("text", " ")).alias("tok")
    )
    dl = t.groupBy("doc_id").agg(F.count("*").cast("bigint").alias("len"))
    stats = dl.agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum("len").cast("bigint").alias("total_len"),
    )
    tf = (
        t.filter(F.col("tok").isin(*_BM25_QUERY))
        .groupBy("doc_id", "tok")
        .agg(F.count("*").cast("bigint").alias("tf"))
    )
    df = tf.groupBy("tok").agg(F.count("*").cast("bigint").alias("df"))
    scored = (
        tf.join(F.broadcast(df), "tok")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .select(
            "doc_id",
            F.expr(
                f"ln((CAST(n_docs AS DOUBLE) - df + 0.5) / (df + 0.5) + 1.0D)"
                f" * (tf * ({_BM25_K1} + 1.0D))"
                f" / (tf + {_BM25_K1} * (1.0D - {_BM25_B}"
                f" + {_BM25_B} * (CAST(len AS DOUBLE) * n_docs / total_len)))"
            ).alias("s"),
        )
    )
    agg = (
        scored.groupBy("doc_id")
        .agg(
            F.count("*").cast("bigint").alias("n_terms"),
            F.sort_array(F.collect_list(F.struct("s", "doc_id"))).alias("arr"),
        )
        .select(
            "doc_id",
            "n_terms",
            F.expr(
                "CAST(floor(aggregate(arr, CAST(0.0 AS DOUBLE), "
                "(acc, x) -> acc + x.s) * 1000000) AS BIGINT)"
            ).alias("score_micro"),
        )
    )
    return agg.orderBy(F.desc("score_micro"), F.asc("doc_id")).limit(_BM25_TOP)


# ---------------------------------------------------------------------------
# stats_ks_drift_test
# ---------------------------------------------------------------------------


@register(
    "stats_ks_drift_test",
    oracle=f"""
WITH v AS (
  SELECT event_type,
         CASE WHEN epoch_ms(ts) // 86400000 < 19738 THEN 1 ELSE 2 END
           AS half,
         {CENTS_SQL.format('value')} AS x
  FROM events
),
c AS (
  SELECT event_type, x,
         COUNT(*) FILTER (WHERE half = 1) AS c1,
         COUNT(*) FILTER (WHERE half = 2) AS c2
  FROM v GROUP BY event_type, x
),
n AS (
  SELECT event_type, CAST(SUM(c1) AS BIGINT) AS n1,
         CAST(SUM(c2) AS BIGINT) AS n2
  FROM c GROUP BY event_type
),
cum AS (
  SELECT c.event_type AS event_type, x, n1, n2,
         SUM(c1) OVER (PARTITION BY c.event_type ORDER BY x) AS f1,
         SUM(c2) OVER (PARTITION BY c.event_type ORDER BY x) AS f2
  FROM c JOIN n ON n.event_type = c.event_type
)
SELECT event_type, CAST(MIN(n1) AS BIGINT) AS n1,
       CAST(MIN(n2) AS BIGINT) AS n2,
       CAST(MAX(abs(f1 * n2 - f2 * n1)) AS BIGINT) AS ks_num,
       CAST(MIN(n1) * MIN(n2) AS BIGINT) AS ks_den,
       CAST(MAX(abs(f1 * n2 - f2 * n1)) * 1000000
            // (MIN(n1) * MIN(n2)) AS BIGINT) AS ks_ppm
FROM cum GROUP BY event_type
""",
)
def stats_ks_drift_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov–Smirnov drift statistic — "did the value
    distribution move between the first and second half of the month?"
    D = max|F₁(x) − F₂(x)|, the distribution-drift monitor for feature
    pipelines and model inputs. Computed EXACTLY: cross-multiplying the
    empirical CDFs (|f₁·n₂ − f₂·n₁|, integers) avoids ever forming the
    fractions, so the max and the final ppm are engine-exact.

    Shape: one (type, value) count with per-half FILTER columns (a single
    pass over events — no self-join of the two halves), one window pass
    accumulates both CDFs in the same sort, one rollup takes the max.
    All shuffles keyed on event_type."""
    from pyspark.sql.window import Window

    v = load(spark, sf_dir, "events").select(
        "event_type",
        F.when(F.expr("unix_millis(ts) div 86400000") < 19738, 1)
        .otherwise(2)
        .alias("half"),
        cents("value").alias("x"),
    )
    c = v.groupBy("event_type", "x").agg(
        F.count(F.when(F.col("half") == 1, 1)).alias("c1"),
        F.count(F.when(F.col("half") == 2, 1)).alias("c2"),
    )
    # Totals as an unbounded window over the SAME event_type partitioning
    # the CDF window uses: one scan, one shuffle, both windows planned on
    # the same exchange (a separate groupBy branch would re-scan events).
    w = Window.partitionBy("event_type").orderBy("x")
    wall = Window.partitionBy("event_type")
    cum = c.select(
        "event_type",
        F.sum("c1").over(wall).cast("bigint").alias("n1"),
        F.sum("c2").over(wall).cast("bigint").alias("n2"),
        F.sum("c1").over(w).alias("f1"),
        F.sum("c2").over(w).alias("f2"),
    )
    return cum.groupBy("event_type").agg(
        F.min("n1").cast("bigint").alias("n1"),
        F.min("n2").cast("bigint").alias("n2"),
        F.max(F.abs(F.col("f1") * F.col("n2") - F.col("f2") * F.col("n1")))
        .cast("bigint")
        .alias("ks_num"),
        (F.min("n1") * F.min("n2")).cast("bigint").alias("ks_den"),
        F.expr(
            "CAST(MAX(abs(f1 * n2 - f2 * n1)) * 1000000 "
            "div (MIN(n1) * MIN(n2)) AS BIGINT)"
        ).alias("ks_ppm"),
    )


# ---------------------------------------------------------------------------
# stats_mad_outliers
# ---------------------------------------------------------------------------


@register(
    "stats_mad_outliers",
    oracle=f"""
WITH v AS (
  SELECT event_type, event_id,
         {CENTS_SQL.format('value')} AS x
  FROM events
),
med AS (
  SELECT event_type, quantile_disc(x, 0.5) AS m FROM v GROUP BY event_type
),
dev AS (
  SELECT v.event_type AS event_type, event_id, x, m, abs(x - m) AS ad
  FROM v JOIN med ON med.event_type = v.event_type
),
mad AS (
  SELECT event_type, quantile_disc(ad, 0.5) AS mad FROM dev
  GROUP BY event_type
)
SELECT dev.event_type AS event_type, event_id, x,
       CAST(m AS BIGINT) AS med, CAST(mad.mad AS BIGINT) AS mad
FROM dev JOIN mad ON mad.event_type = dev.event_type
WHERE abs(x - m) * 10000 > 3 * 14826 * mad.mad
""",
)
def stats_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MAD robust outliers — the fence that survives its own outliers:
    flag values beyond 3 robust-σ, where robust-σ = 1.4826·MAD (median
    absolute deviation). Mean/stddev fences move when a whale enters the
    window; medians do not — which is why monitoring and data-cleaning
    default to MAD. Thresholding is kept in integers by scaling: the
    comparison cross-multiplies through the 1.4826 constant
    (|x−m|·10000 > 3·14826·MAD) — no float, no rounding, ever.

    Shape: two exact discrete medians (per-type groupBys on the cents),
    each re-entering as a broadcast |types|-row table; the fact stream is
    scanned twice (median, then deviation) — the unavoidable two-pass
    structure of exact MAD — and emits only the flagged tail."""
    v = load(spark, sf_dir, "events").select(
        "event_type",
        "event_id",
        cents("value").alias("x"),
    )
    med = v.groupBy("event_type").agg(
        F.expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY x)").alias("m")
    )
    dev = v.join(F.broadcast(med), "event_type").select(
        "event_type", "event_id", "x", "m", F.abs(F.col("x") - F.col("m")).alias("ad")
    )
    mad = dev.groupBy("event_type").agg(
        F.expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY ad)").alias("mad")
    )
    return (
        dev.join(F.broadcast(mad), "event_type")
        .filter(
            F.abs(F.col("x") - F.col("m")) * 10000 > 3 * 14826 * F.col("mad")
        )
        .select(
            "event_type",
            "event_id",
            "x",
            F.col("m").cast("bigint").alias("med"),
            F.col("mad").cast("bigint").alias("mad"),
        )
    )


# ---------------------------------------------------------------------------
# audit_benford_digits
# ---------------------------------------------------------------------------


@register(
    "audit_benford_digits",
    oracle=f"""
WITH v AS (
  SELECT CAST(substring(CAST({CENTS_SQL.format('value')} AS VARCHAR),
                        1, 1) AS BIGINT) AS d
  FROM events WHERE value >= 1
),
c AS (SELECT d, CAST(COUNT(*) AS BIGINT) AS n FROM v GROUP BY d),
t AS (SELECT CAST(SUM(n) AS BIGINT) AS total FROM c)
SELECT d, n,
       CAST(n * 1000000 // total AS BIGINT) AS observed_ppm,
       CAST(floor(ln(1.0 + 1.0 / d) / ln(10.0) * 1000000) AS BIGINT)
         AS benford_ppm
FROM c, t
""",
)
def audit_benford_digits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford first-digit audit — natural measurement data follows
    log₁₀(1+1/d) first-digit frequencies; fabricated or synthetic values
    usually do not. The classic fraud/auto-generated-data smell test,
    run here against the expected distribution side by side (observed vs
    Benford ppm per digit — the fixture's uniform values will visibly
    NOT be Benford, which is exactly what the audit is for).

    Shape: first digit via string head of the integer cents (no float
    log on the data path; the Benford expectation is a constant-folded
    literal expression), 9-key count, one scalar total broadcast back.
    Trivially re-aggregatable at any scale."""
    v = (
        load(spark, sf_dir, "events")
        .filter(F.col("value") >= 1)
        .select(
            F.substring(cents("value").cast("string"), 1, 1)
            .cast("bigint")
            .alias("d")
        )
    )
    c = v.groupBy("d").agg(F.count("*").cast("bigint").alias("n"))
    t = c.agg(F.sum("n").cast("bigint").alias("total"))
    return (
        c.crossJoin(F.broadcast(t))
        .select(
            "d",
            "n",
            F.expr("CAST(n * 1000000 div total AS BIGINT)").alias(
                "observed_ppm"
            ),
            F.expr(
                "CAST(floor(ln(1.0D + 1.0D / d) / ln(10.0D) * 1000000) "
                "AS BIGINT)"
            ).alias("benford_ppm"),
        )
    )
