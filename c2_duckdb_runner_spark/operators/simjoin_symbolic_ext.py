"""Round-4 similarity-join + symbolic-series extensions:

- PREFIX-FILTERED set-similarity join (the AllPairs/PPJoin candidate-
  generation principle): order every document's shingle set by GLOBAL
  rarity, keep only the first p = |T| − ⌈t·|T|⌉ + 1 shingles as join keys
  — any pair with Jaccard ≥ t MUST share a prefix shingle (pigeonhole),
  so the filter is exact (zero recall loss), and candidates are generated
  only through each set's rarest members. This is the third scalable
  near-dup candidate scheme in the repo next to MinHash-LSH (probabilistic)
  and SimHash blocking (hamming) — unlike those, it is exact;
- SAX-style SYMBOLIC AGGREGATE APPROXIMATION of the daily event-revenue
  series: the daily rollup is the PAA step, symbols come from EMPIRICAL
  quartile breakpoints (NTILE over the bounded daily series — rank-based,
  so integer-exact cross-engine, where the textbook z-normalized
  breakpoints would put a float sum in the hash), one word per ISO week.

Reference reach: the delegated SQL slot (``main.cc:181-182``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from c2_duckdb_runner_spark.operators.inference_ext import CENTS_SQL, cents
from c2_duckdb_runner_spark.registry import register
from c2_duckdb_runner_spark.tables import load, load_spread

# ---------------------------------------------------------------------------
# join_set_similarity_prefix
# ---------------------------------------------------------------------------

_PREFIX_ORACLE = """
WITH t AS (SELECT doc_id, string_split(text,' ') AS w FROM documents),
sh AS (SELECT doc_id, unnest(list_distinct(list_transform(
        range(1, greatest(len(w)-2,1)),
        i -> array_to_string(w[i:i+2], ' ')))) AS tok FROM t),
sz AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n FROM sh GROUP BY 1),
df AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS df FROM sh GROUP BY 1),
rk AS (SELECT s.doc_id, s.tok,
              row_number() OVER (PARTITION BY s.doc_id ORDER BY d.df, s.tok) AS r,
              z.n
       FROM sh s JOIN df d ON d.tok=s.tok JOIN sz z ON z.doc_id=s.doc_id),
pref AS (SELECT doc_id, tok FROM rk WHERE r <= n - ((8*n+9)//10) + 1),
cand AS (SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
         FROM pref a JOIN pref b ON a.tok=b.tok AND a.doc_id < b.doc_id),
inter AS (SELECT c.a_id, c.b_id, CAST(COUNT(*) AS BIGINT) AS inter
          FROM cand c JOIN sh x ON x.doc_id=c.a_id
                      JOIN sh y ON y.doc_id=c.b_id AND y.tok=x.tok
          GROUP BY 1,2),
v AS (SELECT i.a_id, i.b_id, i.inter, za.n + zb.n - i.inter AS uni
      FROM inter i JOIN sz za ON za.doc_id=i.a_id JOIN sz zb ON zb.doc_id=i.b_id)
SELECT a_id, b_id, inter, CAST(uni AS BIGINT) AS uni
FROM v WHERE inter*10 >= uni*8
"""


def _shingle_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, sarr, n): the distinct 3-word shingle SET per doc as an
    array, i ∈ [1, len−3] 1-based — token-identical to the oracle's
    range(1, greatest(len-2,1)) (docs with ≤ 3 words get an empty set on
    both engines). Map-only: the set is per-row state."""
    return (
        load_spread(spark, sf_dir, "documents", "doc_id")
        .select("doc_id", F.split("text", " ").alias("w"))
        .select(
            "doc_id",
            F.when(
                F.expr("size(w) >= 4"),
                F.expr(
                    "array_distinct(transform(sequence(1, size(w)-3),"
                    " i -> concat_ws(' ', slice(w, i, 3))))"
                ),
            )
            .otherwise(F.expr("CAST(array() AS ARRAY<STRING>)"))
            .alias("sarr"),
        )
        .withColumn("n", F.expr("CAST(size(sarr) AS BIGINT)"))
    )


@register("join_set_similarity_prefix", oracle=_PREFIX_ORACLE)
def join_set_similarity_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact Jaccard ≥ 0.8 similarity join on 3-word shingle sets via
    prefix filtering.

    Scale shape: the expensive structure is (doc, shingle) — linear in
    corpus size. Ranking each doc's shingles by global df is one keyed
    join + one per-doc window; the PREFIX keeps only |T|−⌈0.8|T|⌉+1
    shingles per doc (≈ 20% of them, and the RAREST ones by construction),
    so the candidate self-join runs on a slim, skew-resistant relation —
    frequent shingles never become join keys. Verification touches only
    candidate pairs (exactly the true pairs at this threshold in the
    fixture). Prefix filtering is EXACT: any pair at Jaccard ≥ t shares
    at least one prefix token under a global token order, so unlike
    MinHash/SimHash there is no recall parameter to tune. Prod extension
    (documented, not needed at fixture scale): add PPJoin's positional +
    length filters to shrink candidates further."""
    from c2_duckdb_runner_spark.session import scratch_persist

    sets = scratch_persist(_shingle_sets(spark, sf_dir))
    sh = sets.select("doc_id", "n", F.explode("sarr").alias("tok"))
    df = sh.groupBy("tok").agg(F.count("*").alias("df"))
    rk = sh.join(df, "tok").withColumn(
        "r", F.row_number().over(Window.partitionBy("doc_id").orderBy("df", "tok"))
    )
    pref = rk.where(F.expr("r <= n - ((8*n+9) DIV 10) + 1")).select("doc_id", "tok")
    a = pref.alias("a")
    b = pref.alias("b")
    cand = (
        a.join(b, (F.col("a.tok") == F.col("b.tok")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .select(F.col("a.doc_id").alias("a_id"), F.col("b.doc_id").alias("b_id"))
        .distinct()
    )
    # verification: ONE row per candidate pair carrying both shingle SETS —
    # array_intersect per pair instead of a 2·|T|-row explode + regroup
    # (saves the (a_id,b_id)-keyed aggregation shuffle entirely; the set is
    # per-row bounded state, the PPJoin verification contract)
    xa = sets.select(
        F.col("doc_id").alias("a_id"), F.col("sarr").alias("sa"), F.col("n").alias("na")
    )
    xb = sets.select(
        F.col("doc_id").alias("b_id"), F.col("sarr").alias("sb"), F.col("n").alias("nb")
    )
    return (
        cand.join(xa, "a_id")
        .join(xb, "b_id")
        .select(
            "a_id",
            "b_id",
            F.expr("CAST(size(array_intersect(sa, sb)) AS BIGINT)").alias("inter"),
            F.expr("na + nb").alias("nn"),
        )
        .select(
            "a_id",
            "b_id",
            "inter",
            F.expr("nn - inter").alias("uni"),
        )
        .where(F.expr("inter*10 >= uni*8"))
    )


# ---------------------------------------------------------------------------
# ts_sax_symbolic
# ---------------------------------------------------------------------------

_SAX_ORACLE = f"""
WITH d AS (SELECT CAST(ts AS DATE) AS day,
                  CAST(SUM({CENTS_SQL.format('value')}) AS BIGINT) AS cents
           FROM events GROUP BY 1),
q AS (SELECT day, cents, NTILE(4) OVER (ORDER BY cents, day) AS qt FROM d),
w AS (SELECT date_trunc('week', day) AS week_start, day,
             chr(CAST(96+qt AS INT)) AS sym FROM q)
SELECT strftime(week_start, '%Y-%m-%d') AS week_start,
       string_agg(sym, '' ORDER BY day) AS sax_word,
       CAST(COUNT(*) AS INT) AS days
FROM w GROUP BY 1
"""


@register("ts_sax_symbolic", oracle=_SAX_ORACLE)
def ts_sax_symbolic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SAX symbolization of the daily revenue series: daily rollup (the
    PAA step), quartile symbols a–d from NTILE(4) over (cents, day) — a
    rank-based total order, integer-exact cross-engine where z-normalized
    breakpoints would hash a float sum — concatenated into one word per
    ISO week (Monday-start on both engines).

    Scale: the only data-sized stage is the daily groupBy; the NTILE
    window runs on the daily series, whose length is bounded by CALENDAR
    DAYS, not rows — at 100 TB it is still ~365 rows/year."""
    e = load(spark, sf_dir, "events")
    d = (
        e.select(
            F.to_date("ts").alias("day"),
            cents("value").alias("c"),
        )
        .groupBy("day")
        .agg(F.sum("c").alias("cents"))
    )
    q = d.withColumn("qt", F.ntile(4).over(Window.orderBy("cents", "day")))
    w = q.select(
        F.date_format(F.date_trunc("week", F.col("day")), "yyyy-MM-dd").alias(
            "week_start"
        ),
        "day",
        F.expr("char(96+qt)").alias("sym"),
    )
    return w.groupBy("week_start").agg(
        F.expr(
            "array_join(transform(array_sort(collect_list(struct(day, sym))),"
            " x -> x.sym), '')"
        ).alias("sax_word"),
        F.count("*").cast("int").alias("days"),
    )
