"""Round-4 matching + screening extensions.

Three operators from the record-matching / corpus-screening space every
large curation pipeline carries (reference reach: the delegated SQL slot,
``main.cc:181-182``):

- Fellegi–Sunter entity resolution — blocked pairwise field comparison
  with integer log-likelihood-ratio weights and a match / possible /
  nonmatch decision, THE probabilistic record-linkage model (Fellegi &
  Sunter, JASA 1969) behind every dedupe-across-sources pass. Its
  candidate pairs are the module's record-linkage kit, ``er_candidates``
  and its oracle twin ``ER_CANDIDATES_SQL``, which the golden-record and
  hard-EM keys build on too;
- positional phrase search — an inverted POSITIONAL index answering a
  multi-token phrase query by position-adjacency joins (the operator BM25
  cannot express: BM25 is bag-of-words, phrases need positions);
- per-domain cap sampling — the C4/Dolma rule "no domain contributes more
  than K documents", with a salted two-stage exact top-K so a mega-domain
  never lands on one reducer.

Determinism: every score is integer, every priority is an md5-derived
integer both engines compute identically, every float comparison uses the
same stored doubles and literals.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from c2_duckdb_runner_spark.registry import fdoc, register
from c2_duckdb_runner_spark.tables import load, load_spread

# ---------------------------------------------------------------------------
# The Fellegi–Sunter candidate-pair kit
# ---------------------------------------------------------------------------

ER_SHIFT = 500_000  # B-side key offset (ground-truth link: akey = bkey - ER_SHIFT)


def _band(x: Column) -> Column:
    """The balance band floor(x / 1000) as INT: the ER blocking key, and
    the sensitive attribute of privacy_l_diversity / privacy_t_closeness.
    A balance with no finite INT band (±inf, NaN, |x| >= 1e9) gets NULL,
    so it leaves the join and counts as no band."""
    return F.when(F.abs(x) < 1e9, F.floor(x / 1000.0).cast("int"))


def _suffix(name: str) -> Column:
    return F.expr(f"substring(lower({name}), length({name}) - 2, 3)")


def er_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The blocked F-S candidate pairs ``(akey, bkey, aname, bname, abal,
    bbal, aseg, bseg, anat, score)``.

    Source A is ``customer``; source B is the same table re-extracted with
    deterministic damage (every 3rd name case-flipped, every 5th balance
    jittered +0.37, every 7th segment lost, keys shifted by ER_SHIFT).
    Pairs block on (nation, balance band, lower-case 3-char name suffix);
    the suffix is the component that scales: nation x band alone is a
    fixed grid, so its blocks grow linearly with the corpus and pair
    counts quadratically (measured 7x wall at 10x rows before the suffix
    key). Being case-folded it never separates a true link; jitter that
    crosses a band edge loses that pair, deterministically in both
    engines. ``score`` sums integer agreement weights (scaled log2 m/u
    ratios): exact name +24 / case-only +18 / miss -10; balance within
    0.005 +15 / else -6; segment +9 / -4 / either NULL 0.

    Oracle twin: ``ER_CANDIDATES_SQL``, the CTEs a, b, b2 and pairs."""
    c = load(spark, sf_dir, "customer")
    a = c.select(
        F.col("c_custkey").alias("akey"),
        F.col("c_name").alias("aname"),
        F.col("c_acctbal").alias("abal"),
        F.col("c_mktsegment").alias("aseg"),
        F.col("c_nationkey").alias("anat"),
        _band(F.col("c_acctbal")).alias("aband"),
    )
    b = c.select(
        (F.col("c_custkey") + ER_SHIFT).alias("bkey"),
        F.expr(
            "CASE WHEN c_custkey % 3 = 0 THEN upper(c_name) ELSE c_name END"
        ).alias("bname"),
        F.expr(
            "CASE WHEN c_custkey % 5 = 0 THEN c_acctbal + 0.37 ELSE c_acctbal END"
        ).alias("bbal"),
        F.expr(
            "CASE WHEN c_custkey % 7 = 0 THEN NULL ELSE c_mktsegment END"
        ).alias("bseg"),
        F.col("c_nationkey").alias("bnat"),
    ).withColumn("bband", _band(F.col("bbal")))
    score = (
        F.when(F.col("aname") == F.col("bname"), 24)
        .when(F.lower("aname") == F.lower("bname"), 18)
        .otherwise(-10)
        + F.when(F.abs(F.col("abal") - F.col("bbal")) < 0.005, 15).otherwise(-6)
        + F.when(F.col("aseg").isNull() | F.col("bseg").isNull(), 0)
        .when(F.col("aseg") == F.col("bseg"), 9)
        .otherwise(-4)
    )
    return a.join(
        b,
        (F.col("anat") == F.col("bnat"))
        & (F.col("aband") == F.col("bband"))
        & (_suffix("aname") == _suffix("bname")),
    ).select(
        "akey", "bkey", "aname", "bname", "abal", "bbal", "aseg", "bseg", "anat",
        score.alias("score"),
    )


# the oracle's ``_band``
_BAND_SQL = "CASE WHEN abs({0}) < 1e9 THEN CAST(floor({0} / 1000.0) AS INT) END"

# oracle twin of ``er_candidates``: the CTEs a, b, b2 and pairs
ER_CANDIDATES_SQL = f"""
a AS (
  SELECT c_custkey AS akey, c_name AS aname, c_acctbal AS abal,
         c_mktsegment AS aseg, c_nationkey AS anat,
         {_BAND_SQL.format("c_acctbal")} AS aband
  FROM customer
),
b AS (
  SELECT c_custkey + {ER_SHIFT} AS bkey,
         CASE WHEN c_custkey % 3 = 0 THEN upper(c_name) ELSE c_name END AS bname,
         CASE WHEN c_custkey % 5 = 0 THEN c_acctbal + 0.37 ELSE c_acctbal END AS bbal,
         CASE WHEN c_custkey % 7 = 0 THEN NULL ELSE c_mktsegment END AS bseg,
         c_nationkey AS bnat
  FROM customer
),
b2 AS (SELECT *, {_BAND_SQL.format("bbal")} AS bband FROM b),
pairs AS (
  SELECT akey, bkey, aname, bname, abal, bbal, aseg, bseg, anat,
         (CASE WHEN aname = bname THEN 24
               WHEN lower(aname) = lower(bname) THEN 18
               ELSE -10 END)
         + (CASE WHEN abs(abal - bbal) < 0.005 THEN 15 ELSE -6 END)
         + (CASE WHEN aseg IS NULL OR bseg IS NULL THEN 0
                 WHEN aseg = bseg THEN 9 ELSE -4 END) AS score
  FROM a JOIN b2 ON anat = bnat AND aband = bband
              AND substring(lower(aname), length(aname) - 2, 3)
                = substring(lower(bname), length(bname) - 2, 3)
)"""


# ---------------------------------------------------------------------------
# er_fellegi_sunter
# ---------------------------------------------------------------------------


@register(
    "er_fellegi_sunter",
    oracle=f"""
WITH {ER_CANDIDATES_SQL}
SELECT akey AS a_key, bkey - {ER_SHIFT} AS b_key, CAST(score AS INT) AS score,
       CASE WHEN score >= 30 THEN 'match'
            WHEN score >= 10 THEN 'possible'
            ELSE 'nonmatch' END AS cls,
       CAST(CASE WHEN akey = bkey - {ER_SHIFT} THEN 1 ELSE 0 END AS INT) AS is_true
FROM pairs WHERE score >= 10
""",
)
def er_fellegi_sunter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fellegi–Sunter probabilistic record linkage over a planted dirty copy.

    The candidate pairs and their integer scores come from the
    ``er_candidates`` kit; this key applies the F-S decision rule, classing
    each score match (>= 30) / possible (>= 10) / nonmatch. Only score >=
    10 pairs are emitted, and non-linked customers cannot reach 10 (name
    miss -10 floors them), so the output is O(true links), not O(block
    pairs).

    Scale shape: one shuffle per side on the block key; per-block fan-out
    is bounded by the band granularity and the name suffix (production
    blocking uses tighter keys — the pattern is identical).
    """
    return (
        er_candidates(spark, sf_dir)
        .select(
            F.col("akey").alias("a_key"),
            (F.col("bkey") - ER_SHIFT).alias("b_key"),
            F.col("score").cast("int").alias("score"),
        )
        .filter(F.col("score") >= 10)
        .select(
            "a_key",
            "b_key",
            "score",
            F.when(F.col("score") >= 30, "match")
            .when(F.col("score") >= 10, "possible")
            .otherwise("nonmatch")
            .alias("cls"),
            (F.col("a_key") == F.col("b_key")).cast("int").alias("is_true"),
        )
    )


# ---------------------------------------------------------------------------
# search_phrase_positional
# ---------------------------------------------------------------------------

_PHRASE = ("slow", "hash", "batch")  # occurs in the fixture corpus


@register(
    "search_phrase_positional",
    oracle=f"""
WITH d AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
post AS (
  SELECT doc_id, generate_subscripts(t, 1) - 1 AS pos, unnest(t) AS tok FROM d
),
p1 AS (SELECT doc_id, pos FROM post WHERE tok = '{_PHRASE[0]}'),
p2 AS (SELECT doc_id, pos FROM post WHERE tok = '{_PHRASE[1]}'),
p3 AS (SELECT doc_id, pos FROM post WHERE tok = '{_PHRASE[2]}')
SELECT p1.doc_id AS doc_id, CAST(COUNT(*) AS BIGINT) AS n_occ,
       CAST(MIN(p1.pos) AS INT) AS first_pos
FROM p1
JOIN p2 ON p2.doc_id = p1.doc_id AND p2.pos = p1.pos + 1
JOIN p3 ON p3.doc_id = p1.doc_id AND p3.pos = p1.pos + 2
GROUP BY p1.doc_id
""",
)
def search_phrase_positional(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact phrase search over an inverted positional index.

    Postings (doc, term, position) are filtered to the query's terms FIRST
    — at 100 TB that filter IS the inverted-index lookup, and only the
    query terms' postings ever shuffle — then the phrase is reassembled by
    position-adjacency self-joins (term_i at pos, term_{i+1} at pos+1).
    This is the operator bag-of-words scoring (search_bm25_topk) cannot
    express; real engines store positions in the postings for exactly this
    join. Output: matching doc, occurrence count, first hit position.
    """
    post = (
        load_spread(spark, sf_dir, "documents", "doc_id")
        .select("doc_id", F.posexplode(F.split("text", " ")).alias("pos", "tok"))
        .filter(F.col("tok").isin(*_PHRASE))
    )
    p1 = post.filter(F.col("tok") == _PHRASE[0]).select("doc_id", "pos")
    p2 = post.filter(F.col("tok") == _PHRASE[1]).select(
        F.col("doc_id").alias("d2"), F.col("pos").alias("pos2")
    )
    p3 = post.filter(F.col("tok") == _PHRASE[2]).select(
        F.col("doc_id").alias("d3"), F.col("pos").alias("pos3")
    )
    return (
        p1.join(p2, (F.col("d2") == F.col("doc_id")) & (F.col("pos2") == F.col("pos") + 1))
        .join(p3, (F.col("d3") == F.col("doc_id")) & (F.col("pos3") == F.col("pos") + 2))
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("bigint").alias("n_occ"),
            F.min("pos").cast("int").alias("first_pos"),
        )
    )


# ---------------------------------------------------------------------------
# sample_domain_cap
# ---------------------------------------------------------------------------

_CAP = 10  # max docs per source domain
_CAP_SALTS = 16

# md5-derived uniform priority both engines compute identically (the
# cross-engine hash recipe used throughout the registry).
_PRIO_SPARK = (
    "CAST(conv(substring(md5(CAST(doc_id AS STRING)), 1, 15), 16, 10) AS BIGINT)"
)
_PRIO_DUCK = (
    "CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT)"
)


@register(
    "sample_domain_cap",
    oracle=f"""
WITH ranked AS (
  SELECT source, doc_id,
         ROW_NUMBER() OVER (PARTITION BY source
                            ORDER BY {_PRIO_DUCK}, doc_id) AS rk
  FROM documents
)
SELECT source, doc_id, CAST(rk AS INT) AS rk
FROM ranked WHERE rk <= {_CAP}
""",
)
@fdoc(f"""Per-domain document cap — "no domain contributes more than K docs"
    (the C4 / Dolma over-representation rule), priority = md5(doc_id), so
    the kept subset is a reproducible uniform sample of each domain.

    Scale shape: a naive ROW_NUMBER over (domain) sends EVERY row of a
    mega-domain to one reducer. This runs the salted two-stage exact
    top-K instead: stage 1 ranks within (domain, doc_id % {_CAP_SALTS})
    and keeps K per salt — any global top-K row is top-K within its salt,
    so nothing true is lost — stage 2 ranks the <= K·{_CAP_SALTS}
    survivors per domain. The heaviest reducer sees max(K·salts,
    |domain|/salts) rows instead of |domain|. Output identical to the
    naive oracle, by construction.
    """)
def sample_domain_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_spread(spark, sf_dir, "documents", "doc_id").select(
        "source", "doc_id", F.expr(_PRIO_SPARK).alias("u")
    )
    stage1 = Window.partitionBy(
        "source", F.pmod(F.col("doc_id"), F.lit(_CAP_SALTS))
    ).orderBy("u", "doc_id")
    survivors = d.withColumn("r1", F.row_number().over(stage1)).filter(
        F.col("r1") <= _CAP
    )
    stage2 = Window.partitionBy("source").orderBy("u", "doc_id")
    return (
        survivors.withColumn("rk", F.row_number().over(stage2))
        .filter(F.col("rk") <= _CAP)
        .select("source", "doc_id", F.col("rk").cast("int").alias("rk"))
    )
