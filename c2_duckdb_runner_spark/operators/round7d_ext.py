"""Round-7 batch D: apportionment, readability, budget allocation,
multi-rater agreement, random-walk testing, and vocabulary coverage.

- SAINTE-LAGUE: the odd-divisor (1, 3, 5, ...) apportionment next to
  alloc_dhondt_divisor — the variant that does not favor large parties;
  same EXACT integer fraction-ranking key pair.
- FLESCH READING EASE per source: words / sentences / vowel-group
  syllables are exact regex counts, the score an exact milli formula —
  the classic readability gate in curation stacks.
- TOKEN BUDGET ALLOCATION: a 1M-token sampling budget split across
  sources proportional to token mass, largest-remainder integerized so
  allocations sum EXACTLY to the budget (the mixture-sampling front
  door of every pretraining data recipe).
- FLEISS' KAPPA: the fixed-m multi-rater agreement coefficient next to
  eval_krippendorff_alpha (which handles variable m) — computed over
  the modal rating-count stratum, the textbook Fleiss design.
- VARIANCE RATIO TEST (Lo-MacKinlay VR(2)): Var(2-day sums) over
  2*Var(1-day) on the daily revenue series — 1 under a random walk,
  > 1 momentum, < 1 mean reversion; exact integer sufficient stats.
- N-GRAM COVERAGE CURVE: share of corpus trigram MASS covered by the
  top-{8, 64, 512} trigrams — the vocabulary-truncation coverage number
  a tokenizer/vocab design reads off before fixing a vocab size.

Reference reach: the delegated SQL surface (``main.cc:181-182``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from c2_duckdb_runner_spark.operators.inference_ext import CENTS_SQL, cents
from c2_duckdb_runner_spark.registry import fdoc, register
from c2_duckdb_runner_spark.tables import load, load_spread

# ---------------------------------------------------------------------------
# alloc_sainte_lague
# ---------------------------------------------------------------------------

_SL_SEATS = 50

_SL_ORACLE = f"""
WITH rev AS (
  SELECT n_name AS party,
         CAST(SUM({CENTS_SQL.format('o_totalprice')}) AS BIGINT) AS v
  FROM orders JOIN customer ON c_custkey = o_custkey
  JOIN nation ON n_nationkey = c_nationkey GROUP BY 1
),
q AS (
  SELECT party, d, v // (2 * d - 1) AS q1,
         (1000000 * (v % (2 * d - 1))) // (2 * d - 1) AS q2
  FROM rev CROSS JOIN (SELECT unnest(range(1, {_SL_SEATS + 1})) AS d)
),
top AS (
  SELECT party FROM q
  ORDER BY q1 DESC, q2 DESC, party ASC, d ASC LIMIT {_SL_SEATS}
)
SELECT party, CAST(COUNT(*) AS BIGINT) AS seats FROM top GROUP BY party
"""


@register("alloc_sainte_lague", oracle=_SL_ORACLE)
@fdoc(f"""Sainte-Lague (Webster) apportionment: seats go to the highest
    v/(2s+1) quotients — the divisor method proportional in expectation
    (D'Hondt's v/(s+1) systematically favors large parties; running BOTH
    shows the policy difference on identical data). Quotients rank
    EXACTLY with the same int64 key pair as alloc_dhondt_divisor:
    (v div (2d-1), (10^6*(v mod (2d-1))) div (2d-1)) — odd denominators
    <= {2 * _SL_SEATS - 1}, so distinct fractions differ by >=
    1/(2*{_SL_SEATS})^2 while the scaled remainder resolves 10^-6.
    Ties break (party, d): total order.

    Scale shape: bounded party aggregate -> {_SL_SEATS}-way explode ->
    TakeOrdered; output party-domain-sized.""")
def alloc_sainte_lague(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders").select("o_custkey", "o_totalprice")
    c = load(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = load(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    rev = (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy(F.col("n_name").alias("party"))
        .agg(
            F.sum(cents("o_totalprice"))
            .cast("bigint")
            .alias("v")
        )
    )
    q = rev.select(
        "party",
        F.explode(F.expr(f"sequence(1, {_SL_SEATS})")).alias("d"),
        "v",
    ).select(
        "party",
        "d",
        F.expr("v div (2 * d - 1)").alias("q1"),
        F.expr("(1000000 * (v % (2 * d - 1))) div (2 * d - 1)").alias("q2"),
    )
    top = (
        q.orderBy(F.desc("q1"), F.desc("q2"), F.asc("party"), F.asc("d"))
        .limit(_SL_SEATS)
        .select("party")
    )
    return top.groupBy("party").agg(F.count("*").cast("bigint").alias("seats"))


# ---------------------------------------------------------------------------
# text_readability_fk
# ---------------------------------------------------------------------------

_FK_ORACLE = """
WITH d AS (
  SELECT source,
         CAST(len(regexp_extract_all(text, '[A-Za-z]+')) AS BIGINT) AS words,
         CAST(greatest(len(regexp_extract_all(text, '[.!?]+')), 1) AS BIGINT)
           AS sents,
         CAST(len(regexp_extract_all(lower(text), '[aeiouy]+')) AS BIGINT)
           AS syls
  FROM documents
),
s AS (
  SELECT source, CAST(SUM(words) AS BIGINT) AS w,
         CAST(SUM(sents) AS BIGINT) AS s, CAST(SUM(syls) AS BIGINT) AS y
  FROM d GROUP BY 1
)
SELECT source, w AS n_words, s AS n_sentences, y AS n_syllables,
       CAST(206835000 - (1015000 * w) // s - (84600 * y) // w AS BIGINT)
         AS flesch_milli
FROM s
"""


@register("text_readability_fk", oracle=_FK_ORACLE)
def text_readability_fk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flesch reading ease per source: 206.835 - 1.015*(words/sentences)
    - 84.6*(syllables/word), in exact MILLI units with the two ratios as
    integer floor divisions — the curation-stack readability gate (a
    source whose score collapses is boilerplate or code soup, not
    prose). Words are [A-Za-z]+ runs, sentences [.!?]+ runs (floored at
    1 per doc), syllables the vowel-group proxy [aeiouy]+ — identical
    regexes both engines, so the counts are exact.

    Scale shape: map-only regex counts (codegen), one source-keyed
    aggregate; output is source-domain-sized."""
    d = load(spark, sf_dir, "documents").select(
        "source",
        F.expr(
            "CAST(size(regexp_extract_all(text, '[A-Za-z]+', 0)) AS BIGINT)"
        ).alias("words"),
        F.expr(
            "CAST(greatest(size(regexp_extract_all(text, '[.!?]+', 0)), 1)"
            " AS BIGINT)"
        ).alias("sents"),
        F.expr(
            "CAST(size(regexp_extract_all(lower(text), '[aeiouy]+', 0))"
            " AS BIGINT)"
        ).alias("syls"),
    )
    s = d.groupBy("source").agg(
        F.sum("words").cast("bigint").alias("w"),
        F.sum("sents").cast("bigint").alias("s"),
        F.sum("syls").cast("bigint").alias("y"),
    )
    return s.select(
        "source",
        F.col("w").alias("n_words"),
        F.col("s").alias("n_sentences"),
        F.col("y").alias("n_syllables"),
        # w = 0 (a hostile source with no [A-Za-z] words) zeroes the
        # second divisor: ANSI div ERRORS, DuckDB // is NULL — pinned NULL
        F.expr(
            "CAST(CASE WHEN w > 0 THEN"
            " 206835000 - (1015000 * w) div s - (84600 * y) div w"
            " END AS BIGINT)"
        ).alias("flesch_milli"),
    )


# ---------------------------------------------------------------------------
# pipeline_token_budget_allocation
# ---------------------------------------------------------------------------

_BUDGET = 1_000_000

_BUDGET_ORACLE = f"""
WITH t AS (
  SELECT source,
         CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS toks
  FROM documents GROUP BY 1
),
tot AS (SELECT CAST(SUM(toks) AS BIGINT) AS tt FROM t),
alloc AS (
  SELECT source, toks, ({_BUDGET} * toks) // tt AS fl,
         ({_BUDGET} * toks) % tt AS rem
  FROM t, tot
),
short AS (SELECT CAST({_BUDGET} - SUM(fl) AS BIGINT) AS missing FROM alloc),
r AS (
  SELECT source, toks, fl,
         ROW_NUMBER() OVER (ORDER BY rem DESC, source ASC) AS rk
  FROM alloc
)
SELECT source, toks AS n_tokens,
       CAST(fl + CASE WHEN rk <= missing THEN 1 ELSE 0 END AS BIGINT)
         AS budget_tokens
FROM r, short
"""


@register("pipeline_token_budget_allocation", oracle=_BUDGET_ORACLE)
@fdoc(f"""Split a {_BUDGET:,}-token sampling budget across sources
    proportional to token mass, integerized by the largest-remainder
    (Hamilton) rule so the allocations sum EXACTLY to the budget — the
    front door of every pretraining mixture recipe (temperature and
    cap adjustments start from this proportional base). Ranking ties
    break (remainder DESC, source ASC): a total order, the
    alloc_largest_remainder lesson — equal remainders must land the
    +-1 deterministically.

    Scale shape: map-only token count, one source aggregate, windows
    over the SOURCE-DOMAIN aggregate only.""")
def pipeline_token_budget_allocation(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    t = (
        load(spark, sf_dir, "documents")
        .select(
            "source",
            F.expr("CAST(size(split(text, ' ')) AS BIGINT)").alias("tk"),
        )
        .groupBy("source")
        .agg(F.sum("tk").cast("bigint").alias("toks"))
    )
    tot = t.agg(F.sum("toks").cast("bigint").alias("tt"))
    alloc = t.crossJoin(F.broadcast(tot)).select(
        "source",
        "toks",
        F.expr(f"({_BUDGET} * toks) div tt").alias("fl"),
        F.expr(f"({_BUDGET} * toks) % tt").alias("rem"),
    )
    short = alloc.agg(
        F.expr(f"CAST({_BUDGET} - SUM(fl) AS BIGINT)").alias("missing")
    )
    r = alloc.select(
        "source", "toks", "fl",
        F.row_number()
        .over(Window.orderBy(F.desc("rem"), F.asc("source")))
        .alias("rk"),
    )
    return r.crossJoin(F.broadcast(short)).select(
        "source",
        F.col("toks").alias("n_tokens"),
        F.expr(
            "CAST(fl + CASE WHEN rk <= missing THEN 1 ELSE 0 END AS BIGINT)"
        ).alias("budget_tokens"),
    )


# ---------------------------------------------------------------------------
# eval_fleiss_kappa
# ---------------------------------------------------------------------------

_FLEISS_ORACLE = """
WITH r AS (
  SELECT l_orderkey AS unit, l_returnflag AS cat FROM lineitem
),
m AS (SELECT unit, CAST(COUNT(*) AS BIGINT) AS mm FROM r GROUP BY unit),
mstar AS (
  SELECT mm FROM (SELECT mm, COUNT(*) AS c FROM m GROUP BY mm
                  ORDER BY c DESC, mm ASC LIMIT 1)
),
u AS (SELECT unit FROM m, mstar WHERE m.mm = mstar.mm),
cell AS (
  SELECT r.unit, cat, CAST(COUNT(*) AS BIGINT) AS nij
  FROM r JOIN u ON u.unit = r.unit GROUP BY 1, 2
),
stats AS (
  SELECT CAST(COUNT(DISTINCT unit) AS BIGINT) AS n,
         CAST(SUM(nij * nij) AS BIGINT) AS s2,
         CAST(SUM(nij) AS BIGINT) AS tot
  FROM cell
),
pj AS (
  SELECT cat, CAST(SUM(nij) AS BIGINT) AS nj FROM cell GROUP BY cat
),
pe AS (
  SELECT CAST(SUM(CAST(nj AS HUGEINT) * nj) AS HUGEINT) AS sj2 FROM pj
)
SELECT n AS n_units, (SELECT mm FROM mstar) AS m_ratings,
       ROUND((
         (CAST(s2 AS DOUBLE) - CAST(tot AS DOUBLE))
         / (CAST(n AS DOUBLE) * CAST((SELECT mm FROM mstar) AS DOUBLE)
            * (CAST((SELECT mm FROM mstar) AS DOUBLE) - 1.0))
         - CAST(sj2 AS DOUBLE) / (CAST(tot AS DOUBLE) * CAST(tot AS DOUBLE))
       ) / (1.0 - CAST(sj2 AS DOUBLE)
            / (CAST(tot AS DOUBLE) * CAST(tot AS DOUBLE))), 6) AS kappa
FROM stats, pe
"""


@register("eval_fleiss_kappa", oracle=_FLEISS_ORACLE)
def eval_fleiss_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fleiss' kappa over the modal rating-count stratum: each order's
    line items "rate" the order with a return flag; Fleiss' design needs
    a FIXED number of ratings per unit, so the op restricts to the modal
    m* (ORDER BY count DESC, mm ASC: total) — the fixed-m agreement
    coefficient beside eval_krippendorff_alpha's variable-m alpha
    (running both on the same data shows the design difference). All
    counts exact integers; Sum nj^2 runs 128-bit (category marginals are
    corpus-sized, squared); only the final P_o/P_e combination is double
    with identical operation order both engines, ROUND 6.

    Scale shape: unit rollup, modal-m pick from the m-histogram (a
    1-row TakeOrdered over the AGGREGATE), semi-join restriction, two
    bounded reduces."""
    r = load(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("unit"),
        F.col("l_returnflag").alias("cat"),
    )
    m = r.groupBy("unit").agg(F.count("*").cast("bigint").alias("mm"))
    mstar = (
        m.groupBy("mm")
        .agg(F.count("*").alias("c"))
        .orderBy(F.desc("c"), F.asc("mm"))
        .limit(1)
        .select("mm")
    )
    u = m.join(F.broadcast(mstar), "mm").select("unit")
    cell = r.join(u, "unit").groupBy("unit", "cat").agg(
        F.count("*").cast("bigint").alias("nij")
    )
    stats = cell.agg(
        F.countDistinct("unit").cast("bigint").alias("n"),
        F.sum(F.expr("nij * nij")).cast("bigint").alias("s2"),
        F.sum("nij").cast("bigint").alias("tot"),
    )
    pj = cell.groupBy("cat").agg(F.sum("nij").cast("bigint").alias("nj"))
    pe = pj.agg(
        F.sum(F.expr("CAST(nj AS DECIMAL(38,0)) * nj")).alias("sj2")
    )
    return (
        stats.crossJoin(F.broadcast(pe))
        .crossJoin(F.broadcast(mstar))
        .select(
            F.col("n").alias("n_units"),
            F.col("mm").alias("m_ratings"),
            F.round(
                F.expr(
                    "((CAST(s2 AS DOUBLE) - CAST(tot AS DOUBLE))"
                    " / (CAST(n AS DOUBLE) * CAST(mm AS DOUBLE)"
                    "    * (CAST(mm AS DOUBLE) - 1.0))"
                    " - CAST(sj2 AS DOUBLE)"
                    "   / (CAST(tot AS DOUBLE) * CAST(tot AS DOUBLE)))"
                    " / (1.0 - CAST(sj2 AS DOUBLE)"
                    "    / (CAST(tot AS DOUBLE) * CAST(tot AS DOUBLE)))"
                ),
                6,
            ).alias("kappa"),
        )
    )


# ---------------------------------------------------------------------------
# ts_variance_ratio_test
# ---------------------------------------------------------------------------

_VR_ORACLE = f"""
WITH daily AS (
  SELECT date_trunc('day', ts) AS d,
         CAST(SUM({CENTS_SQL.format('value')}) AS BIGINT) AS x
  FROM events GROUP BY 1
),
lagged AS (
  SELECT x, LAG(x) OVER (ORDER BY d) AS px FROM daily
),
two AS (SELECT x + px AS x2 FROM lagged WHERE px IS NOT NULL),
s1 AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(x) AS BIGINT) AS sx,
         CAST(SUM(CAST(x AS HUGEINT) * x) AS HUGEINT) AS sxx
  FROM daily
),
s2 AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n2, CAST(SUM(x2) AS BIGINT) AS sx2,
         CAST(SUM(CAST(x2 AS HUGEINT) * x2) AS HUGEINT) AS sxx2
  FROM two
)
SELECT s1.n AS n_days,
  ROUND((
    (CAST(n2 AS DOUBLE) * CAST(sxx2 AS DOUBLE)
     - CAST(sx2 AS DOUBLE) * CAST(sx2 AS DOUBLE))
    / (CAST(n2 AS DOUBLE) * CAST(n2 AS DOUBLE))
  ) / (2.0 * (CAST(s1.n AS DOUBLE) * CAST(sxx AS DOUBLE)
              - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
       / (CAST(s1.n AS DOUBLE) * CAST(s1.n AS DOUBLE))), 6)
    AS vr2
FROM s1, s2
"""


@register("ts_variance_ratio_test", oracle=_VR_ORACLE)
def ts_variance_ratio_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lo-MacKinlay variance ratio VR(2) on daily revenue: the variance
    of overlapping 2-day sums over twice the 1-day variance — exactly 1
    under a random walk, > 1 momentum (shocks compound), < 1 mean
    reversion; the standard efficient-process diagnostic. Sufficient
    statistics (n, Sx, Sxx at both horizons) are exact integers with the
    squared sums in 128-bit (cents squared wrap int64 — the VMR overflow
    family); the one double combination runs with identical operation
    order both engines, ROUND 6.

    Scale shape: day rollup, one LAG window over the calendar-bounded
    aggregate, two 1-row reduces."""
    daily = (
        load(spark, sf_dir, "events")
        .groupBy(F.date_trunc("day", "ts").alias("d"))
        .agg(
            F.sum(cents("value"))
            .cast("bigint")
            .alias("x")
        )
    )
    lagged = daily.select(
        "x", F.lag("x").over(Window.orderBy("d")).alias("px")
    )
    two = lagged.filter("px IS NOT NULL").select(
        F.expr("x + px").alias("x2")
    )
    s1 = daily.agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum(F.expr("CAST(x AS DECIMAL(38,0)) * x")).alias("sxx"),
    )
    s2 = two.agg(
        F.count("*").cast("bigint").alias("n2"),
        F.sum("x2").cast("bigint").alias("sx2"),
        F.sum(F.expr("CAST(x2 AS DECIMAL(38,0)) * x2")).alias("sxx2"),
    )
    return s1.crossJoin(F.broadcast(s2)).select(
        F.col("n").alias("n_days"),
        F.round(
            F.expr(
                "((CAST(n2 AS DOUBLE) * CAST(sxx2 AS DOUBLE)"
                "  - CAST(sx2 AS DOUBLE) * CAST(sx2 AS DOUBLE))"
                " / (CAST(n2 AS DOUBLE) * CAST(n2 AS DOUBLE)))"
                " / (2.0 * (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)"
                "           - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))"
                "      / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)))"
            ),
            6,
        ).alias("vr2"),
    )


# ---------------------------------------------------------------------------
# corpus_ngram_coverage_curve
# ---------------------------------------------------------------------------

_COV_KS = (8, 64, 512)

_COV_ORACLE = f"""
WITH tri AS (
  SELECT substring(text, CAST(i AS INT), 3) AS g
  FROM documents
  CROSS JOIN UNNEST(range(1, greatest(len(text) - 1, 1))) AS u(i)
),
h AS (SELECT g, CAST(COUNT(*) AS BIGINT) AS c FROM tri GROUP BY g),
tot AS (SELECT CAST(SUM(c) AS BIGINT) AS t,
               CAST(COUNT(*) AS BIGINT) AS vocab FROM h),
r AS (
  SELECT c, ROW_NUMBER() OVER (ORDER BY c DESC, g ASC) AS rk FROM h
),
ks AS (SELECT unnest([{", ".join(str(k) for k in _COV_KS)}]) AS k)
SELECT CAST(k AS BIGINT) AS top_k,
       CAST(SUM(CASE WHEN rk <= k THEN c ELSE 0 END) AS BIGINT) AS mass,
       CAST((1000000 * SUM(CASE WHEN rk <= k THEN c ELSE 0 END))
            // MIN(t) AS BIGINT) AS coverage_ppm,
       CAST(MIN(vocab) AS BIGINT) AS vocab
FROM r, tot, ks GROUP BY k
"""


@register("corpus_ngram_coverage_curve", oracle=_COV_ORACLE)
@fdoc(f"""Vocabulary-truncation coverage: what share of the corpus's
    trigram MASS do the top-{{{", ".join(str(k) for k in _COV_KS)}}}
    trigrams cover — the number a tokenizer/vocab design reads off
    before fixing a vocab size (Zipf mass concentrates fast; the curve
    says where the tail starts costing UNK/bytes-fallback). Exact ppm
    from the trigram histogram.

    Scale shape: trigram explode (map-only, spread across cores at
    single-row-group fixture scale — r11 optimization round) ->
    histogram aggregate -> ranking window over the VOCAB-sized aggregate
    (char-trigram vocab is charset-bounded, not corpus-bounded) -> one
    bounded reduce per k.""")
def corpus_ngram_coverage_curve(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    tri = (
        load_spread(spark, sf_dir, "documents", "doc_id")
        .filter("length(text) >= 3")
        .select(
            F.explode(
                F.expr(
                    "transform(sequence(1, length(text) - 2),"
                    " i -> substring(text, i, 3))"
                )
            ).alias("g")
        )
    )
    h = tri.groupBy("g").agg(F.count("*").cast("bigint").alias("c"))
    wall = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    r = h.select(
        "c",
        F.row_number().over(Window.orderBy(F.desc("c"), F.asc("g"))).alias("rk"),
        F.sum("c").over(wall).cast("bigint").alias("t"),
        F.count("*").over(wall).cast("bigint").alias("vocab"),
    )
    ks = F.explode(F.array(*[F.lit(k) for k in _COV_KS])).alias("k")
    return (
        r.select("c", "rk", "t", "vocab", ks)
        .groupBy("k")
        .agg(
            F.sum(F.expr("CASE WHEN rk <= k THEN c ELSE 0 END"))
            .cast("bigint")
            .alias("mass"),
            F.expr(
                "CAST((CAST(1000000 AS DECIMAL(38,0))"
                " * SUM(CASE WHEN rk <= k THEN c ELSE 0 END))"
                " div MIN(t) AS BIGINT)"
            ).alias("coverage_ppm"),
            F.min("vocab").cast("bigint").alias("vocab"),
        )
        .select(
            F.col("k").cast("bigint").alias("top_k"),
            "mass",
            "coverage_ppm",
            "vocab",
        )
    )
