"""Round-5 batch C: one-permutation minhash and Kruskal-Wallis.

- ONE-PERMUTATION HASHING (Li/Owen/Zhang 2012) with densification
  (Shrivastava & Li 2014): the modern minhash — ONE hash pass over the
  shingles, slots = h mod k, slot value = min(h div k), empty slots
  filled rotationally from the next non-empty slot. k times cheaper than
  k-independent minhash (dedup_minhash_lsh's scheme) at the same
  signature width; the op audits estimator CALIBRATION against exact
  Jaccard on the deterministic doc sample both engines agree on.
- KRUSKAL-WALLIS H: the rank-based k-sample location test (the
  nonparametric ANOVA) over per-type daily revenue, tie-corrected, in
  fixed-point integer arithmetic with division order pinned in both
  engines. Completes the k-sample ladder: ANOVA (means), Brown-Forsythe
  (variances), Friedman (blocked ranks), Kruskal-Wallis (pooled ranks).

Reference reach: the delegated SQL surface (``main.cc:181-182``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from c2_duckdb_runner_spark.operators.dedup import (
    _jaccard_pairs_spark,
    _jaccard_pairs_sql,
    _exploded_shingles,
)
from c2_duckdb_runner_spark.operators.inference_ext import CENTS_SQL, cents
from c2_duckdb_runner_spark.registry import fdoc, register
from c2_duckdb_runner_spark.session import scratch_persist
from c2_duckdb_runner_spark.tables import load

# ---------------------------------------------------------------------------
# dedup_minhash_oph
# ---------------------------------------------------------------------------

_OPH_K = 16  # signature slots
_OPH_SAMPLE_MOD = 2  # the deterministic md5-parity doc sample (LSH audit's)
_OPH_CALIB = 0.35  # |slots/k − jaccard| bound audited per true pair


def _oph_cols_sql() -> tuple[str, str, str]:
    """(slot-min aggregates, densified columns, match-count sum) — the
    same generated SQL text is embedded in the oracle and mirrored by the
    Spark expressions, so the 16-way COALESCE rotation is identical."""
    mins = ", ".join(
        f"MIN(CASE WHEN slot = {j} THEN val END) AS s{j}"
        for j in range(_OPH_K)
    )
    dens = ", ".join(
        "COALESCE("
        + ", ".join(f"s{(j + t) % _OPH_K}" for t in range(_OPH_K))
        + f") AS d{j}"
        for j in range(_OPH_K)
    )
    match = " + ".join(
        f"CASE WHEN a.d{j} = b.d{j} THEN 1 ELSE 0 END" for j in range(_OPH_K)
    )
    return mins, dens, match


def _oph_oracle() -> str:
    mins, dens, match = _oph_cols_sql()
    pairs = _jaccard_pairs_sql("0.8", sample_mod=_OPH_SAMPLE_MOD)
    return f"""
WITH pairs AS ({pairs}),
docs AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents
         WHERE CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 15))
               AS BIGINT) % {_OPH_SAMPLE_MOD} = 0),
sh0 AS (SELECT doc_id,
               unnest(list_distinct([array_to_string(toks[i:i+3], ' ')
                 FOR i IN range(1, greatest(len(toks)-2, 1))])) AS s0
        FROM docs),
slotv AS (SELECT doc_id,
                 CAST(('0x' || substring(md5(s0), 1, 15)) AS BIGINT)
                   % {_OPH_K} AS slot,
                 CAST(('0x' || substring(md5(s0), 1, 15)) AS BIGINT)
                   // {_OPH_K} AS val
          FROM sh0),
sig AS (SELECT doc_id, {mins} FROM slotv GROUP BY doc_id),
dens AS (SELECT doc_id, {dens} FROM sig)
SELECT a_id, b_id, jac, slots_match,
       CAST(CASE WHEN ABS(slots_match / {_OPH_K}.0 - jac) <= {_OPH_CALIB}
            THEN 1 ELSE 0 END AS INT) AS calib_ok
FROM (
  SELECT p.a_id, p.b_id, p.jac, CAST({match} AS INT) AS slots_match
  FROM pairs p
  JOIN dens a ON a.doc_id = p.a_id
  JOIN dens b ON b.doc_id = p.b_id
)
"""


@register("dedup_minhash_oph", oracle=_oph_oracle())
@fdoc(f"""One-permutation minhash with rotational densification: one 60-bit
    md5 per shingle; slot = h mod {_OPH_K}, slot value = min(h div
    {_OPH_K}); an empty slot borrows the first non-empty slot to its
    right (cyclically). P(slot match) ≈ Jaccard, so the signature is a
    {_OPH_K}-cell estimator at ONE hash evaluation per shingle — versus
    {_OPH_K} evaluations for k-independent minhash. Audited against
    EXACT Jaccard on every ground-truth pair (≥0.8) of the deterministic
    md5-parity doc sample: slots_match and the |est − jac| ≤ {_OPH_CALIB}
    calibration bit per pair, all hash-matched (both engines build the
    identical signatures).

    Scale shape: signature build is one shingle scan + one (doc, slot)
    aggregate collapsing to ≤{_OPH_K} rows/doc, then a doc-keyed pivot —
    no pair enumeration anywhere in the sketch path (the exact-Jaccard
    side is the audit's ground truth, shingle-blocked as in
    dedup_near_ngram_jaccard, and the sample keeps it audit-sized).""")
def dedup_minhash_oph(spark: SparkSession, sf_dir: str) -> DataFrame:
    _, _, match = _oph_cols_sql()
    # r12: raw stream via _exploded_shingles (inferred-filter dodge)
    sh_raw = _exploded_shingles(spark, sf_dir, sample_mod=_OPH_SAMPLE_MOD)
    slotv = sh_raw.select(
        "doc_id",
        F.expr(
            "CAST(conv(substring(md5(s0), 1, 15), 16, 10) AS BIGINT)"
            f" % {_OPH_K}"
        ).alias("slot"),
        F.expr(
            "CAST(conv(substring(md5(s0), 1, 15), 16, 10) AS BIGINT)"
            f" div {_OPH_K}"
        ).alias("val"),
    )
    sig = slotv.groupBy("doc_id").agg(
        *[
            F.expr(f"MIN(CASE WHEN slot = {j} THEN val END)").alias(f"s{j}")
            for j in range(_OPH_K)
        ]
    )
    dense = scratch_persist(sig.selectExpr("doc_id", *_dens_exprs()))
    pairs = _jaccard_pairs_spark(spark, sf_dir, 0.8, sample_mod=_OPH_SAMPLE_MOD)
    a = dense.alias("a")
    b = dense.alias("b")
    joined = (
        pairs.join(a, F.col("a.doc_id") == F.col("a_id"))
        .join(b, F.col("b.doc_id") == F.col("b_id"))
        .select(
            "a_id",
            "b_id",
            "jac",
            F.expr(f"CAST({match} AS INT)").alias("slots_match"),
        )
    )
    return joined.select(
        "a_id",
        "b_id",
        "jac",
        "slots_match",
        F.expr(
            f"CAST(CASE WHEN ABS(slots_match / {_OPH_K}.0 - jac)"
            f" <= {_OPH_CALIB} THEN 1 ELSE 0 END AS INT)"
        ).alias("calib_ok"),
    )


def _dens_exprs() -> list[str]:
    """Densified slot expressions `COALESCE(s_j, s_{j+1}, …) AS d_j`."""
    out = []
    for j in range(_OPH_K):
        chain = ", ".join(f"s{(j + t) % _OPH_K}" for t in range(_OPH_K))
        out.append(f"COALESCE({chain}) AS d{j}")
    return out


# ---------------------------------------------------------------------------
# stats_kruskal_wallis
# ---------------------------------------------------------------------------

_KW_CHI2_95_DF4 = 9_487_729  # chi-square(4) 95th percentile, micro-units

_KW_ORACLE = f"""
WITH daily AS (
  SELECT event_type AS g, CAST(ts AS DATE) AS day,
         CAST(SUM({CENTS_SQL.format('value')}) AS BIGINT) AS v
  FROM events GROUP BY 1, 2
),
hist AS (SELECT v, CAST(COUNT(*) AS BIGINT) AS t FROM daily GROUP BY v),
ranked AS (
  SELECT v, t,
         CAST(SUM(t) OVER (ORDER BY v) - t AS BIGINT) AS cum_before
  FROM hist
),
scored AS (
  SELECT d.g, 2 * r.cum_before + r.t + 1 AS r2
  FROM daily d JOIN ranked r ON r.v = d.v
),
grp AS (
  SELECT g, CAST(COUNT(*) AS BIGINT) AS n_i,
         CAST(SUM(r2) AS BIGINT) AS r2sum
  FROM scored GROUP BY g
),
tot AS (
  SELECT CAST(SUM(n_i) AS BIGINT) AS n,
         CAST(COUNT(*) AS BIGINT) AS k,
         CAST(SUM((r2sum * r2sum) // (4 * n_i)) AS BIGINT) AS srq
  FROM grp
),
ties AS (SELECT CAST(COALESCE(SUM(t*t*t - t), 0) AS BIGINT) AS tcor
         FROM hist WHERE t > 1),
h AS (
  SELECT tot.n, tot.k, ties.tcor,
         CAST((12000000 * tot.srq) // (tot.n * (tot.n + 1))
              - 3000000 * (tot.n + 1) AS BIGINT) AS h_micro
  FROM tot CROSS JOIN ties
)
SELECT n AS n_total, CAST(k AS INT) AS k_groups, tcor AS tie_correction,
       h_micro AS h_uncorrected_micro,
       CAST((h_micro * (n*n*n - n)) // (n*n*n - n - tcor) AS BIGINT)
         AS h_micro_corr,
       CAST(CASE WHEN (h_micro * (n*n*n - n)) // (n*n*n - n - tcor)
            > {_KW_CHI2_95_DF4} THEN 1 ELSE 0 END AS INT) AS signif
FROM h
"""


@register("stats_kruskal_wallis", oracle=_KW_ORACLE)
def stats_kruskal_wallis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kruskal-Wallis H across the event types' daily revenue: pooled
    mid-ranks (ties share the tie-group mean, carried as the INTEGER
    2·rank = 2·cum_before + t + 1), H = 12·Σ(R_i²/n_i)/(N(N+1)) − 3(N+1),
    tie-corrected by (N³−N)/(N³−N−Σ(t³−t)), decided against the inlined
    χ²(k−1) 95% threshold. Fixed-point micro integers with the division
    order pinned in both engines. Completes the k-sample test ladder
    next to ANOVA / Brown-Forsythe / Friedman.

    Scale shape: ranks come from the DISTINCT-VALUE histogram +
    cumulative window over that AGGREGATE (never a row-level global
    sort — the decile-lift mechanism); the per-group reduction is one
    aggregate over the day-grid-sized relation."""
    from pyspark.sql.window import Window

    ev = load(spark, sf_dir, "events")
    # three consumers (histogram, tie table, rank scoring) — persist the
    # day-grid-sized rollup or each replays the events scan
    daily = scratch_persist(
        ev.groupBy(
            F.col("event_type").alias("g"),
            F.expr("CAST(ts AS DATE)").alias("day"),
        ).agg(
            F.sum(cents("value"))
            .cast("bigint")
            .alias("v")
        )
    )
    hist = daily.groupBy("v").agg(F.count("*").cast("bigint").alias("t"))
    wv = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, 0)
    ranked = hist.select(
        "v",
        "t",
        (F.sum("t").over(wv) - F.col("t")).cast("bigint").alias("cum_before"),
    )
    scored = daily.join(ranked, "v").select(
        "g", F.expr("2 * cum_before + t + 1").alias("r2")
    )
    grp = scored.groupBy("g").agg(
        F.count("*").cast("bigint").alias("n_i"),
        F.sum("r2").cast("bigint").alias("r2sum"),
    )
    tot = grp.agg(
        F.sum("n_i").cast("bigint").alias("n"),
        F.count("*").cast("bigint").alias("k"),
        F.sum(F.expr("(r2sum * r2sum) div (4 * n_i)"))
        .cast("bigint")
        .alias("srq"),
    )
    ties = hist.filter("t > 1").agg(
        F.coalesce(F.sum(F.expr("t*t*t - t")), F.lit(0))
        .cast("bigint")
        .alias("tcor")
    )
    h = tot.crossJoin(F.broadcast(ties)).select(
        "n",
        "k",
        "tcor",
        F.expr(
            "CAST((12000000 * srq) DIV (n * (n + 1))"
            " - 3000000 * (n + 1) AS BIGINT)"
        ).alias("h_micro"),
    )
    return h.select(
        F.col("n").alias("n_total"),
        F.col("k").cast("int").alias("k_groups"),
        F.col("tcor").alias("tie_correction"),
        F.col("h_micro").alias("h_uncorrected_micro"),
        F.expr(
            "CAST((h_micro * (n*n*n - n)) DIV (n*n*n - n - tcor) AS BIGINT)"
        ).alias("h_micro_corr"),
        F.expr(
            "CAST(CASE WHEN (h_micro * (n*n*n - n)) DIV (n*n*n - n - tcor)"
            f" > {_KW_CHI2_95_DF4} THEN 1 ELSE 0 END AS INT)"
        ).alias("signif"),
    )
