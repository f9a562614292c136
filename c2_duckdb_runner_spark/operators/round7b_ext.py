"""Round-7 batch B: robust time-series screens, long-memory diagnostics,
deterministic sharding, and distribution-drift audits.

- HAMPEL FILTER: the production-standard robust outlier screen — a
  7-day centered rolling LOW MEDIAN with a rolling-MAD band; unlike the
  z-score screens already registered, a single spike cannot inflate its
  own threshold.
- BOLLINGER BREAKOUT: trailing mean +- 2 sigma band on daily revenue,
  decided EXACTLY by cross-multiplied integers ((x*n - Sx)^2 vs
  4*(n*Sxx - Sx^2)) — no sqrt, no floats, sign split for direction.
- HURST RESCALED RANGE: R/S long-memory diagnostic per event type —
  H > 0.5 trending / long-range-dependent, < 0.5 mean-reverting; the
  cumulative deviations are kept integer by n-scaling (n*cum_i - i*Sx).
- RENDEZVOUS (HRW) SHARDING: highest-random-weight assignment of
  documents to 16 shards + balance audit — the consistent-sharding
  scheme whose reshard cost is 1/shards of the corpus (vs mod-hash's
  full reshuffle); weights are md5 strings, identical both engines.
- JSD TRIGRAM DRIFT: Jensen-Shannon divergence of each source's char-
  trigram distribution vs the corpus, over the top-64-trigram + OTHER
  bucketing (JSD needs ln, so the domain must be BOUNDED for the
  ordered-fold determinism recipe; bucketed JSD lower-bounds the full
  divergence and is the standard drift monitor shape).

Reference reach: the delegated SQL surface (``main.cc:181-182``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from c2_duckdb_runner_spark.operators.inference_ext import CENTS_SQL, cents
from c2_duckdb_runner_spark.registry import fdoc, register
from c2_duckdb_runner_spark.session import scratch_persist
from c2_duckdb_runner_spark.tables import load, load_spread

_D38 = "DECIMAL(38,0)"

# ---------------------------------------------------------------------------
# ts_hampel_filter
# ---------------------------------------------------------------------------

_HAMPEL_ORACLE = """
WITH daily AS (
  SELECT event_type AS t, strftime(date_trunc('day', ts), '%Y-%m-%d') AS d,
         CAST(COUNT(*) AS BIGINT) AS x
  FROM events GROUP BY 1, 2
),
w AS (
  SELECT t, d, x,
         list(x) OVER (PARTITION BY t ORDER BY d
                       ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS win
  FROM daily
),
m AS (
  SELECT t, d, x, list_sort(win)[(len(win) + 1) // 2] AS med, win FROM w
),
mm AS (
  SELECT t, d, x, med,
         list_sort(list_transform(win, v -> abs(v - med)))
           [(len(win) + 1) // 2] AS mad
  FROM m
)
SELECT t AS event_type, d AS day, x AS n_events,
       CAST(med AS BIGINT) AS med7, CAST(mad AS BIGINT) AS mad7,
       CAST(CASE WHEN abs(x - med) > 3 * mad THEN 1 ELSE 0 END AS INT)
         AS is_outlier
FROM mm
"""


@register("ts_hampel_filter", oracle=_HAMPEL_ORACLE)
def ts_hampel_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hampel outlier screen on the per-type daily series: flag days
    where |x - median7| > 3 * MAD7 over a 7-day CENTERED window — the
    robust replacement for rolling-z screens (ts_anomaly_zscore), immune
    to the outlier inflating its own threshold. Low median and MAD are
    exact integers picked from the sorted 7-element window array
    (collect_list over a ROWS frame, array_sort, element_at) — the
    window is constant-width, so per-row state is O(7) at any scale.

    Scale shape: day rollup (the only data-sized aggregate), then
    type-partitioned constant-frame windows over the calendar-bounded
    series. Day ships as a string (engine DATE affinity differs)."""
    daily = (
        load(spark, sf_dir, "events")
        .groupBy(
            F.col("event_type").alias("t"),
            F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd").alias("d"),
        )
        .agg(F.count("*").cast("bigint").alias("x"))
    )
    win = Window.partitionBy("t").orderBy("d").rowsBetween(-3, 3)
    w = daily.select("t", "d", "x", F.collect_list("x").over(win).alias("win"))
    m = w.withColumn(
        "med",
        F.expr("element_at(array_sort(win), CAST((size(win) + 1) div 2 AS INT))"),
    )
    mm = m.withColumn(
        "mad",
        F.expr(
            "element_at(array_sort(transform(win, v -> abs(v - med))),"
            " CAST((size(win) + 1) div 2 AS INT))"
        ),
    )
    return mm.select(
        F.col("t").alias("event_type"),
        F.col("d").alias("day"),
        F.col("x").alias("n_events"),
        F.col("med").cast("bigint").alias("med7"),
        F.col("mad").cast("bigint").alias("mad7"),
        F.expr(
            "CAST(CASE WHEN abs(x - med) > 3 * mad THEN 1 ELSE 0 END AS INT)"
        ).alias("is_outlier"),
    )


# ---------------------------------------------------------------------------
# ts_bollinger_breakout
# ---------------------------------------------------------------------------

_BOLLINGER_ORACLE = f"""
WITH daily AS (
  SELECT event_type AS t, strftime(date_trunc('day', ts), '%Y-%m-%d') AS d,
         CAST(SUM({CENTS_SQL.format('value')}) AS BIGINT) AS x
  FROM events GROUP BY 1, 2
),
w AS (
  SELECT t, d, x,
         CAST(COUNT(*) OVER tw AS BIGINT) AS n,
         CAST(SUM(x) OVER tw AS BIGINT) AS sx,
         CAST(SUM(x * x) OVER tw AS BIGINT) AS sxx
  FROM daily
  WINDOW tw AS (PARTITION BY t ORDER BY d
                ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING)
)
SELECT t AS event_type, d AS day, x AS rev_cents, n AS n_win,
       CAST((1000 * sx) // n AS BIGINT) AS mean_milli,
       CAST(CASE
         WHEN (CAST(x AS HUGEINT) * n - sx)
              * (CAST(x AS HUGEINT) * n - sx)
              > 4 * (CAST(n AS HUGEINT) * sxx - CAST(sx AS HUGEINT) * sx)
         THEN CASE WHEN CAST(x AS HUGEINT) * n - sx > 0 THEN 1 ELSE -1 END
         ELSE 0 END AS INT) AS breakout
FROM w WHERE n >= 4
"""


@register("ts_bollinger_breakout", oracle=_BOLLINGER_ORACLE)
def ts_bollinger_breakout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bollinger-band breakout flags on per-type daily revenue: a day
    breaks out when it leaves the trailing mean +- 2 sigma band built
    from the PRECEDING 7 days (current day excluded, so the signal
    cannot damp itself). Decided EXACTLY with integers: (x - mu) > 2*s
    on the trailing window is (x*n - Sx)^2 > 4*(n*Sxx - Sx^2) after
    clearing the n^2 denominator — no sqrt, the sign of (x*n - Sx)
    splits up- from down-breaks. Sums of squared cents force the
    comparison into 128-bit (Spark DECIMAL(38,0) == DuckDB HUGEINT).

    Scale shape: day rollup, constant-frame trailing windows over the
    bounded series; warm-up rows (n < 4) dropped on both engines."""
    daily = (
        load(spark, sf_dir, "events")
        .groupBy(
            F.col("event_type").alias("t"),
            F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd").alias("d"),
        )
        .agg(
            F.sum(cents("value"))
            .cast("bigint")
            .alias("x")
        )
    )
    tw = Window.partitionBy("t").orderBy("d").rowsBetween(-7, -1)
    w = daily.select(
        "t", "d", "x",
        F.count("*").over(tw).cast("bigint").alias("n"),
        F.sum("x").over(tw).cast("bigint").alias("sx"),
        F.sum(F.expr("x * x")).over(tw).cast("bigint").alias("sxx"),
    ).filter("n >= 4")
    return w.select(
        F.col("t").alias("event_type"),
        F.col("d").alias("day"),
        F.col("x").alias("rev_cents"),
        F.col("n").alias("n_win"),
        F.expr("CAST((1000 * sx) div n AS BIGINT)").alias("mean_milli"),
        F.expr(
            f"CAST(CASE WHEN (CAST(x AS {_D38}) * n - sx)"
            f" * (CAST(x AS {_D38}) * n - sx)"
            f" > 4 * (CAST(n AS {_D38}) * sxx - CAST(sx AS {_D38}) * sx)"
            f" THEN CASE WHEN CAST(x AS {_D38}) * n - sx > 0"
            " THEN 1 ELSE -1 END ELSE 0 END AS INT)"
        ).alias("breakout"),
    )


# ---------------------------------------------------------------------------
# ts_hurst_rescaled_range
# ---------------------------------------------------------------------------

_HURST_ORACLE = """
WITH daily AS (
  SELECT event_type AS t, date_trunc('day', ts) AS d,
         CAST(COUNT(*) AS BIGINT) AS x
  FROM events WHERE ts IS NOT NULL GROUP BY 1, 2
),
stat AS (
  SELECT t, CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(x) AS BIGINT) AS sx,
         CAST(SUM(x * x) AS BIGINT) AS sxx
  FROM daily GROUP BY 1
),
cum AS (
  SELECT daily.t,
         CAST(SUM(x) OVER (PARTITION BY daily.t ORDER BY d) AS BIGINT)
           AS cx,
         CAST(ROW_NUMBER() OVER (PARTITION BY daily.t ORDER BY d)
              AS BIGINT) AS i,
         stat.n, stat.sx, stat.sxx
  FROM daily JOIN stat ON stat.t = daily.t
),
dev AS (
  SELECT t, MIN(n) AS n, MIN(sx) AS sx, MIN(sxx) AS sxx,
         CAST(MAX(n * cx - i * sx) - MIN(n * cx - i * sx) AS BIGINT)
           AS r_scaled
  FROM cum GROUP BY t
)
SELECT t AS event_type, n AS n_days, r_scaled,
       ROUND(CAST(r_scaled AS DOUBLE)
             / sqrt(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                    - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)), 6) AS rs,
       ROUND(ln(CAST(r_scaled AS DOUBLE)
                / sqrt(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                       - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)))
             / ln(CAST(n AS DOUBLE)), 6) AS hurst_proxy
FROM dev
"""


@register("ts_hurst_rescaled_range", oracle=_HURST_ORACLE)
def ts_hurst_rescaled_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hurst rescaled-range (R/S) long-memory diagnostic per event type:
    H ~ log(R/S)/log(n) > 0.5 marks trending/long-range-dependent
    arrivals (burst clusters survive aggregation — the property that
    breaks Poisson capacity models), < 0.5 mean reversion. The
    mean-adjusted cumulative deviations are kept EXACT integers by
    n-scaling: n*Y_i = n*cum_i - i*Sx, so R_scaled = max - min is exact
    and R/S = R_scaled / sqrt(n*Sxx - Sx^2) needs exactly one sqrt and
    one ln per type, identical operation order both engines, ROUND 6.

    Scale shape: day rollup, one per-type sufficient-stats reduce, one
    partitioned cumsum window over the bounded series."""
    daily = (
        load(spark, sf_dir, "events")
        # a timestamped series point without a timestamp is meaningless,
        # and a NULL day's WINDOW placement differs per engine (Spark
        # NULLS FIRST vs DuckDB NULLS LAST on ASC) — excluded, both sides
        .filter(F.col("ts").isNotNull())
        .groupBy(
            F.col("event_type").alias("t"),
            F.date_trunc("day", "ts").alias("d"),
        )
        .agg(F.count("*").cast("bigint").alias("x"))
    )
    stat = daily.groupBy("t").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum(F.expr("x * x")).cast("bigint").alias("sxx"),
    )
    wt = Window.partitionBy("t").orderBy("d")
    cum = daily.join(F.broadcast(stat), "t").select(
        "t",
        F.sum("x").over(
            wt.rowsBetween(Window.unboundedPreceding, 0)
        ).cast("bigint").alias("cx"),
        F.row_number().over(wt).cast("bigint").alias("i"),
        "n", "sx", "sxx",
    )
    dev = cum.groupBy("t").agg(
        F.min("n").alias("n"),
        F.min("sx").alias("sx"),
        F.min("sxx").alias("sxx"),
        (
            F.max(F.expr("n * cx - i * sx")) - F.min(F.expr("n * cx - i * sx"))
        ).cast("bigint").alias("r_scaled"),
    )
    # try_divide: a hostile zero-variance or single-day series zeroes a
    # denominator, where ANSI / ERRORS and DuckDB yields NULL (probed:
    # DOUBLE/0, BIGINT//0 and HUGEINT//0 are all NULL in DuckDB)
    rs_expr = (
        "try_divide(CAST(r_scaled AS DOUBLE),"
        " sqrt(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)"
        "      - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)))"
    )
    return dev.select(
        F.col("t").alias("event_type"),
        F.col("n").alias("n_days"),
        "r_scaled",
        F.round(F.expr(rs_expr), 6).alias("rs"),
        F.round(
            F.expr(f"try_divide(ln({rs_expr}), ln(CAST(n AS DOUBLE)))"), 6
        ).alias("hurst_proxy"),
    )


# ---------------------------------------------------------------------------
# pipeline_rendezvous_sharding
# ---------------------------------------------------------------------------

_HRW_SHARDS = 16

_HRW_ORACLE = f"""
WITH ex AS (
  SELECT doc_id, s,
         md5(CAST(s AS VARCHAR) || ':' || CAST(doc_id AS VARCHAR)) AS h
  FROM documents CROSS JOIN (SELECT unnest(range(0, {_HRW_SHARDS})) AS s)
),
pick AS (
  SELECT doc_id, max_by(s, h) AS shard FROM ex GROUP BY doc_id
),
cnt AS (
  SELECT shard, CAST(COUNT(*) AS BIGINT) AS n_docs FROM pick GROUP BY 1
),
tot AS (SELECT CAST(SUM(n_docs) AS BIGINT) AS nt FROM cnt)
SELECT shard, n_docs,
       CAST((1000000 * n_docs) // nt AS BIGINT) AS share_ppm,
       CAST(abs((1000000 * n_docs) // nt
                - {1_000_000 // _HRW_SHARDS}) AS BIGINT) AS dev_ppm
FROM cnt, tot
"""


@register("pipeline_rendezvous_sharding", oracle=_HRW_ORACLE)
@fdoc(f"""Rendezvous (highest-random-weight) sharding of documents into
    {_HRW_SHARDS} shards + balance audit: each doc goes to the shard
    with the LARGEST md5(shard:doc) weight, so adding/removing one shard
    moves only ~1/{_HRW_SHARDS} of the corpus (mod-hash sharding moves
    almost everything) — the assignment scheme for incremental corpus
    snapshots. Weights compare as md5 hex STRINGS (identical lexicographic
    order both engines, collision-free in practice so the argmax is
    total); the per-doc argmax is max_by over an exploded
    doc x {_HRW_SHARDS} frame — a map-side-combining aggregate, never a
    window.

    Scale shape: constant {_HRW_SHARDS}x explode (map-only) -> doc-keyed
    max_by -> shard-keyed count; output is {_HRW_SHARDS} rows.""")
def pipeline_rendezvous_sharding(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    ex = load(spark, sf_dir, "documents").select(
        "doc_id",
        F.explode(F.expr(f"sequence(0, {_HRW_SHARDS - 1})")).alias("s"),
    ).select(
        "doc_id",
        "s",
        F.expr(
            "md5(concat(CAST(s AS STRING), ':', CAST(doc_id AS STRING)))"
        ).alias("h"),
    )
    pick = ex.groupBy("doc_id").agg(F.expr("max_by(s, h)").alias("shard"))
    cnt = pick.groupBy("shard").agg(F.count("*").cast("bigint").alias("n_docs"))
    tot = cnt.agg(F.sum("n_docs").cast("bigint").alias("nt"))
    return cnt.crossJoin(F.broadcast(tot)).select(
        "shard",
        "n_docs",
        F.expr("CAST((CAST(1000000 AS DECIMAL(38,0)) * n_docs) div nt AS BIGINT)").alias("share_ppm"),
        F.expr(
            f"CAST(abs((1000000 * n_docs) div nt"
            f" - {1_000_000 // _HRW_SHARDS}) AS BIGINT)"
        ).alias("dev_ppm"),
    )


# ---------------------------------------------------------------------------
# corpus_jsd_trigram_drift
# ---------------------------------------------------------------------------

_JSD_TOP = 64

_JSD_ORACLE = f"""
WITH tri AS (
  SELECT source, substring(text, CAST(i AS INT), 3) AS g
  FROM documents
  CROSS JOIN UNNEST(range(1, greatest(len(text) - 1, 1))) AS u(i)
),
top AS (
  SELECT g FROM tri GROUP BY g
  ORDER BY COUNT(*) DESC, g ASC LIMIT {_JSD_TOP}
),
b AS (
  SELECT source,
         CASE WHEN top.g IS NOT NULL THEN tri.g ELSE '<OTHER>' END AS bucket
  FROM tri LEFT JOIN top ON top.g = tri.g
),
ps AS (
  SELECT source, bucket, CAST(COUNT(*) AS BIGINT) AS np FROM b GROUP BY 1, 2
),
qs AS (SELECT bucket, CAST(SUM(np) AS BIGINT) AS nq FROM ps GROUP BY 1),
totp AS (SELECT source, CAST(SUM(np) AS BIGINT) AS tp FROM ps GROUP BY 1),
totq AS (SELECT CAST(SUM(nq) AS BIGINT) AS tq FROM qs),
cells AS (
  SELECT totp.source, qs.bucket,
         COALESCE(ps.np, 0) AS np, totp.tp, qs.nq, totq.tq
  FROM totp CROSS JOIN qs
  LEFT JOIN ps ON ps.source = totp.source AND ps.bucket = qs.bucket,
  totq
),
arr AS (
  SELECT source, list((np, tp, nq, tq) ORDER BY bucket) AS xs
  FROM cells GROUP BY source
)
SELECT source,
  ROUND(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
    list_transform(xs, c ->
      0.5 * (CASE WHEN c[1] > 0 THEN
        (CAST(c[1] AS DOUBLE) / CAST(c[2] AS DOUBLE))
        * ln((CAST(c[1] AS DOUBLE) / CAST(c[2] AS DOUBLE))
             / (0.5 * (CAST(c[1] AS DOUBLE) / CAST(c[2] AS DOUBLE))
                + 0.5 * (CAST(c[3] AS DOUBLE) / CAST(c[4] AS DOUBLE))))
        ELSE 0.0 END)
      + 0.5 * (CASE WHEN c[3] > 0 THEN
        (CAST(c[3] AS DOUBLE) / CAST(c[4] AS DOUBLE))
        * ln((CAST(c[3] AS DOUBLE) / CAST(c[4] AS DOUBLE))
             / (0.5 * (CAST(c[1] AS DOUBLE) / CAST(c[2] AS DOUBLE))
                + 0.5 * (CAST(c[3] AS DOUBLE) / CAST(c[4] AS DOUBLE))))
        ELSE 0.0 END))),
    (acc, v) -> acc + v), 6) AS jsd_nats
FROM arr
"""


@register("corpus_jsd_trigram_drift", oracle=_JSD_ORACLE)
@fdoc(f"""Jensen-Shannon divergence of each source's character-trigram
    distribution against the whole corpus — the SYMMETRIC, bounded
    ([0, ln 2]) drift monitor next to mixture_kl_divergence (KL blows up
    on unseen categories; JSD never does). The trigram domain is first
    BUCKETED to the top-{_JSD_TOP} corpus trigrams + '<OTHER>': JSD
    needs ln, and the repo's determinism recipe for ln folds (left fold
    over an explicitly ordered array, identical element expressions,
    ROUND 6) requires a BOUNDED domain; bucketed JSD lower-bounds the
    full divergence (data-processing inequality) and is the standard
    production drift-monitor shape. Counts stay exact integers all the
    way to the fold.

    Scale shape (r11 optimization round): ONE trigram explode (spread
    across cores at fixture scale) -> ONE (source x trigram) hash
    aggregate, persisted — the trigram vocabulary saturates (charset-
    bounded: 377/890/2169 across the 100x ladder), so this relation is
    tiny and every downstream step (top-{_JSD_TOP} cut, bucketing,
    per-source cells) runs over counts, never over the raw trigram
    stream. Before r11 the explode ran TWICE (once for the top cut, once
    for bucketing) and the full trigram stream crossed the bucket join +
    (source x bucket) aggregate; now the corpus is scanned once and the
    only corpus-sized shuffle is the partial-aggregated (source, g)
    count (guide §2.3 "aggregate before you shuffle").""")
def corpus_jsd_trigram_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    tri = (
        load_spread(spark, sf_dir, "documents", "doc_id")
        .filter("length(text) >= 3")
        .select(
            "source",
            F.explode(
                F.expr(
                    "transform(sequence(1, length(text) - 2),"
                    " i -> substring(text, i, 3))"
                )
            ).alias("g"),
        )
    )
    # (source, trigram) counts: the one corpus-sized pass. Persisted —
    # the top-cut and the bucketed aggregate both read it; vocabulary is
    # charset-bounded so the relation stays tiny at any corpus size.
    tric = scratch_persist(
        tri.groupBy("source", "g").agg(F.count("*").cast("bigint").alias("c"))
    )
    top = (
        tric.groupBy("g")
        .agg(F.sum("c").alias("c"))
        .orderBy(F.desc("c"), F.asc("g"))
        .limit(_JSD_TOP)
        .select("g")
    )
    b = tric.join(
        F.broadcast(top.withColumn("hit", F.lit(1))), "g", "left"
    ).select(
        "source",
        F.expr("CASE WHEN hit IS NOT NULL THEN g ELSE '<OTHER>' END").alias(
            "bucket"
        ),
        "c",
    )
    ps = b.groupBy("source", "bucket").agg(
        F.sum("c").cast("bigint").alias("np")
    )
    qs = ps.groupBy("bucket").agg(F.sum("np").cast("bigint").alias("nq"))
    totp = ps.groupBy("source").agg(F.sum("np").cast("bigint").alias("tp"))
    totq = qs.agg(F.sum("nq").cast("bigint").alias("tq"))
    cells = (
        totp.crossJoin(F.broadcast(qs))
        .join(ps, ["source", "bucket"], "left")
        .crossJoin(F.broadcast(totq))
        .select(
            "source",
            "bucket",
            F.coalesce("np", F.lit(0).cast("bigint")).alias("np"),
            "tp",
            "nq",
            "tq",
        )
    )
    arr = cells.groupBy("source").agg(
        F.expr(
            "array_sort(collect_list(struct(bucket, np, tp, nq, tq)))"
        ).alias("xs")
    )
    term = (
        "0.5 * (CASE WHEN c.np > 0 THEN"
        " (CAST(c.np AS DOUBLE) / CAST(c.tp AS DOUBLE))"
        " * ln((CAST(c.np AS DOUBLE) / CAST(c.tp AS DOUBLE))"
        "      / (0.5 * (CAST(c.np AS DOUBLE) / CAST(c.tp AS DOUBLE))"
        "         + 0.5 * (CAST(c.nq AS DOUBLE) / CAST(c.tq AS DOUBLE))))"
        " ELSE CAST(0.0 AS DOUBLE) END)"
        " + 0.5 * (CASE WHEN c.nq > 0 THEN"
        " (CAST(c.nq AS DOUBLE) / CAST(c.tq AS DOUBLE))"
        " * ln((CAST(c.nq AS DOUBLE) / CAST(c.tq AS DOUBLE))"
        "      / (0.5 * (CAST(c.np AS DOUBLE) / CAST(c.tp AS DOUBLE))"
        "         + 0.5 * (CAST(c.nq AS DOUBLE) / CAST(c.tq AS DOUBLE))))"
        " ELSE CAST(0.0 AS DOUBLE) END)"
    )
    return arr.select(
        "source",
        F.round(
            F.expr(
                f"aggregate(transform(xs, c -> {term}),"
                " CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)"
            ),
            6,
        ).alias("jsd_nats"),
    )
