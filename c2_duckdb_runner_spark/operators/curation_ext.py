"""Round-3 curation/time-series extensions.

Seven operators a 100 TB training-data pipeline runs daily that the earlier
modules don't yet cover, reached by the reference only through its delegated
SQL slot (``main.cc:181-182``):

- Gopher REPETITION filters (top-bigram share, duplicated-trigram share) —
  the within-document twin of the cross-document dedup family;
- EWMA smoothing and integer-exact z-score anomaly flags over event
  telemetry (the monitoring layer every ingest pipeline bolts on);
- tokenizer vocabulary OOV coverage (is the tokenizer right for the
  corpus?);
- URL canonicalization dedup (the Common-Crawl-style pre-filter that runs
  BEFORE any content hash);
- nearest as-of join (completes the backward/forward as-of pair);
- embedding-norm outlier filtering (corrupted-vector quarantine before
  ANN/indexing).

Determinism discipline (SURVEY.md §7): ratios are integer ppm via ``div``;
float folds are index-ordered (``aggregate`` ≙ ``list_prepend``+
``list_reduce``) so both engines add in the same order; thresholds are
exact discrete percentiles on integers.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from c2_duckdb_runner_spark.operators.inference_ext import CENTS_SQL, cents
from c2_duckdb_runner_spark.registry import register
from c2_duckdb_runner_spark.tables import load, load_spread


@register(
    "text_repetition_ratio",
    oracle="""
WITH t AS (
  SELECT doc_id, string_split(text, ' ') AS t FROM documents
),
bg AS (
  SELECT doc_id, t[i] || ' ' || t[i+1] AS g
  FROM t CROSS JOIN UNNEST(range(1, greatest(len(t), 1))) AS u(i)
),
bgc AS (SELECT doc_id, g, COUNT(*) AS c FROM bg GROUP BY doc_id, g),
top AS (
  SELECT doc_id, g AS top_bigram, c AS top_bigram_n FROM (
    SELECT doc_id, g, c,
           ROW_NUMBER() OVER (PARTITION BY doc_id
                              ORDER BY c DESC, g DESC) AS rn
    FROM bgc
  ) WHERE rn = 1
),
bsum AS (
  SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_bigrams FROM bgc
  GROUP BY doc_id
),
tg AS (
  SELECT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS g
  FROM t CROSS JOIN UNNEST(range(1, greatest(len(t) - 1, 1))) AS u(i)
),
tgc AS (SELECT doc_id, g, COUNT(*) AS c FROM tg GROUP BY doc_id, g),
tsum AS (
  SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_trigrams,
         CAST(COALESCE(SUM(c) FILTER (WHERE c >= 2), 0) AS BIGINT)
           AS dup_tri_occ
  FROM tgc GROUP BY doc_id
)
SELECT top.doc_id AS doc_id, n_bigrams, top_bigram,
       CAST(top_bigram_n AS BIGINT) AS top_bigram_n,
       CAST(top_bigram_n * 1000000 // n_bigrams AS BIGINT)
         AS top_bigram_ppm,
       n_trigrams,
       CAST(dup_tri_occ * 1000000 // n_trigrams AS BIGINT)
         AS dup_trigram_ppm
FROM top JOIN bsum USING (doc_id) JOIN tsum USING (doc_id)
""",
)
def text_repetition_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition filters, the within-document complement of
    the dedup family: documents dominated by one repeated bigram
    (``top_bigram_ppm``) or by any duplicated trigram
    (``dup_trigram_ppm``) are boilerplate/spam and get dropped before
    training (Gopher rules drop top-2-gram share > 0.20, dup-3-gram share
    > 0.18).

    Shape: ONE token-array scan feeds both n-gram explodes (adjacent-pair
    zip — map-only, no self-join), each reduced per (doc, gram) then per
    doc; all three shuffles are doc_id-keyed so AQE coalesces them into
    the same partitioning. Per-doc gram counts are bounded by doc length —
    no corpus-wide state. Ratios are integer ppm (``div``), so both
    engines agree bit-for-bit; the top bigram tie-breaks on the gram
    string itself (max-of-struct ≙ ORDER BY c DESC, g DESC LIMIT 1)."""
    t = load_spread(spark, sf_dir, "documents", "doc_id").select(
        "doc_id", F.split("text", " ").alias("t")
    )
    bg = t.select(
        "doc_id",
        F.explode(
            F.arrays_zip(
                F.expr("slice(t, 1, greatest(size(t) - 1, 0))"),
                F.expr("slice(t, 2, greatest(size(t) - 1, 0))"),
            )
        ).alias("p"),
    ).select("doc_id", F.concat_ws(" ", "p.0", "p.1").alias("g"))
    bgc = bg.groupBy("doc_id", "g").agg(F.count("*").alias("c"))
    top = bgc.groupBy("doc_id").agg(
        F.max(F.struct("c", "g")).alias("m"),
        F.sum("c").cast("bigint").alias("n_bigrams"),
    )
    tg = t.select(
        "doc_id",
        F.explode(
            F.arrays_zip(
                F.expr("slice(t, 1, greatest(size(t) - 2, 0))"),
                F.expr("slice(t, 2, greatest(size(t) - 2, 0))"),
                F.expr("slice(t, 3, greatest(size(t) - 2, 0))"),
            )
        ).alias("p"),
    ).select("doc_id", F.concat_ws(" ", "p.0", "p.1", "p.2").alias("g"))
    tgc = tg.groupBy("doc_id", "g").agg(F.count("*").alias("c"))
    tsum = tgc.groupBy("doc_id").agg(
        F.sum("c").cast("bigint").alias("n_trigrams"),
        F.coalesce(F.sum(F.when(F.col("c") >= 2, F.col("c"))), F.lit(0))
        .cast("bigint")
        .alias("dup_tri_occ"),
    )
    return (
        top.join(tsum, "doc_id")
        .select(
            "doc_id",
            "n_bigrams",
            F.col("m.g").alias("top_bigram"),
            F.col("m.c").cast("bigint").alias("top_bigram_n"),
            F.expr("CAST(m.c * 1000000 div n_bigrams AS BIGINT)").alias(
                "top_bigram_ppm"
            ),
            "n_trigrams",
            F.expr("CAST(dup_tri_occ * 1000000 div n_trigrams AS BIGINT)").alias(
                "dup_trigram_ppm"
            ),
        )
    )


@register(
    "ts_ewma_smooth",
    oracle=f"""
WITH hr AS (
  SELECT event_type, epoch_ms(ts) // 3600000 AS h,
         SUM({CENTS_SQL.format('value')}) AS s, COUNT(*) AS n
  FROM events GROUP BY event_type, h
),
ser AS (
  SELECT event_type,
         list(CAST(s AS DOUBLE) / n ORDER BY h) AS xs,
         CAST(COUNT(*) AS BIGINT) AS n_hours,
         CAST(MIN(h) AS BIGINT) AS first_h, CAST(MAX(h) AS BIGINT) AS last_h
  FROM hr GROUP BY event_type
)
SELECT event_type, n_hours, first_h, last_h,
       list_reduce(xs, (a, b) -> (a + b) / 2) AS ewma_cents
FROM ser
""",
)
def ts_ewma_smooth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EWMA smoothing (α = 1/2) of the hourly mean event value per type —
    the standard telemetry smoother (s_i = (x_i + s_{i-1})/2, seeded with
    the first hour). α = 1/2 keeps every step a single add + exact
    halving, and the fold runs in hour order on BOTH engines (``aggregate``
    over a sorted array ≙ ``list_reduce`` over ``list(... ORDER BY h)``),
    so the resulting double is bit-identical — no rounding tax.

    Scale shape: the heavy reduction is the per-(type, hour) aggregate —
    map-side-combinable, one shuffle. The per-type hourly series is
    bounded by the time range (744 entries/month), i.e. per-GROUP state,
    never corpus state; the recursive smoother runs over that bounded
    array, which is exactly how you make an inherently sequential
    recurrence scale: reduce first, recurse over the reduced series.
    Hourly means are exact-integer cent sums divided once (bigint/bigint →
    one IEEE double op, same on both engines)."""
    hr = (
        load(spark, sf_dir, "events")
        .select(
            "event_type",
            F.expr("unix_millis(ts) div 3600000").alias("h"),
            cents("value").alias("cents"),
        )
        .groupBy("event_type", "h")
        .agg(F.sum("cents").alias("s"), F.count("*").alias("n"))
    )
    ser = hr.groupBy("event_type").agg(
        F.sort_array(
            F.collect_list(
                F.struct(
                    F.col("h"), (F.col("s").cast("double") / F.col("n")).alias("x")
                )
            )
        ).alias("arr"),
        F.count("*").cast("bigint").alias("n_hours"),
        F.min("h").cast("bigint").alias("first_h"),
        F.max("h").cast("bigint").alias("last_h"),
    )
    return ser.select(
        "event_type",
        "n_hours",
        "first_h",
        "last_h",
        F.expr(
            "aggregate(slice(arr, 2, size(arr) - 1), arr[0].x, "
            "(acc, s) -> (acc + s.x) / 2)"
        ).alias("ewma_cents"),
    )


@register(
    "ts_anomaly_zscore",
    oracle="""
WITH c AS (
  SELECT event_type, epoch_ms(ts) // 3600000 AS h, COUNT(*) AS c
  FROM events GROUP BY event_type, h
),
s AS (
  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(c) AS BIGINT) AS tot, CAST(SUM(c * c) AS BIGINT) AS sq
  FROM c GROUP BY event_type
)
SELECT c.event_type AS event_type, CAST(h AS BIGINT) AS h,
       CAST(c AS BIGINT) AS n_events,
       CAST(c * n - tot AS BIGINT) AS dev_n,
       ((c * n - tot) * (c * n - tot) > 4 * (n * sq - tot * tot))
         AS is_anomaly
FROM c JOIN s ON s.event_type = c.event_type
""",
)
def ts_anomaly_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type hourly event-count anomalies at |z| > 2 — computed ENTIRELY
    in integers, so the flag is exact on both engines: with n hours, total
    T = Σc and squares Q = Σc², the test (c − T/n)² > 4·σ² rearranges to
    (c·n − T)² > 4·(n·Q − T²) — no division, no float, no epsilon.

    Scale shape: counts reduce map-side to (type, hour); the per-type
    sufficient-statistics table is |types| rows and broadcasts back onto
    the hourly counts (joined small-side), so the fact stream shuffles
    once and the z-test itself is a codegen'd projection. This is the
    monitoring query every ingest pipeline runs on its telemetry — and the
    integer rearrangement is what makes it safely assertable in CI."""
    c = (
        load(spark, sf_dir, "events")
        .select("event_type", F.expr("unix_millis(ts) div 3600000").alias("h"))
        .groupBy("event_type", "h")
        .agg(F.count("*").alias("c"))
    )
    s = c.groupBy("event_type").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("c").cast("bigint").alias("tot"),
        F.sum(F.col("c") * F.col("c")).cast("bigint").alias("sq"),
    )
    return (
        c.join(F.broadcast(s), "event_type")
        .select(
            "event_type",
            F.col("h").cast("bigint").alias("h"),
            F.col("c").cast("bigint").alias("n_events"),
            (F.col("c") * F.col("n") - F.col("tot"))
            .cast("bigint")
            .alias("dev_n"),
            (
                (F.col("c") * F.col("n") - F.col("tot"))
                * (F.col("c") * F.col("n") - F.col("tot"))
                > 4 * (F.col("n") * F.col("sq") - F.col("tot") * F.col("tot"))
            ).alias("is_anomaly"),
        )
    )


@register(
    "tokenizer_vocab_coverage",
    oracle="""
WITH t AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
),
v AS (
  SELECT tok FROM (
    SELECT tok, COUNT(*) AS c FROM t GROUP BY tok
    ORDER BY c DESC, tok LIMIT 64
  )
)
SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
       CAST(SUM(CASE WHEN v.tok IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_oov,
       CAST(SUM(CASE WHEN v.tok IS NULL THEN 1 ELSE 0 END) * 1000000
            // COUNT(*) AS BIGINT) AS oov_ppm
FROM t LEFT JOIN v ON v.tok = t.tok
GROUP BY doc_id
""",
)
def tokenizer_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary coverage check — before committing a tokenizer to a 100 TB
    corpus you measure its OOV rate: here the vocab is the corpus's own
    top-64 tokens (count-desc, token-asc tie-break, so the cut is total-
    ordered and engine-stable) and each document reports its out-of-vocab
    token share in exact integer ppm.

    Shape: the token stream is scanned once into per-token counts (one
    map-side-combinable shuffle); the vocab cut is a 64-row TakeOrdered —
    driver-sized, like any real tokenizer vocab — which re-enters as a
    BROADCAST left join against the token stream (no second corpus
    shuffle beyond the per-doc rollup). Swapping the self-trained top-64
    for a real BPE vocab file changes only the broadcast side."""
    toks = load_spread(spark, sf_dir, "documents", "doc_id").select(
        "doc_id", F.explode(F.split("text", " ")).alias("tok")
    )
    vocab = (
        toks.groupBy("tok")
        .agg(F.count("*").alias("c"))
        .orderBy(F.desc("c"), "tok")
        .limit(64)
        .select("tok", F.lit(1).alias("iv"))
    )
    return (
        toks.join(F.broadcast(vocab), "tok", "left")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("bigint").alias("n_tokens"),
            F.sum(F.when(F.col("iv").isNull(), 1).otherwise(0))
            .cast("bigint")
            .alias("n_oov"),
        )
        .select(
            "doc_id",
            "n_tokens",
            "n_oov",
            F.expr("CAST(n_oov * 1000000 div n_tokens AS BIGINT)").alias(
                "oov_ppm"
            ),
        )
    )


# The raw-URL construction both engines share (fixture-by-construction, like
# fn_url_parse): deterministic per-doc variants exercising every
# canonicalization rule — uppercase hosts, explicit default port, trailing
# slash, utm_* tracking params, fragments.
_URL_BUILD_SQL = """
'https://'
|| CASE WHEN doc_id % 3 = 0 THEN upper(source) || '.EXAMPLE.com'
        ELSE source || '.example.com' END
|| CASE WHEN doc_id % 5 = 0 THEN ':443' ELSE '' END
|| '/docs/' || CAST(doc_id % 40 AS STRING)
|| CASE WHEN doc_id % 4 = 0 THEN '/' ELSE '' END
|| CASE WHEN doc_id % 2 = 0
        THEN '?utm_source=feed&utm_campaign=c' || CAST(doc_id % 3 AS STRING)
             || '&id=' || CAST(doc_id % 7 AS STRING)
        ELSE '?id=' || CAST(doc_id % 7 AS STRING) END
|| CASE WHEN doc_id % 6 = 0 THEN '#sec2' ELSE '' END
"""


@register(
    "dedup_url_canonical",
    oracle=f"""
WITH raw AS (
  SELECT doc_id,
         {_URL_BUILD_SQL.replace("AS STRING", "AS VARCHAR")} AS url
  FROM documents
),
step AS (
  SELECT doc_id, url,
         regexp_replace(
           regexp_replace(url, '#.*$', ''),
           'utm_[a-z]+=[^&]*&', '', 'g') AS u2
  FROM raw
),
canon AS (
  SELECT doc_id, url,
         regexp_replace(
           replace(lower(regexp_extract(u2, '^https://[^/]+')), ':443', '')
           || substr(u2, length(regexp_extract(u2, '^https://[^/]+')) + 1),
           '/\\?', '?') AS canonical_url
  FROM step
)
SELECT canonical_url, CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(COUNT(DISTINCT url) AS BIGINT) AS n_raw_forms,
       CAST(MIN(doc_id) AS BIGINT) AS keeper_doc_id
FROM canon GROUP BY canonical_url
""",
)
def dedup_url_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL canonicalization dedup — the Common-Crawl pre-filter that runs
    BEFORE any content hashing: lowercase the scheme+authority, drop the
    default :443 port, strip the fragment, strip utm_* tracking params,
    strip the trailing path slash, then keep one doc per canonical URL
    (min doc_id) and report how many raw spellings collapsed into it.

    Every rule is a built-in string/regexp expression (whole-stage
    codegen, zero Python), so the canonical form is a map-side projection;
    the only shuffle is the final canonical-key rollup — identical in
    shape to dedup_exact, just keyed on the canonical URL instead of a
    content hash. The raw URLs are constructed per doc (documented
    fixture-by-construction, same discipline as fn_url_parse) so each
    rule demonstrably fires: %3 uppercases the host, %5 adds :443, %4
    adds the trailing slash, %2 injects utm params, %6 a fragment."""
    raw = load(spark, sf_dir, "documents").selectExpr(
        "doc_id", f"({_URL_BUILD_SQL}) AS url"
    )
    step = raw.select(
        "doc_id",
        "url",
        F.regexp_replace(
            F.regexp_replace("url", "#.*$", ""), "utm_[a-z]+=[^&]*&", ""
        ).alias("u2"),
    )
    canon = step.select(
        "doc_id",
        "url",
        F.regexp_replace(
            F.concat(
                F.replace(
                    F.lower(F.regexp_extract("u2", "^https://[^/]+", 0)),
                    F.lit(":443"),
                    F.lit(""),
                ),
                F.expr(
                    "substr(u2, length(regexp_extract(u2, '^https://[^/]+', 0)) + 1)"
                ),
            ),
            r"/\?",
            "?",
        ).alias("canonical_url"),
    )
    return canon.groupBy("canonical_url").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.countDistinct("url").cast("bigint").alias("n_raw_forms"),
        F.min("doc_id").cast("bigint").alias("keeper_doc_id"),
    )


@register(
    "join_asof_nearest",
    oracle="""
WITH e AS (
  SELECT event_id, user_id, event_type, epoch_ms(ts) AS ms
  FROM events WHERE event_type IN ('click', 'error')
),
w AS (
  SELECT event_id, user_id, event_type, ms,
         last_value(CASE WHEN event_type = 'error' THEN ms END IGNORE NULLS)
           OVER (PARTITION BY user_id ORDER BY ms NULLS FIRST, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS prev_ms,
         first_value(CASE WHEN event_type = 'error' THEN ms END IGNORE NULLS)
           OVER (PARTITION BY user_id ORDER BY ms NULLS FIRST, event_id
                 ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS next_ms
  FROM e
)
SELECT event_id, user_id, ms AS click_ms, prev_ms, next_ms,
       CASE WHEN prev_ms IS NULL THEN next_ms
            WHEN next_ms IS NULL THEN prev_ms
            WHEN ms - prev_ms <= next_ms - ms THEN prev_ms
            ELSE next_ms END AS nearest_err_ms
FROM w WHERE event_type = 'click'
""",
)
def join_asof_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NEAREST as-of join — completes the as-of family (backward
    ``join_asof``, forward ``join_asof_forward``): each click matches the
    error closest in time for the same user, in EITHER direction, ties
    broken toward the earlier event. The sensor-fusion/attribution
    semantics neither directional variant gives you.

    Same scale shape as the other two: union the tagged streams, ONE
    (user_id)-keyed window pass computing both the carry-forward
    (last error at-or-before) and carry-backward (first error at-or-after)
    in the same sort, then a codegen'd CASE picks the closer side. No
    join node at all — the window IS the join — so the cost is one
    shuffle + one sort regardless of how many probes match each error."""
    e = (
        load(spark, sf_dir, "events")
        .filter(F.col("event_type").isin("click", "error"))
        .select(
            "event_id", "user_id", "event_type", F.expr("unix_millis(ts)").alias("ms")
        )
    )
    err_ms = F.when(F.col("event_type") == "error", F.col("ms"))
    w = Window.partitionBy("user_id").orderBy("ms", "event_id")
    wb = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    wf = w.rowsBetween(Window.currentRow, Window.unboundedFollowing)
    tagged = e.select(
        "event_id",
        "user_id",
        "event_type",
        "ms",
        F.last(err_ms, ignorenulls=True).over(wb).alias("prev_ms"),
        F.first(err_ms, ignorenulls=True).over(wf).alias("next_ms"),
    )
    clicks = tagged.filter(F.col("event_type") == "click")
    return clicks.select(
        "event_id",
        "user_id",
        F.col("ms").alias("click_ms"),
        "prev_ms",
        "next_ms",
        F.when(F.col("prev_ms").isNull(), F.col("next_ms"))
        .when(F.col("next_ms").isNull(), F.col("prev_ms"))
        .when(
            F.col("ms") - F.col("prev_ms") <= F.col("next_ms") - F.col("ms"),
            F.col("prev_ms"),
        )
        .otherwise(F.col("next_ms"))
        .alias("nearest_err_ms"),
    )


@register(
    "embed_norm_outlier",
    oracle="""
WITH sq AS (
  SELECT vec_id,
         CAST(floor(list_reduce(
           list_prepend(CAST(0.0 AS DOUBLE),
             list_transform(embedding,
               x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))),
           (a, b) -> a + b) * 1000000) AS BIGINT) AS sq_micro
  FROM embeddings
),
b AS (
  SELECT quantile_disc(sq_micro, 0.01) AS lo,
         quantile_disc(sq_micro, 0.99) AS hi
  FROM sq
)
SELECT vec_id, sq_micro,
       CAST(lo AS BIGINT) AS lo, CAST(hi AS BIGINT) AS hi,
       CASE WHEN sq_micro < lo THEN 'low' ELSE 'high' END AS side
FROM sq, b
WHERE sq_micro < lo OR sq_micro > hi
""",
)
def embed_norm_outlier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-norm outlier quarantine — corrupted/degenerate vectors
    (near-zero or blown-up L2 norm) poison ANN indexes and contrastive
    training, so pipelines fence them out before indexing. Flags vectors
    whose squared norm falls outside the corpus's exact [p1, p99].

    Determinism: ‖x‖² is an index-ordered fold (``aggregate`` ≙
    ``list_prepend`` + ``list_reduce``) → bit-identical doubles → floored
    to integer micro-units; the fences are exact DISCRETE percentiles on
    those integers (members of the data, no interpolation) so both
    engines cut identically. Scale shape: map-only norm pass, one
    percentile reduce to a single 2-field row, which re-enters broadcast
    (scalar-subquery pattern) — the corpus itself never shuffles and the
    output is only the outliers (~2%)."""
    sq = load_spread(spark, sf_dir, "embeddings", "vec_id").select(
        "vec_id",
        F.expr(
            "CAST(floor(aggregate(embedding, CAST(0.0 AS DOUBLE), "
            "(acc, x) -> acc + CAST(x AS DOUBLE) * CAST(x AS DOUBLE)) "
            "* 1000000) AS BIGINT)"
        ).alias("sq_micro"),
    )
    bounds = sq.agg(
        F.expr("percentile_disc(0.01) WITHIN GROUP (ORDER BY sq_micro)").alias("lo"),
        F.expr("percentile_disc(0.99) WITHIN GROUP (ORDER BY sq_micro)").alias("hi"),
    )
    return (
        sq.crossJoin(F.broadcast(bounds))
        .filter((F.col("sq_micro") < F.col("lo")) | (F.col("sq_micro") > F.col("hi")))
        .select(
            "vec_id",
            "sq_micro",
            F.col("lo").cast("bigint").alias("lo"),
            F.col("hi").cast("bigint").alias("hi"),
            F.when(F.col("sq_micro") < F.col("lo"), "low")
            .otherwise("high")
            .alias("side"),
        )
    )
