"""Round-4 rolling-actives / cross-source-contamination / conversion-time
extensions.

- ROLLING 7-DAY ACTIVE USERS by interval deltas — the MAU/WAU algorithm
  that scales: instead of a distinct-count per day over a trailing
  window (which re-reads 7 days of users per day), each user's activity
  compresses into coverage intervals (+1/−1 deltas) and the daily curve
  is one prefix sum over the bounded day spine;
- CROSS-SOURCE DUPLICATION MATRIX: which source pairs share document
  head-fingerprints — the inter-source contamination report a mixture
  builder checks before weighting sources as if independent;
- TIME-TO-CONVERT MEDIAN per first-touch channel — the funnel-latency
  statistic (exact lower median by position) next to the conversion
  funnels.

Reference reach: the delegated SQL slot (``main.cc:181-182``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from c2_duckdb_runner_spark.registry import fdoc, register
from c2_duckdb_runner_spark.tables import load

# ---------------------------------------------------------------------------
# agg_rolling_wau_delta
# ---------------------------------------------------------------------------

_WAU_WINDOW = 7  # trailing-window days


@register(
    "agg_rolling_wau_delta",
    oracle=f"""
WITH ud AS (
  SELECT DISTINCT user_id,
         date_diff('day', DATE '1970-01-01', CAST(date_trunc('day', ts) AS DATE))
           AS dnum
  FROM events
),
flagged AS (
  SELECT user_id, dnum,
         CASE WHEN dnum - LAG(dnum) OVER (PARTITION BY user_id ORDER BY dnum)
                   > {_WAU_WINDOW - 1} OR
                   LAG(dnum) OVER (PARTITION BY user_id ORDER BY dnum) IS NULL
              THEN 1 ELSE 0 END AS brk
  FROM ud
),
islands AS (
  SELECT user_id, dnum,
         SUM(brk) OVER (PARTITION BY user_id ORDER BY dnum
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS isl
  FROM flagged
),
iv AS (
  SELECT user_id, MIN(dnum) AS s, MAX(dnum) + {_WAU_WINDOW - 1} AS e
  FROM islands GROUP BY user_id, isl
),
deltas AS (
  SELECT s AS dnum, 1 AS delta FROM iv
  UNION ALL
  SELECT e + 1, -1 FROM iv
),
dsum AS (SELECT dnum, CAST(SUM(delta) AS BIGINT) AS d FROM deltas GROUP BY dnum),
bounds AS (SELECT MIN(dnum) AS lo, MAX(dnum) AS hi FROM ud),
spine AS (
  SELECT unnest(range(lo, hi + 1)) AS dnum FROM bounds
),
curve AS (
  SELECT spine.dnum AS dnum,
         CAST(SUM(COALESCE(dsum.d, 0)) OVER (ORDER BY spine.dnum
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS wau
  FROM spine LEFT JOIN dsum ON spine.dnum = dsum.dnum
)
SELECT CAST(dnum * 86400000 AS BIGINT) AS day_ms, wau FROM curve
""",
)
@fdoc(f"""Trailing-{_WAU_WINDOW}-day active users, the delta-encoding way: a
    user active on day d counts toward days [d, d+{_WAU_WINDOW - 1}], so
    merge each user's activity days into coverage intervals (new island
    when the gap exceeds the window), emit +1/−1 at interval edges, and
    prefix-sum the deltas along the day spine. The naive form — one
    COUNT(DISTINCT user) per day over a trailing window — re-aggregates
    every user {_WAU_WINDOW} times and can't use map-side partials; the
    delta form touches each user-day once and the only ordered pass runs
    over the BOUNDED day spine (epoch-day integers).

    One user-keyed window pass builds the islands; the spine prefix sum
    is over calendar days, not users. Exact at any corpus size.""")
def agg_rolling_wau_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    ud = (
        load(spark, sf_dir, "events")
        .select(
            "user_id",
            F.expr(
                "datediff(CAST(date_trunc('day', ts) AS DATE), DATE '1970-01-01')"
            ).alias("dnum"),
        )
        .distinct()
    )
    wu = Window.partitionBy("user_id").orderBy("dnum")
    flagged = ud.select(
        "user_id",
        "dnum",
        F.when(
            F.lag("dnum").over(wu).isNull()
            | (F.col("dnum") - F.lag("dnum").over(wu) > _WAU_WINDOW - 1),
            1,
        )
        .otherwise(0)
        .alias("brk"),
    )
    islands = flagged.select(
        "user_id",
        "dnum",
        F.sum("brk").over(wu.rowsBetween(Window.unboundedPreceding, 0)).alias("isl"),
    )
    iv = islands.groupBy("user_id", "isl").agg(
        F.min("dnum").alias("s"),
        (F.max("dnum") + (_WAU_WINDOW - 1)).alias("e"),
    )
    deltas = iv.select(F.col("s").alias("dnum"), F.lit(1).alias("delta")).unionByName(
        iv.select((F.col("e") + 1).alias("dnum"), F.lit(-1).alias("delta"))
    )
    dsum = deltas.groupBy("dnum").agg(F.sum("delta").cast("bigint").alias("d"))
    bounds = ud.agg(F.min("dnum").alias("lo"), F.max("dnum").alias("hi"))
    spine = bounds.select(
        F.explode(F.expr("sequence(lo, hi)")).alias("dnum")
    )
    curve = (
        spine.join(dsum, "dnum", "left")
        .select("dnum", F.coalesce(F.col("d"), F.lit(0)).alias("d"))
        .select(
            "dnum",
            F.sum("d")
            .over(Window.orderBy("dnum").rowsBetween(Window.unboundedPreceding, 0))
            .cast("bigint")
            .alias("wau"),
        )
    )
    return curve.select(
        (F.col("dnum").cast("bigint") * 86400000).alias("day_ms"), "wau"
    )


# ---------------------------------------------------------------------------
# dedup_cross_source_matrix
# ---------------------------------------------------------------------------

_XS_HEAD_TOKENS = 8


@register(
    "dedup_cross_source_matrix",
    oracle=f"""
WITH h AS (
  SELECT DISTINCT
         md5(array_to_string(string_split(text, ' ')[1:{_XS_HEAD_TOKENS}], ' '))
           AS hh,
         source
  FROM documents
)
SELECT a.source AS source_a, b.source AS source_b,
       CAST(COUNT(*) AS BIGINT) AS shared_fingerprints
FROM h a JOIN h b ON a.hh = b.hh AND a.source < b.source
GROUP BY a.source, b.source
""",
)
@fdoc(f"""Cross-source contamination matrix: source pairs sharing document
    head-fingerprints (md5 of the first {_XS_HEAD_TOKENS} tokens — the
    cheap screen dedup_incremental_batch also leads with). A mixture
    that weights two heavily-overlapping sources as independent
    double-counts their shared documents; this report is the check that
    catches it, at fingerprint (not pair-of-docs) granularity.

    Scale shape: the (fingerprint, source) relation is DISTINCT-collapsed
    FIRST, so the self-join fans out per fingerprint only over the
    sources that share it — bounded by the source count, never the
    duplicate multiplicity. One hash shuffle, one keyed count.""")
def dedup_cross_source_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    h = (
        load(spark, sf_dir, "documents")
        .select(
            F.expr(
                f"md5(array_join(slice(split(text, ' '), 1, {_XS_HEAD_TOKENS}), ' '))"
            ).alias("hh"),
            "source",
        )
        .distinct()
    )
    a, b = h.alias("a"), h.alias("b")
    return (
        a.join(b, (F.col("a.hh") == F.col("b.hh")) & (F.col("a.source") < F.col("b.source")))
        .groupBy(
            F.col("a.source").alias("source_a"), F.col("b.source").alias("source_b")
        )
        .agg(F.count("*").cast("bigint").alias("shared_fingerprints"))
    )


# ---------------------------------------------------------------------------
# funnel_time_to_convert_median
# ---------------------------------------------------------------------------


@register(
    "funnel_time_to_convert_median",
    oracle="""
WITH u AS (
  SELECT user_id,
         MIN(CASE WHEN event_type = 'view' THEN ts END) AS tv,
         MIN(CASE WHEN event_type = 'purchase' THEN ts END) AS tp,
         MIN(ts) AS t0
  FROM events GROUP BY user_id
),
first_ch AS (
  SELECT e.user_id, MIN(e.event_type) AS channel
  FROM events e JOIN u ON e.user_id = u.user_id AND e.ts = u.t0
  GROUP BY e.user_id
),
conv AS (
  SELECT first_ch.channel, u.user_id,
         (epoch_ms(u.tp) - epoch_ms(u.tv)) // 60000 AS mins
  FROM u JOIN first_ch ON u.user_id = first_ch.user_id
  WHERE u.tv IS NOT NULL AND u.tp IS NOT NULL AND u.tp > u.tv
),
ranked AS (
  SELECT channel, mins,
         ROW_NUMBER() OVER (PARTITION BY channel ORDER BY mins) AS rn,
         COUNT(*) OVER (PARTITION BY channel) AS n
  FROM conv
)
SELECT channel, CAST(n AS BIGINT) AS n_users,
       CAST(mins AS BIGINT) AS median_minutes
FROM ranked WHERE rn = (n + 1) // 2
""",
)
def funnel_time_to_convert_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-to-convert: minutes from a user's first view to their first
    later purchase, with the EXACT lower median per first-touch channel
    (ties in the first event break to the alphabetically-smallest type,
    identically in both engines). The latency companion to the funnel
    counts — two funnels with equal conversion can hide a 10× gap here.

    One user-keyed aggregate carries all three anchor timestamps; the
    first-touch channel resolves against the user's min-timestamp event;
    the median is an order statistic by position over each channel's
    converter set (channel-partitioned window). Epoch-millisecond
    integer arithmetic throughout."""
    ev = load(spark, sf_dir, "events")
    u = ev.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "view", F.col("ts"))).alias("tv"),
        F.min(F.when(F.col("event_type") == "purchase", F.col("ts"))).alias("tp"),
        F.min("ts").alias("t0"),
    )
    first_ch = (
        ev.join(u.select("user_id", "t0"), "user_id")
        .filter(F.col("ts") == F.col("t0"))
        .groupBy("user_id")
        .agg(F.min("event_type").alias("channel"))
    )
    conv = (
        u.join(first_ch, "user_id")
        .filter(
            F.col("tv").isNotNull()
            & F.col("tp").isNotNull()
            & (F.col("tp") > F.col("tv"))
        )
        .select(
            "channel",
            F.expr("(unix_millis(tp) - unix_millis(tv)) div 60000").alias("mins"),
        )
    )
    wc = Window.partitionBy("channel")
    ranked = conv.select(
        "channel",
        "mins",
        F.row_number().over(wc.orderBy("mins")).alias("rn"),
        F.count("*").over(wc).alias("n"),
    )
    return ranked.filter(F.col("rn") == F.expr("(n + 1) div 2")).select(
        "channel",
        F.col("n").cast("bigint").alias("n_users"),
        F.col("mins").cast("bigint").alias("median_minutes"),
    )
