"""Round-3 behavioral-analytics extensions.

- event-sequence pattern matching — each user's ordered event stream
  rendered as a symbol string and probed with regexes: the lightweight
  MATCH_RECOGNIZE (flow-pattern mining, bot-signature detection) that
  works on any engine with regex support;
- RFM segmentation — the recency/frequency/monetary quintile scoring that
  every CRM/growth stack runs nightly.

Determinism: symbol strings are built by (ts, event_id)-ordered
aggregation; regex counts are integers; RFM quintiles are ntile over a
total order (metric, then user id) so bucket edges are engine-exact.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from c2_duckdb_runner_spark.operators.graph import _EDGES_SQL as _GRAPH_EDGES_SQL
from c2_duckdb_runner_spark.operators.inference_ext import CENTS_SQL, cents
from c2_duckdb_runner_spark.registry import register
from c2_duckdb_runner_spark.tables import load


@register(
    "sessions_pattern_regex",
    oracle="""
WITH s AS (
  SELECT user_id,
         string_agg(substring(event_type, 1, 1), '' ORDER BY ts, event_id)
           AS seq
  FROM events GROUP BY user_id
)
SELECT user_id, CAST(length(seq) AS BIGINT) AS n_events,
       CAST(length(regexp_replace(seq, 'v[^p]*c', '', 'g'))
            AS BIGINT) AS len_after_vc_strip,
       CAST(len(regexp_extract_all(seq, 'vc[^p]*p')) AS BIGINT)
         AS n_view_click_purchase,
       regexp_matches(seq, 'e.{0,2}e.{0,2}e') AS error_burst
FROM s
""",
)
def sessions_pattern_regex(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-SEQUENCE pattern matching — the lightweight MATCH_RECOGNIZE:
    each user's stream collapses to a symbol string (first letter of each
    event type, (ts, event_id)-ordered), and behavior patterns become
    regexes: `vc[^p]*p` counts view→click→eventual-purchase journeys,
    `e.{0,2}e.{0,2}e` flags error bursts (three errors within a
    five-event span — the bot/incident signature). This is how flow
    mining ships on engines without MATCH_RECOGNIZE, and the per-user
    string is bounded by the user's event count — per-group state.

    Shape: ONE user-keyed ordered aggregation builds the strings
    (string_agg ORDER BY ≙ sorted collect_list + array_join), then every
    pattern probe is a map-side regex — adding a new behavioral pattern
    costs zero additional passes. Counts are integers; the regexes avoid
    engine-specific syntax (character classes and bounded quantifiers
    only)."""
    s = (
        load(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(
            F.array_join(
                F.expr(
                    "transform(array_sort(collect_list(struct(ts, event_id, "
                    "substring(event_type, 1, 1) AS c))), x -> x.c)"
                ),
                "",
            ).alias("seq")
        )
    )
    return s.select(
        "user_id",
        F.length("seq").cast("bigint").alias("n_events"),
        F.length(F.regexp_replace("seq", "v[^p]*c", ""))
        .cast("bigint")
        .alias("len_after_vc_strip"),
        F.size(F.regexp_extract_all("seq", F.lit("vc[^p]*p"), 0))
        .cast("bigint")
        .alias("n_view_click_purchase"),
        F.col("seq").rlike("e.{0,2}e.{0,2}e").alias("error_burst"),
    )


@register(
    "agg_rfm_segmentation",
    oracle=f"""
WITH p AS (
  SELECT user_id,
         MAX(epoch_ms(ts) // 86400000) AS last_day,
         CAST(COUNT(*) AS BIGINT) AS freq,
         CAST(SUM({CENTS_SQL.format('value')}) AS BIGINT) AS cents
  FROM events WHERE event_type = 'purchase' GROUP BY user_id
),
mx AS (SELECT MAX(last_day) AS maxd FROM p),
rfm AS (
  SELECT user_id, CAST(maxd - last_day AS BIGINT) AS recency_days, freq,
         cents,
         NTILE(5) OVER (ORDER BY maxd - last_day ASC, user_id) AS r_score,
         NTILE(5) OVER (ORDER BY freq DESC, user_id) AS f_score,
         NTILE(5) OVER (ORDER BY cents DESC, user_id) AS m_score
  FROM p, mx
)
SELECT CAST(r_score AS BIGINT) AS r_score,
       CAST(f_score AS BIGINT) AS f_score,
       CAST(m_score AS BIGINT) AS m_score,
       CAST(COUNT(*) AS BIGINT) AS n_users,
       CAST(SUM(cents) AS BIGINT) AS segment_cents,
       CAST(MIN(recency_days) AS BIGINT) AS min_recency
FROM rfm GROUP BY r_score, f_score, m_score
""",
)
def agg_rfm_segmentation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation — the CRM/growth staple: score every purchaser
    1–5 on Recency (days since last purchase — fresher is better),
    Frequency, and Monetary value via quintiles, then report each of the
    ≤125 segments (whales = 111, churn-risk = 5xx…). Quintile edges are
    NTILE over a TOTAL order (metric, then user_id), so bucket membership
    is engine-exact — the detail that makes an RFM report reproducible
    across systems at all.

    Shape: one purchase reduce per user, a 1-row max-day broadcast, three
    ntile windows (global sorts over the USER table — already reduced,
    |users| ≪ |events|; at larger scale these become range-partitioned
    sorts), and a ≤125-key rollup. All integers (days, counts, cents)."""
    p = (
        load(spark, sf_dir, "events")
        .filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(
            F.expr("MAX(unix_millis(ts) div 86400000)").alias("last_day"),
            F.count("*").cast("bigint").alias("freq"),
            F.sum(cents("value"))
            .cast("bigint")
            .alias("cents"),
        )
    )
    mx = p.agg(F.max("last_day").alias("maxd"))
    rfm = (
        p.crossJoin(F.broadcast(mx))
        .withColumn("recency_days", (F.col("maxd") - F.col("last_day")).cast("bigint"))
        .withColumn(
            "r_score",
            F.ntile(5).over(Window.orderBy(F.asc("recency_days"), F.asc("user_id"))),
        )
        .withColumn(
            "f_score",
            F.ntile(5).over(Window.orderBy(F.desc("freq"), F.asc("user_id"))),
        )
        .withColumn(
            "m_score",
            F.ntile(5).over(Window.orderBy(F.desc("cents"), F.asc("user_id"))),
        )
    )
    return rfm.groupBy("r_score", "f_score", "m_score").agg(
        F.count("*").cast("bigint").alias("n_users"),
        F.sum("cents").cast("bigint").alias("segment_cents"),
        F.min("recency_days").cast("bigint").alias("min_recency"),
    ).select(
        F.col("r_score").cast("bigint").alias("r_score"),
        F.col("f_score").cast("bigint").alias("f_score"),
        F.col("m_score").cast("bigint").alias("m_score"),
        "n_users",
        "segment_cents",
        "min_recency",
    )


@register(
    "graph_degree_assortativity",
    oracle=f"""
WITH edges AS (
{_GRAPH_EDGES_SQL}
),
deg AS (SELECT src AS node, CAST(COUNT(*) AS BIGINT) AS d FROM edges GROUP BY src),
pairs AS (
  SELECT ds.d AS x, dd.d AS y
  FROM edges JOIN deg ds ON ds.node = edges.src
             JOIN deg dd ON dd.node = edges.dst
),
s AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
         CAST(SUM(x * y) AS BIGINT) AS sxy,
         CAST(SUM(x * x) AS BIGINT) AS sxx,
         CAST(SUM(y * y) AS BIGINT) AS syy
  FROM pairs
)
SELECT n, sx, sxy,
       ROUND((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
              - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) /
             (sqrt(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                   - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
              * sqrt(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                     - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))), 6)
         AS assortativity
FROM s
""",
)
def graph_degree_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree assortativity — do well-connected nodes attach to other
    well-connected nodes (r > 0, social-network style) or to leaves
    (r < 0, hub-and-spoke style)? The one-number topology summary
    (Newman's r = Pearson correlation of endpoint degrees over edges)
    that tells you whether skew mitigation will matter: disassortative
    graphs concentrate traffic through hubs.

    Exactness: degrees are integers, so ALL five sufficient statistics
    are exact int64 sums (no decimal routing needed — cheaper than the
    general corr path); only the final r is floating. The Pearson
    combination (n·sxx − sx², …) itself runs in DOUBLE with an identical
    operation order on both engines: the INTEGER form overflowed int64
    at the 10x replica (n·sxx ≈ 1.5·10¹⁹ — caught by the round-6
    CORRECTNESS_sf1 sweep; DuckDB's checked arithmetic trapped where
    Spark wrapped silently). Shape: one degree reduce, two keyed joins
    decorating each directed edge with endpoint degrees (the symmetrized
    edge list counts each undirected edge in both directions — the
    standard convention), one global sufficient-stats reduce."""
    from c2_duckdb_runner_spark.operators.graph import _edges

    edges = _edges(spark, sf_dir)
    deg = edges.groupBy("src").agg(F.count("*").cast("bigint").alias("d"))
    pairs = (
        edges.join(deg.select(F.col("src"), F.col("d").alias("x")), "src")
        .join(
            deg.select(F.col("src").alias("dst"), F.col("d").alias("y")), "dst"
        )
        .select("x", "y")
    )
    s = pairs.agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast("bigint").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast("bigint").alias("sxx"),
        F.sum(F.col("y") * F.col("y")).cast("bigint").alias("syy"),
    )
    r = F.expr(
        "(CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)"
        " - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) /"
        " (sqrt(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)"
        "  - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))"
        " * sqrt(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)"
        "  - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))"
    )
    return s.select("n", "sx", "sxy", F.round(r, 6).alias("assortativity"))
