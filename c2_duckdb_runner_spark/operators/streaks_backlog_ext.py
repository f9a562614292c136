"""Round-4 closing extensions: engagement streaks, backlog aging,
tokenizer fertility.

- LONGEST ACTIVITY STREAK per user (consecutive active days) — the
  engagement metric product teams rank users by, via the classic
  dnum-minus-rownumber island key;
- BACKLOG AGING BUCKETS: open orders bucketed by age with value totals
  — the operations dashboard that pairs with the funnel/attribution
  family;
- TOKENIZER FERTILITY by language: characters per token — the metric
  that decides how many tokens a corpus will cost per byte, per
  language, before committing a tokenizer (multilingual fertility gaps
  are a standard pretraining-budget concern).

Reference reach: the delegated SQL slot (``main.cc:181-182``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from c2_duckdb_runner_spark.operators.inference_ext import CENTS_SQL, cents
from c2_duckdb_runner_spark.registry import fdoc, register
from c2_duckdb_runner_spark.tables import load

# ---------------------------------------------------------------------------
# window_streak_longest
# ---------------------------------------------------------------------------

_STREAK_TOP = 20


@register(
    "window_streak_longest",
    oracle=f"""
WITH ud AS (
  SELECT DISTINCT user_id,
         date_diff('day', DATE '1970-01-01', CAST(date_trunc('day', ts) AS DATE))
           AS dnum
  FROM events
),
keyed AS (
  SELECT user_id, dnum,
         dnum - ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY dnum)
           AS island
  FROM ud
),
streaks AS (
  SELECT user_id, CAST(COUNT(*) AS BIGINT) AS len
  FROM keyed GROUP BY user_id, island
),
per_user AS (
  SELECT s.user_id AS user_id, MAX(s.len) AS longest_streak,
         (SELECT CAST(COUNT(*) AS BIGINT) FROM ud WHERE ud.user_id = s.user_id)
           AS n_active_days
  FROM streaks s GROUP BY s.user_id
)
SELECT user_id, CAST(longest_streak AS BIGINT) AS longest_streak, n_active_days
FROM per_user ORDER BY longest_streak DESC, user_id LIMIT {_STREAK_TOP}
""",
)
@fdoc(f"""Longest consecutive-day activity streak per user, top-{_STREAK_TOP}:
    the dnum − ROW_NUMBER island key (consecutive days share a constant
    difference) groups each run of adjacent days without any lag/flag
    pass — one user-keyed window, one island count, one per-user max.
    The engagement-streak leaderboard every retention team ships.

    Epoch-day integers; total-ordered TakeOrdered selection. All windows
    and aggregates share the user keying.""")
def window_streak_longest(spark: SparkSession, sf_dir: str) -> DataFrame:
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
    keyed = ud.select(
        "user_id",
        "dnum",
        (F.col("dnum") - F.row_number().over(wu)).alias("island"),
    )
    streaks = keyed.groupBy("user_id", "island").agg(
        F.count("*").cast("bigint").alias("len")
    )
    active = ud.groupBy("user_id").agg(
        F.count("*").cast("bigint").alias("n_active_days")
    )
    per_user = streaks.groupBy("user_id").agg(
        F.max("len").cast("bigint").alias("longest_streak")
    )
    return (
        per_user.join(active, "user_id")
        .orderBy(F.col("longest_streak").desc(), "user_id")
        .limit(_STREAK_TOP)
        .select("user_id", "longest_streak", "n_active_days")
    )


# ---------------------------------------------------------------------------
# agg_backlog_aging_buckets
# ---------------------------------------------------------------------------


@register(
    "agg_backlog_aging_buckets",
    oracle=f"""
WITH anchor AS (SELECT MAX(o_orderdate) AS now FROM orders),
open_orders AS (
  SELECT o_orderstatus,
         date_diff('day', CAST(o_orderdate AS DATE), CAST(now AS DATE)) AS age,
         {CENTS_SQL.format('o_totalprice')} AS cents
  FROM orders CROSS JOIN anchor
  WHERE o_orderstatus <> 'F'
),
bucketed AS (
  SELECT o_orderstatus,
         CASE WHEN age <= 7 THEN '0-7d'
              WHEN age <= 30 THEN '8-30d'
              ELSE '31d+' END AS age_bucket,
         cents
  FROM open_orders
)
SELECT o_orderstatus, age_bucket,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(SUM(cents) AS BIGINT) AS backlog_cents
FROM bucketed GROUP BY o_orderstatus, age_bucket
""",
)
def agg_backlog_aging_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Backlog aging: open (non-finalized) orders bucketed by age against
    the newest order date, with counts and value per (status, bucket) —
    the receivables/fulfillment aging report, the operational sibling of
    alloc_fifo_waterfall. Fixed calendar buckets (≤7d, ≤30d, 31d+) keep
    the output catalog-sized; integer day and cent arithmetic keeps it
    exact.

    One scan with a broadcast 1-row anchor, one keyed aggregate with
    map-side partials; re-aggregates from daily partials at any scale."""
    o = load(spark, sf_dir, "orders")
    anchor = o.agg(F.max("o_orderdate").alias("now"))
    open_orders = (
        o.crossJoin(F.broadcast(anchor))
        .filter(F.col("o_orderstatus") != "F")
        .select(
            "o_orderstatus",
            F.expr(
                "datediff(CAST(now AS DATE), CAST(o_orderdate AS DATE))"
            ).alias("age"),
            cents("o_totalprice").alias("cents"),
        )
    )
    bucketed = open_orders.select(
        "o_orderstatus",
        F.when(F.col("age") <= 7, "0-7d")
        .when(F.col("age") <= 30, "8-30d")
        .otherwise("31d+")
        .alias("age_bucket"),
        "cents",
    )
    return bucketed.groupBy("o_orderstatus", "age_bucket").agg(
        F.count("*").cast("bigint").alias("n_orders"),
        F.sum("cents").cast("bigint").alias("backlog_cents"),
    )


# ---------------------------------------------------------------------------
# tokenizer_fertility_by_lang
# ---------------------------------------------------------------------------


@register(
    "tokenizer_fertility_by_lang",
    oracle="""
WITH t AS (
  SELECT lang, CAST(len(string_split(text, ' ')) AS BIGINT) AS toks,
         CAST(n_chars AS BIGINT) AS chars
  FROM documents
)
SELECT lang,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(toks) AS BIGINT) AS total_tokens,
       CAST(SUM(chars) AS BIGINT) AS total_chars,
       CAST((1000 * SUM(chars)) // SUM(toks) AS BIGINT)
         AS chars_per_token_milli
FROM t GROUP BY lang
""",
)
def tokenizer_fertility_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer fertility by language: characters per (whitespace) token
    in milli-units — the budgeting metric that says how many tokens a
    terabyte of each language will cost. Multilingual corpora routinely
    show 2-3× fertility gaps, which silently reweight a byte-balanced
    mixture; this report (next to corpus_dataset_card and
    tokenizer_vocab_coverage) is where that shows up before training.

    One scan, one language-keyed aggregate with map-side partials."""
    t = load(spark, sf_dir, "documents").select(
        "lang",
        F.expr("CAST(size(split(text, ' ')) AS BIGINT)").alias("toks"),
        F.col("n_chars").cast("bigint").alias("chars"),
    )
    return t.groupBy("lang").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum("toks").cast("bigint").alias("total_tokens"),
        F.sum("chars").cast("bigint").alias("total_chars"),
        F.expr("CAST((1000 * SUM(chars)) div SUM(toks) AS BIGINT)").alias(
            "chars_per_token_milli"
        ),
    )
