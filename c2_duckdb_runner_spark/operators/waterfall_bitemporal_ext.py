"""Round-4 finance-allocation / classifier-eval / robust-smoothing /
bitemporal extensions.

- FIFO PAYMENT WATERFALL: apply each customer's payment pool against
  their invoices oldest-first — the receivables-application primitive,
  expressed as one prefix-sum window with clamp arithmetic instead of a
  loop over invoices;
- CONFUSION MATRIX for the language-ID classifier — the classification
  eval staple (next to eval_decile_lift_table and search_ndcg_eval):
  text_langid_ngram's predictions against the labeled lang column, with
  per-class precision/recall as exact micro-ratios;
- SLIDING MEDIAN smoother over the daily series — the robust median
  filter (order statistics inside a 7-row frame) that a moving average
  can't replicate under outlier days;
- BITEMPORAL AS-WAS vs AS-IS: the two-timeline warehouse query — what
  did the order total LOOK LIKE at audit time (as-was) vs what is it
  after corrections (as-is) — over a correction feed, resolved with one
  window per timeline, no self-join.

Reference reach: the delegated SQL slot (``main.cc:181-182``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from c2_duckdb_runner_spark.operators.textanalysis import _hits_duck, _hits_spark
from c2_duckdb_runner_spark.operators.inference_ext import (
    CENTS_SQL,
    DAILY_MILLI_SQL,
    cents,
    daily_milli,
)
from c2_duckdb_runner_spark.registry import register
from c2_duckdb_runner_spark.tables import load

# ---------------------------------------------------------------------------
# alloc_fifo_waterfall
# ---------------------------------------------------------------------------


@register(
    "alloc_fifo_waterfall",
    oracle=f"""
WITH inv AS (
  SELECT o_custkey, o_orderkey,
         {CENTS_SQL.format('o_totalprice')} AS amt,
         o_orderdate
  FROM orders
),
pool AS (
  SELECT o_custkey, (8 * CAST(SUM(amt) AS BIGINT)) // 10 AS pay
  FROM inv GROUP BY o_custkey
),
run AS (
  SELECT inv.o_custkey, o_orderkey, amt, pay,
         CAST(COALESCE(SUM(amt) OVER (PARTITION BY inv.o_custkey
           ORDER BY o_orderdate, o_orderkey
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
           AS before
  FROM inv JOIN pool ON inv.o_custkey = pool.o_custkey
),
applied AS (
  SELECT o_custkey, o_orderkey, amt,
         LEAST(amt, GREATEST(pay - before, 0)) AS paid
  FROM run
)
SELECT o_custkey,
       CAST(COUNT(*) AS BIGINT) AS n_invoices,
       CAST(SUM(CASE WHEN paid = amt THEN 1 ELSE 0 END) AS BIGINT) AS n_paid_full,
       CAST(SUM(CASE WHEN paid > 0 AND paid < amt THEN 1 ELSE 0 END) AS BIGINT)
         AS n_partial,
       CAST(SUM(paid) AS BIGINT) AS applied_cents,
       CAST(SUM(amt - paid) AS BIGINT) AS outstanding_cents
FROM applied GROUP BY o_custkey
""",
)
def alloc_fifo_waterfall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FIFO payment waterfall: each customer's payment pool (80% of their
    total, integral) applies against invoices oldest-first. The loop
    "pay invoice, decrement pool, move to next" collapses into pure
    window arithmetic — paid_i = clamp(pool − Σ earlier amounts, 0,
    amount_i) — because FIFO application is exactly a prefix sum: one
    ordered window per customer, no iteration, no self-join. Integer
    cents throughout; per-customer rollup reports full/partial splits
    and the outstanding balance (which reconciles: applied ≤ pool,
    applied + outstanding = total).

    Scale shape: the prefix-sum window and both aggregates share the
    customer keying — one shuffle end to end, each customer's waterfall
    independent."""
    inv = load(spark, sf_dir, "orders").select(
        "o_custkey",
        "o_orderkey",
        cents("o_totalprice").alias("amt"),
        "o_orderdate",
    )
    pool = inv.groupBy("o_custkey").agg(
        F.expr("(8 * CAST(SUM(amt) AS BIGINT)) div 10").alias("pay")
    )
    wprev = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    run = inv.join(pool, "o_custkey").select(
        "o_custkey",
        "o_orderkey",
        "amt",
        "pay",
        F.coalesce(F.sum("amt").over(wprev), F.lit(0)).cast("bigint").alias("before"),
    )
    applied = run.select(
        "o_custkey",
        "amt",
        F.least(
            F.col("amt"), F.greatest(F.col("pay") - F.col("before"), F.lit(0))
        ).alias("paid"),
    )
    return applied.groupBy("o_custkey").agg(
        F.count("*").cast("bigint").alias("n_invoices"),
        F.sum(F.when(F.col("paid") == F.col("amt"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_paid_full"),
        F.sum(
            F.when((F.col("paid") > 0) & (F.col("paid") < F.col("amt")), 1).otherwise(
                0
            )
        )
        .cast("bigint")
        .alias("n_partial"),
        F.sum("paid").cast("bigint").alias("applied_cents"),
        F.sum(F.col("amt") - F.col("paid")).cast("bigint").alias("outstanding_cents"),
    )


# ---------------------------------------------------------------------------
# eval_confusion_matrix_langid
# ---------------------------------------------------------------------------


@register(
    "eval_confusion_matrix_langid",
    oracle=f"""
WITH t AS (SELECT doc_id, lang, string_split(text, ' ') AS toks FROM documents),
s AS (
  SELECT doc_id, lang,
         {_hits_duck('en')} AS h_en,
         {_hits_duck('de')} AS h_de,
         {_hits_duck('fr')} AS h_fr
  FROM t
),
pred AS (
  SELECT CASE WHEN lang IN ('en', 'de', 'fr') THEN lang ELSE 'other' END
           AS true_lang,
         CASE WHEN h_en >= h_de AND h_en >= h_fr THEN 'en'
              WHEN h_de >= h_fr THEN 'de' ELSE 'fr' END AS pred_lang
  FROM s
),
cm AS (
  SELECT true_lang, pred_lang, CAST(COUNT(*) AS BIGINT) AS n
  FROM pred GROUP BY true_lang, pred_lang
)
SELECT true_lang, pred_lang, n,
       CAST((1000000 * n) //
            CAST(SUM(n) OVER (PARTITION BY true_lang) AS BIGINT) AS BIGINT)
         AS recall_share_micro,
       CAST((1000000 * n) //
            CAST(SUM(n) OVER (PARTITION BY pred_lang) AS BIGINT) AS BIGINT)
         AS precision_share_micro
FROM cm
""",
)
def eval_confusion_matrix_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Confusion matrix for text_langid_ngram against the labeled lang
    column (labels outside the classifier's 3-profile head fold to
    'other'): each (true, predicted) cell carries its count plus its
    share of the true-class row (the recall decomposition) and of the
    predicted-class column (the precision decomposition), as exact
    micro-ratios. Reuses the SAME stopword-profile scorer the classifier
    registers (cites textanalysis.py:56-70), so this is a genuine eval
    of the shipped model, not a reimplementation.

    Scale shape: one scan scores and classifies map-side, one keyed
    aggregate builds the k×3 cell table, and the marginal windows run
    over those cells — never the corpus."""
    d = load(spark, sf_dir, "documents").withColumn("toks", F.split("text", " "))
    s = d.select(
        "lang",
        _hits_spark("en").alias("h_en"),
        _hits_spark("de").alias("h_de"),
        _hits_spark("fr").alias("h_fr"),
    )
    pred = s.select(
        F.when(F.col("lang").isin("en", "de", "fr"), F.col("lang"))
        .otherwise("other")
        .alias("true_lang"),
        F.when(
            (F.col("h_en") >= F.col("h_de")) & (F.col("h_en") >= F.col("h_fr")),
            "en",
        )
        .when(F.col("h_de") >= F.col("h_fr"), "de")
        .otherwise("fr")
        .alias("pred_lang"),
    )
    cm = pred.groupBy("true_lang", "pred_lang").agg(
        F.count("*").cast("bigint").alias("n")
    )
    return cm.select(
        "true_lang",
        "pred_lang",
        "n",
        F.expr(
            "CAST((1000000 * n) div"
            " CAST(SUM(n) OVER (PARTITION BY true_lang) AS BIGINT) AS BIGINT)"
        ).alias("recall_share_micro"),
        F.expr(
            "CAST((1000000 * n) div"
            " CAST(SUM(n) OVER (PARTITION BY pred_lang) AS BIGINT) AS BIGINT)"
        ).alias("precision_share_micro"),
    )


# ---------------------------------------------------------------------------
# ts_sliding_median_smooth
# ---------------------------------------------------------------------------


@register(
    "ts_sliding_median_smooth",
    oracle=f"""
WITH daily AS ({DAILY_MILLI_SQL}),
fr AS (
  SELECT event_type, d, x,
         list_sort(list(x) OVER (PARTITION BY event_type ORDER BY d
           ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)) AS win
  FROM daily
)
SELECT event_type, strftime(d, '%Y-%m-%d') AS d, x AS x_milli,
       CAST(win[(len(win) + 1) // 2] AS BIGINT) AS median_milli,
       CAST(x - win[(len(win) + 1) // 2] AS BIGINT) AS residual_milli
FROM fr
""",
)
def ts_sliding_median_smooth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding median filter over the daily series (7-day centered
    window): the ROBUST smoother — one outlier day shifts a moving
    average by outlier/7 but leaves the windowed median untouched, which
    is why median filters precede changepoint detectors in production
    monitoring. The frame's values collect into a per-row array (≤ 7
    elements, shorter at the series edges), sort, and take the lower
    median by position — exact integer milli-units, bit-identical
    cross-engine.

    Scale shape: one keyed rollup + one per-key ordered window whose
    state is a bounded 7-element frame; constant work per key."""
    daily = daily_milli(spark, sf_dir)
    w7 = Window.partitionBy("event_type").orderBy("d").rowsBetween(-3, 3)
    fr = daily.select(
        "event_type",
        "d",
        "x",
        F.sort_array(F.collect_list("x").over(w7)).alias("win"),
    )
    return fr.select(
        "event_type",
        F.date_format("d", "yyyy-MM-dd").alias("d"),
        F.col("x").alias("x_milli"),
        F.expr("CAST(element_at(win, CAST((size(win) + 1) div 2 AS INT)) AS BIGINT)").alias(
            "median_milli"
        ),
        F.expr(
            "CAST(x - element_at(win, CAST((size(win) + 1) div 2 AS INT)) AS BIGINT)"
        ).alias("residual_milli"),
    )


# ---------------------------------------------------------------------------
# join_bitemporal_asof_aswas
# ---------------------------------------------------------------------------


@register(
    "join_bitemporal_asof_aswas",
    oracle=f"""
WITH versions AS (
  -- synthetic correction feed: every 4th order gets a +5% restatement
  -- recorded 10 days after the order (transaction time), retroactively
  -- effective at the order date (valid time)
  SELECT o_orderkey, o_custkey,
         {CENTS_SQL.format('o_totalprice')} AS amt,
         o_orderdate AS valid_from, o_orderdate AS tx_from, 0 AS version
  FROM orders
  UNION ALL
  SELECT o_orderkey, o_custkey,
         ({CENTS_SQL.format('o_totalprice')} * 105) // 100,
         o_orderdate, o_orderdate + INTERVAL 10 DAY, 1
  FROM orders WHERE o_orderkey % 4 = 0
),
audit AS (SELECT MIN(o_orderdate) + INTERVAL 20 DAY AS audit_ts FROM orders),
pick AS (
  SELECT v.o_orderkey, v.o_custkey, v.amt, v.version, v.tx_from, audit_ts,
         ROW_NUMBER() OVER (PARTITION BY v.o_orderkey
           ORDER BY CASE WHEN v.tx_from <= audit_ts THEN 1 ELSE 0 END DESC,
                    v.version DESC) AS rn_aswas,
         ROW_NUMBER() OVER (PARTITION BY v.o_orderkey
           ORDER BY v.version DESC) AS rn_asis
  FROM versions v CROSS JOIN audit
),
aswas AS (
  SELECT o_orderkey, o_custkey, amt AS amt_aswas
  FROM pick WHERE rn_aswas = 1 AND tx_from <= audit_ts
),
asis AS (SELECT o_orderkey, amt AS amt_asis FROM pick WHERE rn_asis = 1)
SELECT aswas.o_custkey AS o_custkey,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(SUM(amt_aswas) AS BIGINT) AS total_aswas_cents,
       CAST(SUM(amt_asis) AS BIGINT) AS total_asis_cents,
       CAST(SUM(amt_asis - amt_aswas) AS BIGINT) AS restatement_cents
FROM aswas JOIN asis ON aswas.o_orderkey = asis.o_orderkey
GROUP BY aswas.o_custkey
""",
)
def join_bitemporal_asof_aswas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bitemporal as-was vs as-is: a correction feed (every 4th order
    restated +5%, recorded 10 days later but retroactively effective)
    gives each order two timelines — what the books SHOWED at the audit
    timestamp (as-was: latest version whose transaction time had already
    arrived) and what they show NOW (as-is: latest version, full stop).
    The per-customer restatement column is the difference auditors
    actually ask for. Complements cdc_scd2_merge (one timeline) and
    join_point_in_time_version (valid-time only) with the
    two-timeline semantics.

    Both picks are ONE window each over the order's version set (no
    range join, no self-join): as-was orders by (arrived-by-audit,
    version) so a not-yet-recorded correction loses to the original.
    Integer cents; the synthetic feed is deterministic so both engines
    build identical version sets."""
    o = load(spark, sf_dir, "orders")
    base = o.select(
        "o_orderkey",
        "o_custkey",
        cents("o_totalprice").alias("amt"),
        F.col("o_orderdate").alias("valid_from"),
        F.col("o_orderdate").alias("tx_from"),
        F.lit(0).alias("version"),
    )
    corr = o.filter(F.col("o_orderkey") % 4 == 0).select(
        "o_orderkey",
        "o_custkey",
        cents("o_totalprice").alias("amt"),
        F.col("o_orderdate").alias("valid_from"),
        (F.col("o_orderdate") + F.expr("INTERVAL 10 DAYS")).alias("tx_from"),
        F.lit(1).alias("version"),
    ).withColumn("amt", F.expr("(amt * 105) div 100"))
    versions = base.unionByName(corr)
    audit = o.agg(
        (F.min("o_orderdate") + F.expr("INTERVAL 20 DAYS")).alias("audit_ts")
    )
    v = versions.crossJoin(F.broadcast(audit))
    wk = Window.partitionBy("o_orderkey")
    pick = v.select(
        "o_orderkey",
        "o_custkey",
        "amt",
        "tx_from",
        "audit_ts",
        F.row_number()
        .over(
            wk.orderBy(
                F.when(F.col("tx_from") <= F.col("audit_ts"), 1)
                .otherwise(0)
                .desc(),
                F.col("version").desc(),
            )
        )
        .alias("rn_aswas"),
        F.row_number().over(wk.orderBy(F.col("version").desc())).alias("rn_asis"),
    )
    aswas = pick.filter(
        (F.col("rn_aswas") == 1) & (F.col("tx_from") <= F.col("audit_ts"))
    ).select("o_orderkey", "o_custkey", F.col("amt").alias("amt_aswas"))
    asis = pick.filter(F.col("rn_asis") == 1).select(
        "o_orderkey", F.col("amt").alias("amt_asis")
    )
    return (
        aswas.join(asis, "o_orderkey")
        .groupBy("o_custkey")
        .agg(
            F.count("*").cast("bigint").alias("n_orders"),
            F.sum("amt_aswas").cast("bigint").alias("total_aswas_cents"),
            F.sum("amt_asis").cast("bigint").alias("total_asis_cents"),
            F.sum(F.col("amt_asis") - F.col("amt_aswas"))
            .cast("bigint")
            .alias("restatement_cents"),
        )
    )
