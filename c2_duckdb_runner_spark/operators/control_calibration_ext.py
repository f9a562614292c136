"""Round-4 statistical-process-control / calibration / survivorship /
SQL-surface extensions.

- XmR (individuals + moving-range) CONTROL CHART per event type — the
  Shewhart chart for unbatched observations: control limits at
  x̄ ± 2.66·MR̄ with the 2.66 bias-correction constant exact in
  milli-units, flagging special-cause days;
- EXPECTED CALIBRATION ERROR (ECE) for a score treated as a
  probability — the calibration companion to eval_decile_lift_table
  (discrimination) and eval_confusion_matrix_langid (accuracy): binned
  |accuracy − confidence| weighted by bin mass, exact micro integers;
- GOLDEN-RECORD SURVIVORSHIP over the Fellegi-Sunter matches — the MDM
  step after linkage: field-wise survival rules (longest name,
  freshest/max balance, first non-null segment) build one canonical
  record per matched pair;
- NAMED WINDOW CLAUSE (SQL surface): one WINDOW definition referenced
  by several window functions — parity checkbox for the SQL spelling
  both engines share.

Reference reach: the delegated SQL slot (``main.cc:181-182``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from c2_duckdb_runner_spark.operators.inference_ext import (
    CENTS_SQL,
    DAILY_MILLI_SQL,
    cents,
    daily_milli,
)
from c2_duckdb_runner_spark.operators.matching_ext import ER_CANDIDATES_SQL, er_candidates
from c2_duckdb_runner_spark.registry import fdoc, register
from c2_duckdb_runner_spark.tables import load

# ---------------------------------------------------------------------------
# ts_xmr_control_chart
# ---------------------------------------------------------------------------


@register(
    "ts_xmr_control_chart",
    oracle=f"""
WITH daily AS ({DAILY_MILLI_SQL}),
mr AS (
  SELECT event_type, d, x,
         abs(x - LAG(x) OVER (PARTITION BY event_type ORDER BY d)) AS m
  FROM daily
),
stats AS (
  SELECT event_type,
         CAST(COUNT(*) AS BIGINT) AS n_days,
         CAST(SUM(x) AS BIGINT) // CAST(COUNT(*) AS BIGINT) AS xbar,
         CAST(SUM(m) AS BIGINT) // CAST(COUNT(m) AS BIGINT) AS mrbar
  FROM mr GROUP BY event_type
),
lim AS (
  SELECT event_type, n_days, xbar, mrbar,
         xbar + (2660 * mrbar) // 1000 AS ucl,
         xbar - (2660 * mrbar) // 1000 AS lcl
  FROM stats
)
SELECT lim.event_type AS event_type, n_days,
       CAST(xbar AS BIGINT) AS xbar_milli, CAST(mrbar AS BIGINT) AS mrbar_milli,
       CAST(ucl AS BIGINT) AS ucl_milli, CAST(lcl AS BIGINT) AS lcl_milli,
       CAST(SUM(CASE WHEN daily.x > ucl OR daily.x < lcl THEN 1 ELSE 0 END)
            AS BIGINT) AS n_out_of_control
FROM lim JOIN daily ON lim.event_type = daily.event_type
GROUP BY lim.event_type, n_days, xbar, mrbar, ucl, lcl
""",
)
def ts_xmr_control_chart(spark: SparkSession, sf_dir: str) -> DataFrame:
    """XmR (individuals/moving-range) control chart per event type: the
    Shewhart limits x̄ ± 2.66·MR̄, with the d₂-derived constant 2.66
    carried as the exact ratio 2660/1000 so the limits are pure integer
    milli-units. Days outside the limits are special-cause signals —
    the process-control framing that complements ts_anomaly_zscore
    (which estimates spread from the full variance, inflated by the
    very anomalies it hunts; MR̄ uses consecutive differences and is
    robust to level shifts).

    One keyed rollup, one per-key LAG pass, a per-key stats row joined
    back for the out-of-control count — all on the bounded daily
    series."""
    daily = daily_milli(spark, sf_dir)
    we = Window.partitionBy("event_type").orderBy("d")
    mr = daily.select(
        "event_type",
        "d",
        "x",
        F.abs(F.col("x") - F.lag("x").over(we)).alias("m"),
    )
    stats = mr.groupBy("event_type").agg(
        F.count("*").cast("bigint").alias("n_days"),
        F.expr("CAST(SUM(x) AS BIGINT) div CAST(COUNT(*) AS BIGINT)").alias("xbar"),
        F.expr("CAST(SUM(m) AS BIGINT) div CAST(COUNT(m) AS BIGINT)").alias("mrbar"),
    )
    lim = stats.select(
        "event_type",
        "n_days",
        "xbar",
        "mrbar",
        F.expr("xbar + (2660 * mrbar) div 1000").alias("ucl"),
        F.expr("xbar - (2660 * mrbar) div 1000").alias("lcl"),
    )
    return (
        daily.join(F.broadcast(lim), "event_type")
        .groupBy("event_type", "n_days", "xbar", "mrbar", "ucl", "lcl")
        .agg(
            F.sum(
                F.when((F.col("x") > F.col("ucl")) | (F.col("x") < F.col("lcl")), 1)
                .otherwise(0)
            )
            .cast("bigint")
            .alias("n_out_of_control")
        )
        .select(
            "event_type",
            "n_days",
            F.col("xbar").cast("bigint").alias("xbar_milli"),
            F.col("mrbar").cast("bigint").alias("mrbar_milli"),
            F.col("ucl").cast("bigint").alias("ucl_milli"),
            F.col("lcl").cast("bigint").alias("lcl_milli"),
            "n_out_of_control",
        )
    )


# ---------------------------------------------------------------------------
# eval_calibration_ece
# ---------------------------------------------------------------------------

_ECE_SCALE_CHARS = 600  # score = min(1, n_chars / 600) as pseudo-probability


@register(
    "eval_calibration_ece",
    oracle=f"""
WITH scored AS (
  SELECT LEAST((1000000 * n_chars) // {_ECE_SCALE_CHARS}, 1000000) AS score,
         CAST(lang = 'en' AS INT) AS pos
  FROM documents
),
binned AS (
  SELECT LEAST(score // 100000, 9) AS bin,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(score) AS BIGINT) AS conf_sum,
         CAST(SUM(pos) AS BIGINT) AS n_pos
  FROM scored GROUP BY LEAST(score // 100000, 9)
),
gaps AS (
  SELECT bin, n, n_pos,
         (1000000 * n_pos) // n AS acc_micro,
         conf_sum // n AS conf_micro
  FROM binned
),
tot AS (
  SELECT CAST(SUM(n) AS BIGINT) AS n_all,
         CAST(SUM(n * abs(acc_micro - conf_micro)) AS BIGINT) AS wsum
  FROM gaps
)
SELECT CAST(bin AS INT) AS bin, n, n_pos,
       CAST(acc_micro AS BIGINT) AS acc_micro,
       CAST(conf_micro AS BIGINT) AS conf_micro,
       CAST(abs(acc_micro - conf_micro) AS BIGINT) AS gap_micro,
       CAST(wsum // n_all AS BIGINT) AS ece_micro
FROM gaps CROSS JOIN tot
""",
)
@fdoc(f"""Expected calibration error: treat the length-based score
    min(1, n_chars/{_ECE_SCALE_CHARS}) as a predicted probability of the
    doc being English, bin into 10 confidence deciles, and compare each
    bin's mean confidence against its actual positive rate — ECE is the
    bin-mass-weighted mean gap. A model can rank perfectly (high lift,
    eval_decile_lift_table) yet be wildly miscalibrated; this is the
    third leg of the classifier-eval stool, in exact micro integers.

    Scale shape: one map-side scoring pass, one 10-row binned aggregate,
    one constant-size total — the ECE re-aggregates from per-partition
    bin partials at any corpus size.""")
def eval_calibration_ece(spark: SparkSession, sf_dir: str) -> DataFrame:
    scored = load(spark, sf_dir, "documents").select(
        F.expr(
            f"LEAST((1000000 * n_chars) div {_ECE_SCALE_CHARS}, 1000000L)"
        ).alias("score"),
        (F.col("lang") == "en").cast("int").alias("pos"),
    )
    binned = scored.groupBy(
        F.expr("LEAST(score div 100000, 9L)").alias("bin")
    ).agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("score").cast("bigint").alias("conf_sum"),
        F.sum("pos").cast("bigint").alias("n_pos"),
    )
    gaps = binned.select(
        "bin",
        "n",
        "n_pos",
        F.expr("(1000000 * n_pos) div n").alias("acc_micro"),
        F.expr("conf_sum div n").alias("conf_micro"),
    )
    tot = gaps.agg(
        F.sum("n").cast("bigint").alias("n_all"),
        F.sum(F.col("n") * F.abs(F.col("acc_micro") - F.col("conf_micro")))
        .cast("bigint")
        .alias("wsum"),
    )
    return gaps.crossJoin(F.broadcast(tot)).select(
        F.col("bin").cast("int").alias("bin"),
        "n",
        "n_pos",
        F.col("acc_micro").cast("bigint").alias("acc_micro"),
        F.col("conf_micro").cast("bigint").alias("conf_micro"),
        F.abs(F.col("acc_micro") - F.col("conf_micro"))
        .cast("bigint")
        .alias("gap_micro"),
        F.expr("CAST(wsum div n_all AS BIGINT)").alias("ece_micro"),
    )


# ---------------------------------------------------------------------------
# er_golden_record_survivorship
# ---------------------------------------------------------------------------

_GOLD_THRESHOLD = 30


@register(
    "er_golden_record_survivorship",
    oracle=f"""
WITH {ER_CANDIDATES_SQL}
SELECT akey AS entity_key,
       CASE WHEN length(aname) > length(bname) THEN aname
            WHEN length(aname) < length(bname) THEN bname
            ELSE LEAST(aname, bname) END AS golden_name,
       CAST(GREATEST({CENTS_SQL.format('abal')},
                     {CENTS_SQL.format('bbal')}) AS BIGINT)
         AS golden_bal_cents,
       COALESCE(aseg, bseg) AS golden_segment,
       CAST(anat AS INT) AS golden_nation
FROM pairs WHERE score >= {_GOLD_THRESHOLD}
""",
)
@fdoc(f"""Golden-record survivorship — the MDM step AFTER record linkage:
    for every Fellegi-Sunter match (score ≥ {_GOLD_THRESHOLD} over the
    blocked candidate pairs of matching_ext's record-linkage kit,
    ``er_candidates``), build one canonical record with per-field
    survival rules: name = longest (ties lexicographically lowest),
    balance = maximum in cents, segment = first non-null, nation =
    block-shared. Every rule is total-ordered, so the golden record is
    deterministic in both engines.

    Scale shape: the scalable blocking bounds the candidate join; the
    survivorship itself is per-pair expressions — map-only after the
    match. With multi-member clusters the same rules become the greatest/
    min-struct aggregates dedup_latest_by_key already demonstrates.""")
def er_golden_record_survivorship(spark: SparkSession, sf_dir: str) -> DataFrame:
    matched = er_candidates(spark, sf_dir).filter(F.col("score") >= _GOLD_THRESHOLD)
    return matched.select(
        F.col("akey").alias("entity_key"),
        F.expr(
            "CASE WHEN length(aname) > length(bname) THEN aname"
            " WHEN length(aname) < length(bname) THEN bname"
            " ELSE LEAST(aname, bname) END"
        ).alias("golden_name"),
        F.greatest(cents("abal"), cents("bbal")).alias("golden_bal_cents"),
        F.coalesce(F.col("aseg"), F.col("bseg")).alias("golden_segment"),
        F.col("anat").cast("int").alias("golden_nation"),
    )


# ---------------------------------------------------------------------------
# sql_named_window_clause
# ---------------------------------------------------------------------------


@register(
    "sql_named_window_clause",
    oracle=f"""
WITH ranked AS (
  SELECT o_orderpriority, o_orderkey,
         ROW_NUMBER() OVER w AS rn,
         CAST(SUM({CENTS_SQL.format('o_totalprice')}) OVER w AS BIGINT)
           AS running_cents
  FROM orders
  WINDOW w AS (PARTITION BY o_orderpriority ORDER BY o_orderdate, o_orderkey)
)
SELECT o_orderpriority, o_orderkey, CAST(rn AS INT) AS rn, running_cents
FROM ranked WHERE rn <= 5
""",
)
def sql_named_window_clause(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Named WINDOW clause: one window definition (`WINDOW w AS ...`)
    referenced by both a ROW_NUMBER and a running SUM — the SQL:2003
    spelling both engines share, and the surface guarantee that multiple
    references to the same named window compile to ONE window operator
    over one sort (check .explain: a single Window node carries both
    functions). Returns each priority class's first five orders with
    their running revenue.

    The running sum is integer cents; the frame is the two functions'
    natural default (rows-unbounded-preceding for ROW_NUMBER, range for
    SUM — identical results here because the order is total)."""
    load(spark, sf_dir, "orders").withColumn(
        "cents", cents("o_totalprice")
    ).createOrReplaceTempView("orders_nw")
    return spark.sql(
        """
        WITH ranked AS (
          SELECT o_orderpriority, o_orderkey,
                 ROW_NUMBER() OVER w AS rn,
                 CAST(SUM(cents) OVER w AS BIGINT) AS running_cents
          FROM orders_nw
          WINDOW w AS (PARTITION BY o_orderpriority
                       ORDER BY o_orderdate, o_orderkey)
        )
        SELECT o_orderpriority, o_orderkey, CAST(rn AS INT) AS rn, running_cents
        FROM ranked WHERE rn <= 5
        """
    )
