"""Round-6 batch D: PR-AUC sweep, degree-correlation curve, dispersion,
tokenizer compression rate.

- EXACT PR-AUC (threshold sweep): area under the precision-recall curve
  of a score column against a binary label — the imbalanced-class
  counterpart of eval_auc_rank's ROC-AUC, computed EXACTLY from the
  score histogram (sklearn's step-wise average-precision definition:
  Σ ΔR_i · P_i). Score = document length, label = lang = 'en' — the
  "does length predict English" toy classifier; the mechanism is the
  product, scores/labels are pluggable.
- AVERAGE NEIGHBOR DEGREE knn(k): the full degree-correlation CURVE
  behind graph_degree_assortativity's single number — rising knn(k) =
  assortative mixing, falling = hubs feeding leaves; the diagnostic that
  says whether degree-based partitioning will skew.
- POISSON DISPERSION (variance-to-mean ratio) of the per-type daily
  event counts: VMR ≈ 1 means Poisson arrivals, > 1 bursty — the
  arrival-process sanity check behind capacity planning and anomaly
  thresholds; exact integer sufficient statistics, one micro division.
- TOKENIZER COMPRESSION RATE: chars-per-token by source × language (the
  CCNet/Gopher quality proxy — token-inefficient text is boilerplate,
  code soup, or wrong-language) in exact micro units.

Reference reach: the delegated SQL surface (``main.cc:181-182``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from c2_duckdb_runner_spark.operators.graph import _EDGES_SQL, _OFFSET, cust_supp_pairs
from c2_duckdb_runner_spark.registry import register
from c2_duckdb_runner_spark.tables import load

# ---------------------------------------------------------------------------
# eval_auprc_threshold_sweep
# ---------------------------------------------------------------------------

_AUPRC_ORACLE = """
WITH d AS (
  SELECT CAST(n_chars AS BIGINT) AS score,
         CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
  FROM documents
),
h AS (
  SELECT score, CAST(COUNT(*) AS BIGINT) AS cnt,
         CAST(SUM(y) AS BIGINT) AS pos
  FROM d GROUP BY score
),
c AS (
  SELECT score,
         CAST(SUM(pos) OVER (ORDER BY score DESC) AS BIGINT) AS tp,
         CAST(SUM(cnt) OVER (ORDER BY score DESC) AS BIGINT) AS npred,
         CAST(SUM(pos) OVER (ORDER BY score DESC) - pos AS BIGINT) AS tp_prev
  FROM h
),
tot AS (SELECT CAST(SUM(pos) AS BIGINT) AS p_all,
               CAST(SUM(cnt) AS BIGINT) AS n_all FROM h)
SELECT p_all AS n_pos, n_all AS n_docs,
       CAST(SUM((tp - tp_prev) * ((1000000 * tp) // npred)) // p_all
            AS BIGINT) AS auprc_micro,
       CAST((1000000 * p_all) // n_all AS BIGINT) AS baseline_micro
FROM c, tot GROUP BY p_all, n_all
"""


@register("eval_auprc_threshold_sweep", oracle=_AUPRC_ORACLE)
def eval_auprc_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact PR-AUC of the length→is-English toy classifier: sweep every
    distinct score as a threshold (descending), precision at each =
    TP/(TP+FP), and the area is the step-wise sum Σ ΔTP·P(s) / P_total
    (sklearn's average_precision definition) — computed in integer micro
    units with the per-term division order pinned on both engines. The
    random-classifier baseline (positive prevalence) rides along, so
    the lift is readable from the one output row.

    Scale shape: ROC/PR sweeps never sort rows here — the cumulative
    TP/FP counts are windows over the SCORE HISTOGRAM (one aggregate,
    score-cardinality-sized), the same mechanism as eval_auc_rank."""
    d = load(spark, sf_dir, "documents").select(
        F.col("n_chars").cast("bigint").alias("score"),
        F.expr("CASE WHEN lang = 'en' THEN 1 ELSE 0 END").alias("y"),
    )
    h = d.groupBy("score").agg(
        F.count("*").cast("bigint").alias("cnt"),
        F.sum("y").cast("bigint").alias("pos"),
    )
    wdesc = Window.orderBy(F.desc("score")).rowsBetween(
        Window.unboundedPreceding, 0
    )
    c = h.select(
        "score",
        F.sum("pos").over(wdesc).cast("bigint").alias("tp"),
        F.sum("cnt").over(wdesc).cast("bigint").alias("npred"),
        (F.sum("pos").over(wdesc) - F.col("pos")).cast("bigint").alias("tp_prev"),
    )
    tot = h.agg(
        F.sum("pos").cast("bigint").alias("p_all"),
        F.sum("cnt").cast("bigint").alias("n_all"),
    )
    return (
        c.crossJoin(F.broadcast(tot))
        .groupBy("p_all", "n_all")
        .agg(
            F.expr(
                "CAST(SUM((tp - tp_prev) * ((1000000 * tp) div npred))"
                " div MIN(p_all) AS BIGINT)"
            ).alias("auprc_micro")
        )
        .select(
            F.col("p_all").alias("n_pos"),
            F.col("n_all").alias("n_docs"),
            "auprc_micro",
            F.expr("CAST((1000000 * p_all) div n_all AS BIGINT)").alias(
                "baseline_micro"
            ),
        )
    )


# ---------------------------------------------------------------------------
# graph_avg_neighbor_degree
# ---------------------------------------------------------------------------

_KNN_ORACLE = f"""
WITH edges AS (
{_EDGES_SQL}
),
deg AS (SELECT src AS node, CAST(COUNT(*) AS BIGINT) AS d
        FROM edges GROUP BY src)
SELECT ds.d AS degree,
       CAST(COUNT(DISTINCT edges.src) AS BIGINT) AS n_nodes,
       CAST(SUM(dd.d) AS BIGINT) AS sum_nbr_deg,
       CAST(COUNT(*) AS BIGINT) AS n_endpoints,
       CAST((1000000 * CAST(SUM(dd.d) AS BIGINT)) // COUNT(*) AS BIGINT)
         AS knn_micro
FROM edges
JOIN deg ds ON ds.node = edges.src
JOIN deg dd ON dd.node = edges.dst
GROUP BY ds.d
"""


@register("graph_avg_neighbor_degree", oracle=_KNN_ORACLE)
def graph_avg_neighbor_degree(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Average neighbor degree knn(k) over the trade network: for every
    degree class k, the mean degree of the neighbors of degree-k nodes —
    the full curve behind graph_degree_assortativity's single r (rising
    = assortative, falling = hub-and-spoke). knn in exact micro units.

    Scale shape (round-8 rewrite after the matched-parallelism audit —
    shuffle_x 16.84 persisted with AQE coalescing disabled, so it was a
    real plan flip, not a task-count artifact: at 10× the node-degree
    joins fall off the broadcast cliff to SMJs and re-shuffle the
    SYMMETRIZED 2|E| edge list twice more): exploit the bipartite
    structure instead of symmetrizing. The |E| (customer, supplier) pair
    list is deduped INSIDE the standing c-partitioning (one shuffle, the
    HITS subset-clustering recipe) and persisted; both per-side degree
    relations are aggregates within that partitioning; the two
    decoration joins run inside standing partitionings so no edge-sized
    exchange beyond the one s-repartition; and because the customer and
    supplier node spaces are disjoint, the per-degree-class distinct-node
    counts of the forward and reverse edge orientations simply ADD — the
    final merge is a degree-domain-sized aggregate. Zero broadcast
    assumptions: the same plan (and the same shuffle bytes per row)
    executes at any scale. Cites graph.py _EDGES_SQL / _OFFSET
    (``main.cc:181-182`` reach)."""
    from c2_duckdb_runner_spark.session import scratch_persist, shuffle_width

    nparts = shuffle_width(spark)
    pairs = (
        cust_supp_pairs(spark, sf_dir)
        .select("c", (F.lit(_OFFSET) + F.col("s")).alias("s"))
        .repartition(nparts, "c")
        .dropDuplicates()
    )
    p = scratch_persist(pairs)
    cdeg = p.groupBy("c").agg(F.count("*").cast("bigint").alias("dc"))
    sdeg = p.groupBy("s").agg(F.count("*").cast("bigint").alias("ds_"))
    dec = scratch_persist(
        p.join(cdeg, "c").repartition(nparts, "s").join(sdeg, "s")
    )
    fwd = dec.groupBy(F.col("dc").alias("degree")).agg(
        F.countDistinct("c").cast("bigint").alias("nn"),
        F.sum("ds_").cast("bigint").alias("snd"),
        F.count("*").cast("bigint").alias("ne"),
    )
    rev = dec.groupBy(F.col("ds_").alias("degree")).agg(
        F.countDistinct("s").cast("bigint").alias("nn"),
        F.sum("dc").cast("bigint").alias("snd"),
        F.count("*").cast("bigint").alias("ne"),
    )
    return (
        fwd.unionAll(rev)
        .groupBy("degree")
        .agg(
            F.sum("nn").cast("bigint").alias("n_nodes"),
            F.sum("snd").cast("bigint").alias("sum_nbr_deg"),
            F.sum("ne").cast("bigint").alias("n_endpoints"),
        )
        .select(
            "degree",
            "n_nodes",
            "sum_nbr_deg",
            "n_endpoints",
            F.expr(
                "CAST((1000000 * sum_nbr_deg) div n_endpoints AS BIGINT)"
            ).alias("knn_micro"),
        )
    )


# ---------------------------------------------------------------------------
# stats_poisson_dispersion
# ---------------------------------------------------------------------------

_VMR_ORACLE = """
WITH daily AS (
  SELECT event_type, date_trunc('day', ts) AS d,
         CAST(COUNT(*) AS BIGINT) AS x
  FROM events GROUP BY 1, 2
),
s AS (
  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(x) AS BIGINT) AS sx,
         CAST(SUM(x * x) AS BIGINT) AS sxx
  FROM daily GROUP BY 1
)
SELECT event_type, n AS n_days, sx AS n_events,
       CAST((CAST(1000000 AS HUGEINT)
             * (CAST(n AS HUGEINT) * CAST(sxx AS HUGEINT)
                - CAST(sx AS HUGEINT) * CAST(sx AS HUGEINT)))
            // (CAST(n AS HUGEINT) * CAST(sx AS HUGEINT)) AS BIGINT)
         AS vmr_micro
FROM s
"""


@register("stats_poisson_dispersion", oracle=_VMR_ORACLE)
def stats_poisson_dispersion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Variance-to-mean ratio (index of dispersion) of the per-type daily
    event counts: VMR = 1 under Poisson arrivals, > 1 = bursty/clustered
    traffic, < 1 = under-dispersed (rate-limited) — the arrival-process
    diagnostic behind anomaly thresholds. Population variance over mean
    as ONE exact integer expression: 10⁶·(n·Σx² − (Σx)²) div (n·Σx).
    Σx² grows QUADRATICALLY with per-day counts (int64 wraps once a
    daily count reaches ~1.6e5 at n=365 — the assortativity overflow
    family), so the final combination runs in 128-bit integers on both
    engines: Spark DECIMAL(38,0) `div` ≙ DuckDB HUGEINT `//`. Both
    operands are non-negative (Cauchy–Schwarz: n·Σx² ≥ (Σx)²), so
    floor (DuckDB) and truncate (Spark) agree, and the quotient is
    back in int64 range (VMR_micro ≤ 10⁶·max daily count).

    Scale shape: daily rollup (the one data-sized aggregate, map-side
    combining) then a per-type sufficient-stats reduce over the
    calendar-bounded series."""
    daily = (
        load(spark, sf_dir, "events")
        .groupBy("event_type", F.date_trunc("day", "ts").alias("d"))
        .agg(F.count("*").cast("bigint").alias("x"))
    )
    s = daily.groupBy("event_type").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum(F.expr("x * x")).cast("bigint").alias("sxx"),
    )
    return s.select(
        "event_type",
        F.col("n").alias("n_days"),
        F.col("sx").alias("n_events"),
        F.expr(
            "CAST((CAST(1000000 AS DECIMAL(38,0))"
            " * (CAST(n AS DECIMAL(38,0)) * CAST(sxx AS DECIMAL(38,0))"
            "    - CAST(sx AS DECIMAL(38,0)) * CAST(sx AS DECIMAL(38,0))))"
            " div (CAST(n AS DECIMAL(38,0)) * CAST(sx AS DECIMAL(38,0)))"
            " AS BIGINT)"
        ).alias("vmr_micro"),
    )


# ---------------------------------------------------------------------------
# pipeline_tokenizer_compression_rate
# ---------------------------------------------------------------------------

_COMPRESS_ORACLE = """
WITH d AS (
  SELECT source, lang, CAST(n_chars AS BIGINT) AS chars,
         CAST(len(string_split(text, ' ')) AS BIGINT) AS toks
  FROM documents
)
SELECT source, lang,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(chars) AS BIGINT) AS total_chars,
       CAST(SUM(toks) AS BIGINT) AS total_tokens,
       CAST((1000000 * CAST(SUM(chars) AS BIGINT))
            // CAST(SUM(toks) AS BIGINT) AS BIGINT)
         AS chars_per_token_micro
FROM d GROUP BY source, lang
"""


@register(
    "pipeline_tokenizer_compression_rate", oracle=_COMPRESS_ORACLE
)
def pipeline_tokenizer_compression_rate(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Chars-per-token compression rate by source × language — the
    CCNet/Gopher quality proxy: text a tokenizer compresses poorly
    (low chars/token for the language) is boilerplate, code soup, or
    mislabeled language, and the per-source breakdown localizes which
    feed to fix. Exact micro ratio of two integer sums.

    Scale shape: map-only token count + one grouped aggregate; output
    is (source × lang)-domain-sized."""
    d = load(spark, sf_dir, "documents").select(
        "source",
        "lang",
        F.col("n_chars").cast("bigint").alias("chars"),
        F.expr("CAST(size(split(text, ' ')) AS BIGINT)").alias("toks"),
    )
    return d.groupBy("source", "lang").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum("chars").cast("bigint").alias("total_chars"),
        F.sum("toks").cast("bigint").alias("total_tokens"),
        F.expr(
            "CAST((1000000 * SUM(chars)) div SUM(toks) AS BIGINT)"
        ).alias("chars_per_token_micro"),
    )
