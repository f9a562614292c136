"""Round-8 batch C: optimizer-statistics audit, lead-lag cross-correlation,
shard manifests, small-cell suppression, join-key skew profiling, and
two-hop reach.

- JOIN CARDINALITY ESTIMATE vs ACTUAL: the equi-width-histogram join-size
  estimate every cost-based optimizer computes, checked against the true
  join count — the statistics-quality audit behind join-order decisions.
- CROSS-CORRELATION LEAD/LAG: exact covariance numerators of the click
  vs purchase daily series at lags −3..+3 — does one stream LEAD the
  other (the attribution/causality screen before any model).
- SHARD MANIFEST: WebDataset-style packing of documents into
  equal-token-budget shards in corpus order, via the two-phase bucketed
  prefix sum — the manifest a training dataloader actually consumes.
- SMALL-CELL SUPPRESSION: the k-anonymity release rule (suppress cells
  with < k contributors) audited exactly: how many cells and how much
  mass the suppression removes, per the release's dimensions.
- JOIN-KEY SKEW PROFILE: exact frequency percentiles + top-1 share of a
  join key — the measurement that decides salting/AQE-skew handling (the
  repo's own 100 TB doctrine, turned into a query).
- TWO-HOP REACH: distinct ≤2-hop neighborhood size per seed node on the
  trade graph — the friends-of-friends audience-size profile next to the
  level-assigning graph_bfs_multisource.

Reference reach: the delegated SQL surface (``main.cc:181-182``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from c2_duckdb_runner_spark.operators.graph import _OFFSET, cust_supp_pairs
from c2_duckdb_runner_spark.operators.inference_ext import CENTS_SQL, cents
from c2_duckdb_runner_spark.registry import fdoc, register
from c2_duckdb_runner_spark.session import scratch_persist
from c2_duckdb_runner_spark.tables import load

# ---------------------------------------------------------------------------
# join_cardinality_histogram_estimate
# ---------------------------------------------------------------------------

_JCE_B = 64

_JCE_ORACLE = f"""
WITH mx AS (SELECT CAST(MAX(p_partkey) AS BIGINT) AS mk FROM part),
lb AS (
  SELECT ((l_partkey - 1) * {_JCE_B}) // (mk + 1) AS b,
         CAST(COUNT(*) AS BIGINT) AS cl
  FROM lineitem, mx GROUP BY 1
),
pb AS (
  SELECT ((p_partkey - 1) * {_JCE_B}) // (mk + 1) AS b,
         CAST(COUNT(*) AS BIGINT) AS cp
  FROM part, mx GROUP BY 1
),
est AS (
  SELECT CAST(SUM(cl * cp * {_JCE_B} // (mk + 1)) AS BIGINT) AS est
  FROM lb JOIN pb ON pb.b = lb.b, mx
),
act AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS actual
  FROM lineitem JOIN part ON p_partkey = l_partkey
)
SELECT CAST({_JCE_B} AS INT) AS n_buckets, est.est, act.actual,
       CAST(1000000 * abs(est.est - act.actual) // act.actual AS BIGINT)
         AS abs_err_ppm
FROM est, act
"""


@register("join_cardinality_histogram_estimate", oracle=_JCE_ORACLE)
@fdoc(f"""The cost-based optimizer's equi-width-histogram join-cardinality
    estimate, audited against ground truth: bucket both join keys into
    {_JCE_B} equal-width ranges, estimate |lineitem ⨝ part| per bucket
    under the uniform-within-bucket assumption (cl·cp / width), and
    compare to the exact join count — abs_err_ppm is the statistics-
    quality number that decides whether ANALYZE-style histograms can be
    trusted for join ordering on this data. Pure integer arithmetic
    (width division scaled inside the sum).

    Scale shape: two input-sized bucket aggregates ({_JCE_B} cells each),
    a {_JCE_B}-row join for the estimate, and the actual count's one
    equi-join — the thing being estimated is also the only big
    operation.""")
def join_cardinality_histogram_estimate(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    mx = load(spark, sf_dir, "part").agg(
        F.max("p_partkey").cast("bigint").alias("mk")
    )
    li = load(spark, sf_dir, "lineitem").select("l_partkey")
    pt = load(spark, sf_dir, "part").select("p_partkey")
    lb = (
        li.crossJoin(F.broadcast(mx))
        .groupBy(F.expr(f"((l_partkey - 1) * {_JCE_B}) div (mk + 1)").alias("b"))
        .agg(F.count("*").cast("bigint").alias("cl"))
    )
    pb = (
        pt.crossJoin(F.broadcast(mx))
        .groupBy(F.expr(f"((p_partkey - 1) * {_JCE_B}) div (mk + 1)").alias("b"))
        .agg(F.count("*").cast("bigint").alias("cp"))
    )
    est = (
        lb.join(pb, "b")
        .crossJoin(F.broadcast(mx))
        .agg(
            F.sum(F.expr(f"cl * cp * {_JCE_B} div (mk + 1)"))
            .cast("bigint")
            .alias("est")
        )
    )
    act = (
        li.join(pt, li.l_partkey == pt.p_partkey)
        .agg(F.count("*").cast("bigint").alias("actual"))
    )
    return (
        est.crossJoin(act)
        .select(
            F.lit(_JCE_B).cast("int").alias("n_buckets"),
            "est",
            "actual",
            F.expr(
                "CAST(1000000 * abs(est - actual) div actual AS BIGINT)"
            ).alias("abs_err_ppm"),
        )
    )


# ---------------------------------------------------------------------------
# ts_cross_corr_lead_lag
# ---------------------------------------------------------------------------

_XC_MAXLAG = 3

_XC_ORACLE = f"""
WITH x AS (
  SELECT CAST(ts AS DATE) AS day,
         CAST(SUM({CENTS_SQL.format('value')}) AS BIGINT) AS v
  FROM events WHERE event_type = 'click' GROUP BY 1
),
y AS (
  SELECT CAST(ts AS DATE) AS day,
         CAST(SUM({CENTS_SQL.format('value')}) AS BIGINT) AS v
  FROM events WHERE event_type = 'purchase' GROUP BY 1
),
lags AS (SELECT CAST(unnest(range(-{_XC_MAXLAG}, {_XC_MAXLAG + 1})) AS BIGINT)
           AS lag),
p AS (
  SELECT lags.lag, x.v AS xv, y.v AS yv
  FROM lags JOIN x ON TRUE
  JOIN y ON y.day = x.day + to_days(CAST(lags.lag AS INT))
)
SELECT lag, CAST(COUNT(*) AS BIGINT) AS n_pairs,
       CAST(CAST(COUNT(*) AS HUGEINT) * SUM(CAST(xv AS HUGEINT) * yv)
            - SUM(CAST(xv AS HUGEINT)) * SUM(CAST(yv AS HUGEINT))
            AS VARCHAR) AS cov_num
FROM p GROUP BY lag
"""


@register("ts_cross_corr_lead_lag", oracle=_XC_ORACLE)
@fdoc(f"""Lead-lag cross-covariance between the click and purchase daily
    revenue series: for each lag in −{_XC_MAXLAG}..+{_XC_MAXLAG}, the
    exact covariance numerator n·Σ(x_t·y_{{t+lag}}) − Σx·Σy over aligned
    day pairs — a positive peak at lag>0 means clicks LEAD purchases,
    the screen an attribution pipeline runs before fitting any model.
    Signed 128-bit numerators ship as strings (the round-8 batch-A
    rule); the n_pairs column makes the normalization explicit.

    Scale shape: two input-sized daily rollups, then all lag joins run
    on the bounded day grid ({2 * _XC_MAXLAG + 1} small hash joins).""")
def ts_cross_corr_lead_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")

    def daily(et: str) -> DataFrame:
        return (
            ev.filter(F.col("event_type") == et)
            .groupBy(F.expr("CAST(ts AS DATE)").alias("day"))
            .agg(
                F.sum(cents("value"))
                .cast("bigint")
                .alias("v")
            )
        )

    x = scratch_persist(daily("click"))
    y = scratch_persist(daily("purchase"))
    lags = spark.range(-_XC_MAXLAG, _XC_MAXLAG + 1).select(
        F.col("id").cast("bigint").alias("lag")
    )
    p = (
        lags.crossJoin(x.select(F.col("day").alias("xday"), F.col("v").alias("xv")))
        .join(
            y.select(F.col("day").alias("yday"), F.col("v").alias("yv")),
            F.expr("yday = date_add(xday, CAST(lag AS INT))"),
        )
    )
    return p.groupBy("lag").agg(
        F.count("*").cast("bigint").alias("n_pairs"),
        F.expr(
            "CAST(CAST(CAST(COUNT(*) AS DECIMAL(38,0))"
            " * SUM(CAST(xv AS DECIMAL(38,0)) * yv)"
            " - SUM(CAST(xv AS DECIMAL(38,0))) * SUM(CAST(yv AS DECIMAL(38,0)))"
            " AS DECIMAL(38,0)) AS STRING)"
        ).alias("cov_num"),
    )


# ---------------------------------------------------------------------------
# pipeline_shard_manifest
# ---------------------------------------------------------------------------

_SHM_SHARDS = 64
_SHM_BUCKETS = 1024
_SHM_CHARS_PER_TOK = 4  # the standard ~4-chars/token planning heuristic

_SHM_ORACLE = f"""
WITH d AS (
  SELECT doc_id, CAST(n_chars // {_SHM_CHARS_PER_TOK} AS BIGINT) AS toks
  FROM documents
),
tot AS (SELECT CAST(SUM(toks) AS BIGINT) AS tt FROM d),
c AS (
  SELECT doc_id, toks,
         CAST(SUM(toks) OVER (ORDER BY doc_id) - toks AS BIGINT) AS prev
  FROM d
),
asg AS (
  SELECT doc_id, toks,
         least({_SHM_SHARDS - 1},
               prev // greatest((tt + {_SHM_SHARDS - 1}) // {_SHM_SHARDS}, 1))
           AS shard_id
  FROM c, tot
)
SELECT CAST(shard_id AS BIGINT) AS shard_id,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(toks) AS BIGINT) AS n_tokens,
       CAST(MIN(doc_id) AS BIGINT) AS first_doc,
       CAST(MAX(doc_id) AS BIGINT) AS last_doc
FROM asg GROUP BY 1
"""


@register("pipeline_shard_manifest", oracle=_SHM_ORACLE)
@fdoc(f"""WebDataset-style shard manifest: documents in corpus order are
    packed into {_SHM_SHARDS} contiguous shards of ~equal TOKEN budget
    (tokens = n_chars div {_SHM_CHARS_PER_TOK}, the planning heuristic),
    shard_id = prefix_tokens div ceil(total/{_SHM_SHARDS}) — each shard
    is a contiguous doc_id range, which is what makes the manifest
    seekable for a dataloader. Reports per-shard doc count, token mass,
    and the [first_doc, last_doc] range.

    Scale shape: the prefix sum is the two-phase bucketed pattern
    (sample_systematic_cumweight's: {_SHM_BUCKETS} ordered id-range
    buckets, a bounded window over the bucket aggregate, a
    bucket-partitioned window inside) — identical to the oracle's global
    window by prefix-sum associativity; then one {_SHM_SHARDS}-cell
    aggregate.""")
def pipeline_shard_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents").select(
        "doc_id",
        F.expr(f"CAST(n_chars div {_SHM_CHARS_PER_TOK} AS BIGINT)").alias(
            "toks"
        ),
    )
    tot = d.agg(
        F.sum("toks").cast("bigint").alias("tt"),
        F.max("doc_id").cast("bigint").alias("mx"),
    )
    withb = scratch_persist(
        d.crossJoin(F.broadcast(tot)).select(
            "doc_id",
            "toks",
            "tt",
            F.expr(
                f"CAST(doc_id div greatest((mx + {_SHM_BUCKETS}) div"
                f" {_SHM_BUCKETS}, 1) AS BIGINT)"
            ).alias("b"),
        )
    )
    bsum = withb.groupBy("b").agg(F.sum("toks").cast("bigint").alias("bw"))
    wb = Window.orderBy("b").rowsBetween(Window.unboundedPreceding, 0)
    boff = bsum.select(
        "b", (F.sum("bw").over(wb) - F.col("bw")).cast("bigint").alias("off")
    )
    wi = (
        Window.partitionBy("b")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    asg = (
        withb.join(F.broadcast(boff), "b")
        .withColumn("cumin", F.sum("toks").over(wi).cast("bigint"))
        .select(
            "doc_id",
            "toks",
            F.expr(
                f"CAST(least({_SHM_SHARDS - 1}, (off + cumin - toks)"
                f" div greatest((tt + {_SHM_SHARDS - 1}) div {_SHM_SHARDS},"
                " 1)) AS BIGINT)"
            ).alias("shard_id"),
        )
    )
    return asg.groupBy("shard_id").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum("toks").cast("bigint").alias("n_tokens"),
        F.min("doc_id").cast("bigint").alias("first_doc"),
        F.max("doc_id").cast("bigint").alias("last_doc"),
    )


# ---------------------------------------------------------------------------
# privacy_small_cell_suppression
# ---------------------------------------------------------------------------

_SCS_K = 10

_SCS_ORACLE = f"""
WITH cell AS (
  SELECT n_name, c_mktsegment, CAST(COUNT(*) AS BIGINT) AS c
  FROM customer JOIN nation ON n_nationkey = c_nationkey
  GROUP BY 1, 2
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_cells,
       CAST(SUM(CASE WHEN c < {_SCS_K} THEN 1 ELSE 0 END) AS BIGINT)
         AS n_suppressed,
       CAST(SUM(CASE WHEN c < {_SCS_K} THEN c ELSE 0 END) AS BIGINT)
         AS suppressed_mass,
       CAST(SUM(CASE WHEN c >= {_SCS_K} THEN c ELSE 0 END) AS BIGINT)
         AS released_mass,
       CAST(1000000 * SUM(CASE WHEN c < {_SCS_K} THEN c ELSE 0 END)
            // SUM(c) AS BIGINT) AS suppressed_ppm
FROM cell
"""


@register("privacy_small_cell_suppression", oracle=_SCS_ORACLE)
@fdoc(f"""Small-cell suppression audit for the (nation × market segment)
    customer release: the statistical-disclosure-control rule every
    census/health release applies — cells with fewer than k={_SCS_K}
    contributors are withheld. Reports how many cells and how much mass
    (absolute + ppm of total) the rule suppresses — the
    utility-vs-disclosure trade the release owner signs off on.
    Complements privacy_k_anonymity_audit (which measures quasi-
    identifier group sizes on the microdata; this audits the aggregate
    release).

    Scale shape: one input-sized hash aggregate to the bounded cell
    grid, one 1-row reduction.""")
def privacy_small_cell_suppression(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load(spark, sf_dir, "customer").select("c_nationkey", "c_mktsegment")
    n = load(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    cell = (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("n_name", "c_mktsegment")
        .agg(F.count("*").cast("bigint").alias("c"))
    )
    return cell.agg(
        F.count("*").cast("bigint").alias("n_cells"),
        F.sum(F.expr(f"CASE WHEN c < {_SCS_K} THEN 1 ELSE 0 END"))
        .cast("bigint")
        .alias("n_suppressed"),
        F.sum(F.expr(f"CASE WHEN c < {_SCS_K} THEN c ELSE 0 END"))
        .cast("bigint")
        .alias("suppressed_mass"),
        F.sum(F.expr(f"CASE WHEN c >= {_SCS_K} THEN c ELSE 0 END"))
        .cast("bigint")
        .alias("released_mass"),
        F.expr(
            f"CAST(1000000 * SUM(CASE WHEN c < {_SCS_K} THEN c ELSE 0 END)"
            " div SUM(c) AS BIGINT)"
        ).alias("suppressed_ppm"),
    )


# ---------------------------------------------------------------------------
# agg_key_skew_profile
# ---------------------------------------------------------------------------

_SKW_ORACLE = """
WITH freq AS (
  SELECT l_partkey AS k, CAST(COUNT(*) AS BIGINT) AS f
  FROM lineitem GROUP BY 1
),
ff AS (SELECT f, CAST(COUNT(*) AS BIGINT) AS nk FROM freq GROUP BY f),
tot AS (SELECT CAST(SUM(nk) AS BIGINT) AS n_keys,
               CAST(SUM(f * nk) AS BIGINT) AS n_rows,
               CAST(MAX(f) AS BIGINT) AS max_f FROM ff),
cum AS (
  SELECT f, CAST(SUM(nk) OVER (ORDER BY f) AS BIGINT) AS ckeys
  FROM ff
),
pct AS (
  SELECT
    (SELECT MIN(f) FROM cum, tot WHERE ckeys * 2 >= n_keys) AS p50_f,
    (SELECT MIN(f) FROM cum, tot WHERE ckeys * 10 >= 9 * n_keys) AS p90_f,
    (SELECT MIN(f) FROM cum, tot WHERE ckeys * 100 >= 99 * n_keys) AS p99_f
)
SELECT tot.n_keys, tot.n_rows, tot.max_f,
       CAST(1000000 * tot.max_f // tot.n_rows AS BIGINT) AS top1_share_ppm,
       CAST(pct.p50_f AS BIGINT) AS p50_freq,
       CAST(pct.p90_f AS BIGINT) AS p90_freq,
       CAST(pct.p99_f AS BIGINT) AS p99_freq
FROM tot, pct
"""


@register("agg_key_skew_profile", oracle=_SKW_ORACLE)
def agg_key_skew_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-key skew profile of lineitem.l_partkey: exact frequency
    percentiles (p50/p90/p99 over keys), the hottest key's row share in
    ppm, and the max frequency — the measurement that decides whether a
    shuffle join on this key needs salting or AQE skew handling (this
    repo's own scale doctrine, turned into a first-class query; a
    top1_share above ~1/parallelism ppm means one task owns a straggler
    key).

    Scale shape: one input-sized frequency aggregate, then everything
    runs on the frequency-OF-frequency relation (bounded by distinct
    frequency VALUES — the stats_kruskal_wallis histogram trick), with
    exact percentiles as minimum-f-at-cumulative-quantile over its
    ordered cumulation."""
    freq = (
        load(spark, sf_dir, "lineitem")
        .groupBy(F.col("l_partkey").alias("k"))
        .agg(F.count("*").cast("bigint").alias("f"))
    )
    ff = scratch_persist(
        freq.groupBy("f").agg(F.count("*").cast("bigint").alias("nk"))
    )
    tot = ff.agg(
        F.sum("nk").cast("bigint").alias("n_keys"),
        F.sum(F.expr("f * nk")).cast("bigint").alias("n_rows"),
        F.max("f").cast("bigint").alias("max_f"),
    )
    cum = ff.select(
        "f",
        F.sum("nk")
        .over(Window.orderBy("f").rowsBetween(Window.unboundedPreceding, 0))
        .cast("bigint")
        .alias("ckeys"),
    )
    pcts = (
        cum.crossJoin(F.broadcast(tot))
        .agg(
            F.min(F.expr("CASE WHEN ckeys * 2 >= n_keys THEN f END")).alias(
                "p50_f"
            ),
            F.min(
                F.expr("CASE WHEN ckeys * 10 >= 9 * n_keys THEN f END")
            ).alias("p90_f"),
            F.min(
                F.expr("CASE WHEN ckeys * 100 >= 99 * n_keys THEN f END")
            ).alias("p99_f"),
        )
    )
    return tot.crossJoin(F.broadcast(pcts)).select(
        "n_keys",
        "n_rows",
        "max_f",
        F.expr("CAST(1000000 * max_f div n_rows AS BIGINT)").alias(
            "top1_share_ppm"
        ),
        F.col("p50_f").cast("bigint").alias("p50_freq"),
        F.col("p90_f").cast("bigint").alias("p90_freq"),
        F.col("p99_f").cast("bigint").alias("p99_freq"),
    )


# ---------------------------------------------------------------------------
# graph_two_hop_reach_topk
# ---------------------------------------------------------------------------

_THR_SEED_MOD = 200
_THR_TOP = 20

_THR_ORACLE = f"""
WITH cs AS (
  SELECT DISTINCT o_custkey AS c, l_suppkey AS s
  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
  WHERE o_custkey IS NOT NULL AND l_suppkey IS NOT NULL
),
seeds AS (SELECT c_custkey AS seed FROM customer
          WHERE c_custkey % {_THR_SEED_MOD} = 0),
hop1 AS (  -- seed customer -> supplier nodes
  SELECT seeds.seed, {_OFFSET} + cs.s AS node
  FROM seeds JOIN cs ON cs.c = seeds.seed
),
hop2 AS (  -- supplier -> customer nodes (excluding the seed itself)
  SELECT h.seed, b.c AS node
  FROM hop1 h JOIN cs b ON {_OFFSET} + b.s = h.node
  WHERE b.c <> h.seed
),
reach AS (
  SELECT seed, CAST(COUNT(DISTINCT node) AS BIGINT) AS n_reach
  FROM (SELECT seed, node FROM hop1 UNION ALL SELECT seed, node FROM hop2)
  GROUP BY seed
)
SELECT CAST(seed AS BIGINT) AS seed, n_reach FROM reach
ORDER BY n_reach DESC, seed ASC LIMIT {_THR_TOP}
"""


@register("graph_two_hop_reach_topk", oracle=_THR_ORACLE)
@fdoc(f"""Two-hop reach (friends-of-friends audience size) per seed: for
    every {_THR_SEED_MOD}-th customer, the number of DISTINCT nodes
    within ≤2 hops on the bipartite trade graph (its suppliers, plus
    the other customers of those suppliers) — top-{_THR_TOP}.
    graph_bfs_multisource assigns each node its level across ALL
    sources pooled; this keeps reach PER SEED, the audience-estimation
    shape (ad reach, contagion fan-out).

    Scale shape: the seed set is 1/{_THR_SEED_MOD} of customers, so
    hop frames stay seed-bounded; both hops are keyed joins against
    the one persisted edge list, and the distinct-count is a
    seed-keyed aggregate. The supplier-side fan-in (a popular
    supplier's full customer list) is the quantity being measured —
    output-bounded work, the same justification as the wedge ops.""")
def graph_two_hop_reach_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    cs = scratch_persist(cust_supp_pairs(spark, sf_dir).distinct())
    seeds = (
        load(spark, sf_dir, "customer")
        .filter(F.col("c_custkey") % _THR_SEED_MOD == 0)
        .select(F.col("c_custkey").alias("seed"))
    )
    hop1 = seeds.join(cs, seeds.seed == cs.c).select(
        "seed", (F.lit(_OFFSET) + F.col("s")).alias("node")
    )
    hop2 = (
        hop1.join(
            cs.select((F.lit(_OFFSET) + F.col("s")).alias("sn"), "c"),
            F.col("node") == F.col("sn"),
        )
        .filter(F.col("c") != F.col("seed"))
        .select("seed", F.col("c").alias("node"))
    )
    reach = (
        hop1.unionByName(hop2)
        .groupBy("seed")
        .agg(F.countDistinct("node").cast("bigint").alias("n_reach"))
    )
    return (
        reach.select(F.col("seed").cast("bigint").alias("seed"), "n_reach")
        .orderBy(F.desc("n_reach"), F.asc("seed"))
        .limit(_THR_TOP)
    )
