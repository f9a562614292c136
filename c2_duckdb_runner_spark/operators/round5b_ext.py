"""Round-5 batch B: personalized PageRank, transition entropy, MoE balance.

- PERSONALIZED PAGERANK (seed-teleport power iteration): the link-based
  corpus-quality signal where the random surfer restarts at a TRUSTED
  SEED SET instead of uniformly — TrustRank-style weighting for crawl
  curation. Same exact-integer iteration contract as
  graph_pagerank_iterations (graph.py): unrolled DuckDB CTE chain replays
  every round bit-for-bit.
- CONDITIONAL ENTROPY of the user event-transition process: H(next|cur)
  vs the marginal H(next) — how much the current event type predicts the
  next one; the chain rule gives mutual information as the difference.
  Same ordered-ln-fold determinism contract as mixture_kl_divergence.
- MoE ROUTER BALANCE: per-expert load vs capacity for a hash router and
  one auxiliary-loss-free bias-update step (sign rule) — the
  load-balancing audit a Mixture-of-Experts training pipeline runs per
  batch, in pure integers.

Reference reach: the delegated SQL surface (``main.cc:181-182``); graph
and info-theory members extend the first-class LLM-pipeline families.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from c2_duckdb_runner_spark.operators.graph import _EDGES_SQL, _OFFSET, _edges
from c2_duckdb_runner_spark.registry import fdoc, register
from c2_duckdb_runner_spark.session import scratch_persist, shuffle_width
from c2_duckdb_runner_spark.tables import load

# ---------------------------------------------------------------------------
# graph_ppr_seed_teleport
# ---------------------------------------------------------------------------

_PPR_ITERS = 3
_PPR_SEED_MOD = 50  # customer nodes with id % 50 == 0 are the trust seeds
_PPR_TOP = 15

_PPR_SEED_SQL = f"(id % {_PPR_SEED_MOD} = 0 AND id < {_OFFSET})"


def _ppr_oracle() -> str:
    """Unroll _PPR_ITERS exact seed-teleport steps as a CTE chain."""
    ctes = [
        f"edges AS ({_EDGES_SQL})",
        "nodes AS (SELECT DISTINCT src AS id FROM edges "
        "UNION SELECT DISTINCT dst FROM edges)",
        "deg AS (SELECT src, COUNT(*) AS outdeg FROM edges GROUP BY src)",
        f"r0 AS (SELECT id, CAST(CASE WHEN {_PPR_SEED_SQL} THEN 1000000 "
        "ELSE 0 END AS BIGINT) AS r FROM nodes)",
    ]
    for i in range(1, _PPR_ITERS + 1):
        ctes.append(
            f"c{i} AS (SELECT e.dst AS id, SUM(r{i-1}.r // d.outdeg) AS s "
            f"FROM edges e JOIN r{i-1} ON r{i-1}.id = e.src "
            "JOIN deg d ON d.src = e.src GROUP BY e.dst)"
        )
        ctes.append(
            f"r{i} AS (SELECT n.id, CAST(CASE WHEN n.id % {_PPR_SEED_MOD} = 0"
            f" AND n.id < {_OFFSET} "
            f"THEN 150000 ELSE 0 END + (850 * COALESCE(c{i}.s, 0)) // 1000 "
            f"AS BIGINT) AS r FROM nodes n "
            f"LEFT JOIN c{i} ON c{i}.id = n.id)"
        )
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"""
SELECT id AS node, r AS rank_micros,
       CAST(CASE WHEN {_PPR_SEED_SQL} THEN 1 ELSE 0 END AS INT) AS is_seed
FROM r{_PPR_ITERS}
ORDER BY rank_micros DESC, node ASC LIMIT {_PPR_TOP}"""
    )


@register("graph_ppr_seed_teleport", oracle=_ppr_oracle())
@fdoc(f"""Personalized PageRank: the teleport term lands ONLY on the seed set
    (customer nodes ≡ 0 mod {_PPR_SEED_MOD}), so rank measures proximity
    to trusted nodes, not global centrality — TrustRank, the standard
    seed-propagated quality score for crawl corpora. {_PPR_ITERS} exact
    integer rounds (damping 0.85, micro-units); top-{_PPR_TOP}.

    Scale shape (round-7 rewrite, reclaiming the round-6 regression the
    node-set correctness fix introduced): the rank vector is kept SPARSE.
    r_i(id) = tele(id) + (850·s_i(id)) div 1000 with tele a pure function
    of the id, so only the contribution sums s_i (the dst-keyed aggregate
    each round already produces) ever materialize — the teleport term is
    folded analytically into the edge-side expression at the next round's
    join, and the FULL node set (src ∪ dst, per the round-5 ADVICE: a
    zero-in-degree seed must keep its teleport mass) is touched exactly
    ONCE, in the final output join, instead of once per round. Round 1
    needs no rank join at all (r0 is the teleport vector, a function of
    the edge's own src). Per round: one src-co-partitioned left join of
    the persisted edge+outdeg relation against the N-row contribution
    frame + one dst-keyed aggregate; contributions localCheckpoint per
    round to truncate lineage. The oracle unrolls the rounds as a CTE
    chain and is unchanged — the sparse form is an algebraic
    substitution, hash-verified identical.

    Three further costs removed (profiled at sf0.1): (1) outdeg comes
    from a src-partitioned window count on the ONE persisted edge frame
    (the old separate degree aggregate + join materialized the edges
    twice); (2) no per-round localCheckpoint — {_PPR_ITERS} bounded
    rounds compile into one DAG (checkpointing pays a per-round barrier
    and buys nothing until round counts grow the plan); (3) the full
    node set is never DISTINCTed: contrib's key set IS the distinct dst
    set (the dst-keyed aggregate over all edges), so only src-minus-dst
    nodes need adding — a no-exchange distinct over the already
    src-partitioned frame plus an N-row co-partitioned anti join.""")
def graph_ppr_seed_teleport(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    edges_deg = scratch_persist(
        _edges(spark, sf_dir)
        .repartition(shuffle_width(spark), "src")
        .withColumn("outdeg", F.count("*").over(Window.partitionBy("src")))
    )
    seed_case = (
        f"CASE WHEN id % {_PPR_SEED_MOD} = 0 AND id < {_OFFSET}"
        " THEN 1 ELSE 0 END"
    )
    tele_src = (
        f"CASE WHEN src % {_PPR_SEED_MOD} = 0 AND src < {_OFFSET}"
        " THEN 150000 ELSE 0 END"
    )
    # round 1: r0 is the teleport-only vector (seeds at 1e6), a pure
    # function of src — no rank join
    contrib = (
        edges_deg.select(
            "dst",
            F.expr(
                f"(CASE WHEN src % {_PPR_SEED_MOD} = 0 AND src < {_OFFSET}"
                " THEN 1000000 ELSE 0 END) div outdeg"
            ).alias("c"),
        )
        .groupBy("dst")
        .agg(F.sum("c").alias("s"))
    )
    for _ in range(_PPR_ITERS - 1):
        prev = contrib.select(F.col("dst").alias("src"), "s")
        contrib = (
            edges_deg.join(prev, "src", "left")
            .select(
                "dst",
                F.expr(
                    f"(({tele_src}) + (850 * COALESCE(s, 0L)) div 1000)"
                    " div outdeg"
                ).alias("c"),
            )
            .groupBy("dst")
            .agg(F.sum("c").alias("s"))
        )
    # node set = src ∪ dst without a corpus-wide distinct: contrib's key
    # set is exactly the distinct dst set, so only src-minus-dst nodes
    # (teleport-only, rank = tele(id)) need appending
    src_only = (
        edges_deg.select("src")
        .distinct()
        .join(contrib.select(F.col("dst").alias("src")), "src", "left_anti")
    )
    pool = contrib.select(
        F.col("dst").alias("id"),
        F.expr("850 * COALESCE(s, 0L) div 1000").alias("flow"),
    ).unionByName(src_only.select(F.col("src").alias("id"), F.lit(0).cast("bigint").alias("flow")))
    out = (
        pool.select(
            F.col("id").alias("node"),
            F.expr(
                f"CAST(CASE WHEN id % {_PPR_SEED_MOD} = 0"
                f" AND id < {_OFFSET} THEN 150000 ELSE 0 END"
                " + flow AS BIGINT)"
            ).alias("rank_micros"),
            F.expr(f"CAST({seed_case} AS INT)").alias("is_seed"),
        )
        .orderBy(F.desc("rank_micros"), F.asc("node"))
        .limit(_PPR_TOP)
    )
    return out


# ---------------------------------------------------------------------------
# stats_conditional_entropy
# ---------------------------------------------------------------------------

_CENT_ORACLE = """
WITH seq AS (
  SELECT event_type AS x,
         LEAD(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
           AS y
  FROM events
),
cells AS (
  SELECT x, y, CAST(COUNT(*) AS BIGINT) AS nxy
  FROM seq WHERE y IS NOT NULL GROUP BY 1, 2
),
t AS (
  SELECT x, y, nxy,
         CAST(SUM(nxy) OVER (PARTITION BY x) AS BIGINT) AS nx,
         CAST(SUM(nxy) OVER (PARTITION BY y) AS BIGINT) AS ny,
         CAST(SUM(nxy) OVER () AS BIGINT) AS nt
  FROM cells
),
arr AS (
  SELECT list((nxy, nx) ORDER BY x, y) AS cxy,
         list(DISTINCT (y, ny) ORDER BY (y, ny)) AS cy,
         CAST(MAX(nt) AS BIGINT) AS n_trans,
         CAST(COUNT(*) AS BIGINT) AS n_cells
  FROM t
)
SELECT n_trans, n_cells,
  ROUND(-list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
    list_transform(cxy, c ->
      (CAST(c[1] AS DOUBLE) / CAST(n_trans AS DOUBLE))
      * ln(CAST(c[1] AS DOUBLE) / CAST(c[2] AS DOUBLE)))),
    (acc, v) -> acc + v), 6) AS h_cond_r6,
  ROUND(-list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
    list_transform(cy, c ->
      (CAST(c[2] AS DOUBLE) / CAST(n_trans AS DOUBLE))
      * ln(CAST(c[2] AS DOUBLE) / CAST(n_trans AS DOUBLE)))),
    (acc, v) -> acc + v), 6) AS h_marginal_r6
FROM arr
"""


@register("stats_conditional_entropy", oracle=_CENT_ORACLE)
def stats_conditional_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional entropy H(next event | current event) of the per-user
    event-transition process vs the marginal H(next): how much knowing
    the current step predicts the next (their difference is the mutual
    information, and H(Y|X) ≤ H(Y) always — pinned by invariant test).
    The sequence-predictability number a session-model or curriculum
    scheduler reads before fitting anything.

    Scale shape: one LEAD window PARTITIONED by user builds transitions;
    everything after runs on the |types|² cell table. Both entropies are
    left-to-right ln folds over deterministically ORDERED bounded arrays
    (the mixture_kl_divergence float-determinism contract)."""
    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        F.col("event_type").alias("x"),
        F.lead("event_type").over(w).alias("y"),
    ).filter(F.col("y").isNotNull())
    cells = seq.groupBy("x", "y").agg(
        F.count("*").cast("bigint").alias("nxy")
    )
    t = cells.select(
        "x",
        "y",
        "nxy",
        F.sum("nxy").over(Window.partitionBy("x")).cast("bigint").alias("nx"),
        F.sum("nxy").over(Window.partitionBy("y")).cast("bigint").alias("ny"),
    )
    arr = t.agg(
        F.expr("array_sort(collect_list(struct(x, y, nxy, nx)))").alias("cxy"),
        F.expr(
            "array_sort(collect_set(struct(y, ny)))"
        ).alias("cy"),
        F.sum("nxy").cast("bigint").alias("n_trans"),
        F.count("*").cast("bigint").alias("n_cells"),
    )
    return arr.select(
        "n_trans",
        "n_cells",
        F.round(
            F.expr(
                """
                -aggregate(cxy, CAST(0.0 AS DOUBLE), (acc, c) -> acc +
                  (CAST(c.nxy AS DOUBLE) / CAST(n_trans AS DOUBLE))
                  * ln(CAST(c.nxy AS DOUBLE) / CAST(c.nx AS DOUBLE)))
                """
            ),
            6,
        ).alias("h_cond_r6"),
        F.round(
            F.expr(
                """
                -aggregate(cy, CAST(0.0 AS DOUBLE), (acc, c) -> acc +
                  (CAST(c.ny AS DOUBLE) / CAST(n_trans AS DOUBLE))
                  * ln(CAST(c.ny AS DOUBLE) / CAST(n_trans AS DOUBLE)))
                """
            ),
            6,
        ).alias("h_marginal_r6"),
    )


# ---------------------------------------------------------------------------
# pipeline_moe_balance_round
# ---------------------------------------------------------------------------

_MOE_EXPERTS = 16
_MOE_STEP_MILLI = 1000  # aux-free bias update step, milli-units

_MOE_ORACLE = f"""
WITH routed AS (
  SELECT CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 15)
              AS BIGINT) % {_MOE_EXPERTS} AS expert
  FROM documents
),
n AS (SELECT CAST(COUNT(*) AS BIGINT) AS nt FROM routed),
spine AS (SELECT unnest(range({_MOE_EXPERTS})) AS expert),
load AS (
  SELECT s.expert, CAST(COALESCE(l.c, 0) AS BIGINT) AS load
  FROM spine s LEFT JOIN
       (SELECT expert, COUNT(*) AS c FROM routed GROUP BY 1) l
    ON l.expert = s.expert
)
SELECT CAST(load.expert AS INT) AS expert, load.load,
       CAST((n.nt + {_MOE_EXPERTS - 1}) // {_MOE_EXPERTS} AS BIGINT)
         AS capacity,
       CAST(GREATEST(load.load
            - (n.nt + {_MOE_EXPERTS - 1}) // {_MOE_EXPERTS}, 0) AS BIGINT)
         AS overflow,
       CAST(CASE
         WHEN load.load > (n.nt + {_MOE_EXPERTS - 1}) // {_MOE_EXPERTS}
           THEN -{_MOE_STEP_MILLI}
         WHEN load.load < (n.nt + {_MOE_EXPERTS - 1}) // {_MOE_EXPERTS}
           THEN {_MOE_STEP_MILLI}
         ELSE 0 END AS BIGINT) AS bias_update_milli
FROM load CROSS JOIN n
"""


@register("pipeline_moe_balance_round", oracle=_MOE_ORACLE)
@fdoc(f"""Mixture-of-Experts router balance audit + one AUXILIARY-LOSS-FREE
    bias update: route every document to one of {_MOE_EXPERTS} experts
    (deterministic md5 router proxy), compare per-expert load to the even
    capacity ceil(n/{_MOE_EXPERTS}), and emit the sign-rule bias step
    (overloaded expert → bias down, underloaded → bias up) that
    aux-free MoE balancing applies between batches instead of an
    auxiliary loss term. Pure integers; the full {_MOE_EXPERTS}-row spine
    is emitted even for empty experts (a dead expert is the finding).

    Scale shape: one map-side-combining aggregate to {_MOE_EXPERTS}
    counters + a broadcast 1-row total — constant-size output regardless
    of corpus.""")
def pipeline_moe_balance_round(spark: SparkSession, sf_dir: str) -> DataFrame:
    routed = load(spark, sf_dir, "documents").select(
        F.expr(
            "CAST(conv(substring(md5(CAST(doc_id AS STRING)), 1, 15),"
            f" 16, 10) AS BIGINT) % {_MOE_EXPERTS}"
        ).alias("expert")
    )
    n = routed.agg(F.count("*").cast("bigint").alias("nt"))
    spine = spark.range(_MOE_EXPERTS).select(F.col("id").alias("expert"))
    loads = spine.join(
        routed.groupBy("expert").agg(F.count("*").alias("c")),
        "expert",
        "left",
    ).select("expert", F.coalesce("c", F.lit(0)).cast("bigint").alias("load"))
    cap = f"(nt + {_MOE_EXPERTS - 1}) div {_MOE_EXPERTS}"
    return loads.crossJoin(F.broadcast(n)).select(
        F.col("expert").cast("int").alias("expert"),
        "load",
        F.expr(f"CAST({cap} AS BIGINT)").alias("capacity"),
        F.expr(f"CAST(GREATEST(load - {cap}, 0) AS BIGINT)").alias("overflow"),
        F.expr(
            f"CAST(CASE WHEN load > {cap} THEN -{_MOE_STEP_MILLI}"
            f" WHEN load < {cap} THEN {_MOE_STEP_MILLI}"
            " ELSE 0 END AS BIGINT)"
        ).alias("bias_update_milli"),
    )
