"""Round-4 Markov-attribution / basket-affinity / privacy-generalization
extensions.

- MARKOV REMOVAL-EFFECT ATTRIBUTION (Anderl et al., 2016 — the
  "data-driven attribution" model): build the journey transition chain
  (touch states → CONV/NULL absorbing), compute conversion mass by
  power iteration, then re-run with each channel REMOVED (mass entering
  or leaving it dies) — a channel's credit is how much conversion
  disappears without it. The principled alternative to positional rules
  like attribution_multitouch_ushape, here fully integer: micro-unit
  vectors, truncating division at every step, absorbing states modeled
  as self-loops so one iteration loop carries all five runs at once;
- BASKET AFFINITY (market-basket lift): brand pairs bought together in
  one order, with support/confidence/lift as exact micro-ratios — the
  transaction-level companion to text_cooccurrence_pairs;
- GENERALIZATION LADDER for k-anonymity: quasi-identifier groups that
  fail k at (nation, segment) escalate to (region, segment) — the
  Samarati-style generalization step that privacy_k_anonymity_audit
  only diagnoses.

Reference reach: the delegated SQL slot (``main.cc:181-182``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from c2_duckdb_runner_spark.registry import fdoc, register
from c2_duckdb_runner_spark.tables import load

# ---------------------------------------------------------------------------
# attribution_markov_removal
# ---------------------------------------------------------------------------

_MKV_ROUNDS = 8
_CHANNELS = ("click", "error", "signup", "view")  # transient states, sorted

_MKV_BASE_SQL = """
ordered AS (
  SELECT user_id, event_type, ts, event_id,
         MIN(CASE WHEN event_type = 'purchase' THEN ts END)
           OVER (PARTITION BY user_id) AS fp,
         ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
  FROM events
),
journey AS (
  SELECT user_id,
         CASE WHEN event_type = 'purchase' THEN 'CONV' ELSE event_type END
           AS state,
         rn
  FROM ordered
  WHERE fp IS NULL OR ts <= fp
),
hops AS (
  SELECT user_id, state AS cur,
         COALESCE(LEAD(state) OVER (PARTITION BY user_id ORDER BY rn),
                  CASE WHEN state = 'CONV' THEN NULL ELSE 'NULL' END) AS nxt
  FROM journey
),
tcnt AS (
  SELECT cur, nxt, CAST(COUNT(*) AS BIGINT) AS c
  FROM hops WHERE nxt IS NOT NULL AND cur <> 'CONV'
  GROUP BY cur, nxt
),
p AS (
  SELECT cur, nxt,
         (1000000 * c) // CAST(SUM(c) OVER (PARTITION BY cur) AS BIGINT)
           AS pm
  FROM tcnt
  UNION ALL SELECT 'CONV', 'CONV', 1000000
  UNION ALL SELECT 'NULL', 'NULL', 1000000
),
starts AS (
  SELECT state, CAST(COUNT(*) AS BIGINT) AS c
  FROM journey WHERE rn = 1 GROUP BY state
),
runs AS (
  SELECT unnest(['BASE', 'click', 'error', 'signup', 'view']) AS run
),
v0 AS (
  SELECT run, state,
         (1000000 * c) // CAST((SELECT SUM(c) FROM starts) AS BIGINT) AS v
  FROM starts CROSS JOIN runs
  WHERE state <> run
)"""


def _mkv_oracle() -> str:
    ctes = [_MKV_BASE_SQL.strip()]
    for t in range(1, _MKV_ROUNDS + 1):
        ctes.append(
            f"""v{t} AS (
  SELECT v.run, p.nxt AS state,
         CAST(SUM(v.v * p.pm) // 1000000 AS BIGINT) AS v
  FROM v{t-1} v JOIN p ON p.cur = v.state
  WHERE p.nxt <> v.run
  GROUP BY v.run, p.nxt
)"""
        )
    last = f"v{_MKV_ROUNDS}"
    return (
        "WITH "
        + ",\n".join(ctes)
        + f""",
conv AS (
  SELECT run, CAST(COALESCE(SUM(CASE WHEN state = 'CONV' THEN v END), 0)
              AS BIGINT) AS conv_micro
  FROM {last} GROUP BY run
),
base AS (SELECT conv_micro AS base_micro FROM conv WHERE run = 'BASE'),
eff AS (
  SELECT run AS channel,
         conv_micro AS conv_without_micro,
         CAST(GREATEST(base_micro - conv_micro, 0) AS BIGINT) AS effect_micro
  FROM conv CROSS JOIN base WHERE run <> 'BASE'
),
tote AS (SELECT CAST(SUM(effect_micro) AS BIGINT) AS te FROM eff)
SELECT channel, conv_without_micro, effect_micro,
       CAST(CASE WHEN te = 0 THEN 0
            ELSE (1000000 * effect_micro) // te END AS BIGINT) AS share_micro
FROM eff CROSS JOIN tote
"""
    )


@register("attribution_markov_removal", oracle=_mkv_oracle())
@fdoc(f"""Markov removal-effect attribution: journeys (per-user event
    sequences truncated at the first purchase → CONV; journeys without
    one end in NULL) define a transition matrix; conversion mass is the
    CONV component after {_MKV_ROUNDS} power iterations with absorbing
    self-loops; each channel's credit is the conversion that VANISHES
    when mass may neither enter nor leave that channel. All five runs
    (base + four removals) ride ONE iteration loop — the run is just a
    key column on the (run, state, mass) vector, and the removal is the
    join filter nxt ≠ run on the shared broadcast matrix. Integer
    micro-units with truncating division at every step make all five
    fixed points bit-identical cross-engine.

    Scale shape: the corpus appears exactly once (journey extraction =
    one user-keyed window pass + one transition count); after that the
    state space is k+2 rows per run, so each iteration is a broadcast
    join over ≤ 30 rows. This is the production shape of data-driven
    attribution: the chain is tiny, the event log is not.

    r11 optimization round: the hop relation (post-window, pre-
    aggregation) carries rn and feeds TWO tiny eagerly
    localCheckpoint-ed aggregates — the transition counts and the
    journey-start counts, both ≤ (k+2)² rows; the
    checkpoint truncates their lineage, so the 8-round unrolled loop
    plans over two ~30-row leaves instead of re-embedding the full
    two-window journey subtree at every round (the pre-r11 plan was
    400 Exchange nodes / 400 KB of formatted plan — Catalyst planning
    dominated the wall, and the measured alternative of persisting hops
    alone made it WORSE, 6.5 s → 16.8 s, because the unrolled plan still
    re-embedded the cached subtree everywhere). Each checkpoint pays one
    parallel journey pass (persisting hops to share a single pass was
    ALSO measured slower than just recomputing — cache write + cached-
    plan matching cost more than the 1 s pass); the loop then runs over
    two ~30-row LogicalRDD leaves — per round one broadcast join and one
    tiny aggregate. Measured 6.5 s → ~3.9 s at sf0.1.""")
def attribution_markov_removal(spark: SparkSession, sf_dir: str) -> DataFrame:
    # plain load (measured): the journey windows bring their own
    # user_id exchange, so the pass is already parallel — a load_spread
    # repartition here just pays a redundant shuffle (2.2–5.9 s vs 1.1 s)
    ev = load(spark, sf_dir, "events")
    wu = Window.partitionBy("user_id")
    ordered = ev.select(
        "user_id",
        "event_type",
        "ts",
        "event_id",
        F.min(F.when(F.col("event_type") == "purchase", F.col("ts"))).over(wu).alias(
            "fp"
        ),
        F.row_number().over(wu.orderBy("ts", "event_id")).alias("rn"),
    )
    journey = ordered.filter(
        F.col("fp").isNull() | (F.col("ts") <= F.col("fp"))
    ).select(
        "user_id",
        F.when(F.col("event_type") == "purchase", "CONV")
        .otherwise(F.col("event_type"))
        .alias("state"),
        "rn",
    )
    hops = journey.select(
        "rn",
        F.coalesce(
            F.lead("state").over(wu.orderBy("rn")),
            F.when(F.col("state") == "CONV", F.lit(None)).otherwise("NULL"),
        ).alias("nxt"),
        F.col("state").alias("cur"),
    )
    tcnt = (
        hops.filter(F.col("nxt").isNotNull() & (F.col("cur") != "CONV"))
        .groupBy("cur", "nxt")
        .agg(F.count("*").cast("bigint").alias("c"))
    )
    p = (
        tcnt.select(
            "cur",
            "nxt",
            F.expr(
                "(1000000 * c) div CAST(SUM(c) OVER (PARTITION BY cur)"
                " AS BIGINT)"
            ).alias("pm"),
        )
        .unionByName(
            spark.createDataFrame(
                [("CONV", "CONV", 1000000), ("NULL", "NULL", 1000000)],
                "cur string, nxt string, pm long",
            )
        )
        .localCheckpoint(eager=True)  # ~30-row leaf for the 8-round loop
        # (natural partitioning: coalesce(1) collapses the upstream
        # corpus stage into one task — measured 5.8 s vs 0.9 s — and
        # repartition(1) pays an extra stage; both measured worse)
    )
    # journey starts from the SAME persisted hop relation (cur = the
    # journey row's own state; rn rode along for exactly this)
    starts = (
        hops.filter(F.col("rn") == 1)
        .groupBy(F.col("cur").alias("state"))
        .agg(F.count("*").cast("bigint").alias("c"))
        .localCheckpoint(eager=True)  # ≤ k+2 rows
    )
    tot = starts.agg(F.sum("c").cast("bigint").alias("tc"))
    runs = spark.createDataFrame(
        [("BASE",)] + [(c,) for c in _CHANNELS], "run string"
    ).limit(len(_CHANNELS) + 1)  # createDataFrame plans as an opaque
    # ExistingRDD scan; the limit reasserts the literal row bound for
    # the loop-join ban
    v = (
        starts.crossJoin(F.broadcast(tot))
        .crossJoin(F.broadcast(runs))
        .filter(F.col("state") != F.col("run"))
        .select(
            "run", "state", F.expr("(1000000 * c) div tc").alias("v")
        )
    )
    p_b = F.broadcast(p)
    for _ in range(_MKV_ROUNDS):
        v = (
            v.join(p_b, F.col("state") == F.col("cur"))
            .filter(F.col("nxt") != F.col("run"))
            .groupBy("run", F.col("nxt").alias("state"))
            .agg(F.expr("CAST(SUM(v * pm) div 1000000 AS BIGINT)").alias("v"))
        )
    conv = v.groupBy("run").agg(
        F.coalesce(
            F.sum(F.when(F.col("state") == "CONV", F.col("v"))), F.lit(0)
        )
        .cast("bigint")
        .alias("conv_micro")
    )
    base = conv.filter(F.col("run") == "BASE").select(
        F.col("conv_micro").alias("base_micro")
    )
    eff = (
        conv.filter(F.col("run") != "BASE")
        .crossJoin(F.broadcast(base))
        .select(
            F.col("run").alias("channel"),
            F.col("conv_micro").alias("conv_without_micro"),
            F.greatest(F.col("base_micro") - F.col("conv_micro"), F.lit(0))
            .cast("bigint")
            .alias("effect_micro"),
        )
    )
    tote = eff.agg(F.sum("effect_micro").cast("bigint").alias("te"))
    return eff.crossJoin(F.broadcast(tote)).select(
        "channel",
        "conv_without_micro",
        "effect_micro",
        F.expr(
            "CAST(CASE WHEN te = 0 THEN 0"
            " ELSE (1000000 * effect_micro) div te END AS BIGINT)"
        ).alias("share_micro"),
    )


# ---------------------------------------------------------------------------
# agg_basket_affinity_lift
# ---------------------------------------------------------------------------

_BASKET_MIN_SUPPORT = 5
_BASKET_TOP = 15


@register(
    "agg_basket_affinity_lift",
    oracle=f"""
WITH items AS (
  SELECT DISTINCT l_orderkey AS ok, p_brand AS b
  FROM lineitem JOIN part ON l_partkey = p_partkey
),
nb AS (SELECT CAST(COUNT(DISTINCT ok) AS BIGINT) AS n_orders FROM items),
sup AS (SELECT b, CAST(COUNT(*) AS BIGINT) AS s FROM items GROUP BY b),
pairs AS (
  SELECT a.b AS b1, c.b AS b2, CAST(COUNT(*) AS BIGINT) AS sxy
  FROM items a JOIN items c ON a.ok = c.ok AND a.b < c.b
  GROUP BY a.b, c.b HAVING COUNT(*) >= {_BASKET_MIN_SUPPORT}
)
SELECT b1, b2, sxy,
       CAST((1000000 * sxy) // s1.s AS BIGINT) AS conf_micro,
       CAST((CAST(1000000 * sxy AS HUGEINT) * n_orders) // (s1.s * s2.s)
            AS BIGINT) AS lift_micro
FROM pairs
JOIN sup s1 ON s1.b = pairs.b1
JOIN sup s2 ON s2.b = pairs.b2
CROSS JOIN nb
ORDER BY lift_micro DESC, b1, b2 LIMIT {_BASKET_TOP}
""",
)
def agg_basket_affinity_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket affinity between part brands: pairs bought in the
    same order, ranked by lift = P(xy)/(P(x)·P(y)) with
    confidence = P(y|x), both exact micro-ratios (lift through
    HUGEINT/DECIMAL — sxy·N·10⁶ clears 2⁶³ at warehouse scale). Lift > 1
    means the pair co-occurs beyond chance — the signal behind
    recommendation rules.

    Scale shape: the basket relation is (order, brand) DISTINCT (one
    keyed dedup); the pair join keys on the order id with per-order
    fanout bounded by the basket size (brand count per order — single
    digits here, never the catalog); brand supports and the order count
    broadcast back. The final ranking is a TakeOrdered."""
    items = (
        load(spark, sf_dir, "lineitem")
        .join(
            load(spark, sf_dir, "part").select("p_partkey", "p_brand"),
            F.col("l_partkey") == F.col("p_partkey"),
        )
        .select(F.col("l_orderkey").alias("ok"), F.col("p_brand").alias("b"))
        .distinct()
    )
    from c2_duckdb_runner_spark.session import scratch_persist

    items = scratch_persist(items)
    nb = items.select("ok").distinct().agg(
        F.count("*").cast("bigint").alias("n_orders")
    )
    sup = items.groupBy("b").agg(F.count("*").cast("bigint").alias("s"))
    a, c = items.alias("a"), items.alias("c")
    pairs = (
        a.join(c, (F.col("a.ok") == F.col("c.ok")) & (F.col("a.b") < F.col("c.b")))
        .groupBy(F.col("a.b").alias("b1"), F.col("c.b").alias("b2"))
        .agg(F.count("*").cast("bigint").alias("sxy"))
        .filter(F.col("sxy") >= _BASKET_MIN_SUPPORT)
    )
    return (
        pairs.join(
            F.broadcast(sup.selectExpr("b AS b1", "s AS s1")), "b1"
        )
        .join(F.broadcast(sup.selectExpr("b AS b2", "s AS s2")), "b2")
        .crossJoin(F.broadcast(nb))
        .select(
            "b1",
            "b2",
            "sxy",
            F.expr("CAST((1000000 * sxy) div s1 AS BIGINT)").alias("conf_micro"),
            F.expr(
                "CAST((CAST(1000000 * sxy AS DECIMAL(19,0)) * n_orders)"
                " div (s1 * s2) AS BIGINT)"
            ).alias("lift_micro"),
        )
        .orderBy(F.col("lift_micro").desc(), "b1", "b2")
        .limit(_BASKET_TOP)
    )


# ---------------------------------------------------------------------------
# privacy_generalization_ladder
# ---------------------------------------------------------------------------

_GEN_K = 10


@register(
    "privacy_generalization_ladder",
    oracle=f"""
WITH c AS (
  SELECT c_custkey, c_nationkey, c_mktsegment, n_regionkey
  FROM customer JOIN nation ON c_nationkey = n_nationkey
),
l0 AS (
  SELECT c_nationkey, c_mktsegment, n_regionkey,
         CAST(COUNT(*) OVER (PARTITION BY c_nationkey, c_mktsegment) AS BIGINT)
           AS n0
  FROM c
),
pass0 AS (
  SELECT 0 AS level, CAST(c_nationkey AS BIGINT) AS qi_key, c_mktsegment,
         CAST(COUNT(*) AS BIGINT) AS grp_n, CAST(1 AS INT) AS k_ok
  FROM l0 WHERE n0 >= {_GEN_K} GROUP BY c_nationkey, c_mktsegment
),
esc AS (SELECT n_regionkey, c_mktsegment FROM l0 WHERE n0 < {_GEN_K}),
pass1 AS (
  SELECT 1 AS level, CAST(n_regionkey AS BIGINT) AS qi_key, c_mktsegment,
         CAST(COUNT(*) AS BIGINT) AS grp_n,
         CAST(CASE WHEN COUNT(*) >= {_GEN_K} THEN 1 ELSE 0 END AS INT) AS k_ok
  FROM esc GROUP BY n_regionkey, c_mktsegment
)
SELECT CAST(level AS INT) AS level, qi_key, c_mktsegment, grp_n, k_ok
FROM pass0
UNION ALL
SELECT CAST(level AS INT), qi_key, c_mktsegment, grp_n, k_ok FROM pass1
""",
)
@fdoc(f"""Samarati-style generalization ladder: quasi-identifier groups are
    released at (nation, segment) when they already hide ≥ {_GEN_K}
    individuals; the members of every failing group escalate one rung to
    (region, segment) and are re-counted there (with the k flag showing
    whether even the coarser cell suffices). This is the FIX for what
    privacy_k_anonymity_audit diagnoses — the output is the actual
    generalized release schema, finest granularity that satisfies k per
    cell.

    Scale shape: the nation→region rung is a broadcast dimension join;
    level-0 sizes ride one window over the QI keying, and each rung is
    one keyed aggregate — no row ever visits more than its own two
    cells.""")
def privacy_generalization_ladder(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load(spark, sf_dir, "customer").join(
        F.broadcast(
            load(spark, sf_dir, "nation").select("n_nationkey", "n_regionkey")
        ),
        F.col("c_nationkey") == F.col("n_nationkey"),
    )
    l0 = c.select(
        "c_nationkey",
        "c_mktsegment",
        "n_regionkey",
        F.count("*")
        .over(Window.partitionBy("c_nationkey", "c_mktsegment"))
        .cast("bigint")
        .alias("n0"),
    )
    pass0 = (
        l0.filter(F.col("n0") >= _GEN_K)
        .groupBy("c_nationkey", "c_mktsegment")
        .agg(F.count("*").cast("bigint").alias("grp_n"))
        .select(
            F.lit(0).cast("int").alias("level"),
            F.col("c_nationkey").cast("bigint").alias("qi_key"),
            "c_mktsegment",
            "grp_n",
            F.lit(1).cast("int").alias("k_ok"),
        )
    )
    pass1 = (
        l0.filter(F.col("n0") < _GEN_K)
        .groupBy("n_regionkey", "c_mktsegment")
        .agg(F.count("*").cast("bigint").alias("grp_n"))
        .select(
            F.lit(1).cast("int").alias("level"),
            F.col("n_regionkey").cast("bigint").alias("qi_key"),
            "c_mktsegment",
            "grp_n",
            (F.col("grp_n") >= _GEN_K).cast("int").alias("k_ok"),
        )
    )
    return pass0.unionByName(pass1)
