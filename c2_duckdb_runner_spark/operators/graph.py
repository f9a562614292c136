"""Graph operators over the order network: PageRank and degree profiles.

Graph analytics is outside the reference's own operator set (its SQL slot,
``main.cc:181-182``, could express it only via recursive SQL); it is
first-class in a training-data pipeline — link-based quality scores
(PageRank over a citation/link graph) are a standard corpus-weighting
signal.

Graph: the customer–supplier trade network. Every (customer, supplier)
pair connected through an order is an edge, materialized in BOTH
directions, so the graph is cyclic and ranks keep moving each iteration.
Supplier node ids are offset by 10M to keep the two key spaces disjoint.

Determinism: ranks live as int64 micro-units; per-edge contributions use
integer division, damping is (850 * s) div 1000. Every iteration is exact,
so a programmatically unrolled DuckDB CTE chain replays the whole run
bit-for-bit (same approach as simsearch_kmeans_train).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from c2_duckdb_runner_spark.registry import fdoc, register
from c2_duckdb_runner_spark.session import scratch_persist, shuffle_width
from c2_duckdb_runner_spark.tables import load

_OFFSET = 10_000_000
_ITERS = 3

# NULL endpoints are not graph nodes (r11 hostile pin): a NULL custkey/
# suppkey would ride Spark's null-grouping through aggregation steps but
# drop out of the oracle's equality joins — excluded at the source, both
# sides, in cust_supp_pairs, for every graph operator. Oracles that build
# their own pair list carry this same WHERE clause.
_EDGES_SQL = f"""
  SELECT DISTINCT o_custkey AS src, {_OFFSET} + l_suppkey AS dst
  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
  WHERE o_custkey IS NOT NULL AND l_suppkey IS NOT NULL
  UNION
  SELECT DISTINCT {_OFFSET} + l_suppkey AS src, o_custkey AS dst
  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
  WHERE o_custkey IS NOT NULL AND l_suppkey IS NOT NULL
"""


def cust_supp_pairs(
    spark: SparkSession, sf_dir: str, orders: DataFrame | None = None
) -> DataFrame:
    """(c, s) = (o_custkey, raw l_suppkey) for every orders ⨝ lineitem row,
    NULL endpoints dropped. The one definition of a customer–supplier
    trade edge: every operator on that graph builds on it or on
    ``_edges``.

    Not deduplicated: callers that keep a standing ``repartition(n, "c")``
    dedup inside it, where a ``distinct()`` here would add a shuffle.
    ``orders`` is an optional pre-filtered orders frame (k-core's edge
    sample); it defaults to the whole table."""
    o = orders if orders is not None else load(spark, sf_dir, "orders")
    o = o.select("o_orderkey", "o_custkey")
    l = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    return (
        o.join(l, o.o_orderkey == l.l_orderkey)
        .filter(
            F.col("o_custkey").isNotNull() & F.col("l_suppkey").isNotNull()
        )
        .select(F.col("o_custkey").alias("c"), F.col("l_suppkey").alias("s"))
    )


def _edges(
    spark: SparkSession, sf_dir: str, orders: DataFrame | None = None
) -> DataFrame:
    """The symmetrized edge list ``(src, dst)``: each distinct
    ``cust_supp_pairs`` row in both directions, supplier ids offset by
    ``_OFFSET``.

    Dedup runs BEFORE mirroring: the forward and reverse key spaces are
    disjoint, so distinct-then-mirror equals mirror-then-distinct while
    shuffling |E| pairs instead of 2|E|. The deduped pair list is then
    checkpointed, because the mirror references it twice and the union's
    two identical join+distinct subtrees do NOT collapse under AQE (no
    exchange/stage reuse fired — the sf1 bench event log showed the
    orders⨝lineitem scan+join running once per side); mirroring the
    materialized RDD took graph_pagerank_iterations 3.75 → 2.80 s (A/B at
    sf0.1). The checkpoint is eager, so building this frame — even only to
    explain a plan — already runs a Spark job."""
    pairs = (
        cust_supp_pairs(spark, sf_dir, orders)
        .select("c", (F.lit(_OFFSET) + F.col("s")).alias("s"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    fwd = pairs.select(F.col("c").alias("src"), F.col("s").alias("dst"))
    rev = pairs.select(F.col("s").alias("src"), F.col("c").alias("dst"))
    return fwd.union(rev)


def _pagerank_oracle() -> str:
    """Unroll _ITERS exact integer PageRank steps as a DuckDB CTE chain."""
    ctes = [
        f"edges AS ({_EDGES_SQL})",
        "nodes AS (SELECT DISTINCT src AS id FROM edges "
        "UNION SELECT DISTINCT dst FROM edges)",
        "deg AS (SELECT src, COUNT(*) AS outdeg FROM edges GROUP BY src)",
        "r0 AS (SELECT id, CAST(1000000 AS BIGINT) AS r FROM nodes)",
    ]
    for i in range(1, _ITERS + 1):
        ctes.append(
            f"c{i} AS (SELECT e.dst AS id, SUM(r{i-1}.r // d.outdeg) AS s "
            f"FROM edges e JOIN r{i-1} ON r{i-1}.id = e.src "
            "JOIN deg d ON d.src = e.src GROUP BY e.dst)"
        )
        ctes.append(
            f"r{i} AS (SELECT n.id, CAST(150000 + (850 * COALESCE(c{i}.s, 0)) "
            f"// 1000 AS BIGINT) AS r FROM nodes n "
            f"LEFT JOIN c{i} ON c{i}.id = n.id)"
        )
    return (
        "WITH " + ",\n".join(ctes) + f"\nSELECT id, r AS rank_micros FROM r{_ITERS}"
    )


@register("graph_pagerank_iterations", oracle=_pagerank_oracle())
@fdoc(f"""PageRank, {_ITERS} exact Lloyd-style iterations (damping 0.85,
    integer micro-units). Per iteration: contributions flow src→dst over
    the edge list (one dst-keyed shuffle), damped, and re-joined to the
    node spine for sourceless nodes.

    Scale shape: edges carry their out-degree (joined once up front,
    persisted, partitioned by src); each iteration is edges ⨝ ranks on
    src (co-partitioned after the first round) + one groupBy(dst)
    shuffle. Ranks are localCheckpoint-ed per round so the lineage stays
    flat — the same iterative-algorithm discipline as dedup_cluster_cc
    and simsearch_kmeans_train. Dangling mass: nodes here always have
    out-edges (the graph is symmetrized); the general dangling-node
    redistribution term is deliberately out of scope and documented.""")
def graph_pagerank_iterations(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the edge build (join + symmetrize + distinct) feeds deg, the node
    # spine, and the contribution loop — persist it once or every consumer
    # replays the order⨝lineitem join
    edges = scratch_persist(_edges(spark, sf_dir))
    deg = edges.groupBy("src").agg(F.count("*").alias("outdeg"))
    edges_deg = scratch_persist(
        edges.join(deg, "src").repartition(shuffle_width(spark), "src")
    )
    # Node spine: src ∪ dst — but the graph is SYMMETRIZED, so src set ==
    # dst set == node set, and every node receives at least one
    # contribution each round. The textbook per-iteration LEFT JOIN back to
    # the node spine (for contribution-less nodes) is therefore a provable
    # no-op here: groupBy(dst) already emits every node. Dropping it saves
    # one join per iteration; the oracle keeps the LEFT JOIN form and the
    # hash check proves the equivalence.
    nodes = edges.select(F.col("src").alias("id")).distinct()
    ranks = nodes.select("id", F.lit(1_000_000).cast("long").alias("r"))
    for _ in range(_ITERS):
        ranks = (
            edges_deg.join(ranks, edges_deg.src == ranks.id)
            .select("dst", F.expr("r div outdeg").alias("c"))
            .groupBy("dst")
            .agg(F.sum("c").alias("s"))
            .select(
                F.col("dst").alias("id"),
                (F.lit(150_000) + F.expr("850 * s div 1000"))
                .cast("long")
                .alias("r"),
            )
            # eager: materialize each round NOW, while the edge caches are
            # alive — the final action then reads the checkpoint instead of
            # replaying 3 rounds of lineage (and the caches can be dropped
            # safely before returning)
            .localCheckpoint(eager=True)
        )
    out = ranks.select("id", F.col("r").alias("rank_micros"))
    edges.unpersist()
    edges_deg.unpersist()
    return out


_EPS = 2_000_000  # micro-units: stop when max per-node change < 2.0 rank
_MAX_ROUNDS = 14  # unroll depth; convergence lands ~round 11 at all sfs

_DIRECTED_EDGES_SQL = f"""
  SELECT DISTINCT o_custkey AS src, {_OFFSET} + l_suppkey AS dst
  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
  WHERE o_custkey IS NOT NULL AND l_suppkey IS NOT NULL
"""


def _pagerank_converged_oracle() -> str:
    """Unroll _MAX_ROUNDS freeze-on-convergence steps as a CTE chain.

    Each round computes the candidate step s{i} and its scalar max-delta
    d{i}; r{i} keeps r{i-1} unchanged once d{i} < eps. The freeze rule is
    self-sustaining (a frozen round recomputes the same sub-eps delta), so
    the chain's final table equals "iterate until converged or K rounds" —
    exactly the Spark loop's early-exit semantics — and Σ(d{i} >= eps)
    equals the number of rounds the loop actually advanced."""
    ctes = [
        f"edges AS MATERIALIZED ({_DIRECTED_EDGES_SQL})",
        "nodes AS MATERIALIZED (SELECT DISTINCT src AS id FROM edges "
        "UNION SELECT DISTINCT dst FROM edges)",
        "deg AS MATERIALIZED (SELECT src, COUNT(*) AS outdeg FROM edges GROUP BY src)",
        "nn AS MATERIALIZED (SELECT COUNT(*) AS n FROM nodes)",
        "r0 AS MATERIALIZED (SELECT id, CAST(1000000 AS BIGINT) AS r FROM nodes)",
    ]
    for i in range(1, _MAX_ROUNDS + 1):
        p = f"r{i-1}"
        ctes.append(
            f"s{i} AS MATERIALIZED (SELECT n.id, CAST(150000 + (850 * (COALESCE(c.s, 0) "
            f"+ dang.dm // nn.n)) // 1000 AS BIGINT) AS r "
            "FROM nodes n LEFT JOIN "
            f"(SELECT e.dst AS id, SUM({p}.r // d.outdeg) AS s "
            f"FROM edges e JOIN {p} ON {p}.id = e.src "
            "JOIN deg d ON d.src = e.src GROUP BY e.dst) c ON c.id = n.id, "
            f"(SELECT COALESCE(SUM(p.r), 0) AS dm FROM {p} p "
            "LEFT JOIN deg ON deg.src = p.id WHERE deg.src IS NULL) dang, nn)"
        )
        ctes.append(
            f"d{i} AS MATERIALIZED (SELECT MAX(ABS(s.r - p.r)) AS d "
            f"FROM s{i} s JOIN {p} p ON s.id = p.id)"
        )
        ctes.append(
            f"r{i} AS MATERIALIZED (SELECT s.id, CASE WHEN d{i}.d < {_EPS} THEN p.r "
            f"ELSE s.r END AS r FROM s{i} s JOIN {p} p ON p.id = s.id, d{i})"
        )
    advanced = " + ".join(
        f"(CASE WHEN d{i}.d >= {_EPS} THEN 1 ELSE 0 END)"
        for i in range(1, _MAX_ROUNDS + 1)
    )
    froms = ", ".join(f"d{i}" for i in range(1, _MAX_ROUNDS + 1))
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"\nSELECT r{_MAX_ROUNDS}.id AS id, r{_MAX_ROUNDS}.r AS rank_micros, "
        + f"CAST({advanced} AS INT) AS n_iters FROM r{_MAX_ROUNDS}, {froms}"
    )


@register("graph_pagerank_converged", oracle=_pagerank_converged_oracle())
def graph_pagerank_converged(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank with BOTH completeness terms the fixed-3-round variant
    documents away: dangling-mass redistribution and a convergence stop.

    Graph: DIRECTED customer→supplier edges, so every supplier is a genuine
    dangling node — its rank re-enters the system as a uniform per-node
    share (dm // N) each round, keeping total mass from leaking. Loop:
    advance while max per-node |Δr| >= eps, up to _MAX_ROUNDS; all
    arithmetic in exact int64 micro-units so the stop decision — not just
    the ranks — is bit-identical cross-engine (the oracle replays it as a
    freeze-on-convergence CTE chain and also hash-checks n_iters).

    Scale shape: edges pre-joined with out-degree once (persisted,
    partitioned on src); per round one src-keyed join + one dst-keyed
    groupBy shuffle + two scalar reduces (dangling mass, max-delta — bytes
    to the driver, never rows); ranks localCheckpoint-ed so lineage stays
    flat across a data-dependent number of rounds."""
    edges = scratch_persist(
        cust_supp_pairs(spark, sf_dir)
        .select(
            F.col("c").alias("src"), (F.lit(_OFFSET) + F.col("s")).alias("dst")
        )
        .distinct()
    )
    deg = edges.groupBy("src").agg(F.count("*").alias("outdeg"))
    edges_deg = scratch_persist(
        edges.join(deg, "src").repartition(shuffle_width(spark), "src")
    )
    nodes = scratch_persist(
        edges.select(F.col("src").alias("id"))
        .union(edges.select(F.col("dst").alias("id")))
        .distinct()
    )
    # dangling node set is fixed (structure, not ranks): compute once
    dang_ids = scratch_persist(
        nodes.join(deg, nodes.id == deg.src, "left_anti")
    )
    ranks = nodes.select(
        "id", F.lit(1_000_000).cast("long").alias("r")
    ).localCheckpoint(eager=True)
    # One pre-loop action folds node count + dangling count together; the
    # initial ranks are the constant 1M/node, so round 0's dangling mass is
    # n_dangling · 1M with no rank scan at all.
    pre = (
        nodes.join(deg, nodes.id == deg.src, "left")
        .agg(
            F.count("*").alias("n"),
            F.sum(
                F.when(F.col("outdeg").isNull(), 1).otherwise(0)
            ).alias("nd"),
        )
        .collect()
    )[0]
    n_nodes = pre["n"]
    dm = 1_000_000 * int(pre["nd"] or 0)
    n_iters = 0
    for _ in range(_MAX_ROUNDS):
        share = dm // n_nodes
        contrib = (
            edges_deg.join(ranks, edges_deg.src == ranks.id)
            .select("dst", F.expr("r div outdeg").alias("c"))
            .groupBy("dst")
            .agg(F.sum("c").alias("s"))
        )
        step = (
            nodes.join(contrib, nodes.id == contrib.dst, "left")
            .select(
                "id",
                (
                    F.lit(150_000)
                    + F.expr(f"850 * (coalesce(s, 0L) + {share}) div 1000")
                )
                .cast("long")
                .alias("r"),
            )
            .localCheckpoint(eager=True)
        )
        # ONE driver action per round: the convergence delta AND the NEXT
        # round's dangling mass come out of the same step⨝ranks join
        # (dangling membership tagged by a left join on the fixed id set) —
        # halving per-round job-submission overhead vs separate collects.
        st = (
            step.alias("a")
            .join(ranks.alias("b"), "id")
            .join(
                dang_ids.select("id").withColumn("is_dang", F.lit(1)),
                "id",
                "left",
            )
            .agg(
                F.max(F.abs(F.col("a.r") - F.col("b.r"))).alias("d"),
                F.coalesce(
                    F.sum(F.when(F.col("is_dang") == 1, F.col("a.r"))),
                    F.lit(0).cast("long"),
                ).alias("dm"),
            )
            .collect()
        )[0]
        delta, dm = st["d"], int(st["dm"])
        if delta < _EPS:
            break
        ranks = step
        n_iters += 1
    out = ranks.select(
        "id",
        F.col("r").alias("rank_micros"),
        F.lit(n_iters).cast("int").alias("n_iters"),
    )
    for df in (edges, edges_deg, nodes, dang_ids):
        df.unpersist()
    return out


@register(
    "graph_degree_distribution",
    oracle=f"""
WITH edges AS ({_EDGES_SQL}),
deg AS (SELECT src, COUNT(*) AS outdeg FROM edges GROUP BY src)
SELECT outdeg, CAST(COUNT(*) AS BIGINT) AS n_nodes
FROM deg GROUP BY outdeg
""",
)
def graph_degree_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree histogram (the first thing anyone computes on a graph): two
    chained aggregations — per-node degree, then nodes per degree. The
    second groupBy keys on low-cardinality outdeg, but its input is
    already one row per node (the heavy reduction happened in shuffle #1),
    so the skew ceiling is |V|, not |E|."""
    edges = _edges(spark, sf_dir)
    deg = edges.groupBy("src").agg(F.count("*").alias("outdeg"))
    return deg.groupBy("outdeg").agg(F.count("*").alias("n_nodes"))


@register(
    "graph_triangle_count",
    oracle="""
WITH pairs AS (
  SELECT DISTINCT a.l_suppkey AS s1, b.l_suppkey AS s2
  FROM lineitem a JOIN lineitem b
    ON a.l_orderkey = b.l_orderkey AND a.l_suppkey < b.l_suppkey
)
SELECT CAST((SELECT COUNT(*) FROM pairs) AS BIGINT) AS n_edges,
       CAST((SELECT COUNT(*) FROM (
          SELECT 1 FROM pairs e1
          JOIN pairs e2 ON e2.s1 = e1.s2
          JOIN pairs e3 ON e3.s1 = e1.s1 AND e3.s2 = e2.s2)) AS BIGINT)
         AS n_triangles
""",
)
def graph_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle counting over the co-supplier graph (suppliers linked when
    they serve the same order — the bipartite projection that precedes
    most graph analytics on transactional data), via DEGREE-ORIENTED
    adjacency intersection (node-iterator++): orient every undirected
    edge from its lower-(degree, id) endpoint to the higher one, build
    per-vertex out-neighbor arrays, and count each base edge's
    |out(u) ∩ out(v)|.

    Why orient: the naive two-hop self-join keys wedges on the SHARED
    vertex, so a hub supplier of degree d contributes d² candidate rows
    to one shuffle key — the skew ceiling the round-2 audit flagged.
    Under degree orientation every out-degree is ≤ √(2|E|) (a vertex with
    out-degree k has k higher-degree neighbors, so Σdeg ≥ k² ⇒ k ≤
    √(2|E|)). Why intersect instead of joining wedges: even bounded,
    Σ outdeg² wedge ROWS materialized through a join is ~n³ on a dense
    graph (measured OOM at sf0.1 / 1 GiB heap); the intersection does the
    same O(|E|·√|E|) work as per-row streaming over two √(2|E|)-bounded
    arrays — compute, not state. Each triangle {a<b<c in rank order} has
    oriented edges a→b, a→c, b→c and is counted exactly once, at base
    edge (a,b), as c ∈ out(a)∩out(b). The oracle keeps the naive
    canonical-pair form; the hash match proves the rewrite equivalent.
    tests/test_properties.py pins the √(2|E|) out-degree bound."""
    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey").distinct()
    a, b = li.alias("a"), li.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_suppkey") < F.col("b.l_suppkey")),
        )
        .select(
            F.col("a.l_suppkey").alias("s1"), F.col("b.l_suppkey").alias("s2")
        )
        .distinct()
        .localCheckpoint(eager=True)  # reused below; cut the join lineage
    )
    deg = (
        pairs.select(F.col("s1").alias("v"))
        .union(pairs.select(F.col("s2").alias("v")))
        .groupBy("v")
        .agg(F.count("*").alias("d"))
    )
    # Orient each edge toward the higher (degree, id) endpoint.
    oriented = (
        pairs.join(deg.withColumnRenamed("v", "s1").withColumnRenamed("d", "d1"), "s1")
        .join(deg.withColumnRenamed("v", "s2").withColumnRenamed("d", "d2"), "s2")
        .select(
            F.when(
                (F.col("d1") < F.col("d2"))
                | ((F.col("d1") == F.col("d2")) & (F.col("s1") < F.col("s2"))),
                F.struct(F.col("s1").alias("src"), F.col("s2").alias("dst")),
            )
            .otherwise(
                F.struct(F.col("s2").alias("src"), F.col("s1").alias("dst"))
            )
            .alias("e")
        )
        .select("e.src", "e.dst")
        .localCheckpoint(eager=True)  # feeds adjacency build + base edges
    )
    # Count via adjacency-list intersection, NOT an explicit wedge join:
    # materializing the Σ outdeg² wedge rows through a join is ~n³ rows on
    # a dense graph (measured: OOM at sf0.1 on a 1 GiB-heap session). Each
    # triangle {a<b<c in rank order} is counted exactly once at its base
    # edge (a,b) as |out(a) ∩ out(b)| — per-edge streaming work over two
    # √(2|E|)-bounded arrays, nothing quadratic ever lands in memory.
    adj = oriented.groupBy("src").agg(
        F.sort_array(F.collect_list("dst")).alias("nb")
    )
    edges_nb = (
        oriented.select("src", "dst")
        .join(adj.withColumnRenamed("src", "u"), F.col("src") == F.col("u"))
        .withColumnRenamed("nb", "nbu")
        .join(
            adj.withColumnRenamed("src", "w").withColumnRenamed("nb", "nbw"),
            F.col("dst") == F.col("w"),
            "left",  # the top-ranked vertex has no out-edges
        )
    )
    tri = edges_nb.agg(
        F.sum(
            F.size(
                F.array_intersect(
                    F.col("nbu"),
                    F.coalesce(F.col("nbw"), F.expr("CAST(array() AS ARRAY<BIGINT>)")),
                )
            )
        )
        .cast("bigint")
        .alias("n_triangles")
    )
    return pairs.agg(F.count("*").alias("n_edges")).crossJoin(tri)


_BFS_ROUNDS = 4


def _bfs_oracle() -> str:
    """Unroll _BFS_ROUNDS exact relaxation steps as a DuckDB CTE chain —
    integer distances, so the replay is bit-for-bit."""
    parts = [
        f"""WITH e AS ({_EDGES_SQL}),
d0 AS (SELECT c_custkey AS node, 0 AS dist FROM customer
       WHERE c_custkey % 100 = 0)"""
    ]
    for k in range(1, _BFS_ROUNDS + 1):
        parts.append(
            f"""d{k} AS (
  SELECT node, MIN(dist) AS dist FROM (
    SELECT node, dist FROM d{k - 1}
    UNION ALL
    SELECT e.dst AS node, d.dist + 1 AS dist
    FROM e JOIN d{k - 1} d ON e.src = d.node
  ) GROUP BY node
)"""
        )
    return (
        ",\n".join(parts)
        + f"\nSELECT CAST(node AS BIGINT) AS node, CAST(dist AS INT) AS dist"
        f" FROM d{_BFS_ROUNDS}"
    )


@register("graph_bfs_multisource", oracle=_bfs_oracle())
def graph_bfs_multisource(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-source BFS shortest hop-distance over the trade network: every
    100th customer is a source at distance 0; 4 synchronous relaxation
    rounds propagate dist+1 along edges with a min-fold per node — the
    Pregel/Bellman-Ford shape (the third iterative-graph family next to
    PageRank and connected components). Reachable nodes up to 4 hops get
    their EXACT BFS level (integer arithmetic, so the unrolled DuckDB CTE
    chain replays it bit-for-bit).

    Scale shape: the persisted edge relation carries a STANDING src-hash
    partitioning (r11 optimization round — the graph_hits_rounds recipe:
    before, the relax join re-shuffled the edge list EVERY round); per
    round only the node-sized distance relation shuffles into it
    (shuffle_hash-pinned against the small-SF broadcast plan that cliffs
    at 10×), plus one min-group — both keyed; distances localCheckpoint
    each round (flat lineage, same discipline as PageRank). A production
    frontier variant would join only NEWLY-settled nodes against edges
    (delta propagation) — the full min-fold is kept here because it is
    what the oracle can replay exactly and the per-round cost model is
    identical, just un-truncated."""
    edges = scratch_persist(
        _edges(spark, sf_dir).repartition(shuffle_width(spark), "src")
    )
    dist = (
        load(spark, sf_dir, "customer")
        .filter(F.col("c_custkey") % 100 == 0)
        .select(
            F.col("c_custkey").alias("node"), F.lit(0).alias("dist")
        )
    )
    for _ in range(_BFS_ROUNDS):
        relaxed = edges.join(
            dist.hint("shuffle_hash"), edges.src == dist.node
        ).select(F.col("dst").alias("node"), (F.col("dist") + 1).alias("dist"))
        dist = (
            dist.unionByName(relaxed)
            .groupBy("node")
            .agg(F.min("dist").alias("dist"))
            .localCheckpoint(eager=True)
        )
    return dist.select(
        F.col("node").cast("bigint").alias("node"),
        F.col("dist").cast("int").alias("dist"),
    )
