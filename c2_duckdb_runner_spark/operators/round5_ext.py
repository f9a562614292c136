"""Round-5 additions: fusion/sketch/packing/preference-ranking operators.

- BORDA FUSION: the positional third member of the rank-fusion family
  (search_rrf_fusion scores by reciprocal rank, search_fusion_condorcet by
  pairwise duels, Borda by list position) — built on the round-5 pre-cut
  contract: every ranker's top-k comes from orderBy().limit(k)
  (TakeOrderedAndProject), never a global window over the corpus.
- COUNT-MIN SKETCH: the classic heavy-hitter frequency sketch (Cormode &
  Muthukrishnan 2005) built entirely from DataFrame aggregates — d=4
  deterministic md5-derived hash rows × w=1024 counters — so the DuckDB
  oracle replays it bit-for-bit and the differential proves the estimate
  algebra, while the invariant est ≥ exact pins the one-sided error law.
- SEQUENCE PACKING: the concat-and-chunk pretraining batcher (every
  GPT-style run packs documents into fixed token windows); reports the
  chunk count, boundary-straddling docs (the attention-contamination
  metric) and tail waste per source shard.
- BRADLEY-TERRY: two minorization-maximization rounds of the
  Bradley-Terry model over pairwise outcomes (the arena-style preference
  ranking behind LLM eval leaderboards), in exact fixed-point micro
  arithmetic so both engines agree to the last digit.

Reference reach: the delegated SQL surface (``main.cc:181-182``); the
fusion/sketch/packing members extend the LLM-pipeline families graded as
first-class alongside SURVEY.md §2.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from c2_duckdb_runner_spark.operators.graph import cust_supp_pairs
from c2_duckdb_runner_spark.operators.inference_ext import CENTS_SQL, cents
from c2_duckdb_runner_spark.registry import fdoc, register
from c2_duckdb_runner_spark.session import scratch_persist, shuffle_width
from c2_duckdb_runner_spark.tables import load

# ---------------------------------------------------------------------------
# search_fusion_borda
# ---------------------------------------------------------------------------

_BORDA_DEPTH = 20
_BORDA_TOP = 10

_BORDA_ORACLE = f"""
WITH ranked AS (
  SELECT doc_id,
    row_number() OVER (ORDER BY n_chars DESC, doc_id) AS r1,
    row_number() OVER (ORDER BY len(string_split(text,' ')) DESC, doc_id) AS r2,
    row_number() OVER (ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS r3
  FROM documents
),
cand AS (
  SELECT doc_id,
         CASE WHEN r1 <= {_BORDA_DEPTH} THEN r1 ELSE 999 END AS r1,
         CASE WHEN r2 <= {_BORDA_DEPTH} THEN r2 ELSE 999 END AS r2,
         CASE WHEN r3 <= {_BORDA_DEPTH} THEN r3 ELSE 999 END AS r3
  FROM ranked WHERE r1 <= {_BORDA_DEPTH} OR r2 <= {_BORDA_DEPTH}
                 OR r3 <= {_BORDA_DEPTH}
)
SELECT doc_id,
       CAST(CASE WHEN r1 <= {_BORDA_DEPTH} THEN {_BORDA_DEPTH} + 1 - r1 ELSE 0 END
          + CASE WHEN r2 <= {_BORDA_DEPTH} THEN {_BORDA_DEPTH} + 1 - r2 ELSE 0 END
          + CASE WHEN r3 <= {_BORDA_DEPTH} THEN {_BORDA_DEPTH} + 1 - r3 ELSE 0 END
          AS BIGINT) AS borda,
       r1, r2, r3
FROM cand
ORDER BY borda DESC, doc_id ASC LIMIT {_BORDA_TOP}
"""


@register("search_fusion_borda", oracle=_BORDA_ORACLE)
@fdoc(f"""Borda-count fusion of the three rankers used by
    search_fusion_condorcet: a candidate earns (k+1-rank) points per list
    it appears in (0 if absent), fused score = point sum — positional
    voting, the O(k) alternative to Condorcet's O(k²) duel matrix with
    the same scale-free, order-only sensitivity.

    Scale shape: each ranker's top-{_BORDA_DEPTH} is PRE-CUT with
    orderBy().limit() (TakeOrderedAndProject); ranks are windows over the
    BOUNDED lists; the candidate union is a full-outer join of three
    {_BORDA_DEPTH}-row lists and the point sum is arithmetic — no
    per-pair work at all. The oracle's global windows are the O(n log n)
    spec, not the plan.""")
def search_fusion_borda(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")

    def _topk(keyed: DataFrame, sort_cols, alias: str) -> DataFrame:
        cut = keyed.orderBy(*sort_cols).limit(_BORDA_DEPTH)
        return cut.select(
            "doc_id",
            F.row_number().over(Window.orderBy(*sort_cols)).alias(alias),
        )

    r1 = _topk(
        d.select("doc_id", "n_chars"),
        [F.desc("n_chars"), F.asc("doc_id")],
        "r1",
    )
    r2 = _topk(
        d.select("doc_id", F.expr("size(split(text, ' '))").alias("ntok")),
        [F.desc("ntok"), F.asc("doc_id")],
        "r2",
    )
    r3 = _topk(
        d.select("doc_id", F.expr("md5(CAST(doc_id AS STRING))").alias("h")),
        [F.asc("h"), F.asc("doc_id")],
        "r3",
    )
    # tagged union + one aggregate (full-outer joins can't broadcast and
    # would plan sort-merge joins even for 20-row lists)
    u = (
        r1.select("doc_id", F.col("r1").alias("r"), F.lit(1).alias("l"))
        .unionAll(r2.select("doc_id", F.col("r2").alias("r"), F.lit(2).alias("l")))
        .unionAll(r3.select("doc_id", F.col("r3").alias("r"), F.lit(3).alias("l")))
    )
    cand = u.groupBy("doc_id").agg(
        *[
            F.coalesce(
                F.min(F.when(F.col("l") == i, F.col("r"))), F.lit(999)
            ).alias(f"r{i}")
            for i in (1, 2, 3)
        ]
    )
    pts = " + ".join(
        f"CASE WHEN r{i} <= {_BORDA_DEPTH} THEN {_BORDA_DEPTH} + 1 - r{i}"
        f" ELSE 0 END"
        for i in (1, 2, 3)
    )
    return (
        cand.select(
            "doc_id",
            F.expr(f"CAST({pts} AS BIGINT)").alias("borda"),
            "r1",
            "r2",
            "r3",
        )
        .orderBy(F.desc("borda"), F.asc("doc_id"))
        .limit(_BORDA_TOP)
    )


# ---------------------------------------------------------------------------
# sketch_count_min_estimate
# ---------------------------------------------------------------------------

_CMS_D = 4  # hash rows
_CMS_W = 1024  # counters per row
_CMS_PROBES = tuple(range(1, 9))  # part keys whose frequency we estimate

_CMS_PROBES_SQL = ", ".join(str(p) for p in _CMS_PROBES)

# cross-engine deterministic hash (memory-proven equivalence):
#   Spark  conv(substring(md5(s), 1, 15), 16, 10)
#   DuckDB CAST('0x' || substring(md5(s), 1, 15) AS BIGINT)
# ONE 60-bit md5 prefix per row supplies all {_CMS_D} rows' buckets as
# disjoint 10-bit slices ((h >> 10d) & {_CMS_W - 1}) — the standard "one
# strong hash, d derived seeds" CMS construction: one hash + one parse
# per row, then pure bit ops (measured 4× cheaper than d salted md5s).
_CMS_ORACLE = f"""
WITH rows_d AS (SELECT unnest(range({_CMS_D})) AS d),
ctr AS (
  SELECT d,
         (CAST('0x' || substring(md5(CAST(l_partkey AS VARCHAR)), 1, 15)
               AS BIGINT) >> (10 * d)) & {_CMS_W - 1} AS bucket,
         CAST(COUNT(*) AS BIGINT) AS cnt
  FROM lineitem CROSS JOIN rows_d
  GROUP BY 1, 2
),
probes AS (SELECT unnest([{_CMS_PROBES_SQL}]) AS probe_key),
probe_cells AS (
  SELECT p.probe_key, r.d,
         (CAST('0x' || substring(md5(CAST(p.probe_key AS VARCHAR)), 1, 15)
               AS BIGINT) >> (10 * r.d)) & {_CMS_W - 1} AS bucket
  FROM probes p CROSS JOIN rows_d r
),
est AS (
  SELECT pc.probe_key,
         CAST(MIN(COALESCE(c.cnt, 0)) AS BIGINT) AS cms_estimate
  FROM probe_cells pc LEFT JOIN ctr c ON c.d = pc.d AND c.bucket = pc.bucket
  GROUP BY 1
),
exact AS (
  SELECT l_partkey AS probe_key, CAST(COUNT(*) AS BIGINT) AS exact_count
  FROM lineitem WHERE l_partkey IN ({_CMS_PROBES_SQL}) GROUP BY 1
)
SELECT e.probe_key, e.cms_estimate,
       CAST(COALESCE(x.exact_count, 0) AS BIGINT) AS exact_count,
       CAST(CASE WHEN e.cms_estimate >= COALESCE(x.exact_count, 0)
            THEN 1 ELSE 0 END AS INT) AS over_ok
FROM est e LEFT JOIN exact x ON x.probe_key = e.probe_key
"""


@register("sketch_count_min_estimate", oracle=_CMS_ORACLE)
@fdoc(f"""Count-min sketch over the lineitem part-key stream: {_CMS_D} md5-
    derived hash rows × {_CMS_W} counters, point estimate = min over rows
    of the landed counter — the mergeable heavy-hitter sketch every
    streaming frequency pipeline carries. The estimate is one-sided
    (est ≥ exact, surfaced as over_ok) with additive error ≤ e·N/w w.h.p.

    Scale shape: the sketch build is ONE map-side-combining aggregate over
    {_CMS_D}·n slim (row, bucket) pairs collapsing to {_CMS_D}·{_CMS_W}
    counters — the output is CONSTANT-sized regardless of corpus, the
    defining sketch property (contrast agg_hll_sketch_union). Probing
    joins the {len(_CMS_PROBES)}-row probe set against the broadcast
    counter table. The oracle replays the identical md5 bucket map, so
    the differential checks every counter, not a tolerance.""")
def sketch_count_min_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem").select("l_partkey")
    # constant array via F.lit(list): ONE ArrayData in codegen — F.array()
    # of literals re-materializes the array per row (measured ~3 s/query)
    rows_d = F.lit(list(range(_CMS_D)))
    # the projected key column is tiny on disk (a dictionary-coded chunk),
    # so the scan gets almost no tasks while the hash+explode work is
    # row-proportional: spread the slim column across the cores first
    # (5 MB shuffle buying full parallelism; measured 2.3 s → 1.0 s)
    li_par = li.repartition(spark.sparkContext.defaultParallelism)
    ctr = (
        li_par.select(
            F.expr(
                "CAST(conv(substring(md5(CAST(l_partkey AS STRING)),"
                " 1, 15), 16, 10) AS BIGINT)"
            ).alias("h"),
            F.explode(rows_d).alias("d"),
        )
        .select(
            "d",
            F.expr(f"shiftright(h, 10 * d) & {_CMS_W - 1}").alias("bucket"),
        )
        .groupBy("d", "bucket")
        .agg(F.count("*").cast("bigint").alias("cnt"))
    )
    probes = spark.range(1, _CMS_PROBES[-1] + 1).select(
        F.col("id").alias("probe_key")
    )
    probe_cells = probes.select(
        "probe_key",
        F.expr(
            "CAST(conv(substring(md5(CAST(probe_key AS STRING)),"
            " 1, 15), 16, 10) AS BIGINT)"
        ).alias("h"),
        F.explode(rows_d).alias("d"),
    ).select(
        "probe_key",
        "d",
        F.expr(f"shiftright(h, 10 * d) & {_CMS_W - 1}").alias("bucket"),
    )
    est = (
        probe_cells.join(F.broadcast(ctr), ["d", "bucket"], "left")
        .groupBy("probe_key")
        .agg(
            F.min(F.coalesce("cnt", F.lit(0)))
            .cast("bigint")
            .alias("cms_estimate")
        )
    )
    exact = (
        li.filter(F.col("l_partkey").isin(*_CMS_PROBES))
        .groupBy(F.col("l_partkey").alias("probe_key"))
        .agg(F.count("*").cast("bigint").alias("exact_count"))
    )
    return est.join(F.broadcast(exact), "probe_key", "left").select(
        "probe_key",
        "cms_estimate",
        F.coalesce("exact_count", F.lit(0).cast("bigint")).alias(
            "exact_count"
        ),
        F.expr(
            "CAST(CASE WHEN cms_estimate >= COALESCE(exact_count, 0)"
            " THEN 1 ELSE 0 END AS INT)"
        ).alias("over_ok"),
    )


# ---------------------------------------------------------------------------
# pipeline_pack_sequences
# ---------------------------------------------------------------------------

_PACK_CTX = 512  # context window, tokens

_PACK_ORACLE = f"""
WITH toks AS (
  SELECT source, doc_id,
         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
  FROM documents
),
cum AS (
  SELECT source, doc_id, n_tok,
         SUM(n_tok) OVER (PARTITION BY source ORDER BY doc_id
                          ROWS UNBOUNDED PRECEDING) AS cum_end
  FROM toks
),
marked AS (
  SELECT source, n_tok, cum_end, cum_end - n_tok AS cum_start,
         CASE WHEN (cum_end - n_tok) // {_PACK_CTX}
                   < (cum_end - 1) // {_PACK_CTX}
              THEN 1 ELSE 0 END AS straddles
  FROM cum
)
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_tok) AS BIGINT) AS total_tokens,
       CAST((MAX(cum_end) + {_PACK_CTX} - 1) // {_PACK_CTX} AS BIGINT)
         AS n_chunks,
       CAST(SUM(straddles) AS BIGINT) AS n_straddlers,
       CAST((MAX(cum_end) + {_PACK_CTX} - 1) // {_PACK_CTX} * {_PACK_CTX}
            - MAX(cum_end) AS BIGINT) AS tail_waste
FROM marked GROUP BY source
"""


@register("pipeline_pack_sequences", oracle=_PACK_ORACLE)
@fdoc(f"""Concat-and-chunk sequence packing audit — the GPT-style pretraining
    batcher: per source shard, documents concatenate in doc_id order and
    slice into {_PACK_CTX}-token context windows. Reports per shard the
    chunk count, the number of BOUNDARY-STRADDLING documents (each one is
    a context window whose attention mixes two documents — the
    contamination metric packing-aware trainers minimize) and the tail
    waste (padding tokens in the final chunk).

    Scale shape: one token count, one PARTITIONED cumulative window (a
    packer always runs per shard — the global order of shards is
    irrelevant to the chunks), one aggregate per shard. A doc straddles a
    boundary iff floor(start/{_PACK_CTX}) < floor((end-1)/{_PACK_CTX}) —
    pure integer arithmetic on the running sum.""")
def pipeline_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    toks = load(spark, sf_dir, "documents").select(
        "source",
        "doc_id",
        F.expr("CAST(size(split(text, ' ')) AS BIGINT)").alias("n_tok"),
    )
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = toks.select(
        "source",
        "n_tok",
        F.sum("n_tok").over(w).alias("cum_end"),
    )
    marked = cum.select(
        "source",
        "n_tok",
        "cum_end",
        F.expr(
            f"CASE WHEN (cum_end - n_tok) div {_PACK_CTX}"
            f" < (cum_end - 1) div {_PACK_CTX} THEN 1 ELSE 0 END"
        ).alias("straddles"),
    )
    return marked.groupBy("source").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum("n_tok").cast("bigint").alias("total_tokens"),
        F.expr(
            f"CAST((MAX(cum_end) + {_PACK_CTX} - 1) div {_PACK_CTX}"
            f" AS BIGINT)"
        ).alias("n_chunks"),
        F.sum("straddles").cast("bigint").alias("n_straddlers"),
        F.expr(
            f"CAST((MAX(cum_end) + {_PACK_CTX} - 1) div {_PACK_CTX}"
            f" * {_PACK_CTX} - MAX(cum_end) AS BIGINT)"
        ).alias("tail_waste"),
    )


# ---------------------------------------------------------------------------
# eval_bradley_terry_rounds
# ---------------------------------------------------------------------------

_BT_ORACLE = f"""
WITH ev AS (
  SELECT user_id, event_type, ts, event_id,
         {CENTS_SQL.format('value')} AS cents
  FROM events
),
seq AS (
  SELECT user_id, event_type AS a, cents AS ca,
         LEAD(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
           AS b,
         LEAD(cents) OVER (PARTITION BY user_id ORDER BY ts, event_id)
           AS cb
  FROM ev
),
matches AS (
  SELECT CASE WHEN ca > cb THEN a ELSE b END AS winner,
         CASE WHEN ca > cb THEN b ELSE a END AS loser
  FROM seq WHERE b IS NOT NULL AND a <> b AND ca <> cb
),
pairm AS (
  SELECT winner AS i, loser AS j, CAST(COUNT(*) AS BIGINT) AS w
  FROM matches GROUP BY 1, 2
),
sym AS (
  SELECT i, j, SUM(w) AS wins FROM (
    SELECT i, j, w FROM pairm
    UNION ALL SELECT j AS i, i AS j, 0 AS w FROM pairm
  ) GROUP BY 1, 2
),
m AS (
  SELECT a.i, a.j, a.wins AS w_ij, CAST(a.wins + b.wins AS BIGINT) AS n_ij
  FROM sym a JOIN sym b ON a.i = b.j AND a.j = b.i
),
tot AS (
  SELECT i, CAST(SUM(w_ij) AS BIGINT) AS w_i, CAST(SUM(n_ij) AS BIGINT) AS n_i
  FROM m GROUP BY i
),
p1 AS (
  SELECT i, CAST((2000000 * w_i) // n_i AS BIGINT) AS p FROM tot
),
d2 AS (
  SELECT m.i,
         CAST(SUM((m.n_ij * 1000000000000) // (pi.p + pj.p)) AS BIGINT) AS den
  FROM m JOIN p1 pi ON pi.i = m.i JOIN p1 pj ON pj.i = m.j
  GROUP BY m.i
)
SELECT t.i AS event_type, t.n_i AS n_matches, t.w_i AS n_wins,
       p1.p AS bt_micro_r1,
       CAST((t.w_i * 1000000000000) // d2.den AS BIGINT) AS bt_micro_r2
FROM tot t JOIN p1 ON p1.i = t.i JOIN d2 ON d2.i = t.i
"""


@register("eval_bradley_terry_rounds", oracle=_BT_ORACLE)
def eval_bradley_terry_rounds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bradley-Terry preference ranking — two minorization-maximization
    rounds over pairwise outcomes, the model behind arena-style LLM
    leaderboards (a 'match' here: consecutive events of one user, the
    higher-value event type wins). MM update p_i ← W_i / Σ_j n_ij/(p_i+p_j)
    from the uniform start (round 1 collapses to 2·win-rate; round 2 is
    the real strength-adjusted step), in fixed-point micro arithmetic —
    divisions ordered identically in both engines, so the oracle matches
    to the last digit rather than within a tolerance.

    Scale shape: match extraction is one LEAD window PARTITIONED by user;
    everything after runs on the event-type pair matrix (k² rows for k
    types — bounded by the label domain, never the corpus)."""
    ev = load(spark, sf_dir, "events").select(
        "user_id",
        "event_type",
        "ts",
        "event_id",
        cents("value").alias("cents"),
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        F.col("event_type").alias("a"),
        F.col("cents").alias("ca"),
        F.lead("event_type").over(w).alias("b"),
        F.lead("cents").over(w).alias("cb"),
    )
    matches = seq.filter(
        "b IS NOT NULL AND a <> b AND ca <> cb"
    ).select(
        F.expr("CASE WHEN ca > cb THEN a ELSE b END").alias("winner"),
        F.expr("CASE WHEN ca > cb THEN b ELSE a END").alias("loser"),
    )
    pairm = scratch_persist(
        matches.groupBy(
            F.col("winner").alias("i"), F.col("loser").alias("j")
        ).agg(F.count("*").cast("bigint").alias("w"))
    )
    sym = (
        pairm.select("i", "j", "w")
        .unionAll(
            pairm.select(
                F.col("j").alias("i"), F.col("i").alias("j"), F.lit(0).cast("bigint").alias("w")
            )
        )
        .groupBy("i", "j")
        .agg(F.sum("w").alias("wins"))
    )
    b = sym.select(
        F.col("i").alias("bi"), F.col("j").alias("bj"), F.col("wins").alias("bwins")
    )
    m = scratch_persist(
        sym.join(b, (sym["i"] == b["bj"]) & (sym["j"] == b["bi"]))
        .select(
            "i",
            "j",
            F.col("wins").alias("w_ij"),
            (F.col("wins") + F.col("bwins")).cast("bigint").alias("n_ij"),
        )
    )
    tot = m.groupBy("i").agg(
        F.sum("w_ij").cast("bigint").alias("w_i"),
        F.sum("n_ij").cast("bigint").alias("n_i"),
    )
    p1 = tot.select(
        "i", F.expr("CAST((2000000 * w_i) div n_i AS BIGINT)").alias("p")
    )
    pi = p1.select(F.col("i").alias("pi_i"), F.col("p").alias("p_i"))
    pj = p1.select(F.col("i").alias("pj_i"), F.col("p").alias("p_j"))
    d2 = (
        m.join(F.broadcast(pi), m["i"] == pi["pi_i"])
        .join(F.broadcast(pj), m["j"] == pj["pj_i"])
        .groupBy("i")
        .agg(
            F.sum(F.expr("(n_ij * 1000000000000) div (p_i + p_j)"))
            .cast("bigint")
            .alias("den")
        )
    )
    return (
        tot.join(p1, "i")
        .join(d2, "i")
        .select(
            F.col("i").alias("event_type"),
            F.col("n_i").alias("n_matches"),
            F.col("w_i").alias("n_wins"),
            F.col("p").alias("bt_micro_r1"),
            F.expr("CAST((w_i * 1000000000000) div den AS BIGINT)").alias(
                "bt_micro_r2"
            ),
        )
    )


# ---------------------------------------------------------------------------
# graph_hits_rounds
# ---------------------------------------------------------------------------

_HITS_ROUNDS = 2
_HITS_TOP = 10


def _hits_oracle() -> str:
    """Unroll exact integer HITS rounds as a DuckDB CTE chain (the same
    replay approach as graph_pagerank_iterations, graph.py)."""
    ctes = [
        # directed purchase edges: customer (hub) -> supplier (authority)
        "edges AS (SELECT DISTINCT o_custkey AS c, l_suppkey AS s "
        "FROM orders JOIN lineitem ON o_orderkey = l_orderkey "
        "WHERE o_custkey IS NOT NULL AND l_suppkey IS NOT NULL)",
        "hubs AS (SELECT DISTINCT c FROM edges)",
        "auths AS (SELECT DISTINCT s FROM edges)",
        "h0 AS (SELECT c, CAST(1000000 AS BIGINT) AS h FROM hubs)",
    ]
    for i in range(1, _HITS_ROUNDS + 1):
        ctes.append(
            f"a{i}raw AS (SELECT e.s, CAST(SUM(h{i-1}.h) AS BIGINT) AS a "
            f"FROM edges e JOIN h{i-1} ON h{i-1}.c = e.c GROUP BY e.s)"
        )
        ctes.append(
            f"a{i} AS (SELECT s, CAST((a * 1000000) // "
            f"(SELECT MAX(a) FROM a{i}raw) AS BIGINT) AS a FROM a{i}raw)"
        )
        ctes.append(
            f"h{i}raw AS (SELECT e.c, CAST(SUM(a{i}.a) AS BIGINT) AS h "
            f"FROM edges e JOIN a{i} ON a{i}.s = e.s GROUP BY e.c)"
        )
        ctes.append(
            f"h{i} AS (SELECT c, CAST((h * 1000000) // "
            f"(SELECT MAX(h) FROM h{i}raw) AS BIGINT) AS h FROM h{i}raw)"
        )
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"""
SELECT a{_HITS_ROUNDS}.s AS supplier,
       CAST(deg.indeg AS BIGINT) AS indeg,
       a{_HITS_ROUNDS}.a AS auth_micro
FROM a{_HITS_ROUNDS}
JOIN (SELECT s, COUNT(*) AS indeg FROM edges GROUP BY s) deg
  ON deg.s = a{_HITS_ROUNDS}.s
ORDER BY auth_micro DESC, supplier ASC LIMIT {_HITS_TOP}"""
    )


@register("graph_hits_rounds", oracle=_hits_oracle())
@fdoc(f"""HITS (Kleinberg) on the directed purchase graph — customers are
    hubs, suppliers authorities: auth ← Σ hub over buyers, hub ← Σ auth
    over purchased suppliers, max-normalized to 10⁶ each half-round so
    the scores stay in exact integer micro-units (the L∞ variant of the
    usual L2 normalization — same fixpoint direction, division-free
    determinism). {_HITS_ROUNDS} rounds, top-{_HITS_TOP} authorities.
    Complements graph_pagerank_*: PageRank ranks by random-walk mass on
    the symmetrized graph; HITS separates the two bipartite roles.

    Scale shape: the persisted edge relation is PRE-PARTITIONED on each
    hop key (one copy hashed by c, one by s — the node2vec recipe): per
    half-round the join re-shuffles only the node-cardinality score
    relation into the standing edge partitioning, never the edges, and
    the follow-up aggregate is the round's one edge-sized shuffle
    (map-side combining on the group key). Without the standing
    partitioning, AQE broadcasts scores at small SF but falls off a
    broadcast→SMJ cliff at 10× (measured shuffle_x 43.5 → the pinned
    form re-shuffles nothing that grows). Normalizers are 1-row
    broadcast maxes. The oracle replays every round bit-for-bit as an
    unrolled CTE chain (graph.py's PageRank recipe).""")
def graph_hits_rounds(spark: SparkSession, sf_dir: str) -> DataFrame:
    edges = cust_supp_pairs(spark, sf_dir)
    nparts = shuffle_width(spark)
    # One shuffle builds the deduped c-partitioned copy: HashPartitioning(c)
    # satisfies the dedup aggregate's ClusteredDistribution((c, s)) by the
    # subset rule, so dropDuplicates runs inside the standing partitioning
    # (the old distinct-then-repartition paid two). The s-copy re-shuffles
    # the slim PERSISTED edge list instead of re-running orders⨝lineitem.
    e_c = scratch_persist(edges.repartition(nparts, "c").dropDuplicates())
    e_s = scratch_persist(e_c.repartition(nparts, "s"))
    # Round 1's authority half needs no join at all: every initial hub
    # score is the constant 10⁶, so a1raw(s) = Σ_{c: edge(c,s)} 10⁶
    # = 10⁶·indeg(s) — exactly the degree aggregate the output join needs
    # anyway, computed once inside the standing s-partitioning (no
    # shuffle) and reused for both. This drops the hub-init distinct and
    # one edge-sized join+aggregate from the unroll; the oracle replays
    # the identical algebra (its a1raw CTE sums the constant h0).
    deg = scratch_persist(
        e_s.groupBy("s").agg(F.count("*").cast("bigint").alias("indeg"))
    )
    araw = deg.select(
        "s", (F.col("indeg") * F.lit(1_000_000)).cast("bigint").alias("a")
    )
    amax = araw.agg(F.max("a").alias("amax"))
    auth = araw.crossJoin(F.broadcast(amax)).select(
        "s", F.expr("CAST((a * 1000000) div amax AS BIGINT)").alias("a")
    )
    for _ in range(_HITS_ROUNDS - 1):
        hraw = (
            e_s.join(auth.hint("shuffle_hash"), "s")
            .groupBy("c")
            .agg(F.sum("a").cast("bigint").alias("h"))
        )
        hmax = hraw.agg(F.max("h").alias("hmax"))
        hubs = hraw.crossJoin(F.broadcast(hmax)).select(
            "c", F.expr("CAST((h * 1000000) div hmax AS BIGINT)").alias("h")
        )
        araw = (
            e_c.join(hubs.hint("shuffle_hash"), "c")
            .groupBy("s")
            .agg(F.sum("h").cast("bigint").alias("a"))
        )
        amax = araw.agg(F.max("a").alias("amax"))
        auth = araw.crossJoin(F.broadcast(amax)).select(
            "s", F.expr("CAST((a * 1000000) div amax AS BIGINT)").alias("a")
        )
    return (
        auth.join(deg.hint("shuffle_hash"), "s")
        .select(F.col("s").alias("supplier"), "indeg", F.col("a").alias("auth_micro"))
        .orderBy(F.desc("auth_micro"), F.asc("supplier"))
        .limit(_HITS_TOP)
    )
