"""Round-4 structural / probabilistic-screen extensions.

- k-core peeling — the iterative degeneracy decomposition (drop nodes of
  degree < k, recompute, repeat): the graph-curation primitive behind
  spam-farm detection and community-core extraction, and the third
  fixpoint-iteration shape (after PageRank's value iteration and CC's
  label propagation) a distributed graph engine must handle;
- Bloom-filter membership screen — the mergeable bit-array sketch that
  answers "have we ingested this document before?" without touching the
  corpus: build via bit-OR aggregation (associative ⇒ map-side partial),
  probe via broadcast of the ~KB filter. The sketch family's set-
  membership member, next to HLL (cardinality), CMS (frequency), KLL
  (quantiles), theta (set algebra);
- two-sample chi-square drift — the binned homogeneity test in EXACT
  rational arithmetic: with integer bin counts the statistic is a sum of
  integer-ratio terms, so both engines compute identical micro-units with
  zero float ops (same trick as the KS test, applied to the binned form).

Reference reach: the delegated SQL slot (``main.cc:181-182``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from c2_duckdb_runner_spark.operators.graph import _edges
from c2_duckdb_runner_spark.registry import register
from c2_duckdb_runner_spark.session import scratch_persist, shuffle_width
from c2_duckdb_runner_spark.tables import load, load_spread

# ---------------------------------------------------------------------------
# graph_kcore_peel
# ---------------------------------------------------------------------------

_KCORE_K = 4
_KCORE_ROUNDS = 4
# Edge-sampled trade graph (every 13th order): the FULL customer-supplier
# graph is too dense for peeling to bite at fixture scale (min degree in
# the hundreds); the sampled graph has median degree ~5, so a k=4 peel
# exhibits the real cascade (removing a node drops neighbors under k).
_KEDGES_SQL = """
  SELECT DISTINCT o_custkey AS src, 10000000 + l_suppkey AS dst
  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
  WHERE o_orderkey % 13 = 0
    AND o_custkey IS NOT NULL AND l_suppkey IS NOT NULL
  UNION
  SELECT DISTINCT 10000000 + l_suppkey AS src, o_custkey AS dst
  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
  WHERE o_orderkey % 13 = 0
    AND o_custkey IS NOT NULL AND l_suppkey IS NOT NULL
"""


def _kedges(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load(spark, sf_dir, "orders").filter(F.col("o_orderkey") % 13 == 0)
    return _edges(spark, sf_dir, orders)


def _kcore_oracle() -> str:
    """Unroll the peel rounds as a DuckDB CTE chain (exact integers)."""
    ctes = [f"e0 AS ({_KEDGES_SQL})"]
    for r in range(_KCORE_ROUNDS):
        ctes.append(
            f"d{r + 1} AS (SELECT src, COUNT(*) AS c FROM e{r} GROUP BY src)"
        )
        ctes.append(
            f"k{r + 1} AS (SELECT src FROM d{r + 1} WHERE c >= {_KCORE_K})"
        )
        ctes.append(
            f"e{r + 1} AS (SELECT e.src, e.dst FROM e{r} e "
            f"JOIN k{r + 1} a ON e.src = a.src "
            f"JOIN k{r + 1} b ON e.dst = b.src)"
        )
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"\nSELECT src AS node, CAST(COUNT(*) AS BIGINT) AS deg "
        f"FROM e{_KCORE_ROUNDS} GROUP BY src"
    )


@register("graph_kcore_peel", oracle=_kcore_oracle())
def graph_kcore_peel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-core peeling on the (edge-sampled) symmetrized trade graph: 4 rounds of
    "drop nodes with degree < 4, keep only edges
    between survivors" — the standard degeneracy decomposition, round
    count pinned so the DuckDB oracle can replay it as an unrolled CTE
    chain (at convergence additional rounds are no-ops).

    Scale shape per round (r12 restructure): the edge relation lives in a
    STANDING src-hash partitioning, so the degree aggregation and the
    src-side survivor semi-join are exchange-free; the dst-side test
    exploits the graph's SYMMETRY (fwd ∪ rev with disjoint key ranges —
    swap(E) = E as a set, multiplicity 1): after filtering surviving
    src's, SWAP the endpoints (map-only), repartition back into the
    standing src layout — the round's ONE edge-sized exchange — and
    semi-join the survivor set again. Both-endpoint-survive edges come
    out in swapped orientation, which by symmetry IS the surviving edge
    set, already src-partitioned for the next round. Before r12 each
    round exchanged edge-sized data twice (semi on src + semi on dst)
    plus the degree shuffle; now once. The survivor set is
    shuffle_hash-built so the edge stream is never sorted. Output:
    surviving nodes with their within-core degree after the final peel."""
    width = shuffle_width(spark)
    e = scratch_persist(
        _kedges(spark, sf_dir).repartition(width, "src")
    )
    for _ in range(_KCORE_ROUNDS):
        keep = (
            e.groupBy("src")
            .agg(F.count("*").alias("c"))
            .filter(F.col("c") >= _KCORE_K)
            .select("src")
        )
        # Carrier choice, MEASURED in a single-session 5-rep interleave:
        # localCheckpoint(eager=False) 2.14 s vs scratch_persist 3.66 s
        # vs r11 shape 2.59 s — the checkpoint drops the partitioning
        # between rounds (UnknownPartitioning under AQE), costing one
        # extra node-sized agg exchange per round, but the persist's
        # cache-write + per-round cached-plan matching costs more (the
        # attribution_markov persist-hops lesson again). Checkpoint wins.
        e = (
            e.join(keep.hint("shuffle_hash"), "src", "semi")
            .select(F.col("dst").alias("src"), F.col("src").alias("dst"))
            .repartition(width, "src")
            .join(keep.hint("shuffle_hash"), "src", "semi")
            .select("src", "dst")
            .localCheckpoint(eager=False)
        )
    return e.groupBy(F.col("src").alias("node")).agg(
        F.count("*").cast("bigint").alias("deg")
    )


# ---------------------------------------------------------------------------
# sketch_bloom_membership
# ---------------------------------------------------------------------------

_BLOOM_BITS = 8192  # m bits, stored as 131 x 63-bit words (~1 KB broadcast;
# 63 bits/word keeps every shift < 63 — DuckDB's checked << traps 1<<63)
_BLOOM_HASHES = 4  # k: md5 hex nibbles 1-4, 5-8, 9-12, 13-16

_POS_SPARK = ", ".join(
    f"CAST(conv(substring(md5(text), {1 + 4 * j}, 4), 16, 10) AS INT) % {_BLOOM_BITS}"
    for j in range(_BLOOM_HASHES)
)
_POS_DUCK = ", ".join(
    f"CAST(('0x' || substring(md5(text), {1 + 4 * j}, 4)) AS INT) % {_BLOOM_BITS}"
    for j in range(_BLOOM_HASHES)
)


@register(
    "sketch_bloom_membership",
    oracle=f"""
WITH probe AS (
  SELECT doc_id AS probe_id,
         CASE WHEN doc_id % 10 = 0 THEN text
              ELSE text || ' zz' || CAST(doc_id AS VARCHAR) END AS text
  FROM documents WHERE doc_id % 5 = 0
),
cpos AS (SELECT unnest([{_POS_DUCK}]) AS pos FROM documents),
bloom AS (
  SELECT pos // 63 AS word, bit_or(CAST(1 AS BIGINT) << (pos % 63)) AS bits
  FROM cpos GROUP BY pos // 63
),
ppos AS (SELECT probe_id, unnest([{_POS_DUCK}]) AS pos FROM probe),
hits AS (
  SELECT probe_id,
         MIN(CASE WHEN bits IS NULL THEN 0
                  ELSE CAST((bits >> (pos % 63)) & 1 AS INT) END) AS bloom_hit
  FROM ppos LEFT JOIN bloom ON bloom.word = ppos.pos // 63
  GROUP BY probe_id
),
present AS (
  SELECT p.probe_id, CAST(MAX(CASE WHEN d.text IS NULL THEN 0 ELSE 1 END) AS INT) AS present
  FROM probe p LEFT JOIN documents d ON d.text = p.text
  GROUP BY p.probe_id
)
SELECT h.probe_id, CAST(h.bloom_hit AS INT) AS bloom_hit, present.present
FROM hits h JOIN present ON present.probe_id = h.probe_id
""",
)
def sketch_bloom_membership(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter ingest screen: build an m=8192-bit, k=4
    filter over the corpus's document texts via bit-OR aggregation, then
    probe a planted batch (every 10th doc verbatim = present; every other
    5th doc with a novel suffix = absent) and report the filter's verdict
    next to exact truth.

    Scale shape: the BUILD is one groupBy over at most 128 word indexes —
    bit_or is associative, so map-side partials reduce each executor's
    contribution to <= 128 rows no matter the corpus size (the property
    that makes Bloom filters the standard pre-screen for incremental
    ingest at 100 TB). The PROBE broadcasts the ~1 KB filter and is
    map-only per probe row. Present ⇒ bloom_hit by construction (no false
    negatives — pinned in tests); bloom_hit without present is the
    measurable false-positive rate at this m/k and corpus size.

    Cross-engine exactness: positions are md5-nibble integers, the filter
    words are integer bit-ORs, the probe check is shift-and-mask — no
    floats anywhere, so even the false positives hash-match."""
    docs = load_spread(spark, sf_dir, "documents", "doc_id")
    probe = docs.filter(F.col("doc_id") % 5 == 0).select(
        F.col("doc_id").alias("probe_id"),
        F.expr(
            "CASE WHEN doc_id % 10 = 0 THEN text "
            "ELSE text || ' zz' || CAST(doc_id AS STRING) END"
        ).alias("text"),
    )
    bloom = (
        docs.select(F.explode(F.expr(f"array({_POS_SPARK})")).alias("pos"))
        .groupBy(F.expr("pos div 63").alias("word"))
        .agg(F.expr("bit_or(shiftleft(1L, pos % 63))").alias("bits"))
    )
    ppos = probe.select(
        "probe_id", F.explode(F.expr(f"array({_POS_SPARK})")).alias("pos")
    )
    hits = (
        ppos.join(F.broadcast(bloom), F.expr("pos div 63") == F.col("word"), "left")
        .groupBy("probe_id")
        .agg(
            F.min(
                F.expr(
                    "CASE WHEN bits IS NULL THEN 0 "
                    "ELSE CAST(shiftright(bits, pos % 63) & 1 AS INT) END"
                )
            ).alias("bloom_hit")
        )
    )
    present = (
        probe.join(
            docs.select(F.col("text").alias("ctext")).distinct(),
            probe.text == F.col("ctext"),
            "left",
        )
        .groupBy("probe_id")
        .agg(
            F.max(
                F.when(F.col("ctext").isNull(), 0).otherwise(1)
            ).cast("int").alias("present")
        )
    )
    return hits.join(present, "probe_id").select(
        "probe_id", F.col("bloom_hit").cast("int").alias("bloom_hit"), "present"
    )


# ---------------------------------------------------------------------------
# stats_chi2_drift
# ---------------------------------------------------------------------------

_CHI2_BIN_W = 25.0  # events.value spans ~[0, 500) -> 20 equal-width bins
_CHI2_MAX_BIN = 19
# chi-square critical value at alpha=0.05, df=19, in micro-units
_CHI2_CRIT_MICRO = 30_143_527


@register(
    "stats_chi2_drift",
    oracle=f"""
WITH s AS (
  SELECT LEAST(CAST(floor(value / {_CHI2_BIN_W}) AS INT), {_CHI2_MAX_BIN}) AS bin,
         user_id % 2 AS side
  FROM events
),
bins AS (
  SELECT bin,
         CAST(SUM(CASE WHEN side = 0 THEN 1 ELSE 0 END) AS BIGINT) AS a,
         CAST(SUM(CASE WHEN side = 1 THEN 1 ELSE 0 END) AS BIGINT) AS b
  FROM s GROUP BY bin
),
tot AS (SELECT CAST(SUM(a) AS BIGINT) AS na, CAST(SUM(b) AS BIGINT) AS nb FROM bins),
diffs AS (
  SELECT 1000 * (CAST(a AS HUGEINT) * nb - CAST(b AS HUGEINT) * na) AS d,
         a, b, na, nb
  FROM bins CROSS JOIN tot
),
terms AS (
  SELECT CAST((d * d) // (CAST(na AS HUGEINT) * nb * (a + b)) AS BIGINT) AS tm
  FROM diffs
)
SELECT (SELECT na FROM tot) AS n_a, (SELECT nb FROM tot) AS n_b,
       CAST((SELECT COUNT(*) FROM bins) AS INT) AS n_bins,
       CAST(SUM(tm) AS BIGINT) AS chi2_micro,
       CAST(CASE WHEN SUM(tm) >= {_CHI2_CRIT_MICRO} THEN 1 ELSE 0 END AS INT) AS drift
FROM terms
""",
)
def stats_chi2_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample chi-square homogeneity drift test on binned event values
    (odd vs even users), in EXACT integer arithmetic.

    The textbook statistic sums (O-E)^2/E over bins; with integer counts
    it rewrites per bin as (a·N_b - b·N_a)^2 / (N_a·N_b·(a+b)) — all
    integers — so each term is computed as an exact integer-division
    micro-unit (DECIMAL(38) / HUGEINT intermediates; (a·N_b)^2 overflows
    64 bits long before the counts are large) and the sum is a plain
    BIGINT: no float op exists anywhere, both engines agree bit-for-bit,
    and the drift verdict compares against the chi-square critical value
    (alpha=0.05, df=19) as an integer.

    Scale shape: ONE scan → 20-row binned aggregate (map-side partials do
    the heavy lifting) → broadcast totals → 20 integer terms. The same
    shape re-aggregates from pre-binned daily counts without rescanning —
    the production drift-monitor path."""
    s = load(spark, sf_dir, "events").select(
        F.expr(
            f"LEAST(CAST(floor(value / {_CHI2_BIN_W}) AS INT), {_CHI2_MAX_BIN})"
        ).alias("bin"),
        (F.col("user_id") % 2).alias("side"),
    )
    bins = s.groupBy("bin").agg(
        F.sum(F.when(F.col("side") == 0, 1).otherwise(0)).cast("bigint").alias("a"),
        F.sum(F.when(F.col("side") == 1, 1).otherwise(0)).cast("bigint").alias("b"),
    )
    tot = bins.agg(
        F.sum("a").cast("bigint").alias("na"), F.sum("b").cast("bigint").alias("nb")
    )
    terms = bins.crossJoin(F.broadcast(tot)).select(
        F.expr(
            # d = 1000·(a·Nb − b·Na) pre-scales so d·d carries the 10^6
            # micro-unit factor exactly; DECIMAL(19,0) holds |d| to 10^19
            # and d·d lands on DECIMAL(38,0) with no precision cap.
            "CAST(CAST(1000 * (CAST(a AS DECIMAL(19,0)) * nb"
            " - CAST(b AS DECIMAL(19,0)) * na) AS DECIMAL(19,0)) AS DECIMAL(19,0))"
        ).alias("d"),
        F.expr("CAST(na AS DECIMAL(19,0)) * nb * (a + b)").alias("den")
    ).select(
        F.expr("CAST((d * d) div den AS BIGINT)").alias("tm")
    )
    agg = terms.agg(
        F.count("*").cast("int").alias("n_bins"),
        F.sum("tm").cast("bigint").alias("chi2_micro"),
    )
    return (
        agg.crossJoin(F.broadcast(tot))
        .select(
            F.col("na").alias("n_a"),
            F.col("nb").alias("n_b"),
            "n_bins",
            "chi2_micro",
            (F.col("chi2_micro") >= _CHI2_CRIT_MICRO).cast("int").alias("drift"),
        )
    )
