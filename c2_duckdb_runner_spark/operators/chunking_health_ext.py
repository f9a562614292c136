"""Round-4 chunking / chain-analysis / interval / corpus-report extensions.

- CONTENT-DEFINED CHUNKING dedup (rolling-hash boundaries, the
  rsync/LBFS/CDC family): chunk boundaries land where the hash of the
  local 8-gram hits a modulus, so identical passages chunk identically
  regardless of their byte offset — the property fixed-width shingles
  (dedup_duplicate_spans) lack. Duplicate chunks then surface with one
  hash-groupBy;
- MARKOV STATIONARY DISTRIBUTION by power iteration over the
  event-type transition matrix — the long-run state mix that
  agg_markov_transitions's one-step matrix only implies;
- INTERVAL UNION DURATION per user (merge overlapping activity
  intervals, total the covered time) — the dedup-in-time primitive
  behind billable-hours / uptime metrics, via the running-max island
  trick;
- CORPUS HEALTH REPORT per source — the one-pass quality dashboard
  (docs, exact-dup count, mean length, language share, short-doc rate)
  a curation pipeline checks before mixing.

Reference reach: the delegated SQL slot (``main.cc:181-182``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from c2_duckdb_runner_spark.registry import fdoc, register
from c2_duckdb_runner_spark.tables import load, load_spread

# ---------------------------------------------------------------------------
# dedup_cdc_chunking
# ---------------------------------------------------------------------------

_CDC_GRAM = 8  # rolling window width
_CDC_MOD = 16  # boundary when hash % mod == 0 -> ~16-char expected chunks
_CDC_TOP = 20


def _cdc_hash(engine: str) -> str:
    # ONE shared g fragment: the boundary hash must stay char-parity
    # across engines, and the Spark form must be valid inside a
    # higher-order-function lambda (where i is BIGINT — hence the CAST,
    # legal and identical in both engines). The Spark branch IS the
    # expression dedup_cdc_chunking folds per row; edit both branches
    # together or the cross-engine differential breaks.
    g = f"substring(text, CAST(i AS INT), {_CDC_GRAM})"
    return (
        f"CAST(conv(substring(md5({g}), 1, 8), 16, 10) AS BIGINT) % {_CDC_MOD}"
        if engine == "spark"
        else f"CAST(('0x' || substring(md5({g}), 1, 8)) AS BIGINT) % {_CDC_MOD}"
    )


@register(
    "dedup_cdc_chunking",
    oracle=f"""
WITH pos AS (
  SELECT doc_id, text, len(text) AS L, CAST(u.i AS BIGINT) AS i
  FROM documents
  CROSS JOIN UNNEST(range(1, greatest(len(text) - {_CDC_GRAM - 1}, 1))) AS u(i)
),
cuts AS (
  SELECT doc_id, text, L, i + {_CDC_GRAM} AS cut
  FROM pos WHERE {_cdc_hash('duck')} = 0
),
starts AS (
  SELECT doc_id, text, L, cut AS s FROM cuts
  UNION ALL
  SELECT doc_id, text, len(text), CAST(1 AS BIGINT) FROM documents
),
chunks AS (
  SELECT doc_id,
         substring(text, CAST(s AS INT),
                   CAST(COALESCE(LEAD(s) OVER (PARTITION BY doc_id ORDER BY s),
                                 L + 1) - s AS INT)) AS chunk
  FROM starts
),
agg AS (
  SELECT md5(chunk) AS chunk_hash,
         CAST(COUNT(*) AS BIGINT) AS n_occurrences,
         CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
         CAST(MIN(len(chunk)) AS INT) AS chunk_len
  FROM chunks WHERE len(chunk) > 0
  GROUP BY md5(chunk) HAVING COUNT(*) > 1
)
SELECT chunk_hash, n_occurrences, n_docs, chunk_len
FROM agg ORDER BY n_occurrences DESC, chunk_hash LIMIT {_CDC_TOP}
""",
)
@fdoc(f"""Content-defined chunking: a boundary falls after every position
    whose {_CDC_GRAM}-gram hashes to 0 mod {_CDC_MOD}, so chunk edges
    are decided by CONTENT, not offset — insert one word at the front of
    a document and every downstream chunk still hashes the same, which
    is exactly why CDC (rsync, LBFS, data-lake dedup) beats fixed-width
    shingling for shift-robust duplicate passage detection. Duplicated
    chunks then fall out of one hash-groupBy.

    Per-doc array formulation (r11 optimization round): boundary
    positions, chunk starts and the chunks themselves are computed
    INSIDE each document row with higher-order functions, then exploded
    straight into the hash aggregate. The old relational form exploded
    every char position into rows and pushed the boundary rows through a
    per-doc LEAD window — a shuffle in which EVERY boundary row carried
    the full document text (~1/{_CDC_MOD} of positions × whole doc =
    corpus-dominating exchange bytes at scale). Now the text never
    leaves its scan task: one map pass, one (partially aggregated) hash
    groupBy, one TakeOrdered. Boundary arithmetic and md5 are
    char-for-char the expressions the oracle replays.""")
def dedup_cdc_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_spread(spark, sf_dir, "documents", "doc_id").select(
        "doc_id", "text", F.length("text").cast("bigint").alias("L")
    )
    hash_i = _cdc_hash("spark")
    # chunk starts: the doc anchor 1 plus i+GRAM for every boundary
    # position (ascending by construction: sequence is ascending, filter
    # preserves order, and every cut is >= GRAM+1 > 1)
    starts_arr = (
        f"concat(array(CAST(1 AS BIGINT)),"
        f" transform(filter(sequence(1L, greatest(L - {_CDC_GRAM - 1}, 1L)),"
        f"                  i -> {hash_i} = 0),"
        f"           i -> i + {_CDC_GRAM}))"
    )
    # chunk k spans [starts[k], next start) — the last runs to L+1,
    # exactly the COALESCE(LEAD(s), L+1) the window form computed
    chunks_arr = (
        f"transform(sequence(0, size(ss) - 1),"
        f" k -> substring(text, CAST(ss[k] AS INT),"
        f"      CAST((IF(k + 1 < size(ss), ss[k + 1], L + 1)) - ss[k] AS INT)))"
    )
    chunks = (
        docs.withColumn("ss", F.expr(starts_arr))
        .select("doc_id", F.explode(F.expr(chunks_arr)).alias("chunk"))
    )
    agg = (
        chunks.filter(F.length("chunk") > 0)
        .groupBy(F.md5("chunk").alias("chunk_hash"))
        .agg(
            F.count("*").cast("bigint").alias("n_occurrences"),
            F.countDistinct("doc_id").cast("bigint").alias("n_docs"),
            F.min(F.length("chunk")).cast("int").alias("chunk_len"),
        )
        .filter(F.col("n_occurrences") > 1)
    )
    return agg.orderBy(F.col("n_occurrences").desc(), "chunk_hash").limit(_CDC_TOP)


# ---------------------------------------------------------------------------
# agg_markov_stationary_power
# ---------------------------------------------------------------------------

_MSP_ITERS = 8


def _msp_oracle() -> str:
    ctes = [
        """pairs AS (
  SELECT event_type AS cur,
         LEAD(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
           AS nxt
  FROM events
)""",
        """t AS (
  SELECT cur, nxt, CAST(COUNT(*) AS BIGINT) AS c
  FROM pairs WHERE nxt IS NOT NULL GROUP BY cur, nxt
)""",
        """p AS (
  SELECT cur, nxt,
         (1000000 * c) // CAST(SUM(c) OVER (PARTITION BY cur) AS BIGINT)
           AS p_micro
  FROM t
)""",
        """states AS (
  SELECT cur AS state, ROW_NUMBER() OVER (ORDER BY cur) AS rnk,
         CAST(COUNT(*) OVER () AS BIGINT) AS k
  FROM (SELECT DISTINCT cur FROM p)
)""",
        """v0 AS (
  SELECT state, (1000000 // k)
         + CASE WHEN rnk <= 1000000 % k THEN 1 ELSE 0 END AS v
  FROM states
)""",
    ]
    for t in range(1, _MSP_ITERS + 1):
        ctes.append(
            f"""v{t} AS (
  SELECT p.nxt AS state,
         CAST(SUM(v{t-1}.v * p.p_micro) // 1000000 AS BIGINT) AS v
  FROM v{t-1} JOIN p ON p.cur = v{t-1}.state
  GROUP BY p.nxt
)"""
        )
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"\nSELECT state, CAST(v AS BIGINT) AS stationary_micro FROM v{_MSP_ITERS}"
    )


@register("agg_markov_stationary_power", oracle=_msp_oracle())
@fdoc(f"""Stationary distribution of the event-type Markov chain by
    {_MSP_ITERS} power iterations: the transition matrix comes from
    per-user consecutive event pairs (micro-unit integral row
    normalization), the start vector is uniform with the integral
    remainder spread deterministically by state rank, and each step is
    v'_j = (Σ_i v_i·P_ij) div 10⁶ — all integers, so the fixed-point
    approach is bit-identical in both engines (same truncation at every
    step).

    Scale shape: the matrix is k² rows for k event types — broadcast-
    sized however big the corpus — so each iteration is a broadcast
    join + k-row aggregate; only the pair extraction (one user-keyed
    window) touches the corpus. The iterative-CTE oracle mirrors
    graph.py's unrolled-PageRank pattern.""")
def agg_markov_stationary_power(spark: SparkSession, sf_dir: str) -> DataFrame:
    pairs = load(spark, sf_dir, "events").select(
        F.col("event_type").alias("cur"),
        F.lead("event_type")
        .over(Window.partitionBy("user_id").orderBy("ts", "event_id"))
        .alias("nxt"),
    )
    t = (
        pairs.filter(F.col("nxt").isNotNull())
        .groupBy("cur", "nxt")
        .agg(F.count("*").cast("bigint").alias("c"))
    )
    p = t.select(
        "cur",
        "nxt",
        F.expr(
            "(1000000 * c) div CAST(SUM(c) OVER (PARTITION BY cur) AS BIGINT)"
        ).alias("p_micro"),
    )
    states = (
        p.select("cur").distinct().select(
            F.col("cur").alias("state"),
            F.row_number().over(Window.orderBy("cur")).alias("rnk"),
            F.count("*")
            .over(Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing))
            .cast("bigint")
            .alias("k"),
        )
    )
    v = states.select(
        "state",
        (
            F.expr("1000000 div k")
            + F.when(F.col("rnk") <= F.expr("1000000 % k"), 1).otherwise(0)
        ).alias("v"),
    )
    for _ in range(_MSP_ITERS):
        v = (
            v.join(F.broadcast(p), v.state == p.cur)
            .groupBy(F.col("nxt").alias("state"))
            .agg(
                F.expr("CAST(SUM(v * p_micro) div 1000000 AS BIGINT)").alias("v")
            )
        )
    return v.select("state", F.col("v").cast("bigint").alias("stationary_micro"))


# ---------------------------------------------------------------------------
# interval_union_duration
# ---------------------------------------------------------------------------

_IU_WIDTH_MS = 30 * 60 * 1000  # each event covers 30 minutes


@register(
    "interval_union_duration",
    oracle=f"""
WITH iv AS (
  SELECT user_id, epoch_ms(ts) AS s, epoch_ms(ts) + {_IU_WIDTH_MS} AS e
  FROM events
),
flagged AS (
  SELECT user_id, s, e,
         CASE WHEN s > COALESCE(MAX(e) OVER (PARTITION BY user_id ORDER BY s, e
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1)
              THEN 1 ELSE 0 END AS new_island
  FROM iv
),
islands AS (
  SELECT user_id, s, e,
         SUM(new_island) OVER (PARTITION BY user_id ORDER BY s, e
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
  FROM flagged
),
merged AS (
  SELECT user_id, island,
         CAST(MAX(e) - MIN(s) AS BIGINT) AS covered
  FROM islands GROUP BY user_id, island
)
SELECT user_id, CAST(COUNT(*) AS INT) AS n_islands,
       CAST(SUM(covered) AS BIGINT) AS covered_ms
FROM merged GROUP BY user_id
""",
)
def interval_union_duration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval union per user: treat each event as a 30-minute activity
    interval, merge everything that overlaps, and total the UNION's
    length — the time-dedup primitive behind uptime/billable-hours
    metrics, where naive SUM(duration) double-counts overlaps. A new
    island starts when an interval's start exceeds the running MAX of
    all previous ends (the classic cummax sweep); the union length is
    then Σ per island of (max end - min start).

    Epoch-millisecond integers end to end. Scale shape: both windows and
    both aggregates share the user_id partitioning — ONE shuffle total,
    each user's sweep independent; no interval self-join ever happens
    (the O(n²) formulation this replaces)."""
    iv = load(spark, sf_dir, "events").select(
        "user_id",
        F.expr("unix_millis(ts)").alias("s"),
        (F.expr("unix_millis(ts)") + _IU_WIDTH_MS).alias("e"),
    )
    wprev = (
        Window.partitionBy("user_id")
        .orderBy("s", "e")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    flagged = iv.select(
        "user_id",
        "s",
        "e",
        F.when(F.col("s") > F.coalesce(F.max("e").over(wprev), F.lit(-1)), 1)
        .otherwise(0)
        .alias("new_island"),
    )
    wrun = (
        Window.partitionBy("user_id")
        .orderBy("s", "e")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    islands = flagged.select(
        "user_id", "s", "e", F.sum("new_island").over(wrun).alias("island")
    )
    merged = islands.groupBy("user_id", "island").agg(
        (F.max("e") - F.min("s")).cast("bigint").alias("covered")
    )
    return merged.groupBy("user_id").agg(
        F.count("*").cast("int").alias("n_islands"),
        F.sum("covered").cast("bigint").alias("covered_ms"),
    )


# ---------------------------------------------------------------------------
# corpus_health_report
# ---------------------------------------------------------------------------

_SHORT_CHARS = 100


@register(
    "corpus_health_report",
    oracle=f"""
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(COUNT(*) - COUNT(DISTINCT md5(text)) AS BIGINT) AS n_exact_dups,
       CAST((1000 * CAST(SUM(n_chars) AS BIGINT)) // CAST(COUNT(*) AS BIGINT)
            AS BIGINT) AS mean_len_milli,
       CAST((1000000 * CAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END)
            AS BIGINT)) // CAST(COUNT(*) AS BIGINT) AS BIGINT) AS pct_en_micro,
       CAST((1000000 * CAST(SUM(CASE WHEN n_chars < {_SHORT_CHARS} THEN 1
            ELSE 0 END) AS BIGINT)) // CAST(COUNT(*) AS BIGINT) AS BIGINT)
         AS short_ratio_micro
FROM documents GROUP BY source
""",
)
def corpus_health_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source corpus health dashboard in ONE pass: document count,
    exact-duplicate count (count minus distinct content hashes), mean
    length, English share and short-document rate — the go/no-go report
    a curation pipeline reads before admitting a source into the
    training mixture (pipeline_curation_gate makes the row-level
    decision; this is the source-level roll-up).

    Every ratio is an exact micro/milli-unit integral division. Scale
    shape: one keyed aggregate; the only non-trivially-partial piece is
    COUNT(DISTINCT md5), which Spark executes as the standard two-phase
    distinct-aggregate expansion — still a single shuffle on source."""
    return (
        load(spark, sf_dir, "documents")
        .groupBy("source")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            (F.count("*") - F.countDistinct(F.md5("text")))
            .cast("bigint")
            .alias("n_exact_dups"),
            F.expr(
                "CAST((1000 * CAST(SUM(n_chars) AS BIGINT))"
                " div CAST(COUNT(*) AS BIGINT) AS BIGINT)"
            ).alias("mean_len_milli"),
            F.expr(
                "CAST((1000000 * CAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END)"
                " AS BIGINT)) div CAST(COUNT(*) AS BIGINT) AS BIGINT)"
            ).alias("pct_en_micro"),
            F.expr(
                f"CAST((1000000 * CAST(SUM(CASE WHEN n_chars < {_SHORT_CHARS}"
                " THEN 1 ELSE 0 END) AS BIGINT))"
                " div CAST(COUNT(*) AS BIGINT) AS BIGINT)"
            ).alias("short_ratio_micro"),
        )
    )
