"""Round-4 pipeline extensions: data-driven tokenizer training, sketch-
pruned shuffles, and resampling statistics.

- BPE TRAINING rounds — the data-driven loop `bpe_pair_counts` (one
  counting pass) and `bpe_apply_merges` (a GIVEN merge table) bracket:
  each round counts adjacent pairs, picks the argmax merge with a total
  tie-break, rewrites the corpus, and repeats. The merge table is LEARNED
  from the data, which makes this the missing third of the tokenizer
  lifecycle (train → encode → audit coverage);
- Bloom-pruned shuffle join — the classic distributed-join optimization:
  build a ~1 KB Bloom filter over the selective build side's keys, prune
  the probe side BEFORE its shuffle (false positives removed by the real
  join, so results are exactly the plain join's). At 100 TB this is the
  difference between shuffling the full fact table and shuffling the few
  percent that can possibly match;
- bootstrap mean CI — B deterministic Poisson-weight resamples evaluated
  as ONE scan with B weighted partial sums (no data explosion), exact
  integer micro-unit means, discrete-percentile confidence bounds.

Reference reach: the delegated SQL slot (``main.cc:181-182``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from c2_duckdb_runner_spark.operators.inference_ext import CENTS_SQL, cents
from c2_duckdb_runner_spark.registry import register
from c2_duckdb_runner_spark.tables import load, load_spread

# ---------------------------------------------------------------------------
# tokenizer_bpe_train_rounds
# ---------------------------------------------------------------------------

_BPE_TRAIN_ROUNDS = 3


def _merge_expr_spark(arr: str, a: str, b: str) -> str:
    """Merge every non-overlapping adjacent (a, b) into 'a_b' (a != b makes
    greedy left-to-right order-free — same rewrite as bpe_apply_merges)."""
    m = f"{a}_{b}"
    return (
        f"filter(transform(sequence(1, size({arr})), i -> "
        f"CASE WHEN element_at({arr}, i) = '{a}' AND i < size({arr}) "
        f"AND element_at({arr}, i + 1) = '{b}' THEN '{m}' "
        f"WHEN i > 1 AND element_at({arr}, i - 1) = '{a}' "
        f"AND element_at({arr}, i) = '{b}' THEN NULL "
        f"ELSE element_at({arr}, i) END), x -> x IS NOT NULL)"
    )


def _merge_expr_duck_cols(arr: str) -> str:
    """DuckDB rewrite with the round's winning pair as COLUMNS (wa, wb)
    cross-joined in — the oracle cannot collect the argmax like the Spark
    driver does, so the winner rides the row."""
    return (
        f"list_filter(list_transform(range(1, len({arr}) + 1), i -> "
        f"CASE WHEN {arr}[i] = wa AND i < len({arr}) "
        f"AND {arr}[i + 1] = wb THEN wa || '_' || wb "
        f"WHEN i > 1 AND {arr}[i - 1] = wa "
        f"AND {arr}[i] = wb THEN NULL "
        f"ELSE {arr}[i] END), x -> x IS NOT NULL)"
    )


def _bpe_train_oracle() -> str:
    ctes = [
        "s0 AS MATERIALIZED (SELECT doc_id, string_split(text, ' ') AS m "
        "FROM documents)"
    ]
    for r in range(1, _BPE_TRAIN_ROUNDS + 1):
        ctes.append(
            f"c{r} AS (SELECT m[CAST(i AS INTEGER)] AS a, "
            f"m[CAST(i AS INTEGER) + 1] AS b, CAST(COUNT(*) AS BIGINT) AS cnt "
            f"FROM s{r - 1}, unnest(range(1, len(m))) AS u(i) GROUP BY a, b)"
        )
        ctes.append(
            f"w{r} AS MATERIALIZED (SELECT a AS wa, b AS wb, cnt "
            f"FROM c{r} ORDER BY cnt DESC, a, b LIMIT 1)"
        )
        ctes.append(
            f"s{r} AS MATERIALIZED (SELECT doc_id, "
            f"{_merge_expr_duck_cols('m')} AS m FROM s{r - 1} CROSS JOIN w{r})"
        )
        ctes.append(
            f"n{r} AS (SELECT CAST(SUM(len(m)) AS BIGINT) AS tokens_after "
            f"FROM s{r})"
        )
    unions = "\nUNION ALL\n".join(
        f"SELECT CAST({r} AS INT) AS round, wa AS a, wb AS b, cnt, "
        f"(SELECT tokens_after FROM n{r}) AS tokens_after FROM w{r}"
        for r in range(1, _BPE_TRAIN_ROUNDS + 1)
    )
    return "WITH " + ",\n".join(ctes) + "\n" + unions


@register("tokenizer_bpe_train_rounds", oracle=_bpe_train_oracle())
def tokenizer_bpe_train_rounds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-driven BPE training: 3 rounds of {count adjacent pairs →
    argmax merge (ties broken by (count DESC, a, b) — a total order, so
    both engines pick the same winner) → corpus-wide rewrite}. Emits the
    LEARNED merge table with each round's post-merge token count.

    Scale shape per round: one scan + one (a,b)-keyed count (map-side
    partials), a 1-row TakeOrdered argmax (the per-round driver fold —
    bytes, not rows, same discipline as PageRank's delta), then a map-only
    array rewrite; rounds localCheckpoint so lineage stays flat. The
    DuckDB oracle replays the identical loop with the argmax as a chained
    CTE (it cannot collect), cross-joining each round's 1-row winner."""
    s = (
        load_spread(spark, sf_dir, "documents", "doc_id")
        .select("doc_id", F.split("text", " ").alias("m"))
        .localCheckpoint(eager=False)
    )
    out_rows = []
    for r in range(1, _BPE_TRAIN_ROUNDS + 1):
        pairs = s.select(
            F.explode(
                F.arrays_zip(
                    F.expr("slice(m, 1, greatest(size(m) - 1, 0))"),
                    F.expr("slice(m, 2, greatest(size(m) - 1, 0))"),
                )
            ).alias("p")
        ).select(F.col("p.0").alias("a"), F.col("p.1").alias("b"))
        win = (
            pairs.groupBy("a", "b")
            .agg(F.count("*").alias("cnt"))
            .orderBy(F.col("cnt").desc(), "a", "b")
            .limit(1)
            .collect()
        )[0]
        s = s.select(
            "doc_id", F.expr(_merge_expr_spark("m", win["a"], win["b"])).alias("m")
        ).localCheckpoint(eager=False)
        stats = s.agg(F.sum(F.size("m")).cast("bigint").alias("tokens_after"))
        out_rows.append(
            stats.select(
                F.lit(r).cast("int").alias("round"),
                F.lit(win["a"]).alias("a"),
                F.lit(win["b"]).alias("b"),
                F.lit(win["cnt"]).cast("bigint").alias("cnt"),
                "tokens_after",
            )
        )
    out = out_rows[0]
    for df in out_rows[1:]:
        out = out.unionByName(df)
    return out


# ---------------------------------------------------------------------------
# join_bloom_pruned_shuffle
# ---------------------------------------------------------------------------

_JB_BITS = 65536  # m: sized ~16 bits/key for the sf0.1 build side (~15k keys)
_JB_K = 4
_JB_WORDS = _JB_BITS // 63 + 1


@register(
    "join_bloom_pruned_shuffle",
    oracle="""
SELECT l_returnflag,
       CAST(COUNT(*) AS BIGINT) AS n_items,
       CAST(SUM(CAST(l_quantity * 100 AS BIGINT)) AS BIGINT) AS qty_cents
FROM lineitem
JOIN orders ON o_orderkey = l_orderkey
WHERE o_orderpriority = '1-URGENT' AND o_orderstatus = 'F'
GROUP BY l_returnflag
""",
)
def join_bloom_pruned_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-pruned shuffle join: the selective build side (urgent
    finished orders, ~10% of orders) compresses its join-key set into an
    m=65536-bit, k=4 Bloom filter that prunes the fact side BEFORE the
    join shuffle. False positives pass the filter but are removed by the
    real join, so the result is EXACTLY the plain join's — which is the
    oracle (the filter is Spark-internal, so it uses native xxhash64 and
    m sizes to the key count; no cross-engine hash parity needed).

    This is the hand-rolled form of Spark's runtime bloom-filter join: at
    100 TB the fact exchange drops from |lineitem| to |matching lineitem|
    · (1 + FP). Representation matters enormously and was measured:
    the words ship as a TRUE ARRAY LITERAL (`F.lit(list)` → one constant
    ArrayData in codegen; probe = hash + element_at + shift, ~0.2 s), vs
    a SQL `array(...)` expression (CreateArray re-materializes 1041
    elements PER ROW, ~3 s), an attached map column (per-row struct copy
    through the join, ~3 s), or a hex-string literal probed by substring
    (~50 s). The build collects the distinct bit positions driver-side
    (~key-count ints — the driver-side BloomFilter merge every engine's
    runtime filter does before broadcasting)."""
    orders = (
        load(spark, sf_dir, "orders")
        .filter(
            (F.col("o_orderpriority") == "1-URGENT")
            & (F.col("o_orderstatus") == "F")
        )
        .select("o_orderkey")
    )
    pos_rows = (
        orders.select(
            F.explode(
                F.array(
                    *[
                        F.pmod(F.xxhash64("o_orderkey", F.lit(j)), F.lit(_JB_BITS))
                        for j in range(_JB_K)
                    ]
                )
            ).alias("pos")
        )
        .distinct()
        .collect()
    )
    dense = [0] * _JB_WORDS
    for r in pos_rows:
        p = int(r["pos"])
        dense[p // 63] |= 1 << (p % 63)
    l = load(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_returnflag", "l_quantity"
    )
    probe = l
    for j in range(_JB_K):
        probe = probe.withColumn(
            f"p{j}", F.pmod(F.xxhash64("l_orderkey", F.lit(j)), F.lit(_JB_BITS))
        )
    probe = probe.withColumn("bwords", F.lit(dense))
    checks = " AND ".join(
        f"(shiftright(element_at(bwords, CAST(p{j} div 63 AS INT) + 1), "
        f"CAST(p{j} % 63 AS INT)) & 1) = 1"
        for j in range(_JB_K)
    )
    pruned = probe.filter(checks).drop(
        "bwords", *[f"p{j}" for j in range(_JB_K)]
    )
    return (
        pruned.join(orders, pruned.l_orderkey == orders.o_orderkey)
        .groupBy("l_returnflag")
        .agg(
            F.count("*").cast("bigint").alias("n_items"),
            F.sum(F.expr("CAST(l_quantity * 100 AS BIGINT)"))
            .cast("bigint")
            .alias("qty_cents"),
        )
    )


# ---------------------------------------------------------------------------
# stats_bootstrap_mean_ci
# ---------------------------------------------------------------------------

_BOOT_B = 16
# Poisson(1) pmf thresholds on a uniform 16-bit draw (floor(p * 65536)):
# P(0)=P(1)=.36788, P(2)=.18394, P(3)=.06131, remainder -> 4.
_BOOT_T = (24109, 48218, 60271, 64289)


def _boot_w(u: str) -> str:
    """Deterministic Poisson(1) weight from a uniform 16-bit hash value."""
    return (
        f"CASE WHEN {u} < {_BOOT_T[0]} THEN 0 "
        f"WHEN {u} < {_BOOT_T[1]} THEN 1 "
        f"WHEN {u} < {_BOOT_T[2]} THEN 2 "
        f"WHEN {u} < {_BOOT_T[3]} THEN 3 ELSE 4 END"
    )


def _boot_u(engine: str, b: int) -> str:
    s = f"CAST(event_id AS STRING) || '_' || '{b}'"
    d = f"CAST(event_id AS VARCHAR) || '_' || '{b}'"
    return (
        f"CAST(conv(substring(md5({s}), 1, 4), 16, 10) AS INT)"
        if engine == "spark"
        else f"CAST(('0x' || substring(md5({d}), 1, 4)) AS INT)"
    )


def _boot_oracle() -> str:
    sums = ",\n".join(
        f"  CAST(SUM(({_boot_w(_boot_u('duck', b))}) * cents) AS BIGINT) AS s{b},\n"
        f"  CAST(SUM({_boot_w(_boot_u('duck', b))}) AS BIGINT) AS w{b}"
        for b in range(_BOOT_B)
    )
    means = ", ".join(
        f"(10000 * s{b}) // GREATEST(w{b}, 1)" for b in range(_BOOT_B)
    )
    return f"""
WITH e AS (
  SELECT event_id, {CENTS_SQL.format('value')} AS cents FROM events
),
agg AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(cents) AS BIGINT) AS tot,
{sums}
  FROM e
),
m AS (SELECT n, (10000 * tot) // n AS mean_micro2,
             list_sort([{means}]) AS bm FROM agg)
SELECT n, CAST(mean_micro2 AS BIGINT) AS mean_cents_x100,
       CAST(bm[1] AS BIGINT) AS ci_lo, CAST(bm[{_BOOT_B}] AS BIGINT) AS ci_hi
FROM m
"""


@register("stats_bootstrap_mean_ci", oracle=_boot_oracle())
def stats_bootstrap_mean_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Poisson-bootstrap confidence interval for the mean event value —
    B=16 resamples evaluated as ONE corpus scan with B weighted partial
    sums (the streaming-bootstrap trick: per (row, b) a deterministic
    md5-uniform draw maps to a Poisson(1) weight, so no 16x row
    explosion, no RNG, full reproducibility across engines/partitionings).

    Everything is integer: values are exact cents, resample means are
    integer micro-units via integral division, and the CI bounds are the
    min/max of the 16 sorted resample means (discrete percentiles at this
    B). At 100 TB this exact shape — one scan, B more columns of map-side
    partial aggregation — is how you put error bars on any corpus metric
    without a second pass."""
    e = load(spark, sf_dir, "events").select(
        "event_id", cents("value").alias("cents")
    )
    aggs = [
        F.count("*").cast("bigint").alias("n"),
        F.sum("cents").cast("bigint").alias("tot"),
    ]
    for b in range(_BOOT_B):
        w = _boot_w(_boot_u("spark", b))
        aggs.append(F.expr(f"CAST(SUM(({w}) * cents) AS BIGINT)").alias(f"s{b}"))
        aggs.append(F.expr(f"CAST(SUM({w}) AS BIGINT)").alias(f"w{b}"))
    agg = e.agg(*aggs)
    means = ", ".join(
        f"(10000 * s{b}) div GREATEST(w{b}, 1L)" for b in range(_BOOT_B)
    )
    return agg.select(
        "n",
        F.expr("CAST((10000 * tot) div n AS BIGINT)").alias("mean_cents_x100"),
        F.expr(f"array_sort(array({means}))").alias("bm"),
    ).select(
        "n",
        "mean_cents_x100",
        F.expr("CAST(element_at(bm, 1) AS BIGINT)").alias("ci_lo"),
        F.expr(f"CAST(element_at(bm, {_BOOT_B}) AS BIGINT)").alias("ci_hi"),
    )
