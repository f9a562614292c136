"""Join surface — all delegated by the reference to its embedded engine
(``main.cc:181-182``); here expressed declaratively so Catalyst picks the
physical join.

Scale notes (100 TB design point):
- fact⋈dim joins broadcast the dim (region/nation are O(1)-sized at any SF;
  ``F.broadcast`` pins it, AQE would also convert post-filter small sides);
- fact⋈fact equi-joins shuffle on the key → sort-merge; AQE skew-join splits
  hot keys at runtime;
- the theta join is a BroadcastNestedLoop — kept aggregate-only and
  small-side-broadcast, and documented as O(n·m): at 100 TB you bucket or
  band such predicates instead (see join_asof for the banded pattern).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from c2_duckdb_runner_spark.registry import register
from c2_duckdb_runner_spark.tables import load, out_path


@register(
    "join_inner_hash",
    oracle=(
        "SELECT o.o_orderpriority, COUNT(*) AS n, "
        "CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price "
        "FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey "
        "GROUP BY o.o_orderpriority"
    ),
)
def join_inner_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fact⋈fact equi-join: shuffles both sides on l_orderkey/o_orderkey.
    Both tables are key-clustered by orderkey on disk, so at scale bucketing
    both by orderkey makes this shuffle-free."""
    li = load(spark, sf_dir, "lineitem")
    o = load(spark, sf_dir, "orders")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey, "inner")
        .groupBy("o_orderpriority")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("l_extendedprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("sum_price"),
        )
    )


@register(
    "join_broadcast",
    oracle=(
        "SELECT n.n_name, r.r_name, COUNT(*) AS n_customers "
        "FROM customer c "
        "JOIN nation n ON c.c_nationkey = n.n_nationkey "
        "JOIN region r ON n.n_regionkey = r.r_regionkey "
        "GROUP BY n.n_name, r.r_name"
    ),
)
def join_broadcast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Star-join through two broadcast dims — no shuffle for the joins at
    all; the only shuffle is the final group-by (25 keys)."""
    c = load(spark, sf_dir, "customer")
    n = load(spark, sf_dir, "nation")
    r = load(spark, sf_dir, "region")
    return (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("n_name", "r_name")
        .agg(F.count("*").alias("n_customers"))
    )


@register(
    "join_left_outer",
    oracle=(
        "SELECT c.c_custkey, COUNT(o.o_orderkey) AS n_orders "
        "FROM customer c LEFT JOIN orders o ON c.c_custkey = o.o_custkey "
        "GROUP BY c.c_custkey"
    ),
)
def join_left_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT OUTER — COUNT(col) skips the null-extended rows, so customers
    with no orders report 0."""
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("n_orders"))
    )


@register(
    "join_right_outer",
    oracle=(
        "SELECT s.s_suppkey, n.n_name FROM nation n "
        "RIGHT JOIN supplier s ON s.s_nationkey = n.n_nationkey"
    ),
)
def join_right_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RIGHT OUTER join: every supplier row survives, unmatched nation
    columns go NULL — planned as the mirrored left-outer by Catalyst."""
    n = load(spark, sf_dir, "nation")
    s = load(spark, sf_dir, "supplier")
    return n.join(s, s.s_nationkey == n.n_nationkey, "right").select(
        "s_suppkey", "n_name"
    )


@register(
    "join_full_outer",
    oracle=(
        # +0.0 normalizes -0.0 (IEEE: -0.0 + 0.0 = +0.0 in both engines):
        # Spark's DISTINCT collapses -0.0 with 0.0 (SPARK-32110), DuckDB
        # keeps them distinct — r11 hostile pin
        "SELECT a.k AS k_small, b.k AS k_big FROM "
        "(SELECT DISTINCT l_quantity + 0.0 AS k FROM lineitem "
        " WHERE l_quantity <= 10) a "
        "FULL OUTER JOIN "
        "(SELECT DISTINCT l_quantity + 0.0 AS k FROM lineitem "
        " WHERE l_quantity >= 5) b "
        "ON a.k = b.k"
    ),
)
def join_full_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL OUTER over two overlapping key sets — exercises null extension on
    both sides."""
    li = load(spark, sf_dir, "lineitem")
    a = li.filter("l_quantity <= 10").select(
        (F.col("l_quantity") + F.lit(0.0)).alias("k")
    ).distinct()
    b = li.filter("l_quantity >= 5").select(
        (F.col("l_quantity") + F.lit(0.0)).alias("k")
    ).distinct()
    return a.join(b, a.k == b.k, "full_outer").select(
        a.k.alias("k_small"), b.k.alias("k_big")
    )


@register(
    "join_semi",
    oracle=(
        "SELECT c_custkey, c_name FROM customer c WHERE EXISTS "
        "(SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey "
        " AND o.o_totalprice > 200000)"
    ),
)
def join_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT SEMI = EXISTS. Only the left's columns survive; right side is
    reduced to a key set (broadcast when small post-filter)."""
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 200000)
    return c.join(o, c.c_custkey == o.o_custkey, "left_semi").select(
        "c_custkey", "c_name"
    )


@register(
    "join_anti",
    oracle=(
        "SELECT c_custkey, c_name FROM customer c WHERE NOT EXISTS "
        "(SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)"
    ),
)
def join_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT ANTI = NOT EXISTS — customers who never ordered."""
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders")
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select(
        "c_custkey", "c_name"
    )


@register(
    "join_theta_range",
    oracle=(
        "SELECT s.s_suppkey, COUNT(*) AS n_richer_customers "
        "FROM supplier s JOIN customer c ON c.c_acctbal > s.s_acctbal "
        "GROUP BY s.s_suppkey"
    ),
)
def join_theta_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Non-equi (theta) join → BroadcastNestedLoopJoin with supplier (the
    small side) broadcast. Cost is O(|s|·|c|): fine for a dim×fact inequality,
    never for fact×fact. The registered scale path for the fact×fact case is
    ``join_range_banded`` (operators/scale_patterns.py) — band the range into
    an equi-join key and re-check the exact predicate after; ``join_asof``
    shows the same idea for time ordering."""
    s = load(spark, sf_dir, "supplier")
    c = load(spark, sf_dir, "customer")
    return (
        c.join(F.broadcast(s), c.c_acctbal > s.s_acctbal)
        .groupBy("s_suppkey")
        .agg(F.count("*").alias("n_richer_customers"))
    )


@register(
    "join_asof",
    # NULL pin (r11 hostile): a NULL timestamp or NULL user can never
    # asof-match (three-valued comparison); DuckDB's ASOF operator
    # instead sorts NULL ts INTO the match order, so the oracle keeps
    # NULL-key clicks out of the ASOF and re-attaches them unmatched
    oracle=(
        "SELECT c.event_id, c.user_id, epoch_ms(c.ts) AS click_ms, "
        "p.last_purchase_value FROM "
        "(SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts FROM events "
        " WHERE event_type = 'click' AND ts IS NOT NULL "
        " AND user_id IS NOT NULL) c "
        "ASOF LEFT JOIN "
        "(SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, value AS last_purchase_value "
        " FROM events WHERE event_type = 'purchase' AND ts IS NOT NULL "
        " AND user_id IS NOT NULL) p "
        "ON c.user_id = p.user_id AND c.ts >= p.ts "
        "UNION ALL "
        "SELECT event_id, user_id, epoch_ms(CAST(ts AS TIMESTAMP)), "
        "CAST(NULL AS DOUBLE) FROM events "
        "WHERE event_type = 'click' AND (ts IS NULL OR user_id IS NULL)"
    ),
)
def join_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AS-OF join (no native Spark op — SURVEY.md §7 hard-point 3).

    Pattern: union both sides tagged, one window pass per user ordered by
    (ts, side) carrying the last purchase value forward with
    last_value(ignorenulls). One shuffle on user_id, no range explosion —
    this is the 100 TB-safe formulation (vs. the O(n·m) theta join).
    DuckDB has native ASOF JOIN as the oracle.
    """
    ev = load(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    # NULL ts/user never asof-match (r11 hostile pin, mirrored in the
    # oracle): matchless purchases leave the union entirely; matchless
    # clicks stay (LEFT semantics) and get their value NULLed below
    purchases = ev.filter(
        (F.col("event_type") == "purchase")
        & F.col("ts").isNotNull()
        & F.col("user_id").isNotNull()
    ).select("user_id", "ts", F.col("value").alias("pvalue"))
    # Tag: purchases sort before clicks at identical ts (asof is inclusive >=)
    tagged = purchases.select(
        "user_id", "ts", F.lit(0).alias("side"),
        F.lit(None).cast("long").alias("event_id"), "pvalue"
    ).unionByName(
        clicks.select(
            "user_id", "ts", F.lit(1).alias("side"), "event_id",
            F.lit(None).cast("double").alias("pvalue"),
        )
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "side")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    # carry the last purchase ROW (as a struct), not the last non-null
    # VALUE: a matched purchase whose value is NULL must yield NULL, not
    # fall through to an earlier purchase (r11 hostile pin — DuckDB's
    # ASOF matches rows)
    joined = tagged.withColumn(
        "last_purchase_value",
        F.last(
            F.when(F.col("side") == 0, F.struct("pvalue")), ignorenulls=True
        ).over(w)["pvalue"],
    )
    return joined.filter(F.col("side") == 1).select(
        "event_id",
        "user_id",
        F.unix_millis("ts").alias("click_ms"),
        F.when(
            F.col("ts").isNotNull() & F.col("user_id").isNotNull(),
            F.col("last_purchase_value"),
        ).alias("last_purchase_value"),
    )


@register(
    "join_cross",
    oracle=(
        "SELECT r1.r_name AS a, r2.r_name AS b FROM region r1 CROSS JOIN region r2"
    ),
)
def join_cross(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit cartesian product (5×5) — crossJoin must be opted into."""
    r1 = load(spark, sf_dir, "region").select(F.col("r_name").alias("a"))
    r2 = load(spark, sf_dir, "region").select(F.col("r_name").alias("b"))
    return r1.crossJoin(r2)


@register(
    "join_null_safe_eq",
    oracle="""
WITH c AS (
  SELECT nullif(c_nationkey % 5, 3) AS k, c_custkey FROM customer
), s AS (
  SELECT nullif(s_nationkey % 5, 3) AS k, s_suppkey FROM supplier
)
SELECT c.k AS k, CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(c.c_custkey) AS BIGINT) AS cust_sum
FROM c JOIN s ON c.k IS NOT DISTINCT FROM s.k
GROUP BY c.k
""",
)
def join_null_safe_eq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-safe equi-join (``<=>`` / IS NOT DISTINCT FROM): NULL keys MATCH
    each other instead of vanishing, the semantics every late-arriving-
    dimension pipeline needs for 'unknown' buckets. EqualNullSafe is still a
    hashable equi-condition, so Catalyst keeps the hash-join strategies —
    no fallback to nested-loop (unlike a.k = b.k OR (a.k IS NULL AND b.k IS
    NULL) before optimization). Reference reaches it through the delegated
    predicate slot (main.cc:164-169)."""
    c = load(spark, sf_dir, "customer").select(
        F.nullif(F.col("c_nationkey") % 5, F.lit(3)).alias("ck"), "c_custkey"
    )
    s = load(spark, sf_dir, "supplier").select(
        F.nullif(F.col("s_nationkey") % 5, F.lit(3)).alias("sk"), "s_suppkey"
    )
    return (
        c.join(s, c["ck"].eqNullSafe(s["sk"]), "inner")
        .groupBy(F.col("ck").alias("k"))
        .agg(
            F.count("*").alias("n"),
            F.sum("c_custkey").cast("bigint").alias("cust_sum"),
        )
    )


@register(
    "join_dynamic_partition_pruning",
    oracle="""
WITH dim AS (
  SELECT * FROM (VALUES
    ('1-URGENT', 'hot'), ('2-HIGH', 'hot'),
    ('3-MEDIUM', 'warm'), ('4-NOT SPECIFIED', 'cold'), ('5-LOW', 'cold')
  ) AS t(prio, tier)
)
SELECT o.o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
FROM orders o JOIN dim d ON o.o_orderpriority = d.prio
WHERE d.tier = 'hot'
GROUP BY o.o_orderpriority
""",
)
def join_dynamic_partition_pruning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic partition pruning — THE 100 TB join feature: the fact table
    is laid out hive-partitioned on the join key, the dim filter ('hot'
    tier) is only known at runtime, and Catalyst injects a dynamicpruning
    subquery into the fact scan so only the matching partition DIRECTORIES
    are listed and read (check PartitionFilters: dynamicpruning#N in the
    plan — pinned by tests/test_plans.py). Static pruning can't do this:
    the pruning values come from the dim side, not a literal."""
    path = out_path(sf_dir, "orders_by_priority")
    load(spark, sf_dir, "orders").write.mode("overwrite").partitionBy(
        "o_orderpriority"
    ).parquet(path)
    fact = spark.read.parquet(path)
    dim = spark.createDataFrame(
        [
            ("1-URGENT", "hot"),
            ("2-HIGH", "hot"),
            ("3-MEDIUM", "warm"),
            ("4-NOT SPECIFIED", "cold"),
            ("5-LOW", "cold"),
        ],
        "prio string, tier string",
    )
    return (
        fact.join(
            F.broadcast(dim),
            (fact.o_orderpriority == dim.prio) & (dim.tier == "hot"),
        )
        .groupBy("o_orderpriority")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("total"),
        )
    )


@register(
    "join_hint_shuffle_hash",
    oracle="""
SELECT o_orderstatus,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS bal_sum
FROM customer JOIN orders ON c_custkey = o_custkey
GROUP BY o_orderstatus
""",
)
def join_hint_shuffle_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-strategy HINT: force a ShuffledHashJoin where Catalyst would
    default to SortMergeJoin (both sides big, neither broadcastable).
    Hash beats sort-merge when one side fits per-partition memory after
    the shuffle — it skips BOTH sort passes — and at 100 TB picking it
    deliberately for a known-smaller build side is a standard multi-
    percent win; the hint is per-relation, so the optimizer keeps every
    other choice. The RESULT is strategy-independent (what the oracle
    hash-checks); tests/test_plans.py pins that the physical plan really
    contains the hash join and no sort-merge."""
    c = load(spark, sf_dir, "customer").select("c_custkey", "c_acctbal")
    o = load(spark, sf_dir, "orders").select("o_custkey", "o_orderstatus")
    j = o.join(
        c.hint("shuffle_hash"), c.c_custkey == o.o_custkey
    )
    return j.groupBy("o_orderstatus").agg(
        F.count("*").alias("n"),
        F.sum(F.col("c_acctbal").cast("decimal(18,2)"))
        .cast("double")
        .alias("bal_sum"),
    )
