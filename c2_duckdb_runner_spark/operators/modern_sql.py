"""Modern Spark 4 SQL surface — recursive CTEs, VARIANT, UNPIVOT.

The reference's declared surface is "whatever SQL the embedded engine
accepts" (``main.cc:181-182``); DuckDB accepts recursive CTEs, JSON path
extraction, and UNPIVOT, so capability parity requires all three. Spark 4
gained each natively (recursive CTE: SPARK-24497; VARIANT: SPARK-45827;
unpivot/melt: SPARK-39876), which keeps these JVM-side — no UDF fallback.

Scale notes (100 TB design point):
- The recursive CTE executes as Spark's iterative union-loop: each step is
  a narrow self-increment over the frontier (no join against the full
  accumulated result), and the recursion depth here is log2(max key), not
  row count.
- VARIANT parses the JSON once into a binary columnar encoding at scan
  time; repeated ``variant_get`` path reads are cheap field probes instead
  of re-parsing strings per access (the reason to prefer VARIANT over
  get_json_object at scale).
- UNPIVOT is a zero-shuffle stack generator (each input row emits one row
  per measure map-side); only the downstream per-measure aggregate
  exchanges data.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from c2_duckdb_runner_spark.registry import register
from c2_duckdb_runner_spark.session import conf_override
from c2_duckdb_runner_spark.tables import load


@register(
    "sql_recursive_cte",
    oracle="""
WITH RECURSIVE chain(sk, anc, depth) AS (
  SELECT s_suppkey, s_suppkey, 0 FROM supplier
  UNION ALL
  SELECT sk, anc // 2, depth + 1 FROM chain WHERE anc > 0
)
SELECT sk AS s_suppkey, MAX(depth) AS depth FROM chain GROUP BY sk
""",
)
def sql_recursive_cte(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recursive CTE (Spark 4): walk each supplier key up the implicit
    binary tree (parent = key div 2) to the root and report the walk
    depth — the ancestor-chain recursion shape (org charts, BOM
    explosions), depth-bounded at log2(max key).

    The query self-pins ``spark.sql.cteRecursionRowLimit``: the default
    1M-row guard trips at the 100x replica (100k suppliers x ~29 ancestor
    levels under the shifted key domain ~ 2.9M recursion rows — caught by
    the r9 sweep). The recursion's TRUE bound is n_suppliers x
    log2(max_key): linear in input with a logarithmic factor, never
    runaway, so raising the guard is semantics-safe at any corpus scale.
    The override is SCOPED: the prior limit is restored after the
    recursion materializes (localCheckpoint — distributed executor
    storage, n_suppliers output rows, no driver collect), so the
    session-wide runaway guard stays armed for every later query."""
    with conf_override(
        spark, {"spark.sql.cteRecursionRowLimit": str(1_000_000_000)}
    ):
        load(spark, sf_dir, "supplier").createOrReplaceTempView("supplier_rc")
        df = spark.sql("""
WITH RECURSIVE chain(sk, anc, depth) AS (
  SELECT s_suppkey, s_suppkey, 0 FROM supplier_rc
  UNION ALL
  SELECT sk, anc div 2, depth + 1 FROM chain WHERE anc > 0
)
SELECT sk AS s_suppkey, MAX(depth) AS depth FROM chain GROUP BY sk
""")
        return df.localCheckpoint(eager=True)


@register(
    "fn_variant",
    oracle="""
SELECT event_type, COUNT(*) AS n,
       CAST(SUM(CAST(json_extract(props, '$.k') AS INTEGER)) AS BIGINT)
         AS k_sum
FROM events
WHERE CAST(json_extract(props, '$.k') AS INTEGER) > 50
GROUP BY event_type
""",
)
def fn_variant(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VARIANT (Spark 4): parse the JSON props column once into the binary
    variant encoding, then probe ``$.k`` with variant_get for a filter and
    an integer aggregate — the semi-structured hot path that replaces
    per-access get_json_object string re-parsing."""
    ev = load(spark, sf_dir, "events").withColumn(
        "v", F.parse_json("props")
    ).withColumn("k", F.expr("variant_get(v, '$.k', 'int')"))
    return (
        ev.filter(F.col("k") > 50)
        .groupBy("event_type")
        .agg(F.count("*").alias("n"), F.sum("k").alias("k_sum"))
    )


@register(
    "fn_unpivot_melt",
    oracle="""
SELECT measure, COUNT(*) AS n,
       CAST(SUM(CAST(val AS DECIMAL(18,4))) AS DOUBLE) AS total
FROM (SELECT l_quantity, l_extendedprice, l_discount FROM lineitem)
UNPIVOT (val FOR measure IN (l_quantity, l_extendedprice, l_discount))
GROUP BY measure
""",
)
def fn_unpivot_melt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNPIVOT / melt (wide→long): stack three lineitem measures into
    (measure, val) rows map-side, then aggregate per measure — the inverse
    of agg_pivot, closing the reshape pair."""
    li = load(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_quantity", "l_extendedprice", "l_discount"
    )
    return (
        li.unpivot(
            ["l_orderkey"],
            ["l_quantity", "l_extendedprice", "l_discount"],
            "measure",
            "val",
        )
        .groupBy("measure")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("val").cast("decimal(18,4)"))
            .cast("double")
            .alias("total"),
        )
    )


@register(
    "sql_pipe_syntax",
    oracle="""
SELECT l_returnflag, l_linestatus, CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1995-01-01'
GROUP BY l_returnflag, l_linestatus
""",
)
def sql_pipe_syntax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL pipe syntax (Spark 4, SQL:2023-adjacent `|>` operators): the
    same filtered aggregation written as a linear dataflow — FROM |> WHERE
    |> AGGREGATE. Pipe stages parse to exactly the Catalyst plan the nested
    form produces (verify with .explain — same Aggregate over Filter over
    Scan, same pushdown), so this is pure surface syntax with zero plan
    cost; the oracle is the classic spelling."""
    load(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem_pipe")
    return spark.sql(
        """
        FROM lineitem_pipe
        |> WHERE l_shipdate >= TIMESTAMP '1995-01-01'
        |> AGGREGATE COUNT(*) AS n,
                     SUM(CAST(l_quantity AS BIGINT)) AS qty
             GROUP BY l_returnflag, l_linestatus
        |> SELECT l_returnflag, l_linestatus, n, qty
        """
    )


@register(
    "sql_scripting_variables",
    oracle="""
SELECT l_returnflag, CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
FROM lineitem
WHERE l_quantity > (SELECT avg(l_quantity) FROM lineitem)
GROUP BY l_returnflag
""",
)
def sql_scripting_variables(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL scripting (Spark 4 BEGIN…END) with session variables: a scalar
    statistic is computed into a DECLAREd variable, then drives the main
    query's predicate — the parameterized-job shape (compute watermark →
    filter by it) written entirely in SQL instead of driver-side glue. The
    variable read folds to a literal at plan time, so the filter still
    pushes into the scan. avg(l_quantity) sums integer-valued doubles
    (exactly representable), so the threshold is bit-identical in both
    engines. The oracle inlines the scalar subquery."""
    load(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem_sv")
    return spark.sql(
        """
        BEGIN
          DECLARE thr DOUBLE DEFAULT 0.0;
          SET thr = (SELECT avg(l_quantity) FROM lineitem_sv);
          SELECT l_returnflag, COUNT(*) AS n,
                 CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
                   AS revenue
          FROM lineitem_sv WHERE l_quantity > thr
          GROUP BY l_returnflag;
        END
        """
    )


@register(
    "sql_execute_immediate",
    oracle="""
SELECT o_orderpriority,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
FROM orders
WHERE o_totalprice > 150000.0 AND o_orderstatus = 'O'
GROUP BY o_orderpriority
""",
)
def sql_execute_immediate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parameterized dynamic SQL (Spark 4 EXECUTE IMMEDIATE ... USING): the
    query text is a value with :named parameter markers, bound at
    execution — the safe templating surface for orchestrators that today
    string-interpolate SQL (injection-proof: parameters are bound as
    literals by the engine, never spliced as text). Session variables
    carry the statement and the bindings; the inner plan optimizes exactly
    as if written inline (constant-folded predicate pushdown — same as
    sql_scripting_variables pins)."""
    load(spark, sf_dir, "orders").createOrReplaceTempView("c2s_orders_ei")
    spark.sql("DECLARE OR REPLACE VARIABLE c2s_stmt STRING")
    spark.sql(
        "SET VAR c2s_stmt = "
        "'SELECT o_orderpriority, COUNT(*) AS n, "
        "CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total "
        "FROM c2s_orders_ei "
        "WHERE o_totalprice > :minprice AND o_orderstatus = :status "
        "GROUP BY o_orderpriority'"
    )
    return spark.sql(
        "EXECUTE IMMEDIATE c2s_stmt USING 150000.0 AS minprice, 'O' AS status"
    )
