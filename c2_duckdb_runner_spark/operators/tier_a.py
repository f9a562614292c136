"""Tier A — the operators the reference itself implements (SURVEY.md §2).

The reference's whole pipeline is: enumerate files (``main.cc:297-324``),
per-file ``SELECT * FROM '<file>' WHERE ke > τ`` (``main.cc:164-169``) in a
private engine (``main.cc:174-183``), count rows (``main.cc:197,273-281``),
report. ``ke`` has no fixture analogue; per FIXTURES.md the stand-ins are
``lineitem.l_quantity`` and ``events.value``.

At scale: every one of these is a single parquet scan stage — no shuffle
except the final partial→final count merge (a few bytes per task). Filters
are pushed into the parquet reader (row-group stats skipping), which is
exactly the read-bytes saving the reference's monitored FS exists to measure
(``main.cc:107-113``).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from c2_duckdb_runner_spark.registry import register
from c2_duckdb_runner_spark.tables import load, out_path

# Reference default threshold: Env_ke = 0.5 (main.cc:369-375).
DEFAULT_KE = 0.5


def flagship(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's query, reshaped onto fixtures: scan → filter > τ → count.

    One scan stage, filter pushed to parquet, partial counts merged by the
    scheduler — behaviorally ``main.cc:368-409`` in three lines.
    """
    thr = float(os.environ.get("Env_ke", DEFAULT_KE))
    return (
        load(spark, sf_dir, "events")
        .filter(F.col("value") > F.lit(thr))
        .agg(F.count("*").alias("n"))
    )


@register(
    "scan_filter_count",
    oracle="SELECT COUNT(*) AS n FROM events WHERE value > 0.5",
)
def scan_filter_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship: SELECT count(*) WHERE value > τ (main.cc:164-169 + 197)."""
    return (
        load(spark, sf_dir, "events")
        .filter(F.col("value") > F.lit(DEFAULT_KE))
        .agg(F.count("*").alias("n"))
    )


@register(
    "scan_dir_enumerate",
    oracle="SELECT 'lineitem.parquet' AS file_name, COUNT(*) AS n FROM lineitem",
)
def scan_dir_enumerate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-file identity kept through the scan (main.cc:297-324 enumerates
    files; Spark's InMemoryFileIndex does the same listing — we surface it
    with input_file_name())."""
    return (
        load(spark, sf_dir, "lineitem")
        .groupBy(
            F.regexp_extract(F.input_file_name(), r"([^/]+)$", 1).alias("file_name")
        )
        .agg(F.count("*").alias("n"))
    )


@register("project_star", oracle="SELECT * FROM nation")
def project_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SELECT * — identity projection (main.cc:166)."""
    return load(spark, sf_dir, "nation").select("*")


@register(
    "project_columns",
    oracle="SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem",
)
def project_columns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column pruning — ReadSchema at the scan should contain only 3 cols."""
    return load(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_quantity"
    )


@register(
    "project_exprs",
    oracle=(
        "SELECT l_orderkey, l_linenumber, "
        "l_extendedprice * (1 - l_discount) AS revenue, "
        "l_quantity * 2.0 + 1.0 AS qty2 FROM lineitem"
    ),
)
def project_exprs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Computed projection; per-row IEEE double math is order-independent so
    raw doubles are hash-safe here (unlike aggregates)."""
    li = load(spark, sf_dir, "lineitem")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        (F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"),
        (F.col("l_quantity") * 2.0 + 1.0).alias("qty2"),
    )


@register(
    "filter_gt_threshold",
    oracle=(
        "SELECT event_id, user_id, value FROM events WHERE value > 0.5"
    ),
)
def filter_gt_threshold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's one predicate shape: col > const (main.cc:405-406),
    pushed down to parquet row-group stats."""
    return (
        load(spark, sf_dir, "events")
        .filter(F.col("value") > F.lit(DEFAULT_KE))
        .select("event_id", "user_id", "value")
    )


@register(
    "filter_arbitrary_predicate",
    oracle=(
        "SELECT o_orderkey, o_totalprice, o_orderstatus FROM orders "
        "WHERE (o_totalprice > 50000 AND o_orderstatus = 'O') "
        "OR o_orderpriority LIKE '1-%'"
    ),
)
def filter_arbitrary_predicate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """QueryRunner accepts any SQL boolean filter string (main.cc:209,226);
    here the slot is F.expr over the full Catalyst expression language."""
    predicate = (
        "(o_totalprice > 50000 AND o_orderstatus = 'O') "
        "OR o_orderpriority LIKE '1-%'"
    )
    return (
        load(spark, sf_dir, "orders")
        .filter(F.expr(predicate))
        .select("o_orderkey", "o_totalprice", "o_orderstatus")
    )


@register("agg_rowcount", oracle="SELECT COUNT(*) AS n FROM lineitem")
def agg_rowcount(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bare count — partial per task + final merge, same split as
    main.cc:197 (partial) / main.cc:273-281 (mutex merge)."""
    return load(spark, sf_dir, "lineitem").agg(F.count("*").alias("n"))


@register(
    "sink_parquet",
    oracle=(
        "SELECT l_returnflag, COUNT(*) AS n FROM lineitem "
        "WHERE l_quantity > 25 GROUP BY l_returnflag"
    ),
)
def sink_parquet(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sink parity: the reference serializes binary columnar chunks to stdout
    (main.cc:186-192, DuckDB-private wire format). Our sink contract is
    parquet (SURVEY.md §7 hard-point 5): write the filtered result, read it
    back, aggregate — proving a round trip through our sink."""
    out = out_path(sf_dir, "sink_parquet")
    (
        load(spark, sf_dir, "lineitem")
        .filter(F.col("l_quantity") > 25)
        .write.mode("overwrite")
        .parquet(out)
    )
    return (
        spark.read.parquet(out)
        .groupBy("l_returnflag")
        .agg(F.count("*").alias("n"))
    )
