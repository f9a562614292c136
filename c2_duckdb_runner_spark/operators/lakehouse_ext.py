"""Round-3 lakehouse-mechanics extension: snapshot isolation + time travel
without table-format jars.

``BASELINE.json`` describes the comparable production stack as "Spark SQL
over Parquet/Delta"; this container has no Delta/Iceberg jars
(``README.md`` documents the migration map). This module closes the GAP IN
KIND: a minimal copy-on-write table — versioned MANIFESTS listing
immutable parquet files — implementing the two mechanics that make a table
format a table format: atomic snapshot commits and time-travel reads.
Swap the manifest JSON for Delta's _delta_log and the operator is
`SELECT ... VERSION AS OF`.

Reference reach: the delegated SQL slot (``main.cc:181-182``).
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from c2_duckdb_runner_spark.registry import register
from c2_duckdb_runner_spark.tables import load, out_path


@register(
    "lakehouse_snapshot_timetravel",
    oracle="""
WITH base AS (
  SELECT o_orderkey AS k, o_orderkey % 2 AS bucket,
         TRY_CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
         'base' AS status
  FROM orders WHERE o_orderkey % 5 = 0
),
v2 AS (
  SELECT k, bucket,
         CASE WHEN k % 10 = 0 THEN cents + 777 ELSE cents END AS cents,
         CASE WHEN k % 10 = 0 THEN 'updated' ELSE status END AS status
  FROM base
)
SELECT * FROM (
  SELECT CAST(1 AS BIGINT) AS version, CAST(COUNT(*) AS BIGINT) AS n_rows,
         CAST(SUM(cents) AS BIGINT) AS sum_cents,
         CAST(COUNT(*) FILTER (WHERE status = 'updated') AS BIGINT)
           AS n_updated
  FROM base
  UNION ALL
  SELECT CAST(2 AS BIGINT), CAST(COUNT(*) AS BIGINT),
         CAST(SUM(cents) AS BIGINT),
         CAST(COUNT(*) FILTER (WHERE status = 'updated') AS BIGINT)
  FROM v2
)
""",
)
def lakehouse_snapshot_timetravel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Copy-on-write snapshots + TIME TRAVEL, no jars: the table is a set
    of immutable bucket parquet files named by a versioned MANIFEST
    (v1.json, v2.json — Delta's _delta_log in miniature). An upsert
    touches only bucket 0, so commit v2 rewrites THAT file and re-lists
    the untouched bucket-1 file — copy-on-write. Reading "VERSION AS OF
    1" is just resolving v1's manifest; v1 stays byte-identical after v2
    commits, which is the snapshot-isolation property itself.

    The oracle never reads the mini-lake — it recomputes both versions'
    logical content from `orders` — so a time-travel read that resolved
    the wrong files (torn snapshot, leaked update) hash-mismatches. The
    query emits both versions' aggregates; the commit protocol
    (write-files-then-manifest, manifest rename as the atomic point) is
    the same order Delta/Iceberg commit in."""
    path = out_path(sf_dir, "mini_lakehouse")
    base = load(spark, sf_dir, "orders").filter(F.col("o_orderkey") % 5 == 0).select(
        F.col("o_orderkey").alias("k"),
        (F.col("o_orderkey") % 2).alias("bucket"),
        # TRY_CAST: hostile ±Inf/NaN prices have no money representation
        # -> NULL cents in BOTH engines (round() first makes the value
        # integral, so the X4 try-cast round-vs-truncate gap can't bite)
        F.expr("TRY_CAST(round(o_totalprice * 100) AS BIGINT)").alias("cents"),
        F.lit("base").alias("status"),
    )
    # v1: one immutable file per bucket, THEN the manifest — data
    # before metadata, the universal commit order.
    for b in (0, 1):
        base.filter(F.col("bucket") == b).write.mode("overwrite").parquet(
            f"{path}/bucket{b}_v1"
        )
    with open(f"{path}/v1.json", "w") as fh:
        json.dump({"version": 1, "files": ["bucket0_v1", "bucket1_v1"]}, fh)
    # v2: the upsert touches only even keys -> bucket 0. Copy-on-write:
    # rewrite bucket 0 with the merge applied, re-list bucket 1 as-is.
    upserted = (
        base.filter(F.col("bucket") == 0)
        .select(
            "k",
            "bucket",
            F.when(F.col("k") % 10 == 0, F.col("cents") + 777)
            .otherwise(F.col("cents"))
            .alias("cents"),
            F.when(F.col("k") % 10 == 0, F.lit("updated"))
            .otherwise(F.col("status"))
            .alias("status"),
        )
    )
    upserted.write.mode("overwrite").parquet(f"{path}/bucket0_v2")
    with open(f"{path}/v2.json", "w") as fh:
        json.dump({"version": 2, "files": ["bucket0_v2", "bucket1_v1"]}, fh)

    def read_version(v: int) -> DataFrame:
        with open(f"{path}/v{v}.json") as fh:
            manifest = json.load(fh)
        return spark.read.parquet(*[f"{path}/{f}" for f in manifest["files"]])

    def agg(df: DataFrame, v: int) -> DataFrame:
        return df.agg(
            F.lit(v).cast("bigint").alias("version"),
            F.count("*").cast("bigint").alias("n_rows"),
            F.sum("cents").cast("bigint").alias("sum_cents"),
            F.count(F.when(F.col("status") == "updated", 1))
            .cast("bigint")
            .alias("n_updated"),
        ).select("version", "n_rows", "sum_cents", "n_updated")
    return agg(read_version(1), 1).unionByName(agg(read_version(2), 2))


@register(
    "lakehouse_vacuum_audit",
    oracle="""
SELECT 'bucket0_v1' AS file_dir, FALSE AS referenced, TRUE AS vacuum_safe
UNION ALL
SELECT 'bucket0_v2', TRUE, FALSE
UNION ALL
SELECT 'bucket1_v1', TRUE, FALSE
""",
)
def lakehouse_vacuum_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VACUUM audit for the copy-on-write table: which data directories
    are no longer referenced by the LATEST manifest and are therefore
    safe to delete (after the retention window) — the third leg of table-
    format mechanics after commit and time travel. v2's copy-on-write
    rewrite of bucket 0 orphaned `bucket0_v1`; `bucket1_v1` is still
    listed (re-used across versions), so vacuum must NOT touch it — the
    mistake (deleting any old-version file) that breaks time travel.

    The audit set is manifest-sized (file lists), driver-side by design —
    the same catalog-scale metadata walk `scan_file_prune_stats` does; at
    any data volume this query's cost is the number of FILES, not rows.
    The oracle pins the expected reference/orphan classification by
    construction, so a wrong resolution (e.g. vacuum reading the v1
    manifest) hash-mismatches."""
    # Build the mini-lake for this dataset.
    lakehouse_snapshot_timetravel(spark, sf_dir).collect()
    path = out_path(sf_dir, "mini_lakehouse")
    with open(f"{path}/v2.json") as fh:
        latest = set(json.load(fh)["files"])
    data_dirs = sorted(
        d
        for d in os.listdir(path)
        if os.path.isdir(os.path.join(path, d))
    )
    rows = [
        (d, d in latest, d not in latest)
        for d in data_dirs
    ]
    return spark.createDataFrame(
        rows, "file_dir string, referenced boolean, vacuum_safe boolean"
    )
