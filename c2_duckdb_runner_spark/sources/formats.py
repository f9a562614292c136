"""Source/sink formats beyond parquet: CSV, JSON, partitioned parquet, Arrow.

The reference's format surface is DuckDB's extension-inferred replacement
scan (``main.cc:164-169`` splices any path into ``FROM '<file>'``; csv/json
ride the same slot). Our contract: every format round-trips losslessly
against the parquet ground truth, so each query here writes with Spark,
reads back, and lets the DuckDB oracle check the result against the original
table — a write+read differential, not just a read.

The binary-columnar sink (``main.cc:186-192``, DuckDB's private vector wire
format) is deliberately NOT byte-replicated (SURVEY.md §7): our columnar
contracts are parquet and Arrow record batches (``mapInArrow``).

Writes land under ``tables.out_path`` (never in the read-only fixture
tree), ``overwrite`` mode, and every call writes what it reads.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from c2_duckdb_runner_spark.registry import register
from c2_duckdb_runner_spark.tables import load, out_path


@register("scan_csv_roundtrip", oracle="SELECT * FROM nation")
def scan_csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV sink+source: write nation as headered CSV, read it back with an
    explicit schema (never inferSchema in production — one extra full pass).
    Round-trip must equal the parquet original."""
    path = out_path(sf_dir, "nation_csv")
    nation = load(spark, sf_dir, "nation")
    nation.write.mode("overwrite").option("header", True).csv(path)
    return spark.read.schema(nation.schema).option("header", True).csv(path)


@register("scan_json_roundtrip", oracle="SELECT * FROM customer")
def scan_json_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON-lines sink+source for customer (exercises double round-trip:
    Spark writes shortest-repr doubles, which re-parse bit-exact)."""
    path = out_path(sf_dir, "customer_json")
    customer = load(spark, sf_dir, "customer")
    customer.write.mode("overwrite").json(path)
    return spark.read.schema(customer.schema).json(path)


@register(
    "scan_partitioned_parquet",
    oracle=(
        "SELECT o_orderpriority, COUNT(*) AS n, "
        "CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total "
        "FROM orders WHERE o_orderstatus = 'F' GROUP BY o_orderpriority"
    ),
)
def scan_partitioned_parquet(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hive-partitioned parquet: write orders partitioned by o_orderstatus,
    read back filtered to one partition — the filter must become partition
    PRUNING (only the o_orderstatus=F directory is listed/scanned; check
    `.explain` PartitionFilters). This is the layout that matters most at
    100 TB: pruning beats row-group skipping by orders of magnitude."""
    path = out_path(sf_dir, "orders_by_status")
    orders = load(spark, sf_dir, "orders")
    orders.write.mode("overwrite").partitionBy("o_orderstatus").parquet(path)
    back = spark.read.parquet(path)
    return (
        back.filter(F.col("o_orderstatus") == "F")
        .groupBy("o_orderpriority")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("total"),
        )
    )


@register(
    "scan_schema_evolution",
    oracle=(
        "SELECT n_nationkey, n_name, NULL AS n_comment_v2 FROM nation "
        "UNION ALL "
        "SELECT n_nationkey, n_name, "
        "concat('v2:', n_name) AS n_comment_v2 FROM nation"
    ),
)
def scan_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema evolution across files: generation 1 lacks a column that
    generation 2 adds; ``mergeSchema`` reconciles them at read time (old
    rows get NULL). At 100 TB datasets accrete columns for years — the
    engine must read the union schema without rewriting history. (mergeSchema
    costs a footer read per file; production pins the merged schema in a
    catalog instead of re-inferring per query — both paths shown here.)"""
    path = out_path(sf_dir, "nation_evolving")
    nation = load(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    nation.write.mode("overwrite").parquet(f"{path}/gen=1")
    nation.withColumn(
        "n_comment_v2", F.concat(F.lit("v2:"), F.col("n_name"))
    ).write.mode("overwrite").parquet(f"{path}/gen=2")
    merged = (
        spark.read.option("mergeSchema", True)
        .parquet(f"{path}/gen=1", f"{path}/gen=2")
    )
    return merged.select("n_nationkey", "n_name", "n_comment_v2")


@register(
    "sink_arrow_columnar",
    oracle=(
        "SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice "
        "FROM lineitem WHERE l_quantity > 25"
    ),
)
def sink_arrow_columnar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow columnar pass: stream the scan through mapInArrow record batches
    (identity transform) — our stand-in for the reference's binary columnar
    sink (``main.cc:186-192``): column-at-a-time batches crossing an API
    boundary without row materialization. The batch is the IR, as DataChunk
    was for the reference."""
    li = (
        load(spark, sf_dir, "lineitem")
        .filter(F.col("l_quantity") > 25)
        .select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice")
    )

    def passthrough(batches):
        for batch in batches:
            yield batch

    return li.mapInArrow(passthrough, schema=li.schema)


@register("scan_orc_roundtrip", oracle="SELECT * FROM supplier")
def scan_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC sink+source: the other first-class columnar format (native
    reader/writer, predicate pushdown, column pruning — same scan planning
    as parquet). Round-trip must equal the parquet original, which the
    oracle reads directly."""
    path = out_path(sf_dir, "supplier_orc")
    supplier = load(spark, sf_dir, "supplier")
    supplier.write.mode("overwrite").orc(path)
    return spark.read.schema(supplier.schema).orc(path)


@register(
    "scan_binary_files",
    oracle="""
SELECT source,
       md5(string_agg(text, chr(10) ORDER BY doc_id) || chr(10)) AS content_md5,
       CAST(SUM(len(text) + 1) AS BIGINT) AS n_bytes
FROM documents GROUP BY source
""",
)
def scan_binary_files(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Opaque-binary source (spark.read.format('binaryFile') — the
    multimodal ingestion path): write documents as a text sink laid out
    one file per source (repartition on the partition column pins one
    task per source; sortWithinPartitions pins byte order), then read the
    files back as raw binary and fingerprint content+length per file.
    The oracle recomputes the EXACT file bytes from the table
    (newline-joined rows + trailing newline) — a byte-level sink/source
    parity check, the strongest contract a text sink can state. The
    binary path/content schema is exactly what image/audio payload
    ingestion uses at scale."""
    path = out_path(sf_dir, "docs_text_by_source")
    d = load(spark, sf_dir, "documents")
    (
        d.select("doc_id", "text", "source")
        .repartition("source")
        .sortWithinPartitions("source", "doc_id")
        # text sink accepts exactly one value column (+ partition cols);
        # the projection preserves the sorted order
        .select("text", "source")
        .write.mode("overwrite")
        .partitionBy("source")
        .text(path)
    )
    bf = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.txt")
        .option("recursiveFileLookup", False)
        .load(path + "/*")
    )
    return bf.select(
        F.regexp_extract(F.col("path"), r"source=([^/]+)/", 1).alias("source"),
        F.md5("content").alias("content_md5"),
        F.col("length").alias("n_bytes"),
    )


@register("sink_parquet_zstd", oracle="SELECT * FROM part")
def sink_parquet_zstd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parquet sink with an explicit columnar codec (zstd — the modern
    default for cold data: ~30% smaller than snappy at similar scan
    speed) and dictionary encoding left on; round-trip must equal the
    original table. Codec choice is a per-write option, not a session
    mutation, so mixed-codec lakes read transparently."""
    path = out_path(sf_dir, "part_zstd")
    part = load(spark, sf_dir, "part")
    part.write.mode("overwrite").option("compression", "zstd").parquet(path)
    return spark.read.parquet(path)


@register(
    "scan_text_roundtrip",
    oracle="SELECT doc_id, source, lang, n_chars FROM documents",
)
def scan_text_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Line-oriented text sink+source: one delimited record per line (the
    text datasource is schema-free — exactly one string ``value`` column),
    then re-parse the lines back into typed columns. The delimiter-join uses
    only newline-free columns, so lines↔rows is exact; the oracle is the
    original typed projection. This is the lowest-common-denominator
    interchange format (log shipping, queue bodies) and the same per-file
    task fan-out as the reference's directory scan (main.cc:297-324)."""
    path = out_path(sf_dir, "documents_text")
    d = load(spark, sf_dir, "documents")

    # Hostile-safe framing: free-form strings may contain the delimiter or
    # embedded newlines (which the line sink would split into two records),
    # so string fields ship hex-armored with an explicit \\N sentinel for
    # NULL — the standard TSV-escape discipline, still one line per record
    # through the schema-free text source. (hex, not base64: Spark's
    # base64 expression emits MIME-chunked output with a CRLF every 76
    # chars, which re-breaks the framing for long strings.)
    def arm(col):
        return F.coalesce(F.hex(F.encode(col, "utf-8")), F.lit("\\N"))

    def disarm(col):
        return F.when(col != "\\N", F.decode(F.unhex(col), "utf-8"))

    lines = d.select(
        F.concat_ws(
            "|",
            F.coalesce(F.col("doc_id").cast("string"), F.lit("\\N")),
            arm(F.col("source")),
            arm(F.col("lang")),
            F.coalesce(F.col("n_chars").cast("string"), F.lit("\\N")),
        ).alias("value")
    )
    lines.write.mode("overwrite").text(path)
    parts = F.split(F.col("value"), r"\|")
    return spark.read.text(path).select(
        parts.getItem(0).try_cast("bigint").alias("doc_id"),
        disarm(parts.getItem(1)).alias("source"),
        disarm(parts.getItem(2)).alias("lang"),
        parts.getItem(3).try_cast("bigint").alias("n_chars"),
    )


@register("scan_recursive_glob", oracle="SELECT * FROM supplier")
def scan_recursive_glob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nested-layout source options: the table is scattered across a
    two-level directory tree (the shape a date/hour-partitioned lake drops
    without hive naming), then read back with ``recursiveFileLookup`` +
    ``pathGlobFilter`` — enumeration descends every level but only admits
    ``*.parquet`` leaves (a sidecar .txt proves the filter). The reference's
    enumerator (main.cc:297-320) is single-level by design; this is the
    multi-level lake equivalent."""
    base = out_path(sf_dir, "supplier_nested")
    sup = load(spark, sf_dir, "supplier")
    sup.filter(F.col("s_suppkey") % 2 == 0).write.mode("overwrite").parquet(
        f"{base}/a/deep"
    )
    sup.filter(F.col("s_suppkey") % 2 == 1).write.mode("overwrite").parquet(
        f"{base}/b"
    )
    with open(f"{base}/a/ignore_me.txt", "w") as fh:
        fh.write("not data")
    return (
        spark.read.option("recursiveFileLookup", "true")
        .option("pathGlobFilter", "*.parquet")
        .schema(sup.schema)
        .parquet(base)
    )


@register(
    "scan_file_metadata_cols",
    oracle="""
SELECT 'documents.parquet' AS fname, CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(n_chars) AS BIGINT) AS total_chars
FROM documents
""",
)
def scan_file_metadata_cols(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hidden ``_metadata`` columns: every file-source row carries its
    provenance (file name/path/size/mtime) as a struct Spark materializes
    only when referenced — the per-file identity the reference keeps by
    running one query per file (main.cc:297-324) recovered inside ONE
    multi-file scan. Grouping by _metadata.file_name is the lineage /
    debugging / selective-reprocessing primitive at lake scale. The
    fixture is one file per table, so the oracle states the name."""
    d = load(spark, sf_dir, "documents")
    return (
        d.select(F.col("_metadata.file_name").alias("fname"), "n_chars")
        .groupBy("fname")
        .agg(
            F.count("*").alias("n"),
            F.sum("n_chars").cast("bigint").alias("total_chars"),
        )
    )


@register("sink_compact_small_files", oracle="SELECT * FROM orders")
def sink_compact_small_files(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The small-file problem, solved in-engine: orders is first shattered
    into many tiny files (the shape a streaming ingest or over-parallel
    writer leaves behind — each file costs a task, an open, a footer read),
    then compacted with a single repartition(4) rewrite. Round-trip
    equality is the oracle; tests/test_properties.py pins the file-count
    contract (many → exactly 4). At 100 TB this is the nightly maintenance
    job that keeps scan task counts proportional to DATA, not to ingest
    cadence."""
    shattered = out_path(sf_dir, "orders_shattered")
    compacted = out_path(sf_dir, "orders_compacted")
    orders = load(spark, sf_dir, "orders")
    orders.repartition(64).write.mode("overwrite").parquet(shattered)
    spark.read.parquet(shattered).repartition(4).write.mode(
        "overwrite"
    ).parquet(compacted)
    return spark.read.parquet(compacted)


@register(
    "scan_nested_struct_pruning",
    oracle="""
SELECT c_custkey, c_name AS name, c_acctbal AS bal
FROM customer WHERE c_acctbal > 1000
""",
)
def scan_nested_struct_pruning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NESTED schema pruning: customer is rewritten with its attributes
    folded into a struct column (the shape real event/entity lakes have),
    then only two leaves of the struct are selected — the parquet read
    schema must contain just those leaves, not the whole struct (Catalyst
    SchemaPruning; pinned by tests/test_plans.py). Without it, a 200-field
    profile struct is fully decoded to answer a 2-field query — the single
    biggest silent read-amplification at scale. The struct-field filter
    also pushes down."""
    path = out_path(sf_dir, "customer_nested")
    load(spark, sf_dir, "customer").select(
        "c_custkey",
        F.struct(
            F.col("c_name").alias("name"),
            F.col("c_nationkey").alias("nat"),
            F.col("c_acctbal").alias("bal"),
            F.col("c_mktsegment").alias("seg"),
        ).alias("profile"),
    ).write.mode("overwrite").parquet(path)
    back = spark.read.parquet(path)
    return back.filter(F.col("profile.bal") > 1000).select(
        "c_custkey",
        F.col("profile.name").alias("name"),
        F.col("profile.bal").alias("bal"),
    )


@register(
    "scan_csv_quarantine",
    oracle="""
SELECT CAST(8 AS BIGINT) AS n_good, CAST(3 AS BIGINT) AS n_quarantined,
       CAST(360 AS BIGINT) AS good_qty_sum
""",
)
def scan_csv_quarantine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-level ingest quarantine: PERMISSIVE CSV parse with a
    ``_corrupt_record`` column, splitting clean rows from malformed ones in
    ONE pass — the per-ROW twin of the runner's per-FILE error isolation
    (Tier A ``error_isolate_per_task``). At 100 TB this is how ingest keeps
    running when 0.01% of a feed is garbage: good rows flow on, bad raw
    lines land in a quarantine sink with full fidelity for replay.

    The fixture file is deterministic (8 well-formed rows, 2 with a
    non-integer qty, 1 with an overflowing extra column), so the oracle is
    by-construction — literal expected counts; the differential proves
    Spark's PERMISSIVE semantics route exactly the 3 bad rows to the
    corrupt column. Plan: one scan, one projection-free aggregate; the
    quarantine split is a codegen'd CASE, not a second read."""
    path = out_path(sf_dir, "quarantine_csv")
    os.makedirs(path, exist_ok=True)
    lines = [f"id_{i},{(i + 1) * 10}" for i in range(8)]
    lines.insert(3, "id_bad1,not_a_number")
    lines.insert(6, "id_bad2,12.5x")
    lines.append("id_bad3,55,overflow_extra_column")
    with open(os.path.join(path, "feed.csv"), "w") as fh:
        fh.write("\n".join(lines) + "\n")
    df = (
        spark.read.schema("item string, qty int, _corrupt_record string")
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .csv(os.path.join(path, "feed.csv"))
    )
    # LOAD-BEARING cache (SPARK-21610): queries that reference
    # _corrupt_record through column pruning get inconsistent parse
    # results (the extra-column row flips to "good") unless the parsed
    # frame is materialized first. This is the documented workaround,
    # not a perf hint; the cached footprint is the 12-line fixture.
    # Routed through scratch_persist so the sweep-wide zero-resident-cache
    # audit holds: released at the next top-level query entry, after the
    # caller has materialized this result.
    from c2_duckdb_runner_spark.session import scratch_persist

    df = scratch_persist(df)
    return df.agg(
        F.count(F.when(F.col("_corrupt_record").isNull(), 1)).alias("n_good"),
        F.count(F.when(F.col("_corrupt_record").isNotNull(), 1)).alias(
            "n_quarantined"
        ),
        F.sum(F.when(F.col("_corrupt_record").isNull(), F.col("qty"))).alias(
            "good_qty_sum"
        ),
    )


@register(
    "scan_parquet_bloom_filter",
    oracle=(
        "SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n, "
        "CAST(MIN(event_id) AS BIGINT) AS first_event "
        "FROM events WHERE user_id = 7 GROUP BY event_type"
    ),
)
def scan_parquet_bloom_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parquet BLOOM FILTERS for point-lookup skipping: the layout write
    enables `parquet.bloom.filter.enabled#user_id`, so each row group
    carries a bloom filter on the high-cardinality key; a `user_id = 7`
    probe can then skip row groups whose filter rules the value out —
    the complement to min/max stats, which are useless for a key that
    spans the full range in every row group (exactly the
    shuffled-user-id case here). At 100 TB this is THE cheap fix for
    needle-in-haystack lookups on non-layout keys: no re-sort, no index
    service, ~1% file-size overhead. Result is layout-independent (the
    filter re-applies after skipping), which is what the oracle checks."""
    path = out_path(sf_dir, "events_bloom")
    ev = load(spark, sf_dir, "events")
    (
        ev.repartition(8)  # several row groups so skipping has targets
        .write.mode("overwrite")
        .option("parquet.bloom.filter.enabled#user_id", "true")
        .option("parquet.bloom.filter.expected.ndv#user_id", "10000")
        .parquet(path)
    )
    back = spark.read.parquet(path)
    return (
        back.filter(F.col("user_id") == 7)
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.min("event_id").alias("first_event"),
        )
    )


@register(
    "scan_json_multiline",
    oracle="""
SELECT * FROM (VALUES
  (1, 'alpha', CAST(10.5 AS DOUBLE)),
  (2, 'beta',  CAST(20.25 AS DOUBLE)),
  (3, 'gamma', CAST(NULL AS DOUBLE)),
  (4, 'delta', CAST(-1.75 AS DOUBLE))
) AS t(id, name, score)
""",
)
def scan_json_multiline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """multiLine JSON: one pretty-printed JSON ARRAY spanning many lines —
    the export format of most REST APIs and admin consoles, which the
    default JSON-Lines reader shreds into parse errors. ``multiLine=true``
    parses whole-document; the cost model flips with it: a multiLine file
    is ONE split (no intra-file parallelism), so at scale the pattern is
    many medium files, not one giant array — which is exactly how the
    fixture is written. Deterministic 4-record fixture → oracle by
    construction (VALUES)."""
    path = out_path(sf_dir, "api_export_json")
    os.makedirs(path, exist_ok=True)
    doc = """[
  {"id": 1, "name": "alpha", "score": 10.5},
  {"id": 2, "name": "beta",
   "score": 20.25},
  {"id": 3, "name": "gamma", "score": null},
  {"id": 4,
   "name": "delta", "score": -1.75}
]"""
    with open(os.path.join(path, "export.json"), "w") as fh:
        fh.write(doc)
    return (
        spark.read.schema("id int, name string, score double")
        .option("multiLine", "true")
        .json(os.path.join(path, "export.json"))
    )


@register(
    "scan_xml_roundtrip",
    oracle=(
        "SELECT n_nationkey, n_name, n_regionkey FROM nation"
    ),
)
def scan_xml_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NATIVE XML file format (Spark 4 — the spark-xml package folded into
    core): write nation as <nation>…</nation> row elements, read back with
    rowTag. XML is still how B2B/regulatory feeds arrive (ISO 20022,
    HL7, SEC filings); first-class source/sink means those feeds join the
    lake without a preprocessing service. Round-trip must equal the
    parquet original (the oracle). Like multiLine JSON, row elements can
    span lines, but files split per top-level record boundary, so
    parallelism survives within large documents."""
    path = out_path(sf_dir, "nation_xml")
    nation = load(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name", "n_regionkey"
    )
    (
        nation.write.mode("overwrite")
        .format("xml")
        .option("rowTag", "nation")
        .save(path)
    )
    return (
        spark.read.format("xml")
        .option("rowTag", "nation")
        .schema(nation.schema)
        .load(path)
    )
