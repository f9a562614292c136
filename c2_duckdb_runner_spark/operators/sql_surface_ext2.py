"""Round-3 SQL-surface completions: schema-drift union, dynamic pivot,
log-bucket histograms, annotation-span joins.

Four everyday warehouse shapes (reference reach: the delegated SQL slot,
``main.cc:181-182``):

- UNION BY NAME — merging feeds whose column ORDER drifted (the
  schema-evolution union; positional UNION silently mis-aligns);
- dynamic pivot — the two-phase reality of production pivots: collect the
  key domain first (driver-sized), then pivot on the discovered columns;
- HDR-style log₂ latency buckets — latency histograms on exponential
  buckets, computed with INTEGER bit-length (no float log, so bucket
  edges at exact powers of two cannot mis-round);
- per-document span-overlap join — merging two annotation layers
  (NER-style character spans) by overlap, keyed on the document so the
  quadratic term is bounded per doc, never corpus-wide.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from c2_duckdb_runner_spark.operators.inference_ext import CENTS_SQL, cents
from c2_duckdb_runner_spark.registry import register
from c2_duckdb_runner_spark.tables import load


@register(
    "set_union_by_name",
    oracle=f"""
WITH a AS (
  SELECT o_orderkey AS k, o_totalprice AS price, o_orderstatus AS status
  FROM orders WHERE o_orderkey % 7 = 0
),
b AS (
  SELECT o_orderstatus AS status, o_orderkey AS k, o_totalprice AS price
  FROM orders WHERE o_orderkey % 7 = 3
),
u AS (SELECT * FROM a UNION ALL BY NAME SELECT * FROM b)
SELECT status, CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM({CENTS_SQL.format('price')}) AS BIGINT) AS cents
FROM u GROUP BY status
""",
)
def set_union_by_name(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNION BY NAME — the schema-evolution union: two feeds carry the
    same columns in DIFFERENT order (yesterday's export vs today's), and
    a positional UNION would silently pour prices into the status column.
    Spark's ``unionByName`` ≙ DuckDB's ``UNION ALL BY NAME`` aligns on
    column names. The aggregate on top proves the alignment (cents would
    explode to garbage under positional misalignment).

    Map-only until the final keyed rollup; at 100 TB this is how daily
    partitions with drifted column order append into one scan."""
    o = load(spark, sf_dir, "orders")
    a = o.filter(F.col("o_orderkey") % 7 == 0).select(
        F.col("o_orderkey").alias("k"),
        F.col("o_totalprice").alias("price"),
        F.col("o_orderstatus").alias("status"),
    )
    b = o.filter(F.col("o_orderkey") % 7 == 3).select(
        F.col("o_orderstatus").alias("status"),
        F.col("o_orderkey").alias("k"),
        F.col("o_totalprice").alias("price"),
    )
    u = a.unionByName(b)
    return u.groupBy("status").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum(cents("price")).cast("bigint").alias("cents"),
    )


@register(
    "agg_pivot_dynamic",
    oracle="""
SELECT lang,
       CAST(COALESCE(SUM(n_chars) FILTER (WHERE source_bucket = 0), 0)
            AS BIGINT) AS b0,
       CAST(COALESCE(SUM(n_chars) FILTER (WHERE source_bucket = 1), 0)
            AS BIGINT) AS b1,
       CAST(COALESCE(SUM(n_chars) FILTER (WHERE source_bucket = 2), 0)
            AS BIGINT) AS b2,
       CAST(COALESCE(SUM(n_chars) FILTER (WHERE source_bucket = 3), 0)
            AS BIGINT) AS b3
FROM (
  SELECT lang, CAST(substring(source, 4) AS INTEGER) % 4 AS source_bucket,
         n_chars
  FROM documents
) GROUP BY lang
""",
)
def agg_pivot_dynamic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DYNAMIC pivot — production pivots rarely know their columns ahead:
    the correct two-phase pattern is (1) discover the key domain with a
    driver-sized DISTINCT collect, (2) pivot on the discovered, SORTED
    list. Skipping phase 1 (``pivot()`` with no values) makes Spark run a
    hidden blocking job anyway — doing it explicitly makes the cost and
    the column order deterministic and visible.

    The pivoted measure lands in one partial+final hash agg (no Expand,
    one shuffle); the oracle enumerates the same discovered domain as
    FILTER-clause aggregates. Null cells are pinned to 0 so both engines
    emit identical dense rows."""
    d = load(spark, sf_dir, "documents").select(
        "lang",
        (F.expr("CAST(substring(source, 4) AS INT)") % 4).alias("source_bucket"),
        "n_chars",
    )
    buckets = sorted(
        r["source_bucket"]
        for r in d.select("source_bucket").distinct().collect()
    )
    piv = (
        d.groupBy("lang")
        .pivot("source_bucket", buckets)
        .agg(F.sum("n_chars"))
    )
    return piv.select(
        "lang",
        *[
            F.coalesce(F.col(str(b)), F.lit(0)).cast("bigint").alias(f"b{b}")
            for b in buckets
        ],
    )


@register(
    "agg_hdr_latency_buckets",
    oracle=f"""
WITH v AS (
  SELECT event_type,
         {CENTS_SQL.format('value')} AS lat
  FROM events WHERE value > 0
),
b AS (
  SELECT event_type, length(bin(lat)) AS bucket, lat FROM v
)
SELECT event_type, CAST(bucket AS BIGINT) AS log2_bucket,
       CAST(1 << (bucket - 1) AS BIGINT) AS bucket_floor,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(MIN(lat) AS BIGINT) AS min_lat,
       CAST(MAX(lat) AS BIGINT) AS max_lat
FROM b GROUP BY event_type, bucket
""",
)
def agg_hdr_latency_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HDR-histogram-style latency buckets — exponential (log₂) buckets
    are how latency SLOs are tracked (fixed relative error, bounded bucket
    count). The bucket index is computed with INTEGER arithmetic —
    ``length(bin(x))`` = ⌊log₂ x⌋ + 1 — because ``floor(log2(x))`` in
    floats mis-rounds at exact powers of two (log2(2⁵³⁻ᵏ) lands on
    x.9999…), and histogram edges are exactly where those values live.

    Map-side bucket assignment, one (type, bucket)-keyed rollup — ~40
    buckets per type regardless of data volume, the re-aggregatable
    shape: per-partition histograms merge by addition at any scale."""
    v = (
        load(spark, sf_dir, "events")
        .filter(F.col("value") > 0)
        .select(
            "event_type",
            cents("value").alias("lat"),
        )
    )
    b = v.select(
        "event_type", F.length(F.bin("lat")).alias("bucket"), "lat"
    )
    return (
        b.groupBy("event_type", "bucket")
        .agg(
            F.count("*").cast("bigint").alias("n"),
            F.min("lat").cast("bigint").alias("min_lat"),
            F.max("lat").cast("bigint").alias("max_lat"),
        )
        .select(
            "event_type",
            F.col("bucket").cast("bigint").alias("log2_bucket"),
            F.expr("CAST(1 << (bucket - 1) AS BIGINT)").alias("bucket_floor"),
            "n",
            "min_lat",
            "max_lat",
        )
    )


# Two deterministic annotation layers per document (fixture-by-construction):
# layer A ("entities") and layer B ("sections") as token-index spans.
_SPANS_DUCK = """
spans_a AS (
  SELECT doc_id, u.i AS a_id,
         (doc_id + u.i * 7) % 20 AS a_start,
         (doc_id + u.i * 7) % 20 + 3 AS a_end
  FROM documents CROSS JOIN UNNEST(range(0, 3)) AS u(i)
),
spans_b AS (
  SELECT doc_id, u.i AS b_id,
         (doc_id * 3 + u.i * 11) % 20 AS b_start,
         (doc_id * 3 + u.i * 11) % 20 + 5 AS b_end
  FROM documents CROSS JOIN UNNEST(range(0, 2)) AS u(i)
)
"""


@register(
    "join_doc_span_overlap",
    oracle=f"""
WITH {_SPANS_DUCK}
SELECT a.doc_id AS doc_id, a_id, b_id,
       CAST(greatest(a_start, b_start) AS BIGINT) AS ov_start,
       CAST(least(a_end, b_end) AS BIGINT) AS ov_end,
       CAST(least(a_end, b_end) - greatest(a_start, b_start) AS BIGINT)
         AS ov_len
FROM spans_a a JOIN spans_b b
  ON a.doc_id = b.doc_id
 AND a_start < b_end AND b_start < a_end
""",
)
def join_doc_span_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document span-overlap join — merging two annotation layers
    (entity spans × section spans, NER-meets-layout) by half-open-interval
    overlap: the labeling-pipeline primitive behind "which entities fall
    in which section" and weak-supervision conflict resolution.

    Scale shape: the join key is the DOCUMENT — the interval predicate is
    a post-join filter WITHIN each doc's annotation lists, so the
    quadratic term is bounded by spans-per-doc (single digits), never
    corpus-wide; contrast join_interval_overlap_banded, which bands
    GLOBAL intervals precisely because there is no such key. One
    doc_id-keyed shuffle, overlap arithmetic all integer."""
    docs = load(spark, sf_dir, "documents").select("doc_id")
    a = docs.select(
        "doc_id", F.explode(F.expr("sequence(0, 2)")).alias("a_id")
    ).select(
        "doc_id",
        "a_id",
        ((F.col("doc_id") + F.col("a_id") * 7) % 20).alias("a_start"),
        ((F.col("doc_id") + F.col("a_id") * 7) % 20 + 3).alias("a_end"),
    )
    b = docs.select(
        "doc_id", F.explode(F.expr("sequence(0, 1)")).alias("b_id")
    ).select(
        "doc_id",
        "b_id",
        ((F.col("doc_id") * 3 + F.col("b_id") * 11) % 20).alias("b_start"),
        ((F.col("doc_id") * 3 + F.col("b_id") * 11) % 20 + 5).alias("b_end"),
    )
    return (
        a.join(b, "doc_id")
        .filter(
            (F.col("a_start") < F.col("b_end"))
            & (F.col("b_start") < F.col("a_end"))
        )
        .select(
            "doc_id",
            "a_id",
            "b_id",
            F.greatest("a_start", "b_start").cast("bigint").alias("ov_start"),
            F.least("a_end", "b_end").cast("bigint").alias("ov_end"),
            (F.least("a_end", "b_end") - F.greatest("a_start", "b_start"))
            .cast("bigint")
            .alias("ov_len"),
        )
    )
