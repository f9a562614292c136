"""Round-3 incremental-ingest + multimodal-dedup extensions.

Two production shapes the registry did not yet name:

- incremental new-batch-vs-corpus dedup — continuous-crawl ingestion never
  re-deduplicates the whole corpus; each arriving batch is screened against
  what already exists (exact hash + n-gram containment), and only survivors
  append;
- perceptual-hash image dedup — the multimodal twin of content-hash dedup:
  images cluster by a threshold-bit signature computed from sampled pixels
  (aHash family), so re-encoded/resized copies collide. The decode is the
  honest container stub (byte arithmetic standing in for PIL), but the
  Arrow-batched mapInPandas plumbing, the signature structure
  (sample → mean → threshold bits), and the cluster rollup are the real
  pipeline.

Determinism: containment is integer ppm over distinct n-gram counts; the
perceptual hash is pure integer byte arithmetic (ASCII payloads make byte
values replayable as ``ascii(substring(...))`` in the oracle).
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from c2_duckdb_runner_spark.registry import fdoc, register
from c2_duckdb_runner_spark.tables import load_spread

_DF_CAP = 100  # corpus grams seen in more docs than this are stop-shingles
_KEEP_PPM = 600_000  # drop a batch doc at containment >= 0.6


@register(
    "dedup_incremental_batch",
    oracle=f"""
WITH toks AS (
  SELECT doc_id, source, string_split(text, ' ') AS t FROM documents
),
grams AS (
  SELECT DISTINCT doc_id, source,
         t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' || t[i+3] AS g
  FROM toks CROSS JOIN UNNEST(range(1, greatest(len(t) - 2, 1))) AS u(i)
),
batch AS (SELECT doc_id, g FROM grams WHERE doc_id % 10 = 0),
corpus AS (SELECT doc_id, g FROM grams WHERE doc_id % 10 <> 0),
bsize AS (SELECT doc_id, COUNT(*) AS n_grams FROM batch GROUP BY doc_id),
heads AS (
  SELECT doc_id,
         md5(array_to_string(string_split(text, ' ')[1:8], ' ')) AS h
  FROM documents
),
exact AS (
  SELECT b.doc_id AS doc_id, TRUE AS head_dup
  FROM (SELECT doc_id, h FROM heads WHERE doc_id % 10 = 0) b
  JOIN (SELECT DISTINCT h FROM heads WHERE doc_id % 10 <> 0) c ON b.h = c.h
),
idx AS (
  SELECT g, doc_id FROM corpus
  WHERE g IN (SELECT g FROM corpus GROUP BY g HAVING COUNT(*) <= {_DF_CAP})
),
overlap AS (
  SELECT b.doc_id AS doc_id, idx.doc_id AS cdoc, COUNT(*) AS shared
  FROM batch b JOIN idx ON idx.g = b.g
  GROUP BY b.doc_id, idx.doc_id
),
best AS (
  SELECT o.doc_id AS doc_id,
         MAX(shared * 1000000 // n_grams) AS max_containment_ppm
  FROM overlap o JOIN bsize ON bsize.doc_id = o.doc_id
  GROUP BY o.doc_id
)
SELECT bs.doc_id AS doc_id,
       CAST(bs.n_grams AS BIGINT) AS n_grams,
       COALESCE(exact.head_dup, FALSE) AS head_dup,
       CAST(COALESCE(best.max_containment_ppm, 0) AS BIGINT)
         AS max_containment_ppm,
       (COALESCE(exact.head_dup, FALSE)
        OR COALESCE(best.max_containment_ppm, 0) >= {_KEEP_PPM}) AS drop_doc
FROM bsize bs
LEFT JOIN exact ON exact.doc_id = bs.doc_id
LEFT JOIN best ON best.doc_id = bs.doc_id
""",
)
@fdoc(f"""Incremental ingest dedup — the shape a continuous crawl actually
    runs: the arriving batch (doc_id % 10 = 0 stands in for today's
    partition, ~10% of the corpus at any scale) is screened against the EXISTING corpus, which is never
    re-deduplicated. Two screens, same as production: truncation/head fingerprint (md5 of the 8-token head, the screen
    that also catches re-crawled pages whose tails changed; semi-join), then n-gram containment ≥ 0.6 against the corpus's
    inverted shingle index (the asymmetric measure, so a batch doc that is
    a fragment of a corpus doc is caught even when symmetric Jaccard is
    tiny). Emits per batch doc: both scores and the keep/drop verdict.

    Scale shape: the corpus side is write-once — at 100 TB the inverted
    index and hash set are maintained incrementally, and this query only
    SHUFFLES THE BATCH (plus index probes on the gram key). Stop-shingles
    (corpus df > {_DF_CAP}) are fenced before the join — the same
    super-node rule as graph_jaccard_neighbor_sim, declared in the oracle,
    bounding any gram's fan-out. Containment is exact integer ppm.""")
def dedup_incremental_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    toks = load_spread(spark, sf_dir, "documents", "doc_id").select(
        "doc_id", "source", F.split("text", " ").alias("t"), "text"
    )
    grams = (
        toks.select(
            "doc_id",
            "source",
            F.explode(
                F.arrays_zip(
                    # greatest(…, 0): slice() throws on a negative length,
                    # so a 1-2-token doc (possible at other SFs) must yield
                    # an empty slice — matching the oracle's range(1,
                    # greatest(len(t)-2, 1)) which emits no grams for it
                    F.expr("slice(t, 1, greatest(size(t) - 3, 0))"),
                    F.expr("slice(t, 2, greatest(size(t) - 3, 0))"),
                    F.expr("slice(t, 3, greatest(size(t) - 3, 0))"),
                    F.expr("slice(t, 4, greatest(size(t) - 3, 0))"),
                )
            ).alias("p"),
        )
        .select(
            "doc_id",
            "source",
            F.concat_ws(" ", "p.0", "p.1", "p.2", "p.3").alias("g"),
        )
        .distinct()
        # Four consumers (batch, corpus x2 via the df-cap semi-join, sizes)
        # re-enter the distinct gram set; checkpoint so the explode+distinct
        # runs once. Bounded: distinct (doc, gram) pairs.
        .localCheckpoint()
    )
    is_batch = F.col("doc_id") % 10 == 0
    batch = grams.filter(is_batch).select("doc_id", "g")
    corpus = grams.filter(~is_batch).select("doc_id", "g")
    bsize = batch.groupBy("doc_id").agg(F.count("*").alias("n_grams"))
    heads = toks.select(
        "doc_id",
        F.md5(F.expr("array_join(slice(t, 1, 8), ' ')")).alias("h"),
    )
    bh = heads.filter(is_batch)
    ch = heads.filter(~is_batch).select("h").distinct()
    exact = bh.join(ch, "h", "semi").select("doc_id", F.lit(True).alias("head_dup"))
    idx = corpus.join(
        corpus.groupBy("g").agg(F.count("*").alias("df")).filter(
            F.col("df") <= _DF_CAP
        ),
        "g",
        "semi",
    ).select("g", F.col("doc_id").alias("cdoc"))
    overlap = (
        batch.join(idx, "g")
        .groupBy("doc_id", "cdoc")
        .agg(F.count("*").alias("shared"))
    )
    best = (
        overlap.join(bsize, "doc_id")
        .select(
            "doc_id",
            F.expr("shared * 1000000 div n_grams").alias("cppm"),
        )
        .groupBy("doc_id")
        .agg(F.max("cppm").alias("max_containment_ppm"))
    )
    return (
        bsize.join(exact, "doc_id", "left")
        .join(best, "doc_id", "left")
        .select(
            "doc_id",
            F.col("n_grams").cast("bigint").alias("n_grams"),
            F.coalesce(F.col("head_dup"), F.lit(False)).alias("head_dup"),
            F.coalesce(F.col("max_containment_ppm"), F.lit(0))
            .cast("bigint")
            .alias("max_containment_ppm"),
            (
                F.coalesce(F.col("head_dup"), F.lit(False))
                | (F.coalesce(F.col("max_containment_ppm"), F.lit(0)) >= _KEEP_PPM)
            ).alias("drop_doc"),
        )
    )


_PHASH_BITS = 12  # tiny on purpose: collision clusters must be demonstrable
#   on word-soup fixtures (a production aHash uses 64 bits + hamming bands)


@register(
    "mm_image_phash_dedup_stub",
    # Byte-wise pixel sampling via hex pairs: ascii(substring(...))
    # indexed CODEPOINTS, which matched the bytes only while the fixture
    # was all-ASCII (r11 hostile sweep); NULL/empty payloads yield no
    # phash and are excluded from clustering on both sides.
    oracle=f"""
WITH s AS (
  SELECT doc_id, hex(encode(text)) AS hx,
         octet_length(encode(text)) AS n
  FROM documents
  WHERE text IS NOT NULL AND octet_length(encode(text)) > 0
),
pix AS (
  SELECT doc_id,
         list_transform(range(0, {_PHASH_BITS}),
           i -> CAST('0x' || substr(hx,
                  2 * (1 + (i * (n - 1)) // {_PHASH_BITS - 1}) - 1, 2)
                AS BIGINT))
           AS px
  FROM s
),
h AS (
  SELECT doc_id, px,
         list_reduce(px, (a, b) -> a + b) // {_PHASH_BITS} AS m
  FROM pix
),
ph AS (
  SELECT doc_id,
         CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
           list_transform(range(0, {_PHASH_BITS}),
             i -> CASE WHEN px[i + 1] > m
                       THEN (CAST(1 AS BIGINT) << i) ELSE CAST(0 AS BIGINT) END)),
           (a, b) -> a + b) AS BIGINT) AS phash
  FROM h
)
SELECT CAST(phash AS BIGINT) AS phash,
       CAST(COUNT(*) AS BIGINT) AS n_images,
       CAST(MIN(doc_id) AS BIGINT) AS keeper_doc_id
FROM ph GROUP BY phash HAVING COUNT(*) >= 2
""",
)
@fdoc(f"""Perceptual-hash image dedup — near-dup detection for the MEDIA
    column: an aHash-family signature (sample pixels → mean → threshold
    bits) collides for re-encoded/re-scaled copies where the byte-level
    content hash cannot. Emits clusters (≥ 2 images per hash) with the
    kept representative.

    The decode is this container's honest stub (no PIL): "pixels" are
    {_PHASH_BITS} bytes sampled evenly from the payload, the signature is
    mean-threshold bits packed into an int64 — the REAL structure of
    aHash, byte arithmetic standing in for the decode. The plumbing is the
    production path: binary payload through an Arrow-batched mapInPandas
    (numpy per batch, no per-row Python), then ONE hash-keyed rollup —
    identical in shape to dedup_exact. Payloads are ASCII, so the oracle
    replays the byte sampling as ``ascii(substring(...))`` exactly.""")
def mm_image_phash_dedup_stub(spark: SparkSession, sf_dir: str) -> DataFrame:
    src = load_spread(spark, sf_dir, "documents", "doc_id").select(
        "doc_id", F.encode("text", "utf-8").alias("payload")
    )
    bits = _PHASH_BITS

    def phash(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # Self-contained closure (cloudpickle ships it by value; executors
        # need no repo on sys.path).
        def one(payload: bytes) -> int:
            if payload is None or len(payload) == 0:
                return None  # no pixels -> no signature (excluded below)
            n = len(payload)
            px = [payload[(i * (n - 1)) // (bits - 1)] for i in range(bits)]
            m = sum(px) // bits
            out = 0
            for i, v in enumerate(px):
                if v > m:
                    out |= 1 << i
            return out

        for pdf in batches:
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "phash": pdf["payload"].map(one).astype("Int64"),
                }
            )

    hashed = src.mapInPandas(phash, "doc_id bigint, phash bigint")
    return (
        hashed.filter(F.col("phash").isNotNull())
        .groupBy("phash")
        .agg(
            F.count("*").cast("bigint").alias("n_images"),
            F.min("doc_id").cast("bigint").alias("keeper_doc_id"),
        )
        .filter(F.col("n_images") >= 2)
        .select("phash", "n_images", "keeper_doc_id")
    )
