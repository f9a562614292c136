"""Deduplication operators — the LLM-pipeline north-star family.

The reference's declared surface reaches dedup only through arbitrary SQL at
``main.cc:181-182``; there is no per-operator reference code. These are the
dedup strategies a 100 TB training-data pipeline needs, each expressed
Spark-first over the ``documents`` / ``embeddings`` fixtures:

- exact          : hash-groupBy on sha2(text) — one shuffle on a 64-hex key.
- n-gram Jaccard : shingle-blocking self-join + exact Jaccard verify. The
                   blocking join is the scale path: candidate pairs are only
                   generated for docs sharing a shingle, never O(n²).
- MinHash + LSH  : 32-perm signature, 8 bands × 4 rows, band-bucket join →
                   candidates, then exact-Jaccard verification. xxhash64 is
                   Spark-specific, so no DuckDB oracle (rows-only check);
                   tests/test_dedup.py pins recall against the exact query.
- SimHash        : 64-bit sign-aggregated token hashes; 16-bit chunk blocking
                   (pigeonhole: hamming ≤ 3 ⇒ one of 4 chunks equal).
- embedding cos  : label-blocked pair cosine (IVF-cell analogy) — blocks by
                   the coarse-quantizer cell, never the full cross join.

At 100 TB: every strategy here is {per-doc map → explode → shuffle-on-block-key
→ verify}; no broadcast of the corpus, no driver-side state. Skewed blocks
(a shingle shared by millions of docs) are the known hazard — the MinHash
path exists precisely because its band keys are near-uniform.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from c2_duckdb_runner_spark.operators.simsearch import EMBEDDED_SQL, embedded
from c2_duckdb_runner_spark.registry import register
from c2_duckdb_runner_spark.session import scratch_persist, shuffle_width
from c2_duckdb_runner_spark.tables import load, load_spread

# 4-token shingles; DuckDB twin is toks[i:i+3] (1-indexed inclusive slice).
_SHINGLES = (
    "CASE WHEN size(toks) >= 4 THEN "
    "array_distinct(transform(sequence(1, size(toks)-3), "
    "i -> array_join(slice(toks, i, 4), ' '))) "
    "ELSE CAST(array() AS array<string>) END"
)

_SHINGLES_DUCK = (
    "list_distinct([array_to_string(toks[i:i+3], ' ') "
    "FOR i IN range(1, greatest(len(toks)-2, 1))])"
)


def _with_shingles(
    spark: SparkSession, sf_dir: str, positive_only: bool = False
) -> DataFrame:
    # load_spread: shingling + hashing is the expensive map here, and the
    # single-row-group fixture files would otherwise pin it to one core.
    docs = load_spread(spark, sf_dir, "documents", "doc_id")
    if positive_only:
        # nsh > 0 ⟺ size(toks) >= 4, so the shingle-bearing-docs filter
        # can run on the CHEAP token count BEFORE the shingle project. A
        # post-hoc `.filter(nsh > 0)` instead gets pushed below the
        # project BY SUBSTITUTION and re-evaluates the entire shingle
        # transform once more per row (the r12 InferFiltersFromGenerate
        # finding — same substitution mechanism, manual trigger).
        docs = docs.filter(F.size(F.split("text", " ")) >= 4)
    return (
        docs
        .withColumn("toks", F.split("text", " "))
        .withColumn("sh", F.expr(_SHINGLES))
        .select("doc_id", "sh", F.size("sh").alias("nsh"))
    )


def _exploded_shingles(
    spark: SparkSession, sf_dir: str, sample_mod: int | None = None
) -> DataFrame:
    """(doc_id, s0) raw-shingle stream in the ONE plan shape that dodges
    a measured 3× pathology (r12): exploding a PROJECTED array column
    lets InferFiltersFromGenerate add `size(sh) > 0 AND isnotnull(sh)`,
    and predicate pushdown then substitutes the whole shingle transform
    into that filter below the exchange — the most expensive map in the
    dedup family ran ~3× per row (measured 5.1 s → 1.4 s on the
    standalone pair subtree at sf0.1). With the complex expression AS
    the generator input the rule's isCheap guard skips it, while `toks`
    stays a projected column so split() still runs once per row."""
    docs = load_spread(spark, sf_dir, "documents", "doc_id")
    if sample_mod is not None:
        docs = docs.filter(
            F.expr(
                "CAST(conv(substring(md5(CAST(doc_id AS STRING)), 1, 15), "
                f"16, 10) AS BIGINT) % {sample_mod} = 0"
            )
        )
    return docs.withColumn("toks", F.split("text", " ")).select(
        "doc_id", F.explode(F.expr(_SHINGLES)).alias("s0")
    )


@register(
    "dedup_exact",
    oracle=(
        "WITH u AS ("
        "  SELECT doc_id, text FROM documents"
        "  UNION ALL"
        "  SELECT doc_id + 100000 AS doc_id, text FROM documents"
        "  WHERE doc_id % 10 = 0"
        ") "
        "SELECT sha256(text) AS text_hash, "
        "MIN(doc_id) AS keeper_id, "
        "COUNT(*) AS dup_count "
        "FROM u GROUP BY sha256(text)"
    ),
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: group on sha2(text), keep min(doc_id) as the canonical row.

    The fixture has no exact duplicates, so we plant them deterministically
    (every 10th doc re-inserted under a shifted id) — the query must then
    collapse them. One shuffle, keyed on the content hash; at 100 TB this is
    the cheapest dedup there is (map-side partial MIN/COUNT applies).
    """
    d = load(spark, sf_dir, "documents").select("doc_id", "text")
    planted = d.filter(F.col("doc_id") % 10 == 0).withColumn(
        "doc_id", F.col("doc_id") + F.lit(100000)
    )
    return (
        d.unionByName(planted)
        .groupBy(F.sha2("text", 256).alias("text_hash"))
        .agg(
            F.min("doc_id").alias("keeper_id"),
            F.count("*").alias("dup_count"),
        )
    )


def _jaccard_pairs_sql(thresh: str, sample_mod: int | None = None) -> str:
    """DuckDB SQL for exact token-4-gram Jaccard pairs at ``thresh`` —
    shared by the oracle of ``dedup_near_ngram_jaccard`` (0.8) and the
    recall-verdict oracles of the sketch-based dedups (ground truth).
    ``sample_mod`` restricts the pair universe to docs whose md5(doc_id)
    60-bit prefix is ≡ 0 (mod m) — the deterministic cross-engine doc
    sample the minhash recall audit runs on."""
    where = (
        ""
        if sample_mod is None
        else (
            " WHERE CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)),"
            f" 1, 15)) AS BIGINT) % {sample_mod} = 0"
        )
    )
    return f"""
WITH d AS (SELECT doc_id, string_split(text, ' ') AS toks
           FROM documents{where}),
sh0 AS (SELECT doc_id, unnest({_SHINGLES_DUCK}) AS s0 FROM d),
sh AS (SELECT doc_id,
              CAST(('0x' || substring(md5(s0), 1, 15)) AS BIGINT) AS s
       FROM sh0),
n AS (SELECT doc_id, COUNT(*) AS nsh FROM sh GROUP BY doc_id),
p AS (
  SELECT a.doc_id AS a_id, b.doc_id AS b_id, COUNT(*) AS common
  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
)
SELECT a_id, b_id,
       ROUND(common * 1.0 / (na.nsh + nb.nsh - common), 6) AS jac
FROM p
JOIN n na ON na.doc_id = p.a_id
JOIN n nb ON nb.doc_id = p.b_id
WHERE common * 1.0 / (na.nsh + nb.nsh - common) >= {thresh}
"""


_JACCARD_ORACLE = _jaccard_pairs_sql("0.8")


@register("dedup_near_ngram_jaccard", oracle=_JACCARD_ORACLE)
def dedup_near_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs by token-4-gram Jaccard ≥ 0.8, shingle-blocked.

    Plan shape: explode shingles → self-join on the 60-bit md5-prefix HASH
    of the shingle (the blocking step — only docs sharing a shingle ever
    meet) → count common per pair → join per-doc shingle counts → Jaccard
    filter. All shuffles are keyed on hash/doc_id; nothing is ever O(n²).

    Hashing before the join shuffles 8-byte longs instead of ~25-byte
    shingle strings (~3× less exchange volume — the difference between
    shipping the corpus's n-grams twice and shipping fingerprints). md5 is
    computed IDENTICALLY in the DuckDB oracle, so even the astronomically
    unlikely 60-bit collision would inflate both engines' counts equally
    and the differential stays exact.
    """
    return _jaccard_pairs_spark(spark, sf_dir)


def _jaccard_pairs_spark(
    spark: SparkSession,
    sf_dir: str,
    thresh: float = 0.8,
    sample_mod: int | None = None,
    shingled: DataFrame | None = None,
) -> DataFrame:
    """Exact blocked Jaccard pairs (the Spark twin of
    ``_jaccard_pairs_sql``), optionally restricted to the deterministic
    md5-parity doc sample both engines agree on. ``shingled`` lets a
    caller that already materialized (doc_id, sh, nsh) — e.g. the minhash
    signature table — feed it in instead of re-scanning the corpus."""
    standalone = shingled is None
    if standalone:
        # r12: the raw-shingle stream comes from _exploded_shingles — the
        # generator-input form that keeps InferFiltersFromGenerate from
        # tripling the shingle map (see its docstring).
        raw = _exploded_shingles(spark, sf_dir, sample_mod)
    else:
        sh = shingled
        if sample_mod is not None:
            sh = sh.filter(
                F.expr(
                    "CAST(conv(substring(md5(CAST(doc_id AS STRING)), 1, 15), "
                    f"16, 10) AS BIGINT) % {sample_mod} = 0"
                )
            )
        raw = sh.select("doc_id", F.explode("sh").alias("s0"))
    exploded = raw.select(
        "doc_id",
        F.expr(
            "CAST(conv(substring(md5(s0), 1, 15), 16, 10) AS BIGINT)"
        ).alias("s"),
    )
    if standalone:
        # r11 optimization round: without a caller-provided signature
        # table, DERIVE the per-doc shingle count from the exploded
        # relation (shingles are array_distinct per doc, so COUNT(*) per
        # doc_id == nsh; zero-shingle docs can never appear in a pair, so
        # dropping them from n is invisible). The join's two identical
        # a/b subtrees already collapse to one compute via Spark's
        # exchange reuse; deriving n makes the count side reuse the SAME
        # shingle+md5 map instead of two more corpus scans (na/nb).
        # Persisting `exploded` instead was measured SLOWER (cache
        # write + per-occurrence cached-plan matching beat the saved
        # recompute: dedup_simhash 7.9 s → 9.8 s persisted, → ~6.5 s
        # derived-n; recompute-with-reuse is the keeper).
        n = exploded.groupBy("doc_id").agg(
            F.count("*").cast("int").alias("nsh")
        )
    else:
        n = sh.select("doc_id", "nsh")
    a = exploded.alias("a")
    b = exploded.alias("b")
    pairs = (
        a.join(b, (F.col("a.s") == F.col("b.s")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(
            F.col("a.doc_id").alias("a_id"),
            F.col("b.doc_id").alias("b_id"),
        )
        .agg(F.count("*").alias("common"))
    )
    na = n.alias("na")
    nb = n.alias("nb")
    jac = F.col("common") * 1.0 / (F.col("na.nsh") + F.col("nb.nsh") - F.col("common"))
    return (
        pairs.join(na, F.col("na.doc_id") == F.col("a_id"))
        .join(nb, F.col("nb.doc_id") == F.col("b_id"))
        .filter(jac >= thresh)
        .select("a_id", "b_id", F.round(jac, 6).alias("jac"))
    )


_CONTAINMENT_ORACLE = f"""
WITH d AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
sh0 AS (SELECT doc_id, unnest({_SHINGLES_DUCK}) AS s0 FROM d),
sh AS (SELECT doc_id,
              CAST(('0x' || substring(md5(s0), 1, 15)) AS BIGINT) AS s
       FROM sh0),
n AS (SELECT doc_id, COUNT(*) AS nsh FROM sh GROUP BY doc_id),
p AS (
  SELECT a.doc_id AS a_id, b.doc_id AS b_id, COUNT(*) AS common
  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id <> b.doc_id
  GROUP BY a.doc_id, b.doc_id
)
SELECT a_id AS contained_id, b_id AS container_id,
       ROUND(common * 1.0 / na.nsh, 6) AS containment
FROM p
JOIN n na ON na.doc_id = p.a_id
JOIN n nb ON nb.doc_id = p.b_id
WHERE common * 1.0 / na.nsh >= 0.6
  AND (na.nsh < nb.nsh OR (na.nsh = nb.nsh AND a_id < b_id))
"""


@register("dedup_containment_ngram", oracle=_CONTAINMENT_ORACLE)
def dedup_containment_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ASYMMETRIC near-dup: containment C(A→B) = |sh(A)∩sh(B)| / |sh(A)|
    ≥ 0.6 with A the smaller doc — catches a short doc embedded in a longer
    one (boilerplate, quoted articles, page templates), which symmetric
    Jaccard misses because the union in its denominator is dominated by the
    big doc. Same hashed-shingle blocking join as dedup_near_ngram_jaccard
    (only docs sharing a shingle ever meet; shuffles carry 8-byte
    fingerprints); the direction rule (strictly fewer shingles, doc_id
    tiebreak on equal sizes) keeps each unordered pair single-emitted.
    """
    # r11 optimization round: same derived-n shape as _jaccard_pairs_spark
    # (see its comment) — the self-join sides collapse via exchange
    # reuse, and n reuses the same shingle+md5 map instead of two more
    # corpus scans (array_distinct per doc ⇒ COUNT(*) == nsh;
    # zero-shingle docs never pair, so their absence from n is invisible).
    # r12: raw stream via _exploded_shingles (inferred-filter dodge).
    exploded = _exploded_shingles(spark, sf_dir).select(
        "doc_id",
        F.expr(
            "CAST(conv(substring(md5(s0), 1, 15), 16, 10) AS BIGINT)"
        ).alias("s"),
    )
    n = exploded.groupBy("doc_id").agg(F.count("*").cast("int").alias("nsh"))
    a = exploded.alias("a")
    b = exploded.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.s") == F.col("b.s"))
            & (F.col("a.doc_id") != F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("a_id"), F.col("b.doc_id").alias("b_id")
        )
        .agg(F.count("*").alias("common"))
    )
    na = n.alias("na")
    nb = n.alias("nb")
    cont = F.col("common") * 1.0 / F.col("na.nsh")
    return (
        pairs.join(na, F.col("na.doc_id") == F.col("a_id"))
        .join(nb, F.col("nb.doc_id") == F.col("b_id"))
        .filter(
            (cont >= 0.6)
            & (
                (F.col("na.nsh") < F.col("nb.nsh"))
                | (
                    (F.col("na.nsh") == F.col("nb.nsh"))
                    & (F.col("a_id") < F.col("b_id"))
                )
            )
        )
        .select(
            F.col("a_id").alias("contained_id"),
            F.col("b_id").alias("container_id"),
            F.round(cont, 6).alias("containment"),
        )
    )


# Rolling 16-token windows for duplicated-span detection (docs in the
# fixture average ~54 tokens; production pipelines use ~50-token windows
# per Lee et al. 2021, "Deduplicating Training Data Makes Language Models
# Better" — the window length is a constant, the plan is identical).
_SPAN_W = 16

_SPAN_WINDOWS = (
    f"CASE WHEN size(toks) >= {_SPAN_W} THEN "
    f"transform(sequence(1, size(toks)-{_SPAN_W - 1}), "
    f"i -> struct(i AS pos, "
    f"CAST(conv(substring(md5(array_join(slice(toks, i, {_SPAN_W}), ' ')), "
    f"1, 15), 16, 10) AS BIGINT) AS h)) "
    f"ELSE CAST(array() AS array<struct<pos:int, h:bigint>>) END"
)


@register(
    "dedup_duplicate_spans",
    oracle=f"""
WITH d AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
w0 AS (
  SELECT doc_id,
         unnest([{{'pos': i, 'w': array_to_string(toks[i:i+{_SPAN_W - 1}], ' ')}}
                 FOR i IN range(1, greatest(len(toks)-{_SPAN_W - 2}, 1))]) AS u
  FROM d
),
w AS (SELECT doc_id, u.pos AS pos,
             CAST(('0x' || substring(md5(u.w), 1, 15)) AS BIGINT) AS h
      FROM w0),
dup AS (SELECT h FROM w GROUP BY h HAVING COUNT(DISTINCT doc_id) >= 2)
SELECT doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_windows,
       CAST(COUNT(CASE WHEN dup.h IS NOT NULL THEN 1 END) AS BIGINT)
         AS n_dup_windows,
       ROUND(COUNT(CASE WHEN dup.h IS NOT NULL THEN 1 END) * 1.0 / COUNT(*), 6)
         AS dup_ratio
FROM w LEFT JOIN dup ON w.h = dup.h
GROUP BY doc_id
""",
)
def dedup_duplicate_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicated-SPAN detection (substring-level dedup, the Lee et al.
    shape): hash every rolling 16-token window, mark windows whose
    hash occurs in ≥ 2 distinct docs, and report per-doc duplicated-window
    counts/ratio — the signal used to cut repeated boilerplate spans out of
    otherwise-unique documents (doc-level dedup can't see them).

    Plan: map-side window hashing (one md5 per window position) → one
    groupBy(h) with a distinct-doc count to find corpus-duplicated hashes →
    one broadcast-or-shuffle semi-style LEFT JOIN back + per-doc agg. No
    self-join at all: the window-hash table joins the (much smaller)
    duplicated-hash set, so the heavy side is touched twice, never squared.
    Docs shorter than the window emit no rows — they cannot contain a
    duplicated span of that length.
    """
    docs = load_spread(spark, sf_dir, "documents", "doc_id")
    w = (
        docs.withColumn("toks", F.split("text", " "))
        .select("doc_id", F.explode(F.expr(_SPAN_WINDOWS)).alias("u"))
        .select("doc_id", F.col("u.pos").alias("pos"), F.col("u.h").alias("h"))
    )
    dup = (
        w.groupBy("h")
        .agg(F.count_distinct("doc_id").alias("nd"))
        .filter(F.col("nd") >= 2)
        .select("h", F.lit(True).alias("is_dup"))
    )
    return (
        w.join(dup, "h", "left")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_windows"),
            F.count(F.when(F.col("is_dup"), 1)).alias("n_dup_windows"),
            F.round(
                F.count(F.when(F.col("is_dup"), 1)) * 1.0 / F.count("*"), 6
            ).alias("dup_ratio"),
        )
    )


# 32 minhash permutations; 8 bands × 4 rows. Instead of 32 xxhash64 passes
# over every shingle array, hash each shingle ONCE (hs) and derive the 32
# permutations as affine universal hashes a_j*h + b_j over wrapping int64 —
# ~32x less hashing in the hot map stage, same LSH guarantees.
_N_HASH, _N_BANDS, _ROWS = 32, 8, 4


def _affine_consts(n: int) -> list[tuple[int, int]]:
    """Deterministic odd 31-bit multipliers / offsets (LCG-generated).

    31-bit constants × a 32-bit masked base hash stay < 2^63, so the affine
    permutations are overflow-free under the ANSI mode the session pins for
    oracle cast parity."""
    out = []
    x = 0x9E3779B97F4A7C15
    mask31 = (1 << 31) - 1
    for _ in range(n):
        x = (x * 6364136223846793005 + 1442695040888963407) % (1 << 64)
        a = (x & mask31) | 1
        x = (x * 6364136223846793005 + 1442695040888963407) % (1 << 64)
        b = x & mask31
        out.append((a, b))
    return out


_MINHASH_SIG = (
    "array("
    + ", ".join(
        # mod p is essential: without it min(a*h+b) is monotonic in h and
        # every "permutation" would pick the same shingle (degenerate LSH)
        f"array_min(transform(hs, h -> ({a}L * (h & 4294967295L) + {b}L) % 2147483647L))"
        for a, b in _affine_consts(_N_HASH)
    )
    + ")"
)

_BAND_KEYS = (
    f"transform(sequence(0, {_N_BANDS - 1}), "
    f"b -> struct(b AS band, xxhash64(slice(sig, b*{_ROWS}+1, {_ROWS})) AS key))"
)


def _minhash_sig_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Persisted minhash signature table (doc_id, sh, nsh, sig): every
    downstream branch (band explode, both sides of the verify join, the
    sampled recall audit) reuses it instead of recomputing the shingle+hash
    map — the same reason production minhash pipelines write signatures out
    as a table before the LSH join. Without this the plan scans & re-signs
    the corpus once per branch."""
    return scratch_persist(
        _with_shingles(spark, sf_dir, positive_only=True)
        .withColumn("hs", F.expr("transform(sh, s -> xxhash64(s))"))
        .withColumn("sig", F.expr(_MINHASH_SIG))
        .select("doc_id", "sh", "nsh", "sig")
    )


def _minhash_lsh_pairs(
    spark: SparkSession, sf_dir: str, sig: DataFrame | None = None
) -> DataFrame:
    """MinHash(32) + LSH(8 bands × 4) near-dup candidates, exact-verified.

    The pair list itself is xxhash64-dependent, so the registered query
    (``dedup_minhash_lsh``) wraps this in a recall verdict that IS
    hash-matchable; tests/test_dedup.py additionally pins the pair set
    against dedup_near_ngram_jaccard (LSH recall at this jac is ~1: a 0.8-sim
    pair misses all 8 bands with prob (1-0.8^4)^8 ≈ 0.6%, ≈0 at jac ≥ 0.97).

    Scale path: band keys are near-uniform xxhash64 values, so the candidate
    shuffle never skews the way raw-shingle blocking can.
    """
    if sig is None:
        sig = _minhash_sig_table(spark, sf_dir)
    # Slim band rows (doc_id, band, key) self-join into candidate id pairs —
    # the shingle arrays never ride through the LSH shuffle.
    bands = sig.select(
        "doc_id", F.explode(F.expr(_BAND_KEYS)).alias("bk")
    ).select("doc_id", "bk.band", "bk.key")
    a = bands.alias("a")
    b = bands.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.key") == F.col("b.key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("a_id"), F.col("b.doc_id").alias("b_id"))
        .dropDuplicates(["a_id", "b_id"])
    )
    sa = sig.select(
        F.col("doc_id").alias("a_id"), F.col("sh").alias("a_sh"), F.col("nsh").alias("a_n")
    )
    sb = sig.select(
        F.col("doc_id").alias("b_id"), F.col("sh").alias("b_sh"), F.col("nsh").alias("b_n")
    )
    common = F.size(F.array_intersect("a_sh", "b_sh"))
    jac = common * 1.0 / (F.col("a_n") + F.col("b_n") - common)
    return (
        cand.join(sa, "a_id")
        .join(sb, "b_id")
        .filter(jac >= 0.8)
        .select("a_id", "b_id", F.round(jac, 6).alias("jac"))
    )


def _recall_verdict(
    truth: DataFrame, found: DataFrame, min_recall_pct: int
) -> DataFrame:
    """One-row (n_true_pairs, recall_ok) verdict: how many ground-truth
    pairs exist (hash-matched against the oracle's exact count) and whether
    the sketch path recovered ≥ min_recall_pct% of them. Integer-only
    comparison (n_hit·100 ≥ n_true·pct) so no float boundary can flip the
    bit between engines."""
    f = found.select("a_id", "b_id").withColumn("hit", F.lit(1))
    agg = truth.select("a_id", "b_id").join(f, ["a_id", "b_id"], "left").agg(
        F.count("*").alias("n_true_pairs"),
        F.coalesce(F.sum("hit"), F.lit(0)).alias("n_hit"),
    )
    return agg.select(
        F.col("n_true_pairs").cast("long").alias("n_true_pairs"),
        (
            F.col("n_hit") * 100 >= F.col("n_true_pairs") * min_recall_pct
        )
        .cast("int")
        .alias("recall_ok"),
    )


@register(
    "dedup_minhash_lsh",
    oracle=(
        # Recall-pinned verdict oracle: the LSH pair list depends on Spark's
        # xxhash64 (no DuckDB twin), but the GROUND TRUTH — exact 4-gram
        # Jaccard ≥ 0.8 pairs over the md5-parity HALF of the corpus — is
        # SQL-exact, so both engines hash-match the truth-pair count while
        # Spark additionally asserts its LSH+verify path recovered ≥ 95% of
        # those pairs. The whole pipeline is deterministic (fixed hashes),
        # so the bit is stable, and a recall regression (lost band, broken
        # signature) flips it red.
        "SELECT CAST(COUNT(*) AS BIGINT) AS n_true_pairs, "
        "CAST(1 AS INT) AS recall_ok "
        f"FROM ({_jaccard_pairs_sql('0.8', sample_mod=2)})"
    ),
)
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH dedup with a sampled-truth recall audit.

    Runs the real sketch path (`_minhash_lsh_pairs`: sign → band → bucket
    join → exact-Jaccard verify) over the WHOLE corpus, plus the exact
    blocked ground truth over a deterministic md5-parity HALF of the docs
    (¼ of the pair universe), then emits one row: the sampled truth-pair
    count (cross-engine hash-matched) and a recall_ok bit (≥ 95% of
    sampled truth recovered). Sampling the audit, not the operator, is the
    100 TB design: full exact truth costs more than the LSH it validates
    (measured ~5× here), while a hash-parity sample keeps the audit exact,
    reproducible in both engines, and proportional to sample size.
    tests/test_dedup.py still pins the FULL pair list against full truth
    at test scale. Verified pairs are a subset of truth by construction
    (same shingles, same threshold), so precision is 1."""
    sig = _minhash_sig_table(spark, sf_dir)
    truth = _jaccard_pairs_spark(
        spark,
        sf_dir,
        0.8,
        sample_mod=2,
        shingled=sig.select("doc_id", "sh", "nsh"),
    )
    in_sample = (
        "CAST(conv(substring(md5(CAST({c} AS STRING)), 1, 15), 16, 10) "
        "AS BIGINT) % 2 = 0"
    )
    found = _minhash_lsh_pairs(spark, sf_dir, sig=sig).filter(
        F.expr(in_sample.format(c="a_id")) & F.expr(in_sample.format(c="b_id"))
    )
    return _recall_verdict(truth, found, 95)


_SIMHASH = (
    "aggregate(sequence(0, 63), CAST(0 AS BIGINT), (acc, i) -> acc + "
    "IF(aggregate(hs, CAST(0 AS BIGINT), "
    "   (a, h) -> a + IF((shiftright(h, i) & 1) = 1, 1, -1)) > 0, "
    "shiftleft(CAST(1 AS BIGINT), i), CAST(0 AS BIGINT)))"
)


def _simhash_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash(64) fingerprint per document.

    Features are the same 4-token shingles as the Jaccard query — unigram
    tokens are useless here because the fixture's vocabulary is tiny, making
    every distinct-token *set* nearly identical. Sign-aggregate xxhash64 of
    each shingle into a 64-bit fingerprint.

    Production pair GENERATION over these fingerprints blocks on 9
    disjoint bit-blocks (8×7 + 1×8 bits): 8 differing bits cannot touch
    all 9 blocks, so every hamming ≤ 8 pair shares at least one block key
    — SOUND for the radius — with a Manku-et-al (WWW'07) permuted-prefix
    extension on each block key to keep buckets sub-quadratic at corpus
    scale. The r10 100x sweep measured WHY the prefix matters: bare 7-bit
    block keys put 500k docs into 128 buckets per block (~8.7e9 candidate
    pairs) and filled the box's disk with shuffle spill. The recall AUDIT
    below never generates pairs at all (see dedup_simhash), so the repo
    carries no quadratic path.
    """
    return scratch_persist(
        _with_shingles(spark, sf_dir, positive_only=True)
        .withColumn("hs", F.expr("transform(sh, s -> xxhash64(s))"))
        .withColumn("simhash", F.expr(_SIMHASH))
        .select("doc_id", "simhash")
    )


@register(
    "dedup_simhash",
    oracle=(
        # Same recall-verdict shape as dedup_minhash_lsh, but SimHash is a
        # lossier sketch (a 64-bit fingerprint per doc, not 32 minima), so
        # the pinned property is weaker: ≥ 90% of the NEAR-IDENTICAL pairs
        # (exact Jaccard ≥ 0.97) must land within hamming ≤ 8. The truth
        # count is SQL-exact and hash-matched; the fingerprint pipeline is
        # deterministic so the bit is stable.
        "SELECT CAST(COUNT(*) AS BIGINT) AS n_true_pairs, "
        f"CAST(1 AS INT) AS recall_ok FROM ({_jaccard_pairs_sql('0.97')})"
    ),
)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash dedup, recall-verified on the near-identical truth set.

    Computes the 64-bit fingerprints and the exact blocked Jaccard ground
    truth restricted to jac ≥ 0.97 (pairs SimHash MUST catch at hamming
    ≤ 8), then emits (n_true_pairs, recall_ok ≥ 90%) — truth count
    hash-matched cross-engine, recall asserted Spark-side.

    Membership is tested DIRECTLY: the truth pairs broadcast-join the
    fingerprint table twice and check popcount(xor) ≤ 8. The 9-block
    pigeonhole blocking is sound for the radius (every hamming ≤ 8 pair
    shares a block), so 'pair ∈ blocked-pair output' ≡ 'hamming ≤ 8' —
    the audit never materializes the pair list. That is also the 100 TB
    shape: you sample truth pairs and probe fingerprints; generating all
    candidate pairs just to measure recall went quadratic at the 100x
    replica (8.7e9 candidates from 128-way buckets, caught by the r10
    sweep — the disk-filling failure recorded in PERFORMANCE.md)."""
    # Truth filters the UNROUNDED ratio at 0.97 exactly like the oracle SQL
    # (filtering dedup_near_ngram_jaccard's round(jac,6) output would count
    # pairs in the HALF_UP rounding band just below 0.97 that DuckDB's raw
    # filter excludes — unreachable at fixture shingle counts, but
    # inconsistent by construction).
    truth = _jaccard_pairs_spark(spark, sf_dir, 0.97)
    d = _simhash_fingerprints(spark, sf_dir)
    found = (
        truth.select("a_id", "b_id")
        .join(d.select(F.col("doc_id").alias("a_id"),
                       F.col("simhash").alias("a_sim")), "a_id")
        .join(d.select(F.col("doc_id").alias("b_id"),
                       F.col("simhash").alias("b_sim")), "b_id")
        .filter(F.expr("bit_count(a_sim ^ b_sim)") <= 8)
        .select("a_id", "b_id")
    )
    return _recall_verdict(truth, found, 90)


# salt width CAP for the cell-blocked cosine pair join (guide §2.5): the
# actual width derives from the data — ceil(2·shuffle_width / n_cells),
# clamped to [1, _COS_SALT] — so cells×salt lands near 2× the shuffle
# width: enough buckets to fill every core, no gratuitous explode once
# the cell count itself covers the cluster (at production cell counts
# the derived salt is 1 and the explode vanishes). Any unordered pair
# still meets exactly once (the b side owns one salt, the a side
# explodes all).
_COS_SALT = 8


def _cos_salt_width(spark: SparkSession, n_cells: int) -> int:
    width = shuffle_width(spark)
    return max(1, min(_COS_SALT, -(-2 * width // max(1, n_cells))))


def _cos_dot_kernel():
    """Arrow-vectorized per-pair dot product (r11 verdict ask #6,
    measured: 1.40→1.28 s at sf0.1, 4.28→2.48 s at sf1 vs the
    interpreted aggregate(zip_with(...)) HOF fold).

    Bit-identity contract, for FINITE, NON-NULL, EQUAL-LENGTH vectors
    only: the kernel loops DIMENSIONS in strict left-to-right order over
    float64 numpy columns — the identical IEEE multiply/add sequence as
    the HOF fold and DuckDB's list_reduce twin (verified equal result
    sets) — never numpy's pairwise sum(). Outside that domain the kernel
    is not DuckDB's twin: a NaN or ±inf element makes a NaN dot, which
    comes back from the UDF as NULL, so the ≥ 0.4 filter drops the pair
    where DuckDB keeps it (NaN sorts above 0.4 there). Arrow also hands
    null elements over as NaN inside the float64 columns, so they take the
    same fast path. Ragged rows fail the np.stack and take a per-row path
    (length mismatch ⇒ NULL dot ⇒ dropped). The fixtures hold none of
    these values. Defined lazily (a pandas_udf needs an active session to
    parse its return type at decoration time)."""

    # `from __future__ import annotations` makes these hints strings;
    # pandas_udf resolves them against the module globals, hence the
    # module-level `import pandas as pd`
    @F.pandas_udf("double")
    def dot_pd(va: pd.Series, vb: pd.Series) -> pd.Series:
        import numpy as np

        def slow(a, b):
            if a is None or b is None or len(a) != len(b):
                return None
            acc = 0.0
            for x, y in zip(a, b):
                if x is None or y is None:
                    return None
                acc += float(x) * float(y)
            return acc

        try:
            A = np.stack(va.values)
            B = np.stack(vb.values)
            if (
                A.dtype == np.float64
                and B.dtype == np.float64
                and A.shape == B.shape
            ):
                acc = np.zeros(len(va), dtype="float64")
                for i in range(A.shape[1]):  # strict dim order, see above
                    acc += A[:, i] * B[:, i]
                return pd.Series(acc)
        except Exception:
            pass
        return pd.Series(
            [slow(a, b) for a, b in zip(va.values, vb.values)],
            dtype="float64",
        )

    return dot_pd

_COS_ORACLE = f"""
WITH {EMBEDDED_SQL}
SELECT a.vec_id AS a_id, b.vec_id AS b_id,
       ROUND(list_reduce(list_transform(range(1, 65), i -> a.v[i] * b.v[i]),
                         (x, y) -> x + y) / (a.nrm * b.nrm), 6) AS cos
FROM n a JOIN n b ON a.label = b.label AND a.vec_id < b.vec_id
WHERE ROUND(list_reduce(list_transform(range(1, 65), i -> a.v[i] * b.v[i]),
                        (x, y) -> x + y) / (a.nrm * b.nrm), 6) >= 0.4
"""


@register("dedup_embedding_cosine", oracle=_COS_ORACLE)
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup pairs: cosine ≥ 0.4 within a coarse cell (label).

    The label column stands in for an IVF coarse-quantizer cell: pairs are
    only formed inside a cell (shuffle keyed on label), mirroring how a
    100 TB ANN dedup blocks by centroid instead of cross-joining the corpus.
    Both engines fold the dot product strictly left-to-right over the same
    doubles, then round to 6 dp before filtering, so the hash is stable.

    r11 optimization round: the cell key is SALTED (guide §2.5) — the
    cell count is tiny (10 here; IVF lists in production), so an unsalted
    equi-join parks every cell's whole pair workload on one task and the
    interpreted per-pair dot-product fold runs near-serially. The b side
    gets a deterministic pmod(xxhash64(vec_id), salt) salt, the a side
    explodes all salts; each unordered pair still meets exactly once.

    r12 optimization round, two fixes to make the salt actually work:
    (1) the r11 plan BROADCAST the 8×-exploded a side (BuildLeft BHJ) —
    a hash join's parallelism comes from its STREAMED side, so the salt
    bought nothing and the broadcast octupled; the join is now pinned
    shuffle_hash with the un-exploded b side as build, so the pair
    compute genuinely spreads over cells × salt exchange buckets (and
    the corpus-sized broadcast cliff is gone). (2) the salt width
    derives from the measured cell count instead of a constant — see
    _cos_salt_width; at fixture scale (10 cells, 32 cores) it lands at
    7, on a wide cluster over a real IVF cell count it collapses to 1
    and the a-side explode disappears entirely.
    """
    e = embedded(spark, sf_dir)
    # cell count: a label-only pruned scan — the one cheap job that lets
    # the salt size itself from the data instead of a local[32] constant
    n_cells = (
        load(spark, sf_dir, "embeddings").select("label").distinct().count()
    )
    salt = _cos_salt_width(spark, n_cells)
    a = e.withColumn(
        "salt", F.explode(F.expr(f"sequence(0L, {salt - 1}L)"))
    ).alias("a")
    b = e.withColumn(
        "salt", F.expr(f"pmod(xxhash64(vec_id), {salt})")
    ).alias("b")
    # r12: the dot product is the Arrow-vectorized kernel (see
    # _cos_dot_kernel — bit-identical addition order; measured 1.7× at
    # sf1 over the interpreted aggregate(zip_with(...)) HOF fold it
    # replaces; the two codegen'd JVM alternatives were measured 3×
    # SLOWER in r11: flattening inlines the transform per access /
    # blows the generated method past the codegen limit).
    # asNondeterministic is a planner hint only (guide §4.4): it stops
    # the optimizer from duplicating the Python kernel around the
    # pushed-down cos filter.
    dot_pd = _cos_dot_kernel().asNondeterministic()
    cos_r = F.round(
        dot_pd(F.col("a.v"), F.col("b.v")) / (F.col("a.nrm") * F.col("b.nrm")),
        6,
    )
    return (
        a.join(
            b.hint("shuffle_hash"),
            (F.col("a.label") == F.col("b.label"))
            & (F.col("a.salt") == F.col("b.salt"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(
            F.col("a.vec_id").alias("a_id"),
            F.col("b.vec_id").alias("b_id"),
            cos_r.alias("cos"),
        )
        .filter(F.col("cos") >= 0.4)
    )


_SEMDEDUP_ORACLE = f"""
WITH pairs AS ({_COS_ORACLE}),
dropped AS (SELECT DISTINCT b_id AS vec_id FROM pairs)
SELECT e.vec_id, e.label,
       CAST(CASE WHEN d.vec_id IS NULL THEN 1 ELSE 0 END AS INT) AS keep
FROM embeddings e LEFT JOIN dropped d ON d.vec_id = e.vec_id
"""


@register("dedup_semantic_keep", oracle=_SEMDEDUP_ORACLE)
def dedup_semantic_keep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic dedup DECISION: annotate every embedding row
    with a keep/drop bit — drop a vector iff some LOWER-id vector in the
    same coarse cell sits at cosine ≥ 0.4 (the pair relation of
    dedup_embedding_cosine). This is the step that turns a near-dup PAIR
    list into a deduplicated CORPUS: keep the minimum-id representative of
    every similarity neighborhood, greedily, exactly as SemDeDup keeps one
    exemplar per high-cosine cluster (Abbas et al., 2023 — public arXiv).

    Min-id greedy (not connected components) is deliberate: it needs ONE
    anti-join against the pair list instead of an iterative CC, and at
    100 TB the pair relation is already cell-blocked so the extra rows per
    vector are bounded by cell occupancy. The id order stands in for the
    quality/recency priority a production pipeline would rank keepers by.
    Plan: cell-blocked pair join (never all-pairs) → distinct dropped ids →
    broadcast-able anti side vs the corpus scan."""
    pairs = dedup_embedding_cosine(spark, sf_dir)
    dropped = pairs.select(F.col("b_id").alias("vec_id")).distinct()
    e = load(spark, sf_dir, "embeddings").select("vec_id", "label")
    return e.join(
        dropped.withColumn("hit", F.lit(1)), "vec_id", "left"
    ).select(
        "vec_id",
        "label",
        F.col("hit").isNull().cast("int").alias("keep"),
    )
