"""Corpus-curation operators: the data-cleaning half of a training pipeline.

The reference reaches these only through its delegated SQL slot
(``main.cc:181-182``); there is no per-operator reference code. This module
adds the curation steps every LLM data pipeline runs between raw crawl and
tokenizer: PII redaction, Gopher-style quality gates, paragraph-level
dedup, and frequent-co-occurrence mining — plus a stats-based file-pruning
scan (the lakehouse data-skipping pattern).

All hot paths are built-in ``pyspark.sql.functions`` expressions
(whole-stage codegen). Per-doc ops are map-only — zero shuffles at 100 TB.
The co-occurrence miner prunes Apriori-style with a broadcast frequent-term
set BEFORE pairing, so the quadratic step is bounded by the vocabulary cap,
not document length.

Oracle-parity notes:
- DuckDB ``regexp_replace`` needs the ``'g'`` flag to replace all matches.
- Character classes are written ``[0-9]``/``[a-zA-Z]`` so the same pattern
  string is valid in both Java regex (Spark) and RE2 (DuckDB).
- Mean word length is computed as ``(chars - (n-1)) / n`` (total chars
  minus separators) — pure integer arithmetic, no float fold.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from c2_duckdb_runner_spark.registry import fdoc, register
from c2_duckdb_runner_spark.tables import load, out_path

_EMAIL_RE = "[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+[.][a-zA-Z][a-zA-Z]+"
_PHONE_RE = "[0-9]{3}-[0-9]{4}-[0-9]{4}"


@register(
    "text_pii_redact",
    oracle=f"""
WITH t AS (
  SELECT doc_id,
         printf('%s contact user%d@mail-%d.example.com call 555-%04d-1234',
                text, doc_id, doc_id % 7, doc_id % 10000) AS raw
  FROM documents
)
SELECT doc_id,
       CAST(len(regexp_extract_all(raw, '{_EMAIL_RE}')) AS INTEGER) AS n_emails,
       CAST(len(regexp_extract_all(raw, '{_PHONE_RE}')) AS INTEGER) AS n_phones,
       md5(regexp_replace(regexp_replace(raw, '{_EMAIL_RE}', '<EMAIL>', 'g'),
                          '{_PHONE_RE}', '<PHONE>', 'g')) AS redacted_fp
FROM t
""",
)
def text_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction: count + scrub emails and phone numbers with regex
    replacement, fingerprint the redacted text. The fixture corpus has no
    PII, so each doc first gets deterministic synthetic PII appended
    (keyed on doc_id) — the redactor then has real work whose outcome both
    engines can replay. Map-only; at 100 TB this is scan → regex → write
    with zero shuffles, all inside codegen."""
    d = load(spark, sf_dir, "documents")
    # NULL pin (r11 hostile): DuckDB printf propagates a NULL text to a
    # NULL raw (NULL doc -> NULL outputs); Spark format_string would
    # print the literal "null", so the guard pins propagation
    raw = F.when(
        F.col("text").isNotNull(),
        F.format_string(
            "%s contact user%d@mail-%d.example.com call 555-%04d-1234",
            F.col("text"),
            F.col("doc_id"),
            F.col("doc_id") % 7,
            F.col("doc_id") % 10000,
        ),
    )
    t = d.select("doc_id", raw.alias("raw"))
    redacted = F.regexp_replace(
        F.regexp_replace("raw", _EMAIL_RE, "<EMAIL>"), _PHONE_RE, "<PHONE>"
    )
    return t.select(
        "doc_id",
        F.size(F.regexp_extract_all("raw", F.lit(_EMAIL_RE), 0)).alias("n_emails"),
        F.size(F.regexp_extract_all("raw", F.lit(_PHONE_RE), 0)).alias("n_phones"),
        F.md5(redacted).alias("redacted_fp"),
    )


_GSTOPS = "'the', 'a', 'of', 'and', 'to', 'in', 'value', 'row', 'table'"


@register(
    "text_gopher_quality",
    oracle=f"""
WITH t AS (
  SELECT doc_id, text, string_split(text, ' ') AS toks, length(text) AS nc
  FROM documents
), s AS (
  SELECT doc_id,
         len(toks) AS n_words,
         (nc - (len(toks) - 1)) * 1.0 / len(toks) AS mean_wl,
         len(list_filter(toks, t -> regexp_matches(t, '[a-zA-Z]'))) * 1.0
           / len(toks) AS frac_alpha,
         len(regexp_extract_all(text, '#|[.][.][.]')) * 1.0 / len(toks)
           AS symbol_ratio,
         len(list_distinct(list_filter(toks, t -> t IN ({_GSTOPS}))))
           AS n_stop_distinct
  FROM t
)
SELECT doc_id,
       CAST(n_words AS INTEGER) AS n_words,
       ROUND(mean_wl, 6) AS mean_word_len,
       ROUND(frac_alpha, 6) AS frac_alpha_words,
       ROUND(symbol_ratio, 6) AS symbol_ratio,
       CAST(n_stop_distinct AS INTEGER) AS n_stop_distinct,
       (n_words BETWEEN 50 AND 100000
        AND mean_wl BETWEEN 3 AND 10
        AND frac_alpha > 0.8
        AND symbol_ratio < 0.1
        AND n_stop_distinct >= 2) AS passes
FROM s
""",
)
def text_gopher_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style quality gate (Rae et al. 2021, table A1, public): word
    count bounds, mean word length 3-10, >80% words alphabetic, symbol
    ratio, >=2 distinct stopwords — AND-ed into one boolean filter column.
    Mean word length uses (chars - separators)/n: integer arithmetic, no
    per-token float fold to drift. Map-only at any scale."""
    t = (
        load(spark, sf_dir, "documents")
        .withColumn("toks", F.split("text", " "))
        .withColumn("nc", F.length("text"))
        .withColumn("n_words", F.size("toks"))
    )
    mean_wl = (F.col("nc") - (F.col("n_words") - 1)) * 1.0 / F.col("n_words")
    frac_alpha = (
        F.expr("size(filter(toks, t -> t rlike '[a-zA-Z]'))") * 1.0 / F.col("n_words")
    )
    symbol_ratio = (
        F.size(F.regexp_extract_all("text", F.lit("#|[.][.][.]"), 0))
        * 1.0
        / F.col("n_words")
    )
    n_stop = F.expr(
        f"size(array_distinct(filter(toks, t -> t IN ({_GSTOPS}))))"
    )
    s = t.select(
        "doc_id",
        F.col("n_words").alias("nw"),
        mean_wl.alias("mean_wl"),
        frac_alpha.alias("frac_alpha"),
        symbol_ratio.alias("symbol_ratio"),
        n_stop.alias("n_stop_distinct"),
    )
    passes = (
        F.col("nw").between(50, 100000)
        & F.col("mean_wl").between(3, 10)
        & (F.col("frac_alpha") > 0.8)
        & (F.col("symbol_ratio") < 0.1)
        & (F.col("n_stop_distinct") >= 2)
    )
    return s.select(
        F.col("doc_id"),
        F.col("nw").alias("n_words"),
        F.round("mean_wl", 6).alias("mean_word_len"),
        F.round("frac_alpha", 6).alias("frac_alpha_words"),
        F.round("symbol_ratio", 6).alias("symbol_ratio"),
        F.col("n_stop_distinct"),
        passes.alias("passes"),
    )


# quality_classifier_linear weights ×100: (intercept, stopword fraction,
# mean word length, capped length, digit fraction) = (-1.5, 2.5, 0.35,
# 1.2, -3.0). Plausible hand-set values — the operator demonstrates the
# model-APPLICATION shape; training happens offline and ships as a
# conf/broadcast in production. Integer weights because the whole logit is
# computed in exact int64 arithmetic (see docstring).
_QC_NUM = (
    "(-30000 * nw * nc + 50000 * ns * nc + 7000 * (nc - nw + 1) * nc "
    "+ 120 * least(nw, 200) * nw * nc - 60000 * nd * nw)"
)


@register(
    "quality_classifier_linear",
    oracle=f"""
WITH t AS (
  SELECT doc_id, text, string_split(text, ' ') AS toks, length(text) AS nc
  FROM documents
), f AS (
  SELECT doc_id, nc,
         len(toks) AS nw,
         len(list_filter(toks, t -> t IN ({_GSTOPS}))) AS ns,
         nc - length(regexp_replace(text, '[0-9]', '', 'g')) AS nd
  FROM t
)
SELECT doc_id,
       CAST(CASE WHEN {_QC_NUM} >= 0
            THEN ({_QC_NUM} * 2000000 + 20000 * nw * nc)
                 // (2 * 20000 * nw * nc)
            ELSE -((-({_QC_NUM}) * 2000000 + 20000 * nw * nc)
                 // (2 * 20000 * nw * nc)) END AS BIGINT) AS score_e6,
       {_QC_NUM} > 0 AS keep
FROM f
""",
)
def quality_classifier_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-based quality filter — the learned complement to the rule-based
    gopher gate: a linear classifier over cheap text features (stopword
    fraction, mean word length ((nc−nw+1)/nw), capped length, digit
    fraction) scores every document and thresholds at logit 0. This is the
    fastText/logreg-filter shape (CCNet, DCLM — public) with the weights
    inlined; real trained weights change only the constant vector.

    Determinism design: the logit z = w·f is a sum of INTEGER-count ratios
    with rational weights, so it is computed as one exact int64 NUMERATOR
    over the common denominator 20000·nw·nc — the keep bit is an integer
    comparison (NO float boundary exists at all), and the score ships as
    INTEGER MICRO-UNITS (round-half-up integer division), never as a
    rounded double. Two prior formulations both failed at sf0.1: a float
    polynomial differed by 1 ULP between engines, and even the exact
    double quotient hit a decimal half-way point (1.0404375) that Spark's
    BigDecimal round and DuckDB's binary round resolve differently —
    integer micro-units are the only boundary-free representation (same
    discipline as the PageRank micro-rank). Map-only: zero shuffles; one
    codegen'd projection."""
    t = (
        load(spark, sf_dir, "documents")
        .withColumn("toks", F.split("text", " "))
        .withColumn("nc", F.length("text").cast("long"))
        .withColumn("nw", F.size("toks").cast("long"))
    )
    f = t.select(
        "doc_id",
        "nc",
        "nw",
        F.expr(f"CAST(size(filter(toks, t -> t IN ({_GSTOPS}))) AS LONG)")
        .alias("ns"),
        (
            F.col("nc")
            - F.length(F.regexp_replace("text", "[0-9]", "")).cast("long")
        ).alias("nd"),
    )
    num = F.expr(_QC_NUM)
    # hostile empty text -> nc = 0 -> zero denominator: Spark `div`
    # ANSI-errors where DuckDB `//` yields NULL; NULL is the pinned
    # semantics (an empty document has no defined score)
    half_up = F.when(F.expr("20000 * nw * nc") == 0, F.lit(None)).when(
        num >= 0, F.expr(f"({_QC_NUM} * 2000000 + 20000 * nw * nc) div (2 * 20000 * nw * nc)")
    ).otherwise(
        -F.expr(
            f"(-({_QC_NUM}) * 2000000 + 20000 * nw * nc) div (2 * 20000 * nw * nc)"
        )
    )
    return f.select(
        "doc_id",
        half_up.cast("bigint").alias("score_e6"),
        (num > 0).alias("keep"),
    )


_CHUNK = 8  # tokens per pseudo-paragraph


@register(
    "dedup_paragraph_chunks",
    oracle=f"""
WITH t AS (
  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
), chunks AS (
  SELECT doc_id,
         md5(array_to_string(
           list_slice(toks, i * {_CHUNK} + 1, i * {_CHUNK} + {_CHUNK}), ' ')) AS h
  FROM t, unnest(range(0, (len(toks) + {_CHUNK} - 1) // {_CHUNK})) AS u(i)
), freq AS (
  SELECT h, COUNT(*) AS cnt FROM chunks GROUP BY h
)
SELECT c.doc_id,
       CAST(COUNT(*) AS INTEGER) AS n_chunks,
       CAST(SUM(CASE WHEN f.cnt > 1 THEN 1 ELSE 0 END) AS INTEGER) AS n_dup_chunks,
       ROUND(SUM(CASE WHEN f.cnt > 1 THEN 1 ELSE 0 END) * 1.0 / COUNT(*), 6)
         AS dup_frac
FROM chunks c JOIN freq f USING (h)
GROUP BY c.doc_id
""",
)
def dedup_paragraph_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Paragraph-level dedup (the C4/RefinedWeb line-dedup pattern): split
    each doc into fixed 8-token chunks, hash each chunk, count corpus-wide
    occurrences, report the per-doc duplicated-chunk fraction. Exactly two
    shuffles at any scale — chunk-hash frequency agg and the per-doc
    rollup — and the frequency side joins back on the high-cardinality
    hash, so no skew. Chunking is done with slice() inside a transform()
    lambda: no posexplode + re-sort, the chunk list is built map-side."""
    t = load(spark, sf_dir, "documents").withColumn("toks", F.split("text", " "))
    chunks = t.select(
        "doc_id",
        F.explode(
            F.expr(
                f"transform(sequence(0, (size(toks) + {_CHUNK} - 1) div {_CHUNK} - 1),"
                f" i -> md5(array_join(slice(toks, i * {_CHUNK} + 1, {_CHUNK}), ' ')))"
            )
        ).alias("h"),
    )
    freq = chunks.groupBy("h").agg(F.count("*").alias("cnt"))
    dup = F.when(F.col("cnt") > 1, 1).otherwise(0)
    return (
        chunks.join(freq, "h")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("int").alias("n_chunks"),
            F.sum(dup).cast("int").alias("n_dup_chunks"),
            F.round(F.sum(dup) * 1.0 / F.count("*"), 6).alias("dup_frac"),
        )
    )


_VOCAB_K = 50
_PAIR_K = 20


@register(
    "text_cooccurrence_pairs",
    oracle=f"""
WITH tok AS (
  SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS term
  FROM documents
), vocab AS (
  SELECT term FROM (
    SELECT term, ROW_NUMBER() OVER (ORDER BY COUNT(*) DESC, term) AS rk
    FROM tok GROUP BY term
  ) WHERE rk <= {_VOCAB_K}
), pruned AS (
  SELECT tok.doc_id, tok.term FROM tok JOIN vocab USING (term)
), pairs AS (
  SELECT a.term AS t1, b.term AS t2, COUNT(*) AS n_docs
  FROM pruned a JOIN pruned b
    ON a.doc_id = b.doc_id AND a.term < b.term
  GROUP BY a.term, b.term
)
SELECT t1, t2, n_docs FROM pairs
ORDER BY n_docs DESC, t1, t2 LIMIT {_PAIR_K}
""",
)
@fdoc(f"""Frequent co-occurring term pairs (market-basket over documents),
    Apriori-pruned: rank terms by document frequency, keep the top
    {_VOCAB_K}, and only pair within that broadcast vocabulary — the
    quadratic self-join is bounded by C(vocab, 2) per doc regardless of
    document length or corpus size. The doc_id self-join co-partitions
    both sides on the same key (one shuffle each), and the final top-20 is
    a TakeOrderedAndProject, not a global sort.""")
def text_cooccurrence_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    tok = (
        load(spark, sf_dir, "documents")
        .select("doc_id", F.explode(F.split("text", " ")).alias("term"))
        .distinct()
    )
    vocab = (
        tok.groupBy("term")
        .agg(F.count("*").alias("df"))
        .select("term", F.row_number().over(_df_order()).alias("rk"))
        .filter(F.col("rk") <= _VOCAB_K)
        .select("term")
    )
    pruned = tok.join(F.broadcast(vocab), "term")
    a = pruned.alias("a")
    b = pruned.alias("b")
    pairs = (
        a.join(b, (F.col("a.doc_id") == F.col("b.doc_id")) & (F.col("a.term") < F.col("b.term")))
        .groupBy(F.col("a.term").alias("t1"), F.col("b.term").alias("t2"))
        .agg(F.count("*").alias("n_docs"))
    )
    return pairs.orderBy(F.col("n_docs").desc(), "t1", "t2").limit(_PAIR_K)


def _df_order():
    """Global rank window for the tiny vocabulary table (df desc, term asc).

    A single-partition window over the aggregated vocabulary — fine because
    the input is |vocab| rows (aggregate output), never the corpus."""
    from pyspark.sql.window import Window

    return Window.orderBy(F.col("df").desc(), F.col("term"))


@register(
    "scan_file_prune_stats",
    oracle="""
SELECT l_returnflag, COUNT(*) AS n,
       CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1997-01-01'
  AND l_shipdate < TIMESTAMP '1998-01-01'
GROUP BY l_returnflag
""",
)
def scan_file_prune_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stats-based file pruning (lakehouse data skipping): lay lineitem out
    range-partitioned on l_shipdate (8 files, contiguous date ranges),
    build a per-file min/max stats table, and answer a date-range query by
    scanning ONLY the files whose [min,max] interval intersects the
    predicate — the manual form of what Delta/Iceberg file statistics give
    you. The stats table is file-count-sized metadata (collected to the
    driver like any catalog lookup); the data itself never moves. At
    100 TB the same layout turns a full-corpus scan into reading ~1/8 of
    the files; the residual filter still applies inside the scan, pushed
    to parquet."""
    path = out_path(sf_dir, "lineitem_by_shipdate")
    li = load(spark, sf_dir, "lineitem")
    (
        li.repartitionByRange(8, "l_shipdate")
        .write.mode("overwrite")
        .parquet(path)
    )
    laid = spark.read.parquet(path)
    stats = (
        laid.groupBy(F.input_file_name().alias("file"))
        .agg(F.min("l_shipdate").alias("lo"), F.max("l_shipdate").alias("hi"))
        .collect()
    )
    lo, hi = "1997-01-01", "1998-01-01"
    keep = [
        r["file"]
        for r in stats
        if not (str(r["hi"]) < lo or str(r["lo"]) >= hi)
    ]
    pruned = spark.read.parquet(*keep) if keep else laid.limit(0)
    return (
        pruned.filter(
            (F.col("l_shipdate") >= F.lit(lo).cast("timestamp"))
            & (F.col("l_shipdate") < F.lit(hi).cast("timestamp"))
        )
        .groupBy("l_returnflag")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("l_quantity").cast("decimal(18,2)"))
            .cast("double")
            .alias("sum_qty"),
        )
    )
