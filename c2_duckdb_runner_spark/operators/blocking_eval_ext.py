"""Round-4 blocking-quality meta-evaluation.

The record-linkage literature grades a blocking scheme on two axes:
PAIRS COMPLETENESS (what share of true matches survive blocking) and
REDUCTION RATIO (what share of the all-pairs universe blocking prunes).
This module audits the repo's own MinHash-LSH blocking
(operators/dedup.py) on exactly those axes — the eval harness a
production dedup pipeline runs before trusting a cheaper blocking
config.

Reference reach: the delegated SQL slot (``main.cc:181-182``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from c2_duckdb_runner_spark.operators.dedup import (
    _BAND_KEYS,
    _jaccard_pairs_spark,
    _jaccard_pairs_sql,
    _minhash_sig_table,
)
from c2_duckdb_runner_spark.registry import fdoc, register
from c2_duckdb_runner_spark.session import scratch_persist

_PC_MIN_PCT = 95  # pairs completeness floor
_RR_MAX_PCT = 5  # candidates must be <= 5% of the pair universe

_SAMPLE_PRED = (
    "CAST(conv(substring(md5(CAST(doc_id AS STRING)), 1, 15), 16, 10)"
    " AS BIGINT) % 2 = 0"
)


@register(
    "er_blocking_quality_report",
    oracle=(
        # Verdict oracle (the dedup_minhash_lsh pattern): the candidate set
        # depends on Spark's xxhash64 band keys (no DuckDB twin), but the
        # sample size and the ground-truth pair count are SQL-exact, so both
        # engines hash-match those while Spark additionally asserts the two
        # blocking-quality bits: pairs completeness >= 95% and candidate
        # volume <= 5% of the all-pairs universe.
        "SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM documents WHERE"
        " CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 15))"
        " AS BIGINT) % 2 = 0) AS n_docs_sample,"
        " CAST(COUNT(*) AS BIGINT) AS n_true_pairs,"
        " CAST(1 AS INT) AS pc_ok, CAST(1 AS INT) AS rr_ok "
        f"FROM ({_jaccard_pairs_sql('0.8', sample_mod=2)})"
    ),
)
@fdoc(f"""Blocking-quality report for the MinHash-LSH candidate stage, on
    the deterministic md5-parity doc sample both engines agree on:

    - PAIRS COMPLETENESS: ≥ {_PC_MIN_PCT}% of exact Jaccard-0.8 truth
      pairs must appear among the band-bucket candidates (integer
      cross-multiplied, no float boundary);
    - REDUCTION RATIO: the candidate list must stay ≤ {_RR_MAX_PCT}% of
      the n·(n-1)/2 pair universe — a blocking scheme that "recalls
      everything" by emitting everything fails this bit.

    Together the two bits are the go/no-go a 100 TB dedup run checks on
    a sample BEFORE paying for the full corpus: completeness says the
    blocks don't lose matches, reduction says they actually prune. The
    audit reuses the production signature table (one corpus sign pass,
    scratch-persisted) and the truth reuses the shingles already inside
    it — nothing is recomputed. Cites operators/dedup.py:370-430 (the
    audited blocking) and Christen's blocking-survey metrics.""")
def er_blocking_quality_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    sig = _minhash_sig_table(spark, sf_dir)
    sample = sig.filter(F.expr(_SAMPLE_PRED))
    # r11 optimization round: truth feeds both the completeness semi-join
    # and its own count, cand feeds both the semi-join and the
    # reduction-ratio count — persist each once instead of replaying the
    # blocked-Jaccard subtree and the band self-join twice (guide §5:
    # reused AND expensive).
    truth = scratch_persist(
        _jaccard_pairs_spark(spark, sf_dir, 0.8, sample_mod=2, shingled=sig)
    )
    bands = sample.select(
        "doc_id", F.explode(F.expr(_BAND_KEYS)).alias("bk")
    ).select("doc_id", "bk.band", "bk.key")
    a, b = bands.alias("a"), bands.alias("b")
    cand = scratch_persist(
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.key") == F.col("b.key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("a_id"), F.col("b.doc_id").alias("b_id"))
        .dropDuplicates(["a_id", "b_id"])
    )
    n_docs = sample.agg(F.count("*").cast("bigint").alias("n_docs_sample"))
    hits = truth.select("a_id", "b_id").join(cand, ["a_id", "b_id"], "left_semi")
    stats = (
        truth.agg(F.count("*").cast("bigint").alias("n_true_pairs"))
        .crossJoin(hits.agg(F.count("*").cast("bigint").alias("n_hit")))
        .crossJoin(cand.agg(F.count("*").cast("bigint").alias("n_cand")))
        .crossJoin(n_docs)
    )
    return stats.select(
        "n_docs_sample",
        "n_true_pairs",
        (F.col("n_hit") * 100 >= F.col("n_true_pairs") * _PC_MIN_PCT)
        .cast("int")
        .alias("pc_ok"),
        (
            F.col("n_cand") * 100 * 2
            <= F.col("n_docs_sample") * (F.col("n_docs_sample") - 1) * _RR_MAX_PCT
        )
        .cast("int")
        .alias("rr_ok"),
    )
