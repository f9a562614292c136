"""The cosine-probe kit in ``operators/simsearch.py``.

``embedded``, ``probe_scores`` and ``probe_topk`` (Spark) and
``EMBEDDED_SQL`` and ``PROBE_RANKED_SQL`` (DuckDB) are written
independently; they must agree on the clean fixture and on an embeddings
twin that carries NaN, ±inf and NULL elements and a NULL vector. No other
operator module may re-spell the L2-norm expression or a probe-count
constant.
"""

from __future__ import annotations

import os
import re
import shutil

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F
from pyspark.sql.window import Window

import __spark_entry__ as entrymod
from c2_duckdb_runner_spark.operators.simsearch import (
    EMBEDDED_SQL,
    PROBE_DEPTH,
    PROBE_QUERIES,
    PROBE_RANKED_SQL,
    embedded,
    probe_scores,
    probe_topk,
)
from c2_duckdb_runner_spark.tables import TABLES
from tests.compare import assert_frames_match
from tools.oracle_staged import connect

OPS = os.path.join(
    os.path.dirname(os.path.dirname(__file__)), "c2_duckdb_runner_spark", "operators"
)
QUERIES = entrymod.queries()
ORACLES = entrymod.oracle_sql()

_RANKED_SQL = (
    f"WITH {PROBE_RANKED_SQL}\n"
    f"SELECT q_id, qlabel, label, rnk FROM ranked WHERE rnk <= {PROBE_DEPTH}"
)

# The kit's keys that agree with their oracles on the non-finite twin.
# dedup_embedding_cosine and dedup_semantic_keep are kit keys too, but
# their Arrow dot kernel gives NULL for a non-finite element and drops
# the pair, where DuckDB keeps it (ROADMAP item 5).
NONFINITE_KEYS = [
    "search_mrr_eval",
    "search_ndcg_eval",
    "eval_average_precision",
    "eval_recall_at_k",
    "eval_rank_biased_precision",
    "search_err_eval",
    "simsearch_topk_bruteforce",
    "simsearch_ivf_label",
    "simsearch_ivf_multiprobe",
    "simsearch_lsh_hyperplane",
    "simsearch_batch_knn",
    "simsearch_range_threshold",
    "simsearch_matryoshka_twostage",
    "simsearch_rerank_mmr",
    "simsearch_radius_count",
]


def test_probe_topk_equals_plain_row_number(spark, sf_dir):
    """The salted two-stage top-k keeps exactly the rows of one
    per-query ``row_number()`` over (cos DESC, vec_id)."""
    scored = probe_scores(spark, sf_dir)
    w = Window.partitionBy("q_id").orderBy(F.col("cos").desc(), "vec_id")
    plain = (
        scored.select("q_id", "qlabel", "label", F.row_number().over(w).alias("rnk"))
        .filter(F.col("rnk") <= PROBE_DEPTH)
        .toPandas()
    )
    got = probe_topk(scored).toPandas()
    assert len(got) == (PROBE_QUERIES + 1) * PROBE_DEPTH
    assert_frames_match(got, plain, "probe_topk")


def _assert_kit_matches(spark, con, sf_dir):
    nrm = embedded(spark, sf_dir).select("vec_id", "label", "nrm").toPandas()
    want = con.execute(f"WITH {EMBEDDED_SQL} SELECT vec_id, label, nrm FROM n")
    assert_frames_match(nrm, want.fetchdf(), "embedded")
    got = probe_topk(probe_scores(spark, sf_dir)).toPandas()
    assert_frames_match(got, con.execute(_RANKED_SQL).fetchdf(), "probe_topk")


def test_kit_matches_oracle(spark, sf_dir, duck):
    _assert_kit_matches(spark, duck, sf_dir)


@pytest.fixture(scope="module")
def nonfinite_dir(sf_dir, tmp_path_factory):
    """The clean fixture with a non-finite ``embeddings`` table: probe 3
    (an eval probe, a ``simsearch_batch_knn`` query and an IVF seed
    centroid) and corpus rows 100-102 start with NaN, +inf and -inf, row
    103 with a NULL element, and row 104's vector is NULL."""
    out = str(tmp_path_factory.mktemp("nonfinite"))
    for t in TABLES:
        shutil.copy(os.path.join(sf_dir, f"{t}.parquet"), out)
    path = os.path.join(out, "embeddings.parquet")
    t = pq.read_table(path)
    vecs = t.column("embedding").to_pylist()
    row = {v: i for i, v in enumerate(t.column("vec_id").to_pylist())}
    first = {3: float("nan"), 100: float("nan"), 101: float("inf"),
             102: float("-inf"), 103: None}
    for vid, x in first.items():
        vecs[row[vid]] = [x] + vecs[row[vid]][1:]
    vecs[row[104]] = None
    col = pa.array(vecs, type=t.schema.field("embedding").type)
    pq.write_table(t.set_column(t.column_names.index("embedding"), "embedding", col), path)
    return out


@pytest.fixture(scope="module")
def nonfinite_duck(nonfinite_dir):
    con = connect(nonfinite_dir)
    yield con
    con.close()


def test_nonfinite_twin_scores_nan_and_null(spark, nonfinite_dir):
    """Precondition for the differentials below: the twin's cosines hold
    NaN and NULL, and a NaN ranks into the top k (it sorts above every
    number in both engines)."""
    scored = probe_scores(spark, nonfinite_dir)
    assert scored.filter(F.isnan("cos")).count() > 0
    assert scored.filter(F.col("cos").isNull()).count() > 0
    top = QUERIES["simsearch_topk_bruteforce"](spark, nonfinite_dir).toPandas()
    assert top["cos"].isna().any()


def test_kit_matches_oracle_on_nonfinite_twin(spark, nonfinite_dir, nonfinite_duck):
    _assert_kit_matches(spark, nonfinite_duck, nonfinite_dir)


@pytest.mark.parametrize("key", NONFINITE_KEYS)
def test_kit_key_matches_oracle_on_nonfinite_twin(
    spark, nonfinite_dir, nonfinite_duck, key
):
    got = QUERIES[key](spark, nonfinite_dir).toPandas()
    assert_frames_match(got, nonfinite_duck.execute(ORACLES[key]).fetchdf(), key)


def test_probe_kit_is_defined_once():
    """One Spark norm, one oracle norm CTE, one probe set: every operator
    module imports them from simsearch."""
    norms = (
        "sqrt(aggregate(transform(v, x -> x * x)",
        "sqrt(list_reduce(list_transform(v, x -> x * x)",
    )
    probe_const = re.compile(r"^_\w*_N_QUERIES\s*=", re.M)
    hits = []
    for f in sorted(os.listdir(OPS)):
        if f.endswith(".py") and f != "simsearch.py":
            with open(os.path.join(OPS, f)) as fh:
                src = fh.read()
            if any(n in src for n in norms) or probe_const.search(src):
                hits.append(f)
    assert hits == []
    with open(os.path.join(OPS, "simsearch.py")) as fh:
        src = fh.read()
    assert [src.count(n) for n in norms] == [1, 1]
