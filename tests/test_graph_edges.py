"""The customer–supplier edge builders in operators/graph.py.

``graph.cust_supp_pairs`` is the one definition of a trade edge and
``graph._edges`` its symmetrized form; every graph key builds on one of
them. Two properties are pinned here:

1. NULL endpoints are dropped, and every engine agrees. The clean
   fixtures hold no NULL ``o_custkey``/``l_suppkey``, so the policy is
   only visible on the hostile twin (``hostile.py`` NULLs ~20% of both
   columns). Every key built on the helpers runs against its DuckDB
   oracle on that twin.
2. Dedup runs before the mirror. node2vec's adjacency arrays and WL's
   neighbour multisets are ``collect_list`` over the edge list, so their
   length is bounded by the largest distinct-neighbour count only while
   the edge list holds no duplicate pair.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

import __spark_entry__ as entrymod
from c2_duckdb_runner_spark import session
from c2_duckdb_runner_spark.operators.graph import (
    _EDGES_SQL,
    _edges,
    cust_supp_pairs,
)
from tests.compare import assert_frames_match
from tools.oracle_staged import connect

QUERIES = entrymod.queries()
ORACLES = entrymod.oracle_sql()

# The keys that used to build their own pair list and now call
# cust_supp_pairs / _edges; every one passes the full hostile sweep
# (CORRECTNESS_hostile_r11.json).
EDGE_KEYS = [
    "graph_pagerank_iterations",
    "graph_pagerank_converged",
    "graph_kcore_peel",
    "graph_label_propagation_sync",
    "graph_wl_refinement",
    "graph_node2vec_biased_walk",
    "graph_random_walks_hash",
    "graph_rich_club",
    "graph_jaccard_neighbor_sim",
    "graph_hits_rounds",
    "graph_avg_neighbor_degree",
    "graph_two_hop_reach_topk",
    "graph_modularity_nation",
]


@pytest.fixture(scope="module")
def hostile_duck(hostile_dir):
    con = connect(hostile_dir)
    yield con
    con.close()


def test_hostile_twin_has_null_endpoints(spark, hostile_dir, hostile_duck):
    """Precondition for the differential below: the twin really carries
    NULL endpoints, and the helper really drops them."""
    n_null_c, n_null_s = hostile_duck.execute(
        "SELECT COUNT(*) FILTER (WHERE o_custkey IS NULL), "
        "COUNT(*) FILTER (WHERE l_suppkey IS NULL) "
        "FROM orders JOIN lineitem ON o_orderkey = l_orderkey"
    ).fetchone()
    assert n_null_c > 0 and n_null_s > 0
    pairs = cust_supp_pairs(spark, hostile_dir)
    assert pairs.count() > 0
    assert pairs.filter(F.col("c").isNull() | F.col("s").isNull()).count() == 0


@pytest.mark.parametrize("key", EDGE_KEYS)
def test_edge_key_matches_oracle_on_hostile_twin(
    spark, hostile_dir, hostile_duck, key
):
    got = QUERIES[key](spark, hostile_dir).toPandas()
    want = hostile_duck.execute(ORACLES[key]).fetchdf()
    assert_frames_match(got, want, key)


def _max_distinct_degree(duck) -> int:
    return duck.execute(
        f"SELECT MAX(d) FROM (SELECT src, COUNT(*) AS d FROM ({_EDGES_SQL}) "
        "GROUP BY src)"
    ).fetchone()[0]


def _scratch_with(cols: set[str]):
    """The one frame the last registered query persisted with ``cols``."""
    (df,) = [d for d in session._SCRATCH if set(d.columns) == cols]
    return df


def test_adjacency_arrays_bounded_by_distinct_degree(spark, sf_dir, duck):
    bound = _max_distinct_degree(duck)
    assert bound > 1
    max_outdeg = (
        _edges(spark, sf_dir).groupBy("src").count().agg(F.max("count")).first()[0]
    )
    assert max_outdeg == bound

    # node2vec: the persisted per-node adjacency arrays
    QUERIES["graph_node2vec_biased_walk"](spark, sf_dir)
    adj = _scratch_with({"src", "nbrs"})
    assert adj.agg(F.max(F.size("nbrs"))).first()[0] == bound
    # WL: each round's neighbour multiset of v is collect_list over v's
    # rows of the persisted edge relation
    QUERIES["graph_wl_refinement"](spark, sf_dir)
    edges = _scratch_with({"src", "dst"})
    longest = (
        edges.groupBy("src")
        .agg(F.size(F.collect_list("dst")).alias("n"))
        .agg(F.max("n"))
        .first()[0]
    )
    assert longest == bound
