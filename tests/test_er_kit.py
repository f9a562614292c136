"""The Fellegi–Sunter candidate-pair kit in ``operators/matching_ext.py``.

``er_candidates`` (Spark) and ``ER_CANDIDATES_SQL`` (DuckDB) are written
independently; they must agree on the clean fixture and on the hostile
twin, whose ``customer`` carries ±inf, NaN, ±1e308 and NULL balances. A
balance with no finite INT band gets a NULL band and leaves the blocked
join in both engines, so every key built on the kit runs there. No other
operator module may re-spell the dirty copy or the band.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

import __spark_entry__ as entrymod
from c2_duckdb_runner_spark.operators.matching_ext import (
    ER_CANDIDATES_SQL,
    er_candidates,
)
from tests.compare import assert_frames_match
from tools.oracle_staged import connect

PKG = os.path.join(os.path.dirname(os.path.dirname(__file__)), "c2_duckdb_runner_spark")
QUERIES = entrymod.queries()
ORACLES = entrymod.oracle_sql()

ER_KEYS = ["er_fellegi_sunter", "er_golden_record_survivorship", "er_em_hard_iteration"]

_PAIRS_SQL = f"WITH {ER_CANDIDATES_SQL}\nSELECT * FROM pairs"


@pytest.fixture(scope="module")
def hostile_duck(hostile_dir):
    con = connect(hostile_dir)
    yield con
    con.close()


def test_kit_matches_oracle(spark, sf_dir, duck):
    got = er_candidates(spark, sf_dir).toPandas()
    assert len(got) > 0
    assert_frames_match(got, duck.execute(_PAIRS_SQL).fetchdf(), "er_candidates")


def test_hostile_twin_has_unbandable_balances(spark, hostile_dir, hostile_duck):
    """Precondition for the differentials below: the twin's customer holds
    balances with no finite INT band, and none of them reaches a pair."""
    n_bad = hostile_duck.execute(
        "SELECT COUNT(*) FROM customer "
        "WHERE isinf(c_acctbal) OR isnan(c_acctbal) OR abs(c_acctbal) >= 1e9"
    ).fetchone()[0]
    assert n_bad > 0
    pairs = er_candidates(spark, hostile_dir)
    assert pairs.count() > 0
    assert pairs.filter(~(F.abs("abal") < 1e9) | ~(F.abs("bbal") < 1e9)).count() == 0


def test_kit_matches_oracle_on_hostile_twin(spark, hostile_dir, hostile_duck):
    got = er_candidates(spark, hostile_dir).toPandas()
    want = hostile_duck.execute(_PAIRS_SQL).fetchdf()
    assert_frames_match(got, want, "er_candidates")


@pytest.mark.parametrize("key", [*ER_KEYS, "privacy_l_diversity", "privacy_t_closeness"])
def test_er_key_matches_oracle_on_hostile_twin(spark, hostile_dir, hostile_duck, key):
    got = QUERIES[key](spark, hostile_dir).toPandas()
    assert_frames_match(got, hostile_duck.execute(ORACLES[key]).fetchdf(), key)


def test_er_kit_is_defined_once():
    """One dirty copy, one band and one score per engine, all in
    matching_ext: the Spark helper spells each once and the oracle twin
    once; no other module in the package spells any of them."""
    per_engine = {
        "c_custkey % 3 = 0 THEN upper(c_name)": 2,
        "c_custkey % 5 = 0 THEN c_acctbal + 0.37": 2,
        "c_custkey % 7 = 0 THEN NULL ELSE c_mktsegment": 2,
        "F.floor(x / 1000.0)": 1,  # Spark band
        "CAST(floor({0} / 1000.0) AS INT)": 1,  # oracle band
        "F.lower(\"bname\"), 18)": 1,  # Spark score
        "WHEN lower(aname) = lower(bname) THEN 18": 1,  # oracle score
    }
    stale = (
        "floor(c_acctbal / 1000.0)",
        "floor(bbal / 1000.0)",
        "+ 500000",
        "floor(c_acctbal/1000.0)",
    )
    hits = []
    for root, _, files in os.walk(PKG):
        for f in files:
            if not f.endswith(".py") or f == "matching_ext.py":
                continue
            with open(os.path.join(root, f)) as fh:
                src = fh.read()
            hits += [(f, n) for n in (*per_engine, *stale) if n in src]
    assert hits == []
    with open(os.path.join(PKG, "operators", "matching_ext.py")) as fh:
        src = fh.read()
    assert {n: src.count(n) for n in per_engine} == per_engine
    assert [n for n in stale if n in src] == []
