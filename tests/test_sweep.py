"""tools/sweep.py: the chunk harvest rule, the pass rule and the per-key
classifier.

The classifier runs on the hostile sf0.001 twin over one key of each
status the full hostile sweep recorded (CORRECTNESS_hostile_r11.json):
a pass, a ``both_error`` and a fence. A Spark frame that returns rows
against an oracle that raises is a ``fail``, never a ``both_error``.
"""

from __future__ import annotations

import pytest

import __spark_entry__ as entrymod
from tools.oracle_staged import connect
from tools.sweep import classify, harvest, verdict

QUERIES = entrymod.queries()
ORACLES = entrymod.oracle_sql()

DONE = {"status": "pass", "rows_match": True, "schema_match": True,
        "hash_match": True}


def test_harvest_clean_completion():
    partial = {"a": DONE, "b": {**DONE, "status": "fail"}}
    assert harvest(["a", "b"], partial, 0) == partial


def test_harvest_crash_suspect_and_died_before():
    partial = {"a": DONE, "b": {"started": True}}
    got = harvest(["a", "b", "c"], partial, -9)
    assert got["a"] == DONE
    assert got["b"]["status"] == got["c"]["status"] == "fail"
    assert "exit -9" in got["b"]["err"]
    assert "crash suspect" in got["b"]["err"]
    assert "before this key ran" in got["c"]["err"]
    assert "crash suspect" not in got["c"]["err"]


def test_harvest_no_checkpoint():
    got = harvest(["a", "b"], {}, 1)
    assert all("before this key ran" in v["err"] for v in got.values())


def test_rows_only_passes_on_rows_match_alone():
    ro = {"mode": "rows-only", "rows_match": True, "schema_match": None,
          "hash_match": None}
    assert verdict(ro) == "pass"
    assert verdict({**ro, "rows_match": False}) == "fail"
    # a hash-mode entry still needs all three
    assert verdict({**ro, "mode": None}) == "fail"
    assert verdict(DONE) == "pass"
    assert verdict({**DONE, "schema_match": False}) == "fail"


def test_rows_only_classify(spark, sf_dir, duck):
    k = "scan_filter_count"
    ent = classify(spark, duck, k, QUERIES[k], ORACLES[k], sf_dir,
                   rows_only=True)
    assert ent["status"] == "pass"
    assert ent["mode"] == "rows-only"
    assert ent["hash_match"] is None
    assert ent["spark_rows"] == ent["oracle_rows"]


@pytest.fixture(scope="module")
def hostile_con(hostile_dir):
    con = connect(hostile_dir)
    yield con
    con.close()


# the both_error key's Spark side fails inside toPandas by design
@pytest.mark.filterwarnings("ignore:toPandas attempted Arrow optimization")
@pytest.mark.parametrize(
    "key, status",
    [
        ("scan_filter_count", "pass"),
        ("join_inner_hash", "both_error"),
        ("fn_string", "fenced"),
    ],
)
def test_hostile_classify(spark, hostile_dir, hostile_con, key, status):
    ent = classify(spark, hostile_con, key, QUERIES[key], ORACLES[key],
                   hostile_dir, hostile=True)
    assert ent["status"] == status, ent
    if status == "both_error":
        assert ent["err"] and ent["oracle_err"]
    if status == "fenced":
        assert ent["class"] == "X5-unicode-case"


@pytest.mark.parametrize("hostile", [False, True])
def test_spark_rows_against_raising_oracle_is_fail(spark, sf_dir, duck, hostile):
    """Spark accepts, DuckDB rejects (a CAST of inf to BIGINT): that is a
    divergence, recorded with the oracle's error."""
    ent = classify(spark, duck, "spark_accepts_oracle_rejects",
                   lambda s, _: s.range(3), "SELECT CAST('inf'::DOUBLE AS BIGINT)",
                   sf_dir, hostile=hostile)
    assert ent["status"] == "fail", ent
    assert ent["spark_rows"] == 3
    assert "out of range" in ent["oracle_err"]
    assert ent["err"] is None
