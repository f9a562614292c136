"""The exact-cents kit in ``operators/inference_ext.py``.

``cents`` (Spark) and ``CENTS_SQL`` (DuckDB) must give the same BIGINT
cents for every finite input, and both must raise for a value with no
finite BIGINT cents (±inf, NaN, ±1e308): that is the one non-finite
policy every cents key shares. No other package module may spell the
cast itself.
"""

from __future__ import annotations

import os
import re

import pytest

from c2_duckdb_runner_spark.operators.inference_ext import CENTS_SQL, cents

PKG = os.path.join(os.path.dirname(os.path.dirname(__file__)), "c2_duckdb_runner_spark")

# (input, cents): halves round away from zero in both engines; 1.005 * 100
# is 100.49999999999999 in binary floating point, so it rounds down.
FINITE = [
    (0.005, 1),
    (-0.005, -1),
    (2.675, 268),
    (-2.675, -268),
    (1.005, 100),
    (19.99, 1999),
    (0.0, 0),
    (-1234567.891, -123456789),
    (None, None),
]
NON_FINITE = ["inf", "-inf", "nan", "1e308", "-1e308"]


def test_cents_and_cents_sql_agree_on_finite_inputs(spark, duck):
    vals = [v for v, _ in FINITE]
    want = [c for _, c in FINITE]
    df = spark.createDataFrame([(i, v) for i, v in enumerate(vals)], "i int, v double")
    got_spark = [r[0] for r in df.orderBy("i").select(cents("v")).collect()]
    rows = ", ".join(f"({i}, CAST({'NULL' if v is None else v} AS DOUBLE))"
                     for i, v in enumerate(vals))
    got_duck = [
        r[0]
        for r in duck.execute(
            f"SELECT {CENTS_SQL.format('v')} FROM (VALUES {rows}) t(i, v) ORDER BY i"
        ).fetchall()
    ]
    assert got_spark == want
    assert got_duck == want


@pytest.mark.parametrize("bad", NON_FINITE)
def test_both_engines_raise_without_finite_cents(spark, duck, bad):
    df = spark.createDataFrame([(float(bad),)], "v double")
    with pytest.raises(Exception, match="CAST_OVERFLOW"):
        df.select(cents("v")).collect()
    with pytest.raises(Exception, match="Conversion Error"):
        duck.execute(
            f"SELECT {CENTS_SQL.format('v')} FROM (SELECT CAST('{bad}' AS DOUBLE) AS v)"
        ).fetchall()


def test_cents_kit_is_defined_once():
    """One cents cast per engine, both in inference_ext: every other package
    module imports ``cents`` / ``CENTS_SQL``. TRY_CAST is a different cast
    (lakehouse_snapshot_timetravel's NULL-on-overflow) and is not matched."""
    sql_cast = re.compile(r"(?<!TRY_)CAST\(round\(\s*[\w{}]+\s*\*\s*100\s*\)\s+AS\s+BIGINT\)")
    col_cast = re.compile(r"F\.round\([^\n]*\*\s*100\)\.cast\(\"bigint\"\)")
    hits = []
    for root, _, files in os.walk(PKG):
        for f in files:
            if f.endswith(".py") and f != "inference_ext.py":
                with open(os.path.join(root, f)) as fh:
                    src = fh.read()
                if sql_cast.search(src) or col_cast.search(src):
                    hits.append(f)
    assert hits == []
    with open(os.path.join(PKG, "operators", "inference_ext.py")) as fh:
        src = fh.read()
    assert len(sql_cast.findall(src)) == 1
    assert len(col_cast.findall(src)) == 1
