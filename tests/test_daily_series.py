"""The integer daily-series kit in ``operators/inference_ext.py``.

``daily_milli`` (Spark) and ``DAILY_MILLI_SQL`` (DuckDB) are written
independently; they must agree on the clean fixture and on an events twin
whose hostile values are NULL. Events with a NULL ``ts`` belong to no
day, and both drop them. No other operator module may re-spell the Spark
series, the oracle constant or the sign-split division ``sdiv``.
"""

from __future__ import annotations

import os
import re
import shutil

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
import pytest

import __spark_entry__ as entrymod
from c2_duckdb_runner_spark.operators.inference_ext import (
    DAILY_MILLI_SQL,
    daily_milli,
    sdiv,
)
from tests.compare import assert_frames_match
from tools.oracle_staged import connect

OPS = os.path.join(
    os.path.dirname(os.path.dirname(__file__)), "c2_duckdb_runner_spark", "operators"
)

# The daily-series keys that agree with their oracles on the NULL-value
# twin. The other six of the 16 (ts_theil_sen_slope,
# ts_holt_linear_forecast, stats_runs_test, window_pct_change_wow,
# ts_anomaly_stl_residual, ts_sliding_median_smooth) still diverge there.
NULL_TWIN_KEYS = [
    "stats_anova_f_daily",
    "ts_autocorr_lags",
    "ts_ljung_box",
    "ts_seasonal_decompose_additive",
    "causal_stratified_att",
    "ts_dft_weekly_power",
    "ab_cuped_adjustment",
    "ts_xmr_control_chart",
    "ts_page_hinkley",
    "stats_wilcoxon_signed_rank",
]


def _assert_kit_matches(spark, con, sf_dir):
    spdf = daily_milli(spark, sf_dir).toPandas()
    assert len(spdf) > 0
    assert_frames_match(spdf, con.execute(DAILY_MILLI_SQL).fetchdf(), "daily_milli")
    return spdf


def test_daily_milli_matches_oracle(spark, sf_dir, duck):
    _assert_kit_matches(spark, duck, sf_dir)


@pytest.fixture(scope="module")
def null_value_dir(hostile_dir, tmp_path_factory):
    """The hostile twin with every ``events.value`` whose cents
    ``round(value * 100)`` are no finite BIGINT (±inf, NaN, ±1e308) set to
    NULL. Both engines raise a cast overflow on those values; as NULLs
    they exercise the series' NULL handling instead, next to the twin's
    NULL ``event_type`` and ``ts`` keys."""
    out = str(tmp_path_factory.mktemp("null_value"))
    for f in os.listdir(hostile_dir):
        shutil.copy(os.path.join(hostile_dir, f), out)
    path = os.path.join(out, "events.parquet")
    t = pq.read_table(path)
    v = t.column("value")
    ok = pc.and_(pc.is_finite(v), pc.less(pc.abs(pc.multiply(v, 100.0)), 2.0**63))
    nv = pc.if_else(pc.fill_null(ok, True), v, pa.nulls(len(v), v.type))
    assert nv.null_count > v.null_count
    pq.write_table(t.set_column(t.column_names.index("value"), "value", nv), path)
    return out


def test_daily_milli_matches_oracle_on_null_values(spark, null_value_dir):
    con = connect(null_value_dir)
    try:
        spdf = _assert_kit_matches(spark, con, null_value_dir)
    finally:
        con.close()
    assert spdf["event_type"].isna().any()


@pytest.fixture(scope="module")
def null_value_duck(null_value_dir):
    con = connect(null_value_dir)
    yield con
    con.close()


def test_daily_milli_drops_null_days(spark, null_value_dir, null_value_duck):
    n_null_ts = null_value_duck.execute(
        "SELECT COUNT(*) FROM events WHERE ts IS NULL"
    ).fetchone()[0]
    assert n_null_ts > 0
    assert not daily_milli(spark, null_value_dir).toPandas()["d"].isna().any()


@pytest.mark.parametrize("key", NULL_TWIN_KEYS)
def test_daily_key_matches_oracle_on_null_values(
    spark, null_value_dir, null_value_duck, key
):
    got = entrymod.queries()[key](spark, null_value_dir).toPandas()
    want = null_value_duck.execute(entrymod.oracle_sql()[key]).fetchdf()
    assert_frames_match(got, want, key)


@pytest.mark.parametrize("num, den, want", [(7, 2, 3), (-7, 2, -3), (0, 5, 0)])
def test_sdiv_truncates_toward_zero_in_both_engines(spark, duck, num, den, want):
    n, d = f"CAST({num} AS BIGINT)", f"CAST({den} AS BIGINT)"
    assert spark.sql(f"SELECT {sdiv(n, d, 'spark')}").collect()[0][0] == want
    assert duck.execute(f"SELECT {sdiv(n, d, 'duck')}").fetchone()[0] == want


def test_daily_kit_is_defined_once():
    """One daily series, one oracle constant, one sign-split division:
    every operator module imports them from inference_ext."""
    spark_daily = re.compile(
        r"\(10 \* (?:CAST\(SUM\(CAST\(round\(value \* 100\) AS BIGINT\)\) AS BIGINT\)"
        r"|SUM\(\w+\))\)[\"\s]*div (?:CAST\()?COUNT\(\*\)"
    )
    definition = re.compile(r"^(?:_DAILY_SQL|DAILY_MILLI_SQL) =|^def _?sdiv\(", re.M)
    hits = []
    for f in sorted(os.listdir(OPS)):
        if f.endswith(".py") and f != "inference_ext.py":
            with open(os.path.join(OPS, f)) as fh:
                src = fh.read()
            if spark_daily.search(src) or definition.search(src):
                hits.append(f)
    assert hits == []
    with open(os.path.join(OPS, "inference_ext.py")) as fh:
        src = fh.read()
    assert len(spark_daily.findall(src)) == 1
    assert len(definition.findall(src)) == 2
