"""Witness trap tests for the hostile-fence classes (r11).

Every fence class in c2_duckdb_runner_spark/hostile_fences.py is pinned
by a probe asserting the underlying engine divergence is REAL on this
container — if an engine upgrade closes the gap, the probe fails and the
fence can be lifted (the same discipline as the X1-X12 fuzz exclusions).
"""

from __future__ import annotations

import duckdb
import pytest

from c2_duckdb_runner_spark.hostile_fences import FENCES


def _duck1(sql):
    con = duckdb.connect()
    try:
        return con.execute(sql).fetchone()
    finally:
        con.close()


def test_fence_ledger_is_registered_and_classed():
    from c2_duckdb_runner_spark.registry import queries

    qs = queries()
    assert set(FENCES) <= set(qs), sorted(set(FENCES) - set(qs))
    classes = {c for c, _ in FENCES.values()}
    assert classes <= {
        "X5-unicode-case", "H-neg0-group", "H-ties", "H-domain",
        "H-seq-null", "H-sketch-accuracy", "H-null-law", "H-oracle-rejects",
    }
    for k, (cls, reason) in FENCES.items():
        assert len(reason) > 40, f"{k}: fence reason must cite a witness"


def test_x5_case_mapping_diverges(spark):
    """UPPER('ß'): Spark/ICU one-to-many 'SS', DuckDB/utf8proc 'ẞ'."""
    s = spark.sql("SELECT upper('ß')").collect()[0][0]
    d = _duck1("SELECT upper('ß')")[0]
    assert s == "SS"
    assert d == "ẞ"
    # lower dotted capital I: Spark keeps the combining dot, DuckDB folds
    s2 = spark.sql("SELECT length(lower('İ'))").collect()[0][0]
    d2 = _duck1("SELECT length(lower('İ'))")[0]
    assert (s2, d2) == (2, 1)


def test_neg0_group_key_reporting_diverges(spark):
    """Both engines form ONE zero group, but Spark REPORTS the key as
    +0.0 (SPARK-32110 normalization) while DuckDB reports the stored
    -0.0 — numerically equal, repr-distinct; tests/compare.py canonizes
    the zero sign instead of fencing whole queries."""
    import math

    rows = spark.sql(
        "SELECT x, count(*) FROM VALUES (double('-0.0')), (double('0.0')) "
        "t(x) GROUP BY x"
    ).collect()
    # one merged group, reported as +0.0
    assert len(rows) == 1
    assert not math.copysign(1.0, rows[0][0]) < 0
    d = _duck1("SELECT signbit(MIN(x)) FROM "
               "(VALUES (CAST('-0.0' AS DOUBLE))) t(x) GROUP BY x")[0]
    assert d is True  # DuckDB keeps the stored sign


def test_struct_max_null_member_diverges(spark):
    """MAX(struct) with a NULL member: DuckDB ranks NULL LARGEST, Spark
    smallest — why agg_mode_exact excludes NULL mode candidates."""
    s = spark.sql(
        "SELECT max(named_struct('c', c, 'p', p)).p FROM "
        "VALUES (1, 'a'), (1, CAST(NULL AS STRING)), (1, 'z') t(c, p)"
    ).collect()[0][0]
    d = _duck1(
        "SELECT (MAX({'c': c, 'p': p})).p FROM "
        "(VALUES (1, 'a'), (1, NULL), (1, 'z')) t(c, p)"
    )[0]
    assert s == "z"
    assert d is None


def test_least_skips_null_in_both_engines(spark):
    """least(NULL, 9) = 9 in BOTH engines — why bucket expressions need
    an explicit isNotNull guard before the clamp."""
    s = spark.sql("SELECT least(CAST(NULL AS INT), 9)").collect()[0][0]
    d = _duck1("SELECT least(CAST(NULL AS INT), 9)")[0]
    assert s == 9 and d == 9


def test_duckdb_asof_sorts_null_ts_into_match_order():
    """DuckDB's ASOF operator matches a NULL-ts probe (sorts it into the
    order) even though ts >= NULL is three-valued-false — why the asof
    oracles exclude NULL-key rows explicitly."""
    con = duckdb.connect()
    try:
        row = con.execute(
            "SELECT p.v FROM "
            "(VALUES (1, CAST(NULL AS TIMESTAMP))) c(k, ts) "
            "ASOF LEFT JOIN (VALUES "
            "(1, TIMESTAMP '2024-01-01', 42.0)) p(k, ts, v) "
            "ON c.k = p.k AND c.ts >= p.ts"
        ).fetchone()
    finally:
        con.close()
    # the comparison-semantics answer would be NULL (no match); DuckDB
    # returns the purchase value — the quirk the fence pins
    assert row[0] == 42.0


def test_duckdb_printf_vs_spark_format_string(spark):
    """printf NULL / non-finite / -0.0 renderings diverge — the
    fn_printf_format pins."""
    d = _duck1(
        "SELECT printf('%s', CAST(NULL AS VARCHAR)) IS NULL, "
        "printf('%.2f', CAST('nan' AS DOUBLE)), "
        "printf('%.2f', CAST(-0.0 AS DOUBLE))"
    )
    assert d == (True, "nan", "0.00")
    s = spark.sql(
        "SELECT format_string('%s', CAST(NULL AS STRING)), "
        "format_string('%.2f', double('nan')), "
        "format_string('%.2f', double('-0.0'))"
    ).collect()[0]
    assert tuple(s) == ("null", "NaN", "-0.00")


@pytest.mark.parametrize(
    "spark_sql, spark_value, duck_sql, duck_error",
    [
        # fn_math, sql_create_function_udf: saturating floor vs CAST error
        ("SELECT floor(double('1e305') / 1000)", 9223372036854775807,
         "SELECT CAST(floor(CAST(1e305 AS DOUBLE) / 1000) AS BIGINT)",
         "out of range"),
        ("SELECT CAST(floor(double('inf') * 100 + 0.5) AS BIGINT)",
         9223372036854775807,
         "SELECT CAST(floor(CAST('inf' AS DOUBLE) * 100 + 0.5) AS BIGINT)",
         "out of range"),
        # fn_trig: sin(inf) is NaN in Spark, an error in DuckDB
        ("SELECT isnan(sin(double('inf')))", True,
         "SELECT sin(CAST('inf' AS DOUBLE))", "out of range"),
        # fn_json, fn_from_json: malformed JSON is NULL in Spark
        ("SELECT get_json_object('🦆 duck', '$.k') IS NULL"
         " AND from_json('🦆 duck', 'k INT').k IS NULL", True,
         "SELECT '🦆 duck'->>'$.k'", "Malformed JSON"),
    ],
)
def test_oracle_rejects_what_spark_accepts(
    spark, spark_sql, spark_value, duck_sql, duck_error
):
    """H-oracle-rejects: Spark returns a value for the witness input, the
    DuckDB oracle raises on it."""
    assert spark.sql(spark_sql).collect()[0][0] == spark_value
    with pytest.raises(duckdb.Error, match=duck_error):
        _duck1(duck_sql)


@pytest.mark.parametrize("cls", ["H-ties", "H-seq-null"])
def test_precondition_classes_cite_the_broken_precondition(cls):
    """Every H-ties / H-seq-null fence must name WHAT ordering or spine
    the hostile fixture broke (they are preconditions, not engine bugs,
    and remain gated by the clean differential at every SF)."""
    for k, (c, reason) in FENCES.items():
        if c != cls:
            continue
        assert any(w in reason.lower() for w in (
            "order", "rank", "adjacen", "sequence", "ties", "day", "spine",
            "island", "null ts", "null dates", "run ",
        )), f"{k}: reason must cite the broken precondition: {reason}"
