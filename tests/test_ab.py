"""``tools/ab.py``'s summary on canned result lines: quartiles per side,
wins with ties counting for neither side, and the claim rule (at least
9/10 of the pairs won, a median gap larger than the base's IQR, and no
larger share of failed operations than the base)."""

from __future__ import annotations

import pytest

from tools.ab import parse_seeds, summarize


def _line(seed: int, side: str, **metrics: float) -> dict:
    return {"seed": seed, "side": side, "result": {
        "attempted": 10, "failed": 0,
        "metrics": {k: {"value": v, "unit": "s"} for k, v in metrics.items()}}}


def _pairs(base: list[float], change: list[float], name="op_p50_s") -> list[dict]:
    lines = []
    for seed, (b, c) in enumerate(zip(base, change)):
        lines += [_line(seed, "base", **{name: b}), _line(seed, "change", **{name: c})]
    return lines


BASE = [0.160, 0.162, 0.164, 0.166, 0.167, 0.168, 0.170, 0.172, 0.174, 0.176]


def test_clear_gain_is_claimed():
    change = [b - 0.025 for b in BASE]
    [row] = summarize(_pairs(BASE, change), {"op_p50_s": "lower"})
    assert row["pairs"] == 10 and row["wins"] == 10 and row["gain"]
    med, q1, q3 = row["base"]
    assert med == pytest.approx(0.1675)
    assert (q1, q3) == (pytest.approx(0.1645), pytest.approx(0.1715))
    assert row["change"][0] == pytest.approx(0.1425)


def test_ties_and_losses_block_the_claim():
    change = [b - 0.025 for b in BASE]
    change[0] = BASE[0]  # a tie counts for neither side
    change[1] = BASE[1] + 0.001  # a loss
    [row] = summarize(_pairs(BASE, change), {"op_p50_s": "lower"})
    assert row["wins"] == 8 and not row["gain"]


def test_gap_inside_base_iqr_is_not_a_gain():
    change = [b - 0.001 for b in BASE]  # 10/10 wins, gap 0.001 < IQR
    [row] = summarize(_pairs(BASE, change), {"op_p50_s": "lower"})
    assert row["wins"] == 10 and not row["gain"]


def test_more_failed_operations_block_the_claim():
    lines = _pairs(BASE, [b - 0.025 for b in BASE])
    lines[1]["result"]["failed"] = 1  # seed 0's change: 1 of 10 failed
    [row] = summarize(lines, {"op_p50_s": "lower"})
    assert row["wins"] == 10 and not row["gain"]
    lines[0]["result"]["failed"] = 1  # the same share on the base side
    assert summarize(lines, {"op_p50_s": "lower"})[0]["gain"]


def test_higher_is_better_and_unpaired_seeds_dropped():
    base = [100.0 + i for i in range(10)]
    lines = _pairs(base, [b * 1.5 for b in base], "rows_per_s")
    lines.append(_line(99, "change", rows_per_s=1e9))  # its base never ran
    rows = summarize(lines, {"rows_per_s": "higher", "op_p50_s": "lower"})
    assert [r["metric"] for r in rows] == ["rows_per_s"]
    assert rows[0]["pairs"] == 10 and rows[0]["wins"] == 10 and rows[0]["gain"]
    lower = summarize(lines, {"rows_per_s": "lower"})[0]
    assert lower["wins"] == 0 and not lower["gain"]


def test_parse_seeds():
    assert parse_seeds("601-603,607") == [601, 602, 603, 607]
    assert parse_seeds("5") == [5]
