#!/usr/bin/env python
"""Generate SCALE_CLASSES.md: the per-key 100x-sweep classification table.

Verdict r8 ask #2: the r8 100x sweep covered 162 keys, but the
selected-out keys' justification lived in sweep tooling, not in a
checkable artifact. This generator derives a TOTAL classification of every
registry key from MEASURED evidence (the committed full-sweep artifacts),
so the classification can neither drift from the registry nor rest on
hand-waving:

- ``bounded-output``: result row count does NOT grow from sf0.01 to sf0.1
  (measured ratio <= 1.5) — the output is domain/fence-bounded, so a 100x
  full-frame hash differential is FEASIBLE and therefore REQUIRED. The
  failure family it hunts is input-proportional intermediate arithmetic
  (fixed-point ppm products, prefix sums) that sf0.1 magnitudes cannot
  expose.
- ``capped-growth``: rows grow with input but the 100x result still fits
  a frame compare (<= CAP rows, using the r8 sf10 artifact's MEASURED 100x
  row count where available — saturating fences grow 0.01->0.1 then go
  flat — else the linear projection sf0.1 rows x 100); hash differential
  also REQUIRED. Keys the r8 artifact already hash-proved above the cap
  stay here: the classification never regresses coverage.
- ``row-proportional``: rows grow ~linearly and the projected 100x result
  exceeds CAP (collecting a 600M-row frame is the infeasibility, not the
  oracle) — the 100x gate for these is rows-only: COUNT(*) over the full
  query on BOTH engines at the 100x replica (tools/sweep.py --rows-only),
  plus the sf0.1 full-value differential and the repo-wide plan bans.
  Per-row semantics carry no accumulating magnitude by construction under
  the replica scale model (gen_scale.py: entity count grows, per-entity
  history does not).

Usage:
  python tools/gen_scale_classes.py            # rewrite SCALE_CLASSES.md
  python tools/gen_scale_classes.py --check    # fail if file is stale
  python tools/gen_scale_classes.py --sweep-keys   # print hash-sweep keys
  python tools/gen_scale_classes.py --rows-only-keys  # print rows-only keys

tests pin --check, totality (every registry key classified exactly once),
and that every hash-sweep key appears in the round's CORRECTNESS_sf10
artifact.
"""

from __future__ import annotations

import json
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

OUT = os.path.join(REPO, "SCALE_CLASSES.md")
SF001 = os.path.join(REPO, "CORRECTNESS_full_r08.json")
SF01 = os.path.join(REPO, "CORRECTNESS_full_sf01_r08.json")
SF10_R8 = os.path.join(REPO, "CORRECTNESS_sf10_r08.json")

GROW_RATIO = 1.5  # above this, output is considered input-proportional
CAP = 2_000_000  # max projected 100x rows for a feasible frame compare

# Hand-curated notes layered ON TOP of the measured classes — never a
# substitute for them. Keys listed here get the note appended to their row.
NOTES = {
    "graph_triangle_count": (
        "near-clique fixture graph: the global wedge-join count is "
        "~1e10 intermediate rows at 100x on BOTH engines — the sweep "
        "runs it under the chunked harness's crash isolation"
    ),
    "set_except": "empty result at both SFs (0 rows) — flat by vacuity",
    "source_python_datasource": "empty result at both SFs — flat by vacuity",
    "join_anti": "0 -> 1 rows: anti-join survivors, fence-bounded in spirit "
    "but measured as growth — classified by the measurement",
}


def _results(path: str) -> dict:
    """Per-key results of a flat ``{key: result}`` artifact or of the
    wrapped ``{..., results}`` form tools/sweep.py writes."""
    d = json.load(open(path))
    return d.get("results", d)


def classify() -> dict[str, dict]:
    import __spark_entry__ as entry

    keys = sorted(entry.queries())
    ra = _results(SF001)
    rb = _results(SF01)
    missing = [k for k in keys if k not in ra or k not in rb]
    if missing:
        raise SystemExit(
            f"unclassifiable: {len(missing)} registry keys missing from the "
            f"full-sweep artifacts (rerun tools/sweep.py): {missing[:5]}"
        )
    stale = sorted(set(ra) - set(keys))
    if stale:
        raise SystemExit(f"artifact has keys not in registry: {stale[:5]}")

    # where the r8 100x artifact MEASURED the result size, prefer it over
    # the linear projection (keys with saturating fences — e.g. a day-grid
    # window — grow sf0.01->sf0.1 while filling the grid, then go flat)
    r8_rows: dict[str, int] = {}
    if os.path.exists(SF10_R8):
        for k, v in _results(SF10_R8).items():
            if v.get("spark_rows") is not None:
                r8_rows[k] = v["spark_rows"]

    out: dict[str, dict] = {}
    for k in keys:
        n1, n2 = ra[k]["spark_rows"], rb[k]["spark_rows"]
        ratio = (n2 / n1) if n1 else (float("inf") if n2 else 1.0)
        proj = r8_rows.get(k, n2 * 100)
        basis = "measured" if k in r8_rows else "projected"
        if ratio <= GROW_RATIO:
            cls, why = "bounded-output", (
                f"{n1}->{n2} rows sf0.01->sf0.1 (flat: domain/fence-bounded)"
            )
        elif proj <= CAP or k in r8_rows:
            # any key the r8 artifact already hash-verified at 100x stays
            # hash-sweep — the classification must never REGRESS coverage
            cls, why = "capped-growth", (
                f"{n1}->{n2} rows; 100x {basis} ~{proj:,}"
                + (" (> cap but r8-hash-proven)" if proj > CAP else "")
                + " — frame compare feasible"
            )
        else:
            cls, why = "row-proportional", (
                f"{n1}->{n2} rows (~x{ratio:.1f}); 100x {basis} "
                f"~{proj:,} rows — frame collect infeasible, "
                "rows-only gate"
            )
        out[k] = {"class": cls, "why": why, "n1": n1, "n2": n2}
    return out


def render(classes: dict[str, dict]) -> str:
    counts: dict[str, int] = {}
    for v in classes.values():
        counts[v["class"]] = counts.get(v["class"], 0) + 1
    lines = [
        "# SCALE_CLASSES — per-key 100x-sweep classification",
        "",
        "Generated by tools/gen_scale_classes.py from MEASURED output-row",
        "growth in the committed full-sweep artifacts (CORRECTNESS_full_r08",
        "sf0.01 vs CORRECTNESS_full_sf01_r08 sf0.1); regenerate after any",
        "registry change. tests/test_invariants_r9.py pins --check, totality",
        "and sweep-artifact coverage. Class semantics in the tool docstring.",
        "",
        f"Totals: {len(classes)} keys — "
        + ", ".join(f"{c} {n}" for c, n in sorted(counts.items())),
        "",
        "Hash-sweep obligation (bounded-output + capped-growth) = every key",
        "whose 100x frame compare is feasible; rows-only obligation =",
        "row-proportional keys. CORRECTNESS_sf10_r09.json carries the hash",
        "sweep; CORRECTNESS_sf10_rows_r09.json the rows-only gate.",
        "",
        "| key | class | measured basis |",
        "|---|---|---|",
    ]
    for k in sorted(classes):
        v = classes[k]
        why = v["why"]
        if k in NOTES:
            why += f"; NOTE: {NOTES[k]}"
        lines.append(f"| `{k}` | {v['class']} | {why} |")
    lines.append("")
    return "\n".join(lines)


def main() -> None:
    classes = classify()
    if "--sweep-keys" in sys.argv:
        for k, v in sorted(classes.items()):
            if v["class"] in ("bounded-output", "capped-growth"):
                print(k)
        return
    if "--rows-only-keys" in sys.argv:
        for k, v in sorted(classes.items()):
            if v["class"] == "row-proportional":
                print(k)
        return
    text = render(classes)
    if "--check" in sys.argv:
        current = open(OUT).read() if os.path.exists(OUT) else ""
        if current != text:
            raise SystemExit("SCALE_CLASSES.md is stale — rerun the generator")
        print("SCALE_CLASSES.md up to date")
        return
    with open(OUT, "w") as fh:
        fh.write(text)
    counts: dict[str, int] = {}
    for v in classes.values():
        counts[v["class"]] = counts.get(v["class"], 0) + 1
    print(f"wrote SCALE_CLASSES.md: {counts}")


if __name__ == "__main__":
    main()
