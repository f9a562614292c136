#!/usr/bin/env python3
"""Interleaved A/B of the repository benchmark: a git ref against the working tree.

    python3 tools/ab.py --ref HEAD --workload vpic_count_then_extract \\
        --seeds 601-610 | tee pairs.jsonl

The ref is checked out as a temporary ``git worktree`` ("base"). Each seed
is one pair of untraced ``perfbench/run.py`` runs of ``BENCHMARK.json``'s
``run_seconds``, base and working tree ("change"), the first side
alternating per pair. Prints each result as a JSON line, then per metric
(direction from ``BENCHMARK.json``) each side's median [Q1, Q3], the
change's wins (ties count for neither) and whether a gain may be claimed:
>= 9/10 pairs won, a median gap larger than the base's IQR, and no larger
share of failed operations than the base.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def parse_seeds(text: str) -> list[int]:
    """``"601-603,607"`` -> ``[601, 602, 603, 607]``."""
    seeds: list[int] = []
    for part in text.split(","):
        lo, _, hi = part.partition("-")
        seeds.extend(range(int(lo), int(hi or lo) + 1))
    return seeds


def quartiles(xs: list[float]) -> tuple[float, float, float]:
    """(median, Q1, Q3) of two or more values."""
    q1, med, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return med, q1, q3


def summarize(lines: list[dict], better: dict[str, str]) -> list[dict]:
    """One row per metric from result lines ``{"seed", "side", "result"}``
    (``side`` is ``"base"`` or ``"change"``); only seeds both sides ran
    count. ``better`` maps a metric to ``"lower"`` or ``"higher"``."""
    by_seed: dict[int, dict[str, dict]] = {}
    for line in lines:
        by_seed.setdefault(line["seed"], {})[line["side"]] = line["result"]
    pairs = [p for _, p in sorted(by_seed.items()) if len(p) == 2]
    (bf, ba), (cf, ca) = ([sum(p[s][k] for p in pairs) for k in ("failed", "attempted")]
                          for s in ("base", "change"))
    fails_no_more = cf * ba <= bf * ca  # change's failed share <= base's
    rows = []
    for name, direction in better.items():
        vals = [(p["base"]["metrics"][name]["value"],
                 p["change"]["metrics"][name]["value"])
                for p in pairs if name in p["base"]["metrics"]]
        if not vals:
            continue
        sign = 1 if direction == "lower" else -1
        base = quartiles([b for b, _ in vals])
        change = quartiles([c for _, c in vals])
        wins = sum(sign * (b - c) > 0 for b, c in vals)
        gap = sign * (base[0] - change[0])
        rows.append({"metric": name, "pairs": len(vals), "base": base,
                     "change": change, "wins": wins,
                     "gain": fails_no_more and wins >= 0.9 * len(vals)
                     and gap > base[2] - base[1]})
    return rows


def run_side(tree: str, workload: str, seed: int, seconds: float) -> dict:
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"]
    proc = subprocess.run(cmd, cwd=tree, capture_output=True, text=True)
    if proc.returncode != 0:
        sys.stderr.write(proc.stderr)
        raise SystemExit(f"{tree}: perfbench exited {proc.returncode}")
    return json.loads(proc.stdout.strip().splitlines()[-1])


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--ref", required=True, help="the base side's git ref")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, type=parse_seeds,
                    help="one pair per seed, e.g. 601-610; at least 10")
    args = ap.parse_args(argv)
    if len(args.seeds) < 10:
        ap.error("an A/B needs at least 10 pairs")
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    better = {m["name"]: m["better"] for m in bench["end_to_end"] + bench["per_layer"]}

    base_tree = tempfile.mkdtemp(prefix="ab_base_")
    subprocess.run(["git", "-C", ROOT, "worktree", "add", "--detach",
                    base_tree, args.ref], check=True, capture_output=True)
    lines = []
    try:
        for i, seed in enumerate(args.seeds):
            sides = [("base", base_tree), ("change", ROOT)]
            for side, tree in sides if i % 2 == 0 else sides[::-1]:
                lines.append({"seed": seed, "side": side,
                              "result": run_side(tree, args.workload, seed,
                                                 bench["run_seconds"])})
                print(json.dumps(lines[-1]), flush=True)
    finally:
        subprocess.run(["git", "-C", ROOT, "worktree", "remove", "--force",
                        base_tree], check=False)
        shutil.rmtree(base_tree, ignore_errors=True)

    for side in ("base", "change"):
        got = [ln["result"] for ln in lines if ln["side"] == side]
        print(f"{side}: failed {sum(r['failed'] for r in got)}"
              f"/{sum(r['attempted'] for r in got)} operations")
    for r in summarize(lines, better):
        (b, b1, b3), (c, c1, c3) = r["base"], r["change"]
        print(f"{r['metric']:34s} base {b:.4g} [{b1:.4g}, {b3:.4g}]  change "
              f"{c:.4g} [{c1:.4g}, {c3:.4g}]  wins {r['wins']}/{r['pairs']}"
              f"  gain {'yes' if r['gain'] else 'no'}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
