#!/usr/bin/env python
"""Registry-vs-DuckDB correctness sweep into one CORRECTNESS artifact.

Every registered query (or the ``--keys`` subset) runs on one fixture
directory and is compared with its DuckDB oracle. A key passes when the
row counts, the column names (case-insensitive) and the ``repr`` of every
``tests.compare.canon_frame`` row agree.

- ``--staged``: keys with a disk-bounded staged oracle
  (``tools/oracle_staged.py``) are compared with it instead of the
  monolithic SQL.
- ``--rows-only``: compare the query's ``count()`` with the oracle's
  ``COUNT(*)`` instead of collecting both frames. This is the scale gate
  for row-proportional keys (SCALE_CLASSES.md). Such a key passes on
  ``rows_match`` alone and is marked ``mode: "rows-only"``.
- ``--hostile``: the rules for a hostile fixture twin: the six fuzz
  tables rewritten by ``hostile.make_hostile_fixtures``, the other tables
  copied (the ``hostile_dir`` fixture in tests/conftest.py builds one):
  1. ``both_error``: the key raised in Spark and its oracle, run again on
     its own, raises too: the input is rejected. A key whose Spark side
     returns rows while its oracle raises is a ``fail`` with
     ``oracle_err`` (in every mode): Spark accepts what DuckDB rejects.
  2. H-int: exactly integral floats become ints on both sides before the
     compare. DuckDB's ``fetchdf`` turns NULL-bearing integer columns into
     float64; NaN and non-integral values are unchanged.
  3. Fences: a key in ``hostile_fences.FENCES`` is not run. It is recorded
     as ``fenced`` with its class and reason, which is not a pass.

Keys run in chunks of ``CHUNK``, each chunk in a fresh process (fresh JVM
and DuckDB), which checkpoints ``OUT.partial`` before and after every key.
The parent keeps every harvested key in ``OUT.running``. If a chunk dies,
the key checkpointed as started with no result is the crash suspect, and
the keys after it "died before it ran". An oracle that needs most of the
host can run alone (``--keys K`` with a larger ``SPARK_GRAFT_DUCK_MEM``)
and be merged in with ``--parts``.

The artifact is ``{what, sf_dir, n_keys, n_pass, n_both_error, n_fenced,
n_fail, total_sec, results}``, and every result carries a ``status``.
The exit status is 1 if any key fails.

Merge (``--prior``/``--parts``/``--overrides``): ``assemble`` carries a
prior key only while its ``src_hash`` and ``mod_hash``
(``registry.src_hashes``) are unchanged. Fresh parts (later parts win) and
overrides (each with an explicit provenance) supersede it, and every entry
is stamped with the current hashes. With no ``--prior`` the merge is the
union of the parts. A rows-only part never merges.

Usage:
  python tools/sweep.py OUT.json --sf-dir DIR [--keys K ...]
      [--hostile] [--staged] [--rows-only]
  python tools/sweep.py OUT.json --sf-dir DIR --parts PART.json ...
      [--prior PRIOR.json [--prior-hashes HASHES.json]] [--overrides OV.json]

Resources: ``SPARK_GRAFT_DUCK_MEM`` caps DuckDB's memory,
``SPARK_GRAFT_DRIVER_MEM`` sets the Spark driver heap.
"""

from __future__ import annotations

import argparse
import gc
import json
import math
import multiprocessing
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from c2_duckdb_runner_spark.hostile_fences import FENCES  # noqa: E402
from tests.compare import canon_frame  # noqa: E402
from tools.oracle_staged import STAGED_ORACLES, connect, run_staged  # noqa: E402

CHUNK = 25  # keys per fresh process; what the 100x sweeps needed
STATUSES = ("pass", "both_error", "fenced", "fail")
HASH_FIELDS = ("src_hash", "mod_hash")


def _norm_cell(v):
    """H-int: an exactly integral float becomes an int."""
    if isinstance(v, float) and math.isfinite(v) and v == int(v):
        return int(v)
    return v


def _rows(pdf, hostile: bool) -> list[str]:
    rows = canon_frame(pdf)
    if hostile:
        rows = [tuple(_norm_cell(c) for c in r) for r in rows]
    return [repr(r) for r in rows]


def verdict(ent: dict) -> str:
    """pass or fail of a compared key; a rows-only key passes on
    ``rows_match`` alone."""
    ok = ent.get("rows_match")
    if ent.get("mode") != "rows-only":
        ok = ok and ent.get("schema_match") and ent.get("hash_match")
    return "pass" if ok else "fail"


def classify(
    spark, con, key, fn, oracle, sf_dir, *,
    hostile=False, staged=False, rows_only=False,
) -> dict:
    """Run one key against its oracle on ``con``; the result's ``status`` is
    one of ``STATUSES``."""
    if hostile and key in FENCES:
        cls, reason = FENCES[key]
        return {"status": "fenced", "class": cls, "reason": reason}
    ent: dict = {
        "rows_match": False,
        "schema_match": False,
        "hash_match": False,
        "spark_rows": None,
        "oracle_rows": None,
        "err": None,
    }
    try:
        if oracle is None:  # the driver's weaker gate: the query runs
            ent["spark_rows"] = fn(spark, sf_dir).count()
            ent["rows_match"] = ent["schema_match"] = ent["hash_match"] = True
        elif rows_only:
            ent.update(mode="rows-only", schema_match=None, hash_match=None)
            ent["spark_rows"] = fn(spark, sf_dir).count()
            ent["oracle_rows"] = int(
                con.execute(f"SELECT COUNT(*) FROM ({oracle})").fetchone()[0]
            )
            ent["rows_match"] = ent["spark_rows"] == ent["oracle_rows"]
        else:
            spdf = fn(spark, sf_dir).toPandas()
            ent["spark_rows"] = len(spdf)
            if staged and key in STAGED_ORACLES:
                ent["oracle"] = "staged"
                opdf = run_staged(key, sf_dir)
            else:
                opdf = con.execute(oracle).fetchdf()
            ent["oracle_rows"] = len(opdf)
            ent["rows_match"] = len(spdf) == len(opdf)
            ent["schema_match"] = sorted(
                c.lower() for c in spdf.columns
            ) == sorted(c.lower() for c in opdf.columns)
            a, b = _rows(spdf, hostile), _rows(opdf, hostile)
            ent["hash_match"] = a == b
            if not ent["hash_match"]:
                sa, sb = set(a), set(b)
                ent["spark_only"] = [r for r in a if r not in sb][:2]
                ent["oracle_only"] = [r for r in b if r not in sa][:2]
    except Exception as ex:  # noqa: BLE001
        if ent["spark_rows"] is not None and ent["oracle_rows"] is None:
            # Spark returned rows and the oracle raised: a divergence
            ent["oracle_err"] = str(ex)[:300]
            return {**ent, "status": "fail"}
        ent["err"] = str(ex)[:300]
        if hostile and oracle is not None and ent["spark_rows"] is None:
            try:
                con.execute(oracle).fetchdf()
            except Exception as oex:  # noqa: BLE001
                return {**ent, "status": "both_error", "oracle_err": str(oex)[:300]}
    return {**ent, "status": verdict(ent)}


def harvest(keys: list[str], partial: dict, exitcode: int | None) -> dict:
    """One chunk's results from its checkpoint. A key checkpointed as
    started with no result was running when the process died (the crash
    suspect); a key never started died before it ran."""
    out = {}
    for k in keys:
        v = partial.get(k)
        if v is not None and "status" in v:
            out[k] = v
            continue
        why = "WHILE running this key (crash suspect)" if v else "before this key ran"
        out[k] = {
            "status": "fail",
            "rows_match": False,
            "schema_match": False,
            "hash_match": False,
            "err": f"chunk process died (exit {exitcode}) {why}",
        }
    return out


def _dump(path: str, obj: dict) -> None:
    """Write JSON atomically: a process killed mid-write leaves the
    previous checkpoint whole."""
    with open(f"{path}.tmp", "w") as fh:
        json.dump(obj, fh, indent=1)
    os.replace(f"{path}.tmp", path)


def _run_chunk(keys: list[str], sf_dir: str, partial: str, flags: dict) -> None:
    from c2_duckdb_runner_spark import session
    import __spark_entry__ as e

    spark = session.get_spark(app_name="c2-spark-sweep")
    spark.sparkContext.setLogLevel("ERROR")
    qs, oracles = e.queries(), e.oracle_sql()
    con = connect(sf_dir)
    done: dict = {}
    for k in keys:
        _dump(partial, {**done, k: {"started": True}})
        t = time.time()
        done[k] = classify(spark, con, k, qs[k], oracles.get(k), sf_dir, **flags)
        done[k]["sec"] = round(time.time() - t, 1)
        print(f"{done[k]['status'].upper()} {k}", flush=True)
        _dump(partial, done)
        spark.catalog.clearCache()
        gc.collect()
    spark.stop()


def sweep(out: str, sf_dir: str, keys: list[str], flags: dict) -> dict:
    """Run ``keys`` in fresh-process chunks of ``CHUNK``."""
    ctx = multiprocessing.get_context("spawn")
    partial, running = out + ".partial", out + ".running"
    if os.path.exists(partial):  # left by an interrupted earlier run
        os.remove(partial)
    results: dict = {}
    for i in range(0, len(keys), CHUNK):
        chunk = keys[i : i + CHUNK]
        proc = ctx.Process(target=_run_chunk, args=(chunk, sf_dir, partial, flags))
        proc.start()
        proc.join()
        done = {}
        if os.path.exists(partial):
            done = json.load(open(partial))
            os.remove(partial)
        results.update(harvest(chunk, done, proc.exitcode))
        _dump(running, results)
        n_pass = sum(v["status"] == "pass" for v in results.values())
        print(f"chunk {i // CHUNK + 1}: {len(results)}/{len(keys)} keys, "
              f"{n_pass} pass", flush=True)
    if os.path.exists(running):
        os.remove(running)
    return results


def load_results(path: str) -> dict:
    d = json.load(open(path))
    d = d.get("results", d)
    out = {
        k: v for k, v in d.items() if isinstance(v, dict) and "hash_match" in v
    }
    rows_only = sorted(k for k, v in out.items() if v.get("mode") == "rows-only")
    if rows_only:
        raise SystemExit(
            f"{path} contains rows-only entries (weaker gate) that must "
            f"not merge into a hash-sweep artifact: {rows_only}"
        )
    return out


def assemble(
    prior: dict,
    prior_hashes: dict,
    parts: dict,
    overrides: dict,
    current_hashes: dict,
) -> tuple[dict, list[str]]:
    """Pure assembly: returns (merged results, refused-carry keys).

    Carry rule (pinned by tests/test_provenance.py): a prior key with no
    fresh part and no override is carried ONLY if both src_hash and
    mod_hash match the current registry source. Anything else is refused.
    """
    merged: dict = {}
    refused: list[str] = []
    for k, v in prior.items():
        if k in parts or k in overrides:
            continue
        cur = current_hashes.get(k)
        old = prior_hashes.get(k)
        if cur is None:
            refused.append(k)  # key no longer registered
            continue
        if old is None or any(old.get(f) != cur[f] for f in HASH_FIELDS):
            refused.append(k)
            continue
        e = dict(v)
        base = v.get("provenance", "prior sweep")
        if "(src+mod hash unchanged)" not in base:
            e["provenance"] = f"carried: {base} (src+mod hash unchanged)"
        e.update(cur)
        merged[k] = e
    for k, v in parts.items():
        e = dict(v)
        e.setdefault("provenance", "fresh run this round")
        if k in current_hashes:
            e.update(current_hashes[k])
        merged[k] = e
    for k, v in overrides.items():
        e = dict(v)
        if "provenance" not in e:
            raise SystemExit(
                f"override for {k} must carry an explicit provenance"
            )
        e["override"] = True
        if k in current_hashes:
            e.update(current_hashes[k])
        merged[k] = e
    return merged, sorted(refused)


def merge(args) -> dict:
    from c2_duckdb_runner_spark.registry import src_hashes

    prior = load_results(args.prior) if args.prior else {}
    if args.prior_hashes:
        prior_hashes = json.load(open(args.prior_hashes))
    else:
        prior_hashes = {
            k: {f: v[f] for f in HASH_FIELDS}
            for k, v in prior.items()
            if all(f in v for f in HASH_FIELDS)
        }
    parts: dict = {}
    for p in args.parts:
        parts.update(load_results(p))  # later parts override
    overrides = json.load(open(args.overrides)) if args.overrides else {}
    merged, refused = assemble(prior, prior_hashes, parts, overrides, src_hashes())
    if refused:
        raise SystemExit(
            "REFUSING to carry prior proof for keys whose source changed "
            "(re-run them into a part file, or record an explicit "
            f"override): {refused}"
        )
    for v in merged.values():
        v.setdefault("status", verdict(v))
    return dict(sorted(merged.items()))


def main() -> None:
    ap = argparse.ArgumentParser(
        description="Registry-vs-DuckDB correctness sweep (see module doc)."
    )
    ap.add_argument("out")
    ap.add_argument("--sf-dir", required=True)
    ap.add_argument("--keys", nargs="+", help="default: every registered key")
    ap.add_argument("--hostile", action="store_true")
    ap.add_argument("--staged", action="store_true")
    ap.add_argument("--rows-only", action="store_true")
    ap.add_argument("--prior")
    ap.add_argument("--prior-hashes")
    ap.add_argument("--parts", nargs="+", default=[])
    ap.add_argument("--overrides")
    args = ap.parse_args()

    t0 = time.time()
    if args.prior or args.parts or args.overrides:
        if args.keys or args.hostile or args.staged or args.rows_only:
            ap.error("--keys/--hostile/--staged/--rows-only select a run, not a merge")
        results = merge(args)
        what = (
            "Merged sweep parts with src-hash-gated provenance: carried keys "
            "are proven unchanged (operator body + oracle SQL + defining "
            "module) since the run that proved them."
        )
    else:
        import __spark_entry__ as e

        registered = list(e.queries())
        keys = args.keys or registered
        unknown = sorted(set(keys) - set(registered))
        if unknown:
            raise SystemExit(f"unregistered keys: {unknown}")
        flags = {
            "hostile": args.hostile,
            "staged": args.staged,
            "rows_only": args.rows_only,
        }
        results = sweep(args.out, args.sf_dir, keys, flags)
        modes = [m for m, on in flags.items() if on]
        what = (
            f"Registry-vs-DuckDB differential on {args.sf_dir}"
            + (f" ({', '.join(modes)})" if modes else "")
            + f"; {CHUNK}-key fresh-process chunks (tools/sweep.py)."
        )

    counts = dict.fromkeys(STATUSES, 0)
    for v in results.values():
        counts[v["status"]] += 1
    _dump(args.out, {
        "what": what,
        "sf_dir": args.sf_dir,
        "n_keys": len(results),
        **{f"n_{s}": n for s, n in counts.items()},
        "total_sec": round(time.time() - t0, 1),
        "results": results,
    })
    print(f"wrote {args.out}: {counts} of {len(results)} "
          f"in {round(time.time() - t0, 1)}s", flush=True)
    sys.exit(1 if counts["fail"] else 0)


if __name__ == "__main__":
    main()
