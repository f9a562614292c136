"""Seeded input generators for the benchmark.

Two datasets, both rebuilt from ``--seed`` on every run:

- ``write_particles``: a VPIC-like particle dump, one Parquet file per
  timestep, columns ``id`` (int64) and ``x y z ux uy uz ke`` (float32). It
  returns a manifest with the exact ``ke > tau`` count for every threshold
  the benchmark queries, computed in float64 the way Spark compares a float
  column with a decimal literal (both sides widened to double).
- ``write_tables``: the ten fixture tables the query registry reads
  (TPC-H-like star schema plus ``events``, ``documents`` and
  ``embeddings``), with the schemas, key domains and planted near-duplicate
  documents of the repository's ``sf0.01`` fixtures.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

PARTICLE_COLUMNS = ("x", "y", "z", "ux", "uy", "uz", "ke")


def above(ke, tau: str):
    """Mask of ``ke > tau`` as Spark evaluates it for a float column and a
    decimal literal: both widened to double. Comparing in float32 would
    round ``tau`` first and misjudge values next to it."""
    return ke.astype(np.float64) > float(tau)


@dataclass
class ParticleManifest:
    """What a scan of the particle directory must return."""

    files: int
    rows: int
    bytes_on_disk: int
    # tau (as written in the predicate) -> rows with ke > tau
    counts: dict[str, int] = field(default_factory=dict)
    # tau -> sum of ``id`` over those rows, an order-insensitive checksum
    id_sums: dict[str, int] = field(default_factory=dict)


def write_particles(
    out_dir: str,
    seed: int,
    files: int,
    rows_per_file: int,
    row_groups_per_file: int,
    taus: list[str],
) -> ParticleManifest:
    """Write ``files`` timestep files of ``rows_per_file`` particles each.

    Momenta are Maxwellian (normal per component, in units of m c), ``ke``
    is the relativistic kinetic energy ``sqrt(1 + |u|^2) - 1``. The
    temperature drifts a little between timesteps so files differ in
    selectivity, as consecutive dumps of a heating plasma do.
    """
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    manifest = ParticleManifest(files=files, rows=files * rows_per_file,
                                bytes_on_disk=0)
    counts = {t: 0 for t in taus}
    id_sums = {t: 0 for t in taus}
    group_rows = -(-rows_per_file // row_groups_per_file)
    for step in range(files):
        sigma = 0.5 * (1.0 + 0.2 * step / max(1, files - 1))
        u = rng.standard_normal((3, rows_per_file), dtype=np.float32)
        u *= np.float32(sigma)
        ke = np.sqrt(np.float32(1.0) + (u * u).sum(axis=0)) - np.float32(1.0)
        ids = np.arange(step * rows_per_file, (step + 1) * rows_per_file,
                        dtype=np.int64)
        pos = rng.random((3, rows_per_file), dtype=np.float32)
        table = pa.table({
            "id": ids,
            "x": pos[0], "y": pos[1], "z": pos[2],
            "ux": u[0], "uy": u[1], "uz": u[2],
            "ke": ke,
        })
        path = os.path.join(out_dir, f"T.{step:05d}.parquet")
        pq.write_table(table, path, row_group_size=group_rows)
        manifest.bytes_on_disk += os.path.getsize(path)
        for t in taus:
            hit = above(ke, t)
            counts[t] += int(hit.sum())
            id_sums[t] += int(ids[hit].sum())
    manifest.counts = counts
    manifest.id_sums = id_sums
    return manifest


# --- fixture tables --------------------------------------------------------

_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_ADJ = ["small", "large", "red", "blue", "hot", "old", "new", "green"]
_NOUN = ["ring", "plate", "widget", "rod", "bolt", "gear", "pipe", "valve"]
_PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_LANGS = ["en", "en", "en", "de", "es", "fr", "zh"]
_WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()

# Row counts of the sf0.01 fixtures the query registry is tested against.
TABLE_ROWS = {
    "region": 5, "nation": 25, "customer": 1500, "supplier": 100,
    "part": 2000, "orders": 15000, "lineitem": 60000, "events": 10000,
    "documents": 500, "embeddings": 500,
}


def _days(rng, n, start, end):
    lo = np.datetime64(start, "D").astype(np.int64)
    hi = np.datetime64(end, "D").astype(np.int64)
    days = rng.integers(lo, hi + 1, size=n).astype("datetime64[D]")
    return pa.array(days.astype("datetime64[us]"))


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, size=n), 2)


def _tables(rng) -> dict[str, pa.Table]:
    n = TABLE_ROWS
    i32 = lambda a: pa.array(a, pa.int32())  # noqa: E731
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({"r_regionkey": i32(range(5)), "r_name": _REGIONS})
    t["nation"] = pa.table({
        "n_nationkey": i32(range(25)),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": i32([i % 5 for i in range(25)]),
    })
    k = n["customer"]
    t["customer"] = pa.table({
        "c_custkey": np.arange(k, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(k)],
        "c_nationkey": i32(rng.integers(0, 25, k)),
        "c_acctbal": _money(rng, -999.99, 9999.99, k),
        "c_mktsegment": rng.choice(_SEGMENTS, k),
    })
    k = n["supplier"]
    t["supplier"] = pa.table({
        "s_suppkey": np.arange(k, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(k)],
        "s_nationkey": i32(rng.integers(0, 25, k)),
        "s_acctbal": _money(rng, -999.99, 9999.99, k),
    })
    k = n["part"]
    keys = np.arange(k, dtype=np.int64)
    t["part"] = pa.table({
        "p_partkey": keys,
        "p_name": [f"{a} {b}" for a, b in zip(rng.choice(_ADJ, k),
                                               rng.choice(_NOUN, k))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, k)],
        "p_type": rng.choice(_PTYPES, k),
        "p_size": i32(rng.integers(1, 51, k)),
        "p_retailprice": np.round(900.0 + (keys % 1000) * 0.1, 1),
    })
    k = n["orders"]
    t["orders"] = pa.table({
        "o_orderkey": np.arange(k, dtype=np.int64),
        "o_custkey": rng.integers(0, n["customer"], k, dtype=np.int64),
        "o_orderstatus": rng.choice(["F", "O", "P"], k),
        "o_totalprice": _money(rng, 1000.0, 500000.0, k),
        "o_orderdate": _days(rng, k, "1995-01-01", "2001-08-01"),
        "o_orderpriority": rng.choice(_PRIORITIES, k),
    })
    k = n["lineitem"]
    t["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, n["orders"], k, dtype=np.int64),
        "l_partkey": rng.integers(0, n["part"], k, dtype=np.int64),
        "l_suppkey": rng.integers(0, n["supplier"], k, dtype=np.int64),
        "l_linenumber": i32(rng.integers(1, 8, k)),
        "l_quantity": rng.integers(1, 51, k).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, k),
        "l_discount": rng.integers(0, 11, k) / 100.0,
        "l_tax": rng.integers(0, 9, k) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], k),
        "l_linestatus": rng.choice(["F", "O"], k),
        "l_shipdate": _days(rng, k, "1995-01-02", "2001-11-04"),
    })
    k = n["events"]
    start = np.datetime64("2024-01-01T00:00:00", "us").astype(np.int64)
    span_us = 30 * 86400 * 1_000_000
    ts = np.sort(rng.integers(start, start + span_us, k))
    t["events"] = pa.table({
        "event_id": np.arange(k, dtype=np.int64),
        "ts": pa.array(ts.astype("datetime64[us]")),
        "user_id": rng.integers(0, 150, k, dtype=np.int64),
        "event_type": rng.choice(_EVENT_TYPES, k),
        "value": np.maximum(0.01, np.round(rng.exponential(50.0, k), 2)),
        "props": [f'{{"k": {v}}}' for v in rng.integers(0, 100, k)],
    })
    k = n["documents"]
    texts = [" ".join(rng.choice(_WORDS, rng.integers(10, 100)))
             for _ in range(k)]
    # 5% planted near-duplicates: another document's text plus one token
    for d in rng.choice(k, k // 20, replace=False):
        texts[d] = texts[int(rng.integers(0, k))] + " dup"
    t["documents"] = pa.table({
        "doc_id": np.arange(k, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(_LANGS, k),
        "source": [f"src{i % 20}" for i in range(k)],
        "n_chars": np.array([len(s) for s in texts], dtype=np.int64),
    })
    k = n["embeddings"]
    labels = rng.integers(0, 10, k)
    centroids = rng.normal(0.0, 1.0, (10, 64))
    vecs = centroids[labels] + rng.normal(0.0, 1.5, (k, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    t["embeddings"] = pa.table({
        "vec_id": np.arange(k, dtype=np.int64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": i32(labels),
    })
    return t


def write_tables(out_dir: str, seed: int) -> dict[str, int]:
    """Write ``<table>.parquet`` per fixture table; returns rows per file."""
    os.makedirs(out_dir, exist_ok=True)
    rows = {}
    for name, table in _tables(np.random.default_rng(seed)).items():
        path = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(table, path)
        rows[path] = table.num_rows
    return rows
