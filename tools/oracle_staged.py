#!/usr/bin/env python
"""Disk-bounded STAGED DuckDB oracles for the graph keys whose monolithic
oracles exceed one box at the 100x replica (round-7 verdict ask #1, plus
two more keys the round-8 sweep caught: rich_club and the backbone LCC).

These keys' monolithic oracles hold the whole 6e8-row edge build plus
every round's intermediate in DuckDB temp space at once and spill past
the box's free disk (CORRECTNESS_sf10_r07.json, IO errors preserved). The
operators themselves are fine at 100x — the Spark side is round-staged by
construction — so this tool re-expresses each ORACLE as the same algebra
executed as a SEQUENCE of bounded DuckDB queries with parquet
intermediates on disk:

- the shared edge build (``SELECT DISTINCT o_custkey, l_suppkey FROM
  orders JOIN lineitem``, NULL endpoints dropped as in
  ``graph.cust_supp_pairs``) is materialized ONCE as ``cs.parquet`` and
  read back by every stage, instead of being re-derived inside each
  round's CTE closure;
- each fixpoint round (BFS relax, PPR contribution+rank, HITS half-round)
  is ONE DuckDB query over {edges parquet, previous-round parquet} whose
  working set is a single hash join + hash aggregate — bounded by the
  round, not the unroll depth;
- the jaccard wedge expansion is SLICED by ``s1 % K``: the (s1, s2) pair
  domain is partitioned exactly, each slice runs the identical
  inter/sdeg/ppm algebra with its own bounded aggregate state and keeps
  its own top-20, and the global top-20 equals the top-20 of the union of
  the per-slice top-20s (the pair space is disjoint across slices; the
  ORDER BY tiebreak (jaccard_ppm DESC, s1, s2) is total).

Every staged decomposition is pure algebra over the SAME integer
arithmetic as the monolithic oracle — ``--check`` proves it by running
both forms at a small scale factor and asserting canon-row equality, and
the test suite pins that proof (tests/test_invariants_r8.py).

Each stage runs in a FRESH duckdb connection with a memory cap and a
spill directory, so a stage can at worst spill its own round — never the
chain. Intermediates live under a scratch dir and are removed on success.

Usage:
  python tools/oracle_staged.py --check [sf_dir]      # staged == monolithic
  (as a library) STAGED_ORACLES[key](sf_dir, workdir) -> pandas.DataFrame
"""

from __future__ import annotations

import glob
import os
import shutil
import sys
import tempfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

import duckdb  # noqa: E402

_OFFSET = 10_000_000  # graph.py:29 — supplier-node key offset

TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()

# one bounded stage = one fresh connection; never let a single query own
# more than this (the Spark JVM shares the host during sweeps)
_DUCK_MEM = os.environ.get("SPARK_GRAFT_DUCK_MEM", "40GB")
# per-process spill subdir: see sweep_sf1.py — shared temp dirs
# corrupt concurrent lanes via colliding temp-file names
_SPILL = f"/tmp/duck_spill/{os.getpid()}"


def _connect(sf_dir: str, work: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    os.makedirs(_SPILL, exist_ok=True)
    con.execute(f"SET memory_limit='{_DUCK_MEM}'")
    con.execute(f"SET temp_directory='{_SPILL}'")
    con.execute("SET threads=16")
    for t in TABLES:
        p = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.isdir(p):
            files = sorted(glob.glob(os.path.join(p, "*.parquet")))
            if files:
                con.execute(
                    f"CREATE VIEW {t} AS SELECT * FROM read_parquet({files!r})"
                )
        elif os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    # staged intermediates become views named after their file stem; a
    # stem colliding with a base table would silently SHADOW it and
    # corrupt every downstream staged query — fail loudly instead
    for p in sorted(glob.glob(os.path.join(work, "*.parquet"))):
        name = os.path.splitext(os.path.basename(p))[0]
        if name in TABLES:
            raise ValueError(
                f"staged intermediate {p!r} would shadow base table "
                f"{name!r}; rename the stage (e.g. stg_{name})"
            )
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{p}')")
    return con


def _stage(sf_dir: str, work: str, name: str, sql: str) -> None:
    """Run one bounded query and persist its result as <work>/<name>.parquet."""
    con = _connect(sf_dir, work)
    try:
        con.execute(f"COPY ({sql}) TO '{work}/{name}.parquet' (FORMAT PARQUET)")
    finally:
        con.close()


def _fetch(sf_dir: str, work: str, sql: str):
    con = _connect(sf_dir, work)
    try:
        return con.execute(sql).fetchdf()
    finally:
        con.close()


def _stage_cs(sf_dir: str, work: str) -> None:
    """Shared stage: the distinct (customer, supplier) trade edge list —
    the one relation every monolithic oracle re-derives inside its CTE
    closure (the 100x spill source). Materialized once per workdir."""
    if not os.path.exists(f"{work}/cs.parquet"):
        _stage(
            sf_dir,
            work,
            "cs",
            "SELECT DISTINCT o_custkey AS c, l_suppkey AS s "
            "FROM orders JOIN lineitem ON o_orderkey = l_orderkey "
            "WHERE o_custkey IS NOT NULL AND l_suppkey IS NOT NULL",
        )


# symmetrized node-graph edges over the staged cs (≡ graph.py _EDGES_SQL:
# the two UNION branches live in disjoint key domains and cs is already
# distinct, so UNION ALL over the mirror equals the original UNION)
_EDGES_OVER_CS = f"""
  SELECT c AS src, {_OFFSET} + s AS dst FROM cs
  UNION ALL
  SELECT {_OFFSET} + s AS src, c AS dst FROM cs
"""


# ---------------------------------------------------------------------------
# graph_bfs_multisource (graph.py:449 _bfs_oracle, 4 rounds)
# ---------------------------------------------------------------------------


def staged_bfs(sf_dir: str, work: str):
    _stage_bfs_rounds(sf_dir, work)
    return _fetch(
        sf_dir,
        work,
        "SELECT CAST(node AS BIGINT) AS node, CAST(dist AS INT) AS dist "
        "FROM bfs_d4",
    )


# ---------------------------------------------------------------------------
# graph_ppr_seed_teleport (round5b_ext.py:44 _ppr_oracle, 3 rounds)
# ---------------------------------------------------------------------------

_PPR_SEED_SQL = f"(id % 50 = 0 AND id < {_OFFSET})"


def staged_ppr(sf_dir: str, work: str):
    _stage_cs(sf_dir, work)
    _stage(
        sf_dir,
        work,
        "ppr_nodes",
        f"SELECT DISTINCT src AS id FROM ({_EDGES_OVER_CS}) "
        f"UNION SELECT DISTINCT dst FROM ({_EDGES_OVER_CS})",
    )
    _stage(
        sf_dir,
        work,
        "ppr_deg",
        f"SELECT src, COUNT(*) AS outdeg FROM ({_EDGES_OVER_CS}) GROUP BY src",
    )
    _stage(
        sf_dir,
        work,
        "ppr_r0",
        f"SELECT id, CAST(CASE WHEN {_PPR_SEED_SQL} THEN 1000000 ELSE 0 END "
        "AS BIGINT) AS r FROM ppr_nodes",
    )
    for i in range(1, 4):
        # monolithic c{i}.s is HUGEINT (SUM over BIGINT); parquet stores
        # HUGEINT as lossy double, so the staged form pins BIGINT — exact
        # and equal to the HUGEINT value because per-node contribution
        # mass is bounded by total rank mass <= #nodes * 1e6 (~1.6e12 at
        # 100x), 6 orders of magnitude under int64
        _stage(
            sf_dir,
            work,
            f"ppr_c{i}",
            f"SELECT e.dst AS id, CAST(SUM(r.r // d.outdeg) AS BIGINT) AS s "
            f"FROM ({_EDGES_OVER_CS}) e "
            f"JOIN ppr_r{i - 1} r ON r.id = e.src "
            "JOIN ppr_deg d ON d.src = e.src GROUP BY e.dst",
        )
        _stage(
            sf_dir,
            work,
            f"ppr_r{i}",
            f"SELECT n.id, CAST(CASE WHEN n.id % 50 = 0 AND n.id < {_OFFSET} "
            f"THEN 150000 ELSE 0 END + (850 * COALESCE(c.s, 0)) // 1000 "
            f"AS BIGINT) AS r FROM ppr_nodes n "
            f"LEFT JOIN ppr_c{i} c ON c.id = n.id",
        )
    return _fetch(
        sf_dir,
        work,
        f"""SELECT id AS node, r AS rank_micros,
       CAST(CASE WHEN {_PPR_SEED_SQL} THEN 1 ELSE 0 END AS INT) AS is_seed
FROM ppr_r3
ORDER BY rank_micros DESC, node ASC LIMIT 15""",
    )


# ---------------------------------------------------------------------------
# graph_hits_rounds (round5_ext.py:526 _hits_oracle, 2 rounds)
# ---------------------------------------------------------------------------


def staged_hits(sf_dir: str, work: str):
    _stage_cs(sf_dir, work)
    _stage(
        sf_dir,
        work,
        "hits_h0",
        "SELECT DISTINCT c, CAST(1000000 AS BIGINT) AS h FROM cs",
    )
    for i in range(1, 3):
        _stage(
            sf_dir,
            work,
            f"hits_a{i}raw",
            f"SELECT e.s, CAST(SUM(h.h) AS BIGINT) AS a "
            f"FROM cs e JOIN hits_h{i - 1} h ON h.c = e.c GROUP BY e.s",
        )
        _stage(
            sf_dir,
            work,
            f"hits_a{i}",
            f"SELECT s, CAST((a * 1000000) // "
            f"(SELECT MAX(a) FROM hits_a{i}raw) AS BIGINT) AS a "
            f"FROM hits_a{i}raw",
        )
        _stage(
            sf_dir,
            work,
            f"hits_h{i}raw",
            f"SELECT e.c, CAST(SUM(a.a) AS BIGINT) AS h "
            f"FROM cs e JOIN hits_a{i} a ON a.s = e.s GROUP BY e.c",
        )
        _stage(
            sf_dir,
            work,
            f"hits_h{i}",
            f"SELECT c, CAST((h * 1000000) // "
            f"(SELECT MAX(h) FROM hits_h{i}raw) AS BIGINT) AS h "
            f"FROM hits_h{i}raw",
        )
    return _fetch(
        sf_dir,
        work,
        """SELECT hits_a2.s AS supplier,
       CAST(deg.indeg AS BIGINT) AS indeg,
       hits_a2.a AS auth_micro
FROM hits_a2
JOIN (SELECT s, COUNT(*) AS indeg FROM cs GROUP BY s) deg
  ON deg.s = hits_a2.s
ORDER BY auth_micro DESC, supplier ASC LIMIT 10""",
    )


# ---------------------------------------------------------------------------
# graph_jaccard_neighbor_sim (retrieval_ext.py:234, sliced wedge expansion)
# ---------------------------------------------------------------------------

_JAC_DEG_CAP = 64  # retrieval_ext.py:221 — oracle applies it identically
_JAC_TOP = 20
_JAC_SLICES = 32


def staged_jaccard(sf_dir: str, work: str):
    _stage_cs(sf_dir, work)
    _stage(
        sf_dir,
        work,
        "jac_kept",
        f"""SELECT cs.c, cs.s FROM cs
JOIN (SELECT c, COUNT(*) AS cd FROM cs GROUP BY c) cdeg ON cdeg.c = cs.c
WHERE cd <= {_JAC_DEG_CAP}""",
    )
    _stage(
        sf_dir, work, "jac_sdeg",
        "SELECT s, COUNT(*) AS d FROM jac_kept GROUP BY s",
    )
    # exact partition of the (s1, s2) output domain by s1 % K: each slice
    # owns a disjoint pair subset, so its bounded top-20 is a superset of
    # the global top-20's members with s1 in the slice — union + re-sort
    # is exact
    for i in range(_JAC_SLICES):
        _stage(
            sf_dir,
            work,
            f"jac_slice{i}",
            f"""WITH inter AS (
  SELECT a.s AS s1, b.s AS s2, COUNT(*) AS n_shared
  FROM jac_kept a JOIN jac_kept b ON a.c = b.c AND a.s < b.s
  WHERE a.s % {_JAC_SLICES} = {i}
  GROUP BY a.s, b.s
)
SELECT CAST(s1 AS BIGINT) AS s1, CAST(s2 AS BIGINT) AS s2,
       CAST(n_shared AS BIGINT) AS n_shared,
       CAST(d1.d + d2.d - n_shared AS BIGINT) AS n_union,
       CAST(n_shared * 1000000 // (d1.d + d2.d - n_shared) AS BIGINT)
         AS jaccard_ppm
FROM inter JOIN jac_sdeg d1 ON d1.s = inter.s1
           JOIN jac_sdeg d2 ON d2.s = inter.s2
ORDER BY jaccard_ppm DESC, s1 ASC, s2 ASC
LIMIT {_JAC_TOP}""",
        )
    union = " UNION ALL ".join(
        f"SELECT * FROM jac_slice{i}" for i in range(_JAC_SLICES)
    )
    return _fetch(
        sf_dir,
        work,
        f"SELECT * FROM ({union}) "
        f"ORDER BY jaccard_ppm DESC, s1 ASC, s2 ASC LIMIT {_JAC_TOP}",
    )


# ---------------------------------------------------------------------------
# graph_rich_club (paired_metrics_ext.py:119 — the monolithic oracle holds
# pairs + symmetrized edges + the degree-annotated edge relation in temp at
# once and spilled past free disk at 100x in the round-8 sweep)
# ---------------------------------------------------------------------------

_RC_KS = (2, 4, 8, 16)


def staged_rich_club(sf_dir: str, work: str):
    _stage_cs(sf_dir, work)
    _stage(
        sf_dir,
        work,
        "rc_deg",
        f"SELECT src AS v, CAST(COUNT(*) AS BIGINT) AS d "
        f"FROM ({_EDGES_OVER_CS}) GROUP BY 1",
    )
    # all four thresholds as conditional sums in ONE pass over the edge
    # list joined to the staged degree relation — the row-level annotated
    # edge relation never materializes
    m_exprs = ", ".join(
        f"CAST(SUM(CASE WHEN ds.d > {k} AND dd.d > {k} THEN 1 ELSE 0 END)"
        f" AS BIGINT) AS m{k}"
        for k in _RC_KS
    )
    _stage(
        sf_dir,
        work,
        "rc_m",
        f"SELECT {m_exprs} FROM cs p "
        "JOIN rc_deg ds ON ds.v = p.c "
        f"JOIN rc_deg dd ON dd.v = {_OFFSET} + p.s",
    )
    n_exprs = ", ".join(
        f"CAST(SUM(CASE WHEN d > {k} THEN 1 ELSE 0 END) AS BIGINT) AS n{k}"
        for k in _RC_KS
    )
    _stage(sf_dir, work, "rc_n", f"SELECT {n_exprs} FROM rc_deg")
    rows = " UNION ALL ".join(
        f"SELECT CAST({k} AS INT) AS k, n{k} AS n_k, m{k} AS m_k "
        "FROM rc_m, rc_n"
        for k in _RC_KS
    )
    return _fetch(
        sf_dir,
        work,
        f"""SELECT k, n_k, m_k,
  CAST(CASE WHEN n_k >= 2 THEN (10000*2*m_k) // (n_k*(n_k-1)) ELSE 0 END
       AS BIGINT) AS phi_bp
FROM ({rows})""",
    )


# ---------------------------------------------------------------------------
# graph_local_clustering_topk (round8_ext.py — the monolithic oracle's
# full-width lineitem self-join + 45M-group support aggregate spills past
# free disk at 100x; staged: prune columns first, then aggregate, then the
# constant-size backbone does everything else)
# ---------------------------------------------------------------------------

_LCC_BACKBONE = 5000
_LCC_TOP = 20


def staged_lcc(sf_dir: str, work: str):
    _stage(
        sf_dir, work, "lcc_li",
        "SELECT l_orderkey, l_suppkey FROM lineitem",
    )
    _stage(
        sf_dir,
        work,
        "lcc_w",
        "SELECT a.l_suppkey AS s1, b.l_suppkey AS s2, "
        "CAST(COUNT(*) AS BIGINT) AS w "
        "FROM lcc_li a JOIN lcc_li b "
        "ON a.l_orderkey = b.l_orderkey AND a.l_suppkey < b.l_suppkey "
        "GROUP BY 1, 2",
    )
    _stage(
        sf_dir,
        work,
        "lcc_e",
        f"SELECT s1, s2 FROM lcc_w "
        f"ORDER BY w DESC, s1 ASC, s2 ASC LIMIT {_LCC_BACKBONE}",
    )
    return _fetch(
        sf_dir,
        work,
        f"""WITH deg AS (
  SELECT v, CAST(COUNT(*) AS BIGINT) AS d
  FROM (SELECT s1 AS v FROM lcc_e UNION ALL SELECT s2 FROM lcc_e) GROUP BY v
),
tri AS (
  SELECT e1.s1 AS x, e1.s2 AS y, e2.s2 AS z
  FROM lcc_e e1 JOIN lcc_e e2 ON e2.s1 = e1.s2
  JOIN lcc_e e3 ON e3.s1 = e1.s1 AND e3.s2 = e2.s2
),
tn AS (
  SELECT v, CAST(COUNT(*) AS BIGINT) AS t
  FROM (SELECT x AS v FROM tri UNION ALL SELECT y FROM tri
        UNION ALL SELECT z FROM tri) GROUP BY v
)
SELECT CAST(deg.v AS BIGINT) AS node, deg.d AS degree,
       CAST(COALESCE(tn.t, 0) AS BIGINT) AS n_tri,
       CAST(2 * COALESCE(tn.t, 0) * 1000000 // (deg.d * (deg.d - 1))
            AS BIGINT) AS lcc_ppm
FROM deg LEFT JOIN tn ON tn.v = deg.v
WHERE deg.d >= 2
ORDER BY lcc_ppm DESC, node ASC LIMIT {_LCC_TOP}""",
    )


def staged_scan_dir_enumerate(sf_dir: str, work: str):
    """LAYOUT-AWARE twin of scan_dir_enumerate's registry oracle.

    The registry oracle hardcodes the driver fixtures' one-file-per-table
    layout (``'lineitem.parquet' AS file_name``) because the driver's
    pre-registered views flatten any layout — a view cannot expose
    filenames. The scaled replicas are Spark-written DATASET DIRECTORIES
    (8 part files at 100x), where the per-file enumeration the key exists
    to test (main.cc:297-324) legitimately returns one row per part file.
    This staged form asks DuckDB for the same per-file counts via
    read_parquet(filename=true); on a single-file layout it returns
    exactly the registry oracle's row, pinned by
    tests/test_invariants_r8.py's staged==monolithic parametrization.
    """
    p = os.path.join(sf_dir, "lineitem.parquet")
    src = os.path.join(p, "*.parquet") if os.path.isdir(p) else p
    con = _connect(sf_dir, work)
    try:
        return con.execute(
            f"SELECT parse_filename(filename) AS file_name, "
            f"COUNT(*) AS n FROM read_parquet('{src}', filename=true) "
            f"GROUP BY 1"
        ).fetchdf()
    finally:
        con.close()


def staged_skyline(sf_dir: str, work: str):
    """O(n log n) window-sweep twin of query_skyline_pareto's oracle.

    The registry oracle is the NOT EXISTS all-pairs SPEC — the right
    declaration of skyline, and fine at driver scale, but quadratic: at
    the 100x replica (200k parts) DuckDB's mark-join ran a single core
    for 20+ minutes. This staged form is the same dominance algebra the
    Spark side uses (skyline_linkage_ext.py:93-97): a row survives iff
    its size strictly exceeds the max size over STRICTLY cheaper rows
    AND equals the max size among its equal-price peers. Equivalence to
    the spec is pinned by the staged==monolithic parametrized test.
    """
    return _fetch(
        sf_dir,
        work,
        """WITH p AS (
  SELECT p_partkey, CAST(round(p_retailprice * 100) AS BIGINT) AS price_cents,
         CAST(p_size AS INT) AS p_size
  FROM part
), w AS (
  SELECT p_partkey, price_cents, p_size,
         MAX(p_size) OVER (ORDER BY price_cents
                           RANGE BETWEEN UNBOUNDED PRECEDING
                           AND 1 PRECEDING) AS m_strict,
         MAX(p_size) OVER (PARTITION BY price_cents) AS m_eq
  FROM p
)
SELECT p_partkey, price_cents, p_size FROM w
WHERE (m_strict IS NULL OR p_size > m_strict) AND p_size = m_eq""",
    )


def staged_scan_file_metadata(sf_dir: str, work: str):
    """Layout-aware twin of scan_file_metadata_cols (same class as
    scan_dir_enumerate: the registry oracle hardcodes the single-file
    fixture layout; dataset directories legitimately yield one row per
    part file)."""
    p = os.path.join(sf_dir, "documents.parquet")
    src = os.path.join(p, "*.parquet") if os.path.isdir(p) else p
    con = _connect(sf_dir, work)
    try:
        return con.execute(
            f"SELECT parse_filename(filename) AS fname, "
            f"CAST(COUNT(*) AS BIGINT) AS n, "
            f"CAST(SUM(n_chars) AS BIGINT) AS total_chars "
            f"FROM read_parquet('{src}', filename=true) GROUP BY 1"
        ).fetchdf()
    finally:
        con.close()


# ===========================================================================
# Round-10 staged oracles — the 14 keys CORRECTNESS_sf10_r09.json deferred
# (oracle_deferred: monolithic form exceeds one box / CI budget at 100x).
# Every decomposition below is the SAME algebra as the registry oracle,
# proven by --check / tests/test_invariants_r8.py's staged==monolithic
# parametrization at small SF.
# ===========================================================================


def _stage_bfs_rounds(sf_dir: str, work: str) -> None:
    """Shared BFS relax rounds (graph_bfs_multisource AND
    graph_harmonic_closeness_seeds use the identical 4-round frontier:
    same symmetrized edges, same c_custkey % 100 = 0 seeds)."""
    _stage_cs(sf_dir, work)
    if os.path.exists(f"{work}/bfs_d4.parquet"):
        return
    _stage(
        sf_dir,
        work,
        "bfs_d0",
        "SELECT c_custkey AS node, 0 AS dist FROM customer "
        "WHERE c_custkey % 100 = 0",
    )
    for k in range(1, 5):
        _stage(
            sf_dir,
            work,
            f"bfs_d{k}",
            f"""SELECT node, MIN(dist) AS dist FROM (
  SELECT node, dist FROM bfs_d{k - 1}
  UNION ALL
  SELECT e.dst AS node, d.dist + 1 AS dist
  FROM ({_EDGES_OVER_CS}) e JOIN bfs_d{k - 1} d ON e.src = d.node
) GROUP BY node""",
        )


def staged_harmonic(sf_dir: str, work: str):
    """graph_harmonic_closeness_seeds: the monolithic oracle re-derives the
    4-round BFS closure inside one query and spills past free disk at 100x;
    staged = the shared per-round BFS stages + a bounded histogram."""
    _stage_bfs_rounds(sf_dir, work)
    return _fetch(
        sf_dir,
        work,
        """SELECT dist, CAST(COUNT(*) AS BIGINT) AS n_nodes,
       CAST(COUNT(*) * (1000000 // dist) AS BIGINT) AS harmonic_micro
FROM (SELECT CAST(node AS BIGINT) AS node, CAST(dist AS INT) AS dist
      FROM bfs_d4)
WHERE dist > 0
GROUP BY dist""",
    )


# ---------------------------------------------------------------------------
# graph_pagerank_iterations — 3 fixed rounds over the symmetrized graph;
# monolithic unrolled-CTE form holds every round in temp at once
# ---------------------------------------------------------------------------


def staged_pagerank_iterations(sf_dir: str, work: str):
    _stage_cs(sf_dir, work)
    _stage(
        sf_dir,
        work,
        "pri_nodes",
        f"SELECT DISTINCT src AS id FROM ({_EDGES_OVER_CS}) "
        f"UNION SELECT DISTINCT dst FROM ({_EDGES_OVER_CS})",
    )
    _stage(
        sf_dir,
        work,
        "pri_deg",
        f"SELECT src, COUNT(*) AS outdeg FROM ({_EDGES_OVER_CS}) GROUP BY src",
    )
    _stage(
        sf_dir, work, "pri_r0",
        "SELECT id, CAST(1000000 AS BIGINT) AS r FROM pri_nodes",
    )
    for i in range(1, 4):
        # SUM over BIGINT is HUGEINT in DuckDB (lossy through parquet);
        # per-node contribution mass <= total rank mass <= #nodes * 1e6
        # (~1.6e12 at 100x), so the BIGINT cast is exact
        _stage(
            sf_dir,
            work,
            f"pri_r{i}",
            f"""SELECT n.id, CAST(150000 + (850 * COALESCE(c.s, 0)) // 1000
       AS BIGINT) AS r
FROM pri_nodes n
LEFT JOIN (
  SELECT e.dst AS id, CAST(SUM(r.r // d.outdeg) AS BIGINT) AS s
  FROM ({_EDGES_OVER_CS}) e
  JOIN pri_r{i - 1} r ON r.id = e.src
  JOIN pri_deg d ON d.src = e.src
  GROUP BY e.dst
) c ON c.id = n.id""",
        )
    return _fetch(sf_dir, work, "SELECT id, r AS rank_micros FROM pri_r3")


# ---------------------------------------------------------------------------
# graph_pagerank_converged — 14 rounds over the DIRECTED c->s graph with
# dangling-mass redistribution and per-round convergence freezing
# ---------------------------------------------------------------------------


def staged_pagerank_converged(sf_dir: str, work: str):
    _stage_cs(sf_dir, work)
    _stage(
        sf_dir, work, "prc_edges",
        f"SELECT c AS src, {_OFFSET} + s AS dst FROM cs",
    )
    _stage(
        sf_dir,
        work,
        "prc_nodes",
        "SELECT DISTINCT src AS id FROM prc_edges "
        "UNION SELECT DISTINCT dst FROM prc_edges",
    )
    _stage(
        sf_dir, work, "prc_deg",
        "SELECT src, COUNT(*) AS outdeg FROM prc_edges GROUP BY src",
    )
    _stage(
        sf_dir, work, "prc_r0",
        "SELECT id, CAST(1000000 AS BIGINT) AS r FROM prc_nodes",
    )
    for i in range(1, 15):
        _stage(
            sf_dir,
            work,
            f"prc_s{i}",
            f"""SELECT n.id,
       CAST(150000 + (850 * (COALESCE(c.s, 0) + dang.dm // nn.n)) // 1000
            AS BIGINT) AS r
FROM prc_nodes n
LEFT JOIN (
  SELECT e.dst AS id, CAST(SUM(r.r // d.outdeg) AS BIGINT) AS s
  FROM prc_edges e
  JOIN prc_r{i - 1} r ON r.id = e.src
  JOIN prc_deg d ON d.src = e.src
  GROUP BY e.dst
) c ON c.id = n.id,
(SELECT COALESCE(SUM(p.r), 0) AS dm
 FROM prc_r{i - 1} p LEFT JOIN prc_deg deg ON deg.src = p.id
 WHERE deg.src IS NULL) dang,
(SELECT COUNT(*) AS n FROM prc_nodes) nn""",
        )
        _stage(
            sf_dir,
            work,
            f"prc_d{i}",
            f"SELECT MAX(ABS(s.r - p.r)) AS d "
            f"FROM prc_s{i} s JOIN prc_r{i - 1} p ON s.id = p.id",
        )
        _stage(
            sf_dir,
            work,
            f"prc_r{i}",
            f"SELECT s.id, CASE WHEN dd.d < 2000000 THEN p.r ELSE s.r END AS r "
            f"FROM prc_s{i} s JOIN prc_r{i - 1} p ON p.id = s.id, prc_d{i} dd",
        )
    n_iters = " + ".join(
        f"(CASE WHEN prc_d{i}.d >= 2000000 THEN 1 ELSE 0 END)"
        for i in range(1, 15)
    )
    froms = ", ".join(f"prc_d{i}" for i in range(1, 15))
    return _fetch(
        sf_dir,
        work,
        f"SELECT r.id AS id, r.r AS rank_micros, "
        f"CAST({n_iters} AS INT) AS n_iters FROM prc_r14 r, {froms}",
    )


# ---------------------------------------------------------------------------
# graph_kcore_peel — 4 peel rounds on the %13-sampled symmetrized graph
# ---------------------------------------------------------------------------


def staged_kcore(sf_dir: str, work: str):
    _stage(
        sf_dir,
        work,
        "kc_cs",
        "SELECT DISTINCT o_custkey AS c, l_suppkey AS s "
        "FROM orders JOIN lineitem ON o_orderkey = l_orderkey "
        "WHERE o_orderkey % 13 = 0 "
        "AND o_custkey IS NOT NULL AND l_suppkey IS NOT NULL",
    )
    _stage(
        sf_dir,
        work,
        "kc_e0",
        f"SELECT c AS src, {_OFFSET} + s AS dst FROM kc_cs "
        f"UNION ALL SELECT {_OFFSET} + s AS src, c AS dst FROM kc_cs",
    )
    for i in range(1, 5):
        _stage(
            sf_dir,
            work,
            f"kc_k{i}",
            f"SELECT src FROM (SELECT src, COUNT(*) AS c FROM kc_e{i - 1} "
            f"GROUP BY src) WHERE c >= 4",
        )
        _stage(
            sf_dir,
            work,
            f"kc_e{i}",
            f"SELECT e.src, e.dst FROM kc_e{i - 1} e "
            f"JOIN kc_k{i} a ON e.src = a.src "
            f"JOIN kc_k{i} b ON e.dst = b.src",
        )
    return _fetch(
        sf_dir,
        work,
        "SELECT src AS node, CAST(COUNT(*) AS BIGINT) AS deg "
        "FROM kc_e4 GROUP BY src",
    )


# ---------------------------------------------------------------------------
# graph_label_propagation_sync — 3 synchronous rounds; the per-round
# ROW_NUMBER(c DESC, label) rn=1 pick is re-expressed as a struct-MIN
# argmax ({-c, label}: max count, ties to smallest label — identical order)
# ---------------------------------------------------------------------------


def staged_lpa(sf_dir: str, work: str):
    _stage_cs(sf_dir, work)
    _stage(
        sf_dir,
        work,
        "lpa_l0",
        f"SELECT DISTINCT src AS id, src AS label FROM ({_EDGES_OVER_CS})",
    )
    for i in range(1, 4):
        # two plain aggregates instead of an argmax struct-MIN: DuckDB's
        # struct aggregate blows past memory_limit at >1M groups (measured
        # r10, see staged_mode). max count per id, then min label at that
        # count — identical to ROW_NUMBER(c DESC, label ASC) rn=1.
        _stage(
            sf_dir,
            work,
            f"lpa_cnt{i}",
            f"""SELECT e.src AS id, l.label AS label, COUNT(*) AS c
FROM ({_EDGES_OVER_CS}) e JOIN lpa_l{i - 1} l ON l.id = e.dst
GROUP BY 1, 2""",
        )
        _stage(
            sf_dir,
            work,
            f"lpa_l{i}",
            f"""SELECT t.id, MIN(t.label) AS label
FROM lpa_cnt{i} t
JOIN (SELECT id, MAX(c) AS mc FROM lpa_cnt{i} GROUP BY id) m
  ON m.id = t.id AND t.c = m.mc
GROUP BY t.id""",
        )
    return _fetch(
        sf_dir,
        work,
        "SELECT label AS community, CAST(COUNT(*) AS BIGINT) AS n_nodes "
        "FROM lpa_l3 GROUP BY label HAVING COUNT(*) > 1",
    )


# ---------------------------------------------------------------------------
# graph_wl_refinement — 2 Weisfeiler-Leman color-refinement rounds
# ---------------------------------------------------------------------------


_WL_SLICES = 8


def staged_wl(sf_dir: str, work: str):
    _stage_cs(sf_dir, work)
    _stage(
        sf_dir,
        work,
        "wl_c0",
        f"SELECT src AS v, CAST(COUNT(*) AS VARCHAR) AS col "
        f"FROM ({_EDGES_OVER_CS}) GROUP BY 1",
    )
    for i in (1, 2):
        # the ordered string_agg holds every group's sorted neighbor-color
        # list in memory and CANNOT spill — at 100x (120M edge rows, 1.6M
        # groups) it exhausts any per-process budget (measured: bad_alloc
        # at 40GB). src % K partitions the GROUPS exactly, so per-slice
        # aggregation is the same algebra at 1/K the state.
        for j in range(_WL_SLICES):
            _stage(
                sf_dir,
                work,
                f"wl_c{i}s{j}",
                f"""SELECT e.src AS v,
       substring(md5(cv.col || '|' ||
                     string_agg(cn.col, ',' ORDER BY cn.col)), 1, 8) AS col
FROM ({_EDGES_OVER_CS}) e
JOIN wl_c{i - 1} cv ON cv.v = e.src
JOIN wl_c{i - 1} cn ON cn.v = e.dst
WHERE e.src % {_WL_SLICES} = {j}
GROUP BY e.src, cv.col""",
            )
        _stage(
            sf_dir,
            work,
            f"wl_c{i}",
            " UNION ALL ".join(
                f"SELECT v, col FROM wl_c{i}s{j}"
                for j in range(_WL_SLICES)
            ),
        )
    return _fetch(
        sf_dir,
        work,
        """SELECT * FROM (
  SELECT CAST(0 AS INT) AS round,
         CAST(COUNT(DISTINCT col) AS BIGINT) AS n_colors,
         CAST(COUNT(*) AS BIGINT) AS n_nodes FROM wl_c0
  UNION ALL
  SELECT 1, CAST(COUNT(DISTINCT col) AS BIGINT), CAST(COUNT(*) AS BIGINT)
  FROM wl_c1
  UNION ALL
  SELECT 2, CAST(COUNT(DISTINCT col) AS BIGINT), CAST(COUNT(*) AS BIGINT)
  FROM wl_c2
)""",
    )


# ---------------------------------------------------------------------------
# graph_random_walks_hash — 4 uniform hash-seeded steps; per-step the
# neighbor ranking window is computed only over the frontier's partitions
# (ROW_NUMBER per src is unaffected by dropping other partitions — exact)
# ---------------------------------------------------------------------------


def _rw_step(prev: str, salt: str) -> str:
    return f"""SELECT s.walk_id, r.dst AS cur,
       s.path || '>' || CAST(r.dst AS VARCHAR) AS path
FROM {prev} s JOIN (
  SELECT src, dst,
         ROW_NUMBER() OVER (PARTITION BY src ORDER BY dst) - 1 AS idx,
         COUNT(*) OVER (PARTITION BY src) AS outdeg
  FROM ({_EDGES_OVER_CS})
  WHERE src IN (SELECT cur FROM {prev})
) r ON s.cur = r.src
   AND r.idx = CAST(('0x' || substring(md5(CAST(s.walk_id AS VARCHAR)
       || '{salt}' || CAST(s.cur AS VARCHAR)), 1, 15)) AS BIGINT) % r.outdeg"""


def staged_random_walks(sf_dir: str, work: str):
    _stage_cs(sf_dir, work)
    _stage(
        sf_dir,
        work,
        "rw_s0",
        f"SELECT DISTINCT src AS walk_id, src AS cur, "
        f"CAST(src AS VARCHAR) AS path FROM ({_EDGES_OVER_CS}) "
        f"WHERE src <= 20",
    )
    for i in range(1, 5):
        _stage(sf_dir, work, f"rw_s{i}", _rw_step(f"rw_s{i - 1}", f"_s{i}_"))
    return _fetch(
        sf_dir, work,
        "SELECT walk_id, cur AS end_node, path FROM rw_s4",
    )


# ---------------------------------------------------------------------------
# graph_node2vec_biased_walk — 4 p/q-biased steps; step 1 is uniform over
# the ranked neighbor list, steps 2-4 weight candidates (return=2,
# triangle=6, explore=3) and pick by cumulative-weight hash
# ---------------------------------------------------------------------------


def _n2v_step(prev: str, i: int) -> str:
    return f"""SELECT walk_id, cur AS prev, cand AS cur,
       path || '>' || CAST(cand AS VARCHAR) AS path
FROM (
  SELECT walk_id, cur, path, cand, w,
         CAST(COALESCE(SUM(w) OVER (PARTITION BY walk_id ORDER BY cand
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
           AS cumw,
         CAST(SUM(w) OVER (PARTITION BY walk_id) AS BIGINT) AS tot
  FROM (
    SELECT s.walk_id, s.prev, s.cur, s.path, e.dst AS cand,
           CASE WHEN e.dst = s.prev THEN 2
                WHEN chk.dst IS NOT NULL THEN 6
                ELSE 3 END AS w
    FROM {prev} s
    JOIN ({_EDGES_OVER_CS}) e ON e.src = s.cur
    LEFT JOIN ({_EDGES_OVER_CS}) chk
      ON chk.src = s.prev AND chk.dst = e.dst
  )
)
WHERE CAST(('0x' || substring(md5(CAST(walk_id AS VARCHAR) || '_n2v{i}_'
        || CAST(cur AS VARCHAR)), 1, 15)) AS BIGINT) % tot >= cumw
  AND CAST(('0x' || substring(md5(CAST(walk_id AS VARCHAR) || '_n2v{i}_'
        || CAST(cur AS VARCHAR)), 1, 15)) AS BIGINT) % tot < cumw + w"""


def staged_node2vec(sf_dir: str, work: str):
    _stage_cs(sf_dir, work)
    _stage(
        sf_dir,
        work,
        "n2v_s1",
        f"""SELECT r.src AS walk_id, r.src AS prev, r.dst AS cur,
       CAST(r.src AS VARCHAR) || '>' || CAST(r.dst AS VARCHAR) AS path
FROM (
  SELECT src, dst,
         ROW_NUMBER() OVER (PARTITION BY src ORDER BY dst) - 1 AS idx,
         COUNT(*) OVER (PARTITION BY src) AS outdeg
  FROM ({_EDGES_OVER_CS}) WHERE src <= 10
) r
JOIN (SELECT DISTINCT src AS walk_id, src AS cur
      FROM ({_EDGES_OVER_CS}) WHERE src <= 10) s0
  ON s0.cur = r.src
 AND r.idx = CAST(('0x' || substring(md5(CAST(s0.walk_id AS VARCHAR)
     || '_n2v1_' || CAST(s0.cur AS VARCHAR)), 1, 15)) AS BIGINT)
     % r.outdeg""",
    )
    for i in (2, 3, 4):
        _stage(sf_dir, work, f"n2v_s{i}", _n2v_step(f"n2v_s{i - 1}", i))
    return _fetch(
        sf_dir, work,
        "SELECT walk_id, cur AS end_node, path FROM n2v_s4",
    )


# ---------------------------------------------------------------------------
# graph_triangle_count — wedge join sliced by the MIDDLE node (e1.s2 =
# e2.s1): each slice bounds BOTH wedge legs; every wedge has exactly one
# middle, so slice counts partition the triangle count exactly
# ---------------------------------------------------------------------------

_TRI_SLICES = 16


def staged_triangle(sf_dir: str, work: str):
    _stage(
        sf_dir,
        work,
        "tri_pairs",
        "SELECT DISTINCT a.l_suppkey AS s1, b.l_suppkey AS s2 "
        "FROM lineitem a JOIN lineitem b "
        "ON a.l_orderkey = b.l_orderkey AND a.l_suppkey < b.l_suppkey",
    )
    for i in range(_TRI_SLICES):
        _stage(
            sf_dir,
            work,
            f"tri_t{i}",
            f"""SELECT CAST(COUNT(*) AS BIGINT) AS c
FROM (SELECT s1, s2 FROM tri_pairs WHERE s2 % {_TRI_SLICES} = {i}) e1
JOIN (SELECT s1, s2 FROM tri_pairs WHERE s1 % {_TRI_SLICES} = {i}) e2
  ON e2.s1 = e1.s2
JOIN tri_pairs e3 ON e3.s1 = e1.s1 AND e3.s2 = e2.s2""",
        )
    total = " + ".join(
        f"(SELECT c FROM tri_t{i})" for i in range(_TRI_SLICES)
    )
    return _fetch(
        sf_dir,
        work,
        f"SELECT CAST((SELECT COUNT(*) FROM tri_pairs) AS BIGINT) AS n_edges, "
        f"CAST({total} AS BIGINT) AS n_triangles",
    )


# ---------------------------------------------------------------------------
# agg_mode_exact — two bounded stages: the (custkey, priority) count
# relation to parquet, then the per-custkey struct-MAX argmax (the
# monolithic single query OOM-killed the shared-box sweep twice)
# ---------------------------------------------------------------------------


def staged_mode(sf_dir: str, work: str):
    _stage(
        sf_dir,
        work,
        "mode_c",
        "SELECT o_custkey, o_orderpriority, COUNT(*) AS cnt "
        "FROM orders GROUP BY o_custkey, o_orderpriority",
    )
    # MEASURED (r10): DuckDB's MAX over a STRUCT blows past its own
    # memory_limit at 1.5M groups (>128 GB RSS — this is what OOM-killed
    # the r9 sweep twice); the varchar-encoded argmax computes the SAME
    # (cnt, priority) lexicographic max in 1.4 GB. cnt zero-padded to 10
    # digits makes string order == numeric order; '|' then priority makes
    # the tiebreak identical to the struct comparison (ASCII data).
    return _fetch(
        sf_dir,
        work,
        """SELECT o_custkey,
       substring(MAX(printf('%010d|%s', cnt, o_orderpriority)), 12)
         AS mode_priority,
       CAST(MAX(cnt) AS BIGINT) AS mode_count
FROM mode_c GROUP BY o_custkey""",
    )


# ---------------------------------------------------------------------------
# dedup_simhash — the monolithic oracle's per-doc list-comprehension
# shingler is lambda-interpreted (>20 min single-core at 100x); the staged
# twin derives the SAME shingles (4-token windows, i in [1, len-3] — the
# registry oracle's toks[i:i+3] slice is INCLUSIVE on both ends) through a
# vectorized positional self-join, then the same hash/pair/jaccard algebra
# ---------------------------------------------------------------------------


def staged_simhash(sf_dir: str, work: str):
    _stage(
        sf_dir,
        work,
        "ssh_tok",
        "SELECT doc_id, unnest(string_split(text, ' ')) AS w, "
        "generate_subscripts(string_split(text, ' '), 1) AS i "
        "FROM documents",
    )
    _stage(
        sf_dir,
        work,
        "ssh_sh",
        """SELECT doc_id,
       CAST(('0x' || substring(md5(s0), 1, 15)) AS BIGINT) AS s
FROM (
  SELECT DISTINCT a.doc_id,
         a.w || ' ' || b.w || ' ' || c.w || ' ' || d.w AS s0
  FROM ssh_tok a
  JOIN ssh_tok b ON b.doc_id = a.doc_id AND b.i = a.i + 1
  JOIN ssh_tok c ON c.doc_id = a.doc_id AND c.i = a.i + 2
  JOIN ssh_tok d ON d.doc_id = a.doc_id AND d.i = a.i + 3
)""",
    )
    _stage(
        sf_dir, work, "ssh_n",
        "SELECT doc_id, COUNT(*) AS nsh FROM ssh_sh GROUP BY doc_id",
    )
    _stage(
        sf_dir,
        work,
        "ssh_p",
        "SELECT a.doc_id AS a_id, b.doc_id AS b_id, COUNT(*) AS common "
        "FROM ssh_sh a JOIN ssh_sh b ON a.s = b.s AND a.doc_id < b.doc_id "
        "GROUP BY a.doc_id, b.doc_id",
    )
    return _fetch(
        sf_dir,
        work,
        """SELECT CAST(COUNT(*) AS BIGINT) AS n_true_pairs,
       CAST(1 AS INT) AS recall_ok
FROM (
  SELECT a_id, b_id,
         ROUND(common * 1.0 / (na.nsh + nb.nsh - common), 6) AS jac
  FROM ssh_p p
  JOIN ssh_n na ON na.doc_id = p.a_id
  JOIN ssh_n nb ON nb.doc_id = p.b_id
  WHERE common * 1.0 / (na.nsh + nb.nsh - common) >= 0.97
)""",
    )


# ---------------------------------------------------------------------------
# dedup_editdistance_blocked — distinct-name factorization (same algebra
# the Spark operator uses since r10): distance depends only on the name
# strings and the fixture has 64 distinct names at every SF, so the
# O(block²) record-pair join (5e9 pairs at 10x) collapses to a 64×64
# name-level Levenshtein plus a per-record candidate expansion
# ---------------------------------------------------------------------------


def staged_editdistance(sf_dir: str, work: str):
    _stage(
        sf_dir,
        work,
        "ed_names",
        "SELECT p_name, COUNT(*) AS c, MIN(p_partkey) AS k1st "
        "FROM part GROUP BY 1",
    )
    _stage(
        sf_dir,
        work,
        "ed_second",
        "SELECT p.p_name, MIN(p.p_partkey) AS k2nd "
        "FROM part p JOIN ed_names n ON n.p_name = p.p_name "
        "WHERE p.p_partkey > n.k1st GROUP BY 1",
    )
    return _fetch(
        sf_dir,
        work,
        """WITH names AS (
  SELECT n.p_name, n.c, n.k1st, s.k2nd,
         string_split(n.p_name, ' ')[2] AS block,
         length(n.p_name) AS ln
  FROM ed_names n LEFT JOIN ed_second s ON s.p_name = n.p_name
),
cross_nm AS (
  SELECT a.p_name AS name1,
         CAST(levenshtein(a.p_name, b.p_name) AS INTEGER) AS dist,
         b.k1st AS k2, b.p_name AS name2
  FROM names a JOIN names b
    ON a.block = b.block AND a.p_name <> b.p_name
   AND abs(a.ln - b.ln) <= 2
  WHERE levenshtein(a.p_name, b.p_name) <= 2
),
rec AS (SELECT p_partkey AS k1, p_name FROM part),
cand AS (
  SELECT r.k1, r.p_name AS name1, c.dist, c.k2, c.name2
  FROM rec r JOIN cross_nm c ON c.name1 = r.p_name
  UNION ALL
  SELECT r.k1, r.p_name, CAST(0 AS INTEGER),
         CASE WHEN r.k1 = n.k1st THEN n.k2nd ELSE n.k1st END, r.p_name
  FROM rec r JOIN names n ON n.p_name = r.p_name AND n.c >= 2
),
best AS (
  -- varchar-encoded argmin (struct/row MIN over 2M groups blows DuckDB's
  -- memory_limit — measured r10, see staged_mode): dist is 1 digit
  -- (<= 2), k2 zero-padded 12 digits, then the name; string order ==
  -- (dist, k2, name2) order on this ASCII data
  SELECT k1, name1,
         MIN(printf('%01d|%012d|%s', dist, k2, name2)) AS m
  FROM cand GROUP BY 1, 2
)
SELECT k1, name1,
       CAST(split_part(m, '|', 2) AS BIGINT) AS nearest_key,
       split_part(m, '|', 3) AS nearest_name,
       CAST(split_part(m, '|', 1) AS INTEGER) AS dist
FROM best""",
    )


# ---------------------------------------------------------------------------
# simsearch_pq_adc — the monolithic oracle's per-(vector, centroid)
# list_reduce lambdas are interpreter-bound (same class as
# embed_jl_projection's ~50 min); the staged twin UNROLLS each 16-term
# subspace fold into an explicit left-nested expression — IDENTICAL fp
# addition order ((((0.0+t1)+t2)+...)+t16), fully vectorized
# ---------------------------------------------------------------------------


def _pq_fold(lo: int, hi: int, a: str, b: str) -> str:
    """((((0.0 + t_lo) + t_lo+1) ... ) + t_hi) with t_k = (a[k]-b[k])^2 —
    the exact left fold list_reduce(list_prepend(0.0, ...)) performs."""
    expr = "CAST(0.0 AS DOUBLE)"
    for k in range(lo, hi + 1):
        t = (
            f"(CAST({a}[{k}] AS DOUBLE) - CAST({b}[{k}] AS DOUBLE))"
            f" * (CAST({a}[{k}] AS DOUBLE) - CAST({b}[{k}] AS DOUBLE))"
        )
        expr = f"({expr} + {t})"
    return expr


def staged_pq_adc(sf_dir: str, work: str):
    dd = [
        _pq_fold(16 * m + 1, 16 * m + 16, "e.embedding", "c.embedding")
        for m in range(4)
    ]
    _stage(
        sf_dir,
        work,
        "pq_dist",
        f"""SELECT d.vec_id, d.c_id, u.m,
       CASE u.m WHEN 0 THEN d.dd0 WHEN 1 THEN d.dd1
                WHEN 2 THEN d.dd2 ELSE d.dd3 END AS d2
FROM (
  SELECT e.vec_id, c.vec_id AS c_id,
         {dd[0]} AS dd0, {dd[1]} AS dd1, {dd[2]} AS dd2, {dd[3]} AS dd3
  FROM embeddings e
  CROSS JOIN (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 8) c
) d
CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS m) u""",
    )
    # two plain aggregates instead of a row-MIN argmax (struct/row
    # aggregates blow DuckDB's memory_limit past ~1M groups — measured
    # r10, see staged_mode): min distance per (vec, m), then min centroid
    # id at that distance (doubles round-trip parquet bit-exactly, so the
    # d2 = md equijoin is exact)
    _stage(
        sf_dir,
        work,
        "pq_codes",
        """SELECT s.vec_id, s.m, MIN(s.c_id) AS code
FROM pq_dist s
JOIN (SELECT vec_id, m, MIN(d2) AS md FROM pq_dist GROUP BY 1, 2) t
  ON t.vec_id = s.vec_id AND t.m = s.m AND s.d2 = t.md
GROUP BY 1, 2""",
    )
    lut = [
        _pq_fold(16 * m + 1, 16 * m + 16, "q.embedding", "c.embedding")
        for m in range(4)
    ]
    return _fetch(
        sf_dir,
        work,
        f"""WITH lutd AS (
  SELECT c.vec_id AS c_id,
         {lut[0]} AS l0, {lut[1]} AS l1, {lut[2]} AS l2, {lut[3]} AS l3
  FROM (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 8) c
  CROSS JOIN (SELECT embedding FROM embeddings WHERE vec_id = 100) q
),
lut AS (
  SELECT c_id, 0 AS m, l0 AS lv FROM lutd
  UNION ALL SELECT c_id, 1, l1 FROM lutd
  UNION ALL SELECT c_id, 2, l2 FROM lutd
  UNION ALL SELECT c_id, 3, l3 FROM lutd
),
adc AS (
  SELECT k.vec_id,
         MIN(CASE WHEN k.m = 0 THEN l.lv END) AS a0,
         MIN(CASE WHEN k.m = 1 THEN l.lv END) AS a1,
         MIN(CASE WHEN k.m = 2 THEN l.lv END) AS a2,
         MIN(CASE WHEN k.m = 3 THEN l.lv END) AS a3
  FROM pq_codes k JOIN lut l ON l.m = k.m AND l.c_id = k.code
  GROUP BY k.vec_id
)
SELECT vec_id, ROUND(((a0 + a1) + a2) + a3, 6) AS adc_dist2_r6
FROM adc
WHERE vec_id <> 100
ORDER BY ((a0 + a1) + a2) + a3 ASC, vec_id ASC
LIMIT 10""",
    )


# ---------------------------------------------------------------------------
# embed_pca_power_iter — the monolithic Gram build (CROSS JOIN UNNEST ×
# UNNEST = n·d² rows materialized at once) spilled >70 GB at 100x; staged:
# one bounded scan per row-index i (n·d rows each), identical integer-
# micro rounding, then the tiny (d², 4096-row) power-iteration algebra
# verbatim from the monolithic oracle
# ---------------------------------------------------------------------------


def staged_pca(sf_dir: str, work: str):
    ndim = int(
        _fetch(sf_dir, work, "SELECT len(embedding) AS d FROM embeddings LIMIT 1")[
            "d"
        ].iloc[0]
    )
    for i in range(1, ndim + 1):
        _stage(
            sf_dir,
            work,
            f"pca_tri_{i}",
            f"""SELECT {i} AS i, j,
       ROUND(SUM(CAST(ROUND(CAST(e.embedding[{i}] AS DOUBLE)
                            * CAST(e.embedding[j] AS DOUBLE) * 1e12)
                      AS BIGINT)) / 1e12, 6) AS g
FROM embeddings e
CROSS JOIN UNNEST(range({i}, len(e.embedding) + 1)) AS b(j)
GROUP BY j""",
        )
    union = " UNION ALL ".join(
        f"SELECT i, j, g FROM pca_tri_{i}" for i in range(1, ndim + 1)
    )
    _stage(sf_dir, work, "pca_tri", union)
    return _fetch(
        sf_dir,
        work,
        """WITH gram AS (
  SELECT i, j, g FROM pca_tri
  UNION ALL
  SELECT j AS i, i AS j, g FROM pca_tri WHERE j > i
),
v1 AS (
  SELECT i, list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
           list(g ORDER BY j)), (a, b) -> a + b) AS val
  FROM gram GROUP BY i
),
y2 AS (
  SELECT gram.i AS i,
         list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
           list(gram.g * v1.val ORDER BY gram.j)), (a, b) -> a + b) AS val
  FROM gram JOIN v1 ON v1.i = gram.j GROUP BY gram.i
),
nrm AS (
  SELECT sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
           list(val * val ORDER BY i)), (a, b) -> a + b)) AS n
  FROM y2
)
SELECT CAST(y2.i AS INTEGER) AS dim, ROUND(y2.val / nrm.n, 6) AS pc1
FROM y2, nrm""",
    )


STAGED_ORACLES = {
    "graph_bfs_multisource": staged_bfs,
    "graph_ppr_seed_teleport": staged_ppr,
    "graph_hits_rounds": staged_hits,
    "graph_jaccard_neighbor_sim": staged_jaccard,
    "graph_rich_club": staged_rich_club,
    "graph_local_clustering_topk": staged_lcc,
    "scan_dir_enumerate": staged_scan_dir_enumerate,
    "scan_file_metadata_cols": staged_scan_file_metadata,
    "query_skyline_pareto": staged_skyline,
    # round-10 additions: the 14 keys CORRECTNESS_sf10_r09 deferred
    "graph_harmonic_closeness_seeds": staged_harmonic,
    "graph_pagerank_iterations": staged_pagerank_iterations,
    "graph_pagerank_converged": staged_pagerank_converged,
    "graph_kcore_peel": staged_kcore,
    "graph_label_propagation_sync": staged_lpa,
    "graph_wl_refinement": staged_wl,
    "graph_random_walks_hash": staged_random_walks,
    "graph_node2vec_biased_walk": staged_node2vec,
    "graph_triangle_count": staged_triangle,
    "agg_mode_exact": staged_mode,
    "dedup_simhash": staged_simhash,
    "dedup_editdistance_blocked": staged_editdistance,
    "simsearch_pq_adc": staged_pq_adc,
    "embed_pca_power_iter": staged_pca,
}


def run_staged(key: str, sf_dir: str, work: str | None = None):
    """Run one staged oracle; caller owns the workdir if provided."""
    own = work is None
    if own:
        work = tempfile.mkdtemp(prefix=f"staged_{key}_", dir="/tmp")
    try:
        return STAGED_ORACLES[key](sf_dir, work)
    finally:
        if own:
            shutil.rmtree(work, ignore_errors=True)


def _check(sf_dir: str) -> int:
    """Prove staged == monolithic at a small SF (pure-DuckDB differential)."""
    from tests.compare import canon_frame

    import __spark_entry__ as e

    oracles = e.oracle_sql()
    n_bad = 0
    for key in STAGED_ORACLES:
        work = tempfile.mkdtemp(prefix=f"check_{key}_", dir="/tmp")
        try:
            staged = STAGED_ORACLES[key](sf_dir, work)
            mono = _fetch(sf_dir, work, oracles[key])
        finally:
            shutil.rmtree(work, ignore_errors=True)
        a = [repr(r) for r in canon_frame(staged)]
        b = [repr(r) for r in canon_frame(mono)]
        ok = a == b and sorted(staged.columns) == sorted(mono.columns)
        print(f"{'PASS' if ok else 'FAIL'} {key}: staged {len(staged)} rows "
              f"vs monolithic {len(mono)} rows", flush=True)
        if not ok:
            n_bad += 1
            for i, (x, y) in enumerate(zip(a, b)):
                if x != y:
                    print(f"  first diff at {i}:\n  staged: {x}\n  mono:   {y}")
                    break
    return n_bad


if __name__ == "__main__":
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    if "--check" in sys.argv:
        sys.exit(_check(args[0] if args else "/root/testdata/sf0.01"))
    sys.exit("usage: oracle_staged.py --check [sf_dir]")
