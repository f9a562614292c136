"""The benchmark's workloads: each is a closed loop with one client.

Every workload writes its inputs from the seed, runs untimed checked
operations until the JVM's compiled code settles, and then runs timed
operations through the program's public entry points only. Each operation
checks its own output.

- ``vpic_count_then_extract``: one analysis step over a VPIC-like particle
  dump. ``runner.run_scan`` counts ``ke > tau`` over small timestep files,
  one Spark job per file, so per-file job fan-out dominates; then
  ``SELECT * ... WHERE ke > tau`` at about 0.35% selectivity over a large
  multi-row-group file is drained through ``runner.stream_rows``, where
  Parquet decode, pushdown and the transfer of the result to the driver
  dominate.
- ``lib_query_mix``: registered library queries over generated fixture
  tables, each built by ``registry.queries()[key]`` and executed into a
  ``noop`` sink. It exercises operators, shuffles and pandas UDFs and never
  touches the runner.
"""

from __future__ import annotations

import contextlib
import io
import os
import random
import shutil
import sys
import time
from dataclasses import dataclass, field

import datagen
from spans import Tracer

# Library keys timed by lib_query_mix: one per operator family of the
# registry's frozen cross-round core set, cheap enough that a run holds
# several whole rounds of them, so every key's median has samples. Never
# edit: the mix is only comparable across commits while this list is fixed.
MIX_KEYS = (
    "agg_groupby_hash",                 # partial + final hash aggregate
    "join_inner_hash",                  # shuffle join
    "composite_local_supplier_volume",  # six-table join tree
    "topk_per_group",                   # window rank + filter
    "fn_json",                          # JSON path extraction
    "udf_cogrouped_pandas",             # cogrouped pandas UDF (Arrow)
)

# (files, rows per file, row groups per file) of each particle dataset, and
# the untimed rounds before timing: the first operations run slower while
# the JVM compiles the per-file job path. Four count files are one wave of
# ``Env_jobs = nproc`` concurrent jobs on a 4-core machine; more waves made
# latency keep falling for a dozen operations and differ between JVMs.
SIZES = {
    "vpic_count_then_extract": {"many": (4, 20_000, 1),
                                "large": (1, 500_000, 4), "warm_rounds": 4},
    "lib_query_mix": {"keys": MIX_KEYS, "warm_rounds": 1},
}

TINY_SIZES = {
    "vpic_count_then_extract": {"many": (3, 2_000, 1),
                                "large": (2, 20_000, 2), "warm_rounds": 1},
    "lib_query_mix": {"keys": ("agg_groupby_hash", "udf_cogrouped_pandas"),
                      "warm_rounds": 1},
}

_NO_TRACE = Tracer(enabled=False)


@dataclass
class OpResult:
    kind: str  # what was run: the workload's name, or the mix's key
    seconds: float
    first_result_s: float  # until the client holds the first output
    rows_in: int  # input rows the operation scanned
    ok: bool
    layers: dict[str, float] = field(default_factory=dict)


class _Tee(io.TextIOBase):
    """Writes through to a stream and keeps a copy."""

    def __init__(self, stream):
        self.stream = stream
        self.copy = io.StringIO()

    def write(self, s):
        self.copy.write(s)
        return self.stream.write(s)

    def flush(self):
        self.stream.flush()


class VpicCountThenExtract:
    name = "vpic_count_then_extract"
    count_tau = "0.5"
    extract_tau = "1.1"  # about 0.35% of the large file
    ops_per_round = 1

    def __init__(self, many: tuple[int, int, int], large: tuple[int, int, int],
                 warm_rounds: int):
        self.sizes = {"many": many, "large": large}
        self.warm_rounds = warm_rounds

    def prepare(self, data_dir: str, seed: int) -> str:
        self.dirs, self.manifests, lines = {}, {}, []
        for i, (kind, tau) in enumerate((("many", self.count_tau),
                                         ("large", self.extract_tau))):
            files, rows, groups = self.sizes[kind]
            path = os.path.join(data_dir, kind)
            shutil.rmtree(path, ignore_errors=True)
            m = datagen.write_particles(path, seed * 2 + i, files, rows, groups,
                                        [tau])
            self.dirs[kind], self.manifests[kind] = path, m
            lines.append(f"{files} files x {rows} rows ({groups} row groups "
                         f"each, {m.bytes_on_disk / 1e6:.1f} MB) where "
                         f"ke > {tau} selects {m.counts[tau]}")
        return "count over " + lines[0] + "; extract from " + lines[1]

    def check(self, spark) -> list[str]:
        """Untimed operations while the JVM compiles the hot paths; each is
        checked like a timed one."""
        return [f"warm-up operation {i} returned a wrong result"
                for i in range(self.warm_rounds)
                if not self.run_op(spark, _NO_TRACE, -1).ok]

    def run_op(self, spark, tracer: Tracer, op: int) -> OpResult:
        from c2_duckdb_runner_spark import runner

        many, large = self.manifests["many"], self.manifests["large"]
        tee = _Tee(sys.stderr)
        rows = id_sum = 0
        first = stream_first = None
        width_ok = True
        t0 = time.perf_counter()
        with tracer.span("op", op):
            with tracer.span("runner.run_scan", op), contextlib.redirect_stderr(tee):
                report = runner.run_scan(spark, [self.dirs["many"]],
                                         f"ke > {self.count_tau}")
            t_extract = time.perf_counter()
            df = spark.read.parquet(self.dirs["large"]).filter(
                f"ke > {self.extract_tau}")
            with tracer.span("runner.stream_rows", op):
                t_stream = time.perf_counter()
                for batch in runner.stream_rows(df):
                    if first is None:
                        now = time.perf_counter()
                        first, stream_first = now - t_extract, now - t_stream
                        width_ok = len(batch[0]) == 1 + len(datagen.PARTICLE_COLUMNS)
                    rows += len(batch)
                    id_sum += sum(r[0] for r in batch)
        seconds = time.perf_counter() - t0
        # run_scan logs a file it cannot scan and counts it as 0 rows
        ok = ("runner: error scanning" not in tee.copy.getvalue()
              and report.n_files == many.files
              and report.total_rows == many.counts[self.count_tau]
              and width_ok and rows == large.counts[self.extract_tau]
              and id_sum == large.id_sums[self.extract_tau])
        return OpResult(
            self.name, seconds, first if first is not None else seconds,
            many.rows + large.rows, ok, {
                "runner.files": report.n_files,
                "runner.read_bytes": report.read_bytes,
                "runner.read_ops": report.read_ops,
                "runner.rows_out": report.total_rows + rows,
                "runner.stream_rows_first_batch_s": stream_first or 0.0,
            })


class LibQueryMix:
    name = "lib_query_mix"

    def __init__(self, keys: tuple[str, ...], warm_rounds: int):
        self.keys = keys
        self.warm_rounds = warm_rounds
        self.ops_per_round = len(keys)
        self.queries = None

    def prepare(self, data_dir: str, seed: int) -> str:
        self.dir = os.path.join(data_dir, "tables")
        shutil.rmtree(self.dir, ignore_errors=True)
        self.file_rows = {os.path.basename(p): n for p, n in
                          datagen.write_tables(self.dir, seed).items()}
        self.rng = random.Random(seed)
        self.schedule: list[str] = []
        self.rows_in = {k: 0 for k in self.keys}
        self.failed_keys: set[str] = set()
        mb = sum(os.path.getsize(os.path.join(self.dir, f))
                 for f in self.file_rows) / 1e6
        return (f"{len(self.keys)} registry keys per round over 10 tables, "
                f"{sum(self.file_rows.values())} rows, {mb:.1f} MB")

    def _queries(self):
        if self.queries is None:
            from c2_duckdb_runner_spark import registry

            self.queries = registry.queries()
        return self.queries

    def check(self, spark) -> list[str]:
        """Run every key once and compare it with its DuckDB oracle twin
        (row count plus an order-insensitive value match); a key that
        raises or differs fails all its timed operations. Then run
        ``warm_rounds`` untimed rounds."""
        import duckdb
        from c2_duckdb_runner_spark import registry
        from c2_duckdb_runner_spark.tables import TABLES
        from tests.compare import assert_frames_match

        queries, oracles = self._queries(), registry.oracle_sql()
        problems = []
        with duckdb.connect() as con:
            for t in TABLES:
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                            f"'{os.path.join(self.dir, t)}.parquet'")
            for key in self.keys:
                try:
                    df = queries[key](spark, self.dir)
                    files = {os.path.basename(f) for f in df.inputFiles()}
                    self.rows_in[key] = sum(self.file_rows.get(f, 0) for f in files)
                    got = df.toPandas()
                    if key in oracles:
                        assert_frames_match(
                            got, con.execute(oracles[key]).fetchdf(), key)
                except Exception as exc:  # report the key, keep checking
                    self.failed_keys.add(key)
                    problems.append(f"{key}: {str(exc).splitlines()[0][:200]}")
        for _ in range(self.warm_rounds * self.ops_per_round):
            self.run_op(spark, _NO_TRACE, -1)
        return problems

    def run_op(self, spark, tracer: Tracer, op: int) -> OpResult:
        if not self.schedule:  # a new round, in a seeded order
            self.schedule = list(self.keys)
            self.rng.shuffle(self.schedule)
        key = self.schedule.pop()
        ok = key not in self.failed_keys
        t0 = time.perf_counter()
        with tracer.span("op", op):
            try:
                with tracer.span("registry.build", op):
                    df = self._queries()[key](spark, self.dir)
                with tracer.span("operators.execute", op):
                    df.write.format("noop").mode("overwrite").save()
            except Exception as exc:  # count the failure, keep the loop going
                print(f"perfbench: {key} failed: {str(exc).splitlines()[0][:200]}",
                      file=sys.stderr)
                ok = False
        seconds = time.perf_counter() - t0
        return OpResult(key, seconds, seconds, self.rows_in[key], ok)


def make(name: str, tiny: bool = False):
    sizes = (TINY_SIZES if tiny else SIZES)[name]
    cls = {c.name: c for c in (VpicCountThenExtract, LibQueryMix)}[name]
    return cls(**sizes)
