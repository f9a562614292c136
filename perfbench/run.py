#!/usr/bin/env python3
"""Repository benchmark: runs one workload and prints one JSON result line.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run it from the repository root. It generates its inputs from ``--seed``
under ``.perfbench_work/``, starts Spark through ``session.get_spark`` on
``local[nproc]`` with ``Env_jobs = nproc``, and drives the program only
through its public entry points (see ``workloads.py``). All inputs fit in
the OS page cache, so latencies are those of this sandbox, not of disks.

``--trace 0`` times the workload with Spark's event log off and reports
the end-to-end metrics (``END_TO_END``). ``--trace 1`` measures the
workload for half of ``--seconds`` untraced, then restarts Spark with the
event log on, measures the other half with spans recorded, writes the
spans and Spark jobs to ``.perfbench_work/trace-<workload>.json`` and
reports the per-layer metrics (``PER_LAYER``): medians over the traced
operations, 0 where a layer is not on the workload's path.

Which layer metric moves which end-to-end metric, on which workload:

- ``session.get_spark_s`` -> ``setup_s`` on both workloads.
- ``runner.run_scan_s``, ``runner.run_scan.self_s``, ``runner.files``,
  ``runner.read_bytes``, ``runner.read_ops``, ``spark.jobs``,
  ``spark.task_overhead_s`` -> ``op_p50_s`` and ``rows_per_s`` on
  ``vpic_count_then_extract``; ``first_batch_p50_s`` stays flat.
- ``runner.stream_rows_s``, ``runner.stream_rows_first_batch_s``,
  ``runner.rows_out``, ``spark.result_bytes``, ``spark.useful_row_ratio``
  -> ``first_batch_p50_s`` and ``op_p50_s`` on ``vpic_count_then_extract``.
- ``registry.build_s``, ``registry.build.self_s``, ``operators.execute_s``,
  ``operators.execute.self_s``, ``spark.shuffle_*``, ``spark.spill_bytes``
  -> ``op_p50_s`` and ``rows_per_s`` on ``lib_query_mix``; the runner
  metrics stay 0 there.
- ``spark.input_*`` -> ``rows_per_s`` on both workloads;
  ``spark.peak_heap_bytes`` -> ``peak_rss_mb`` on both.

A failed operation (an exception, a ``runner: error scanning`` line, or an
output that differs from the expected one) counts in ``failed``; the error
ratio ``failed / attempted`` is printed to stderr with the sample count.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import resource
import shutil
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench_work")
# set-up cycles per run, the first with the JVM launch; setup_s is their median
SETUPS = 5
DRIVER_MEM = "2g"

# name -> unit
END_TO_END = {
    "setup_s": "s",            # get_spark plus the warm-up
    "op_p50_s": "s",           # median operation latency (see end_to_end)
    "first_batch_p50_s": "s",  # query start to the client's first rows
    "rows_per_s": "1/s",       # input rows scanned per busy second
    "peak_rss_mb": "MB",       # driver JVM plus this process
}

PER_LAYER = {
    "session.get_spark_s": "s",
    "runner.run_scan_s": "s",
    "runner.run_scan.self_s": "s",
    "runner.files": "count",
    "runner.read_bytes": "bytes",
    "runner.read_ops": "count",
    "runner.stream_rows_s": "s",
    "runner.stream_rows.self_s": "s",
    "runner.stream_rows_first_batch_s": "s",
    "runner.rows_out": "count",
    "registry.build_s": "s",
    "registry.build.self_s": "s",
    "operators.execute_s": "s",
    "operators.execute.self_s": "s",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.task_overhead_s": "s",
    "spark.executor_run_s": "s",
    "spark.executor_cpu_s": "s",
    "spark.gc_s": "s",
    "spark.input_bytes": "bytes",
    "spark.input_records": "count",
    "spark.result_bytes": "bytes",
    "spark.useful_row_ratio": "ratio",
    "spark.shuffle_read_bytes": "bytes",
    "spark.shuffle_write_bytes": "bytes",
    "spark.spill_bytes": "bytes",
    "spark.peak_heap_bytes": "bytes",
    "trace_overhead_ratio": "ratio",
}


def log(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def configure_env(work: str) -> None:
    """Size Spark to this machine and keep every file it writes in ``work``.
    Must run before the JVM starts."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cpus = str(nproc())
    os.environ.update({
        "SPARK_GRAFT_CPUS": cpus,
        "Env_jobs": cpus,
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "TMPDIR": tmp,
        # every JVM, spark-submit's launcher too: no /tmp/hsperfdata files
        "JAVA_TOOL_OPTIONS": f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
    })


def spark_confs(work: str, event_log: str | None = None) -> dict[str, str]:
    confs = {
        # -Xms at the heap maximum: resident memory then follows what the
        # program touches, not when the collector chose to grow the heap
        "spark.driver.extraJavaOptions": f"-Xms{DRIVER_MEM}",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if event_log:
        confs.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": f"file://{event_log}",
            "spark.eventLog.compress": "false",
            # per-stage heap peaks; the default heartbeat polling (10 s)
            # would miss every shorter stage
            "spark.eventLog.logStageExecutorMetrics": "true",
            "spark.executor.metrics.pollingInterval": "100ms",
        })
    return confs


def peak_rss_bytes(spark) -> int:
    """Peak resident memory so far of the driver JVM plus this process, as
    the kernel tracks it (``VmHWM``, ``ru_maxrss``)."""
    jvm_pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{jvm_pid}/status") as fh:
        jvm_kb = next(int(line.split()[1]) for line in fh
                      if line.startswith("VmHWM:"))
    return (jvm_kb + resource.getrusage(resource.RUSAGE_SELF).ru_maxrss) * 1024


def start_session(confs: dict[str, str]):
    """``get_spark`` plus the warm-up: one job on every core. Returns the
    session and the seconds ``get_spark`` took."""
    from c2_duckdb_runner_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark("perfbench", extra_confs=confs)
    get_spark_s = time.perf_counter() - t0
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1 << 20, numPartitions=nproc()).selectExpr("sum(id)").collect()
    return spark, get_spark_s


def set_up(confs: dict[str, str], cycles: int):
    """Starts a session ``cycles`` times, stopping all but the last. The
    first cycle also launches the JVM."""
    setup_s, get_spark_s = [], []
    for i in range(cycles):
        t0 = time.perf_counter()
        spark, get_s = start_session(confs)
        setup_s.append(time.perf_counter() - t0)
        get_spark_s.append(get_s)
        if i + 1 < cycles:
            spark.stop()
    return spark, setup_s, get_spark_s


def measure(spark, wl, seconds: float, tracer) -> list:
    """Whole rounds of operations, one at a time, until ``seconds`` pass."""
    results = []
    deadline = time.perf_counter() + seconds
    while time.perf_counter() < deadline:
        for _ in range(wl.ops_per_round):
            results.append(wl.run_op(spark, tracer, len(results)))
    return results


def percentile(xs: list[float], q: float) -> float:
    s = sorted(xs)
    return s[max(0, math.ceil(q * len(s)) - 1)]


def geomean(xs) -> float:
    xs = list(xs)
    return math.exp(sum(math.log(x) for x in xs) / len(xs))


def end_to_end(results, setup_s: list[float], peak_rss: int) -> dict[str, float]:
    """Medians per kind of operation, so a run's figure does not hang on
    which keys sit in the middle of the pooled latencies: the latencies are
    the geometric mean over kinds of each kind's median, and ``rows_per_s``
    is the input of one operation of each kind over the sum of their
    median latencies."""
    kinds: dict[str, list] = {}
    for r in results:
        kinds.setdefault(r.kind, []).append(r)
    secs = [r.seconds for r in results]
    med = {k: statistics.median(r.seconds for r in rs) for k, rs in kinds.items()}
    log(f"op latency over {len(secs)} operations of {len(kinds)} kinds "
        f"({min(len(rs) for rs in kinds.values())} or more each): pooled p50 "
        f"{statistics.median(secs):.4f} s, p90 {percentile(secs, 0.9):.4f} s; "
        f"median per kind {({k: round(v, 4) for k, v in med.items()})}; "
        f"setup over {len(setup_s)} cycles: {[round(s, 3) for s in setup_s]}")
    return {
        "setup_s": statistics.median(setup_s),
        "op_p50_s": geomean(med.values()),
        "first_batch_p50_s": geomean(
            statistics.median(r.first_result_s for r in rs)
            for rs in kinds.values()),
        "rows_per_s": sum(rs[0].rows_in for rs in kinds.values())
        / sum(med.values()),
        "peak_rss_mb": peak_rss / 2**20,
    }


def per_layer(traced, per_op, get_spark_s, plain_p50: float) -> dict[str, float]:
    rows = []
    for i, r in enumerate(traced):
        layers = {**r.layers, **per_op.get(i, {})}
        records = layers.get("spark.input_records", 0)
        layers["spark.useful_row_ratio"] = (
            layers.get("runner.rows_out", 0) / records if records else 0.0)
        rows.append(layers)
    out = {name: statistics.median(row.get(name, 0.0) for row in rows)
           for name in PER_LAYER}
    out["session.get_spark_s"] = statistics.median(get_spark_s)
    out["trace_overhead_ratio"] = (
        statistics.median(r.seconds for r in traced) / plain_p50)
    return out


def run(wl, seed: int, seconds: float, trace: bool, work: str) -> dict:
    """Prepare, set up, check and time one workload; returns the result."""
    from spans import Tracer, per_op_layers, read_event_log, write_trace

    t0 = time.perf_counter()
    log(f"{wl.name} seed {seed}: {wl.prepare(os.path.join(work, 'data'), seed)}")
    log(f"local[{nproc()}], Env_jobs={nproc()}, driver memory {DRIVER_MEM}; "
        "inputs fit in the page cache, so latencies are sandbox latencies")
    t1 = time.perf_counter()
    spark, setup_s, get_spark_s = set_up(spark_confs(work), SETUPS)
    try:
        t2 = time.perf_counter()
        problems = wl.check(spark)
        log(f"inputs written in {t1 - t0:.1f} s, set-up cycles took "
            f"{t2 - t1:.1f} s, checks {time.perf_counter() - t2:.1f} s")
        for p in problems:
            log(f"check failed: {p}")
        if not trace:
            results = measure(spark, wl, seconds, Tracer(False))
            metrics = end_to_end(results, setup_s, peak_rss_bytes(spark))
        else:
            plain = measure(spark, wl, seconds / 2, Tracer(False))
            spark.stop()
            log_dir = os.path.join(work, "eventlog")
            shutil.rmtree(log_dir, ignore_errors=True)
            os.makedirs(log_dir)
            spark, _ = start_session(spark_confs(work, log_dir))
            for _ in range(wl.ops_per_round):  # the new session's first round
                wl.run_op(spark, Tracer(False), -1)
            tracer = Tracer(True)
            traced = measure(spark, wl, seconds / 2, tracer)
            spark.stop()  # flushes the event log
            jobs = read_event_log(log_dir)
            write_trace(os.path.join(work, f"trace-{wl.name}.json"),
                        tracer.spans, jobs)
            plain_p50 = statistics.median(r.seconds for r in plain)
            metrics = per_layer(traced, per_op_layers(tracer.spans, jobs),
                                get_spark_s, plain_p50)
            results = plain + traced
    finally:
        spark.stop()
    failed = sum(not r.ok for r in results)
    log(f"error ratio {failed}/{len(results)} = {failed / len(results):.4f}")
    units = PER_LAYER if trace else END_TO_END
    return {
        "correct": failed == 0 and not problems,
        "attempted": len(results),
        "failed": failed,
        "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
    }


def stop_jvm() -> None:
    """Shut the py4j gateway and wait for the JVM (and with it Spark's
    Python workers) to exit; it exits when its stdin closes."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=60)


def main(argv: list[str] | None = None) -> int:
    sys.path.insert(0, ROOT)
    import workloads

    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(workloads.SIZES))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    configure_env(WORK)
    import c2_duckdb_runner_spark  # noqa: F401  fail before any work without it

    try:
        result = run(workloads.make(args.workload), args.seed, args.seconds,
                     bool(args.trace), WORK)
    finally:
        stop_jvm()
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
