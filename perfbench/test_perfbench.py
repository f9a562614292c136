"""The benchmark's own tests, at tiny sizes.

    python -m pytest perfbench -q
"""

from __future__ import annotations

import json
import math
import os
import sys

import numpy as np
import pytest

import datagen
import run
import spans
import workloads

sys.path.insert(0, run.ROOT)


@pytest.fixture(scope="module")
def work(tmp_path_factory):
    path = str(tmp_path_factory.mktemp("perfbench"))
    run.configure_env(path)
    yield path
    run.stop_jvm()


def test_benchmark_json_lists_what_run_prints():
    with open(os.path.join(run.ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER
    assert [w["name"] for w in spec["workloads"]] == list(workloads.SIZES)


def test_threshold_compares_in_double():
    # float32(0.1) is 0.10000000149 as a double, so Spark counts it
    ke = np.array([0.1, 0.09, 0.2], dtype=np.float32)
    assert datagen.above(ke, "0.1").tolist() == [True, False, True]
    assert (ke > np.float32(0.1)).tolist() == [False, False, True]


def test_particle_manifest_is_seeded(tmp_path):
    a = datagen.write_particles(str(tmp_path / "a"), 7, 2, 500, 2, ["0.5"])
    b = datagen.write_particles(str(tmp_path / "b"), 7, 2, 500, 2, ["0.5"])
    c = datagen.write_particles(str(tmp_path / "c"), 8, 2, 500, 2, ["0.5"])
    assert a.counts == b.counts and a.id_sums == b.id_sums
    assert a.id_sums != c.id_sums
    assert 0 < a.counts["0.5"] < a.rows == 1000


def test_self_time_excludes_spark_jobs():
    tracer_spans = [
        spans.Span("op", 0, None, 10.0, 14.0),
        spans.Span("registry.build", 0, "op", 10.0, 11.0),
        spans.Span("operators.execute", 0, "op", 11.0, 14.0),
    ]
    jobs = [
        spans.Job(0, 10.5, 10.75, 1, {"spark.tasks": 2}),
        spans.Job(1, 11.5, 12.5, 2, {"spark.tasks": 4}),
        spans.Job(2, 12.0, 13.0, 1, {"spark.tasks": 1}),  # overlaps job 1
        spans.Job(3, 20.0, 21.0, 1, {"spark.tasks": 8}),  # outside every op
    ]
    got = spans.per_op_layers(tracer_spans, jobs)[0]
    assert got["registry.build_s"] == pytest.approx(1.0)
    assert got["registry.build.self_s"] == pytest.approx(0.75)
    assert got["operators.execute_s"] == pytest.approx(3.0)
    assert got["operators.execute.self_s"] == pytest.approx(1.5)
    assert got["spark.jobs"] == 3 and got["spark.stages"] == 4
    assert got["spark.tasks"] == 7


def test_latency_is_geometric_mean_of_per_kind_medians():
    op = workloads.OpResult
    results = ([op("a", s, s, 10, True) for s in (1.0, 2.0, 9.0)]
               + [op("b", s, s / 2, 30, True) for s in (4.0, 4.0)])
    got = run.end_to_end(results, [12.0, 1.0, 3.0], 2**20)
    assert got["op_p50_s"] == pytest.approx(math.sqrt(2.0 * 4.0))
    assert got["first_batch_p50_s"] == pytest.approx(2.0)
    assert got["rows_per_s"] == pytest.approx((10 + 30) / (2.0 + 4.0))
    assert got["setup_s"] == 3.0 and got["peak_rss_mb"] == 1.0


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("name", sorted(workloads.SIZES))
def test_workload_emits_every_metric(work, name, trace):
    result = run.run(workloads.make(name, tiny=True), 3, 1.0, bool(trace), work)
    assert result["correct"], result
    assert result["failed"] == 0 and result["attempted"] >= 1
    wanted = run.PER_LAYER if trace else run.END_TO_END
    assert {k: m["unit"] for k, m in result["metrics"].items()} == wanted
    for m in result["metrics"].values():
        assert isinstance(m["value"], (int, float)) and math.isfinite(m["value"])
    if not trace:
        assert all(m["value"] > 0 for m in result["metrics"].values())
    else:
        assert result["metrics"]["spark.jobs"]["value"] >= 1
        assert result["metrics"]["trace_overhead_ratio"]["value"] > 0


def test_unreadable_file_counts_as_failed(work):
    wl = workloads.make("vpic_count_then_extract", tiny=True)
    prepare = wl.prepare

    def prepare_then_corrupt(data_dir, seed):
        desc = prepare(data_dir, seed)
        many = wl.dirs["many"]
        with open(os.path.join(many, sorted(os.listdir(many))[0]), "wb") as fh:
            fh.write(b"not a parquet file")
        return desc

    wl.prepare = prepare_then_corrupt
    result = run.run(wl, 3, 1.0, False, work)
    assert not result["correct"]
    assert result["failed"] == result["attempted"] >= 1


def test_failing_query_counts_as_failed(work):
    wl = workloads.LibQueryMix(("agg_groupby_hash", "no_such_query"), 1)
    result = run.run(wl, 3, 1.0, False, work)
    assert not result["correct"]
    assert 0 < result["failed"] / result["attempted"] < 1
