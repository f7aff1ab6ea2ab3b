"""Tests of the benchmark itself.

    python3 -m pytest perfbench/tests -q

The fast tests need no Spark.  The slow ones run ``perfbench/run.py``
as a subprocess at sf0.001 (about a minute per run, seven runs): two
traced runs per workload on one seed must give identical per-operation
job, stage, task and table-load counts, the traced run must wrap every
engine binding of each layer entry point, and an untraced run must
leave no wrapper installed.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(os.path.dirname(HERE))
sys.path.insert(0, ROOT)

from perfbench import datagen, run, tracing  # noqa: E402

COUNT_KEYS = ("plans.build_jobs", "exec.jobs", "exec.stages", "exec.tasks",
              "sources.catalog.load_table_calls")
# c8's index-staleness gate collects an adaptive plan that submits one
# or two more broadcast jobs in some runs than in others (38 to 40 build
# jobs at sf0.001): the engine's count varies, not the tracing
VARIABLE_BUILD_JOBS = {"c8_ann_index_lifecycle": 2}


# ------------------------------------------------------------ no Spark

def test_tail_level_keeps_ten_samples_beyond():
    for n in (20, 28, 34, 100, 1000):
        level = run.tail_level(n)
        assert level >= 0.5
        assert n * (1 - level) >= 10 - 1e-9
        assert n * (1 - (level + 0.01)) < 10
    # too few samples for a percentile at or above the median: the 90th
    for n in (7, 14, 19):
        assert run.tail_level(n) == 0.9


def test_percentile_interpolates():
    assert run.percentile([3, 1, 2], 0.5) == 2
    assert run.percentile([0, 10], 0.25) == 2.5
    assert run.percentile([5], 0.9) == 5


def test_datagen_is_a_function_of_its_seed(tmp_path):
    a, b, c = tmp_path / "a", tmp_path / "b", tmp_path / "c"
    datagen.generate(str(a), 0.001, 42)
    datagen.generate(str(b), 0.001, 42)
    datagen.generate(str(c), 0.001, 7)
    for name in os.listdir(a):
        ta, tb = pq.read_table(a / name), pq.read_table(b / name)
        assert ta.equals(tb), name
    assert not pq.read_table(a / "documents.parquet").equals(
        pq.read_table(c / "documents.parquet"))


def test_self_time_subtracts_covered_children():
    parent = tracing.Span(0, "p", 0, None)
    kids = [tracing.Span(i, "c", 0, 0) for i in (1, 2, 3)]
    parent.start, parent.end = 0.0, 10.0
    (kids[0].start, kids[0].end), (kids[1].start, kids[1].end) = (1.0, 3.0), (2.0, 4.0)
    kids[2].start, kids[2].end = 6.0, 7.0
    assert tracing._self_time(parent, {0: kids}) == pytest.approx(6.0)


# ------------------------------------------------------ full runs

def _run(workload, seed, trace):
    out = subprocess.run(
        [sys.executable, os.path.join(ROOT, "perfbench", "run.py"),
         "--workload", workload, "--seed", str(seed), "--seconds", "1",
         "--trace", str(trace), "--sf", "0.001"],
        cwd=ROOT, capture_output=True, text=True, timeout=600)
    assert out.returncode == 0, out.stderr[-3000:]
    lines = out.stdout.strip().splitlines()
    summary = json.loads(lines[-2].split(" ", 1)[1])
    result = json.loads(lines[-1])
    assert result["correct"], summary["errors"]
    if not trace:
        return summary, result, None
    with open(os.path.join(ROOT, summary["trace_file"])) as f:
        return summary, result, json.load(f)


@pytest.fixture(scope="module")
def traced_twice():
    return {w: [_run(w, 11, 1) for _ in (0, 1)]
            for w in ("headline", "artifact", "ingest")}


@pytest.mark.parametrize("workload", ["headline", "artifact", "ingest"])
def test_counts_repeat_per_operation(traced_twice, workload):
    (_, _, trace_a), (_, _, trace_b) = traced_twice[workload]
    ops_a, ops_b = trace_a["ops"], trace_b["ops"]
    assert ops_a and [op["name"] for op in ops_a] == [op["name"] for op in ops_b]
    for a, b in zip(ops_a, ops_b):
        slack = VARIABLE_BUILD_JOBS.get(a["name"], 0)
        assert abs(a["plans.build_jobs"] - b["plans.build_jobs"]) <= slack, a["name"]
        for k in COUNT_KEYS[1:]:
            assert a[k] == b[k], (a["name"], k)
    assert sum(op["exec.jobs"] for op in ops_a) > 0


@pytest.mark.parametrize("workload", ["headline", "artifact", "ingest"])
def test_trace_wraps_every_binding(traced_twice, workload):
    summary, result, trace = traced_twice[workload][0]
    for target, (bound, patched) in trace["wrappers"].items():
        assert bound == patched and bound > 0, target
    # 16 plan and source modules import load_table by name
    assert trace["wrappers"]["dww_data_pipeline_spark.sources.catalog.load_table"][0] >= 16
    assert summary["wrappers_left"] == 0
    assert set(result["metrics"]) == set(run._units())


def test_load_table_is_wrapped_in_every_importing_module(traced_twice):
    summary, result, trace = traced_twice["headline"][0]
    # headline queries load their tables through many plan modules
    assert result["metrics"]["sources.catalog.load_table_calls"]["value"] >= 10
    assert sum(op["sources.catalog.load_table_jobs"] for op in trace["ops"]) > 0


# the layers each listed workload calls, so whose counters must move
CALLED_LAYERS = {
    "artifact": ("plans.build_jobs", "exec.jobs", "sources.catalog.load_table_calls",
                 "sources.tokenizer_store.lookups", "sources.ann_index.lifecycle_s",
                 "plans.dedup_plans.knn_edges_lookups", "operators.calls",
                 "operators.jobs"),
    "ingest": ("exec.jobs", "sources.shards.files_written", "sources.shards.bytes_written",
               "streaming.batches", "streaming.add_batch_ms",
               "streaming.ingest.rewrite_ratio"),
}


@pytest.mark.parametrize("workload", sorted(CALLED_LAYERS))
def test_listed_workloads_reach_their_layers(traced_twice, workload):
    _, result, _ = traced_twice[workload][0]
    for key in CALLED_LAYERS[workload]:
        assert result["metrics"][key]["value"] > 0, key


def test_untraced_run_installs_no_wrapper():
    summary, result, _ = _run("artifact", 3, 0)
    assert summary["wrappers_left"] == 0
    assert "wrappers_bound_patched" not in summary
    assert set(result["metrics"]) == {
        m["name"] for m in json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
        ["end_to_end"]}
