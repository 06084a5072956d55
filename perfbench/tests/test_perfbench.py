"""Tests of the benchmark's own code.

    python3 -m pytest perfbench/tests -q

The smoke tests start Spark and take about a minute each; deselect them
with ``-m 'not smoke'``.
"""

from __future__ import annotations

import json
import math
import os
import sys

import pytest

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import datagen  # noqa: E402
import run  # noqa: E402
from workloads import END_TO_END, PER_LAYER, WORKLOADS  # noqa: E402


def test_self_time_subtracts_union_of_children_inside_parent():
    assert run.self_time((0.0, 10.0), []) == 10.0
    assert run.self_time((0.0, 10.0), [(1.0, 3.0), (5.0, 6.0)]) == 7.0
    # overlapping children count once
    assert run.self_time((0.0, 10.0), [(1.0, 4.0), (2.0, 5.0)]) == 6.0
    # a child sticking out of the parent only covers its inside part
    assert run.self_time((0.0, 10.0), [(-2.0, 1.0), (9.0, 12.0)]) == 8.0


def test_span_self_times_use_each_spans_children():
    spans = [
        {"id": 0, "parent": None, "start": 0.0, "end": 10.0},
        {"id": 1, "parent": 0, "start": 1.0, "end": 4.0},
        {"id": 2, "parent": 1, "start": 2.0, "end": 3.0},
    ]
    assert [s["self_s"] for s in run.span_self_times(spans)] == [7.0, 2.0, 1.0]


def _fake_result(trace: bool) -> dict:
    keys = ["a", "b"]
    passes = [
        {"kind": "plain", "seconds": 3.0, "keys": {"a": 1.0, "b": 2.0}},
        {"kind": "plain", "seconds": 5.0, "keys": {"a": 1.0, "b": 4.0}},
        {"kind": "plain", "seconds": 4.0, "keys": {"a": 2.0, "b": 2.0}},
    ]
    res = {
        "keys": keys,
        "setup": {"session.start_ms": 5000.0, "registry.import_ms": 500.0},
        "cold": {"kind": "cold", "seconds": 9.0, "keys": {"a": 4.0, "b": 5.0}},
        "warmups": [],
        "passes": passes,
        "hwm_mb": {"jvm": 1500.0, "python": 200.0},
    }
    if trace:
        res["passes"] = passes + [{"kind": "traced", "seconds": 4.4, "keys": {}}]
        res["layers"] = {
            "a": [{"build.ms": 10.0, "exec.run_ms": 400.0, "wall.ms": 1000.0,
                   "exec.peak_memory_bytes": 5.0, "stream.batches": 4.0,
                   "stream.empty_batches": 1.0, "scan.input_bytes": 100.0,
                   "sink.output_bytes": 50.0}],
            "b": [{"build.ms": 30.0, "exec.run_ms": 400.0, "wall.ms": 1000.0,
                   "exec.peak_memory_bytes": 9.0},
                  {"build.ms": 50.0, "exec.run_ms": 400.0, "wall.ms": 1000.0,
                   "exec.peak_memory_bytes": 7.0}],
        }
    return res


def test_end_to_end_values_and_sample_counts():
    values, counts = run.end_to_end(_fake_result(False), [{"session.start_ms": 6000.0,
                                                           "registry.import_ms": 500.0}])
    assert values["setup_s"] == 6.0  # median of 5.5 and 6.5
    assert values["cold_pass_s"] == 9.0
    assert values["pass_s"] == 4.0
    # per-key medians over plain passes are a=1.0, b=2.0
    assert math.isclose(values["query_geomean_s"], math.sqrt(2.0))
    assert counts == {"setup_s": 2, "cold_pass_s": 1, "pass_s": 3, "query_geomean_s": 2}
    assert set(values) == set(END_TO_END)


def test_layer_totals_sum_max_and_ratios():
    values, per_key = run.layer_totals(_fake_result(True), cpus=4)
    assert set(values) == set(PER_LAYER)
    assert per_key["b"]["build.ms"] == 40.0  # median over b's two traced passes
    assert values["build.ms"] == 50.0
    assert values["exec.peak_memory_bytes"] == 8.0
    assert math.isclose(values["exec.busy_frac"], 800.0 / (2000.0 * 4))
    assert values["stream.empty_batch_frac"] == 0.25
    assert values["sink.bytes_per_input_byte"] == 0.5
    assert math.isclose(values["trace.overhead_frac"], 0.1)
    assert values["session.start_ms"] == 5000.0
    assert values["mem.jvm_hwm_mb"] == 1500.0


def test_metric_names_equal_benchmark_json():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert [w["name"] for w in bench["workloads"]] == list(WORKLOADS)
    assert {m["name"]: (m["unit"], m["better"]) for m in bench["end_to_end"]} == END_TO_END
    assert {m["name"]: (m["unit"], m["better"]) for m in bench["per_layer"]} == {
        n: v[:2] for n, v in PER_LAYER.items()
    }


def test_log_records_are_tied_to_keys(tmp_path):
    log = tmp_path / "worker.log"
    log.write_text(
        "26/10/16 18:00:00 WARN NativeCodeLoader: fine\n"
        "perfbench-key k1 pass 1\n"
        "26/10/16 18:00:01 ERROR Executor: Exception in task 0.0\n"
        "java.lang.RuntimeException: boom\n"
        "\tat org.example.Foo.bar(Foo.java:1)\n"
        "perfbench-key k2 pass 1\n"
        "26/10/16 18:00:02 ERROR MicroBatchExecution: Query terminated with error\n"
        "RuntimeError: injected crash after commit, before checkpoint\n"
    )
    records = run.attribute_log(str(log))
    assert [(r["key"], r["pass"], r["expected"]) for r in records] == [
        ("k1", "1", False), ("k2", "1", True)]
    assert records[0]["lines"] == 3


def test_datagen_is_deterministic_and_sized():
    a, b = datagen.build_tables(0.001), datagen.build_tables(0.001)
    assert all(a[n].equals(b[n]) for n in datagen.TABLES)
    counts = datagen.row_counts(0.001)
    assert {n: a[n].num_rows for n in datagen.TABLES} == counts
    assert counts["lineitem"] == 6000 and counts["documents"] == 500


@pytest.mark.smoke
@pytest.mark.parametrize("workload", sorted(WORKLOADS))
def test_smoke_one_workload_at_sf0001(workload, tmp_path):
    """The shortest run at sf0.001: a cold pass, a warm-up pass and the
    minimum of two timed passes, every result checked against the oracle."""
    sf_dir = datagen.ensure_dataset(str(tmp_path / "data"), 0.001)
    env = run.host_env(str(tmp_path / "work"), run.host_facts())
    out = tmp_path / "result.json"
    cmd = [sys.executable, os.path.join(HERE, "worker.py"), "--workload", workload,
           "--seed", "0", "--seconds", "0", "--trace", "0", "--sf-dir", sf_dir,
           "--out", str(out)]
    with open(tmp_path / "worker.log", "w") as log:
        rc = run.run_child(cmd, env, str(tmp_path / "work"), log, deadline=1e12)
    assert rc == 0, (tmp_path / "worker.log").read_text()[-3000:]
    res = json.loads(out.read_text())
    assert res["errors"] == []
    assert res["attempted"] == 4 * len(WORKLOADS[workload]["keys"])
