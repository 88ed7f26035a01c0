"""Unit tests of the benchmark's own arithmetic: the tail-percentile
rule, the growth ratio, the event-log parser and span self time.

    python3 -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import json
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import eventlog  # noqa: E402
import stats  # noqa: E402
from tracing import coverage, self_times_ms  # noqa: E402


# -- tail percentile ------------------------------------------------------

def test_tail_leaves_ten_samples_beyond():
    values = list(range(100, 0, -1))  # unsorted on purpose
    t = stats.tail(values)
    assert t == {"value": 90, "percentile": 90.0, "samples": 100}
    assert sum(v > t["value"] for v in values) == 10


def test_tail_needs_more_than_ten_samples():
    assert stats.tail(list(range(10))) is None
    assert stats.tail([]) is None
    t = stats.tail(list(range(11)))
    assert t["value"] == 0 and t["samples"] == 11
    assert t["percentile"] == pytest.approx(9.1)


def test_tail_of_twenty_is_the_median_rank():
    t = stats.tail([float(v) for v in range(1, 21)])
    assert t["value"] == 10.0 and t["percentile"] == 50.0


def test_tail_with_ties_counts_ranks():
    t = stats.tail([5.0] * 30)
    assert t["value"] == 5.0 and t["percentile"] == pytest.approx(66.7)


# -- growth ratio ---------------------------------------------------------

def test_growth_skips_day_one_and_compares_quarters():
    # day 1 (cold) is left out; the rest split into quarters of two
    assert stats.growth([99.0, 1, 1, 3, 3, 3, 3, 2, 2]) == 2.0


def test_growth_needs_two_days_after_the_first():
    assert stats.growth([5.0, 4.0]) is None
    assert stats.growth([5.0, 4.0, 6.0]) == 1.5


# -- event log --------------------------------------------------------------

def _acc(name, value):
    return {"ID": hash(name) % 1000, "Name": name, "Value": value,
            "Internal": True, "Count Failed Values": True}


def _events():
    group = {"spark.jobGroup.id": "pb-7", "spark.job.description": "x"}
    return [
        {"Event": "SparkListenerApplicationStart", "App Name": "t"},
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Stage IDs": [0, 1],
         "Stage Infos": [], "Properties": group},
        {"Event": "SparkListenerStageSubmitted",
         "Stage Info": {"Stage ID": 0, "Number of Tasks": 4},
         "Properties": group},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 0},
        {"Event": "SparkListenerStageCompleted", "Stage Info": {
            "Stage ID": 0, "Stage Attempt ID": 0, "Number of Tasks": 4,
            "Accumulables": [
                _acc("internal.metrics.executorRunTime", 120),
                _acc("internal.metrics.executorCpuTime", "90000000"),
                _acc("internal.metrics.shuffle.write.bytesWritten", 512),
                _acc("internal.metrics.input.bytesRead", 2048),
                _acc("number of output rows", 77),
            ]}},
        # stage 1 never had its own submit event: filed by the job
        {"Event": "SparkListenerStageCompleted", "Stage Info": {
            "Stage ID": 1, "Stage Attempt ID": 0, "Number of Tasks": 2,
            "Accumulables": [
                _acc("internal.metrics.executorRunTime", 30),
                _acc("internal.metrics.shuffle.read.remoteBytesRead", 100),
                _acc("internal.metrics.shuffle.read.localBytesRead", 412),
                _acc("internal.metrics.output.bytesWritten", 64),
            ]}},
        # a job outside any span
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Stage IDs": [2],
         "Properties": {}},
        {"Event": "SparkListenerStageCompleted", "Stage Info": {
            "Stage ID": 2, "Number of Tasks": 1, "Accumulables": [
                _acc("internal.metrics.executorRunTime", 5)]}},
    ]


def test_eventlog_attributes_stages_to_job_groups():
    groups = eventlog.parse_lines(json.dumps(e) for e in _events())
    g = groups["pb-7"]
    assert (g["jobs"], g["stages"], g["tasks"]) == (1, 2, 6)
    assert g["executor_run_ms"] == 150
    assert g["executor_cpu_ns"] == 90_000_000
    assert g["shuffle_read_bytes"] == 512
    assert g["shuffle_write_bytes"] == 512
    assert g["input_bytes"] == 2048
    assert g["output_bytes"] == 64
    assert groups[""]["jobs"] == 1 and groups[""]["executor_run_ms"] == 5


def test_eventlog_parse_reads_the_log_directory(tmp_path):
    (tmp_path / "local-123").write_text(
        "\n".join(json.dumps(e) for e in _events()) + "\n")
    assert eventlog.parse(str(tmp_path)) == eventlog.parse_lines(
        json.dumps(e) for e in _events())


# -- spans --------------------------------------------------------------------

def _span(i, parent, op, start, end):
    return {"id": i, "name": f"s{i}", "parent": parent, "op": op,
            "start": start * 1_000_000, "end": end * 1_000_000}


def test_self_time_subtracts_direct_children():
    spans = [
        _span(0, None, 0, 0, 100),
        _span(1, 0, 0, 5, 45),
        _span(2, 1, 0, 10, 30),
        _span(3, 0, 0, 50, 98),
    ]
    own = self_times_ms(spans)
    assert own == {0: 12.0, 1: 20.0, 2: 20.0, 3: 48.0}
    assert coverage(spans) == {0: pytest.approx(0.88)}


# -- BENCHMARK.json ----------------------------------------------------------

def _benchmark_json() -> dict:
    path = os.path.join(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))), "BENCHMARK.json")
    with open(path) as f:
        return json.load(f)


def test_op_cpu_is_over_the_leading_ops_only():
    import metrics

    ops = [{"kind": "write", "cpu_ms": 30.0},  # day 1, cold
           {"kind": "write", "cpu_ms": 10.0, "raised": True},
           {"kind": "write", "cpu_ms": 20.0},
           {"kind": "write", "cpu_ms": 1.0},   # beyond the gated head
           {"kind": "build", "cpu_ms": 99.0}]
    head = metrics.gated({"ops": ops, "gated_ops": 3})
    assert [o["cpu_ms"] for o in head] == [30.0, 20.0]


def test_benchmark_json_lists_what_the_runs_report():
    import metrics

    doc = _benchmark_json()
    assert {m["name"]: m["unit"] for m in doc["end_to_end"]} == (
        metrics.CONTRACT_E2E
    )
    listed = {m["name"]: m["unit"] for m in doc["per_layer"]}
    queries = [
        name[len("queries."):-len("_ms")] for name in listed
        if name.startswith("queries.")
        and name not in ("queries.build_ms", "queries.collect_ms")
    ]
    assert len(queries) == 17
    reported = metrics.contract_layers(
        metrics.per_layer({"ops": []}, [], {}, queries, 1)
    )
    assert listed == {name: m["unit"] for name, m in reported.items()}


def test_benchmark_json_is_within_its_limits():
    doc = _benchmark_json()
    assert set(doc) == {"command", "paths", "run_seconds", "workloads",
                        "end_to_end", "per_layer"}
    assert 2 <= len(doc["workloads"]) <= 8
    assert any(m["name"] == "setup_s" and m["unit"] == "s"
               and m["better"] == "lower" for m in doc["end_to_end"])
    names = [m["name"] for m in doc["end_to_end"] + doc["per_layer"]]
    assert len(names) == len(set(names))
    for m in doc["end_to_end"]:
        assert 0 < m["bound"] <= 0.25
    for w in doc["workloads"]:
        assert set(w) == {"name", "why"} and len(w["why"]) <= 200
    assert 1 <= doc["run_seconds"] <= 60


def test_result_line_metrics_hold_value_and_unit_only():
    import metrics
    import run as runner

    ops = [{"kind": "write", "ms": 5.0, "cpu_ms": 7.0, "ok": True,
            "fact_rows": 10}] * 3
    run = {"workload": "daily_ingest", "setup_s": 1.5, "run_s": 2.0,
           "peak_rss_mb": 900.0, "failed": 0, "attempted": 3, "trace": 0,
           "ops": ops, "gated_ops": 3}
    run["end_to_end"] = metrics.end_to_end(run)
    assert run["end_to_end"]["op_cpu_ms"]["samples"] == 3  # in the report
    run["contract"] = metrics.contract(run)
    line = runner.result_line(run)
    assert set(line) == {"correct", "attempted", "failed", "metrics"}
    assert set(line["metrics"]) == set(metrics.CONTRACT_E2E)
    for name, m in line["metrics"].items():
        assert m == {"value": m["value"], "unit": metrics.CONTRACT_E2E[name]}
        assert isinstance(m["value"], float) and m["value"] > 0
    run.update(trace=1,
               per_layer=metrics.per_layer({"ops": []}, [], {}, [], 1))
    for m in runner.result_line(run)["metrics"].values():
        assert set(m) == {"value", "unit"}
