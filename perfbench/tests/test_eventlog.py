"""Event-log parser against a tiny hand-written Spark 4.1 log.

Run with ``python -m pytest perfbench/tests -q`` from the checkout root.
"""

from __future__ import annotations

import json
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))))

from perfbench import eventlog  # noqa: E402

FIXTURE = os.path.join(os.path.dirname(os.path.abspath(__file__)), "fixtures", "eventlog_small.jsonl")


def _lines():
    with open(FIXTURE) as f:
        return f.read().splitlines()


def test_task_metrics_sum_per_job_group():
    g = eventlog.parse(_lines(), python_groups={"run:0"})
    assert set(g) == {"run:0"}  # the ungrouped job's tasks are not counted
    run = g["run:0"]
    assert run["spark.jobs"] == 1
    assert run["spark.executor_run_s"] == pytest.approx(6.4)
    assert run["spark.executor_cpu_s"] == pytest.approx(1.4)
    assert run["spark.jvm_gc_s"] == pytest.approx(0.03)
    assert run["spark.spill_bytes"] == 64
    assert run["spark.input_bytes"] == 4000
    assert run["spark.shuffle_write_bytes"] == 1200
    assert run["spark.shuffle_read_bytes"] == 2400
    # heaviest stage (1): max 4000 ms over median 1000 ms
    assert run["spark.task_skew"] == pytest.approx(4.0)


def test_jvm_memory_peaks_per_job_group():
    run = eventlog.parse(_lines())["run:0"]
    # max over the group's tasks; the ungrouped job's 2 GiB task is not counted
    assert run["spark.jvm_heap_peak_mb"] == pytest.approx(512.0)
    assert run["spark.jvm_offheap_peak_mb"] == pytest.approx(125.0)


def test_python_udf_metrics_scaled_by_declared_type():
    run = eventlog.parse(_lines(), python_groups={"run:0"})["run:0"]
    assert run["udf.python_total_s"] == pytest.approx(1.75)  # "timing" is ms
    assert run["udf.python_boot_s"] == pytest.approx(0.04)
    assert run["udf.data_sent_bytes"] == 3072
    assert run["udf.data_received_bytes"] == 6144


def _edited(fn):
    out = []
    for line in _lines():
        ev = json.loads(line)
        fn(ev)
        out.append(json.dumps(ev))
    return out


def test_renamed_task_metric_fails_loudly():
    def rename(ev):
        if ev["Event"] == "SparkListenerTaskEnd":
            ev["Task Metrics"]["Executor Run Time (ms)"] = ev["Task Metrics"].pop("Executor Run Time")

    with pytest.raises(KeyError):
        eventlog.parse(_edited(rename))


def test_renamed_memory_metric_fails_loudly():
    def rename(ev):
        if ev["Event"] == "SparkListenerTaskEnd":
            ev["Task Executor Metrics"]["JVMHeapUsed"] = ev["Task Executor Metrics"].pop("JVMHeapMemory")

    with pytest.raises(KeyError):
        eventlog.parse(_edited(rename))


def test_renamed_python_metric_fails_loudly():
    def rename(ev):
        if ev["Event"].endswith("SQLExecutionStart"):
            for m in ev["sparkPlanInfo"]["children"][0]["metrics"]:
                m["name"] = m["name"].replace("time to run", "time spent in")
        if ev["Event"] == "SparkListenerTaskEnd":
            for acc in ev["Task Info"]["Accumulables"]:
                acc["Name"] = acc["Name"].replace("time to run", "time spent in")

    with pytest.raises(ValueError, match="time to run Python workers"):
        eventlog.parse(_edited(rename), python_groups={"run:0"})
    # a JVM-only workload does not require the UDF metrics
    assert eventlog.parse(_edited(rename))["run:0"]["udf.python_total_s"] == 0.0


def test_missing_group_fails_loudly():
    with pytest.raises(ValueError, match="run:1"):
        eventlog.parse(_lines(), python_groups={"run:0", "run:1"})
