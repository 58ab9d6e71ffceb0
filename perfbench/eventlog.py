"""Parse Spark's own event log (uncompressed JSON lines) into per-job-group
stage metrics.

The benchmark tags every job it launches with ``sc.setJobGroup``; this
module maps task-end events to their stage, stage to job and job to
group, then sums task metrics and the Python UDF SQL metrics per group,
and keeps the peak JVM heap and off-heap memory the tasks saw.

Required keys are read with ``[]`` so that a Spark rename raises instead
of silently reading as zero.  The Python UDF metrics are SQL metrics that
tasks only report when non-zero (boot time is zero once workers are
reused), so their names must instead be declared by a query plan in the
log whenever a group is expected to run the UDF.
"""

from __future__ import annotations

import json
import statistics
from contextlib import contextmanager

# Spark's PythonSQLMetrics display names -> reported metric names
PYTHON_METRICS = {
    "time to run Python workers": "udf.python_total_s",
    "time to start Python workers": "udf.python_boot_s",
    "data sent to Python workers": "udf.data_sent_bytes",
    "data returned from Python workers": "udf.data_received_bytes",
}
_JOB_START = "SparkListenerJobStart"
_TASK_END = "SparkListenerTaskEnd"
_SQL_START = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart"
_SQL_AQE_UPDATE = "org.apache.spark.sql.execution.ui.SparkListenerSQLAdaptiveExecutionUpdate"


@contextmanager
def job_group(sc, group: str):
    """Tag every job started inside the block with ``group``."""
    sc.setJobGroup(group, group)
    try:
        yield
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)


def _plan_metrics(plan: dict, types: dict[int, str], names: set[str]) -> None:
    for m in plan["metrics"]:
        types[int(m["accumulatorId"])] = m["metricType"]
        names.add(m["name"])
    for child in plan["children"]:
        _plan_metrics(child, types, names)


def _scaled(value, metric_type: str) -> float:
    v = float(value)
    if metric_type == "nsTiming":
        return v / 1e9
    if metric_type == "timing":
        return v / 1e3
    return v


def _empty() -> dict:
    return {
        "spark.jobs": 0,
        "spark.executor_run_s": 0.0,
        "spark.executor_cpu_s": 0.0,
        "spark.jvm_gc_s": 0.0,
        "spark.shuffle_write_bytes": 0,
        "spark.shuffle_read_bytes": 0,
        "spark.spill_bytes": 0,
        "spark.input_bytes": 0,
        "spark.jvm_heap_peak_mb": 0.0,
        "spark.jvm_offheap_peak_mb": 0.0,
        "_stage_task_ms": {},
        "_python": {},
    }


def parse(lines, python_groups: set[str] = frozenset()) -> dict[str, dict]:
    """Metrics per job group.  ``lines`` is an iterable of event-log lines.
    Every group in ``python_groups`` must exist, and the log's plans must
    declare every ``PYTHON_METRICS`` name when that set is non-empty."""
    stage_group: dict[int, str | None] = {}
    metric_types: dict[int, str] = {}
    declared: set[str] = set()
    groups: dict[str, dict] = {}

    for line in lines:
        if not line.strip():
            continue
        ev = json.loads(line)
        kind = ev["Event"]
        if kind == _JOB_START:
            group = ev["Properties"].get("spark.jobGroup.id")
            for sid in ev["Stage IDs"]:
                stage_group[sid] = group
            if group is not None:
                groups.setdefault(group, _empty())["spark.jobs"] += 1
        elif kind in (_SQL_START, _SQL_AQE_UPDATE):
            _plan_metrics(ev["sparkPlanInfo"], metric_types, declared)
        elif kind == _TASK_END:
            group = stage_group.get(ev["Stage ID"])
            if group is None:
                continue
            g = groups.setdefault(group, _empty())
            tm = ev["Task Metrics"]
            g["spark.executor_run_s"] += tm["Executor Run Time"] / 1e3
            g["spark.executor_cpu_s"] += tm["Executor CPU Time"] / 1e9
            g["spark.jvm_gc_s"] += tm["JVM GC Time"] / 1e3
            g["spark.spill_bytes"] += tm["Disk Bytes Spilled"]
            g["spark.input_bytes"] += tm["Input Metrics"]["Bytes Read"]
            g["spark.shuffle_write_bytes"] += tm["Shuffle Write Metrics"]["Shuffle Bytes Written"]
            sr = tm["Shuffle Read Metrics"]
            g["spark.shuffle_read_bytes"] += sr["Remote Bytes Read"] + sr["Local Bytes Read"]
            # the executor's memory peaks while the task ran (sampled every
            # spark.executor.metrics.pollingInterval)
            em = ev["Task Executor Metrics"]
            g["spark.jvm_heap_peak_mb"] = max(g["spark.jvm_heap_peak_mb"], em["JVMHeapMemory"] / 2**20)
            g["spark.jvm_offheap_peak_mb"] = max(
                g["spark.jvm_offheap_peak_mb"], em["JVMOffHeapMemory"] / 2**20
            )
            g["_stage_task_ms"].setdefault(ev["Stage ID"], []).append(tm["Executor Run Time"])
            for acc in ev["Task Info"]["Accumulables"]:
                name = acc.get("Name")
                if name in PYTHON_METRICS:
                    key = PYTHON_METRICS[name]
                    mtype = metric_types.get(int(acc["ID"]), "sum")
                    g["_python"][key] = g["_python"].get(key, 0.0) + _scaled(acc["Update"], mtype)

    out = {}
    for name, g in groups.items():
        stage_ms = g.pop("_stage_task_ms")
        python = g.pop("_python")
        if stage_ms:
            heaviest = max(stage_ms.values(), key=sum)
            g["spark.task_skew"] = max(heaviest) / max(statistics.median(heaviest), 1.0)
        else:
            g["spark.task_skew"] = 1.0
        g.update({key: python.get(key, 0.0) for key in PYTHON_METRICS.values()})
        out[name] = g
    missing_groups = sorted(set(python_groups) - set(out))
    if missing_groups:
        raise ValueError(f"event log has no jobs for groups {missing_groups}")
    undeclared = sorted(set(PYTHON_METRICS) - declared) if python_groups else []
    if undeclared:
        raise ValueError(f"no plan in the event log declares Python UDF metrics {undeclared}")
    return out


def parse_file(path: str, python_groups: set[str] = frozenset()) -> dict[str, dict]:
    with open(path) as f:
        return parse(f, python_groups)
