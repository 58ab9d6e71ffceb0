"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from anywhere inside a full checkout; everything it writes goes under
``.perfbench_work/`` at the checkout root.  Load is one process on
``local[<cpus>]`` as a closed loop: one job at a time, the next only after
the previous one finished.

Untraced (``--trace 0``), a run is:

1. inputs generated from ``--seed`` (cached by seed, outside every timer);
2. ``setup_s``: session start plus the cold first job;
3. the workload's warm-up jobs, not counted;
4. the window: jobs back to back until ``--seconds`` have passed and at
   least the workload's ``min_jobs`` ran; ``docs_per_s`` is input rows
   over the median job wall, ``cpu_s_per_kdoc`` the process tree's CPU
   over the jobs, ``peak_rss_mb`` the tree's peak resident memory (PSS)
   over the run;
5. the correctness gate, outside every timer.

The traced run (``--trace 1``) replaces the window with the workload's
layer split, records spans around each layer call and Spark's event log,
and prints the per-layer metrics.  The last stdout line is the result;
the line before it carries samples, steal and the gate's findings.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
# the checkout root, not this directory, is the import root
sys.path[0] = ROOT
WORK = os.path.join(ROOT, ".perfbench_work")

DRIVER_MEM = "2g"
# G1 sizes its young generation (and grows the heap) from measured GC
# times, so how much heap it touched varied by 1.1-1.8 GB between runs of
# the same inputs; a fixed young generation leaves heap growth to the
# old generation's occupancy, which the program's live data sets
YOUNG_GEN = "384m"
# G1 also grows the old generation whenever GC took more than its target
# share of the time (GCTimeRatio 12, about 8 %), which under neighbour load
# made the committed heap, and with it peak RSS, range over 1.9-2.7 GB
# between seeds of dedup_nearcopies; a 50 % target leaves the growth to
# live data (1.9-2.1 GB).  Young collections are unaffected: the young
# generation is fixed above
JVM_OPTIONS = f"-Xmn{YOUNG_GEN} -XX:GCTimeRatio=1"


def _units() -> tuple[dict, dict]:
    """Metric name -> unit, for end-to-end and per-layer metrics, from
    BENCHMARK.json (the one list of what a run reports)."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return (
        {m["name"]: m["unit"] for m in spec["end_to_end"]},
        {m["name"]: m["unit"] for m in spec["per_layer"]},
    )


class Ops:
    """Counts jobs attempted and jobs that raised or failed a check."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []

    def call(self, fn):
        self.attempted += 1
        try:
            return fn()
        except Exception as e:  # noqa: BLE001 - a failed job is a measured outcome
            self.failed += 1
            self.errors.append(f"{type(e).__name__}: {e}"[:500])
            return None

    def fail(self, reason: str) -> None:
        self.failed += 1
        self.errors.append(reason[:500])


def _workload(name: str):
    from perfbench import dedup, extraction

    for mod in (extraction, dedup):
        if mod.Workload.name == name:
            return mod.Workload
    raise SystemExit(f"unknown workload {name!r}")


def _session(cpus: int, run_dir: str, trace: bool):
    from ocr_api_spark.plans.session import build_session

    conf = {
        # Python workers import ocr_api_spark from the checkout whatever
        # the current directory is
        "spark.executorEnv.PYTHONPATH": ROOT,
        "spark.local.dir": os.path.join(run_dir, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        "spark.driver.extraJavaOptions": JVM_OPTIONS,
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + os.path.join(run_dir, "eventlog"),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
            # per-stage peaks of the JVM's heap and off-heap memory
            "spark.eventLog.logStageExecutorMetrics": "true",
            "spark.executor.metrics.pollingInterval": "100ms",
        })
    spark = build_session(
        app_name="perfbench", master=f"local[{cpus}]", shuffle_partitions=cpus, extra_conf=conf
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _stop_spark(spark) -> None:
    """Stop the session, then the gateway JVM (it exits when its stdin
    closes), and wait until no process this run started is left."""
    from pyspark import SparkContext

    from perfbench.proctree import tree_pids

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None and gateway.proc is not None:
        gateway.shutdown()
        gateway.proc.stdin.close()
        gateway.proc.wait(timeout=120)
        SparkContext._gateway = SparkContext._jvm = None
    deadline = time.monotonic() + 60
    while len(tree_pids()) > 1 and time.monotonic() < deadline:
        time.sleep(0.2)
    left = [p for p in tree_pids() if p != os.getpid()]
    if left:
        raise RuntimeError(f"processes still running after stop: {left}")


def _steal_pct(j0, j1) -> float:
    return 100.0 * (j1[1] - j0[1]) / max(j1[0] - j0[0], 1)


def _spread(samples: list[float]) -> dict:
    """Sample count, median and quartiles of the job walls.  A run's few
    jobs support no percentile above the median (that needs ten samples
    beyond it); pool the samples of several runs for a tail."""
    s = sorted(samples)
    out = {"n": len(s), "median": statistics.median(s), "min": s[0], "max": s[-1]}
    if len(s) >= 2:
        q = statistics.quantiles(s, n=4)
        out.update({"p25": q[0], "p75": q[2]})
    return out


def _event_metrics(run_dir: str, python_groups: set[str]) -> dict:
    from perfbench import eventlog

    log_dir = os.path.join(run_dir, "eventlog")
    (name,) = [f for f in os.listdir(log_dir) if not f.startswith(".")]
    groups = eventlog.parse_file(os.path.join(log_dir, name), python_groups)
    runs = [g for k, g in groups.items() if k.startswith("run:")]
    keys = set().union(*(g.keys() for g in runs))
    out = {k: statistics.median(g.get(k, 0.0) for g in runs) for k in keys}
    resume = groups.get("resume")
    if resume is not None:
        out["resume.spark_jobs"] = resume["spark.jobs"]
        out["resume.input_bytes"] = resume["spark.input_bytes"]
    return out


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    trace = bool(args.trace)

    # fail before any work outside a full checkout
    import ocr_api_spark  # noqa: F401
    from bench import _cpu_jiffies  # the /proc/stat reader behind bench.timed_best

    from perfbench.eventlog import job_group
    from perfbench.proctree import PeakRss, tree_cpu_s
    from perfbench.spans import Tracer, self_times

    e2e_units, layer_units = _units()
    cpus = len(os.sched_getaffinity(0))
    run_dir = os.path.join(WORK, "run")
    shutil.rmtree(run_dir, ignore_errors=True)
    for sub in ("tmp", "eventlog", "out"):
        os.makedirs(os.path.join(run_dir, sub))
    os.environ["TMPDIR"] = os.path.join(run_dir, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    # every JVM (the launcher too) keeps its temp and perf files in the run dir
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join([
        os.environ.get("JAVA_TOOL_OPTIONS", ""),
        f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')}",
        "-XX:-UsePerfData",
    ]).strip()
    # plans.session's driver heap; the 8g default lets the JVM grow to
    # whatever GC leaves behind, which makes peak RSS mostly GC timing
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable

    # wall time of each part of the run, for the detail line
    phases: dict[str, float] = {}
    t_phase = time.perf_counter()
    wl = _workload(args.workload)(WORK, run_dir, args.seed)
    phases["inputs_s"] = time.perf_counter() - t_phase
    tracer = Tracer(enabled=trace)
    ops = Ops()
    samples: list[float] = []
    steal: list[float] = []
    cpu_s = 0.0
    layers: dict = {}
    spark = None
    try:
        with PeakRss() as rss:
            j_run0 = _cpu_jiffies()
            t0 = time.perf_counter()
            with tracer.span("setup"):
                spark = _session(cpus, run_dir, trace)
                wl.spark, wl.tracer = spark, tracer
                with job_group(spark.sparkContext, "cold"):
                    res = ops.call(wl.job)
            setup_s = time.perf_counter() - t0
            t_phase = time.perf_counter()
            if res is None:
                raise RuntimeError(f"cold job failed: {ops.errors[-1]}")
            if not wl.after_job(res):
                ops.fail("cold job output wrong")
            with job_group(spark.sparkContext, "warmup"):
                for _ in range(wl.warmup_jobs):
                    res = ops.call(wl.job)
                    if res is not None and not wl.after_job(res):
                        ops.fail("warm-up output differs from the first output")

            phases["warmup_s"] = time.perf_counter() - t_phase
            t_phase = time.perf_counter()
            if trace:
                layers = wl.traced(tracer, ops)
            else:
                t_window = time.perf_counter()
                while time.perf_counter() - t_window < args.seconds or len(samples) < wl.min_jobs:
                    if ops.failed > 3:
                        break
                    j0, c0, t = _cpu_jiffies(), tree_cpu_s(), time.perf_counter()
                    res = ops.call(wl.job)
                    dt, c1, j1 = time.perf_counter() - t, tree_cpu_s(), _cpu_jiffies()
                    if res is None:
                        continue
                    samples.append(dt)
                    cpu_s += c1 - c0
                    steal.append(_steal_pct(j0, j1))
                    if not wl.after_job(res):
                        ops.fail("output differs from the first output")
            run_steal = _steal_pct(j_run0, _cpu_jiffies())
            phases["window_s"] = time.perf_counter() - t_phase
    finally:
        t_phase = time.perf_counter()
        if spark is not None:
            _stop_spark(spark)
        phases["stop_s"] = time.perf_counter() - t_phase

    t_phase = time.perf_counter()
    problems = wl.verify()
    phases["gate_s"] = time.perf_counter() - t_phase
    if problems:
        ops.fail("; ".join(problems))

    detail = {
        "workload": wl.name, "seed": args.seed, "trace": int(trace), "cpus": cpus,
        "rows": wl.rows, "setup_s": setup_s, "job_s": _spread(samples) if samples else None,
        "job_s_samples": samples, "steal_pct_per_job": steal, "steal_pct_run": run_steal,
        "rss_mb_at_peak": rss.at_peak, "phases_s": phases,
        "errors": ops.errors, "problems": problems,
    }
    if trace:
        metrics = dict.fromkeys(layer_units, 0)
        metrics.update(layers)
        metrics.update(getattr(wl, "row_counts", {}))
        metrics.update(_event_metrics(run_dir, wl.python_groups))
        metrics["failed_ops_share"] = ops.failed / max(ops.attempted, 1)
        metrics["host.steal_pct"] = run_steal
        tracer.write(os.path.join(run_dir, "spans.json"))
        detail["self_s"] = self_times(tracer.spans)
        units = layer_units
    else:
        if not samples:
            raise RuntimeError(f"no job completed in the window: {ops.errors}")
        rows_done = wl.rows * len(samples)
        metrics = {
            "docs_per_s": wl.rows / statistics.median(samples),
            "setup_s": setup_s,
            "cpu_s_per_kdoc": cpu_s / (rows_done / 1000),
            "peak_rss_mb": rss.peak / 2**20,
            "ok_ops_share": 1 - ops.failed / max(ops.attempted, 1),
        }
        units = e2e_units

    if set(metrics) != set(units):
        raise RuntimeError(f"metrics {sorted(metrics)} do not match BENCHMARK.json {sorted(units)}")
    print(json.dumps({"detail": detail}))
    print(json.dumps({
        "correct": ops.failed == 0,
        "attempted": ops.attempted,
        "failed": ops.failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }))
    shutil.rmtree(os.path.join(run_dir, "out"), ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
