"""The repository benchmark: one workload, one seed, one measured window.

    python3 perfbench/run.py --workload corpus_suite --seed 1 --seconds 12 --trace 0

``--trace 0`` sets up ``SETUPS`` times (session start, input generation,
oracle, warm-up; the median is ``setup_s``), then runs the workload's job
for ``--seconds`` and checks every output. ``--trace 1`` sets up once,
measures half the window untraced and half traced (event log on, traced
kernels), then times the layer controls and the aggregate stages.

The last stdout line is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` (end-to-end metrics untraced, per-layer metrics
traced). The line before it is a readable summary that also carries
``failed_share`` and ``est_outside_bound_share``. ``--inject`` damages a
partial state or the oracle; it exists for ``selftest.py``.
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import shutil
import statistics
import subprocess
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from pyspark import SparkContext  # noqa: E402

from cardinality_estimation_evaluation_framework_spark.session import get_spark  # noqa: E402
from perfbench import eventlog  # noqa: E402
from perfbench.spans import SpanLog, read_spans  # noqa: E402
from perfbench.workloads import WORKLOADS, Check  # noqa: E402

SETUPS = 3
MIN_JOBS = 3
#: per half of the traced run (untraced half, traced half)
MIN_TRACE_JOBS = 2
TRACED_GROUP = "perfbench-traced"

END_TO_END_UNITS = {
    "setup_s": "s",
    "job_s_p50": "s",
    "tokens_per_s": "1/s",
    "sim_runs_per_s": "1/s",
    "driver_peak_rss_mb": "MB",
}

SPARK_LAYER = {
    "spark.python_rows_sent": ("python_rows_sent", "count"),
    "spark.python_bytes_sent": ("python_bytes_sent", "bytes"),
    "spark.shuffle_write_bytes": ("shuffle_write_bytes", "bytes"),
    "spark.shuffle_read_bytes": ("shuffle_read_bytes", "bytes"),
    "spark.task_run_s": ("task_run_s", "s"),
    "spark.task_cpu_s": ("task_cpu_s", "s"),
    "spark.gc_s": ("gc_s", "s"),
    "spark.jobs": ("jobs", "count"),
    "spark.stages": ("stages", "count"),
    "spark.tasks": ("tasks", "count"),
}

# per-layer name -> (span name, "s" for its summed time or "amount", unit)
SPAN_LAYER = {
    "sketches.update_s": ("sketches.update", "s", "s"),
    "sketches.update_items": ("sketches.update", "amount", "count"),
    "sketches.pack_s": ("sketches.pack", "s", "s"),
    "sketches.pack_bytes": ("sketches.pack", "amount", "bytes"),
    "sketches.merge_packed_s": ("sketches.merge_packed", "s", "s"),
    "sketches.merge_packed_inputs": ("sketches.merge_packed", "amount", "count"),
    "sketches.unpack_s": ("sketches.unpack", "s", "s"),
    "sketches.estimate_s": ("sketches.estimate", "s", "s"),
    "set_generators.generate_s": ("set_generators.generate", "s", "s"),
    "set_generators.ids": ("set_generators.generate", "amount", "count"),
    "estimators.estimate_s": ("estimators.estimate", "s", "s"),
}

OTHER_LAYER_UNITS = {
    "control.jvm_scan_s": "s",
    "control.arrow_passthrough_s": "s",
    "aggregate.stage1_s": "s",
    "aggregate.merge_s": "s",
    "aggregate.estimate_s": "s",
    "aggregate.partials": "count",
    "aggregate.partial_bytes": "bytes",
    "sketches.update_ns_per_item": "ns",
    "simulator.run_s_p50": "s",
    "evaluator.cell_s_p50": "s",
    "analyzer.s": "s",
    "trace.overhead_share": "ratio",
}


def configure_env(work: str) -> None:
    """Keep every file Spark, the JVM and Python workers write inside the
    checkout, and cap the driver heap."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    # spark-submit first runs a short launcher JVM of its own
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH", "")) if p)
    os.environ["SPARK_DRIVER_MEMORY"] = "2g"
    os.environ.pop("SPARK_GRAFT_MASTER", None)


def start_session(work: str, cores: int, event_dir: str | None = None):
    conf = {
        "spark.local.dir": os.path.join(work, "local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData",
        "spark.ui.showConsoleProgress": "false",
        # one input split per parquet file, however small the files are
        "spark.sql.files.openCostInBytes": str(128 << 20),
    }
    if event_dir is not None:
        os.makedirs(event_dir, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + event_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return get_spark("perfbench", cores=cores, extra_conf=conf)


def stop_jvm() -> None:
    """Shut the py4j gateway and wait for the JVM it launched to exit."""
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits on EOF of its stdin
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def measure(wl, spark, seconds: float, min_jobs: int, log: SpanLog | None = None):
    """Run jobs until ``seconds`` pass and ``min_jobs`` ran; returns the
    list of (seconds or None, Check)."""
    jobs = []
    deadline = time.perf_counter() + seconds
    while time.perf_counter() < deadline or len(jobs) < min_jobs:
        try:
            sec, out = wl.run_job(spark, log)
            chk = wl.check(out)
        except Exception as exc:  # a failed job is counted, the run goes on
            traceback.print_exc()
            sec, chk = None, Check(False, detail=repr(exc))
        if not chk.ok:
            print(f"# check failed: {chk.detail}", file=sys.stderr)
        jobs.append((sec, chk))
    return jobs


def median_time(jobs) -> float:
    times = [sec for sec, _ in jobs if sec is not None]
    if not times:
        raise RuntimeError("no job completed")
    return statistics.median(times)


def run_untraced(wl, work, seconds):
    """setup_s = session start + the median of SETUPS input generations and
    oracle computations + the warm-up jobs. The JVM launch and its first
    jobs happen once per process, so only the middle part is repeated."""
    t0 = time.perf_counter()
    spark = start_session(work, wl.nproc) if wl.needs_spark else None
    session_s = time.perf_counter() - t0
    prepare_s, prints = [], set()
    for _ in range(SETUPS):
        t0 = time.perf_counter()
        wl.generate()
        wl.compute_oracle(spark)
        prepare_s.append(time.perf_counter() - t0)
        prints.add(wl.fingerprint())
    t0 = time.perf_counter()
    wl.warm_up(spark)
    warm_s = time.perf_counter() - t0
    jobs = measure(wl, spark, seconds, MIN_JOBS)
    wl.close()
    if spark is not None:
        spark.stop()
    p50 = median_time(jobs)
    metrics = {
        "setup_s": session_s + statistics.median(prepare_s) + warm_s,
        "job_s_p50": p50,
        "tokens_per_s": wl.tokens_per_job / p50,
        "sim_runs_per_s": wl.runs_per_job / p50,
        "driver_peak_rss_mb": resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024,
    }
    notes = {
        "session_s": round(session_s, 3),
        "prepare_s": [round(s, 3) for s in prepare_s],
        "warm_up_s": round(warm_s, 3),
        "setup_deterministic": len(prints) == 1,
    }
    return jobs, metrics, END_TO_END_UNITS, notes


def run_traced(wl, work, seconds):
    """Half the window untraced, then a fresh session with the event log on
    and traced kernels for the other half; then controls and stages."""
    spark = start_session(work, wl.nproc)
    wl.generate()
    wl.compute_oracle(spark)
    wl.warm_up(spark)
    untraced = measure(wl, spark, seconds / 2, MIN_TRACE_JOBS)
    event_dir, span_dir = os.path.join(work, "events"), os.path.join(work, "spans")
    os.makedirs(span_dir)
    spark.stop()
    spark = start_session(work, wl.nproc, event_dir)
    wl.warm_up(spark, jobs=1)  # the JVM is warm; the new workers are not
    log = SpanLog(span_dir)
    with eventlog.job_group(spark, TRACED_GROUP):
        traced = measure(wl, spark, seconds / 2, MIN_TRACE_JOBS, log)
    jvm_s, arrow_s = wl.controls(spark)
    stages = wl.stages(spark)
    extras = wl.layer_extras(spark)
    log.flush()
    wl.close()
    spark.stop()  # finalizes the event log

    n = len(traced)
    ev = eventlog.group_metrics(eventlog.find_event_log(event_dir), TRACED_GROUP)
    spans = read_spans(span_dir)
    metrics, units = {}, {}
    for name, (key, unit) in SPARK_LAYER.items():
        metrics[name], units[name] = ev[key] / n, unit
    for name, (span, field, unit) in SPAN_LAYER.items():
        tot = spans.get(span, {"ns": 0, "amount": 0})
        metrics[name] = (tot["ns"] / 1e9 if field == "s" else tot["amount"]) / n
        units[name] = unit
    upd = spans.get("sketches.update", {"ns": 0, "amount": 0})
    untraced_p50, traced_p50 = median_time(untraced), median_time(traced)
    metrics.update({
        "control.jvm_scan_s": jvm_s,
        "control.arrow_passthrough_s": arrow_s,
        "aggregate.stage1_s": stages.stage1_s,
        "aggregate.merge_s": stages.merge_s,
        "aggregate.estimate_s": stages.estimate_s,
        "aggregate.partials": stages.partials,
        "aggregate.partial_bytes": stages.partial_bytes,
        "sketches.update_ns_per_item": upd["ns"] / upd["amount"] if upd["amount"] else 0.0,
        "simulator.run_s_p50": 0.0,
        "evaluator.cell_s_p50": 0.0,
        "analyzer.s": 0.0,
        "trace.overhead_share": (traced_p50 - untraced_p50) / untraced_p50,
    })
    metrics.update(extras)
    units.update(OTHER_LAYER_UNITS)
    notes = {"untraced_job_s_p50": round(untraced_p50, 4),
             "traced_job_s_p50": round(traced_p50, 4), "traced_jobs": n}
    return untraced + traced, metrics, units, notes


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--inject", choices=("corrupt-partial", "wrong-oracle"), default=None,
                    help="self-test only: damage a partial state or the oracle")
    args = ap.parse_args(argv)

    nproc = len(os.sched_getaffinity(0))
    work = os.path.join(ROOT, ".perfbench_work", str(os.getpid()))
    configure_env(work)
    wl = WORKLOADS[args.workload](args.seed, work, nproc, args.inject)
    try:
        run = run_traced if args.trace else run_untraced
        jobs, metrics, units, notes = run(wl, work, args.seconds)
    finally:
        stop_jvm()
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass  # another run still uses it

    failed = sum(1 for _, chk in jobs if not chk.ok)
    estimates = sum(chk.estimates for _, chk in jobs)
    outside = sum(chk.outside for _, chk in jobs)
    correct = failed == 0 and notes.get("setup_deterministic", True)
    summary = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "jobs": len(jobs),
        "job_s": [round(sec, 3) for sec, _ in jobs if sec is not None],
        "failed_share": failed / len(jobs),
        "est_outside_bound_share": outside / estimates if estimates else 0.0,
        "estimates": estimates,
        **notes,
    }
    print("# " + json.dumps(summary))
    print(json.dumps({
        "correct": bool(correct),
        "attempted": len(jobs),
        "failed": failed,
        "metrics": {k: {"value": float(v), "unit": units[k]} for k, v in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
