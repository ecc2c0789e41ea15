"""Closed-loop harness: one session, one client, checked passes.

A run is: input generation (untimed), session setup (``setup_s``), the
cold pass (``first_pass_s``), then steady passes for ``--seconds``
(``pass_s`` is their median). Every pass ends with its output checked
against the planted truth; only then does the next one start. With
``--trace 1`` the run then makes one traced pass and reports per-layer
metrics instead.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import time
import traceback

from dedupbench.host import HostLabels, PeakRss, descendants, wait_for_exit
from dedupbench.trace import Tracer, layer_counters, rest_mismatches
from dedupbench.workloads import WORKLOADS, Outcome

# local[k]: two task slots leave half of a 4-core host to other tenants
SLOTS = min(2, os.cpu_count() or 1)
# steady passes per run at least, even past --seconds
MIN_STEADY = 2

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SCRATCH = os.path.join(ROOT, "dedupbench", ".scratch")

G = ["s", "self_s", "jobs", "stages", "executor_cpu_s", "gc_s",
     "shuffle_write_mb", "spill_mb", "slot_idle_share", "task_skew"]
NARROW = [m for m in G if m not in ("shuffle_write_mb", "spill_mb")]
# per-layer metrics: the generic span counters a layer can move, plus
# its domain counts (README, "Per-layer metrics")
LAYER_METRICS = {
    "session": ["s", "first_job_s"],
    "sources": NARROW + ["read_mb"],
    "features": NARROW + ["udf_s"],
    "lsh": G + ["candidates", "hot_buckets", "dropped_rows"],
    "verify": G + ["pairs_in", "pairs_ok", "yield", "udf_s"],
    "substring": ["s", "self_s", "stages", "pairs"],
    "cc": G + ["edges_in"],
    "exact": G,
    "incremental": G + ["seen_rows", "ledger_rows"],
    "sinks": G + ["rows_written", "bytes_written_mb", "readback_rows"],
    "pass": G + ["trace_overhead_s"],
}
UNITS = {"s": "s", "self_s": "s", "first_job_s": "s", "executor_cpu_s": "s",
         "gc_s": "s", "udf_s": "s", "trace_overhead_s": "s",
         "shuffle_write_mb": "MB", "spill_mb": "MB", "read_mb": "MB",
         "bytes_written_mb": "MB", "slot_idle_share": "ratio",
         "task_skew": "ratio", "yield": "ratio"}


def driver_memory() -> str:
    """Driver heap sized from the host: an eighth of physical memory
    (or of the cgroup limit, if lower), within 1-4 GiB. The library
    default (48g) cannot start on a 16 GB host."""
    mem = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    try:
        limit = open("/sys/fs/cgroup/memory.max").read().strip()
        if limit.isdigit():
            mem = min(mem, int(limit))
    except OSError:
        pass
    return f"{min(max(mem // 8 // 2 ** 20, 1024), 4096)}m"


def _session_conf(work: str, trace: bool) -> dict[str, str]:
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "spark-warehouse"),
        "spark.local.dir": os.path.join(work, "local"),
        # prepended to the session's own extraJavaOptions: keep the
        # JVM's temp files and Derby's log inside the scratch directory
        "spark.driver.defaultJavaOptions":
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} "
            f"-Dderby.system.home={work} -XX:-UsePerfData",
    }
    if trace:
        conf.update({
            "spark.ui.enabled": "true",      # the REST API cross-check
            "spark.ui.port": "0",
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
        })
    return conf


def make_workdir(name: str) -> str:
    """A fresh directory under the benchmark's scratch directory for one
    run's inputs, outputs and Spark files; points the environment that
    the session's JVM and Python workers inherit at it."""
    work = os.path.join(SCRATCH, name)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    return work


def start_session(work: str, trace: bool):
    """get_spark plus a first job that starts a Python worker.
    Returns (spark, get_spark seconds, first job seconds)."""
    from deduper_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark("dedupbench", master=f"local[{SLOTS}]",
                      extra_conf=_session_conf(work, trace),
                      driver_memory=driver_memory())
    t1 = time.perf_counter()
    spark.sparkContext.parallelize([0], 1).map(lambda x: x + 1).collect()
    t2 = time.perf_counter()
    spark.sparkContext.setLogLevel("ERROR")
    return spark, t1 - t0, t2 - t1


def stop_session(spark) -> None:
    """Stop the session and wait until its JVM, Python daemon and
    workers have all exited."""
    from pyspark import SparkContext

    procs = descendants()
    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()       # the JVM exits when its stdin closes
            proc.wait(timeout=60)
    SparkContext._gateway = None
    SparkContext._jvm = None
    wait_for_exit(procs)


def _timed(fn) -> tuple[float, Outcome]:
    t = time.perf_counter()
    try:
        out = fn()
    except Exception as e:  # noqa: BLE001 - a raise is a failed pass
        traceback.print_exc()
        out = Outcome(result=None,
                      problems=[f"raised {type(e).__name__}: {str(e)[:300]}"])
    return time.perf_counter() - t, out


def _metric(value: float, unit: str) -> dict:
    return {"value": value, "unit": unit}


def run(workload: str, seed: int, seconds: float, trace: bool,
        import_s: float) -> dict:
    host = HostLabels()
    work = make_workdir(f"run-{os.getpid()}")
    try:
        wl = WORKLOADS[workload](work, seed, SLOTS)
        t = time.perf_counter()
        wl.prepare()
        gen_s = time.perf_counter() - t

        spark, session_s, first_job_s = start_session(work, trace)
        try:
            with PeakRss() as rss:
                cold_s, cold = _timed(lambda: wl.run_pass(spark))
                steady: list[tuple[float, Outcome]] = []
                w0 = time.perf_counter()
                # closed loop: start a pass only if it should end inside
                # the window, but always make MIN_STEADY passes
                while len(steady) < MIN_STEADY or (
                        time.perf_counter() - w0 + statistics.median(
                            s for s, _ in steady) <= seconds):
                    steady.append(_timed(lambda: wl.run_pass(spark)))
            passes = [(cold_s, cold)] + steady
            traced = _traced(spark, wl, work, steady) if trace else None
        finally:
            stop_session(spark)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    pass_s = statistics.median(s for s, _ in steady)
    problems = [f"pass {i}: {p}" for i, (_, o) in enumerate(passes)
                for p in o.problems]
    failed = sum(1 for _, o in passes if o.problems)
    attempted = len(passes)
    detail = {
        "workload": workload, "seed": seed, "trace": int(trace),
        "slots": SLOTS, "driver_memory": driver_memory(),
        "passes": len(steady), "pass_times_s": [round(s, 4) for s, _ in passes],
        "gen_s": round(gen_s, 3), "import_s": round(import_s, 3),
        "get_spark_s": round(session_s, 3),
        "first_job_s": round(first_job_s, 3),
        "host": host.labels(),
    }
    if trace:
        metrics, trace_problems, trace_detail = traced
        attempted += 1
        if trace_problems:
            failed += 1
            problems += [f"traced pass: {p}" for p in trace_problems]
        metrics["session.s"] = _metric(session_s, "s")
        metrics["session.first_job_s"] = _metric(first_job_s, "s")
        detail.update(trace_detail)
    else:
        recall = [o.recall for _, o in passes if o.recall is not None]
        precision = [o.precision for _, o in passes if o.precision is not None]
        metrics = {
            "setup_s": _metric(import_s + session_s + first_job_s, "s"),
            "first_pass_s": _metric(cold_s, "s"),
            "pass_s": _metric(pass_s, "s"),
            "peak_rss_mb": _metric(rss.peak_mb, "MB"),
            "recall": _metric(statistics.median(recall) if recall else 0.0,
                              "ratio"),
            "precision": _metric(
                statistics.median(precision) if precision else 0.0, "ratio"),
        }
    detail["problems"] = problems
    print(json.dumps({"run": detail}), flush=True)
    return {"correct": not problems, "attempted": attempted,
            "failed": failed, "metrics": metrics}


def _traced(spark, wl, work: str, steady) -> tuple[dict, list[str], dict]:
    """One traced pass: per-layer metrics, problems, and detail."""
    spark.conf.set("spark.sql.pyspark.udf.profiler", "perf")
    tracer = Tracer(spark, os.path.join(work, "profile"))
    traced_s, out = _timed(lambda: wl.traced_pass(spark, tracer))
    spark.conf.unset("spark.sql.pyspark.udf.profiler")
    problems = list(out.problems)
    # the decomposition must compute what the entry point computed
    if out.result != steady[-1][1].result:
        problems.append("decomposed result differs from the entry point's")
    store = tracer.store_data()
    problems += rest_mismatches(tracer.spans, store, tracer.rest_data())
    spark.catalog.clearCache()

    metrics = {}
    by_layer: dict[str, list] = {}
    for s in tracer.spans:
        by_layer.setdefault(s.layer, []).append(s)
    untraced = statistics.median(s for s, _ in steady)
    for layer, names in LAYER_METRICS.items():
        if layer == "session":
            continue
        spans = by_layer.get(layer, [])
        c = layer_counters(spans, store, SLOTS) if spans else {}
        if "pairs_in" in names:
            c["yield"] = (c["pairs_ok"] / c["pairs_in"]
                          if c.get("pairs_in") else 0.0)
        if layer == "pass":
            c["trace_overhead_s"] = traced_s - untraced
        for m in names:
            metrics[f"{layer}.{m}"] = _metric(float(c.get(m, 0.0)),
                                              UNITS.get(m, "count"))
    spans_path = os.path.join(SCRATCH, "traces",
                              f"{wl.name}-seed{wl.seed}.json")
    os.makedirs(os.path.dirname(spans_path), exist_ok=True)
    with open(spans_path, "w") as f:
        json.dump([{**s.record(), **store.totals(s.groups())}
                   for s in tracer.spans], f, indent=1)
    detail = {"traced_pass_s": round(traced_s, 4),
              "spans": len(tracer.spans),
              "spans_file": os.path.relpath(spans_path, ROOT)}
    return metrics, problems, detail


def main(argv: list[str], t0: float) -> int:
    """Parse the command line, run, print the result line. ``t0`` is
    the process's start, so ``setup_s`` includes the imports."""
    ap = argparse.ArgumentParser(prog="dedupbench/run.py")
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    import deduper_spark  # noqa: F401 - part of setup_s
    import pyspark.sql  # noqa: F401
    import_s = time.perf_counter() - t0
    result = run(args.workload, args.seed, args.seconds, bool(args.trace),
                 import_s)
    print(json.dumps(result), flush=True)
    return 0
