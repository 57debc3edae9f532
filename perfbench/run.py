#!/usr/bin/env python3
"""Benchmark for the parse -> enrich -> route -> aggregate pipeline.

Run from the repository root::

    python3 perfbench/run.py --workload scan_count --seed 1 --seconds 8 --trace 0

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` is the traced
run that prints the per-layer metrics and writes its spans to
``.perfbench_out/spans/``. The last line of standard output is one JSON
object: ``{"correct", "attempted", "failed", "metrics"}``. See
``perfbench/README.md`` for the metrics and workloads.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import threading
import time

from tracing import Tracer, alive, descendants, event_log_counters, kernel_probe, peak_rss_mb

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
OUT = os.path.join(ROOT, ".perfbench_out")
MIN_PASSES = 3        # timed passes per run, however long they take
ITER_TIMEOUT_S = 60   # an iteration still running after this is cancelled
COMPILE_REPS = 20
DRIVER_HEAP = "2g"

LAYER_METRIC = {
    "sources": "sources.read_s", "explode": "parse.explode_s",
    "parse": "parse.udf_s", "enrich": "enrich.s", "route": "route.s",
    "aggregate": "aggregate.s", "checkpoint": "checkpoint.route_s",
    "hist": "sinks.hist_s",
}
PER_LAYER_UNITS = {
    "parse.udf_s": "s", "parse.explode_s": "s", "parse.lines": "count",
    "parse.well_formed_frac": "fraction", "parse.fast_hit_frac": "fraction",
    "parse.kernel_split_lines_per_s": "lines/s",
    "parse.kernel_walker_lines_per_s": "lines/s",
    "parse.py_bytes_sent": "bytes", "parse.py_bytes_returned": "bytes",
    "enrich.s": "s", "enrich.broadcast_joins": "count",
    "route.compile_s": "s", "route.s": "s", "route.sinks": "count",
    "route.rows_routed": "count", "route.fanout": "ratio",
    "aggregate.s": "s", "aggregate.shuffle_bytes": "bytes",
    "checkpoint.route_s": "s", "checkpoint.buckets_processed": "count",
    "checkpoint.lineage_s": "s",
    "sinks.bytes_written": "bytes", "sinks.files_written": "count",
    "sinks.write_amplification": "ratio", "sinks.hist_s": "s",
    "sources.read_s": "s", "sources.bytes_read": "bytes",
    "spark.gc_s": "s", "spark.spill_bytes": "bytes",
    "spark.cpu_busy_frac": "fraction", "spark.tasks": "count",
    "spark.task_failures": "count",
    "trace.total_s": "s", "trace.overhead_frac": "fraction",
}


def _log(msg: str) -> None:
    print(msg, flush=True)


def _environment() -> dict:
    """Slot count from the CPUs this process may use: each task thread
    gets one Python worker, so half the CPUs are task slots. Workers run
    with one OpenMP thread, which also sizes Arrow's CPU pool."""
    ncpu = len(os.sched_getaffinity(0))
    tmp = os.path.join(OUT, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["OMP_NUM_THREADS"] = "1"
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["TMPDIR"] = tmp
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    return {"nproc": ncpu, "slots": max(1, ncpu // 2), "tmp": tmp}


def _session(env: dict, event_log_dir: str | None = None):
    from pyspark.sql import SparkSession

    b = (SparkSession.builder.master(f"local[{env['slots']}]")
         .appName("perfbench")
         .config("spark.driver.memory", DRIVER_HEAP)
         # keep the JVM's scratch (and its perf-data file) inside the
         # checkout; commit and touch the whole heap at start, so the JVM's
         # resident size does not depend on how far G1 happened to grow it
         .config("spark.driver.extraJavaOptions",
                 f"-Djava.io.tmpdir={env['tmp']} -XX:-UsePerfData "
                 f"-Xms{DRIVER_HEAP} -XX:+AlwaysPreTouch")
         .config("spark.local.dir", env["tmp"])
         .config("spark.sql.warehouse.dir", os.path.join(OUT, "warehouse"))
         .config("spark.sql.shuffle.partitions", str(env["slots"]))
         .config("spark.ui.enabled", "false")
         .config("spark.ui.showConsoleProgress", "false")
         .config("spark.sql.execution.arrow.pyspark.enabled", "true")
         .config("spark.executorEnv.OMP_NUM_THREADS", "1")
         .config("spark.eventLog.enabled", "true" if event_log_dir else "false"))
    if event_log_dir:
        os.makedirs(event_log_dir, exist_ok=True)
        b = (b.config("spark.eventLog.dir", "file://" + event_log_dir)
             .config("spark.eventLog.compress", "false"))
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _worker_threads(spark) -> dict:
    """OMP_NUM_THREADS and Arrow's pool size as a Python worker sees them."""
    def probe(_):
        import pyarrow as pa

        yield (os.environ.get("OMP_NUM_THREADS", "unset"), pa.cpu_count())

    omp, arrow = spark.sparkContext.parallelize([0], 1).mapPartitions(probe).collect()[0]
    return {"worker_omp_threads": omp, "worker_arrow_threads": arrow}


def _setup(wl, env, event_log_dir=None):
    """A fresh session with the inputs loaded and one warm-up pass.
    Returns the session and the seconds each part took."""
    from pyspark.sql import SparkSession

    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
    t0 = time.perf_counter()
    spark = _session(env, event_log_dir)
    t1 = time.perf_counter()
    wl.load(spark)
    t2 = time.perf_counter()
    wl.warm_up(spark)
    t3 = time.perf_counter()
    return spark, {"session_s": t1 - t0, "load_s": t2 - t1, "warm_s": t3 - t2}


def _attempt(spark, wl, resume: bool = True) -> dict | None:
    """One pass, cancelled after ITER_TIMEOUT_S. Returns the pass, with
    ``ok`` set by the oracle check, or None when it raised."""
    timer = threading.Timer(ITER_TIMEOUT_S, spark.sparkContext.cancelAllJobs)
    timer.start()
    try:
        res = wl.run(spark, resume)
    except Exception as e:  # a failed pass is counted, the run goes on
        _log(f"iteration failed: {type(e).__name__}: {str(e)[:300]}")
        return None
    finally:
        timer.cancel()
    res["ok"] = wl.check(res["out"])
    if not res["ok"]:
        _log(f"iteration disagrees with the oracle: {res['out']} != {wl.expected}")
    return res


def _measure(spark, wl, seconds: float) -> tuple[list, list]:
    """One untimed pass, which warms what the set-up's small warm-up pass
    does not reach (the writers, the JIT at full input size), then timed
    passes until ``seconds`` have elapsed and at least MIN_PASSES have
    run. The untimed pass skips the resume. Returns (warm, timed); both
    are checked against the oracle."""
    warm = [_attempt(spark, wl, resume=False)]
    passes = []
    t0 = time.perf_counter()
    while len(passes) < MIN_PASSES or time.perf_counter() - t0 < seconds:
        passes.append(_attempt(spark, wl))
    return warm, passes


def _metric(value, unit):
    return {"value": value, "unit": unit}


def run_untraced(wl, env, seconds: float) -> dict:
    spark, setup = _setup(wl, env)
    env.update(_worker_threads(spark))
    warm, passes = _measure(spark, wl, seconds)
    rss = peak_rss_mb()
    wl.unload()
    spark.stop()

    done = [p for p in passes if p is not None]
    if not done:
        raise RuntimeError("no pass completed")
    passes += warm
    failed = sum(1 for p in passes if p is None or not p["ok"])
    iter_s = statistics.median(p["seconds"] for p in done)
    # every workload must report every metric; one without lineage has no
    # resume, so it reports its pass time again, the sample lines_per_s uses
    resumes = [p.get("resume_seconds", p["seconds"]) for p in done]
    resume_s = statistics.median(resumes)
    setup_s = wl.gen_s + sum(setup.values())
    metrics = {
        "lines_per_s": _metric(wl.lines / iter_s, "lines/s"),
        "resume_s": _metric(resume_s, "s"),
        "setup_s": _metric(setup_s, "s"),
        "peak_rss_mb": _metric(rss, "MB"),
    }
    _log(f"summary {wl.name}: lines={wl.lines} passes={len(passes)} timed={len(done)} "
         f"pass_s_median={iter_s:.4f} pass_s={[round(p['seconds'], 3) for p in done]} "
         f"warm_pass_s={[round(p['seconds'], 3) for p in warm if p is not None]} "
         f"resume_s={[round(r, 3) for r in resumes]} "
         f"setup: gen_s={wl.gen_s:.3f} "
         + " ".join(f"{k}={v:.3f}" for k, v in setup.items()))
    for k, m in metrics.items():
        _log(f"  {k} = {m['value']:.6g} {m['unit']}")
    _log(f"  ops_failed_frac = {failed / len(passes):.6g} fraction ({failed}/{len(passes)})")
    return {"correct": failed == 0, "attempted": len(passes), "failed": failed,
            "metrics": metrics}


def _chains(spark, wl, tracer, parent, seconds):
    """Runs the prefix chain at least twice and until ``seconds`` have
    elapsed; each prefix under its own job group, so the event log can
    be split by layer. Returns (layers in order, after_cuts results,
    chains run, chains failed)."""
    sc = spark.sparkContext
    order, after, reps, failed = [], [], 0, 0
    t0 = time.perf_counter()
    while reps < 2 or time.perf_counter() - t0 < seconds:
        with tracer.span("chain", parent) as chain:
            try:
                out = None
                for layer, cut in wl.cuts(spark):
                    sc.setJobGroup(layer, f"{wl.name} prefix through {layer}")
                    with tracer.span(layer, chain.id):
                        out = cut()
                    if layer not in order:
                        order.append(layer)
                sc.setJobGroup("after", f"{wl.name} lineage and resume")
                if hasattr(wl, "after_cuts"):
                    with tracer.span("after", chain.id):
                        res = wl.after_cuts(spark)
                    after.append(res)
                    failed += not res["ok"]
                else:
                    failed += not wl.check(out)
            except Exception as e:  # a failed chain is counted, the run goes on
                _log(f"traced chain failed: {type(e).__name__}: {str(e)[:300]}")
                failed += 1
        reps += 1
    return order, after, reps, failed


def run_traced(wl, env, seconds: float, seed: int) -> dict:
    """Traced passes in a session with the event log on, then untraced
    passes in a fresh session with it off, for the overhead baseline.
    Each session gets its own set-up; the JVM starts in the first."""
    tracer = Tracer(wl.name)
    root = tracer.span("traced_run")
    log_dir = os.path.join(OUT, "eventlog", f"{wl.name}-{seed}-{os.getpid()}")
    shutil.rmtree(log_dir, ignore_errors=True)
    with root:
        with tracer.span("kernel_probe", root.id):
            probe = kernel_probe(wl.inputs.line_mix(100_000), wl.spec)
        with tracer.span("setup_traced", root.id):
            spark, _ = _setup(wl, env, log_dir)
        env.update(_worker_threads(spark))
        with tracer.span("route_compile", root.id):
            compile_s = []
            for _ in range(COMPILE_REPS):
                t0 = time.perf_counter()
                wl.compile_sinks()
                compile_s.append(time.perf_counter() - t0)
        order, after, reps, failed = _chains(spark, wl, tracer, root.id, seconds)
        with tracer.span("setup_untraced", root.id):
            spark, _ = _setup(wl, env)
        with tracer.span("untraced", root.id):
            # passes without the resume: the baseline of the traced chain
            warm = [_attempt(spark, wl, resume=False)]
            base = [_attempt(spark, wl, resume=False) for _ in range(2)]
        wl.unload()
        spark.stop()
    tracer.write(os.path.join(OUT, "spans", f"{wl.name}-{seed}.jsonl"))
    untraced_s = statistics.median(p["seconds"] for p in base if p is not None)
    base += warm
    failed += sum(1 for p in base if p is None or not p["ok"])

    engine = event_log_counters(log_dir)
    shutil.rmtree(log_dir, ignore_errors=True)
    prefix = {layer: statistics.median(tracer.durations(layer)) for layer in order}
    m = dict.fromkeys(PER_LAYER_UNITS, 0.0)
    prev = 0.0
    for layer in order:
        m[LAYER_METRIC[layer]] = prefix[layer] - prev
        prev = prefix[layer]
    total = prefix[order[-1]]
    full = {k: v / reps for k, v in engine.get(order[-1], {}).items()}
    full_s = sum(tracer.durations(order[-1]))
    source_bytes = wl.source_bytes
    rows_routed = sum(wl.expected["sinks"].values())
    m.update({
        "parse.lines": wl.lines,
        "parse.well_formed_frac": wl.expected["well_formed"] / wl.lines,
        "parse.fast_hit_frac": probe["fast_hit_frac"],
        "parse.kernel_split_lines_per_s": probe["kernel_split_lines_per_s"],
        "parse.kernel_walker_lines_per_s": probe["kernel_walker_lines_per_s"],
        "parse.py_bytes_sent": full.get("py_bytes_sent", 0),
        "parse.py_bytes_returned": full.get("py_bytes_returned", 0),
        "enrich.broadcast_joins": engine.get(order[-1], {}).get("broadcast_joins", 0),
        "route.compile_s": statistics.median(compile_s),
        "route.sinks": len(wl.sinks),
        "route.rows_routed": rows_routed,
        "route.fanout": rows_routed / wl.lines,
        "aggregate.shuffle_bytes": full.get("shuffle_bytes", 0),
        "sinks.bytes_written": full.get("bytes_written", 0),
        "sinks.write_amplification": (full.get("bytes_written", 0) / source_bytes
                                      if source_bytes else 0.0),
        "sources.bytes_read": source_bytes,
        "spark.gc_s": full.get("gc_s", 0.0),
        "spark.spill_bytes": full.get("spill_bytes", 0),
        "spark.cpu_busy_frac": (engine.get(order[-1], {}).get("cpu_s", 0.0)
                                / (full_s * env["slots"])),
        "spark.tasks": full.get("tasks", 0),
        "spark.task_failures": sum(c["task_failures"] for c in engine.values()),
        "trace.total_s": total,
        "trace.overhead_frac": total / untraced_s - 1,
    })
    if after:
        m["checkpoint.lineage_s"] = statistics.median(a["lineage_s"] for a in after)
        m["checkpoint.buckets_processed"] = after[-1]["buckets"]
        m["sinks.files_written"] = after[-1]["files"]
    layer_sum = sum(m[LAYER_METRIC[layer]] for layer in order)
    _log(f"summary {wl.name} traced: chains={reps} prefixes={order} "
         f"untraced_pass_s={untraced_s:.4f} traced_total_s={total:.4f} "
         f"layer_self_sum_s={layer_sum:.4f} walker_lines={probe['walker_lines']}")
    for k in PER_LAYER_UNITS:
        _log(f"  {k} = {m[k]:.6g} {PER_LAYER_UNITS[k]}")
    attempted = len(base) + reps
    return {"correct": failed == 0, "attempted": attempted, "failed": failed,
            "metrics": {k: _metric(v, PER_LAYER_UNITS[k]) for k, v in m.items()}}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "logparser_spark")):
        print(f"logparser_spark not found under {ROOT}; run from a checkout "
              "of the repository", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    env = _environment()

    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; choose from {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2
    work_dir = os.path.join(OUT, "work", f"{args.workload}-{os.getpid()}")
    os.makedirs(work_dir, exist_ok=True)
    try:
        wl = WORKLOADS[args.workload](args.seed, work_dir)
        _log(f"environment: nproc={env['nproc']} slots=local[{env['slots']}] "
             f"driver_omp_threads={os.environ['OMP_NUM_THREADS']} "
             f"lines={wl.lines} pages={wl.inputs.pages}")
        if args.trace:
            result = run_traced(wl, env, args.seconds, args.seed)
        else:
            result = run_untraced(wl, env, args.seconds)
        _log(f"environment: nproc={env['nproc']} slots=local[{env['slots']}] "
             f"worker_omp_threads={env.get('worker_omp_threads')} "
             f"worker_arrow_threads={env.get('worker_arrow_threads')}")
    finally:
        _stop_jvm()
        shutil.rmtree(work_dir, ignore_errors=True)
    print(json.dumps(result), flush=True)
    return 0


def _stop_jvm() -> None:
    """Stops the session and the JVM PySpark launched, and waits for it.
    The JVM exits when its stdin closes; its Python workers exit when the
    JVM does, and are waited for too."""
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if proc is None:
        return
    below = descendants(os.getpid())
    gateway.shutdown()
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    deadline = time.monotonic() + 30
    while any(alive(p) for p in below) and time.monotonic() < deadline:
        time.sleep(0.1)


if __name__ == "__main__":
    sys.exit(main())
