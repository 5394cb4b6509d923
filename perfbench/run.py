"""Benchmark runner: one workload, one fresh process, one Spark JVM.

    python3 perfbench/run.py --workload geo_enrich --seed 1 --seconds 5 --trace 0

Run from the root of a checkout.  The process generates (or reuses) the
seeded inputs, starts ``pydriosm_spark.session.get_spark`` on
``local[<cpus>]`` and runs one cold pipeline pass, ``WARMUP`` untimed warm
passes, then timed warm passes until ``--seconds`` have passed (at least
``MIN_TIMED``).  A single closed-loop client: one pass at a time.  Every
pass ends with a check of the committed sink against the DuckDB
expectation; a wrong or failed pass counts in ``failed``.

Warm passes are measured in CPU seconds of the process tree less the JIT
compiler threads (``costs.PipelineCpu``), not in wall seconds: on a machine
shared with other tenants the wall time of the same pass can move by half
from one minute to the next, its CPU time much less (``README.md``).

``--trace 0`` reports the end-to-end metrics, ``--trace 1`` the per-layer
metrics (workloads.LAYERS).  Human-readable lines go to stdout first; the
last line is the JSON result.  All files go under ``.bench_build/perfbench``
in the checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
#: warm passes after the cold one that are checked and counted but not
#: timed: the first warm pass still runs much of the JVM's hot code before
#: it is compiled, so it takes more CPU than the passes after it
WARMUP = 1
#: timed warm passes per run at least; the run-time budget has room for two
MIN_TIMED = 2


def _args():
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=["geo_enrich", "text_dedup", "pbf_ingest"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return p.parse_args()


def _cpus() -> int:
    return len(os.sched_getaffinity(0))


def _start_spark(scratch: str) -> tuple:
    """(spark, jvm_start_s, register_s): the wall time of ``get_spark``,
    split at the moment PySpark's SparkSession exists (JVM, SparkContext and
    session up), which a side thread watches for; the rest is the library's
    own registration."""
    from pyspark.sql import SparkSession

    from pydriosm_spark.session import get_spark

    conf = {
        "spark.local.dir": scratch,
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={scratch} -XX:-UsePerfData",
        "spark.sql.warehouse.dir": os.path.join(scratch, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    seen, done = [], threading.Event()

    def watch():
        while SparkSession._instantiatedSession is None and not done.wait(0.002):
            pass
        seen.append(time.perf_counter())

    watcher = threading.Thread(target=watch, daemon=True)
    t0 = time.perf_counter()
    watcher.start()
    spark = get_spark(parallelism=_cpus(), extra_conf=conf)
    t1 = time.perf_counter()
    done.set()
    watcher.join()
    return spark, seen[0] - t0, t1 - seen[0]


def _stop(spark) -> None:
    """Stop the session, then the JVM it ran in, and wait for it to exit."""
    gateway = spark.sparkContext._gateway
    spark.stop()
    gateway.shutdown()
    gateway.proc.stdin.close()
    gateway.proc.wait(timeout=60)


def _timed_pass(w, cpu, sink_root: str, i: int) -> tuple:
    """(seconds, CPU seconds, of which JIT compilation, ok) of one pass,
    the CPU read from ``cpu`` (``costs.PipelineCpu``); the previous pass's
    sink is removed and both heaps are collected first, so no pass pays for
    its predecessor."""
    import gc

    from workloads import fresh_dir

    sink = fresh_dir(os.path.join(sink_root, f"pass-{i}"))
    gc.collect()
    w.spark.sparkContext._jvm.System.gc()
    c0, j0 = cpu.read()
    t0 = time.perf_counter()
    try:
        ok = w.run_pass(sink)
    except Exception as e:  # a failed pass is counted, not fatal
        print(f"pass {i} failed: {type(e).__name__}: {e}", file=sys.stderr)
        ok = False
    dt = time.perf_counter() - t0
    c1, j1 = cpu.read()
    shutil.rmtree(sink, ignore_errors=True)
    return dt, c1 - c0, j1 - j0, ok


def _measure(w, spark, sink_root: str, seconds: float) -> tuple:
    from costs import PipelineCpu, WorkerRss, jvm_pid

    with WorkerRss(jvm_pid(spark)) as rss, PipelineCpu(jvm_pid(spark)) as cpu:
        cold = _timed_pass(w, cpu, sink_root, 0)
        passes = [cold]
        for _ in range(WARMUP):
            passes.append(_timed_pass(w, cpu, sink_root, len(passes)))
        t_end = time.perf_counter() + seconds
        # ends on passes attempted, so a program that always fails still ends
        while time.perf_counter() < t_end or len(passes) < 1 + WARMUP + MIN_TIMED:
            passes.append(_timed_pass(w, cpu, sink_root, len(passes)))
    return passes, rss.peak_bytes


def main() -> int:
    a = _args()
    if not os.path.isdir(os.path.join(ROOT, "pydriosm_spark")):
        print("perfbench: pydriosm_spark not found next to perfbench/; run from a checkout",
              file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT, HERE]
    work = os.path.join(ROOT, ".bench_build", "perfbench")
    scratch = os.path.join(work, f"run-{os.getpid()}")
    os.makedirs(scratch)
    os.environ["TMPDIR"] = scratch
    os.environ["SPARK_LOCAL_DIRS"] = scratch
    # Python workers import the library from this checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    try:
        return _run(a, work, scratch)
    finally:
        shutil.rmtree(scratch, ignore_errors=True)


def _run(a, work: str, scratch: str) -> int:
    from costs import process_age_s

    import gen
    import workloads

    t_pre = process_age_s()
    t0 = time.perf_counter()
    names = [a.workload, *(workloads.TRACE_ALSO.get(a.workload, ()) if a.trace else ())]
    inputs = {n: gen.generate(n, a.seed, os.path.join(work, "inputs")) for n in names}
    d, info = inputs[a.workload]
    gen_s = time.perf_counter() - t0

    t0 = time.perf_counter()
    spark, jvm_s, register_s = _start_spark(scratch)
    spark.range(1000).selectExpr("sum(id)").collect()
    setup_s = t_pre + time.perf_counter() - t0
    try:
        sink_root = os.path.join(scratch, "sink")
        if a.trace:
            metrics = dict.fromkeys(workloads.per_layer_names(), 0)
            metrics.update({"session.jvm_start_s": jvm_s, "session.register_s": register_s,
                            "bench.gen_s": gen_s})
            attempted, failed = len(names), 0
            tr = workloads.Tracer(spark)
            for n in names:
                try:
                    workloads.WORKLOADS[n](spark, *inputs[n]).trace(
                        tr, workloads.fresh_dir(os.path.join(sink_root, f"trace-{n}")))
                except Exception as e:  # reported as a failed attempt
                    print(f"trace {n} failed: {type(e).__name__}: {e}", file=sys.stderr)
                    failed += 1
            metrics.update((k, v) for k, v in tr.metrics.items() if k in metrics)
            units = {k: workloads.unit_of(k.rsplit(".", 1)[1]) for k in metrics}
        else:
            w = workloads.WORKLOADS[a.workload](spark, d, info)
            passes, peak = _measure(w, spark, sink_root, a.seconds)
            oks = [p[-1] for p in passes]
            attempted, failed = len(oks), oks.count(False)
            timed = [p for p in passes[1 + WARMUP:] if p[-1]]
            # warm: the pipeline's CPU without compilation; cold: with it,
            # since compiling is part of what a first run pays
            warm_cpu = statistics.median(cpu - jit for _, cpu, jit, _ in timed) if timed else 0.0
            metrics = {
                "setup_s": setup_s,
                "cold_job_cpu_s": passes[0][1],
                "throughput_rows_per_cpu_s": info["rows"] / warm_cpu if warm_cpu else 0.0,
                "peak_worker_rss_mb": peak / 2**20,
            }
            units = {"setup_s": "s", "cold_job_cpu_s": "s",
                     "throughput_rows_per_cpu_s": "rows/cpu-s", "peak_worker_rss_mb": "MB"}
            wall = statistics.median(p[0] for p in timed) if timed else 0.0
            print(f"# {a.workload} seed={a.seed} input_rows={info['rows']} gen_s={gen_s:.3f} "
                  f"pass_s={[round(p[0], 3) for p in passes]} "
                  f"pass_cpu_s={[round(p[1], 2) for p in passes]} "
                  f"pass_jit_s={[round(p[2], 2) for p in passes]}")
            # wall times are printed, not bounded: they move with the load
            # other tenants put on the machine (README.md)
            print(f"# cold_job_s = {passes[0][0]:.6g} s")
            print(f"# throughput_rows_per_s = {info['rows'] / wall if wall else 0.0:.6g} rows/s")
            print(f"# error_rate = {failed / attempted:.4f} ratio")
    finally:
        _stop(spark)
    for k, v in metrics.items():
        print(f"# {k} = {v:.6g} {units[k]}")
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
