"""Run one benchmark workload at one seed and print its metrics.

    python3 perfbench/run.py --workload analytics --seed 1 --seconds 15 --trace 0

Run from the repository root. The last line of standard output is one JSON
object: ``{"correct", "attempted", "failed", "metrics"}``. With
``--trace 0`` the metrics are the end-to-end ones; with ``--trace 1`` the
engine's public functions are wrapped in spans, Spark writes its event log,
and the metrics are the per-layer ones. The exit code is 0 when every
result check passed, 1 when one failed, 2 when the run could not start.
See README.md in this directory.
"""

from __future__ import annotations

import argparse
import contextlib
import importlib.util
import json
import os
import platform
import shlex
import shutil
import statistics
import subprocess
import sys
import time
import traceback

import tracing
import workloads

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

#: end-to-end metrics (name, unit), reported by every workload, all at the
#: reference speed (``workloads.py``). ``op_gmean_ref_s`` is the geometric
#: mean of the timed units' op walls (the analytics mix spans 0.2-3 s with
#: gaps where a median would sit and jump); ``items_per_ref_s`` is the
#: units' items over their item walls. What each wall covers on each
#: workload is in ``workloads.py``.
E2E = [("setup_s", "s"), ("op_gmean_ref_s", "s"),
       ("items_per_ref_s", "1/s")]

#: driver JVM heap: fits the host's RAM with room for the Python workers
HEAP = "4g"


def _args(argv):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True,
                   choices=sorted(workloads.WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return p.parse_args(argv)


def _configure(run_dir: str, log_dir: str | None) -> int:
    """Environment for the engine's session: cores, heap, and every
    scratch path inside the checkout. Returns the core count."""
    cores = len(os.sched_getaffinity(0))
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cores),
        "SPARK_GRAFT_DRIVER_MEM": HEAP,
        "SPARK_LOCAL_DIRS": tmp,
        "TMPDIR": tmp,
    })
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
    }
    if log_dir:
        os.makedirs(log_dir, exist_ok=True)
        conf["spark.eventLog.enabled"] = "true"
        conf["spark.eventLog.dir"] = "file:" + log_dir
        conf["spark.eventLog.compress"] = "false"
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        f"--conf {shlex.quote(f'{k}={v}')}" for k, v in conf.items()
    ) + " pyspark-shell"
    return cores


def _stop(spark) -> None:
    """Stop the session and wait for the JVM this process launched."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
    if proc is not None:
        with contextlib.suppress(OSError):
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def _cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of the host's CPUs so far, from /proc/stat."""
    with open("/proc/stat", encoding="utf-8") as f:
        ticks = [int(v) for v in f.readline().split()[1:9]]
    return ticks[7], sum(ticks)


def _host(spark, cores: int, args, sizes: dict, ticks0, loops) -> dict:
    sc = spark.sparkContext
    steal, total = (b - a for a, b in zip(ticks0, _cpu_ticks()))
    with open("/proc/meminfo", encoding="utf-8") as f:
        ram_kb = int(next(l for l in f if l.startswith("MemTotal")).split()[1])
    return {
        "workload": args.workload, "seed": args.seed,
        "seconds": args.seconds, "trace": args.trace,
        "inputs": sizes, "nproc": cores,
        "default_parallelism": sc.defaultParallelism,
        "ram_mb": ram_kb // 1024, "master": sc.master,
        "heap": sc.getConf().get("spark.driver.memory", None),
        "spark": spark.version, "python": platform.python_version(),
        "java": sc._jvm.System.getProperty("java.version"),
        # share of CPU time the hypervisor gave to other guests during the
        # run: a slow run with a high share was slowed by its neighbours
        "steal_frac": steal / total if total else 0.0,
        # the reference loop's walls: how fast the host ran this process
        "ref_loop_gmean_s": statistics.geometric_mean(loops),
        "ref_loop_min_s": min(loops), "ref_loop_max_s": max(loops),
    }


def main(argv=None) -> int:
    args = _args(argv)
    sys.path[:0] = [ROOT, os.path.join(ROOT, "tools"), HERE]
    # located, not imported: the engine reads its environment on import
    missing = [m for m in ("hierarchical_graph_db_spark", "gen_fixtures",
                           "result_digest", "pyspark", "duckdb")
               if importlib.util.find_spec(m) is None]
    if missing:
        print(f"perfbench: cannot find {missing} under {ROOT}",
              file=sys.stderr)
        return 2

    work = os.path.join(ROOT, ".perfbench_work")
    run_dir = os.path.join(work, f"run-{os.getpid()}")
    log_dir = os.path.join(run_dir, "eventlog") if args.trace else None
    cores = _configure(run_dir, log_dir)
    ref_loop = workloads.RefLoop(cores)
    try:
        return _run(args, work, run_dir, log_dir, cores, ref_loop)
    finally:
        ref_loop.close()
        shutil.rmtree(run_dir, ignore_errors=True)


def _run(args, work: str, run_dir: str, log_dir: str | None,
         cores: int, ref_loop) -> int:
    ticks0 = _cpu_ticks()
    wl = workloads.WORKLOADS[args.workload]()
    ctx = workloads.Ctx(None, tracing.NullTracer(), work, run_dir, args.seed,
                        ref_loop)
    sizes = wl.prepare(ctx)

    from hierarchical_graph_db_spark.session import get_spark

    ctx.speed()
    t0 = time.perf_counter()
    spark = get_spark("perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    start_s = time.perf_counter() - t0
    try:
        if args.trace:
            ctx.tr = tracing.Tracer(spark)
            ctx.tr.install()
        ctx.spark = spark
        wl.setup(ctx)
        # without the reference loops run since session start, and at the
        # speed they saw
        setup_raw_s = time.perf_counter() - t0 - sum(ctx.ref_loops[1:])
        setup_k = (workloads.REF_LOOP_S
                   / statistics.geometric_mean(ctx.ref_loops))
        setup_s = setup_raw_s * setup_k
        walls, item_walls, units, items = [], [], 0, 0
        t_measure = time.perf_counter()
        while True:
            try:
                op_walls, n, n_wall = wl.unit(ctx)
            except StopIteration:   # inputs exhausted: measure what ran
                break
            walls += op_walls
            units += 1
            items += n
            item_walls.append(n_wall)
            if (time.perf_counter() - t_measure >= args.seconds
                    and wl.at_boundary()):
                break
        jvm_pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
        rss = tracing.peak_rss_mb(jvm_pid)
        extra = wl.finish(ctx)
        host = _host(spark, cores, args, sizes, ticks0, ctx.ref_loops)
    except BaseException:
        _stop(spark)
        raise
    _stop(spark)

    e2e = {
        "setup_s": setup_s,
        "op_gmean_ref_s": statistics.geometric_mean(walls) if walls else 0.0,
        "items_per_ref_s": items / sum(item_walls) if walls else 0.0,
    }
    correct = not ctx.failures and bool(walls)
    if args.trace:
        extra.update({"session.start_s": start_s * setup_k,
                      "session.warmup_s": setup_s - start_s * setup_k,
                      "peak_rss_mb": rss})
        log = tracing.read_event_log(log_dir)
        metrics, records = tracing.layer_metrics(
            ctx.tr.spans, log, cores, units, extra)
        units = dict(tracing.LAYER_METRICS)
        os.makedirs(os.path.join(work, "traces"), exist_ok=True)
        with open(os.path.join(work, "traces",
                               f"{args.workload}-s{args.seed}.json"),
                  "w", encoding="utf-8") as f:
            json.dump({"host": host, "e2e_traced": e2e, "layers": metrics,
                       "units": units, "ops": records,
                       "spans": ctx.tr.spans}, f)
    else:
        metrics, units = e2e, dict(E2E)
    print(json.dumps({"host": host, "setup_raw_s": setup_raw_s,
                      "op_walls_ref_s": walls,
                      "item_walls_ref_s": item_walls}))
    print(json.dumps({
        "correct": correct,
        "attempted": ctx.attempted,
        "failed": len(ctx.failures),
        "metrics": {k: {"value": v, "unit": units[k]}
                    for k, v in metrics.items()},
    }))
    return 0 if correct else 1


if __name__ == "__main__":
    try:
        sys.exit(main())
    except Exception:  # noqa: BLE001 - no result line on a crashed run
        traceback.print_exc()
        sys.exit(2)
