#!/usr/bin/env python3
"""Benchmark of the cfe_39_spark CDC engine.

    python3 perfbench/run.py --workload {bulk_backfill,trickle_hot}
        --seed N --seconds S --trace {0,1} [--size {full,tiny}]

Runs from the root of a source checkout.  Builds nothing: the engine is
imported from ``cfe_39_spark/`` next to this directory.  Every file it
writes (generated inputs, tables, Spark scratch, results and traces) lives
under ``.perfbench_work/`` in the checkout.

The last line of standard output is one JSON object: ``correct``,
``attempted``, ``failed`` and ``metrics``.  With ``--trace 0`` the metrics
are the end-to-end ones of BENCHMARK.json; with ``--trace 1`` they are the
per-layer ones, and the tracing overhead (traced minus untraced end-to-end
numbers, when an untraced run of the same workload and seed exists) goes to
standard error and the trace file.  ``failed / attempted`` is the run's
``failed_ops_frac``: failed operations plus oracle checks that found a
mismatch, over all operations and checks.

perfbench/METRICS.md describes the workloads and metrics.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
from concurrent.futures import ThreadPoolExecutor

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")

HEAP = "2g"  # driver heap: all Spark tasks run in the one local-mode JVM
RESERVE_MB = 1536  # Python driver, DuckDB oracle and page cache besides the heap
# Generated inputs and table bytes per run, counted against RAM only when the
# checkout sits on a RAM-backed file system (tmpfs such as /dev/shm).
DATA_MB = {"bulk_backfill": 2000, "trickle_hot": 600}
HELD_OUT_SEED = 90210  # never used while tuning; validate claimed gains on it
# The measured phase starts once the hypervisor steals at most QUIET_STEAL
# of the machine's CPU time (or after QUIET_WAIT_S): a neighbour's busy
# spell halves the speed of small Spark jobs for a minute or more.
QUIET_STEAL = 0.03
QUIET_WAIT_S = 20.0


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(DATA_MB))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    p.add_argument("--size", choices=["full", "tiny"], default="full")
    return p.parse_args(argv)


def host_facts(workload: str) -> dict:
    """Host description recorded with every result; raises SystemExit when
    heap plus data would not fit in RAM."""
    import pyspark

    from host import filesystem_of, java_version, meminfo_mb, nproc, parse_mb

    mem = meminfo_mb()
    fs = filesystem_of(ROOT)
    need = parse_mb(HEAP) + RESERVE_MB + (DATA_MB[workload] if fs.startswith("tmpfs") else 0)
    if need > mem["MemAvailable"]:
        print(f"perfbench: needs {need} MB of RAM, {mem['MemAvailable']} MB available",
              file=sys.stderr)
        raise SystemExit(3)
    return {"nproc": nproc(), "ram_mb": mem["MemTotal"], "ram_available_mb": mem["MemAvailable"],
            "java": java_version(), "pyspark": pyspark.__version__, "heap": HEAP,
            "data_dir": os.path.relpath(WORK, ROOT), "data_fs": fs}


def configure_env(run_dir: str, trace: bool, nproc: int) -> None:
    """Environment read by the engine's session factory and by Spark; must
    be set before pyspark starts its JVM."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    os.environ.update({
        "SPARK_GRAFT_DRIVER_MEM": HEAP,
        "SPARK_GRAFT_CPUS": str(nproc),
        "SPARK_GRAFT_SHUFFLE_PARTITIONS": str(2 * nproc),
        "SPARK_LOCAL_DIRS": os.path.join(run_dir, "spark-local"),
        "TMPDIR": tmp,
        "JAVA_TOOL_OPTIONS": f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
    })
    conf = ["spark.ui.showConsoleProgress=false"]
    if trace:
        events = os.path.join(run_dir, "eventlog")
        os.makedirs(events)
        conf += ["spark.eventLog.enabled=true", f"spark.eventLog.dir=file://{events}",
                 "spark.eventLog.compress=false", "spark.eventLog.rolling.enabled=false"]
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(f"--conf {c}" for c in conf) + " pyspark-shell"


def stop_spark(spark) -> None:
    """Stop the session and its JVM, and wait for every process they started."""
    from pyspark import SparkContext

    from host import descendants, wait_gone

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    started = descendants(proc.pid) if proc is not None else []  # Python workers
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM's gateway server exits on EOF
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait()
    wait_gone(started, timeout=30)


def save_json(path: str, obj) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path + ".tmp", "w") as f:
        json.dump(obj, f, indent=1, sort_keys=True)
    os.replace(path + ".tmp", path)


def measure(args, run_dir: str, trace: bool):
    """Session start, set-up, the measured loop and the check; returns the
    workload, its context, the tracer, the end-to-end metrics, the phase
    walls, the measured window and the metadata bytes written in it."""
    from cfe_39_spark.session import get_spark
    from host import cpu_ticks, dir_bytes, nproc, peak_rss_mb, wait_quiet
    from spans import Tracer, install
    from workloads import WORKLOADS, Ctx

    spark = None
    phases = {}
    tracer = Tracer(trace)
    ctx = Ctx(None, tracer, run_dir, os.path.join(WORK, "cache"), args.workload,
              args.seed, args.seconds, args.size, nproc())
    wl = WORKLOADS[args.workload](ctx)
    # inputs are generated (or found cached) while the JVM starts
    pool = ThreadPoolExecutor(1, thread_name_prefix="inputs")
    gen = pool.submit(wl.inputs)
    try:
        t0 = time.perf_counter()
        spark = get_spark(app_name=f"perfbench-{args.workload}")
        spark.sparkContext.setLogLevel("ERROR")
        spark.range(1).count()
        session_start = time.perf_counter() - t0
        gen.result()
        phases["inputs_wait_s"] = time.perf_counter() - t0 - session_start

        ctx.spark = spark
        tracer.session_start_s = session_start
        if trace:
            tracer.sc = spark.sparkContext
            install(tracer)
        parts = {"session_start_s": session_start, **wl.setup()}
        setup_s = sum(parts.values())
        phases.update(parts, setup_wall_s=time.perf_counter() - t0)

        (phases["quiet_wait_s"], phases["quiet_steal_frac"],
         phases["quiet_probe_rate"]) = wait_quiet(QUIET_STEAL, QUIET_WAIT_S)
        meta_dir = os.path.join(wl.table.root, "metadata")
        meta0 = dir_bytes(meta_dir)
        os.sync()  # set-up's writeback must not land on the measured phase
        tracer.phase = "measure"
        t1 = time.perf_counter()
        ticks0 = cpu_ticks()
        window = (time.time(), None)
        wl.measure()
        window = (window[0], time.time())
        phases["measure_wall_s"] = time.perf_counter() - t1
        ticks1 = cpu_ticks()
        phases["measure_steal_frac"] = (ticks1[1] - ticks0[1]) / max(ticks1[0] - ticks0[0], 1)
        tracer.phase = "check"
        meta_bytes = dir_bytes(meta_dir) - meta0
        metrics = wl.finish()
        metrics["setup_s"] = (setup_s, "s")
        metrics["peak_rss_mb"] = (peak_rss_mb(), "MB")
        t2 = time.perf_counter()
        wl.check()
        phases["check_wall_s"] = time.perf_counter() - t2
    finally:
        pool.shutdown()
        if spark is not None and hasattr(wl, "stop"):
            try:
                wl.stop()
            except Exception as e:  # already reported; the JVM must still stop
                print(f"perfbench: stream stop failed: {e!r}", file=sys.stderr)
        if spark is not None:
            stop_spark(spark)
    return wl, ctx, tracer, metrics, phases, window, meta_bytes


def per_layer(tracer, wl, run_dir: str, window, meta_bytes: int, e2e: dict, tag: str,
              record: dict) -> dict:
    """Per-layer metrics of a traced run; writes the trace file and reports
    the tracing overhead against a cached untraced run of the same seed."""
    from layers import layer_metrics
    from spans import find_event_log, parse_event_log

    groups = {}
    log = find_event_log(os.path.join(run_dir, "eventlog"))
    if log is not None:
        groups = parse_event_log(log, window)
    out = layer_metrics(tracer, groups, wl, meta_bytes, window)
    untraced_path = os.path.join(WORK, "results", f"{tag}-trace0.json")
    overhead = {}
    if os.path.exists(untraced_path):
        with open(untraced_path) as f:
            base = json.load(f)["metrics"]
        overhead = {k: e2e[k]["value"] - base[k]["value"] for k in e2e if k in base}
        print(f"perfbench: tracing overhead (traced - untraced): {json.dumps(overhead)}",
              file=sys.stderr)
    else:
        print("perfbench: no untraced run of this workload and seed; overhead not computed",
              file=sys.stderr)
    tracer.dump(os.path.join(WORK, "traces", f"{tag}.json"),
                {"run": record, "per_layer": out, "overhead": overhead,
                 "job_groups": {k: v.__dict__ for k, v in groups.items()}})
    return out


def main(argv=None) -> int:
    t_start = time.perf_counter()
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "cfe_39_spark", "__init__.py")):
        print(f"perfbench: no cfe_39_spark package in {ROOT}", file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT, HERE]
    from host import nproc

    facts = host_facts(args.workload)
    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    trace = bool(args.trace)
    try:
        configure_env(run_dir, trace, nproc())
        wl, ctx, tracer, metrics, phases, window, meta_bytes = measure(args, run_dir, trace)
        metrics["failed_ops_frac"] = (ctx.failed / max(ctx.attempted, 1), "ratio")
        e2e = {k: {"value": v, "unit": u} for k, (v, u) in sorted(metrics.items())}
        tag = f"{args.workload}-seed{args.seed}-{args.size}"
        phases["total_wall_s"] = time.perf_counter() - t_start
        record = {"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
                  "size": args.size, "trace": args.trace, "host": facts, "metrics": e2e,
                  "attempted": ctx.attempted, "failed": ctx.failed, "phases": phases,
                  "read_p50": wl.read_p50, "ingest_facts": getattr(wl, "ingest_facts", {}),
                  "samples": {"triggers": [t["wall"] for t in wl.triggers],
                              "freshness": wl.fresh, **wl.reads}}
        print(json.dumps(record, sort_keys=True), file=sys.stderr)
        if trace:
            out = per_layer(tracer, wl, run_dir, window, meta_bytes, e2e, tag, record)
        else:
            out = {k: v for k, v in metrics.items() if k != "failed_ops_frac"}
        save_json(os.path.join(WORK, "results", f"{tag}-trace{args.trace}.json"), record)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps({
        "correct": ctx.failed == 0,
        "attempted": ctx.attempted,
        "failed": ctx.failed,
        "metrics": {k: {"value": float(v), "unit": u} for k, (v, u) in sorted(out.items())},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
