#!/usr/bin/env python3
"""Smoke test of the benchmark itself; exits non-zero on the first failure.

    python3 perfbench/smoke.py

1. Runs every workload at tiny size, untraced and traced, and fails unless
   each prints a correct result carrying exactly the end-to-end (untraced)
   or per-layer (traced) metrics of BENCHMARK.json, with their units, and
   trickle_hot's traced run saw a compaction.
2. Builds a tiny bulk_backfill table, checks it against the oracle, then
   corrupts one data file of a copy and fails unless the oracle flags it.
3. Runs the benchmark in a directory holding only BENCHMARK.json and the
   benchmark's own files and fails unless it exits non-zero without
   printing a result.
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
RUN = os.path.join(HERE, "run.py")


def fail(msg: str) -> None:
    print(f"smoke: FAIL: {msg}", file=sys.stderr)
    sys.exit(1)


def run_bench(workload: str, trace: int, cwd: str = ROOT, script: str = RUN):
    cmd = [sys.executable, script, "--workload", workload, "--seed", "7", "--seconds", "4",
           "--trace", str(trace), "--size", "tiny"]
    return subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=600)


def check_results(spec: dict) -> None:
    for w in spec["workloads"]:
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            out = run_bench(w["name"], trace)
            if out.returncode != 0:
                fail(f"{w['name']} trace={trace} exited {out.returncode}:\n{out.stderr[-3000:]}")
            res = json.loads(out.stdout.strip().splitlines()[-1])
            if sorted(res) != ["attempted", "correct", "failed", "metrics"]:
                fail(f"{w['name']} trace={trace}: result keys {sorted(res)}")
            if not res["correct"] or res["failed"] or res["attempted"] < 1:
                fail(f"{w['name']} trace={trace}: not correct: {res}")
            want = {m["name"]: m["unit"] for m in spec[key]}
            got = {k: v["unit"] for k, v in res["metrics"].items()}
            if got != want:
                missing = sorted(set(want) - set(got))
                extra = sorted(set(got) - set(want))
                wrong = sorted(k for k in set(want) & set(got) if want[k] != got[k])
                fail(f"{w['name']} trace={trace}: missing {missing}, extra {extra}, "
                     f"wrong units {wrong}")
            if trace and "tracing overhead" not in out.stderr:
                fail(f"{w['name']}: the traced run did not report the tracing overhead")
            if trace and w["name"] == "trickle_hot" and not res["metrics"]["compact.calls"]["value"]:
                fail("trickle_hot's measured triggers did not cross a compaction")
            print(f"smoke: {w['name']} trace={trace}: {len(got)} metrics ok", file=sys.stderr)


def check_oracle_detects_corruption() -> None:
    """A corrupted copy of a correct table must fail the oracle check."""
    sys.path[:0] = [ROOT, HERE]
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    import run
    from host import nproc

    run_dir = os.path.join(run.WORK, f"smoke-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    spark = None
    try:
        run.configure_env(run_dir, False, nproc())
        from cfe_39_spark.session import get_spark
        from cfe_39_spark.sources.table import SequenceTable
        from oracle import Oracle
        from spans import Tracer
        from workloads import BulkBackfill, Ctx, verify_table

        spark = get_spark(app_name="perfbench-smoke")
        spark.sparkContext.setLogLevel("ERROR")
        ctx = Ctx(spark, Tracer(False), run_dir, os.path.join(run.WORK, "cache"),
                  "bulk_backfill", 7, 4, "tiny", nproc())
        wl = BulkBackfill(ctx)
        wl.inputs()
        wl.setup()
        for k in range(2):
            wl._apply(wl._segment(k), f"smoke-{k}")
        oracle = Oracle(None, wl.segments, ctx.threads)
        try:
            if verify_table(ctx, wl.table, oracle, "smoke table"):
                fail("the oracle rejects an uncorrupted table")
            bad_root = ctx.table_path("corrupted")
            shutil.copytree(wl.table.root, bad_root)
            victim = sorted(glob.glob(os.path.join(bad_root, "data", "**", "*.parquet"),
                                      recursive=True))[0]
            tbl = pq.read_table(victim)
            i = tbl.schema.get_field_index("tokens")
            bumped = pc.list_slice(tbl["tokens"], 1)  # drop every row's first token
            tbl = tbl.set_column(i, tbl.schema.field(i), bumped.cast(tbl.schema.field(i).type))
            pq.write_table(tbl, victim)
            crc = os.path.join(os.path.dirname(victim), f".{os.path.basename(victim)}.crc")
            if os.path.exists(crc):  # Hadoop's checksum sidecar would reject the rewrite
                os.unlink(crc)
            n = verify_table(ctx, SequenceTable(bad_root), oracle, "corrupted copy (expected)")
            if n == 0:
                fail("the oracle accepted a corrupted table")
            print(f"smoke: oracle flagged {n} rows of the corrupted copy", file=sys.stderr)
        finally:
            oracle.close()
    finally:
        if spark is not None:
            run.stop_spark(spark)
        shutil.rmtree(run_dir, ignore_errors=True)


def check_refuses_bare_checkout() -> None:
    bare = tempfile.mkdtemp(prefix="perfbench-bare-", dir=os.path.join(ROOT, ".perfbench_work"))
    try:
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
        shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                        ignore=shutil.ignore_patterns("__pycache__"))
        out = run_bench("trickle_hot", 0, cwd=bare, script=os.path.join("perfbench", "run.py"))
        if out.returncode == 0 or out.stdout.strip():
            fail("the benchmark ran without the engine's sources")
        print("smoke: refuses a checkout without the engine", file=sys.stderr)
    finally:
        shutil.rmtree(bare, ignore_errors=True)


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    check_refuses_bare_checkout()
    check_results(spec)
    check_oracle_detects_corruption()
    print("smoke: ok", file=sys.stderr)
    return 0


if __name__ == "__main__":
    sys.exit(main())
