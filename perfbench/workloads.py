"""The benchmark's workloads.  Each drives the engine only through its
public API (``cfe_39_spark.operators.cdc``, ``streaming.ingest``,
``sources.table``) in four steps: ``inputs`` (generated or cached, no
Spark needed, so it runs while the session starts), ``setup``
(pre-population and warm-up),
``measure`` (``--seconds`` of work: an ingest phase, then a read phase)
and ``check`` (the oracle comparison, untimed).

The ingest phase is a fixed amount of work sized to about INGEST_SHARE
of the seconds on bulk_backfill and to all of them on trickle_hot.  In
bulk_backfill a read phase then runs READ_MIX (point lookups, key-range
scans, the full training read, the change feed and the net changelog)
over the table the ingest phase left, merge-on-read deltas outstanding;
trickle_hot has no read phase.  Every workload reports the same
end-to-end metrics.

Engine functions are always called through their module
(``cdc.apply_batch``), so the tracer's wrappers see every call.
"""

from __future__ import annotations

import os
import shutil
import statistics
import sys
import threading
import time
import traceback

import numpy as np
from pyspark.sql import Observation, functions as F

from cfe_39_spark.operators import cdc
from cfe_39_spark.sources.table import SequenceTable
from cfe_39_spark.streaming import ingest

from host import dir_bytes
from inputs import N_PARTITIONS, InputCache
from oracle import Oracle

PARTS = list(range(N_PARTITIONS))
N_BUCKETS = 8
PREPARE_REPS = 3  # set-up repetitions whose median enters setup_s
INGEST_SHARE = 0.6  # of --seconds: bulk_backfill's ingest phase's nominal length
LOOKUP_KEYS = 10
# the read phase: (kind, calls); each call of a kind is one sample
READ_MIX = (("lookup", 1), ("range", 1), ("scan", 1), ("feed", 1), ("changelog", 1))
READ_KINDS = tuple(kind for kind, _ in READ_MIX)

# apply_batch compacts a bucket once it holds this many deltas (its
# default compact_threshold when this benchmark was defined); trickle_hot's
# table is pre-populated so that measured trigger COMPACT_ON crosses it.
# Kept constant, so every commit gets the same pre-population and a change
# of the compaction policy shows in the measured triggers.  The first
# measured trigger compacts: the triggers before a compaction (more deltas
# per bucket to merge) are slower than those after it, and the medians
# must not straddle the two.  AFTER_COMPACT segments follow it; the stall
# shows in the next one's freshness.
COMPACT_THRESHOLD = 16
COMPACT_ON = 1
AFTER_COMPACT = 3

# Sizes per workload; 'tiny' is the smoke test's.
SIZES = {
    # trigger_s: nominal seconds per trigger on a 4-core host when this
    # benchmark was defined; fixes the trigger count for a run length, so
    # every run (and every commit) ingests the same log.
    "bulk_backfill": {
        "full": dict(n_docs=50_000, trigger=100_000, warm=4_000, trigger_s=5.5),
        "tiny": dict(n_docs=2_000, trigger=1_600, warm=400, trigger_s=2.8),
    },
    "trickle_hot": {
        # period_s: the open loop's publish interval, 40-50% of the
        # engine's small-trigger capacity on a 4-core host when this
        # benchmark was defined (perfbench/METRICS.md).  Kept constant so
        # later commits are measured at the same offered rate.
        # pre: events per pre-population segment.
        "full": dict(n_docs=5_000, segment=10_000, period_s=3.6, pre=800),
        "tiny": dict(n_docs=1_000, segment=800, period_s=2.0, pre=400),
    },
}


def pct(xs: list[float], q: int) -> float:
    """Interpolated q-th percentile."""
    if len(xs) == 1:
        return xs[0]
    return statistics.quantiles(xs, n=100, method="inclusive")[q - 1]


class Ctx:
    """State of one benchmark run, shared by the workload steps."""

    def __init__(self, spark, tracer, work: str, cache_root: str, workload: str,
                 seed: int, seconds: float, size: str, threads: int):
        self.spark, self.tracer = spark, tracer
        self.work, self.seed, self.seconds, self.threads = work, seed, seconds, threads
        self.cache = InputCache(os.path.join(cache_root, workload, f"seed{seed}", size), seed)
        self.cfg = SIZES[workload][size]
        self.attempted = 0
        self.failed = 0

    def op(self, fn, *args, **kwargs):
        """Run one benchmark operation, counting it; a failure is counted,
        printed and re-raised."""
        self.attempted += 1
        try:
            return fn(*args, **kwargs)
        except Exception:
            self.failed += 1
            traceback.print_exc(file=sys.stderr)
            raise

    def check(self, what: str, mismatches: int, examples: list[str] = ()) -> None:
        self.attempted += 1
        if mismatches:
            self.failed += 1
            print(f"oracle mismatch in {what}: {mismatches} rows; e.g. {list(examples)[:5]}",
                  file=sys.stderr)

    def table_path(self, name: str) -> str:
        return os.path.join(self.work, "tables", name)

    def create(self, name: str, initial: str | None = None) -> SequenceTable:
        df = self.spark.read.parquet(initial) if initial else None
        return SequenceTable.create(self.spark, self.table_path(name), df, n_buckets=N_BUCKETS)


def _timed(fn, *args, **kwargs):
    t = time.perf_counter()
    out = fn(*args, **kwargs)
    return out, time.perf_counter() - t


def _median_prepare(build) -> tuple[object, float]:
    """Run ``build(rep)`` PREPARE_REPS times; return the last result and
    the median wall time."""
    walls, out = [], None
    for r in range(PREPARE_REPS):
        out, w = _timed(build, r)
        walls.append(w)
    return out, statistics.median(walls)


def verify_table(ctx: Ctx, table: SequenceTable, oracle: Oracle, what: str) -> int:
    """Compare ``table.read()`` row for row with the oracle; returns the
    number of mismatching rows."""
    out = os.path.join(ctx.work, "got", os.path.basename(table.root))
    shutil.rmtree(out, ignore_errors=True)
    ctx.op(lambda: table.read(ctx.spark).write.parquet(out))
    n, examples = oracle.compare_files(os.path.join(out, "*.parquet"))
    ctx.check(what, n, examples)
    return n


class Workload:
    name = ""

    def __init__(self, ctx: Ctx):
        self.ctx = ctx
        self.table: SequenceTable | None = None
        self.initial: str | None = None
        self.segments: list[str] = []  # applied to self.table, in order
        self.triggers: list[dict] = []  # measured apply_batch calls
        self.reads: dict[str, list[float]] = {k: [] for k in READ_KINDS}
        self.lookups: list[tuple[int, list[str], list[tuple]]] = []  # (segments applied, keys, rows)
        self.read_facts: dict[str, list] = {"delta_files": [], "hits": []}
        self.metrics: dict[str, tuple[float, str]] = {}
        self.read_p50: dict[str, float] = {}
        self.fresh: list[float] = []  # freshness of each measured trigger or segment
        self.live_bytes = 0

    def inputs(self) -> None:
        """Generate (or find in the cache) every input file of the run."""
        raise NotImplementedError

    def setup(self) -> dict[str, float]:
        """Pre-populate and warm up; returns the set-up seconds spent after
        the session start by part (input generation excluded)."""
        raise NotImplementedError

    def measure(self) -> None:
        raise NotImplementedError

    def _warm_up(self, segs: list[str]) -> None:
        """JIT warm-up (not recorded): two triggers into a scratch table, so
        both LWW plans run (a table's first fused trigger plans max_by,
        later ones the broadcast join), then a lookup, a full read and a
        changelog, whose first calls in a fresh JVM take seconds longer
        than the next ones (range scans and the change feed share their
        read path)."""
        ctx, spark = self.ctx, self.ctx.spark
        warm = ctx.create("warm")
        for i, seg in enumerate(segs):
            ctx.op(cdc.apply_batch, spark, warm, spark.read.parquet(seg), f"warm-{i}",
                   known_partitions=PARTS)
        noop = lambda df: df.write.format("noop").mode("overwrite").save()  # noqa: E731
        ctx.op(lambda: warm.lookup(spark, ["doc-1", "doc-2"]).collect())
        ctx.op(lambda: noop(warm.read(spark)))
        ctx.op(lambda: noop(warm.read_changelog(spark, 2)))

    def _apply(self, seg: str, batch_id: str) -> None:
        ctx = self.ctx
        start = time.time()
        res, wall = _timed(ctx.op, cdc.apply_batch, ctx.spark, self.table,
                           ctx.spark.read.parquet(seg), batch_id, known_partitions=PARTS)
        self.segments.append(seg)
        if ctx.tracer.phase == "measure":
            self.triggers.append(dict(wall=wall, events=res.events_in, due=start,
                                      sid=res.snapshot_id))

    def _read(self, kind: str, build, collect: bool = False):
        """One timed read, traced under ``kind``: ``build`` makes the
        DataFrame (its planning is part of the read), then it is collected
        or written to the no-op sink.  Traced runs also count the output
        rows through an observation on the same pass."""
        ctx = self.ctx
        obs = None

        def run():
            nonlocal obs
            df = build()
            if collect:
                return df.collect()
            if ctx.tracer.enabled:
                obs = Observation()
                df = df.observe(obs, F.count(F.lit(1)).alias("n"))
            df.write.format("noop").mode("overwrite").save()
            return None

        with ctx.tracer.span(kind, jobs=True):
            out, wall = _timed(ctx.op, run)
        self.reads[kind].append(wall)
        if obs is not None:
            self.read_facts.setdefault(f"{kind}_rows", []).append(obs.get["n"])
        return out

    def read_phase(self) -> None:
        """READ_MIX over the final table: point lookups of LOOKUP_KEYS
        random keys (each checked against the oracle later), key-range
        scans, the full training read, the change feed and the net
        changelog of the last commit."""
        spark, t, n_docs = self.ctx.spark, self.table, self.ctx.cfg["n_docs"]
        with self.ctx.tracer.quiet():
            sid = t.latest_snapshot_id()
            self.read_facts["delta_files"].append(sum(t.delta_file_counts().values()))
        prev = sid - 1
        rng = np.random.default_rng([self.ctx.seed, 1 << 20])
        os.sync()  # the ingest phase's writeback must not land on the reads
        for kind, calls in READ_MIX:
            for _ in range(calls):
                if kind == "lookup":
                    keys = [f"doc-{i}" for i in rng.choice(n_docs, LOOKUP_KEYS, replace=False)]
                    rows = self._read(kind, lambda: t.lookup(spark, keys, snapshot_id=sid),
                                      collect=True)
                    self.lookups.append((len(self.segments), keys, [
                        (r["doc_id"], r["tokens"], r["n_tok"], r["source"]) for r in rows]))
                    self.read_facts["hits"].append(len(rows))
                elif kind == "range":
                    p = int(rng.integers(10, 99))
                    self._read(kind, lambda: t.scan_range(spark, f"doc-{p}", f"doc-{p}~", sid))
                elif kind == "scan":
                    self._read(kind, lambda: t.read(spark, sid))
                elif kind == "feed":
                    self._read(kind, lambda: t.read_changes(spark, prev, sid))
                else:
                    self._read(kind, lambda: t.read_changelog(spark, sid - 1, sid))

    def freshness(self) -> list[float]:
        """Closed loop: commit time of each measured trigger's snapshot
        minus the time the caller handed the batch over."""
        return [self.table.snapshot(t["sid"])["committed_at"] - t["due"] for t in self.triggers]

    def finish(self) -> dict[str, tuple[float, str]]:
        """End-to-end metrics (everything but the post-check ones).  The
        read latencies go to ``read_p50`` (the result record), not to the
        gated metrics: on a shared 4-core host their run-to-run spread
        exceeds any usable bound.  A trigger's wall time includes the
        compaction ``apply_batch`` runs after its commit, so a compaction
        stall counts in ``ingest_events_per_s``."""
        walls = [t["wall"] for t in self.triggers]
        fresh = self.fresh = self.freshness()
        m = self.metrics
        m["ingest_events_per_s"] = (sum(t["events"] for t in self.triggers) / sum(walls), "ev/s")
        m["trigger_p50_s"] = (pct(walls, 50), "s")
        m["freshness_p50_s"] = (pct(fresh, 50), "s")
        self.read_p50 = {f"{k}_p50_s": pct(v, 50) for k, v in self.reads.items() if v}
        return m

    def check(self) -> None:
        """Final state and every lookup against the oracle."""
        ctx = self.ctx
        by_prefix: dict[int, list] = {}
        for n_applied, keys, rows in self.lookups:
            by_prefix.setdefault(n_applied, []).append((keys, rows))
        oracle = Oracle(self.initial, self.segments, ctx.threads)
        try:
            verify_table(ctx, self.table, oracle, f"{self.name} final state")
            self.live_bytes = oracle.live_bytes()
            self.metrics["bytes_per_live_byte"] = (dir_bytes(self.table.root) / self.live_bytes,
                                                   "ratio")
            self._check_lookups(oracle, len(self.segments), by_prefix.pop(len(self.segments), []))
        finally:
            oracle.close()
        for n_applied, checks in by_prefix.items():
            oracle = Oracle(self.initial, self.segments[:n_applied], ctx.threads)
            try:
                self._check_lookups(oracle, n_applied, checks)
            finally:
                oracle.close()

    def _check_lookups(self, oracle: Oracle, n_applied: int, checks: list) -> None:
        for keys, rows in checks:
            self.ctx.check(f"lookup after {n_applied} segments", oracle.compare_rows(keys, rows))


class BulkBackfill(Workload):
    """Closed loop, one caller: large uniform triggers into an empty table."""

    name = "bulk_backfill"

    def _segment(self, k: int) -> str:
        c = self.ctx.cfg
        return self.ctx.cache.segment(k, c["trigger"], c["n_docs"], "uniform")

    def inputs(self) -> None:
        c = self.ctx.cfg
        self.warm = [self.ctx.cache.segment(k, c["warm"], c["n_docs"], "uniform")
                     for k in range(2)]
        for k in range(self.n_triggers()):
            self._segment(k)

    def setup(self) -> dict[str, float]:
        ctx = self.ctx
        t = time.perf_counter()
        self._warm_up(self.warm)
        warm = time.perf_counter() - t
        self.table, prep = _median_prepare(lambda r: ctx.create(f"bulk{r}"))
        return {"warm_up_s": warm, "prepare_s": prep}

    def n_triggers(self) -> int:
        c = self.ctx.cfg
        return max(2, round(self.ctx.seconds * INGEST_SHARE / c["trigger_s"]))

    def measure(self) -> None:
        for k in range(self.n_triggers()):
            self._apply(self._segment(k), f"bulk-{k}")
        self.read_phase()


class TrickleHot(Workload):
    """Open loop: hot-key segments published on a fixed schedule into a
    watched directory, tailed by ``run_stream`` in continuous mode, into a
    pre-populated table whose buckets cross the compaction threshold on
    measured trigger COMPACT_ON."""

    name = "trickle_hot"
    # pre-population triggers: with the stream's start-up trigger, each
    # bucket holds COMPACT_THRESHOLD - COMPACT_ON deltas when measuring starts
    N_PRE = COMPACT_THRESHOLD - 1 - COMPACT_ON

    def __init__(self, ctx: Ctx):
        super().__init__(ctx)
        self.watch = os.path.join(ctx.work, "watch")
        self.staging = os.path.join(ctx.work, "staging")
        self.thread: threading.Thread | None = None
        self.stream_error: list[BaseException] = []
        self.applies: list[dict] = []  # every apply_batch the stream made
        self.published: list[tuple[float, float, int]] = []  # (due, actual, max offset)
        self.ingest_facts: dict[str, float] = {}
        self.k_max = max(COMPACT_ON + AFTER_COMPACT, round(ctx.seconds / ctx.cfg["period_s"]))
        self.base = self.N_PRE * ctx.cfg["pre"]  # offsets of the stream's log start here

    def _pre_segment(self, k: int) -> str:
        c = self.ctx.cfg
        return self.ctx.cache.segment(k, c["pre"], c["n_docs"], "hot")

    def _segment(self, k: int) -> str:
        c = self.ctx.cfg
        return self.ctx.cache.segment(k, c["segment"], c["n_docs"], "hot", base=self.base)

    def _publish(self, k: int) -> None:
        """Atomic publish: copy into staging, then rename into the watched dir."""
        tmp = os.path.join(self.staging, f"seg-{k:05d}.parquet")
        shutil.copyfile(self._segment(k), tmp)
        os.replace(tmp, os.path.join(self.watch, f"seg-{k:05d}.parquet"))
        self.segments.append(self._segment(k))

    def _record_applies(self) -> None:
        """Time every trigger of the stream and note the highest offset it
        committed (an end-to-end measurement, so it is on in untraced runs
        too)."""
        orig = ingest.apply_batch

        def timed_apply(*args, **kwargs):
            phase, t0 = self.ctx.tracer.phase, time.time()
            res = orig(*args, **kwargs)
            self.applies.append(dict(
                start=t0, end=time.time(), sid=res.snapshot_id, events=res.events_in,
                phase=phase, max_offset=max((p["max_offset"] for p in res.per_partition),
                                            default=-1)))
            return res

        ingest.apply_batch = timed_apply

    def inputs(self) -> None:
        c = self.ctx.cfg
        self.initial = self.ctx.cache.initial(c["n_docs"])
        self.pre = [self._pre_segment(k) for k in range(self.N_PRE)]
        for k in range(self.k_max + 1):
            self._segment(k)

    def setup(self) -> dict[str, float]:
        ctx = self.ctx
        os.makedirs(self.watch)
        os.makedirs(self.staging)
        self.table, prep = _median_prepare(lambda r: ctx.create(f"trickle{r}", self.initial))
        # pre-population, which also warms the JIT up (this workload makes
        # no reads): N_PRE small triggers leave N_PRE deltas in every bucket
        t = time.perf_counter()
        for k, seg in enumerate(self.pre):
            self._apply(seg, f"pre-{k}")
        warm = time.perf_counter() - t
        # stream start-up, drained on segment 0
        t = time.perf_counter()
        self._record_applies()
        self._publish(0)
        self.thread = threading.Thread(target=self._run_stream, name="run_stream")
        self.thread.start()
        self._wait_covered(self._max_offset(0), timeout=120)
        with ctx.tracer.quiet():
            self.ingest_facts["delta_files_at_start"] = sum(self.table.delta_file_counts().values())
        return {"warm_up_s": warm, "prepare_s": prep, "stream_start_s": time.perf_counter() - t}

    def _run_stream(self) -> None:
        try:
            self.ctx.op(ingest.run_stream, self.ctx.spark, self.watch, self.table,
                        os.path.join(self.ctx.work, "checkpoint"), available_now=False,
                        known_partitions=PARTS)
        except BaseException as e:  # reported by stop(); the thread must end
            self.stream_error.append(e)

    def _max_offset(self, k: int) -> int:
        return self.base + (k + 1) * self.ctx.cfg["segment"] - 1

    def _wait_covered(self, offset: int, timeout: float) -> None:
        """Wait until a trigger that committed ``offset`` has returned (its
        compaction included), from the benchmark's own records of the
        stream's triggers, so the engine sees no calls from this thread."""
        deadline = time.monotonic() + timeout
        while max((a["max_offset"] for a in self.applies), default=-1) < offset:
            if self.stream_error or not self.thread.is_alive():
                raise RuntimeError("the ingest stream stopped") from (
                    self.stream_error[0] if self.stream_error else None)
            if time.monotonic() > deadline:
                raise TimeoutError(f"offset {offset} not committed within {timeout} s")
            time.sleep(0.05)

    def measure(self) -> None:
        period = self.ctx.cfg["period_s"]
        t0 = time.time() + 0.2
        for k in range(1, self.k_max + 1):
            due = t0 + (k - 1) * period
            delay = due - time.time()
            if delay > 0:
                time.sleep(delay)
            self._publish(k)
            self.published.append((due, time.time(), self._max_offset(k)))
        # the open loop ends once the last published segment is committed
        try:
            self._wait_covered(self._max_offset(self.k_max), timeout=60)
        finally:
            self.stop()
        self.triggers = [dict(wall=a["end"] - a["start"], events=a["events"], sid=a["sid"])
                         for a in self.applies if a["phase"] == "measure"]

    def stop(self) -> None:
        """Stop the stream and wait for its thread; idempotent."""
        for q in self.ctx.spark.streams.active:
            q.stop()
        if self.thread is not None:
            self.thread.join(timeout=60)
            if self.thread.is_alive():
                raise RuntimeError("run_stream did not stop")
            self.thread = None
        if self.stream_error:
            raise RuntimeError("the ingest stream failed") from self.stream_error[0]

    def freshness(self) -> list[float]:
        """Open loop: commit time of the first snapshot whose lineage covers
        a segment's max offset minus the segment's scheduled publish time."""
        commits = []  # (committed_at, covered offset, snapshot id), oldest first
        for s in sorted(self.table.committed_chain(), key=lambda s: s["snapshot_id"]):
            lin = (s.get("lineage") or {}).get("per_partition")
            if lin:
                commits.append((s["committed_at"], max(p["max_offset"] for p in lin),
                                s["snapshot_id"]))
        commit_of = [next(x for x in commits if x[1] >= off) for _d, _a, off in self.published]
        apply_of = {a["sid"]: a["end"] - a["start"] for a in self.applies}
        fresh = [at - due for (due, _a, _o), (at, _c, _s) in zip(self.published, commit_of)]
        wait = [f - apply_of.get(sid, 0.0) for f, (_at, _c, sid) in zip(fresh, commit_of)]
        backlog = 0
        for i, (_due, actual, _off) in enumerate(self.published):
            done = sum(1 for at, _c, _s in commit_of if at <= actual)
            backlog = max(backlog, (i + 1 - done) * self.ctx.cfg["segment"])
        self.ingest_facts.update(
            queue_wait_s=pct(wait, 50),
            backlog_max_events=backlog,
            generator_late_s=max(a - d for d, a, _ in self.published),
        )
        return fresh


WORKLOADS = {w.name: w for w in (BulkBackfill, TrickleHot)}
