"""Per-layer tracing from outside the program.

The benchmark wraps the public functions of each layer in its own code
(``install``).  Each wrapper records a span (name, start, end, parent) in
memory and tags the Spark jobs the call submits with ``setJobGroup(name)``,
restoring the outer group afterwards.  After the run, Spark's event log
(enabled only for traced runs) is parsed so each layer also gets the
shuffle bytes, input records, GC time, task skew and job count of its own
jobs.  Nested calls are exclusive: jobs a compaction submits inside
``apply_batch`` count for ``compact``, not ``cdc``.
"""

from __future__ import annotations

import contextlib
import functools
import json
import os
import statistics
import threading
import time
from dataclasses import dataclass, field

# Layer metric -> (end-to-end metric, workload) it should move; read_p50.*
# are the read latencies of the result record, outside the gate.  Also
# written to every trace file; perfbench/METRICS.md explains the choice.
LAYER_MAP = {
    "session.start_s": ("setup_s", "all"),
    "ingest.self_s": ("freshness_p50_s", "trickle_hot"),
    "ingest.queue_wait_s": ("freshness_p50_s", "trickle_hot"),
    "ingest.backlog_max_events": ("freshness_p50_s", "trickle_hot"),
    "ingest.generator_late_s": ("freshness_p50_s", "trickle_hot"),
    "lineage.calls": ("trigger_p50_s", "trickle_hot"),
    "lineage.busy_s": ("trigger_p50_s", "trickle_hot"),
    "cdc.busy_s": ("ingest_events_per_s", "bulk_backfill"),
    "cdc.self_s": ("ingest_events_per_s", "bulk_backfill"),
    "cdc.shuffle_bytes_per_event": ("ingest_events_per_s", "bulk_backfill"),
    "cdc.output_bytes_per_event": ("ingest_events_per_s", "bulk_backfill"),
    "cdc.task_skew": ("ingest_events_per_s", "bulk_backfill"),
    "cdc.gc_frac": ("ingest_events_per_s", "bulk_backfill"),
    "cdc.winners_per_event": ("ingest_events_per_s", "bulk_backfill"),
    "cdc.spark_jobs_per_trigger": ("trigger_p50_s", "trickle_hot"),
    "cdc.tasks_per_trigger": ("trigger_p50_s", "trickle_hot"),
    "cdc.bcast_join_frac": ("trigger_p50_s", "trickle_hot"),
    "commit.calls": ("trigger_p50_s", "trickle_hot"),
    "commit.busy_s": ("trigger_p50_s", "trickle_hot"),
    "commit.conflicts": ("trigger_p50_s", "trickle_hot"),
    "commit.metadata_bytes_per_commit": ("trigger_p50_s", "trickle_hot"),
    "find_batch.busy_s": ("trigger_p50_s", "trickle_hot"),
    "snapshot.calls": ("trigger_p50_s", "trickle_hot"),
    "snapshot.busy_s": ("trigger_p50_s", "trickle_hot"),
    "compact.calls": ("ingest_events_per_s, freshness_p50_s, bytes_per_live_byte", "trickle_hot"),
    "compact.busy_s": ("ingest_events_per_s, freshness_p50_s, bytes_per_live_byte", "trickle_hot"),
    "compact.max_s": ("ingest_events_per_s, freshness_p50_s", "trickle_hot"),
    "compact.bytes_rewritten": ("bytes_per_live_byte", "trickle_hot"),
    "read.delta_files_at_call": ("read_p50.scan_p50_s", "bulk_backfill"),
    "read.busy_s": ("read_p50.scan_p50_s", "bulk_backfill"),
    "read.bytes_read_per_live_byte": ("read_p50.scan_p50_s", "bulk_backfill"),
    "read.shuffle_bytes": ("read_p50.scan_p50_s", "bulk_backfill"),
    "lookup.spark_jobs_per_call": ("read_p50.lookup_p50_s", "bulk_backfill"),
    "lookup.records_read_per_hit": ("read_p50.lookup_p50_s", "bulk_backfill"),
    "range.records_read_per_row": ("read_p50.range_p50_s", "bulk_backfill"),
    "changes.records_read_per_row": ("read_p50.feed_p50_s", "bulk_backfill"),
    "changelog.spark_jobs_per_call": ("read_p50.changelog_p50_s", "bulk_backfill"),
    "changelog.records_read_per_row": ("read_p50.changelog_p50_s", "bulk_backfill"),
    "changelog.shuffle_bytes": ("read_p50.changelog_p50_s", "bulk_backfill"),
    "fs.metadata_writes": ("trigger_p50_s", "trickle_hot"),
    "fs.busy_s": ("trigger_p50_s", "trickle_hot"),
}


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    phase: str = ""
    attrs: dict = field(default_factory=dict)


class Tracer:
    """In-memory span recorder.  Disabled tracers record nothing and
    never touch Spark's job groups, so untraced runs pay no tracing cost."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self.phase = "setup"
        self.sc = None  # SparkContext once the session exists
        self.fallback_parent: int | None = None  # for Spark callback threads
        self._local = threading.local()
        self._lock = threading.Lock()

    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextlib.contextmanager
    def quiet(self):
        """Record no spans on this thread: for the benchmark's own calls
        into the engine (metadata reads it makes for its records)."""
        self._local.quiet = True
        try:
            yield
        finally:
            self._local.quiet = False

    @contextlib.contextmanager
    def span(self, name: str, jobs: bool = False, callback_root: bool = False):
        """Record one span.  ``jobs``: the layer submits Spark jobs, so tag
        them with the layer's job group.  ``callback_root``: spans opened
        on threads with no open span of their own (Spark's foreachBatch
        callbacks) become children of this one."""
        if not self.enabled or getattr(self._local, "quiet", False):
            yield None
            return
        stack = self._stack()
        with self._lock:
            sp = Span(len(self.spans), name, time.time(),
                      parent=stack[-1] if stack else self.fallback_parent,
                      phase=self.phase)
            self.spans.append(sp)
        if callback_root:
            self.fallback_parent = sp.id
        tag = jobs and self.sc is not None
        if tag:
            outer = self.sc.getLocalProperty("spark.jobGroup.id")
            self.sc.setJobGroup(name, name)
        stack.append(sp.id)
        try:
            yield sp
        except Exception as e:
            sp.attrs["error"] = type(e).__name__
            raise
        finally:
            stack.pop()
            sp.end = time.time()
            if callback_root:
                self.fallback_parent = None
            if tag:
                self.sc.setLocalProperty("spark.jobGroup.id", outer)
                self.sc.setLocalProperty("spark.job.description", outer)

    def dump(self, path: str, extra: dict) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path + ".tmp", "w") as f:
            json.dump({"spans": [s.__dict__ for s in self.spans], "layer_map": LAYER_MAP,
                       **extra}, f)
        os.replace(path + ".tmp", path)


def _wrap(tracer: Tracer, owner, attr: str, name: str, outermost: bool = False,
          on_result=None, **span_kw):
    """Replace ``owner.attr`` by a span-recording wrapper."""
    orig = getattr(owner, attr)

    @functools.wraps(orig)
    def wrapper(*args, **kwargs):
        stack = tracer._stack()
        if outermost and stack and tracer.spans[stack[-1]].name == name:
            return orig(*args, **kwargs)
        with tracer.span(name, **span_kw) as sp:
            out = orig(*args, **kwargs)
            if on_result is not None:
                on_result(sp, args, kwargs, out)
            return out

    setattr(owner, attr, wrapper)


def install(tracer: Tracer) -> None:
    """Wrap every traced public function.  Module attributes imported by name elsewhere (``apply_batch`` and
    ``write_lineage`` inside ``streaming.ingest``) are wrapped there too."""
    from cfe_39_spark.operators import cdc
    from cfe_39_spark.sources import fs, table
    from cfe_39_spark.streaming import ingest, lineage

    def apply_result(sp, args, kwargs, res):
        sp.attrs.update(events=res.events_in, rows=res.rows_applied,
                        strategy=res.lww_strategy_used, noop=res.noop)

    for owner in (cdc, ingest):
        _wrap(tracer, owner, "apply_batch", "cdc", jobs=True, on_result=apply_result)
    for owner in (lineage, ingest):
        _wrap(tracer, owner, "write_lineage", "lineage")
    _wrap(tracer, ingest, "run_stream", "ingest", jobs=True, callback_root=True)
    ST = table.SequenceTable
    _wrap(tracer, ST, "compact", "compact", jobs=True)
    for attr, name in (("commit", "commit"), ("commit_rebase", "commit"),
                       ("find_batch", "find_batch"), ("snapshot", "snapshot")):
        _wrap(tracer, ST, attr, name, outermost=True)
    for attr in ("write_atomic", "write_json_atomic", "append_line"):
        _wrap(tracer, fs, attr, "fs", outermost=True)


# --------------------------------------------------------------------- #
# Spark event log
# --------------------------------------------------------------------- #
@dataclass
class GroupStats:
    jobs: int = 0
    tasks: int = 0
    run_ms: float = 0.0
    gc_ms: float = 0.0
    shuffle_write: int = 0
    input_bytes: int = 0
    input_records: int = 0
    output_bytes: int = 0
    stage_task_ms: dict = field(default_factory=dict)

    def task_skew(self) -> float:
        """Median over stages (with >= 2 tasks) of max / median task time."""
        ratios = []
        for times in self.stage_task_ms.values():
            if len(times) >= 2:
                med = statistics.median(times)
                ratios.append(max(times) / med if med > 0 else 1.0)
        return statistics.median(ratios) if ratios else 1.0


def parse_event_log(path: str, window: tuple[float, float]) -> dict[str, GroupStats]:
    """Per-job-group Spark metrics of the jobs submitted inside ``window``
    (epoch seconds)."""
    stage_group: dict[int, str] = {}
    out: dict[str, GroupStats] = {}
    lo, hi = window[0] * 1000, window[1] * 1000
    with open(path) as f:
        for line in f:
            if '"SparkListenerJobStart"' in line:
                ev = json.loads(line)
                if not lo <= ev.get("Submission Time", 0) <= hi:
                    continue
                group = (ev.get("Properties") or {}).get("spark.jobGroup.id") or "untagged"
                out.setdefault(group, GroupStats()).jobs += 1
                for sid in ev.get("Stage IDs", []):
                    stage_group[sid] = group
            elif '"SparkListenerTaskEnd"' in line:
                ev = json.loads(line)
                group = stage_group.get(ev.get("Stage ID"))
                if group is None:
                    continue
                g = out[group]
                info = ev.get("Task Info") or {}
                m = ev.get("Task Metrics") or {}
                g.tasks += 1
                g.run_ms += m.get("Executor Run Time", 0)
                g.gc_ms += m.get("JVM GC Time", 0)
                g.shuffle_write += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
                inp = m.get("Input Metrics") or {}
                g.input_bytes += inp.get("Bytes Read", 0)
                g.input_records += inp.get("Records Read", 0)
                g.output_bytes += (m.get("Output Metrics") or {}).get("Bytes Written", 0)
                dur = info.get("Finish Time", 0) - info.get("Launch Time", 0)
                g.stage_task_ms.setdefault(ev["Stage ID"], []).append(dur)
    return out


def find_event_log(log_dir: str) -> str | None:
    files = [os.path.join(log_dir, f) for f in os.listdir(log_dir)] if os.path.isdir(log_dir) else []
    files = [f for f in files if os.path.isfile(f)]
    return max(files, key=os.path.getmtime) if files else None


# --------------------------------------------------------------------- #
# span aggregation
# --------------------------------------------------------------------- #
def union_len(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


class SpanStats:
    """Aggregates over the spans recorded in the measured phase."""

    def __init__(self, spans: list[Span]):
        self.all = spans
        self.spans = [s for s in spans if s.phase == "measure"]
        self.children: dict[int, list[Span]] = {}
        for s in spans:
            if s.parent is not None:
                self.children.setdefault(s.parent, []).append(s)

    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def outer(self, name: str) -> list[Span]:
        """Spans of ``name`` with no ancestor span of the same name."""
        out = []
        for s in self.named(name):
            p = s.parent
            while p is not None and self.all[p].name != name:
                p = self.all[p].parent
            if p is None:
                out.append(s)
        return out

    def busy(self, name: str) -> float:
        return sum(s.end - s.start for s in self.outer(name))

    def self_time(self, name: str) -> float:
        """Span time minus the part its child spans (other layers) cover."""
        total = 0.0
        for s in self.outer(name):
            kids = [(c.start, c.end) for c in self._descendants(s.id) if c.name != name]
            total += (s.end - s.start) - union_len(kids)
        return total

    def _descendants(self, idx: int) -> list[Span]:
        out, todo = [], list(self.children.get(idx, []))
        while todo:
            c = todo.pop()
            out.append(c)
            todo.extend(self.children.get(c.id, []))
        return out
