"""Per-layer metrics of a traced run: spans (from ``spans.Tracer``), Spark
event-log job groups and the facts a workload records about its own loop.
Layers a workload does not exercise report 0."""

from __future__ import annotations

import statistics

from spans import GroupStats, SpanStats, union_len


def _per(a: float, b: float) -> float:
    return a / b if b else 0.0


def layer_metrics(tracer, groups: dict[str, GroupStats], wl, meta_bytes: int,
                  window: tuple[float, float]) -> dict[str, tuple[float, str]]:
    st = SpanStats(tracer.spans)
    g = lambda name: groups.get(name, GroupStats())  # noqa: E731
    m: dict[str, tuple[float, str]] = {}
    m["session.start_s"] = (tracer.session_start_s, "s")

    # streaming.ingest: run_stream time inside the measured window that is
    # not spent in apply_batch (its span starts during set-up)
    lo, hi = window
    ingest_s = sum(max(0.0, min(s.end, hi) - max(s.start, lo))
                   for s in tracer.spans if s.name == "ingest")
    applies = [(max(s.start, lo), min(s.end, hi)) for s in st.named("cdc")
               if s.parent is not None and tracer.spans[s.parent].name == "ingest"]
    facts = getattr(wl, "ingest_facts", {})
    m["ingest.self_s"] = (ingest_s - union_len(applies) if ingest_s else 0.0, "s")
    m["ingest.queue_wait_s"] = (facts.get("queue_wait_s", 0.0), "s")
    m["ingest.backlog_max_events"] = (facts.get("backlog_max_events", 0), "events")
    m["ingest.generator_late_s"] = (facts.get("generator_late_s", 0.0), "s")

    m["lineage.calls"] = (len(st.outer("lineage")), "count")
    m["lineage.busy_s"] = (st.busy("lineage"), "s")

    cdc_spans = [s for s in st.outer("cdc") if not s.attrs.get("noop")]
    events = sum(s.attrs.get("events", 0) for s in cdc_spans)
    cg = g("cdc")
    m["cdc.busy_s"] = (st.busy("cdc"), "s")
    m["cdc.self_s"] = (st.self_time("cdc"), "s")
    m["cdc.shuffle_bytes_per_event"] = (_per(cg.shuffle_write, events), "B/ev")
    m["cdc.output_bytes_per_event"] = (_per(cg.output_bytes, events), "B/ev")
    m["cdc.task_skew"] = (cg.task_skew() if cg.tasks else 0.0, "ratio")
    m["cdc.gc_frac"] = (_per(cg.gc_ms, cg.run_ms), "ratio")
    m["cdc.winners_per_event"] = (_per(sum(s.attrs.get("rows", 0) for s in cdc_spans), events), "ratio")
    m["cdc.spark_jobs_per_trigger"] = (_per(cg.jobs, len(cdc_spans)), "count")
    m["cdc.tasks_per_trigger"] = (_per(cg.tasks, len(cdc_spans)), "count")
    m["cdc.bcast_join_frac"] = (_per(sum(1 for s in cdc_spans if s.attrs.get("strategy") == "bcast_join"),
                                     len(cdc_spans)), "ratio")

    commits = st.outer("commit")
    m["commit.calls"] = (len(commits), "count")
    m["commit.busy_s"] = (st.busy("commit"), "s")
    m["commit.conflicts"] = (sum(1 for s in commits if s.attrs.get("error") == "CommitConflictError"), "count")
    m["commit.metadata_bytes_per_commit"] = (_per(meta_bytes, len(commits)), "B")
    m["find_batch.busy_s"] = (st.busy("find_batch"), "s")
    m["snapshot.calls"] = (len(st.outer("snapshot")), "count")
    m["snapshot.busy_s"] = (st.busy("snapshot"), "s")

    compacts = st.outer("compact")
    m["compact.calls"] = (len(compacts), "count")
    m["compact.busy_s"] = (st.busy("compact"), "s")
    m["compact.max_s"] = (max((s.end - s.start for s in compacts), default=0.0), "s")
    m["compact.bytes_rewritten"] = (g("compact").output_bytes, "B")

    rf = getattr(wl, "read_facts", {})
    live = getattr(wl, "live_bytes", 0)
    scans = st.named("scan")
    rg = g("scan")
    m["read.delta_files_at_call"] = (statistics.mean(rf["delta_files"]) if rf.get("delta_files") else 0.0, "count")
    m["read.busy_s"] = (st.busy("scan"), "s")
    m["read.bytes_read_per_live_byte"] = (_per(_per(rg.input_bytes, len(scans)), live), "ratio")
    m["read.shuffle_bytes"] = (_per(rg.shuffle_write, len(scans)), "B")
    m["lookup.spark_jobs_per_call"] = (_per(g("lookup").jobs, len(st.named("lookup"))), "count")
    m["lookup.records_read_per_hit"] = (_per(g("lookup").input_records, sum(rf.get("hits", []))), "ratio")
    m["range.records_read_per_row"] = (_per(g("range").input_records, sum(rf.get("range_rows", []))), "ratio")
    m["changes.records_read_per_row"] = (_per(g("feed").input_records, sum(rf.get("feed_rows", []))), "ratio")
    cl = st.named("changelog")
    m["changelog.spark_jobs_per_call"] = (_per(g("changelog").jobs, len(cl)), "count")
    m["changelog.records_read_per_row"] = (_per(g("changelog").input_records,
                                                sum(rf.get("changelog_rows", []))), "ratio")
    m["changelog.shuffle_bytes"] = (_per(g("changelog").shuffle_write, len(cl)), "B")

    m["fs.metadata_writes"] = (len(st.outer("fs")), "count")
    m["fs.busy_s"] = (st.busy("fs"), "s")
    return m
