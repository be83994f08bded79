"""Seeded, cached benchmark inputs built with ``fixtures.gen_bench_log``.

Every input is a pure function of (workload, seed, size, index), so it is
generated at most once per checkout and reused by later runs with the same
seed.  Generation always happens outside the timed regions.

A log is a sequence of segments.  Segment ``k`` is one ``gen_bench_log``
call (seeded from ``(seed, k)``) whose offsets and event times are then
shifted past those of segment ``k - 1`` (and past ``base``, the events of
an earlier log the segments follow), so the whole log keeps the
generator's properties: offsets unique and increasing per source
partition, about 5% of events out of event-time order, deletes carrying no
tokens.
"""

from __future__ import annotations

import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

from cfe_39_spark.fixtures import gen_bench_log

MEAN_TOKENS = 256
N_PARTITIONS = 8


def _sub_seed(seed: int, *parts: int) -> int:
    return int(np.random.SeedSequence([seed, *parts]).generate_state(1)[0])


def _publish(tmp: str, path: str) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    os.replace(tmp, path)


class InputCache:
    """Generated inputs of one seed, cached under ``dir``."""

    def __init__(self, dir: str, seed: int):
        self.dir = dir
        self.seed = seed

    def initial(self, n_docs: int) -> str:
        """Parquet file of ``n_docs`` live rows ``doc-0 .. doc-{n_docs-1}``
        (the pre-populated table's base load); token payloads come from
        ``gen_bench_log``."""
        path = os.path.join(self.dir, f"initial-{n_docs}.parquet")
        if os.path.exists(path):
            return path
        scratch = path + ".gen"
        shutil.rmtree(scratch, ignore_errors=True)
        # ~10% of generated events are deletes (no payload): over-generate
        gen_bench_log(scratch, n_events=n_docs * 5 // 4 + 64, n_docs=n_docs,
                      n_segments=1, n_partitions=N_PARTITIONS,
                      mean_len=MEAN_TOKENS, seed=_sub_seed(self.seed, 0))
        tbl = pq.read_table(os.path.join(scratch, "seg-00000.parquet"))
        tbl = tbl.filter(pc.not_equal(tbl["op"], "D")).slice(0, n_docs)
        if tbl.num_rows != n_docs:
            raise RuntimeError("initial load generation came up short")
        ids = pa.array([f"doc-{k}" for k in range(n_docs)])
        out = pa.table({"doc_id": ids, "tokens": tbl["tokens"],
                        "n_tok": tbl["n_tok"], "source": tbl["source"]})
        pq.write_table(out, path + ".tmp", row_group_size=16384)
        _publish(path + ".tmp", path)
        shutil.rmtree(scratch, ignore_errors=True)
        return path

    def _segment_path(self, k: int, n_events: int, n_docs: int, key_dist: str,
                      base: int) -> str:
        log = f"{key_dist}-{n_docs}-{n_events}" + (f"-after{base}" if base else "")
        return os.path.join(self.dir, log, f"seg-{k:05d}.parquet")

    def segment(self, k: int, n_events: int, n_docs: int, key_dist: str, base: int = 0) -> str:
        """Segment ``k`` of the log: ``n_events`` change events over keys
        ``[0, n_docs)``, ``key_dist`` 'uniform' or 'hot' (80% of events on
        1% of keys), with offsets from ``base + k * n_events`` on."""
        if n_events % N_PARTITIONS:
            raise ValueError("segment size must be a multiple of the partition count")
        path = self._segment_path(k, n_events, n_docs, key_dist, base)
        if os.path.exists(path):
            return path
        scratch = path + ".gen"
        shutil.rmtree(scratch, ignore_errors=True)
        gen_bench_log(scratch, n_events=n_events, n_docs=n_docs, n_segments=1,
                      n_partitions=N_PARTITIONS, key_dist=key_dist,
                      mean_len=MEAN_TOKENS, seed=_sub_seed(self.seed, 1, base, k))
        tbl = pq.read_table(os.path.join(scratch, "seg-00000.parquet"))
        shift = base + k * n_events
        et = tbl["event_time"].cast(pa.int64())
        et = pc.add(et, shift * 1_000_000).cast(tbl.schema.field("event_time").type)
        cols = {
            "offset": pc.add(tbl["offset"], shift),
            "epoch": pa.array(np.full(tbl.num_rows, k, dtype=np.int64)),
            "event_time": et,
        }
        for name, col in cols.items():
            tbl = tbl.set_column(tbl.schema.get_field_index(name), name, col)
        pq.write_table(tbl, path + ".tmp", row_group_size=16384)
        _publish(path + ".tmp", path)
        shutil.rmtree(scratch, ignore_errors=True)
        return path
