"""Independent correctness oracle: DuckDB over the generated log.

The expected live state is computed from the input files alone, never from
the table: per ``doc_id`` the event with the greatest
``(event_time, offset, src_partition)`` wins, a winning delete drops the
row, and rows of the initial load count as events older than any change.
The engine's output is compared with it row for row, token arrays
included.
"""

from __future__ import annotations

import duckdb

_EPOCH0 = "TIMESTAMP '1970-01-01 00:00:00'"


def _sql_list(paths: list[str]) -> str:
    return "[" + ", ".join("'" + p.replace("'", "''") + "'" for p in paths) + "]"


class Oracle:
    """Expected state of a table fed ``initial`` (or nothing) and then
    ``segments`` in any order."""

    def __init__(self, initial: str | None, segments: list[str], threads: int):
        self.con = duckdb.connect(config={"threads": threads, "memory_limit": "1GB"})
        parts = []
        if initial is not None:
            parts.append(
                f"SELECT doc_id, tokens, n_tok, source, 'I' AS op, {_EPOCH0} AS event_time, "
                f"-1::BIGINT AS \"offset\", -1::INTEGER AS src_partition "
                f"FROM read_parquet('{initial}')"
            )
        if segments:
            parts.append(
                "SELECT doc_id, tokens, n_tok, source, op, event_time::TIMESTAMP AS event_time, "
                f"\"offset\", src_partition FROM read_parquet({_sql_list(segments)})"
            )
        if not parts:
            raise ValueError("oracle needs an initial load or at least one segment")
        self.con.execute(
            "CREATE TEMP TABLE expected AS SELECT doc_id, tokens, n_tok, source FROM ("
            + " UNION ALL ".join(parts)
            + ") QUALIFY row_number() OVER (PARTITION BY doc_id "
            "ORDER BY event_time DESC, \"offset\" DESC, src_partition DESC) = 1 "
            "AND op <> 'D'"
        )

    def close(self) -> None:
        self.con.close()

    def live_rows(self) -> int:
        return self.con.execute("SELECT count(*) FROM expected").fetchone()[0]

    def live_bytes(self) -> int:
        """Payload bytes of the live state: 4 bytes per token plus the
        doc_id bytes (the denominator of ``bytes_per_live_byte``)."""
        return int(self.con.execute(
            "SELECT coalesce(sum(4 * n_tok + strlen(doc_id)), 0) FROM expected"
        ).fetchone()[0])

    def compare_files(self, got_glob: str, show: int = 5) -> tuple[int, list[str]]:
        """Rows where the engine's output (parquet files) differs from the
        expected state: missing, extra, duplicated or with different
        columns.  Returns the count and a few examples."""
        got = f"read_parquet('{got_glob}')"
        dup = self.con.execute(
            f"SELECT count(*) - count(DISTINCT doc_id) FROM {got}"
        ).fetchone()[0]
        rows = self.con.execute(
            f"SELECT coalesce(e.doc_id, g.doc_id), "
            f"CASE WHEN g.doc_id IS NULL THEN 'missing' WHEN e.doc_id IS NULL THEN 'extra' "
            f"ELSE 'differs' END FROM expected e FULL OUTER JOIN {got} g ON e.doc_id = g.doc_id "
            f"WHERE e.doc_id IS NULL OR g.doc_id IS NULL OR e.tokens IS DISTINCT FROM g.tokens "
            f"OR e.n_tok IS DISTINCT FROM g.n_tok OR e.source IS DISTINCT FROM g.source"
        ).fetchall()
        examples = [f"{d}: {why}" for d, why in rows[:show]]
        if dup:
            examples.append(f"{dup} duplicated doc_id rows")
        return len(rows) + int(dup), examples

    def compare_rows(self, keys: list[str], got: list[tuple]) -> int:
        """Mismatches between the expected rows for ``keys`` and ``got``,
        a list of ``(doc_id, tokens, n_tok, source)`` tuples."""
        want = {
            r[0]: (list(r[1]), r[2], r[3])
            for r in self.con.execute(
                "SELECT doc_id, tokens, n_tok, source FROM expected WHERE doc_id IN "
                "(SELECT unnest(?::VARCHAR[]))", [list(keys)]
            ).fetchall()
        }
        have = {r[0]: (list(r[1]), r[2], r[3]) for r in got}
        bad = sum(1 for k in set(want) | set(have) if want.get(k) != have.get(k))
        return bad + (len(got) - len(have))
