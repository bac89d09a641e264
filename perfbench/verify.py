"""Result checks, run after the timed window.

A query with a registered oracle must return the same columns and the same
order-insensitive row values as its DuckDB oracle over the same fixture,
normalized exactly as ``tools/check_correctness.py`` (the repo's oracle
gate) normalizes them.  A rows-only query must return at least one row.
Every query's output schema must be atomic (CLAUDE.md invariant 5).
"""

from __future__ import annotations

import hashlib
import threading

import duckdb
from pyspark.sql.types import ArrayType, MapType, StructType

from tools.check_correctness import TABLES, norm_rows


def digest(cols: list[str], rows: list[tuple]) -> tuple[tuple, int, str]:
    """(sorted column names, row count, hash of the normalized rows)."""
    h = hashlib.sha256(repr(norm_rows(cols, rows)).encode()).hexdigest()
    return tuple(sorted(cols)), len(rows), h


class Oracle:
    """DuckDB over the bench fixture; one expected digest per query."""

    def __init__(self, sf_dir: str, oracles: dict[str, str]):
        self._sql = oracles
        self._con = duckdb.connect()
        for t in TABLES:
            self._con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
            )
        self._expected: dict[str, tuple] = {}
        self._lock = threading.Lock()  # one DuckDB connection, many checkers

    def expected(self, name: str):
        with self._lock:
            if name not in self._expected:
                rel = self._con.sql(self._sql[name])
                self._expected[name] = digest(list(rel.columns), rel.fetchall())
            return self._expected[name]

    def check(self, name: str, df) -> str | None:
        """None when ``df`` is a correct result for ``name``, else why not."""
        nonatomic = [
            f.name
            for f in df.schema.fields
            if isinstance(f.dataType, (ArrayType, MapType, StructType))
        ]
        if nonatomic:
            return f"non-atomic output columns {nonatomic}"
        got = digest(df.columns, [tuple(r) for r in df.collect()])
        if name not in self._sql:
            return None if got[1] > 0 else "rows-only query returned no rows"
        want = self.expected(name)
        if got != want:
            return f"got {got[1]} rows {got[2][:12]}, oracle {want[1]} rows {want[2][:12]}"
        return None
