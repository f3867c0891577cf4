"""Expected results, computed outside the timed region.

Relational results are compared as order-insensitive multisets of
normalised cells (the oracle gate's own normalisation from
``verify_local.py``) against DuckDB over the same generated parquet files.
"""

from __future__ import annotations

import hashlib
import os

import duckdb

from verify_local import _rows_multiset


def digest(cols, rows) -> str:
    """Hash of a result as the oracle gate compares it."""
    h = hashlib.sha1()
    h.update(repr(sorted(c.lower() for c in cols)).encode())
    for row in _rows_multiset([c.lower() for c in cols], rows):
        h.update(repr(row).encode())
    return h.hexdigest()


def collect(df) -> tuple[list, list]:
    """Force a frame: its column names and collected rows."""
    return df.columns, df.collect()


def spark_digest(result) -> tuple[int, str]:
    cols, rows = result
    return len(rows), digest(cols, [tuple(r) for r in rows])


class Oracle:
    """DuckDB views over a directory of generated parquet tables."""

    def __init__(self, tables_dir: str, names):
        self.con = duckdb.connect()
        self.con.execute("SET TimeZone = 'UTC'")
        for name in names:
            path = os.path.join(tables_dir, f"{name}.parquet")
            self.con.sql(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')")
        self._memo: dict[str, tuple[int, str]] = {}

    def expect(self, sql: str) -> tuple[int, str]:
        """(row count, digest) of ``sql`` on DuckDB, memoised per text."""
        if sql not in self._memo:
            rel = self.con.sql(sql)
            cols = list(rel.columns)
            if not cols:
                raise ValueError("oracle returned no columns")
            rows = rel.fetchall()
            self._memo[sql] = (len(rows), digest(cols, rows))
        return self._memo[sql]

    def close(self) -> None:
        self.con.close()


def compare(got: tuple[int, str], want: tuple[int, str]) -> str | None:
    if got == want:
        return None
    return f"rows {got[0]} digest {got[1][:10]} != oracle rows {want[0]} digest {want[1][:10]}"
