"""Check an op's Arrow result against its DuckDB oracle.

The compare is `tools/check_oracle.py`'s, imported: the same column-name
check, row count, per-column value-type classes and order-insensitive
normalised multiset of values.  Tables are read from the generated data
directory; a table stored in the directory layout
(`events.parquet/part-*.parquet`) is read through a glob.
"""

from __future__ import annotations

import os

import duckdb
import pyarrow as pa

from tools.check_oracle import TABLES, norm_rows, typed_mismatches


def arrow_rows(table: pa.Table) -> tuple[list[str], list[tuple]]:
    """Column names and row tuples of an Arrow result, with values as
    Spark's `collect()` gives them: zoned timestamps become naive UTC
    datetimes (the session time zone is UTC)."""
    cols = []
    for field, col in zip(table.schema, table.columns):
        if pa.types.is_timestamp(field.type) and field.type.tz is not None:
            col = col.cast(pa.timestamp(field.type.unit))
        cols.append(col.to_pylist())
    return list(table.column_names), list(zip(*cols)) if cols else []


class Oracle:
    """DuckDB views over one data directory; oracle results are cached
    per op until `invalidate()` (call it after the data changes)."""

    def __init__(self, data_dir: str):
        self.con = duckdb.connect()
        for tbl in TABLES:
            path = os.path.join(data_dir, f"{tbl}.parquet")
            if os.path.isdir(path):
                path = os.path.join(path, "*.parquet")
            elif not os.path.exists(path):
                continue
            self.con.execute(
                f"CREATE VIEW {tbl} AS SELECT * FROM read_parquet('{path}')"
            )
        self._cache: dict[str, tuple[list[str], list[tuple], list]] = {}

    def invalidate(self) -> None:
        self._cache.clear()

    def expected(self, name: str, sql: str):
        if name not in self._cache:
            cur = self.con.execute(sql)
            cols = [d[0] for d in cur.description]
            rows = cur.fetchall()
            self._cache[name] = (cols, rows, norm_rows(rows, cols))
        return self._cache[name]

    def check(self, name: str, sql: str, result: pa.Table) -> str | None:
        """None when `result` matches the oracle, else why not."""
        ocols, orows, onorm = self.expected(name, sql)
        scols, srows = arrow_rows(result)
        if sorted(scols) != sorted(ocols):
            return f"columns {sorted(scols)} != {sorted(ocols)}"
        if len(srows) != len(orows):
            return f"rowcount {len(srows)} != {len(orows)}"
        bad = typed_mismatches(srows, scols, orows, ocols)
        if bad:
            c, s, o = bad[0]
            return f"type mismatch on {c!r}: spark={s} oracle={o}"
        snorm = norm_rows(srows, scols)
        if snorm != onorm:
            diffs = [(a, b) for a, b in zip(snorm, onorm) if a != b]
            return (
                f"{len(diffs)} differing rows of {len(snorm)}; first: "
                f"spark={diffs[0][0]} oracle={diffs[0][1]}"
            )
        return None
