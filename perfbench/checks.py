"""Correctness gate: order-insensitive result digests and the DuckDB oracle.

A query result is reduced to ``(row count, sha256)`` over its rows in
a canonical form: columns sorted by name, values normalised the way the
engine's strict verifier does it (floats compared EXACTLY by ``repr``,
timestamps as naive ISO strings), rows sorted.  The first execution of
each query must match the digest of its DuckDB oracle
(``registry.all_oracles()``) over the same generated tables; every
later execution must match that first digest.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import math


def _norm(v):
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else repr(v)
    if isinstance(v, dt.datetime):
        return v.replace(tzinfo=None).isoformat()
    if isinstance(v, dt.date):
        return v.isoformat()
    if isinstance(v, dt.timedelta):
        return v.total_seconds()
    if isinstance(v, (list, tuple)):
        return tuple(_norm(x) for x in v)
    if hasattr(v, "asDict"):  # a nested Row
        return tuple(_norm(x) for x in v)
    return v


def digest(cols: list[str], rows) -> tuple[int, str]:
    """(row count, order-insensitive sha256) of a result set."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted(
        repr(tuple(_norm(r[i]) for i in order)) for r in rows
    )
    h = hashlib.sha256(repr([cols[i] for i in order]).encode())
    for line in lines:
        h.update(line.encode())
        h.update(b"\n")
    return len(lines), h.hexdigest()


class Oracle:
    """DuckDB views over one directory of generated tables."""

    def __init__(self, table_dir: str, tables):
        import duckdb

        self.con = duckdb.connect()
        for t in tables:
            self.con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{table_dir}/{t}.parquet')"
            )

    def digest(self, sql: str) -> tuple[int, str]:
        cur = self.con.execute(sql)
        return digest([d[0] for d in cur.description], cur.fetchall())

    def close(self) -> None:
        self.con.close()
