"""Order-insensitive comparison of a query's rows with its DuckDB twin.

Both sides are rendered canonically (columns sorted by name, one string
per row, rows sorted) and hashed, the way the engine's correctness gate
compares them."""

from __future__ import annotations

import hashlib
import math
from datetime import date, datetime
from decimal import Decimal


def canon(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return str(int(v))
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        if v == int(v) and abs(v) < 1e15:
            return str(int(v))
        return repr(v)
    if isinstance(v, Decimal):
        return canon(float(v))
    if isinstance(v, datetime):
        return v.isoformat(sep=" ")
    if isinstance(v, date):
        return v.isoformat()
    if isinstance(v, (bytes, bytearray)):
        return v.hex()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(canon(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}:{canon(v[k])}" for k in sorted(v)) + "}"
    return str(v)


def digest(cols: list[str], rows) -> tuple[int, str]:
    """(row count, order-insensitive hash) of a result."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted("|".join(canon(r[i]) for i in order) for r in rows)
    h = hashlib.sha256()
    h.update("|".join(sorted(cols)).encode())
    for line in lines:
        h.update(b"\n" + line.encode())
    return len(lines), h.hexdigest()


class DuckOracle:
    """DuckDB views over the benchmark's parquet tables."""

    def __init__(self, table_dir: str, names) -> None:
        import duckdb

        self.con = duckdb.connect()
        for name in names:
            self.con.execute(
                f"CREATE VIEW {name} AS SELECT * FROM '{table_dir}/{name}.parquet'"
            )

    def digest(self, sql: str) -> tuple[int, str]:
        cur = self.con.execute(sql)
        cols = [d[0] for d in cur.description]
        return digest(cols, cur.fetchall())

    def close(self) -> None:
        self.con.close()
