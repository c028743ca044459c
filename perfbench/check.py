"""Output check: compare a statement's result with its DuckDB oracle.

The comparison is order-insensitive and type-strict: columns sorted by
name, rows order-insensitive, floats rounded to 9 significant digits and
every value tagged with its type class, so int 2674 and float 2674.0
differ.  Midnight timestamps compare as dates.  Queries registered without
an oracle (rows-only by design: random samples, stubbed decoders) are
checked by the runner for a non-empty result instead.
"""

from __future__ import annotations

import decimal
import math
import threading
from datetime import date, datetime

TABLE_NAMES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def _float(v: float) -> str:
    if math.isnan(v):
        return "float:NaN"
    if v == 0:
        return "float:0.0"
    return f"float:{float(f'{v:.9g}')!r}"


def canon_value(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return f"bool:{v}"
    if isinstance(v, int):
        return f"int:{v}"
    if isinstance(v, float):
        return _float(v)
    if isinstance(v, decimal.Decimal):
        return _float(float(v))
    if isinstance(v, datetime):
        v = v.replace(tzinfo=None)
        if v.hour == v.minute == v.second == v.microsecond == 0:
            return f"date:{v.date().isoformat()}"
        return f"ts:{v.isoformat()}"
    if isinstance(v, date):
        return f"date:{v.isoformat()}"
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(canon_value(x) for x in v) + "]"
    if isinstance(v, dict):
        items = sorted(v.items(), key=lambda kv: str(kv[0]))
        return "{" + ",".join(f"{k}={canon_value(x)}" for k, x in items) + "}"
    if isinstance(v, (bytes, bytearray)):
        return f"bytes:{bytes(v).hex()}"
    return f"str:{v}" if isinstance(v, str) else f"{type(v).__name__}:{v}"


def canonicalize(columns: list[str], rows: list[tuple]) -> tuple[list[str], list[tuple]]:
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    out = sorted(tuple(canon_value(row[i]) for i in order) for row in rows)
    return [columns[i] for i in order], out


def compare(s_cols: list[str], s_rows: list[tuple], d_cols: list[str], d_rows: list[tuple]) -> str | None:
    """None when the two results agree, else a one-line reason."""
    if sorted(s_cols) != sorted(d_cols):
        return f"columns {sorted(s_cols)} != {sorted(d_cols)}"
    _, a = canonicalize(s_cols, s_rows)
    _, b = canonicalize(d_cols, d_rows)
    if len(a) != len(b):
        return f"row count {len(a)} != {len(b)}"
    for i, (x, y) in enumerate(zip(a, b)):
        if x != y:
            return f"row {i}: {x} != {y}"
    return None


class Oracle:
    """DuckDB views over the same parquet files the engine reads."""

    def __init__(self, data_dir: str):
        import duckdb

        self.con = duckdb.connect()
        for name in TABLE_NAMES:
            self.con.sql(
                f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{data_dir}/{name}.parquet')"
            )

    def run(self, sql: str, timeout_s: float = 30.0) -> tuple[list[str], list[tuple]]:
        """Columns and rows of `sql`; a query still running after
        `timeout_s` is interrupted and raises."""
        timer = threading.Timer(timeout_s, self.con.interrupt)
        timer.start()
        try:
            rel = self.con.sql(sql)
            return list(rel.columns), rel.fetchall()
        finally:
            timer.cancel()

    def close(self) -> None:
        self.con.close()
