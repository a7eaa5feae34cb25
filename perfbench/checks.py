"""Output checks: order-insensitive normalized row hashes, which every
timed operation's collected rows are compared by, and the DuckDB oracle
comparison of catalog queries."""

from __future__ import annotations

import hashlib
import math
import os
from datetime import date, datetime
from decimal import Decimal


def _norm(v) -> str:
    """Normalize one value: floats and decimals to 9 significant digits,
    dates/timestamps stringified (the repo's oracle sweep convention)."""
    if v is None:
        return "NULL"
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else f"{v:.9g}"
    if isinstance(v, Decimal):
        return f"{float(v):.9g}"
    if isinstance(v, (datetime, date)):
        return str(v)
    if isinstance(v, bool):
        return str(int(v))
    return str(v)


def row_hash(rows: "list[dict]", cols: "list[str]") -> str:
    sigs = sorted("|".join(_norm(r[c]) for c in cols) for r in rows)
    h = hashlib.md5()
    for s in sigs:
        h.update(s.encode())
        h.update(b"\n")
    return h.hexdigest()


class Oracle:
    """DuckDB views over the generated parquet tables."""

    def __init__(self, sf_dir: str):
        import duckdb

        self.con = duckdb.connect()
        for f in sorted(os.listdir(sf_dir)):
            if f.endswith(".parquet"):
                self.con.execute(
                    f"CREATE VIEW {f[:-8]} AS SELECT * FROM '{os.path.join(sf_dir, f)}'"
                )

    def check(self, sql: str, rows: "list[dict]", cols: "list[str]") -> "str | None":
        """None when the rows match the oracle's, else the mismatch."""
        cur = self.con.execute(sql)
        ocols = [d[0] for d in cur.description]
        orows = [dict(zip(ocols, r)) for r in cur.fetchall()]
        if sorted(cols) != sorted(ocols):
            return f"columns {cols} != oracle {ocols}"
        if len(rows) != len(orows):
            return f"{len(rows)} rows != oracle {len(orows)}"
        if row_hash(rows, cols) != row_hash(orows, cols):
            return "value hash differs from oracle"
        return None

    def close(self) -> None:
        self.con.close()


def table_hash(rows: "list[dict]") -> str:
    return row_hash(rows, sorted(rows[0])) if rows else "empty"
