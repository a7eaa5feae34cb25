"""Local stand-in for the driver's t2 correctness gate.

Runs every catalog query on Spark at the given SF and, where an oracle
exists, the oracle SQL on DuckDB over the same parquet; compares
row count, column names, and an order-insensitive value hash
(values normalized: floats rounded to 9 significant digits,
timestamps/dates stringified).

Usage: python tools/verify_local.py [sf_dir] [query ...]
"""

from __future__ import annotations

import hashlib
import math
import os
import sys
import traceback
from datetime import date, datetime
from decimal import Decimal

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from etl_tiki_webscraping_spark.schemas import TESTDATA_TABLES
from etl_tiki_webscraping_spark.session import get_spark


def _norm(v):
    if v is None:
        return "NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return f"{v:.9g}"
    if isinstance(v, Decimal):
        return f"{float(v):.9g}"
    if isinstance(v, (datetime, date)):
        return str(v)
    if isinstance(v, bool):
        return str(int(v))
    return str(v)


def row_hash(rows, col_order):
    sigs = sorted("|".join(_norm(r[c]) for c in col_order) for r in rows)
    h = hashlib.md5()
    for s in sigs:
        h.update(s.encode())
        h.update(b"\n")
    return h.hexdigest()


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    from etl_tiki_webscraping_spark.plans.catalog import QUERIES

    spark = get_spark("verify-local")
    con = duckdb.connect()
    for t in TESTDATA_TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    failures = []
    attempted = 0
    for name, spec in QUERIES.items():
        if only and name not in only:
            continue
        attempted += 1
        try:
            sdf = spec.fn(spark, sf_dir)
            srows = [r.asDict() for r in sdf.collect()]
            scols = sdf.columns
        except Exception:
            failures.append(name)
            print(f"FAIL  {name}: spark error\n{traceback.format_exc()}")
            continue
        if spec.oracle is None:
            print(f"ok*   {name}: rows-only ({len(srows)} rows)")
            continue
        try:
            ocur = con.execute(spec.oracle)
            ocols = [d[0] for d in ocur.description]
            orows = [dict(zip(ocols, r)) for r in ocur.fetchall()]
        except Exception:
            failures.append(name)
            print(f"FAIL  {name}: duckdb error\n{traceback.format_exc()}")
            continue
        problems = []
        if len(srows) != len(orows):
            problems.append(f"rowcount spark={len(srows)} duckdb={len(orows)}")
        if sorted(scols) != sorted(ocols):
            problems.append(f"columns spark={scols} duckdb={ocols}")
        else:
            sh, oh = row_hash(srows, scols), row_hash(orows, scols)
            if sh != oh:
                problems.append("value-hash mismatch")
                sset = {"|".join(_norm(r[c]) for c in scols) for r in srows}
                oset = {"|".join(_norm(r[c]) for c in scols) for r in orows}
                for x in list(sset - oset)[:3]:
                    print(f"      spark-only: {x}")
                for x in list(oset - sset)[:3]:
                    print(f"      duck-only : {x}")
        if problems:
            failures.append(name)
            print(f"FAIL  {name}: {'; '.join(problems)}")
        else:
            print(f"ok    {name}: {len(srows)} rows hash-match")

    print(f"\n{attempted - len(failures)}/{attempted} passing")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
