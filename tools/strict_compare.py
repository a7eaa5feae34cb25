"""Strict cross-engine comparator — stricter than the driver can be.

`tools/verify_local.py` mimics the driver's tolerant gate (floats to 9
significant digits).  Round 9 showed the real driver hashes at FULL
precision and is sensitive to result-object types: `tpch_q9` diverged
at the 11th digit (Spark and DuckDB round double->DECIMAL half-way
ties differently; the exact sums preserve the per-row 1e-6 rift) and
`tpch_q12` was the catalog's only oracle with a bare integer SUM
(DuckDB HUGEINT, which fetch paths coerce unlike Spark's BIGINT).

This tool therefore compares every oracle-backed query BIT-STRICTLY:

- floats via repr() (exact IEEE identity),
- Decimals kept as Decimals (flagged when one engine yields Decimal
  and the other float),
- a per-column Python-type fingerprint (int vs float vs Decimal vs
  str vs date...), flagging any cross-engine divergence even when the
  values stringify equal.

A query that passes here hash-matches under ANY driver normalization.
Failures print the first differing rows and the column type maps.

Usage: python tools/strict_compare.py [sf_dir] [query ...]
"""

from __future__ import annotations

import math
import os
import sys
from datetime import date, datetime
from decimal import Decimal

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from etl_tiki_webscraping_spark.schemas import TESTDATA_TABLES
from etl_tiki_webscraping_spark.session import get_spark


def _strict(v):
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return f"bool:{int(v)}"
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else f"f:{v!r}"
    if isinstance(v, Decimal):
        return f"d:{v}"
    if isinstance(v, int):
        return f"i:{v}"
    if isinstance(v, (datetime, date)):
        return f"t:{v}"
    if isinstance(v, (bytes, bytearray)):
        return f"b:{bytes(v).hex()}"
    if isinstance(v, list):
        return "[" + ",".join(_strict(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}={_strict(v[k])}" for k in sorted(v)) + "}"
    return f"s:{v}"


def _type_map(rows, cols):
    out = {}
    for c in cols:
        ts = {type(r[c]).__name__ for r in rows if r[c] is not None}
        out[c] = "/".join(sorted(ts)) or "none"
    return out


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    from etl_tiki_webscraping_spark.plans.catalog import QUERIES

    spark = get_spark("strict-compare")
    con = duckdb.connect()
    for t in TESTDATA_TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    bad = []
    n_checked = 0
    for name, q in QUERIES.items():
        if only and name not in only:
            continue
        if not q.oracle:
            continue
        n_checked += 1
        try:
            sdf = q.fn(spark, sf_dir)
            cols = sorted(sdf.columns)
            srows = [{c: r[c] for c in cols} for r in sdf.collect()]
            cur = con.execute(q.oracle)
            ocols = [d[0] for d in cur.description]
            orows = [dict(zip(ocols, rec)) for rec in cur.fetchall()]
        except Exception as e:  # noqa: BLE001 — report, keep sweeping
            bad.append(name)
            print(f"ERR   {name}: {type(e).__name__}: {e}")
            continue

        s_sig = sorted("|".join(_strict(r[c]) for c in cols) for r in srows)
        o_sig = sorted("|".join(_strict(r.get(c)) for c in cols) for r in orows)
        stypes = _type_map(srows, cols)
        otypes = _type_map(orows, cols)
        type_diff = {
            c: (stypes[c], otypes.get(c))
            for c in cols
            if stypes[c] != otypes.get(c)
        }
        if s_sig == o_sig and not type_diff:
            print(f"ok    {name}: {len(srows)} rows bit-strict match")
            continue
        bad.append(name)
        if type_diff:
            print(f"TYPE  {name}: {type_diff}")
        if s_sig != o_sig:
            # Counter, not set: a divergence that differs only in
            # duplicate-row MULTIPLICITY must still print its offending
            # rows (a set-diff would show "0 spark-only / 0 oracle-only")
            from collections import Counter

            scnt, ocnt = Counter(s_sig), Counter(o_sig)
            sonly = sorted((scnt - ocnt).elements())
            oonly = sorted((ocnt - scnt).elements())
            ds = sonly[:3]
            do = oonly[:3]
            print(f"DIFF  {name}: {len(sonly)} spark-only / "
                  f"{len(oonly)} oracle-only of {len(srows)}")
            for r in ds:
                print(f"  S {r[:200]}")
            for r in do:
                print(f"  O {r[:200]}")

    print(f"\n{n_checked - len(bad)}/{n_checked} bit-strict; "
          f"divergent: {sorted(bad)}")
    return 1 if bad else 0


if __name__ == "__main__":
    raise SystemExit(main())
