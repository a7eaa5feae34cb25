"""Per-query isolation profiler for the optimization rounds.

Runs the named catalog queries EXACTLY as bench.py does
(``bench.time_query``: same action, fresh lineage per run, cache
cleared between runs) after the same ``bench.warm``, N repeats, and
prints each run's wall seconds with its stage split (jobs, stages,
tasks, executor run/CPU time, shuffle and spill bytes, Python and
codegen time, GC) plus the converged (min) time.  Only the profiled
queries' fixtures are staged, as one measured block printed first, so
an index build or table staging is visible apart from the runs.
Optionally saves .explain("formatted") to plans/<tag>/<query>_<suffix>.txt
so plan claims are auditable without running Spark.

Usage:
  python tools/profile_query.py [--sf DIR] [--n N] [--plans TAG:SUFFIX] \
      query [query ...]
"""

from __future__ import annotations

import argparse
import contextlib
import io
import os
import sys

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, HERE)


def _split(totals: dict) -> str:
    return " ".join(f"{k}={v}" for k, v in totals.items())


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default=os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--n", type=int, default=3)
    ap.add_argument("--plans", default=None,
                    help="TAG:SUFFIX -> save explain to plans/TAG/<q>_SUFFIX.txt")
    ap.add_argument("queries", nargs="+")
    args = ap.parse_args()

    from bench import _ACTIONS, time_query, warm
    from etl_tiki_webscraping_spark.metrics import measure
    from etl_tiki_webscraping_spark.plans.catalog import QUERIES, prepare_fixtures
    from etl_tiki_webscraping_spark.session import get_spark

    spark = get_spark("profile")
    spark.sparkContext.setLogLevel("ERROR")
    warm(spark, args.sf)
    builders = sorted({b.__name__ for n in args.queries for b in QUERIES[n].fixtures})
    _, staging = measure(
        spark, "staging", lambda: prepare_fixtures(spark, args.sf, names=args.queries)
    )
    print(f"staging {builders}: {_split(staging)}", flush=True)

    for name in args.queries:
        times = []
        for i in range(args.n):
            secs, totals = time_query(spark, args.sf, name)
            times.append(secs)
            print(f"  {name} run {i + 1}: {_split(totals)}", flush=True)
        action = _ACTIONS.get(name, "count")
        print(f"{name}: action={action} runs={times} min={min(times)}", flush=True)
        if args.plans:
            tag, suffix = args.plans.split(":", 1)
            outdir = os.path.join(HERE, "plans", tag)
            os.makedirs(outdir, exist_ok=True)
            df = QUERIES[name].fn(spark, args.sf)
            buf = io.StringIO()
            with contextlib.redirect_stdout(buf):
                df.explain("formatted")
            with open(os.path.join(outdir, f"{name}_{suffix}.txt"), "w") as fh:
                fh.write(buf.getvalue())
            spark.catalog.clearCache()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
