"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --workload all --seed <n> --seconds <s>

Run from the repository root.  One process runs one workload: it pins
the environment, generates the inputs from the seed, sets up a Spark
session, checks every output once (outside the timed region), then runs
the workload's fixed timed work and prints one JSON result as the last
line of stdout.  ``--trace 1`` alternates untraced and traced passes and
reports the per-layer metrics instead of the end-to-end ones.  ``all``
runs every workload, each in a fresh process, and prints each end-to-end
metric by name and unit.  See perfbench/README.md.
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
import contextlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import traceback  # noqa: E402

ROOT = os.getcwd()
PACKAGE = "etl_tiki_webscraping_spark"

# Two workloads: the write-side daily load, and one read-side mix that
# covers every read layer (SQL, Arrow kernels, retrieval, streaming).
# Each run pays a JVM start, the warm-up and the cold first execution of
# every query, so one read workload per layer does not fit the per-run
# time budget (see README.md).  ``pass_s`` is one untraced pass on a
# 4-core host; a run does round(--seconds / pass_s) passes (at least
# one), so the work in a run is fixed by the benchmark, not by the speed
# of the commit under test.
WORKLOADS = {
    "etl_daily_load": {"pass_s": 25.0},
    "catalog_mix": {
        "pass_s": 8.5,
        "tables": ["nation", "customer", "orders", "events", "documents", "embeddings"],
        "queries": ["flagship", "knn_bruteforce_blocked", "entity_match_blocked",
                    "dedup_minhash_lsh", "streaming_windowed_counts"],
    },
}

# The bounded end-to-end metrics of the result line.  The others are
# printed but not bounded: op_p50_s of the five-query mix is whichever
# query lands in the middle, and the JVM's peak RSS moves with GC timing;
# both vary by more than a quarter between runs of one commit.
END_TO_END = {"setup_s": "s", "run_s": "s"}

LAYER_METRICS = (
    ["failed_frac", "op_p50_s", "rows_per_s", "write_amp"]
    + ["session.get_spark_s", "session.warm_s", "plans.catalog.prepare_fixtures_s"]
    + [f"plans.catalog.{q}_s" for q in WORKLOADS["catalog_mix"]["queries"]]
    + ["plans.pipeline.run_pipeline_s", "sources.extract_s", "sources.fetch_calls"]
    + [f"sinks.upsert_parquet.{t}_s" for t in ("shop_info", "product_detail", "rating")]
    + ["sinks.read_parquet_table_s", "sinks.bytes_written", "sinks.files_written",
       "sinks.bytes_live"]
    + ["operators.python_total_s", "operators.python_boot_s", "operators.python_init_s",
       "operators.python_bytes_sent", "operators.python_bytes_received"]
    + ["streaming.batches", "streaming.batch_p50_s", "streaming.add_batch_s",
       "streaming.query_planning_s", "streaming.wal_commit_s", "streaming.state_rows",
       "streaming.state_commit_s", "streaming.state_memory_bytes",
       "streaming.leftover_ckpt_dirs"]
    + ["spark.jobs", "spark.stages", "spark.tasks", "spark.executor_run_s",
       "spark.executor_cpu_s", "spark.shuffle_read_bytes", "spark.shuffle_write_bytes",
       "spark.shuffle_write_s", "spark.spill_bytes", "spark.codegen_pipeline_s",
       "spark.failed_tasks", "spark.fixed_overhead_share", "spark.persisted_rdds",
       "jvm.gc_s", "jvm.peak_rss_mb", "trace.overhead_s"]
)


def unit_of(name: str) -> str:
    if name in END_TO_END:
        return END_TO_END[name]
    if name == "rows_per_s":
        return "1/s"
    if name.endswith("_mb"):
        return "MB"
    if name.endswith("_s"):
        return "s"
    if "bytes" in name:
        return "bytes"
    if name.endswith(("_share", "_frac")) or name == "write_amp":
        return "ratio"
    return "count"


def log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)


def pin_environment(run_dir: str) -> int:
    """Environment the program sees: all cores of this host, and every
    scratch location inside this run's directory."""
    cpus = len(os.sched_getaffinity(0))
    dirs = {k: os.path.join(run_dir, v) for k, v in (
        ("SPARK_LOCAL_DIRS", "spark-local"), ("SPARK_GRAFT_WAREHOUSE", "warehouse"),
        ("TMPDIR", "tmp"))}
    for d in dirs.values():
        os.makedirs(d, exist_ok=True)
    os.environ.update(dirs)
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    # the session's 8g default heap is more than either workload needs
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "2g"
    # Python workers import the package (and the fake fetchers) by name
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    tempfile.tempdir = None
    return cpus


def warm(spark) -> None:
    """Query-mix warm-up: one JVM job, and every Python worker started
    with numpy imported.  Each query's cold first execution follows, in
    the checked pass, and also counts in setup_s."""
    from pyspark.sql import functions as F

    spark.range(1000).selectExpr("sum(id)").collect()

    def touch(s):
        import numpy  # noqa: F401

        return s

    cpus = spark.sparkContext.defaultParallelism
    spark.range(10_000).repartition(cpus).select(F.pandas_udf(touch, "long")("id")).count()


class Run:
    def __init__(self, args, run_dir: str, cpus: int):
        from perfbench.trace import Tracer

        self.args, self.run_dir, self.cpus = args, run_dir, cpus
        spec = WORKLOADS[args.workload]
        self.passes_wanted = max(1, round(args.seconds / spec["pass_s"]))
        self.tracer = Tracer(args.workload, f"{args.workload}-{args.seed}-{os.getpid()}",
                             enabled=bool(args.trace))
        self.attempted = 0
        self.failed = 0
        self.self_check_ok = False
        self.setup: "dict[str, float]" = {}
        self.setup_s = 0.0
        self.op_times: "list[float]" = []
        self.per_query: "dict[str, list]" = {}
        self.passes: "list[tuple[bool, float, float]]" = []  # (traced, wall, op sum)
        self.pass_ops = 0.0
        self.spark = None

    @contextlib.contextmanager
    def phase(self, name: str):
        t0 = time.perf_counter()
        with self.tracer.span(name):
            yield
        self.setup[name] = self.setup.get(name, 0.0) + time.perf_counter() - t0

    def fail(self, what: str) -> None:
        self.failed += 1
        log(f"FAILED: {what}")

    def start_spark(self) -> None:
        from etl_tiki_webscraping_spark.session import get_spark

        with self.phase("session.get_spark"):
            self.spark = get_spark("perfbench")
            self.spark.sparkContext.setLogLevel("ERROR")
        self.tracer.install(self.spark)

    def timed_passes(self, one_pass) -> None:
        """The fixed timed work.  A traced run alternates untraced and
        traced passes and starts and ends untraced, so that the drift of a
        warming process does not land on one side of the overhead."""
        kinds = [False] * self.passes_wanted
        if self.args.trace:
            kinds = [False] + [True, False] * self.passes_wanted
        for i, traced in enumerate(kinds):
            ctx = self.tracer.traced_pass() if traced else contextlib.nullcontext()
            with ctx:
                tp = time.perf_counter()
                self.pass_ops = 0.0
                one_pass(i, traced)
                self.passes.append((traced, time.perf_counter() - tp, self.pass_ops))

    def run_s(self, traced: bool = False) -> float:
        """Median over passes of the pass's summed op latencies."""
        return statistics.median(ops for t, _, ops in self.passes if t == traced)

    def op_tail(self) -> "tuple[float, int, int] | None":
        """(latency, percentile, samples): the highest percentile with at
        least ten operation samples beyond it; None below eleven samples."""
        ops = sorted(self.op_times)
        n = len(ops)
        if n < 11:
            return None
        return ops[n - 11], 100 * (n - 10) // n, n

    def report(self, extra: dict) -> None:
        """Print every end-to-end figure of the untraced run by name and
        unit, including the workload-specific ones that the result line
        does not carry."""
        figures = {
            "setup_s": self.setup_s,
            "run_s": self.run_s(),
            "op_p50_s": statistics.median(self.op_times),
            "failed_frac": self.failed / self.attempted,
            "peak_rss_mb": self.peak_rss_mb,
            **extra,
        }
        for name, v in figures.items():
            print(f"{name} = {v:.4f} {unit_of(name)}")
        if self.args.workload != "etl_daily_load":
            tail = self.op_tail()
            if tail is None:
                print(f"op_tail_s = n/a s (only {len(self.op_times)} op samples)")
            else:
                print(f"op_tail_s = {tail[0]:.4f} s (p{tail[1]} of {tail[2]} op samples)")

    def result(self, extra: dict) -> dict:
        """The result line; ``extra`` holds the figures only this
        workload has (rows_per_s and write_amp of the daily load)."""
        if self.args.trace:
            metrics = self.layer_metrics()
            metrics.update(extra)
        else:
            self.report(extra)
            metrics = {"setup_s": self.setup_s, "run_s": self.run_s()}
        log(f"workload={self.args.workload} seed={self.args.seed} passes={len(self.passes)} "
            f"op_samples={len(self.op_times)} failed={self.failed}/{self.attempted} "
            f"self_check={self.self_check_ok} "
            f"setup={ {k: round(v, 2) for k, v in self.setup.items()} } "
            f"pass_s={[round(w, 2) for _, w, _ in self.passes]} "
            f"op_s={[round(t, 2) for t in self.op_times]} "
            f"wall_s={time.perf_counter() - T_PROCESS:.1f}")
        return {
            "correct": self.failed == 0 and self.self_check_ok,
            "attempted": self.attempted,
            "failed": self.failed,
            "metrics": {k: {"value": v, "unit": unit_of(k)} for k, v in metrics.items()},
        }

    def layer_metrics(self) -> dict:
        tr = self.tracer
        out = {name: 0.0 for name in LAYER_METRICS}
        out["failed_frac"] = self.failed / self.attempted
        out["op_p50_s"] = statistics.median(self.op_times)
        for name in ("session.get_spark", "session.warm", "plans.catalog.prepare_fixtures"):
            out[name + "_s"] = self.setup.get(name, 0.0)
        for q, vals in self.per_query.items():
            out[f"plans.catalog.{q}_s"] = statistics.median(vals)
        n = max(tr.sums.get("trace.passes", 0), 1)
        for name, v in tr.sums.items():
            if name in out:
                out[name] = v / n
        for name, vals in tr.samples.items():
            key = "streaming.batch_p50_s" if name == "streaming.batch_s" else name
            if key in out and vals:
                peak = name in ("spark.persisted_rdds", "streaming.state_rows",
                                "streaming.state_memory_bytes")
                out[key] = max(vals) if peak else statistics.median(vals)
        wall = tr.sums.get("trace.wall_s", 0.0)
        if wall:
            out["spark.fixed_overhead_share"] = 1 - tr.sums.get("spark.executor_run_s", 0.0) / (
                self.cpus * wall)
        wall_of = {t: statistics.mean(w for tt, w, _ in self.passes if tt == t)
                   for t in (False, True)}
        out["trace.overhead_s"] = wall_of[True] - wall_of[False]
        out["jvm.peak_rss_mb"] = self.peak_rss_mb
        return out

    @property
    def peak_rss_mb(self) -> float:
        pid = self.spark.sparkContext._gateway.proc.pid
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024
        raise RuntimeError("VmHWM not found")


def action_mismatch(got: str, want: "str | None") -> "str | None":
    """The timed comparison: a timed execution's rows hash against the
    hash of the checked execution; None when they agree."""
    return None if got == want else f"rows hash {got} != checked {want}"


# ---------------------------------------------------------------------------
# Read-side query mix
# ---------------------------------------------------------------------------

def run_catalog(run: Run, spec: dict) -> dict:
    from perfbench import checks, inputs

    sf_dir = os.path.join(run.run_dir, "inputs")
    with run.phase("inputs"):
        inputs.write_tables(run.args.seed, sf_dir, spec["tables"])
    run.start_spark()
    from etl_tiki_webscraping_spark.plans import catalog

    spark = run.spark
    with run.phase("session.warm"):
        warm(spark)
    # no snapshot tables to stage; this stages the streaming input dirs
    with run.phase("plans.catalog.prepare_fixtures"):
        catalog.prepare_fixtures(spark, sf_dir, names=[])
    run.setup_s = time.perf_counter() - T_PROCESS

    # checked execution: every query once against its DuckDB oracle; the
    # hash of its rows is what every timed execution must reproduce.  The
    # queries' cold first executions are warm-up and count in setup_s;
    # the oracle comparison does not.
    oracle = checks.Oracle(sf_dir)
    expected: "dict[str, str]" = {}
    first_s = 0.0
    for name in spec["queries"]:
        q = catalog.QUERIES[name]
        run.attempted += 1
        try:
            t0 = time.perf_counter()
            df = q.fn(spark, sf_dir)
            rows = [r.asDict() for r in df.collect()]
            first_s += time.perf_counter() - t0
            err = oracle.check(q.oracle, rows, df.columns)
        except Exception:
            err = traceback.format_exc()
        if err:
            run.fail(f"{name}: {err}")
            continue
        expected[name] = checks.row_hash(rows, df.columns)
        if not run.self_check_ok and rows:
            # a perturbed result must be rejected by the oracle comparison,
            # and a perturbed expected value by the timed comparison
            bad = rows[1:] + [dict(rows[0], **{df.columns[0]: "perturbed"})]
            run.self_check_ok = (
                oracle.check(q.oracle, bad, df.columns) is not None
                and action_mismatch(checks.row_hash(bad, df.columns), expected[name]) is not None
                and action_mismatch(expected[name], expected[name]) is None)
    oracle.close()
    run.setup["plans.catalog.first_execution"] = first_s
    run.setup_s += first_s

    def ckpt_dirs() -> int:
        return sum(d.startswith("ckpt-") for d in os.listdir(os.environ["TMPDIR"]))

    def one_pass(i: int, traced: bool) -> None:
        import numpy as np

        ckpt0 = ckpt_dirs()
        order = np.random.default_rng([run.args.seed, i]).permutation(spec["queries"])
        for name in order:
            run.attempted += 1
            try:
                with run.tracer.op(f"plans.catalog.{name}") as on_plan:
                    t0 = time.perf_counter()
                    df = catalog.QUERIES[name].fn(spark, sf_dir)
                    collected = df.collect()
                    dt = time.perf_counter() - t0
                    if on_plan is not None:
                        on_plan(df)
            except Exception:
                run.fail(f"{name}: {traceback.format_exc()}")
                continue
            run.pass_ops += dt
            if traced:
                run.per_query.setdefault(name, []).append(dt)
            else:
                run.op_times.append(dt)
            err = action_mismatch(checks.row_hash([r.asDict() for r in collected], df.columns),
                                  expected.get(name))
            if err:
                run.fail(f"{name}: {err}")
        if traced:
            run.tracer.sums["streaming.leftover_ckpt_dirs"] += ckpt_dirs() - ckpt0

    run.timed_passes(one_pass)
    return run.result({})


# ---------------------------------------------------------------------------
# Daily ETL workload
# ---------------------------------------------------------------------------

def run_etl(run: Run) -> dict:
    from perfbench import checks, inputs
    from perfbench.trace import PIPELINE_TABLES, live_bytes, tree_bytes

    run.start_spark()
    from etl_tiki_webscraping_spark.plans import pipeline
    from etl_tiki_webscraping_spark.sources.http import FetchConfig

    spark = run.spark
    cfg = FetchConfig(max_retries=0, backoff_seconds=0.0)
    seed = run.args.seed
    acc = spark.sparkContext.accumulator(0)
    counter = inputs.FetchCounter(acc)

    def fetchers(day: int, subs: "int | None" = None):
        return pipeline.PipelineFetchers(
            sitemap=inputs.Sitemap(seed, day, subs),
            product_page=inputs.ProductPage(seed, day, counter),
            shop_detail=inputs.ShopDetail(seed, day, counter),
            rating_page=inputs.RatingPage(seed, day, counter),
        )

    # warm-up: a one-sub-category load into a scratch warehouse (codegen,
    # the fetch and upsert paths, first writes)
    with run.phase("session.warm"):
        pipeline.run_pipeline(spark, fetchers(0, subs=1), os.path.join(run.run_dir, "warm"), cfg)
    run.setup_s = time.perf_counter() - T_PROCESS

    # the model of each day's warehouse, and the rows each day upserts
    models, upserted = [], 0
    for day in range(inputs.DAYS):
        m = inputs.expected_after(seed, day)
        models.append({t: checks.table_hash(list(rows.values())) for t, rows in m.items()})
        w = inputs.world(seed, day)
        shops = {p["shop"] for p in w["products"].values()} - w["failing"]
        upserted += len(shops) + sum(len(w["ratings"][s]) for s in shops) + sum(
            1 for p in w["products"].values() if f"shop-{p['shop']:04d}" in m["shop_info"])

    def mismatches(got: dict, want: dict) -> "list[str]":
        return [f"table {t}: hash {got[t]} != model {want[t]}" for t in want if got[t] != want[t]]

    # self-check: a warehouse missing one row of the model must be caught
    ratings = list(inputs.expected_after(seed, 0)["rating"].values())
    short = dict(models[0], rating=checks.table_hash(ratings[1:]))
    run.self_check_ok = bool(mismatches(short, models[0]))

    def check_day(wh: str, day: int) -> None:
        with run.tracer.paused():
            got = {t: checks.table_hash(
                [r.asDict() for r in pipeline.warehouse_table(spark, wh, t).collect()])
                for t in PIPELINE_TABLES}
        for m in mismatches(got, models[day]):
            run.fail(f"day {day} {m}")
        if day == inputs.DAYS - 1 and got != models[day - 1]:
            run.fail("the replay day changed the warehouse")

    write_amp = []

    def one_pass(i: int, traced: bool) -> None:
        wh = os.path.join(run.run_dir, f"warehouse-{i}")
        calls0 = acc.value
        written = 0
        for day in range(inputs.DAYS):
            run.attempted += 1
            # files written during the day, counted outside its timing
            before = tree_bytes(wh) if not traced else {}
            try:
                with run.tracer.op(f"plans.pipeline.day{day}"):
                    t0 = time.perf_counter()
                    pipeline.run_pipeline(spark, fetchers(day), wh, cfg)
                    dt = time.perf_counter() - t0
            except Exception:
                run.fail(f"day {day}: {traceback.format_exc()}")
                continue
            run.pass_ops += dt
            if not traced:
                run.op_times.append(dt)
                written += sum(v for k, v in tree_bytes(wh).items() if k not in before)
            check_day(wh, day)
        live = sum(live_bytes(os.path.join(wh, t)) for t in PIPELINE_TABLES)
        if not traced:
            write_amp.append(written / live)
        else:
            run.tracer.sums["sinks.bytes_live"] += live
            run.tracer.sums["sources.fetch_calls"] += acc.value - calls0
        shutil.rmtree(wh, ignore_errors=True)

    run.timed_passes(one_pass)
    return run.result({"rows_per_s": upserted / run.run_s(),
                       "write_amp": statistics.median(write_amp)})


def run_all(args) -> int:
    """Every workload, each in a fresh process; prints each end-to-end
    metric by name and unit."""
    status = 0
    for name in WORKLOADS:
        proc = subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--workload", name,
             "--seed", str(args.seed), "--seconds", str(args.seconds), "--trace", "0"],
            stdout=subprocess.PIPE, text=True, check=False)
        lines = proc.stdout.strip().splitlines()
        if proc.returncode != 0 or not lines:
            print(f"{name}: failed with exit code {proc.returncode}")
            status = 1
            continue
        res = json.loads(lines[-1])
        print(f"{name}: correct={res['correct']} failed={res['failed']}/{res['attempted']}")
        for line in lines[:-1]:
            print(f"  {line}")
        status |= 0 if res["correct"] else 1
    return status


def main(argv: "list[str] | None" = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS) + ["all"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        log(f"no {PACKAGE}/ package under {ROOT}: run from the repository root")
        return 2
    if args.workload == "all":
        return run_all(args)
    sys.path.insert(0, ROOT)

    out_dir = os.path.join(ROOT, ".perfbench")
    run_dir = os.path.join(out_dir, f"run-{os.getpid()}")
    cpus = pin_environment(run_dir)
    run = Run(args, run_dir, cpus)
    try:
        res = run_etl(run) if args.workload == "etl_daily_load" else run_catalog(
            run, WORKLOADS[args.workload])
        if args.trace:
            run.tracer.write(os.path.join(
                out_dir, "traces", f"{args.workload}-seed{args.seed}-{os.getpid()}.jsonl"))
    finally:
        stop(run.spark)
        shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps(res), flush=True)
    return 0


def stop(spark) -> None:
    """Stop the session and wait for the JVM (and its Python workers) to exit."""
    if spark is None:
        return
    gw = spark.sparkContext._gateway
    proc = gw.proc
    spark.stop()
    gw.shutdown()
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


if __name__ == "__main__":
    sys.exit(main())
