"""Driver-contract invariants: entry() smoke, queries()/oracle_sql()
key consistency, and catalog column-name discipline (the driver hashes
values under sorted column names — Spark and oracle names must match)."""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as contract


def test_queries_and_oracles_consistent():
    qs = contract.queries()
    oracles = contract.oracle_sql()
    assert len(qs) >= 40
    # every oracle key must have a query; not every query needs an oracle
    assert set(oracles) <= set(qs)
    # the reference-core operators must all be oracle-checked
    for name in (
        "flagship",
        "fk_semi_join",
        "dedup_keys",
        "dedup_deterministic",
        "key_space_union",
        "groupby_agg_metrics",
        "upsert_merge",
        "date_dayfirst_roundtrip",
        "union_all_slices",
    ):
        assert name in oracles, f"{name} missing an oracle"


def test_entry_returns_rows(spark):
    df = contract.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert df.columns == ["nation", "n_orders", "total_revenue", "avg_order_value"]


def test_bench_final_line_fits_driver_tail_window():
    """The driver keeps only the last 2000 chars of bench stdout; the
    final JSON line must fit entirely inside that window even with an
    absurd number of long-named queries (r03/r05 regression)."""
    import bench

    p = {f"very_long_benchmark_query_name_{i:03d}": 123.456 for i in range(200)}
    line = bench._final_line(p, p, {k: {"prior": 1, "now": 2} for k in p}, "0.1")
    assert len(line) < 1500
    import json

    parsed = json.loads(line)
    assert parsed["metric"] == "headline_queries_total_wall"
    assert parsed["n_queries"] == 200
    assert len(parsed["queries"]) == 5


def test_docs_query_count_matches_catalog():
    """README's catalog count must track the registry (ADVICE r6: the
    docs said 96 while the registry held 101)."""
    import os
    import re

    from etl_tiki_webscraping_spark.plans.catalog import QUERIES

    here = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(here, "README.md")) as fh:
        readme = fh.read()
    m = re.search(r"the (\d+)-query catalog", readme)
    assert m, "README no longer names the catalog size"
    assert int(m.group(1)) == len(QUERIES), (
        f"README says {m.group(1)} queries, registry has {len(QUERIES)}"
    )


def test_every_query_driver_covered_or_in_next_window():
    """VERDICT r7 ask #3: the driver records only the FIRST 50
    queries() entries per round, and the rotation is now COMPUTED from
    the committed CORRECTNESS_r*.json files — so a late-round query
    can never silently miss its window again.  Invariant: every
    catalog query either has a passing driver row already, or sits in
    the next window's first 50 slots."""
    from etl_tiki_webscraping_spark.plans.catalog import (
        QUERIES,
        _driver_covered,
        _export_order,
    )

    covered = _driver_covered()
    window = set(_export_order()[:50])
    stranded = [
        n for n in QUERIES if n not in covered and n not in window
    ]
    assert not stranded, (
        f"{len(stranded)} queries have no driver evidence AND miss the "
        f"next 50-slot window: {stranded}"
    )
    # uncovered queries must LEAD the window (slots are scarce)
    order = _export_order()
    n_uncov = sum(1 for n in QUERIES if n not in covered)
    assert all(n not in covered for n in order[:n_uncov])


def test_settled_queries_rotate_stalest_first():
    """VERDICT r8 ask #1: after the never-covered and changed-path
    sets, the window fills with the queries whose most recent passing
    driver row is OLDEST — computed from the committed CORRECTNESS
    files, not a hand-maintained list."""
    from etl_tiki_webscraping_spark.plans.catalog import (
        QUERIES,
        _DRIVER_FRESH,
        _driver_latest_round,
        _export_order,
    )

    latest = _driver_latest_round()
    order = _export_order()
    settled = [n for n in order if n in latest and n not in _DRIVER_FRESH]
    rounds = [latest[n] for n in settled]
    assert rounds == sorted(rounds), (
        "settled queries are not ordered stalest-first"
    )


def test_driver_evidence_age_is_bounded_under_rotation():
    """Simulate the rotation forward: each round the driver records
    the first 50 exported names as passing at that round.  With the
    stalest-first fill, EVERY query must be re-verified within
    ceil(catalog/50)+1 rounds of any starting state — the hand-
    maintained-list failure mode (unbounded staleness) is dead."""
    import math

    from etl_tiki_webscraping_spark.plans.catalog import (
        QUERIES,
        _driver_latest_round,
    )

    latest = dict(_driver_latest_round())
    for n in QUERIES:
        latest.setdefault(n, 0)  # never covered sorts oldest
    reg_order = {n: i for i, n in enumerate(QUERIES)}
    cycle = math.ceil(len(QUERIES) / 50)
    start = max(latest.values())
    for rnd in range(start + 1, start + 1 + 2 * cycle):
        window = sorted(latest, key=lambda n: (latest[n], reg_order[n]))[:50]
        for n in window:
            latest[n] = rnd
    # after the warm-up cycle, no query's evidence is older than
    # cycle+1 rounds behind the current round
    final = start + 2 * cycle
    worst = final - min(latest.values())
    assert worst <= cycle + 1, (
        f"rotation lets evidence age {worst} rounds (> {cycle + 1})"
    )


def test_gates_report_covers_every_rows_only_query():
    """VERDICT r8 ask #7: every catalog query WITHOUT a DuckDB oracle
    must carry a quantitative accuracy gate in tools/gates_report.py.
    The report declares its gated set as a module constant so this
    check is static (no Spark run): adding a rows-only query without
    also adding its gate fails here immediately."""
    import importlib.util
    import os

    from etl_tiki_webscraping_spark.plans.catalog import QUERIES

    spec = importlib.util.spec_from_file_location(
        "gates_report",
        os.path.join(os.path.dirname(__file__), "..", "tools", "gates_report.py"),
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)

    no_oracle = {n for n, q in QUERIES.items() if q.oracle is None}
    assert no_oracle == set(mod.GATED_QUERIES), (
        f"ungated rows-only queries: {sorted(no_oracle - mod.GATED_QUERIES)}; "
        f"stale gate entries: {sorted(set(mod.GATED_QUERIES) - no_oracle)}"
    )


def test_fixture_declarations_match_query_bodies():
    """Every query declares (``register(fixtures=...)``) exactly the
    ``@fixture`` builders its body reaches through module-level calls,
    so ``prepare_fixtures(names=[q])`` stages everything q reads and
    nothing else.  Read from the catalog's source; starts no Spark."""
    import ast

    from etl_tiki_webscraping_spark.plans import catalog

    with open(catalog.__file__) as fh:
        tree = ast.parse(fh.read())
    funcs = {n.name: n for n in tree.body if isinstance(n, ast.FunctionDef)}
    builders = {
        name for name, fn in funcs.items()
        if any(isinstance(d, ast.Name) and d.id == "fixture" for d in fn.decorator_list)
    }
    assert builders, "no @fixture builders found"

    def reached(fn: ast.FunctionDef, seen: "set[str]") -> "set[str]":
        for stmt in fn.body:
            for node in ast.walk(stmt):
                if (
                    isinstance(node, ast.Call)
                    and isinstance(node.func, ast.Name)
                    and node.func.id in funcs
                    and node.func.id not in seen
                ):
                    seen.add(node.func.id)
                    reached(funcs[node.func.id], seen)
        return seen

    checked = set()
    for fn in ast.walk(tree):
        if not isinstance(fn, ast.FunctionDef):
            continue
        for deco in fn.decorator_list:
            if (
                isinstance(deco, ast.Call)
                and isinstance(deco.func, ast.Name)
                and deco.func.id == "register"
            ):
                name = deco.args[0].value
                declared = {b.__name__ for b in catalog.QUERIES[name].fixtures}
                assert reached(fn, set()) & builders == declared, name
                checked.add(name)
    assert checked == set(catalog.QUERIES)


def test_one_store_owns_staged_bytes():
    """The fixture store is the package's one module-level memo, and
    the catalog makes staging dirs only under its scratch root: no
    other private module-level name is bound to an empty ``{}``,
    ``[]``, ``dict()``, ``list()`` or ``set()``, and every
    ``tempfile.mkdtemp`` call in ``plans/catalog.py`` sits in
    ``_scratch``.  Read from source; starts no Spark."""
    import ast
    import pathlib

    import etl_tiki_webscraping_spark

    def empty(v: "ast.expr | None") -> bool:
        if isinstance(v, ast.Dict):
            return not v.keys
        if isinstance(v, ast.List):
            return not v.elts
        return (
            isinstance(v, ast.Call)
            and isinstance(v.func, ast.Name)
            and v.func.id in ("dict", "list", "set")
            and not v.args
            and not v.keywords
        )

    pkg = pathlib.Path(etl_tiki_webscraping_spark.__file__).parent
    memos = []
    for path in sorted(pkg.rglob("*.py")):
        for node in ast.parse(path.read_text()).body:
            if isinstance(node, ast.Assign) and empty(node.value):
                targets = node.targets
            elif isinstance(node, ast.AnnAssign) and empty(node.value):
                targets = [node.target]
            else:
                continue
            memos += [
                f"{path.relative_to(pkg)}:{t.id}"
                for t in targets
                if isinstance(t, ast.Name) and t.id.startswith("_")
            ]
    assert memos == ["plans/catalog.py:_FIXTURE_STORE"]

    owners = {
        top.name if isinstance(top, ast.FunctionDef) else "<module>"
        for top in ast.parse((pkg / "plans" / "catalog.py").read_text()).body
        for node in ast.walk(top)
        if isinstance(node, ast.Call)
        and isinstance(node.func, ast.Attribute)
        and node.func.attr == "mkdtemp"
    }
    assert owners == {"_scratch"}


def test_per_blob_kernels_go_through_map_blobs():
    """The package has one per-blob Arrow batch loop: a ``mapInPandas``
    over ``select(id_col, content_col)`` and a ``from_records(out ...)``
    batch build occur only inside ``operators.multimodal.map_blobs``.
    The catalog's two id-only kernels synthesize their blobs from ids
    and are the named exceptions.  Read from source; starts no Spark."""
    import ast
    import pathlib

    import etl_tiki_webscraping_spark

    allowed = {
        ("operators/multimodal.py", "map_blobs"),
        ("plans/catalog.py", "q_webp_native_parity"),
        ("plans/catalog.py", "q_webp_lossy_decode_meta"),
    }

    def is_blob_loop(node: ast.AST) -> bool:
        if not isinstance(node, ast.Call) or not isinstance(node.func, ast.Attribute):
            return False
        if node.func.attr == "from_records":
            return bool(node.args) and isinstance(node.args[0], ast.Name) and node.args[0].id == "out"
        recv = node.func.value
        return (
            node.func.attr == "mapInPandas"
            and isinstance(recv, ast.Call)
            and isinstance(recv.func, ast.Attribute)
            and recv.func.attr == "select"
            and [getattr(a, "id", None) for a in recv.args] == ["id_col", "content_col"]
        )

    root = pathlib.Path(etl_tiki_webscraping_spark.__file__).parent
    found = set()
    for path in sorted(root.rglob("*.py")):
        rel = path.relative_to(root).as_posix()
        for top in ast.parse(path.read_text()).body:
            if any(is_blob_loop(n) for n in ast.walk(top)):
                found.add((rel, getattr(top, "name", None)))
    assert found - allowed == set()
    assert ("operators/multimodal.py", "map_blobs") in found
