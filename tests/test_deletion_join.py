"""Deletion-neighborhood entity matching
(operators/relational.py::deletion_variant_keys /
deletion_neighborhood_pairs / blocked_entity_match overflow): the
exact-pigeonhole guarantee vs a brute-force python replay, and the
overflow union's equality with the plain block self-join."""

from __future__ import annotations

import itertools

import pytest
from pyspark.sql import functions as F

from etl_tiki_webscraping_spark.operators.relational import (
    blocked_entity_match,
    deletion_neighborhood_pairs,
    deletion_variant_keys,
)


def _lev(a: str, b: str) -> int:
    if len(a) < len(b):
        a, b = b, a
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(min(prev[j] + 1, cur[-1] + 1, prev[j - 1] + (ca != cb)))
        prev = cur
    return prev[-1]


NAMES = [
    "Customer#000000001",
    "Customer#000000002",  # sub of 1 (d=1)
    "Customer#000010002",  # sub of 2 (d=1), sub2 of 1 (d=2)
    "Customer#900010002",  # d=1 from previous
    "Customer#123456789",  # far from all
    "Customer#00000001",   # deletion of 1 (d=1)
    "Xustomer#000000001",  # substitution in the CONSTANT prefix
    "ab",                  # short strings
    "a",
    "",
]
ROWS = [(i, n, 1) for i, n in enumerate(NAMES)]
SCHEMA = "id long, name string, blk int"


def _truth_pairs(max_d: int) -> set:
    return {
        (i, j)
        for (i, a), (j, b) in itertools.combinations(enumerate(NAMES), 2)
        if _lev(a, b) <= max_d
    }


def test_variant_keys_match_python_enumeration(spark):
    df = spark.createDataFrame(ROWS, SCHEMA)
    got = {
        r["name"]: set(r["v"])
        for r in df.select(
            "name", deletion_variant_keys(F.col("name"), 2).alias("v")
        ).collect()
    }
    for name in NAMES:
        want = {name}
        want |= {name[:i] + name[i + 1 :] for i in range(len(name))}
        want |= {
            name[:i] + name[i + 1 : j] + name[j + 1 :]
            for i in range(len(name))
            for j in range(i + 1, len(name))
        }
        assert got[name] == want, name


@pytest.mark.parametrize("max_d", [1, 2])
def test_variant_kernel_matches_expression(spark, max_d):
    # the Arrow kernel (_deletion_variant_rows, the hot path) must emit
    # exactly the expression form's distinct variant set per row —
    # including a NULL name (dropped) and the empty string (itself)
    from etl_tiki_webscraping_spark.operators.relational import (
        _deletion_variant_rows,
    )

    rows = ROWS + [(98, None, 1), (99, "", 1)]
    df = spark.createDataFrame(rows, SCHEMA)
    # the expression form yields [NULL] for a NULL name (the NULL
    # variant's NULL _vh never equi-joins, so it is inert downstream);
    # the kernel just emits no row — compare the non-NULL variant sets
    expr = {
        (r["id"], v)
        for r in df.select(
            "id", deletion_variant_keys(F.col("name"), max_d).alias("v")
        ).collect()
        if r["v"] is not None
        for v in r["v"]
        if v is not None
    }
    kern = {
        (r["id"], r["_variant"])
        for r in _deletion_variant_rows(df, "name", max_d).collect()
    }
    assert kern == expr
    assert not any(i == 98 for i, _ in kern)  # NULL name -> no rows
    assert (99, "") in kern  # empty string survives as itself


@pytest.mark.parametrize("max_d", [1, 2])
def test_deletion_pairs_exact(spark, max_d):
    df = spark.createDataFrame(ROWS, SCHEMA)
    got = {
        (r["a_id"], r["b_id"])
        for r in deletion_neighborhood_pairs(
            df, "id", "name", ["blk"], max_distance=max_d
        ).collect()
    }
    assert got == _truth_pairs(max_d)


def test_overflow_union_equals_uncapped_self_join(spark):
    df = spark.createDataFrame(ROWS, SCHEMA)
    plain = {
        tuple(r)
        for r in blocked_entity_match(df, "id", "name", ["blk"]).collect()
    }
    # cap of 3 forces the single 10-row block through the deletion path
    routed = {
        tuple(r)
        for r in blocked_entity_match(
            df, "id", "name", ["blk"],
            max_block_rows=3, overflow="deletion_join",
        ).collect()
    }
    assert routed == plain
    # mixed: one small block stays on the equi path, the big one routes
    mixed_rows = ROWS + [(100, "zz", 2), (101, "zz", 2)]
    df2 = spark.createDataFrame(mixed_rows, SCHEMA)
    plain2 = {
        tuple(r)
        for r in blocked_entity_match(df2, "id", "name", ["blk"]).collect()
    }
    routed2 = {
        tuple(r)
        for r in blocked_entity_match(
            df2, "id", "name", ["blk"],
            max_block_rows=3, overflow="deletion_join",
        ).collect()
    }
    assert routed2 == plain2
    assert (100, 101, "zz", "zz", 0) in routed2


@pytest.mark.parametrize("max_d", [1, 2])
def test_variant_kernel_keep_cols_trims_payload(spark, max_d):
    # keep_cols (r17): the exploded output carries ONLY the requested
    # input columns (+_variant) — the entity-match path ships (id, blk)
    # and not the ~170x-duplicated name — and the variant set per id is
    # unchanged from the full-payload form
    from etl_tiki_webscraping_spark.operators.relational import (
        _deletion_variant_rows,
    )

    df = spark.createDataFrame(ROWS, SCHEMA)
    full = _deletion_variant_rows(df, "name", max_d)
    trimmed = _deletion_variant_rows(df, "name", max_d, keep_cols=["id", "blk"])
    assert trimmed.columns == ["id", "blk", "_variant"]
    assert "name" not in trimmed.columns
    want = {(r["id"], r["_variant"]) for r in full.collect()}
    got = {(r["id"], r["_variant"]) for r in trimmed.collect()}
    assert got == want
    # the requested order is the output order
    reordered = _deletion_variant_rows(df, "name", max_d, keep_cols=["blk", "id"])
    assert reordered.columns == ["blk", "id", "_variant"]
    assert {(r["id"], r["_variant"]) for r in reordered.collect()} == want


def test_variant_kernel_rejects_unknown_keep_cols(spark):
    from etl_tiki_webscraping_spark.operators.relational import (
        _deletion_variant_rows,
    )

    df = spark.createDataFrame(ROWS, SCHEMA)
    with pytest.raises(ValueError, match="nope"):
        _deletion_variant_rows(df, "name", 1, keep_cols=["id", "nope"])
    # a missing name column fails at call time, not inside the worker
    with pytest.raises(ValueError, match="nme"):
        _deletion_variant_rows(df, "nme", 1)


def test_rejects_unsupported_distance_and_policy(spark):
    df = spark.createDataFrame(ROWS, SCHEMA)
    with pytest.raises(ValueError):
        deletion_neighborhood_pairs(df, "id", "name", ["blk"], max_distance=3)
    with pytest.raises(ValueError):
        blocked_entity_match(
            df, "id", "name", ["blk"], max_block_rows=3, overflow="nope"
        )
