"""End-to-end Sendo-shaped pipeline on deterministic mock fetchers:
FK enforcement, load ordering, idempotency across runs, upsert-refresh
on changed payloads (SURVEY.md §2.12 O1-O5)."""

from __future__ import annotations

import os
import threading
from decimal import Decimal

import pytest
from pyspark.sql import functions as F

from etl_tiki_webscraping_spark.metrics import measure
from etl_tiki_webscraping_spark.plans.pipeline import (
    PipelineFetchers,
    PipelineResult,
    run_pipeline,
    warehouse_table,
)
from etl_tiki_webscraping_spark.sinks.upsert import (
    delete_where,
    read_parquet_table,
    table_history,
    table_row_count,
    upsert_parquet,
)
from etl_tiki_webscraping_spark.sources.http import FetchConfig

FAST = FetchConfig(max_retries=0, backoff_seconds=0.0)

SITEMAP = [
    {"url_key": "electronics", "child": [{"url_key": "phones"}, {"url_key": "laptops"}]},
    {"url_key": "fashion", "child": [{"url_key": "shoes"}]},
]

def fetchers(version="v1"):
    """Deterministic fakes, defined as CLOSURES so cloudpickle ships
    them by value (a test module isn't importable on executors).

    2 pages of 2 products per sub-category; shop ids collide across
    sub-categories so dedup-by-shop matters.  One product points at a
    shop whose detail lookup FAILS (returns None) -> FK drop."""
    shop_of = {"phones": 0, "laptops": 1, "shoes": 0}

    def product_page(row, page, cfg):
        if page > 2:
            return None
        sc = row["sub_category"]
        out = []
        for j in range(2):
            pid = f"p-{sc}-{page}-{j}"
            shop = "shop-unknown" if pid == "p-shoes-1-0" else f"shop-{shop_of[sc]}"
            out.append(
                {
                    "product_id": pid,
                    "name": f"{version}-{pid}",
                    "category_path": f"{sc}/{pid}.html",
                    "price": Decimal("10.00"),
                    "price_max": Decimal("20.00"),
                    "final_price": Decimal("9.00"),
                    "final_price_max": Decimal("18.00"),
                    "shop_id": shop,
                }
            )
        return out

    def shop_detail(row, cfg):
        if row["shop_id"] == "shop-unknown":
            return None  # lookup fails -> shop never lands -> FK must drop its product
        return {
            "shop_id": row["shop_id"],
            "shop_name": f"Shop {row['shop_id']}",
            "good_review_percent": Decimal("99.10"),
            "score": Decimal("4.50"),
            "customer_id": "c1",
            "phone_number": "555",
            "rating_avg": Decimal("4.40"),
            "rating_count": 10,
            "response_time": "fast",
            "product_total": 4,
            "sale_on_sendo": "5 years",
            "time_prepare_product": "1 day",
            "warehourse_region_name": "north",
        }

    def rating_page(row, page, cfg):
        if page > 1:
            return None
        return [
            {
                "rating_id": f"r-{row['shop_id']}-{i}",
                "shop_id": row["shop_id"],
                "address": "x",
                "star": 4 + (i % 2),
                "comment": "ok",
                "status": "approved",
                "update_time": "05/03/2024" if i == 0 else "bad-date",
                "customer_id": f"c{i}",
                "user_name": f"u{i}",
                "product_name": "p",
                "product_path": "p.html",
                "price": Decimal("10.00"),
            }
            for i in range(2)
        ]

    sitemap = list(SITEMAP)
    return PipelineFetchers(
        sitemap=lambda: sitemap,
        product_page=product_page,
        shop_detail=shop_detail,
        rating_page=rating_page,
    )


@pytest.fixture()
def warehouse(tmp_path):
    return str(tmp_path / "wh")


def _table_rows(spark, warehouse, name):
    return sorted(map(tuple, warehouse_table(spark, warehouse, name).collect()))


def test_pipeline_end_to_end(spark, warehouse):
    res = run_pipeline(spark, fetchers(), warehouse, FAST)
    # 3 sub-categories x 2 pages x 2 products = 12 scraped; 1 dropped by FK
    assert res.products == 11
    assert res.products_dropped_by_fk == 1
    # shop-0 and shop-1 land; the failed shop-unknown lookup does not
    assert res.shops == 2
    assert res.ratings == 4

    # FK invariant: every product/rating shop_id exists in shop_info
    shops = {r["shop_id"] for r in warehouse_table(spark, warehouse, "shop_info").collect()}
    assert {r["shop_id"] for r in warehouse_table(spark, warehouse, "product_detail").collect()} <= shops

    # date parse: valid dd/MM/yyyy parsed, malformed -> null
    ratings = warehouse_table(spark, warehouse, "rating").collect()
    parsed = {r["rating_id"]: r["update_time"] for r in ratings}
    assert any(v is not None for v in parsed.values())
    assert any(v is None for v in parsed.values())


def test_pipeline_is_idempotent(spark, warehouse):
    run_pipeline(spark, fetchers(), warehouse, FAST)
    first = {n: _table_rows(spark, warehouse, n) for n in ("shop_info", "product_detail", "rating")}
    run_pipeline(spark, fetchers(), warehouse, FAST)
    second = {n: _table_rows(spark, warehouse, n) for n in ("shop_info", "product_detail", "rating")}
    assert first == second


def test_pipeline_upsert_refreshes_changed_rows(spark, warehouse):
    run_pipeline(spark, fetchers("v1"), warehouse, FAST)
    res = run_pipeline(spark, fetchers("v2"), warehouse, FAST)
    assert res.products == 11  # same key space, no growth
    names = [r["name"] for r in warehouse_table(spark, warehouse, "product_detail").collect()]
    assert all(n.startswith("v2-") for n in names)  # every non-key col refreshed


# --- PipelineResult counts come from commit footers and write-time
# observations, not from count() actions


def _scanned_result(spark, warehouse):
    """Every PipelineResult field recomputed by scanning: table counts,
    and the raw extract minus its rows whose shop is in the warehouse."""
    raw = spark.read.parquet(os.path.join(warehouse, "__extract_staging__", "products"))
    shops = warehouse_table(spark, warehouse, "shop_info").select("shop_id")
    return PipelineResult(
        products=warehouse_table(spark, warehouse, "product_detail").count(),
        shops=warehouse_table(spark, warehouse, "shop_info").count(),
        ratings=warehouse_table(spark, warehouse, "rating").count(),
        products_dropped_by_fk=raw.count() - raw.join(shops, "shop_id", "left_semi").count(),
    )


def test_pipeline_result_equals_scanned_counts(spark, warehouse):
    for version in ("v1", "v2"):
        res = run_pipeline(spark, fetchers(version), warehouse, FAST)
        assert res == _scanned_result(spark, warehouse)


def test_pipeline_returns_when_every_shop_lookup_fails(spark, warehouse):
    """No shop resolves, so the FK gate passes no product: the observed
    count of the product upsert's input is 0 rather than never arriving."""
    f = fetchers()
    f.shop_detail = lambda row, cfg: None
    out: list = []
    t = threading.Thread(target=lambda: out.append(run_pipeline(spark, f, warehouse, FAST)),
                         daemon=True)
    t.start()
    t.join(timeout=300)
    assert not t.is_alive(), "run_pipeline hung on an empty FK-gated product set"
    assert out == [PipelineResult(products=0, shops=0, ratings=0, products_dropped_by_fk=12)]


def test_table_row_count_applies_deletion_vectors_and_scans_legacy_dirs(spark, tmp_path):
    path = str(tmp_path / "t")
    upsert_parquet(spark, spark.range(40).withColumnRenamed("id", "k"), path, ["k"])
    delete_where(spark, path, F.col("k") < 15, deletion_vectors=True)
    # the footers still count the 15 vector-deleted rows
    assert table_history(spark, path).filter("is_current").first()["n_rows"] == 40
    assert table_row_count(spark, path) == read_parquet_table(spark, path).count() == 25

    legacy = str(tmp_path / "legacy")
    spark.range(17).write.parquet(legacy)
    assert table_row_count(spark, legacy) == 17


# one run_pipeline call on the fixture, measured with the footer counts
# and write-time observations (the count()-based result took 30 jobs)
PIPELINE_JOB_BUDGET = 15


def test_pipeline_runs_no_count_actions_within_job_budget(spark, warehouse, monkeypatch):
    """Bookkeeping must not come back as Spark actions: count() is
    barred outright, and the jobs of one call stay within the budget."""

    def no_count(self):
        raise AssertionError("run_pipeline called DataFrame.count()")

    monkeypatch.setattr(type(spark.range(1)), "count", no_count)
    res, totals = measure(
        spark, "one run_pipeline call", lambda: run_pipeline(spark, fetchers(), warehouse, FAST)
    )
    n_jobs = totals["spark.jobs"]
    assert res.products == 11 and res.products_dropped_by_fk == 1
    assert 0 < n_jobs <= PIPELINE_JOB_BUDGET
