"""The full Sendo-shaped ETL pipeline as one Spark program
(SURVEY.md §2.12 O1-O5, §3; reference DAG: /root/reference/dags/etl.py:292-343).

Reference shape, restated dataflow-first:

  sitemap (S1) -> explode to (category, sub_category) pairs
    -> paginated product scan per pair (S2)        [O1 linear chain]
    -> dedup products by shop_id (A1)
    -> shop-detail lookup per shop (S3)
    -> paginated rating scan per shop (S4)         [O2: parallelism is
       Spark tasks across key partitions, not a hand-built 5-way split
       — the reference's tail-loss slicing (dags/etl.py:115-120) cannot
       happen here]
    -> loads in FK order (W4): shops upserted FIRST, then products
       semi-joined to the known shop-key space (J1/J2 = warehouse
       read-back ∪ fresh batch, dags/etl.py:247-251), then ratings
       (dags/etl.py:206-281 ordering).                [O3 barrier]
    -> every load is a PK upsert (W2), so re-running the whole
       pipeline converges to the same warehouse.     [O5 idempotency]

Where each ``PipelineResult`` count comes from — none is a Spark
action of its own:

- ``products`` / ``shops`` / ``ratings``: the parquet footers of each
  table's committed snapshot (``sinks.upsert.table_row_count``,
  driver-side metadata; a snapshot with deletion vectors is scanned);
- ``products_dropped_by_fk``: two ``Observation`` row counts riding on
  writes that consume those rows anyway — the raw extract on its
  checkpoint write, the FK-gated products on their upsert's input.

HTTP is injected (see sources/http.py): production passes real
requests-backed fetchers with UA rotation + backoff (S7/O4); tests and
CI pass deterministic fakes.  The Spark plumbing is identical either
way and never hits the network by itself.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from etl_tiki_webscraping_spark.functions.scalar import parse_day_first_date
from etl_tiki_webscraping_spark.operators.relational import (
    dedup_first,
    fk_semi_join,
    key_space_union,
)
from etl_tiki_webscraping_spark.schemas import (
    PRIMARY_KEYS,
    PRODUCT_DETAIL,
    SHOP_INFO,
)
from etl_tiki_webscraping_spark.sinks.upsert import (
    read_parquet_table,
    table_row_count,
    upsert_parquet,
)
from etl_tiki_webscraping_spark.sources.http import (
    FetchConfig,
    PageFetcher,
    RowFetcher,
    keyed_lookup_source,
    paginated_source,
)
from etl_tiki_webscraping_spark.sources.records import sitemap_to_pairs

# Ratings arrive with update_time as a dd/MM/yyyy STRING
# (dags/etl.py:148-166); parsed to DATE during load.
RATING_RAW = "rating_id string, shop_id string, address string, star int, comment string, " \
    "status string, update_time string, customer_id string, user_name string, " \
    "product_name string, product_path string, price decimal(15,2)"


@dataclass
class PipelineFetchers:
    """Injected I/O surface: one callable per reference task family."""

    sitemap: object            # () -> list[dict]  (S1 payload records)
    product_page: PageFetcher  # ((category, sub_category), page) -> rows | None
    shop_detail: RowFetcher    # ({shop_id}) -> shop_info dict | None
    rating_page: PageFetcher   # ({shop_id}, page) -> rows | None


@dataclass
class PipelineResult:
    products: int
    shops: int
    ratings: int
    products_dropped_by_fk: int


def warehouse_table(spark: SparkSession, warehouse_dir: str, name: str) -> DataFrame:
    return read_parquet_table(spark, os.path.join(warehouse_dir, name))


def run_pipeline(
    spark: SparkSession,
    fetchers: PipelineFetchers,
    warehouse_dir: str,
    cfg: FetchConfig | None = None,
) -> PipelineResult:
    """One end-to-end run: extract -> conform -> FK-ordered upserts.

    Safe to re-run (O5): all three loads are PK upserts; a second
    identical run leaves the warehouse byte-identical.
    """
    cfg = cfg or FetchConfig()

    # --- extract chain (O1) ------------------------------------------------
    # Each extract is checkpointed to parquet staging BEFORE anything
    # derives from it: scrape sources are non-idempotent black boxes to
    # Spark, and every extract feeds 2+ downstream consumers — without
    # the checkpoint each action would re-run the scrape.  This is the
    # durable analog of the reference's XCom handoff
    # (dags/etl.py:81,121,167).
    staging_dir = os.path.join(warehouse_dir, "__extract_staging__")

    def checkpoint(df: DataFrame, name: str) -> DataFrame:
        path = os.path.join(staging_dir, name)
        df.write.mode("overwrite").parquet(path)
        # the schema is known: no footer-inference job on read-back
        return spark.read.schema(df.schema).parquet(path)

    def observed_rows(df: DataFrame) -> "tuple[DataFrame, Observation]":
        # a row count carried by the write that consumes df: no extra job
        obs = Observation()
        return df.observe(obs, F.count(F.lit(1)).alias("n")), obs

    pairs = sitemap_to_pairs(spark, fetchers.sitemap())

    products_raw, raw_obs = observed_rows(
        paginated_source(pairs, fetchers.product_page, PRODUCT_DETAIL, cfg)
    )
    products = checkpoint(products_raw, "products")

    shop_keys = dedup_first(products.select("shop_id"), ["shop_id"])
    shops = checkpoint(
        keyed_lookup_source(shop_keys, fetchers.shop_detail, SHOP_INFO, cfg), "shops"
    )

    # ratings are keyed off the shops that RESOLVED (the reference's
    # get_rating consumes get_shop_info's output, dags/etl.py:115-128),
    # which also keeps the rating FK satisfiable without a filter
    ratings = checkpoint(
        paginated_source(
            shops.select("shop_id"), fetchers.rating_page, RATING_RAW, cfg
        ).withColumn("update_time", parse_day_first_date("update_time")),
        "ratings",
    )

    # --- loads in FK order (W4, dags/etl.py:206-281) -----------------------
    shop_path = os.path.join(warehouse_dir, "shop_info")
    product_path = os.path.join(warehouse_dir, "product_detail")
    rating_path = os.path.join(warehouse_dir, "rating")

    # shops land first so the product FK is satisfiable (dags/etl.py:218-246)
    upsert_parquet(spark, shops, shop_path, PRIMARY_KEYS["shop_info"])

    # key space = warehouse read-back ∪ fresh batch (J2, dags/etl.py:247-250)
    known_shop_keys = key_space_union(
        warehouse_table(spark, warehouse_dir, "shop_info").select("shop_id"),
        shops.select("shop_id"),
    )
    products_fk, fk_obs = observed_rows(
        fk_semi_join(products, known_shop_keys, "shop_id")  # J1 (:251)
    )
    upsert_parquet(spark, products_fk, product_path, PRIMARY_KEYS["product_detail"])

    upsert_parquet(spark, ratings, rating_path, PRIMARY_KEYS["rating"])

    return PipelineResult(
        products=table_row_count(spark, product_path),
        shops=table_row_count(spark, shop_path),
        ratings=table_row_count(spark, rating_path),
        products_dropped_by_fk=raw_obs.get["n"] - fk_obs.get["n"],
    )
