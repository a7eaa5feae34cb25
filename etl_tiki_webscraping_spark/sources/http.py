"""Paginated / keyed HTTP source builders (SURVEY.md §2.1 S1-S4, S7, O4).

The reference scrapes with three driver-style loops:
- paginate products per sub-category until an empty page
  (/root/reference/dags/etl.py:50-64),
- one detail GET per deduped shop key (:89-96),
- paginate ratings per shop_id, page size 10000, until empty (:131-145),
with a random User-Agent per run (:11-22) and Airflow-level retries
(:288-289).

Spark-first restatement: the unit of parallelism is the KEY (a
sub-category, a shop_id), not a hand-built 5-way split.  We build a
DataFrame of keys, repartition it so keys spread across executors, and
run the per-key pagination loop inside ``mapInPandas`` — Arrow-batched,
one fetch loop per partition, pagination sequential per key (the API
forces that) but parallel across keys.  The reference's tail-loss bug
(dags/etl.py:115-120 covers only 5*(n//5) keys) cannot happen here:
every key row is in some partition.

The fetcher is INJECTED (a plain callable) so tests never hit the
network and production can swap requests/httpx with UA rotation,
backoff and rate limits without touching the Spark plumbing.
"""

from __future__ import annotations

import random
import time
from collections.abc import Callable, Iterable, Iterator
from dataclasses import dataclass, field

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T


def _schema_names(schema: T.StructType | str) -> list[str]:
    if isinstance(schema, T.StructType):
        return schema.fieldNames()
    return T._parse_datatype_string(schema).fieldNames()


def _conform(pdf: pd.DataFrame, names: list[str]) -> pd.DataFrame:
    """Reorder/complete pandas output to the declared schema order —
    mapInPandas matches Arrow columns positionally."""
    for n in names:
        if n not in pdf.columns:
            pdf[n] = None
    return pdf[names]


# rows buffered before a fetch loop builds a frame: Arrow's default
# batch size (spark.sql.execution.arrow.maxRecordsPerBatch)
_FLUSH_ROWS = 10_000

# Default UA pool mirrors the reference's rotation concept (dags/etl.py:11-18);
# strings are generic, not copied.
DEFAULT_USER_AGENTS = (
    "Mozilla/5.0 (X11; Linux x86_64) Gecko/20100101 Firefox/124.0",
    "Mozilla/5.0 (Windows NT 10.0; Win64; x64) AppleWebKit/537.36 Chrome/123.0 Safari/537.36",
    "Mozilla/5.0 (Macintosh; Intel Mac OS X 13_5) AppleWebKit/605.1.15 Version/16.5 Safari/605.1.15",
)


@dataclass
class FetchConfig:
    """Retry/backoff/UA policy (reference: retries=2, 5-min delay,
    dags/etl.py:288-289 — scaled down to per-request granularity)."""

    max_retries: int = 2
    backoff_seconds: float = 1.0
    backoff_multiplier: float = 2.0
    user_agents: tuple[str, ...] = field(default=DEFAULT_USER_AGENTS)
    page_limit: int = 10_000  # reference's limit=10000 (dags/etl.py:135)
    max_pages: int = 100_000  # safety bound on pagination-until-empty

    def pick_user_agent(self, seed: int | None = None) -> str:
        rng = random.Random(seed)
        return rng.choice(self.user_agents)


def _with_retries(fn: Callable[[], object], cfg: FetchConfig) -> object:
    delay = cfg.backoff_seconds
    for attempt in range(cfg.max_retries + 1):
        try:
            return fn()
        except Exception:
            if attempt == cfg.max_retries:
                raise
            time.sleep(delay)
            delay *= cfg.backoff_multiplier
    raise AssertionError("unreachable")


# A page fetcher: (key_row: dict, page: int, cfg) -> list[dict] | None.
# Returning None or [] terminates pagination for that key
# (the reference's `if data is None: break`, dags/etl.py:58-59,140-141).
PageFetcher = Callable[[dict, int, FetchConfig], list | None]
# A single-shot fetcher for keyed lookups: (key_row: dict, cfg) -> dict | None.
RowFetcher = Callable[[dict, FetchConfig], dict | None]


def paginated_source(
    keys: DataFrame,
    fetch_page: PageFetcher,
    schema: T.StructType | str,
    cfg: FetchConfig | None = None,
    num_partitions: int | None = None,
) -> DataFrame:
    """Paginate-until-empty per key, parallel across keys (S2/S4).

    ``keys``: small DataFrame of request keys (e.g. (category,
    sub_category) or (shop_id,)).  Key columns are carried onto every
    output row — the reference's literal provenance tagging
    (df["category"] = category, dags/etl.py:61-62,143) — IF they appear
    in ``schema``.
    """
    cfg = cfg or FetchConfig()
    key_cols = keys.columns
    out_names = _schema_names(schema)

    def run(batches: Iterable[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # tagged rows of every key in the partition, framed _FLUSH_ROWS
        # at a time: a frame per small page is mostly pandas overhead
        buf: list[dict] = []
        for batch in batches:
            for row in batch.to_dict("records"):
                tags = {k: row[k] for k in key_cols if k in out_names}  # provenance tag
                for page in range(1, cfg.max_pages + 1):
                    data = _with_retries(lambda: fetch_page(row, page, cfg), cfg)
                    if not data:
                        break  # empty page terminates (dags/etl.py:58-59)
                    buf += [{**rec, **tags} for rec in data]
                    if len(buf) >= _FLUSH_ROWS:
                        yield _conform(pd.DataFrame.from_records(buf), out_names)
                        buf = []
        if buf:
            yield _conform(pd.DataFrame.from_records(buf), out_names)

    # Spread keys across partitions: pagination depth per key is unknown,
    # so round-robin by key count keeps workers busy; AQE cannot help
    # inside a black-box UDF so we size partitions explicitly.
    n = num_partitions or min(max(keys.sparkSession.sparkContext.defaultParallelism, 1), 64)
    return keys.repartition(n).mapInPandas(run, schema=schema)


def keyed_lookup_source(
    keys: DataFrame,
    fetch_row: RowFetcher,
    schema: T.StructType | str,
    cfg: FetchConfig | None = None,
    num_partitions: int | None = None,
) -> DataFrame:
    """One lookup per key row (S3: shop-detail enrichment,
    dags/etl.py:89-96).  Fetch failures after retries propagate (task
    retry handles them); fetchers returning None skip the key.
    """
    cfg = cfg or FetchConfig()
    key_cols = keys.columns
    out_names = _schema_names(schema)

    def run(batches: Iterable[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for batch in batches:
            rows: list[dict] = []
            for row in batch.to_dict("records"):
                data = _with_retries(lambda: fetch_row(row, cfg), cfg)
                if data is None:
                    continue
                rec = dict(data)
                for k in key_cols:
                    if k in out_names:
                        rec.setdefault(k, row[k])
                rows.append(rec)
            if rows:
                yield _conform(pd.DataFrame.from_records(rows), out_names)

    n = num_partitions or min(max(keys.sparkSession.sparkContext.defaultParallelism, 1), 64)
    return keys.repartition(n).mapInPandas(run, schema=schema)
