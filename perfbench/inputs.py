"""Seeded input generators for the benchmark.

Everything the program sees is built here from ``--seed``: the fixture
tables the query mix reads (``nation``, ``customer``, ``orders``,
``events``, ``documents``, ``embeddings``; one parquet file each, in the
schema and layout of the package's test fixtures) and the fake scrape
sources of the daily ETL workload.  The same seed always gives the same
bytes.
"""

from __future__ import annotations

import datetime as dt
import os
from decimal import Decimal

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Row counts per table (the size class of the package's sf0.01 fixture).
ROWS = {
    "customer": 1500,
    "orders": 15000,
    "events": 10000,
    "documents": 500,
    "embeddings": 500,
}

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
WORDS = (
    "a agg batch big column customer data fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the "
    "value vector window"
).split()

_TABLE_SALT = {name: i for i, name in enumerate(
    ["nation", "customer", "orders", "events", "documents", "embeddings", "etl"]
)}


def _rng(seed: int, table: str) -> np.random.Generator:
    return np.random.default_rng([seed, _TABLE_SALT[table]])


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng: np.random.Generator, start: str, span: int, n: int) -> pa.Array:
    base = np.datetime64(start, "us")
    days = rng.integers(0, span + 1, n).astype("timedelta64[D]")
    return pa.array(base + days, pa.timestamp("us"))


def _table(name: str, seed: int) -> pa.Table:
    rng = _rng(seed, name)
    n = ROWS.get(name, 0)
    if name == "nation":
        return pa.table({
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        })
    if name == "customer":
        return pa.table({
            "c_custkey": pa.array(np.arange(n), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(n)],
            "c_nationkey": pa.array(rng.integers(0, 25, n), pa.int32()),
            "c_acctbal": _money(rng, -999.99, 9999.99, n),
            "c_mktsegment": [SEGMENTS[i] for i in rng.integers(0, 5, n)],
        })
    if name == "orders":
        return pa.table({
            "o_orderkey": pa.array(np.arange(n), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, ROWS["customer"], n), pa.int64()),
            "o_orderstatus": [("F", "O", "P")[i] for i in rng.integers(0, 3, n)],
            "o_totalprice": _money(rng, 1000.0, 500000.0, n),
            "o_orderdate": _days(rng, "1995-01-01", 2404, n),
            "o_orderpriority": [PRIORITIES[i] for i in rng.integers(0, 5, n)],
        })
    if name == "events":
        gaps = rng.exponential(1.0, n)
        span_us = 30 * 86400 * 1_000_000
        offs = np.floor(np.cumsum(gaps) / gaps.sum() * (span_us - 1)).astype("int64")
        ts = np.datetime64("2024-01-01", "us") + offs.astype("timedelta64[us]")
        return pa.table({
            "event_id": pa.array(np.arange(n), pa.int64()),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, 150, n), pa.int64()),
            "event_type": [EVENT_TYPES[i] for i in rng.integers(0, 5, n)],
            "value": np.maximum(np.round(rng.exponential(50.0, n), 2), 0.01),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
        })
    if name == "documents":
        texts = [
            " ".join(WORDS[w] for w in rng.integers(0, len(WORDS), rng.integers(10, 100)))
            for _ in range(n)
        ]
        # ~5% near-duplicates: a copy of another document plus one token
        dups = rng.choice(n, n // 20, replace=False)
        originals = [i for i in range(n) if i not in set(dups.tolist())]
        for i in dups:
            texts[i] = texts[originals[rng.integers(0, len(originals))]] + " dup"
        return pa.table({
            "doc_id": pa.array(np.arange(n), pa.int64()),
            "text": texts,
            "lang": [LANGS[i] for i in rng.choice(5, n, p=LANG_P)],
            "source": [f"src{i % 20}" for i in range(n)],
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        })
    if name == "embeddings":
        v = rng.standard_normal((n, 64)).astype("float32")
        v /= np.linalg.norm(v, axis=1, keepdims=True)
        return pa.table({
            "vec_id": pa.array(np.arange(n), pa.int64()),
            "embedding": pa.array(list(v), pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, n), pa.int32()),
        })
    raise KeyError(name)


def write_tables(seed: int, out_dir: str, names: "list[str]") -> None:
    """Write the named fixture tables as ``<out_dir>/<name>.parquet``."""
    os.makedirs(out_dir, exist_ok=True)
    for name in names:
        pq.write_table(_table(name, seed), os.path.join(out_dir, f"{name}.parquet"))


# ---------------------------------------------------------------------------
# Daily ETL: a seeded scrape world, its fake fetchers and a pure-Python
# model of what the warehouse must hold after each day.
# ---------------------------------------------------------------------------

CATEGORIES = 4
SUBS_PER_CATEGORY = 5
PAGES = 4
PAGE_SIZE = 50
SHOPS = 400
RATING_PAGE = 10
# day 0: initial load; days 1-2: change days; day 3 replays day 2's payload
DAYS = 4


def _day_key(day: int) -> int:
    return min(day, 2)  # the replay day fetches exactly the prior payload


def _world(seed: int, day: int) -> dict:
    """The full scrape payload of one day: products per sub-category,
    shop details, ratings per shop, and the shops whose lookup fails."""
    rng = np.random.default_rng([seed, _TABLE_SALT["etl"]])
    subs = [
        (f"cat{c}", f"cat{c}-sub{s}")
        for c in range(CATEGORIES) for s in range(SUBS_PER_CATEGORY)
    ]
    n0 = len(subs) * PAGES * PAGE_SIZE
    products = {}
    for i in range(n0):
        cat, sub = subs[i % len(subs)]
        products[f"p{i:06d}"] = {
            "name": f"product {i} v0",
            "price": int(rng.integers(1000, 500000)),
            "shop": int(rng.integers(0, SHOPS)),
            "cat": cat,
            "sub": sub,
        }
    ratings = {
        s: [(f"r{s:04d}-{k:03d}", 0) for k in range(int(rng.integers(3, 25)))]
        for s in range(SHOPS)
    }
    failing = set()
    next_id = n0
    for d in range(_day_key(day) + 1):
        drng = np.random.default_rng([seed, _TABLE_SALT["etl"], d])
        failing = set(drng.choice(SHOPS, SHOPS // 100, replace=False).tolist())
        if d == 0:
            continue
        ids = sorted(products)
        for pid in drng.choice(ids, len(ids) // 10, replace=False):
            p = products[pid]
            if drng.random() < 0.5:
                p["price"] = int(drng.integers(1000, 500000))
            else:
                p["name"] = f"{p['name'].rsplit(' v', 1)[0]} v{d}"
        for _ in range(len(ids) // 20):
            cat, sub = subs[int(drng.integers(0, len(subs)))]
            products[f"p{next_id:06d}"] = {
                "name": f"product {next_id} v{d}",
                "price": int(drng.integers(1000, 500000)),
                "shop": int(drng.integers(0, SHOPS)),
                "cat": cat,
                "sub": sub,
            }
            next_id += 1
        for s in drng.choice(SHOPS, SHOPS // 5, replace=False):
            have = ratings[int(s)]
            have += [(f"r{int(s):04d}-{len(have) + k:03d}", d) for k in range(int(drng.integers(1, 4)))]
    by_sub: dict = {}
    for pid in sorted(products):
        by_sub.setdefault(products[pid]["sub"], []).append(pid)
    return {"products": products, "by_sub": by_sub, "ratings": ratings,
            "failing": failing, "subs": subs}


_WORLD_CACHE: dict = {}


def world(seed: int, day: int) -> dict:
    key = (seed, _day_key(day))
    if key not in _WORLD_CACHE:
        _WORLD_CACHE.clear()
        _WORLD_CACHE[key] = _world(seed, day)
    return _WORLD_CACHE[key]


def _cents(v: int) -> Decimal:
    return Decimal(v).scaleb(-2)  # two decimal places, as decimal(p, 2) holds it


def product_record(pid: str, p: dict) -> dict:
    return {
        "product_id": pid,
        "name": p["name"],
        "category_path": f"{p['sub']}/{pid}.html",
        "price": _cents(p["price"]),
        "price_max": _cents(p["price"] * 2),
        "final_price": _cents(p["price"] * 9 // 10),
        "final_price_max": _cents(p["price"] * 18 // 10),
        "shop_id": f"shop-{p['shop']:04d}",
        "category": p["cat"],
        "sub_category": p["sub"],
    }


def shop_record(w: dict, shop: int) -> dict:
    n_prod = sum(1 for p in w["products"].values() if p["shop"] == shop)
    n_rat = len(w["ratings"][shop])
    return {
        "shop_id": f"shop-{shop:04d}",
        "shop_name": f"Shop {shop}",
        "good_review_percent": _cents(9000 + shop % 1000),
        "score": _cents(300 + shop % 200),
        "customer_id": f"c{shop}",
        "phone_number": f"555-{shop:04d}",
        "rating_avg": _cents(350 + n_rat % 150),
        "rating_count": n_rat,
        "response_time": "fast" if shop % 2 else "slow",
        "product_total": n_prod,
        "sale_on_sendo": f"{1 + shop % 7} years",
        "time_prepare_product": f"{1 + shop % 3} days",
        "warehourse_region_name": REGIONS[shop % 5],
    }


def rating_record(shop: int, rid: str, day: int) -> dict:
    k = int(rid.rsplit("-", 1)[1])
    date = dt.date(2024, 1, 1) + dt.timedelta(days=(shop * 7 + k * 3) % 300)
    return {
        "rating_id": rid,
        "shop_id": f"shop-{shop:04d}",
        "address": f"street {k}",
        "star": 1 + (shop + k) % 5,
        "comment": f"comment {k} day {day}",
        "status": "approved",
        # every 17th rating carries a malformed date, which loads as NULL
        "update_time": "bad-date" if k % 17 == 16 else date.strftime("%d/%m/%Y"),
        "customer_id": f"c{k}",
        "user_name": f"user{k}",
        "product_name": f"product {k}",
        "product_path": f"product-{k}.html",
        "price": _cents(1000 + k * 10),
    }


class FetchCounter:
    """Counts fetcher calls through a Spark accumulator, so calls made
    inside Python workers are summed in the benchmark process."""

    def __init__(self, acc):
        self.acc = acc

    def hit(self) -> None:
        self.acc.add(1)


class Sitemap:
    """The category tree; ``subs`` limits it to the first sub-categories."""

    def __init__(self, seed: int, day: int, subs: "int | None" = None):
        self.seed, self.day, self.subs = seed, day, subs

    def __call__(self) -> list:
        cats: dict = {}
        for cat, sub in world(self.seed, self.day)["subs"][:self.subs]:
            cats.setdefault(cat, []).append({"url_key": sub})
        return [{"url_key": c, "child": ch} for c, ch in cats.items()]


class ProductPage:
    def __init__(self, seed: int, day: int, counter: FetchCounter):
        self.seed, self.day, self.counter = seed, day, counter

    def __call__(self, row: dict, page: int, cfg) -> "list | None":
        self.counter.hit()
        w = world(self.seed, self.day)
        ids = w["by_sub"].get(row["sub_category"], [])[(page - 1) * PAGE_SIZE: page * PAGE_SIZE]
        if not ids:
            return None
        out = []
        for pid in ids:
            rec = product_record(pid, w["products"][pid])
            del rec["category"], rec["sub_category"]  # tagged from the key row
            out.append(rec)
        return out


class ShopDetail:
    def __init__(self, seed: int, day: int, counter: FetchCounter):
        self.seed, self.day, self.counter = seed, day, counter

    def __call__(self, row: dict, cfg) -> "dict | None":
        self.counter.hit()
        w = world(self.seed, self.day)
        shop = int(row["shop_id"].split("-")[1])
        return None if shop in w["failing"] else shop_record(w, shop)


class RatingPage:
    def __init__(self, seed: int, day: int, counter: FetchCounter):
        self.seed, self.day, self.counter = seed, day, counter

    def __call__(self, row: dict, page: int, cfg) -> "list | None":
        self.counter.hit()
        shop = int(row["shop_id"].split("-")[1])
        rs = world(self.seed, self.day)["ratings"][shop][(page - 1) * RATING_PAGE: page * RATING_PAGE]
        return [rating_record(shop, rid, d) for rid, d in rs] or None


def expected_after(seed: int, day: int) -> dict:
    """Warehouse content after days 0..day: {table: {pk: row dict}} with
    PK last-writer-wins, the FK drop and the dd/MM/yyyy parse applied."""
    tables: dict = {"shop_info": {}, "product_detail": {}, "rating": {}}
    for d in range(day + 1):
        w = world(seed, d)
        shops = sorted({p["shop"] for p in w["products"].values()} - w["failing"])
        for s in shops:
            tables["shop_info"][f"shop-{s:04d}"] = shop_record(w, s)
        known = set(tables["shop_info"])
        for pid, p in w["products"].items():
            rec = product_record(pid, p)
            if rec["shop_id"] in known:
                tables["product_detail"][pid] = rec
        for s in shops:
            for rid, rd in w["ratings"][s]:
                rec = rating_record(s, rid, rd)
                try:
                    rec["update_time"] = dt.datetime.strptime(rec["update_time"], "%d/%m/%Y").date()
                except ValueError:
                    rec["update_time"] = None
                tables["rating"][rid] = rec
    return tables
