"""Deterministic input generators for the benchmark.

Everything here is a pure function of its arguments (seed included), so the
same seed gives byte-identical files. The program under test only ever sees
the files written here.

- ``Catalog`` / ``write_bronze_day``: the scraped bronze drop, one
  ``{competitor}_products.json`` and ``{competitor}_packs.json`` wrapped-JSON
  document per competitor per scrape day, shaped like the reference
  scraper's output (``{"products": [...]}`` written with ``indent=4``).
  Each day after the first changes ~5% of prices, ~2% of feature sets and
  adds a few products and one pack per competitor. ``write_bronze_day``
  returns the rows the load stage must append for that day.
- ``write_tables``: the TPC-H-ish star tables plus events, documents and
  embeddings that the headline queries and the curation job read, with the
  value domains of the suite's reference data set.
"""

from __future__ import annotations

import datetime as dt
import json
import os
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

CATEGORIES = ("mobile", "internet", "tv")
SPEEDS = ("50mbps", "100mbps", "200mbps", "500mbps", "1gbps", "2gbps")
PRICE_CHANGE_SHARE = 0.05
FEATURE_CHANGE_SHARE = 0.02
FIRST_DAY = dt.date(2024, 3, 1)


def _rng(seed: int, *salt: int) -> np.random.Generator:
    return np.random.default_rng([seed, *salt])


@dataclass
class Product:
    name: str
    category: str
    url: str
    price: float
    data: float
    minutes: float | None
    sms: int | None
    upload_speed: str | None
    download_speed: str | None

    def record(self, competitor: str, scraped_at: str) -> dict:
        return {
            "product_name": self.name,
            "competitor_name": competitor,
            "product_category": self.category,
            "product_url": self.url,
            "price": self.price,
            "scraped_at": scraped_at,
            "data": self.data,
            "minutes": self.minutes,
            "sms": self.sms,
            "upload_speed": self.upload_speed,
            "download_speed": self.download_speed,
        }


@dataclass
class Catalog:
    """Scrape state of every competitor, advanced one day at a time.

    Feature changes only ever raise ``data``, so a changed feature set never
    reproduces an earlier one (the gold tables key features by content);
    every change is therefore one appended row.
    """

    seed: int
    n_competitors: int
    n_products: int
    new_per_day: int = 3
    day: int = 0
    products: dict[str, list[Product]] = field(default_factory=dict)
    packs: dict[str, list[str]] = field(default_factory=dict)

    def __post_init__(self) -> None:
        rng = _rng(self.seed, 0)
        for c in range(self.n_competitors):
            comp = f"competitor{c}"
            self.products[comp] = [
                self._new_product(rng, comp, i) for i in range(self.n_products)
            ]
            self.packs[comp] = [f"{comp} pack {k}" for k in range(4)]

    @staticmethod
    def _new_product(rng: np.random.Generator, comp: str, i: int) -> Product:
        cat = CATEGORIES[int(rng.integers(len(CATEGORIES)))]
        unlimited = rng.random() < 0.1
        return Product(
            name=f"{comp} {cat} plan {i}",
            category=cat,
            url=f"https://www.{comp}.example.com/{cat}/{i}",
            price=round(float(rng.integers(500, 15000)) / 100, 2),
            data=-1.0 if unlimited else float(rng.integers(1, 200)),
            minutes=None if cat == "internet" else float(rng.integers(0, 3000)),
            sms=None if cat == "internet" else int(rng.integers(0, 1000)),
            upload_speed=SPEEDS[int(rng.integers(len(SPEEDS)))],
            download_speed=SPEEDS[int(rng.integers(len(SPEEDS)))],
        )

    @property
    def scraped_at(self) -> str:
        return (FIRST_DAY + dt.timedelta(days=self.day)).isoformat()

    def advance(self) -> dict[str, int]:
        """Move to the next scrape day. Returns the gold rows that day's
        drop must append, given that every earlier day is already loaded."""
        self.day += 1
        rng = _rng(self.seed, self.day)
        exp = {"competitors": 0, "products": 0, "features": 0,
               "product_prices": 0, "packs": 0}
        for comp, prods in self.products.items():
            n = len(prods)
            feat = rng.random(n) < FEATURE_CHANGE_SHARE
            price = rng.random(n) < PRICE_CHANGE_SHARE
            for i, p in enumerate(prods):
                if feat[i]:
                    p.data = (p.data if p.data > 0 else 0.0) + 1000.0
                if price[i]:
                    p.price = round(p.price + float(rng.integers(1, 500)) / 100, 2)
                exp["features"] += int(feat[i])
                exp["product_prices"] += int(feat[i] or price[i])
            for _ in range(self.new_per_day):
                prods.append(self._new_product(rng, comp, len(prods)))
            self.packs[comp].append(f"{comp} pack {len(self.packs[comp])}")
            exp["products"] += self.new_per_day
            exp["features"] += self.new_per_day
            exp["product_prices"] += self.new_per_day
            exp["packs"] += 1
        return exp

    def first_day_expectation(self) -> dict[str, int]:
        n = sum(len(p) for p in self.products.values())
        return {"competitors": self.n_competitors, "products": n,
                "features": n, "product_prices": n,
                "packs": sum(len(p) for p in self.packs.values())}

    def write(self, out_dir: str) -> int:
        """Write the current day's drop. Returns its product-row count."""
        os.makedirs(out_dir, exist_ok=True)
        day = self.scraped_at
        rows = 0
        for comp, prods in self.products.items():
            recs = [p.record(comp, day) for p in prods]
            rows += len(recs)
            _dump(f"{out_dir}/{comp}_products.json", {"products": recs})
            packs = [
                {
                    "competitor_name": comp,
                    "pack_name": name,
                    "pack_url": f"https://www.{comp}.example.com/packs/{k}",
                    "pack_description": f"{name} bundle",
                    "price": round(20.0 + k, 2),
                    "scraped_at": day,
                    "mobile_product_name": prods[0].name,
                    "internet_product_name": prods[-1].name,
                }
                for k, name in enumerate(self.packs[comp])
            ]
            _dump(f"{out_dir}/{comp}_packs.json", {"packs": packs})
        return rows


def _dump(path: str, doc: dict) -> None:
    with open(path, "w", encoding="utf-8") as f:
        json.dump(doc, f, indent=4)


# --------------------------------------------------------------------------
# Query / curation tables
# --------------------------------------------------------------------------

WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
LANGS = ("en", "zh", "es", "fr", "de")
LANG_P = (0.41, 0.15, 0.15, 0.15, 0.14)
PART_ADJ = ("small", "large", "red", "blue", "hot", "cold", "old", "new")
PART_NOUN = ("widget", "bolt", "gear", "gizmo", "ring", "plate", "nut", "pipe")
SEGMENTS = ("MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE")
PTYPES = ("ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
EVENT_TYPES = ("click", "signup", "error", "view", "purchase")


def table_sizes(sf: float) -> dict[str, int]:
    return {
        "customer": int(150_000 * sf),
        "supplier": max(10, int(10_000 * sf)),
        "part": int(200_000 * sf),
        "orders": int(1_500_000 * sf),
        "events": int(1_000_000 * sf),
        "documents": max(500, int(50_000 * sf)),
        "embeddings": max(500, int(20_000 * sf)),
    }


def _cents(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.integers(int(lo * 100), int(hi * 100), n) / 100, 2)


def _pick(rng: np.random.Generator, values, n: int, p=None) -> list[str]:
    return [values[i] for i in rng.choice(len(values), n, p=p)]


def documents(seed: int, n: int) -> pa.Table:
    """``n`` documents of 10-100 words; 5% are near-duplicates (an earlier
    document's text plus ' dup'), the shape the dedup stages look for."""
    rng = _rng(seed, 101)
    texts: list[str] = []
    for i in range(n):
        if i > 0 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(i))] + " dup")
        else:
            k = int(rng.integers(10, 101))
            texts.append(" ".join(WORDS[j] for j in rng.integers(len(WORDS), size=k)))
    return pa.table({
        "doc_id": pa.array(range(n), pa.int64()),
        "text": texts,
        "lang": _pick(rng, LANGS, n, LANG_P),
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def write_tables(out_dir: str, seed: int, sf: float) -> dict[str, int]:
    """Write every table as ``{out_dir}/{name}.parquet``. Returns row counts."""
    os.makedirs(out_dir, exist_ok=True)
    n = table_sizes(sf)
    rng = _rng(seed, 100)
    epoch = np.datetime64("1995-01-01T00:00:00", "us")
    day_us = np.int64(86_400_000_000)

    tables: dict[str, pa.Table] = {}
    tables["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    tables["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    tables["customer"] = pa.table({
        "c_custkey": pa.array(range(n["customer"]), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n["customer"])],
        "c_nationkey": pa.array(rng.integers(0, 25, n["customer"]), pa.int32()),
        "c_acctbal": _cents(rng, -999.99, 9999.99, n["customer"]),
        "c_mktsegment": _pick(rng, SEGMENTS, n["customer"]),
    })
    tables["supplier"] = pa.table({
        "s_suppkey": pa.array(range(n["supplier"]), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n["supplier"])],
        "s_nationkey": pa.array(rng.integers(0, 25, n["supplier"]), pa.int32()),
        "s_acctbal": _cents(rng, -999.99, 9999.99, n["supplier"]),
    })
    tables["part"] = pa.table({
        "p_partkey": pa.array(range(n["part"]), pa.int64()),
        "p_name": [f"{a} {b}" for a, b in zip(_pick(rng, PART_ADJ, n["part"]),
                                               _pick(rng, PART_NOUN, n["part"]))],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n["part"])],
        "p_type": _pick(rng, PTYPES, n["part"]),
        "p_size": pa.array(rng.integers(1, 51, n["part"]), pa.int32()),
        "p_retailprice": np.round(rng.integers(9000, 10000, n["part"]) / 10, 1),
    })
    order_days = rng.integers(0, 2404, n["orders"])
    tables["orders"] = pa.table({
        "o_orderkey": pa.array(range(n["orders"]), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n["customer"], n["orders"]), pa.int64()),
        "o_orderstatus": _pick(rng, ("F", "O", "P"), n["orders"]),
        "o_totalprice": _cents(rng, 1000.0, 500000.0, n["orders"]),
        "o_orderdate": pa.array(epoch + order_days * day_us, pa.timestamp("us")),
        "o_orderpriority": _pick(rng, PRIORITIES, n["orders"]),
    })
    lines = rng.integers(1, 8, n["orders"])
    okey = np.repeat(np.arange(n["orders"]), lines)
    m = len(okey)
    lnum = np.concatenate([np.arange(1, k + 1) for k in lines])
    flags = _pick(rng, ("A", "N", "R"), m)
    tables["lineitem"] = pa.table({
        "l_orderkey": pa.array(okey, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n["part"], m), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n["supplier"], m), pa.int64()),
        "l_linenumber": pa.array(lnum, pa.int32()),
        "l_quantity": rng.integers(1, 51, m).astype(np.float64),
        "l_extendedprice": _cents(rng, 900.0, 105000.0, m),
        "l_discount": rng.integers(0, 11, m) / 100,
        "l_tax": rng.integers(0, 9, m) / 100,
        "l_returnflag": flags,
        "l_linestatus": _pick(rng, ("O", "F"), m),
        "l_shipdate": pa.array(
            epoch + (np.repeat(order_days, lines) + rng.integers(1, 122, m)) * day_us,
            pa.timestamp("us"),
        ),
    })
    ev_us = np.sort(rng.integers(0, 30 * 86_400_000_000, n["events"]))
    tables["events"] = pa.table({
        "event_id": pa.array(range(n["events"]), pa.int64()),
        "ts": pa.array(np.datetime64("2024-01-01T00:00:00", "us") + ev_us,
                       pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, max(150, n["customer"] // 10),
                                         n["events"]), pa.int64()),
        "event_type": _pick(rng, EVENT_TYPES, n["events"]),
        "value": _cents(rng, 0.01, 500.0, n["events"]),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n["events"])],
    })
    tables["documents"] = documents(seed, n["documents"])
    labels = rng.integers(0, 10, n["embeddings"])
    centers = rng.normal(size=(10, 64))
    vecs = centers[labels] + rng.normal(scale=1.5, size=(n["embeddings"], 64))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    tables["embeddings"] = pa.table({
        "vec_id": pa.array(range(n["embeddings"]), pa.int64()),
        "embedding": pa.array(list(vecs.astype(np.float32)), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })
    for name, tb in tables.items():
        pq.write_table(tb, f"{out_dir}/{name}.parquet")
    return {name: tb.num_rows for name, tb in tables.items()}
