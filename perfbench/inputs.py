"""Seeded benchmark inputs: the job's pages table and the registry's tables.

Every table is a pure function of the seed and its size, so the same
``--seed`` always yields byte-identical parquet inputs.

* pages: ``datagen`` pages, every fifth one from ``make_rich_page``;
* registry tables: the ten tables the query registry reads (``region``,
  ``nation``, ``customer``, ``supplier``, ``part``, ``orders``,
  ``lineitem``, ``events``, ``documents``, ``embeddings``), with the column
  types and value shapes of the repo's sf-scaled test data: a 30-word
  vocabulary for document text, 5% near-duplicate documents (a copy of an
  earlier text plus one word), unit-norm 64-d embeddings, a 30-day event
  stream.
"""

from __future__ import annotations

import math
import os
import random
from datetime import datetime, timedelta

import pyarrow as pa
import pyarrow.parquet as pq

from sbb_ocr_postcorrection_spark import datagen

VOCAB = (
    "vector batch part value a slow scan merge sort hash table join fast "
    "column key spark agg the line order data small customer query window "
    "big stream group row filter"
).split()
LANGS = ("en",) * 3 + ("es", "zh", "de", "fr")
SEGMENTS = ("MACHINERY", "AUTOMOBILE", "FURNITURE", "HOUSEHOLD", "BUILDING")
PART_ADJ = ("small", "red", "blue", "hot", "cold", "old", "new", "big")
PART_NOUN = ("ring", "widget", "bolt", "gear", "anvil", "rod", "plate", "nut")
PART_TYPES = ("ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
EVENT_TYPES = ("click", "signup", "error", "view", "purchase")
REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")


def make_pages(seed: int, n: int) -> list[datagen.Page]:
    """n job input pages; every fifth page is a rich layout."""
    return [
        (datagen.make_rich_page if i % 5 == 0 else datagen.make_page)(seed, i)
        for i in range(n)
    ]


def write_pages(path: str, pages: list[datagen.Page]) -> None:
    """Write the pages table as one parquet file."""
    pq.write_table(datagen.pages_to_arrow(pages), path)


def _documents(rng: random.Random, n: int) -> dict:
    texts: list[str] = []
    for i in range(n):
        if i > 10 and rng.random() < 0.05:
            texts.append(texts[rng.randrange(i)] + " dup")
        else:
            texts.append(" ".join(rng.choice(VOCAB) for _ in range(rng.randint(10, 99))))
    return {
        "doc_id": pa.array(range(n), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array([rng.choice(LANGS) for _ in range(n)], pa.string()),
        "source": pa.array([f"src{i % 20}" for i in range(n)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    }


def _embeddings(rng: random.Random, n: int, dim: int = 64) -> dict:
    vecs = []
    for _ in range(n):
        v = [rng.gauss(0.0, 1.0) for _ in range(dim)]
        norm = math.sqrt(sum(x * x for x in v))
        vecs.append([x / norm for x in v])
    return {
        "vec_id": pa.array(range(n), pa.int64()),
        "embedding": pa.array(vecs, pa.list_(pa.float32())),
        "label": pa.array([rng.randrange(10) for _ in range(n)], pa.int32()),
    }


def _events(rng: random.Random, n: int, users: int) -> dict:
    start = datetime(2024, 1, 1)
    mean_gap = 30 * 86400 / n
    ts, t = [], 0.0
    for _ in range(n):
        t += rng.expovariate(1.0 / mean_gap)
        ts.append(start + timedelta(microseconds=int(t * 1e6)))
    return {
        "event_id": pa.array(range(n), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array([rng.randrange(users) for _ in range(n)], pa.int64()),
        "event_type": pa.array([rng.choice(EVENT_TYPES) for _ in range(n)], pa.string()),
        "value": pa.array([round(rng.uniform(0.01, 490.0), 2) for _ in range(n)], pa.float64()),
        "props": pa.array([f'{{"k": {rng.randrange(100)}}}' for _ in range(n)], pa.string()),
    }


def _tpch(rng: random.Random, scale: float) -> dict[str, dict]:
    n_cust, n_supp = int(150_000 * scale), max(int(10_000 * scale), 10)
    n_part, n_orders = int(200_000 * scale), int(1_500_000 * scale)
    day0 = datetime(1995, 1, 1)
    odates = [day0 + timedelta(days=rng.randrange(2404)) for _ in range(n_orders)]
    prices = [900.0 + (k % 1000) / 10 for k in range(n_part)]
    li = {k: [] for k in (
        "l_orderkey", "l_partkey", "l_suppkey", "l_linenumber", "l_quantity",
        "l_extendedprice", "l_discount", "l_tax", "l_returnflag",
        "l_linestatus", "l_shipdate",
    )}
    for _ in range(int(6_000_000 * scale)):
        pk, qty = rng.randrange(n_part), float(rng.randint(1, 50))
        li["l_orderkey"].append(rng.randrange(n_orders))
        li["l_partkey"].append(pk)
        li["l_suppkey"].append(rng.randrange(n_supp))
        li["l_linenumber"].append(rng.randint(1, 7))
        li["l_quantity"].append(qty)
        li["l_extendedprice"].append(round(qty * prices[pk] * rng.uniform(0.9, 3.2), 2))
        li["l_discount"].append(rng.randrange(11) / 100)
        li["l_tax"].append(rng.randrange(9) / 100)
        li["l_returnflag"].append(rng.choice("ANR"))
        li["l_linestatus"].append(rng.choice("OF"))
        li["l_shipdate"].append(day0 + timedelta(days=1 + rng.randrange(2500)))
    li_types = (
        pa.int64(), pa.int64(), pa.int64(), pa.int32(), pa.float64(),
        pa.float64(), pa.float64(), pa.float64(), pa.string(), pa.string(),
        pa.timestamp("us"),
    )
    return {
        "region": {
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": pa.array(REGIONS, pa.string()),
        },
        "nation": {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": pa.array([f"NATION_{k}" for k in range(25)], pa.string()),
            "n_regionkey": pa.array([k % 5 for k in range(25)], pa.int32()),
        },
        "customer": {
            "c_custkey": pa.array(range(n_cust), pa.int64()),
            "c_name": pa.array([f"Customer#{k:09d}" for k in range(n_cust)], pa.string()),
            "c_nationkey": pa.array([rng.randrange(25) for _ in range(n_cust)], pa.int32()),
            "c_acctbal": pa.array([round(rng.uniform(-999.99, 9999.99), 2) for _ in range(n_cust)], pa.float64()),
            "c_mktsegment": pa.array([rng.choice(SEGMENTS) for _ in range(n_cust)], pa.string()),
        },
        "supplier": {
            "s_suppkey": pa.array(range(n_supp), pa.int64()),
            "s_name": pa.array([f"Supplier#{k:09d}" for k in range(n_supp)], pa.string()),
            "s_nationkey": pa.array([rng.randrange(25) for _ in range(n_supp)], pa.int32()),
            "s_acctbal": pa.array([round(rng.uniform(-999.99, 9999.99), 2) for _ in range(n_supp)], pa.float64()),
        },
        "part": {
            "p_partkey": pa.array(range(n_part), pa.int64()),
            "p_name": pa.array([f"{rng.choice(PART_ADJ)} {rng.choice(PART_NOUN)}" for _ in range(n_part)], pa.string()),
            "p_brand": pa.array([f"Brand#{rng.randint(1, 25)}" for _ in range(n_part)], pa.string()),
            "p_type": pa.array([rng.choice(PART_TYPES) for _ in range(n_part)], pa.string()),
            "p_size": pa.array([rng.randint(1, 50) for _ in range(n_part)], pa.int32()),
            "p_retailprice": pa.array(prices, pa.float64()),
        },
        "orders": {
            "o_orderkey": pa.array(range(n_orders), pa.int64()),
            "o_custkey": pa.array([rng.randrange(n_cust) for _ in range(n_orders)], pa.int64()),
            "o_orderstatus": pa.array([rng.choice("OFP") for _ in range(n_orders)], pa.string()),
            "o_totalprice": pa.array([round(rng.uniform(1000.0, 500000.0), 2) for _ in range(n_orders)], pa.float64()),
            "o_orderdate": pa.array(odates, pa.timestamp("us")),
            "o_orderpriority": pa.array([rng.choice(PRIORITIES) for _ in range(n_orders)], pa.string()),
        },
        "lineitem": {k: pa.array(v, t) for (k, v), t in zip(li.items(), li_types)},
    }


def write_registry_tables(sf_dir: str, seed: int, scale: float, n_docs: int) -> int:
    """Write the ten registry tables under ``sf_dir``; returns their total
    parquet bytes. ``scale`` sizes the TPC-H-style tables as a TPC-H scale
    factor does (0.001 → 6,000 lineitem rows); documents, embeddings and
    events are sized by ``n_docs``."""
    rng = random.Random(f"registry:{seed}")
    tables = _tpch(rng, scale)
    tables["events"] = _events(rng, 2 * n_docs, users=max(n_docs // 5, 10))
    tables["documents"] = _documents(rng, n_docs)
    tables["embeddings"] = _embeddings(rng, n_docs)
    os.makedirs(sf_dir, exist_ok=True)
    total = 0
    for name, cols in tables.items():
        path = os.path.join(sf_dir, f"{name}.parquet")
        pq.write_table(pa.table(cols), path)
        total += os.path.getsize(path)
    return total
