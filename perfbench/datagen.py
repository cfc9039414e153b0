"""Seeded inputs for the benchmark workloads.

Two generators, both pure functions of their seed:

* :func:`write_tables` writes the TPC-H-style star schema plus the
  ``events``, ``documents`` and ``embeddings`` tables the registry
  queries read, in the column names, types and value domains of the
  engine's synthetic test tables (TESTDATA.md). Row counts follow the
  sf0.01 tables, scaled by ``scale``.
* :func:`warehouse_window` builds one ingest window of Square, Shopify
  and QuickBooks API payloads in the FIXTURES.md §1 shapes, and
  :func:`ref_csvs` the ``items`` / ``coffee_profiles`` CSVs that map
  every generated product key to an active roast profile.
"""

from __future__ import annotations

import datetime as dt
import os
import random

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")

# Rows per table at scale 1.0 (the sf0.01 test tables).
BASE_ROWS = {"customer": 1500, "supplier": 100, "part": 2000,
             "orders": 15000, "lineitem": 60000, "events": 10000,
             "documents": 500, "embeddings": 500}

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
ADJECTIVES = ["blue", "old", "small", "new", "hot", "large", "cold", "red"]
NOUNS = ["widget", "gizmo", "ring", "gear", "bolt", "plate", "anvil", "rod"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
WORDS = ("join hash row batch scan column customer filter small slow merge "
         "order vector line table data agg value key stream window a spark "
         "part group big sort query fast the").split()
EMBED_DIM = 64


def _days(rng: np.random.Generator, start: str, span: int, n: int) -> np.ndarray:
    return (np.datetime64(start, "us")
            + rng.integers(0, span + 1, n).astype("timedelta64[D]"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def make_tables(seed: int, scale: float = 1.0) -> dict[str, pa.Table]:
    """All ten tables as Arrow tables; the same seed gives equal tables."""
    rng = np.random.default_rng(seed)
    n = {k: max(1, int(v * scale)) for k, v in BASE_ROWS.items()}
    i32, i64 = pa.int32(), pa.int64()
    out: dict[str, pa.Table] = {}

    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), i32),
        "r_name": REGIONS,
    })
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), i32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], i32),
    })
    k = np.arange(n["customer"])
    out["customer"] = pa.table({
        "c_custkey": pa.array(k, i64),
        "c_name": [f"Customer#{i:09d}" for i in k],
        "c_nationkey": pa.array(rng.integers(0, 25, k.size), i32),
        "c_acctbal": _money(rng, -999.99, 9999.99, k.size),
        "c_mktsegment": rng.choice(SEGMENTS, k.size),
    })
    k = np.arange(n["supplier"])
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(k, i64),
        "s_name": [f"Supplier#{i:09d}" for i in k],
        "s_nationkey": pa.array(rng.integers(0, 25, k.size), i32),
        "s_acctbal": _money(rng, -999.99, 9999.99, k.size),
    })
    k = np.arange(n["part"])
    out["part"] = pa.table({
        "p_partkey": pa.array(k, i64),
        "p_name": [f"{a} {b}" for a, b in zip(rng.choice(ADJECTIVES, k.size),
                                              rng.choice(NOUNS, k.size))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, k.size)],
        "p_type": rng.choice(PART_TYPES, k.size),
        "p_size": pa.array(rng.integers(1, 51, k.size), i32),
        "p_retailprice": np.round(900 + (k % 1000) / 10, 1),
    })
    k = np.arange(n["orders"])
    out["orders"] = pa.table({
        "o_orderkey": pa.array(k, i64),
        "o_custkey": pa.array(rng.integers(0, n["customer"], k.size), i64),
        "o_orderstatus": rng.choice(["F", "O", "P"], k.size),
        "o_totalprice": _money(rng, 1000, 500000, k.size),
        "o_orderdate": _days(rng, "1995-01-01", 2404, k.size),
        "o_orderpriority": rng.choice(PRIORITIES, k.size),
    })
    m = n["lineitem"]
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n["orders"], m), i64),
        "l_partkey": pa.array(rng.integers(0, n["part"], m), i64),
        "l_suppkey": pa.array(rng.integers(0, n["supplier"], m), i64),
        "l_linenumber": pa.array(rng.integers(1, 8, m), i32),
        "l_quantity": rng.integers(1, 51, m).astype(float),
        "l_extendedprice": _money(rng, 900, 105000, m),
        "l_discount": rng.integers(0, 11, m) / 100,
        "l_tax": rng.integers(0, 9, m) / 100,
        "l_returnflag": rng.choice(["A", "N", "R"], m),
        "l_linestatus": rng.choice(["F", "O"], m),
        "l_shipdate": _days(rng, "1995-01-02", 2498, m),
    })
    m = n["events"]
    gaps = rng.exponential(1.0, m)
    offs = (np.cumsum(gaps) / gaps.sum() * 30 * 86400e6 * 0.999).astype("int64")
    out["events"] = pa.table({
        "event_id": pa.array(np.arange(m), i64),
        "ts": np.datetime64("2024-01-01", "us") + offs.astype("timedelta64[us]"),
        "user_id": pa.array(rng.integers(0, max(1, m * 3 // 200), m), i64),
        "event_type": rng.choice(EVENT_TYPES, m),
        "value": np.maximum(np.round(rng.exponential(50.0, m), 2), 0.01),
        "props": [f'{{"k": {v}}}' for v in rng.integers(0, 100, m)],
    })
    m = n["documents"]
    texts: list[str] = []
    for i in range(m):
        if i > 0 and rng.random() < 0.05:  # near-duplicate of an earlier doc
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(rng.choice(WORDS, int(rng.integers(10, 100)))))
    out["documents"] = pa.table({
        "doc_id": pa.array(np.arange(m), i64),
        "text": texts,
        "lang": rng.choice(LANGS, m, p=LANG_P),
        "source": [f"src{i % 20}" for i in range(m)],
        "n_chars": pa.array([len(t) for t in texts], i64),
    })
    m = n["embeddings"]
    labels = rng.integers(0, 10, m)
    centers = rng.normal(0, 1, (10, EMBED_DIM))
    vecs = 0.15 * centers[labels] + rng.normal(0, 1, (m, EMBED_DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    out["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(m), i64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, i32),
    })
    return out


def write_tables(out_dir: str, seed: int) -> None:
    """Write ``<table>.parquet`` for every table into ``out_dir``."""
    os.makedirs(out_dir, exist_ok=True)
    for name, table in make_tables(seed).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))


# ------------------------------------------------------ warehouse ingest

N_VARIANTS = 24
N_PROFILES = 6
_EPOCH = dt.datetime(2018, 1, 1)
_SPAN_S = 6 * 365 * 86400  # created_at spreads over six years


def square_id(v: int) -> str:
    return f"sq_{v}"


def shopify_variant(v: int) -> int:
    return 100 + v


def qb_item(v: int) -> str:
    return f"qb_{v}"


def ref_csvs() -> tuple[str, str]:
    """``(items_csv, profiles_csv)``: every generated variant maps to one
    of ``N_PROFILES`` active profiles."""
    items = ["product_name,variant_name,zolo_id,square_id,quickbooks_id,"
             "shopify_id,category_name,form,weight,profile_id"]
    for v in range(1, N_VARIANTS + 1):
        items.append(f"Coffee{v},12oz,{v},{square_id(v)},{qb_item(v)},"
                     f"{shopify_variant(v)},coffee,whole,"
                     f"{0.75 if v % 3 else 5.0},{1 + v % N_PROFILES}")
    profiles = ["profile_id,profile_name,roast_level,active,single_origin,"
                "c1_origin,c1_process,c1_percent,c2_origin,c2_process,"
                "c2_percent,c3_procss,c3_origin,c3_percent"]
    for p in range(1, N_PROFILES + 1):
        profiles.append(f"{p},Profile {p},medium,1,1,Origin{p},washed,1.0,,,,,,")
    return "\n".join(items) + "\n", "\n".join(profiles) + "\n"


def _ts(rng: random.Random) -> dt.datetime:
    return _EPOCH + dt.timedelta(seconds=rng.randrange(_SPAN_S))


def warehouse_window(seed: int, window: int, n_square: int,
                     n_shopify: int, n_qb: int) -> dict[str, list[dict]]:
    """One ingest window of API payloads. Keys embed ``window``, so no
    key repeats across windows; the same arguments give equal payloads."""
    rng = random.Random(seed * 1_000_003 + window)
    square = []
    for i in range(n_square):
        items = []
        for _ in range(rng.randint(1, 5)):
            mods = None if rng.random() < 0.3 else [
                {"name": rng.choice(["oat", "extra shot", "decaf"])}
                for _ in range(rng.randint(1, 2))]
            items.append({
                "quantity": float(rng.randint(1, 4)),
                "item_variation_name": f"var_{rng.randint(1, 9)}",
                "item_detail": {"item_variation_id":
                                square_id(rng.randint(1, N_VARIANTS))},
                "total_money": {"amount": rng.randrange(100, 5000)},
                "modifiers": mods,
            })
        tender = None if rng.random() < 0.2 else [{
            "tendered_money": {"amount": rng.randrange(500, 10000)},
            "change_back_money": {"amount": rng.randrange(0, 500)},
        }]
        square.append({
            "payment_id": f"pay_{window:04d}_{i:06d}",
            "created_at": _ts(rng).isoformat() + "Z",
            "device": {"name": rng.choice(["reg_1", "reg_2"])},
            "itemizations": items,
            "tender": tender,
        })
    shopify = []
    for i in range(n_shopify):
        shopify.append({
            "id": 10_000_000 + window * 100_000 + i,
            "created_at": _ts(rng).isoformat() + "Z",
            "line_items": [
                {"quantity": str(rng.randint(1, 5)),
                 "variant_id": shopify_variant(rng.randint(1, N_VARIANTS)),
                 "price": f"{rng.randrange(500, 3000) / 100:.2f}"}
                for _ in range(rng.randint(1, 4))],
            "shipping_lines": [] if rng.random() < 0.25
            else [{"price": f"{rng.randrange(300, 900) / 100:.2f}"}],
        })
    qb = []
    for i in range(n_qb):
        lines = []
        for j in range(rng.randint(1, 3)):
            detail = {"ItemRef": {"value": qb_item(rng.randint(1, N_VARIANTS))},
                      "Qty": float(rng.randint(1, 6)),
                      "UnitPrice": rng.randrange(400, 2500) / 100}
            if rng.random() < 0.2:  # absent SalesItemLineDetail members
                detail["Qty"] = detail["UnitPrice"] = None
            lines.append({"Id": str(j + 1), "SalesItemLineDetail": detail})
        lines.append({"Id": None, "SalesItemLineDetail": None})  # subtotal
        qb.append({
            "DocNumber": f"inv_{window:04d}_{i:06d}",
            "TxnDate": _ts(rng).date().isoformat(),
            "CustomerRef": {"value": f"cust_{rng.randint(1, 50)}"},
            "Line": lines,
        })
    return {"square": square, "shopify": shopify, "qb": qb}
