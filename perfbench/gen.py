"""Seeded input generators for the benchmark.

Everything the engine reads during a run is made here from ``--seed``:

- ``write_catalog_tables``: the ten catalog tables the query registry reads
  (region nation customer supplier part orders lineitem events documents
  embeddings), with the shapes and value domains the catalog expects, at a
  scale factor ``sf`` (sf0.01 = 60k lineitem rows).
- ``write_scaled_tables``: ``factor`` independent shards of a catalog
  directory, built with ``tools/bench_scale.py``'s replica scheme.
- ``medallion_inputs``: Airbyte-shaped raw tables, K change batches and
  nested shipment JSON for the write-path workload.

The same seed gives byte-identical files; the engine never sees the seed.
"""

from __future__ import annotations

import datetime as dt
import io
import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

CATALOG_TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()

_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_ADJ = ["red", "blue", "green", "small", "large", "steel", "brass", "matte"]
_NOUN = ["bolt", "widget", "ring", "gear", "valve", "panel", "spring", "clip"]
_EVENTS = ["click", "error", "purchase", "signup", "view"]
_WORDS = (
    "a agg batch big column customer data fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the "
    "value vector window"
).split()
_LANGS = ["en", "de", "es", "fr", "zh"]
_LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
_EPOCH = np.datetime64("1970-01-01T00:00:00", "us")


def _us(day: str) -> int:
    return int((np.datetime64(day, "us") - _EPOCH).astype(np.int64))


def _ts(micros: np.ndarray) -> pa.Array:
    return pa.array(micros.astype(np.int64), type=pa.timestamp("us"))


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _write(out_dir: str, name: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))


def catalog_rows(sf: float) -> dict[str, int]:
    """Row counts per table at scale factor ``sf``."""
    return {
        "region": 5,
        "nation": 25,
        "customer": int(150_000 * sf),
        "supplier": max(10, int(1_000 * sf)),
        "part": int(200_000 * sf),
        "orders": int(1_500_000 * sf),
        "lineitem": int(6_000_000 * sf),
        "events": int(1_000_000 * sf),
        "documents": max(500, int(50_000 * sf)),
        "embeddings": max(500, int(20_000 * sf)),
    }


def _documents(rng, n: int) -> dict:
    words = np.array(_WORDS)
    texts: list[str] = []
    for i in range(n):
        # ~5% of documents repeat an earlier one with a "dup" suffix, so the
        # near-duplicate operators always have work to find.
        if i > 10 and rng.random() < 0.05:
            base = texts[int(rng.integers(0, i))]
            texts.append(base + " dup" * int(rng.integers(1, 3)))
        else:
            texts.append(" ".join(words[rng.integers(0, len(words), int(rng.integers(10, 100)))]))
    return {
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(rng.choice(_LANGS, n, p=_LANG_P)),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    }


def _embeddings(rng, n: int, dim: int = 64) -> dict:
    labels = rng.integers(0, 10, n).astype(np.int32)
    centers = rng.normal(size=(10, dim))
    centers *= 0.14 / np.linalg.norm(centers, axis=1, keepdims=True)
    vecs = centers[labels] + rng.normal(scale=0.125, size=(n, dim))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    return {
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
        "label": pa.array(labels),
    }


def write_catalog_tables(out_dir: str, sf: float, seed: int) -> dict[str, int]:
    """Write the ten catalog tables to ``out_dir``; returns their row counts."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    rows = catalog_rows(sf)
    _write(out_dir, "region", {
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": pa.array(["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]),
    })
    _write(out_dir, "nation", {
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5),
    })
    n = rows["customer"]
    _write(out_dir, "customer", {
        "c_custkey": pa.array(np.arange(n, dtype=np.int64)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n).astype(np.int32)),
        "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n)),
        "c_mktsegment": pa.array(rng.choice(_SEGMENTS, n)),
    })
    n = rows["supplier"]
    _write(out_dir, "supplier", {
        "s_suppkey": pa.array(np.arange(n, dtype=np.int64)),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n)]),
        "s_nationkey": pa.array(rng.integers(0, 25, n).astype(np.int32)),
        "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n)),
    })
    n = rows["part"]
    names = [f"{a} {b}" for a in _ADJ for b in _NOUN]
    _write(out_dir, "part", {
        "p_partkey": pa.array(np.arange(n, dtype=np.int64)),
        "p_name": pa.array(rng.choice(names, n)),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n)]),
        "p_type": pa.array(rng.choice(_PTYPES, n)),
        "p_size": pa.array(rng.integers(1, 51, n).astype(np.int32)),
        "p_retailprice": pa.array(np.round(900 + (np.arange(n) % 1000) * 0.1, 1)),
    })
    n = rows["orders"]
    day0, days = _us("1995-01-01"), 2404  # through 2001-08-01
    _write(out_dir, "orders", {
        "o_orderkey": pa.array(np.arange(n, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, rows["customer"], n).astype(np.int64)),
        "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], n)),
        "o_totalprice": pa.array(_money(rng, 1000, 500000, n)),
        "o_orderdate": _ts(day0 + rng.integers(0, days + 1, n) * 86_400_000_000),
        "o_orderpriority": pa.array(rng.choice(_PRIORITIES, n)),
    })
    n = rows["lineitem"]
    qty = rng.integers(1, 51, n).astype(np.float64)
    _write(out_dir, "lineitem", {
        "l_orderkey": pa.array(rng.integers(0, rows["orders"], n).astype(np.int64)),
        "l_partkey": pa.array(rng.integers(0, rows["part"], n).astype(np.int64)),
        "l_suppkey": pa.array(rng.integers(0, rows["supplier"], n).astype(np.int64)),
        "l_linenumber": pa.array(rng.integers(1, 8, n).astype(np.int32)),
        "l_quantity": pa.array(qty),
        "l_extendedprice": pa.array(np.round(qty * rng.uniform(18, 2100, n), 2)),
        "l_discount": pa.array(rng.integers(0, 11, n) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n) / 100.0),
        "l_returnflag": pa.array(rng.choice(["A", "N", "R"], n)),
        "l_linestatus": pa.array(rng.choice(["F", "O"], n)),
        "l_shipdate": _ts(day0 + rng.integers(1, days + 95, n) * 86_400_000_000),
    })
    n = rows["events"]
    ts = np.sort(rng.integers(0, 30 * 86_400_000_000, n)) + _us("2024-01-01")
    _write(out_dir, "events", {
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "ts": _ts(ts),
        "user_id": pa.array(rng.integers(0, max(15, int(15_000 * sf)), n).astype(np.int64)),
        "event_type": pa.array(rng.choice(_EVENTS, n)),
        "value": pa.array(np.maximum(0.01, np.round(rng.exponential(50.0, n), 2))),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
    })
    _write(out_dir, "documents", _documents(rng, rows["documents"]))
    _write(out_dir, "embeddings", _embeddings(rng, rows["embeddings"]))
    return rows


def write_scaled_tables(base_dir: str, out_dir: str, factor: int, spark) -> None:
    """``factor`` independent shards of ``base_dir``'s catalog tables.

    The replicated tables (documents, embeddings, orders) go through
    ``tools/bench_scale.py``'s per-replica key offset and affine character
    map, so shards share no keys and no 3+-distinct-letter tokens; the rest
    are copied unchanged."""
    from tools.bench_scale import TABLES, _replica

    os.makedirs(out_dir, exist_ok=True)
    for t in CATALOG_TABLES:
        src = os.path.join(base_dir, f"{t}.parquet")
        dst = os.path.join(out_dir, f"{t}.parquet")
        if t not in TABLES:
            shutil.copyfile(src, dst)
            continue
        df = spark.read.parquet(src)
        out = df
        for k in range(1, factor):
            out = out.unionByName(_replica(df, t, k))
        out.coalesce(4).write.mode("overwrite").parquet(dst)


# ---------------------------------------------------------------------------
# medallion_refresh: Airbyte-shaped raw tables, change batches, shipments
# ---------------------------------------------------------------------------

#: key column and validity rule (mirrors models/silver.py) per raw table
MEDALLION_KEYS = {
    "customers": "CUSTOMER_ID",
    "orders": "ORDER_ID",
    "inventory": "ID",
    "products": "PRODUCT_ID",
}
_CITIES = ["Mumbai", "Delhi", "Bangalore", "Chennai", "Pune", "Kolkata", "Jaipur"]
_PAY = ["UPI", "Card", "COD", "NetBanking"]
_CARRIERS = ["Delhivery", "BlueDart", "Ekart", "XpressBees", "Shadowfax"]
_BATCH0 = dt.datetime(2024, 3, 1)


def _extracted(batch: int, n: int) -> list[dt.datetime]:
    # one distinct extraction instant per row: batches never overlap in
    # time, so the runner's high-watermark filter takes exactly one batch
    base = _BATCH0 + dt.timedelta(days=batch)
    return [base + dt.timedelta(microseconds=i) for i in range(n)]


def _raw_rows(rng, table: str, ids: np.ndarray, batch: int, dims: dict) -> pa.Table:
    n = len(ids)
    ext = pa.array(_extracted(batch, n), type=pa.timestamp("us"))
    if table == "customers":
        email = [f"user{i}.{batch}@mail.test" for i in ids]
        # some rows fail the silver validity rules (Missing EMAIL)
        bad = rng.random(n) < 0.03 if batch else np.zeros(n, bool)
        return pa.table({
            "CUSTOMER_ID": pa.array(ids.astype(np.int64)),
            "NAME": pa.array([f"Customer {i}" for i in ids]),
            "EMAIL": pa.array([None if b else e for b, e in zip(bad, email)], pa.string()),
            "CITY": pa.array(rng.choice(_CITIES, n)),
            "_AIRBYTE_EXTRACTED_AT": ext,
        })
    if table == "orders":
        bad = rng.random(n) < 0.03 if batch else np.zeros(n, bool)
        day = pa.array(
            [_BATCH0 - dt.timedelta(days=int(d)) for d in rng.integers(0, 60, n)],
            type=pa.timestamp("us"),
        )
        cust = rng.integers(0, dims["customers"], n).astype(np.int64)
        return pa.table({
            "ORDER_ID": pa.array(ids.astype(np.int64)),
            "ORDER_DATE": day,
            "CUSTOMER_ID": pa.array([None if b else int(c) for b, c in zip(bad, cust)], pa.int64()),
            "PRODUCT_ID": pa.array(rng.integers(0, dims["products"], n).astype(np.int64)),
            "TOTAL_AMOUNT": pa.array(_money(rng, 50, 5000, n)),
            "PAYMENT_METHOD": pa.array(rng.choice(_PAY, n)),
            "_AIRBYTE_EXTRACTED_AT": ext,
        })
    if table == "inventory":
        # STOCK outside (20, 5000] fails validity
        stock = rng.integers(21, 5001, n)
        if batch:
            stock = np.where(rng.random(n) < 0.03, rng.integers(0, 21, n), stock)
        return pa.table({
            "ID": pa.array(ids.astype(np.int64)),
            "PRODUCT_ID": pa.array((ids % dims["products"]).astype(np.int64)),
            "SELLER_ID": pa.array(rng.integers(0, dims["sellers"], n).astype(np.int64)),
            "STOCK": pa.array(stock.astype(np.int64)),
            "LAST_UPDATED": ext,
            "_AIRBYTE_EXTRACTED_AT": ext,
        })
    if table == "products":
        return pa.table({
            "PRODUCT_ID": pa.array(ids.astype(np.int64)),
            "PRODUCT_NAME": pa.array([f"{_ADJ[i % 8]} {_NOUN[(i // 8) % 8]} {i}" for i in ids]),
            "CATEGORY": pa.array(rng.choice(_PTYPES, n)),
            "_AIRBYTE_EXTRACTED_AT": ext,
        })
    raise ValueError(table)


def _shipments(rng, ids: np.ndarray, batch: int, dims: dict) -> list[dict]:
    out = []
    base = _BATCH0 + dt.timedelta(days=batch)
    for seq, sid in enumerate(ids):
        created = base - dt.timedelta(hours=int(rng.integers(1, 200)))
        tat = int(rng.integers(1, 9))
        delivered = created + dt.timedelta(days=tat)
        fmt = "%Y-%m-%d %H:%M:%S"
        courier = int(rng.integers(0, len(_CARRIERS)))
        out.append({
            "shipment_id": f"S{sid}",
            "seq": batch * 1_000_000 + seq,
            "carrier": {"carrier_id": f"C{100 + courier}",
                        "carrier_name": _CARRIERS[courier % len(_CARRIERS)]},
            "route": {"destination": {"pincode": f"{400001 + int(rng.integers(0, 50))}"}},
            "order_reference": {"order_id": int(rng.integers(0, dims["orders"])),
                                "seller_id": int(rng.integers(0, dims["sellers"]))},
            "charges": {
                "shipping_cost": float(np.round(rng.uniform(20, 400), 2)),
                "fuel_surcharge": float(np.round(rng.uniform(0, 40), 2)),
                "insurance": float(np.round(rng.uniform(0, 10), 2)),
                "cod_fee": float(rng.choice([0.0, 5.0, 10.0])),
            },
            "shipment_details": {
                "status": "Delivered",
                "rto_flag": bool(rng.random() < 0.1),
                "delay_flag": bool(tat > 5),
                "delivery_tat_days": tat,
                "created_at": created.strftime(fmt),
                "updated_at": (base + dt.timedelta(seconds=seq)).strftime(fmt),
                "delivered_at": delivered.strftime(fmt),
            },
        })
    return out


def medallion_dims(rows: int) -> dict[str, int]:
    """Bootstrap row count of each raw table (``rows`` = orders)."""
    return {
        "customers": rows // 4,
        "orders": rows,
        "inventory": rows // 2,
        "products": rows // 10,
        "sellers": max(10, rows // 100),
        "shipments": rows // 2,
    }


def medallion_inputs(seed: int, rows: int, batches: int, change_frac: float = 0.01):
    """Bootstrap tables plus ``batches`` change batches.

    Returns ``(bootstrap, changes)``: ``bootstrap`` maps each raw table name
    (and ``shipments``) to its initial rows; ``changes`` is a list of the
    same maps, one per batch. Each batch updates or inserts about
    ``change_frac`` of every table's keys, repeats some keys within the
    batch, and includes rows that fail the silver validity rules. Raw
    tables are ``pyarrow.Table``; shipments are JSON-ready dicts."""
    rng = np.random.default_rng(seed)
    dims = medallion_dims(rows)
    boot = {t: _raw_rows(rng, t, np.arange(dims[t]), 0, dims) for t in MEDALLION_KEYS}
    boot["shipments"] = _shipments(rng, np.arange(dims["shipments"]), 0, dims)
    changes = []
    next_id = dict(dims)
    for b in range(1, batches + 1):
        batch = {}
        for t in list(MEDALLION_KEYS) + ["shipments"]:
            n = max(2, int(dims[t] * change_frac))
            upd = rng.integers(0, next_id[t], n - n // 4)
            new = np.arange(next_id[t], next_id[t] + n // 4)
            next_id[t] += len(new)
            ids = np.concatenate([upd, new, upd[: max(1, n // 20)]])  # repeats
            if t == "shipments":
                batch[t] = _shipments(rng, ids, b, dims)
            else:
                batch[t] = _raw_rows(rng, t, ids, b, dims)
        changes.append(batch)
    return boot, changes


def table_bytes(table: pa.Table) -> bytes:
    """Parquet bytes of ``table`` (what the workload lands as raw input)."""
    buf = io.BytesIO()
    pq.write_table(table, buf)
    return buf.getvalue()


def shipments_json(rows: list[dict]) -> bytes:
    return "".join(json.dumps(r, sort_keys=True) + "\n" for r in rows).encode()
