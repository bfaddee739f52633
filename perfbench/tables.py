"""Seeded generator for the catalog's star-schema tables.

Writes ``region nation customer supplier part orders lineitem events
documents embeddings`` as one parquet file each, with the column names and
value domains the catalog entries of ``plans.*_queries`` filter on (TPC-H-style keys, ``F/O/P`` order status, ``ECONOMY``/``SMALL``
part types, ``signup/click/purchase/error`` events with a ``{"k": int}``
JSON payload).  Timestamps are written without a time zone, so Spark reads
them as TIMESTAMP_NTZ and DuckDB as TIMESTAMP, like the catalog expects.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
NATIONS = [
    ("ALGERIA", 0), ("ARGENTINA", 1), ("BRAZIL", 1), ("CANADA", 1),
    ("EGYPT", 4), ("ETHIOPIA", 0), ("FRANCE", 3), ("GERMANY", 3),
    ("INDIA", 2), ("INDONESIA", 2), ("IRAN", 4), ("IRAQ", 4), ("JAPAN", 2),
    ("JORDAN", 4), ("KENYA", 0), ("MOROCCO", 0), ("MOZAMBIQUE", 0),
    ("PERU", 1), ("CHINA", 2), ("ROMANIA", 3), ("SAUDI ARABIA", 4),
    ("VIETNAM", 2), ("RUSSIA", 3), ("UNITED KINGDOM", 3),
    ("UNITED STATES", 1),
]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_TYPES = ["ECONOMY", "SMALL", "STANDARD", "MEDIUM", "LARGE", "PROMO"]
EVENT_TYPES = ["view", "click", "purchase", "signup", "error"]
TEXT_WORDS = np.array(
    "a agg batch big column customer data fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the value "
    "vector window".split())
LANGS = ["en", "zh", "es", "de", "fr"]
LANG_WEIGHTS = [0.41, 0.15, 0.15, 0.14, 0.15]

DAY_US = 86_400 * 1_000_000
EPOCH_1992 = np.datetime64("1992-01-01", "us").astype(np.int64)
EPOCH_2024 = np.datetime64("2024-01-01", "us").astype(np.int64)


def _money(rng: np.random.RandomState, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _ts(values_us: np.ndarray) -> pa.Array:
    return pa.array(values_us, type=pa.timestamp("us"))


def _write(out_dir: str, name: str, cols: dict) -> int:
    table = pa.table(cols)
    pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return table.num_rows


def generate(out_dir: str, seed: int, n_customers: int) -> dict[str, int]:
    """Write every table under ``out_dir``; returns table -> row count.

    Row counts scale from ``n_customers`` with the ratios of the catalog's
    test data (15,000 customers at sf0.1: 10 orders per customer, ~4
    lines per order, 20 events per 3 customers); the same seed gives
    byte-identical values."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.RandomState(seed)
    n_supp = max(10, n_customers // 15)
    n_part = max(20, n_customers * 4 // 3)
    n_orders = n_customers * 10
    n_users = max(10, n_customers // 10)
    n_events = n_customers * 20 // 3
    rows = {}
    rows["region"] = _write(out_dir, "region", {
        "r_regionkey": pa.array(range(5), pa.int64()),
        "r_name": REGIONS,
    })
    rows["nation"] = _write(out_dir, "nation", {
        "n_nationkey": pa.array(range(len(NATIONS)), pa.int64()),
        "n_name": [n for n, _ in NATIONS],
        "n_regionkey": pa.array([r for _, r in NATIONS], pa.int64()),
    })
    ck = np.arange(1, n_customers + 1)
    rows["customer"] = _write(out_dir, "customer", {
        "c_custkey": ck,
        "c_name": [f"Customer#{k:09d}" for k in ck],
        "c_nationkey": rng.randint(0, 25, n_customers).astype(np.int64),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_customers),
        "c_mktsegment": np.array(SEGMENTS)[rng.randint(0, 5, n_customers)],
    })
    sk = np.arange(1, n_supp + 1)
    rows["supplier"] = _write(out_dir, "supplier", {
        "s_suppkey": sk,
        "s_name": [f"Supplier#{k:09d}" for k in sk],
        "s_nationkey": rng.randint(0, 25, n_supp).astype(np.int64),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    })
    pk = np.arange(1, n_part + 1)
    rows["part"] = _write(out_dir, "part", {
        "p_partkey": pk,
        "p_name": [f"part {k} {c}" for k, c in zip(pk, rng.randint(0, 92, n_part))],
        "p_brand": [f"Brand#{a}{b}" for a, b in zip(rng.randint(1, 6, n_part),
                                                    rng.randint(1, 6, n_part))],
        "p_type": np.array(PART_TYPES)[rng.randint(0, len(PART_TYPES), n_part)],
        "p_size": rng.randint(1, 51, n_part).astype(np.int64),
    })
    # Orders: keys are sparse like TPC-H (every 4th block of 8 used),
    # customers with key % 3 == 0 never order (anti-join targets).
    ok = (np.arange(n_orders) // 8) * 32 + np.arange(n_orders) % 8 + 1
    buyers = ck[ck % 3 != 0]
    odate = EPOCH_1992 + rng.randint(0, 2405, n_orders).astype(np.int64) * DAY_US
    rows["orders"] = _write(out_dir, "orders", {
        "o_orderkey": ok.astype(np.int64),
        "o_custkey": buyers[rng.randint(0, len(buyers), n_orders)].astype(np.int64),
        "o_orderstatus": np.array(["F", "O", "P"])[
            rng.choice(3, n_orders, p=[0.49, 0.49, 0.02])],
        "o_totalprice": _money(rng, 850.0, 450000.0, n_orders),
        "o_orderdate": _ts(odate),
        "o_orderpriority": np.array(PRIORITIES)[rng.randint(0, 5, n_orders)],
    })
    lines_per = rng.randint(1, 8, n_orders)
    l_order_idx = np.repeat(np.arange(n_orders), lines_per)
    n_lines = len(l_order_idx)
    qty = rng.randint(1, 51, n_lines).astype(np.float64)
    ship = odate[l_order_idx] + rng.randint(1, 122, n_lines).astype(np.int64) * DAY_US
    cutoff = np.datetime64("1995-06-17", "us").astype(np.int64)
    rows["lineitem"] = _write(out_dir, "lineitem", {
        "l_orderkey": ok[l_order_idx].astype(np.int64),
        "l_partkey": rng.randint(1, n_part + 1, n_lines).astype(np.int64),
        "l_suppkey": rng.randint(1, n_supp + 1, n_lines).astype(np.int64),
        "l_linenumber": np.concatenate([np.arange(1, n + 1) for n in lines_per]),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, n_lines), 2),
        "l_discount": np.round(rng.randint(0, 11, n_lines) / 100.0, 2),
        "l_tax": np.round(rng.randint(0, 9, n_lines) / 100.0, 2),
        "l_returnflag": np.where(
            ship <= cutoff, np.array(["R", "A"])[rng.randint(0, 2, n_lines)], "N"),
        "l_linestatus": np.where(ship > cutoff, "O", "F"),
        "l_shipdate": _ts(ship),
    })
    # Events as in the catalog's test data: 30 days at microsecond
    # resolution, one user per 10 customers, five equally likely types.
    ets = np.sort(EPOCH_2024 + rng.randint(0, 30 * DAY_US, n_events).astype(np.int64))
    rows["events"] = _write(out_dir, "events", {
        "event_id": np.arange(n_events, dtype=np.int64),
        "ts": _ts(ets),
        "user_id": rng.randint(1, n_users + 1, n_events).astype(np.int64),
        "event_type": np.array(EVENT_TYPES)[rng.randint(0, len(EVENT_TYPES), n_events)],
        "value": np.maximum(0.01, np.round(rng.exponential(50.0, n_events), 2)),
        "props": [json.dumps({"k": int(k)}) for k in rng.randint(0, 100, n_events)],
    })
    rows.update(_text_tables(out_dir, rng, n_customers))
    return rows


def _text_tables(out_dir: str, rng: np.random.RandomState, n_customers: int) -> dict:
    """The corpus the ``plans.text_queries`` entries read, shaped like the
    catalog's own test data: ``documents`` (one per 3 customers) of 10-100
    words from a 30-word vocabulary in five languages, 5% of them a copy
    of another document plus the token ``dup`` and one exact copy per 600;
    ``embeddings`` (2 per 15 customers), unit 64-d vectors in 10 labels."""
    n_docs = max(60, n_customers // 3)
    n_vecs = max(40, n_customers * 2 // 15)
    lengths = rng.randint(10, 101, n_docs)
    texts = [" ".join(TEXT_WORDS[rng.randint(0, len(TEXT_WORDS), n)]) for n in lengths]
    ids = rng.permutation(n_docs)
    n_near, n_exact = n_docs // 20, max(1, n_docs // 600)
    copies, bases = ids[:n_near + n_exact], ids[n_near + n_exact:]
    for j, doc in enumerate(copies):
        base = texts[bases[rng.randint(0, len(bases))]]
        texts[doc] = base + " dup" if j < n_near else base
    doc_ids = np.arange(n_docs, dtype=np.int64)
    rows = {"documents": _write(out_dir, "documents", {
        "doc_id": doc_ids,
        "text": texts,
        "lang": np.array(LANGS)[rng.choice(len(LANGS), n_docs, p=LANG_WEIGHTS)],
        "source": [f"src{k % 20}" for k in doc_ids],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })}
    vecs = rng.normal(size=(n_vecs, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    rows["embeddings"] = _write(out_dir, "embeddings", {
        "vec_id": np.arange(n_vecs, dtype=np.int64),
        "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
        "label": rng.randint(0, 10, n_vecs).astype(np.int32),
    })
    return rows
