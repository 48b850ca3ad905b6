"""Seeded input generation: TPC-H-shaped parquet tables and JSON documents.

Everything is a pure function of (seed, size): the same seed writes the
same bytes. Sizes follow TPC-H scaling (lineitem ~ 6M x sf rows); the
corpus tables (documents, embeddings, events) scale the same way as the
tables the engine's operator inventory reads.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_TYPES = ["ECONOMY", "STANDARD", "PROMO", "LARGE", "SMALL", "MEDIUM"]
PART_WORDS = ["small", "red", "large", "blue", "steel", "ring", "widget", "bolt", "green", "brass"]
EVENT_TYPES = ["click", "view", "purchase", "error", "login"]
VOCAB = (
    "a the key agg row scan slow fast table value part hash merge batch spark "
    "window sort line order data column join small query customer stream "
    "filter group big and of to in is"
).split()

# ES-style log documents and Mongo-style user documents
HOSTS = [f"web{i:02d}" for i in range(12)]
STATUSES = [200, 200, 200, 200, 201, 301, 404, 500]
COUNTRIES = ["de", "fr", "us", "br", "in", "jp"]
USER_SEGS = ["gold", "silver", "bronze"]

_EPOCH_1992 = np.datetime64("1992-01-01", "us")
_DAY_US = 86_400_000_000


def _write(out_dir: str, name: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))


def _strs(fmt: str, n: int) -> list[str]:
    return [fmt % i for i in range(n)]


def write_tpch(out_dir: str, sf: float, seed: int) -> dict[str, int]:
    """Write the ten tables (region nation customer supplier part orders
    lineitem events documents embeddings) under out_dir; return row counts."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    n_cust = max(100, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(100, int(200_000 * sf))
    n_ord = max(1000, int(1_500_000 * sf))
    n_evt = max(1000, int(1_000_000 * sf))
    n_doc = max(200, int(50_000 * sf))
    n_emb = max(500, int(20_000 * sf))

    _write(out_dir, "region", {
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": REGIONS,
    })
    _write(out_dir, "nation", {
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": _strs("NATION_%d", 25),
        "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5),
    })
    _write(out_dir, "customer", {
        "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
        "c_name": _strs("Customer#%09d", n_cust),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust, dtype=np.int32)),
        "c_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, n_cust), 2)),
        "c_mktsegment": pa.array(np.array(SEGMENTS)[rng.integers(0, 5, n_cust)]),
    })
    _write(out_dir, "supplier", {
        "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
        "s_name": _strs("Supplier#%09d", n_supp),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp, dtype=np.int32)),
        "s_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, n_supp), 2)),
    })
    w = np.array(PART_WORDS)
    retail = np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 2)
    _write(out_dir, "part", {
        "p_partkey": pa.array(np.arange(n_part, dtype=np.int64)),
        "p_name": pa.array(np.char.add(np.char.add(w[rng.integers(0, 10, n_part)], " "),
                                       w[rng.integers(0, 10, n_part)])),
        "p_brand": pa.array(np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str))),
        "p_type": pa.array(np.array(PART_TYPES)[rng.integers(0, 6, n_part)]),
        "p_size": pa.array(rng.integers(1, 51, n_part, dtype=np.int32)),
        "p_retailprice": pa.array(retail),
    })

    # orders, then 1-7 lines per order
    odate_days = rng.integers(0, 2405, n_ord)  # 1992-01-01 .. 1998-08-02
    lines_per = rng.integers(1, 8, n_ord)
    n_li = int(lines_per.sum())
    l_ord = np.repeat(np.arange(n_ord, dtype=np.int64), lines_per)
    starts = np.cumsum(lines_per) - lines_per
    l_num = (np.arange(n_li) - np.repeat(starts, lines_per) + 1).astype(np.int32)
    l_part = rng.integers(0, n_part, n_li)
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    ext = np.round(qty * retail[l_part], 2)
    disc = rng.integers(0, 11, n_li) / 100.0
    tax = rng.integers(0, 9, n_li) / 100.0
    ship_days = np.repeat(odate_days, lines_per) + rng.integers(1, 122, n_li)
    # 1995-06-17 is the TPC-H current date: shipped before it -> F, after -> O
    cutoff = (np.datetime64("1995-06-17") - np.datetime64("1992-01-01")).astype(int)
    shipped = ship_days <= cutoff
    rflag = np.where(shipped, np.where(rng.random(n_li) < 0.5, "R", "A"), "N")
    lstatus = np.where(shipped, "F", "O")
    totals = np.bincount(l_ord, weights=ext * (1 + tax) * (1 - disc), minlength=n_ord)
    f_lines = np.bincount(l_ord, weights=shipped.astype(np.float64), minlength=n_ord)
    ostatus = np.where(f_lines == lines_per, "F", np.where(f_lines == 0, "O", "P"))
    _write(out_dir, "orders", {
        "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord, dtype=np.int64)),
        "o_orderstatus": pa.array(ostatus),
        "o_totalprice": pa.array(np.round(totals, 2)),
        "o_orderdate": pa.array(_EPOCH_1992 + odate_days * _DAY_US),
        "o_orderpriority": pa.array(np.array(PRIORITIES)[rng.integers(0, 5, n_ord)]),
    })
    _write(out_dir, "lineitem", {
        "l_orderkey": pa.array(l_ord),
        "l_partkey": pa.array(l_part.astype(np.int64)),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li, dtype=np.int64)),
        "l_linenumber": pa.array(l_num),
        "l_quantity": pa.array(qty),
        "l_extendedprice": pa.array(ext),
        "l_discount": pa.array(disc),
        "l_tax": pa.array(tax),
        "l_returnflag": pa.array(rflag),
        "l_linestatus": pa.array(lstatus),
        "l_shipdate": pa.array(_EPOCH_1992 + ship_days * _DAY_US),
    })

    ev_ts = np.datetime64("2024-01-01", "us") + np.sort(rng.integers(0, 30 * _DAY_US, n_evt))
    _write(out_dir, "events", {
        "event_id": pa.array(np.arange(n_evt, dtype=np.int64)),
        "ts": pa.array(ev_ts),
        "user_id": pa.array(rng.integers(0, 100, n_evt, dtype=np.int64)),
        "event_type": pa.array(np.array(EVENT_TYPES)[rng.integers(0, 5, n_evt)]),
        "value": pa.array(np.round(rng.uniform(0, 100, n_evt), 2)),
        "props": [json.dumps({"k": int(k)}) for k in rng.integers(0, 100, n_evt)],
    })

    # documents: random token streams; every 10th doc is a near copy of an
    # earlier one so the dedup operators have pairs to find
    vocab = np.array(VOCAB)
    texts: list[str] = []
    for i in range(n_doc):
        if i % 10 == 9 and i > 10:
            toks = texts[int(rng.integers(0, i))].split()
            j = int(rng.integers(0, len(toks)))
            toks[j] = str(vocab[rng.integers(0, len(vocab))])
        else:
            toks = list(vocab[rng.integers(0, len(vocab), int(rng.integers(12, 80)))])
        texts.append(" ".join(toks))
    _write(out_dir, "documents", {
        "doc_id": pa.array(np.arange(n_doc, dtype=np.int64)),
        "text": texts,
        "lang": ["en"] * n_doc,
        "source": [f"src{i % 5}" for i in range(n_doc)],
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    })

    emb = rng.normal(0, 0.12, (n_emb, 64)).astype(np.float32)
    _write(out_dir, "embeddings", {
        "vec_id": pa.array(np.arange(n_emb, dtype=np.int64)),
        "embedding": pa.array(list(emb), type=pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 4, n_emb, dtype=np.int32)),
    })
    return {"lineitem": n_li, "orders": n_ord, "customer": n_cust,
            "documents": n_doc, "embeddings": n_emb, "events": n_evt}


def log_docs(n: int, seed: int) -> list[dict]:
    """ES-style access-log documents with a unique integer id."""
    rng = np.random.default_rng(seed)
    return [
        {
            "id": i,
            "host": HOSTS[int(rng.integers(0, len(HOSTS)))],
            "status": STATUSES[int(rng.integers(0, len(STATUSES)))],
            "bytes": int(rng.integers(100, 50_000)),
            "latency": round(float(rng.gamma(2.0, 40.0)), 3),
        }
        for i in range(n)
    ]


def user_docs(n: int, seed: int, n_cust: int) -> list[dict]:
    """Mongo-style user documents keyed by a string id; custkey joins to
    the customer table."""
    rng = np.random.default_rng(seed + 1)
    return [
        {
            "uid": f"u{i:05d}",
            "seg": USER_SEGS[int(rng.integers(0, 3))],
            "country": COUNTRIES[int(rng.integers(0, len(COUNTRIES)))],
            "score": int(rng.integers(0, 1000)),
            "custkey": int(rng.integers(0, n_cust)),
        }
        for i in range(n)
    ]


def write_accounts(out_dir: str, n: int, seed: int, n_cust: int) -> None:
    """The versioned table's initial snapshot: integer balances, so
    adjusting a balance and adjusting it back restores it exactly."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed + 2)
    _write(out_dir, "accounts", {
        "acct_id": pa.array(np.arange(n, dtype=np.int64)),
        "custkey": pa.array(rng.integers(0, n_cust, n, dtype=np.int64)),
        "balance": pa.array(rng.integers(0, 100_000, n, dtype=np.int64)),
        "status": pa.array(np.where(rng.random(n) < 0.9, "active", "closed")),
    })


def write_json(path: str, docs: list[dict]) -> str:
    with open(path, "w") as fh:
        json.dump(docs, fh)
    return f"file://{os.path.abspath(path)}"
