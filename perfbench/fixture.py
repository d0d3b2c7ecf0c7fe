"""Seeded registry fixture: the ten tables every registry query reads, with
the schemas, value domains and sf0.001 row counts of the fixtures that
FIXTURES.md describes (documents 500, embeddings 500, events 1,000, lineitem
6,000, orders 1,500, customer 150, part 200, supplier 10, nation 25,
region 5)."""
from datetime import datetime, timedelta
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DOC_WORDS = ("a agg batch big column customer data dup fast filter group hash join "
             "key line merge order part query row scan slow small sort spark "
             "stream table the value vector window").split()
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.39, 0.14, 0.16, 0.16, 0.15]
EVENT_TYPES = ["click", "view", "signup", "purchase", "error"]
SEGMENTS = ["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_ADJ = ["cold", "large", "old", "new", "hot", "small", "red", "blue"]
PART_NOUN = ["widget", "bolt", "anvil", "ring", "plate", "gear", "rod", "gizmo"]
PART_TYPES = ["ECONOMY", "LARGE", "STANDARD", "PROMO", "MEDIUM", "SMALL"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng, start, span_days, n):
    base = datetime(*start)
    return [base + timedelta(days=int(d)) for d in rng.integers(0, span_days, n)]


def tables(seed: int) -> dict:
    rng = np.random.default_rng(seed)
    t = {}
    n = 500
    lens = rng.integers(10, 100, n)
    words = np.array(DOC_WORDS)
    text = [" ".join(words[rng.integers(0, len(words), k)]) for k in lens]
    t["documents"] = pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": text,
        "lang": rng.choice(LANGS, n, p=LANG_P).tolist(),
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": pa.array([len(s) for s in text], pa.int64()),
    })
    centers = rng.normal(0, 1, (10, 64))
    label = rng.integers(0, 10, n)
    emb = centers[label] + rng.normal(0, 0.8, (n, 64))
    emb = (emb / np.linalg.norm(emb, axis=1, keepdims=True)).astype(np.float32)
    t["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.array(emb.tolist(), pa.list_(pa.float32())),
        "label": pa.array(label, pa.int32()),
    })
    ne = 1000
    secs = np.sort(rng.uniform(0, 30 * 86400, ne))
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(ne), pa.int64()),
        "ts": pa.array([datetime(2024, 1, 1) + timedelta(microseconds=int(s * 1e6)) for s in secs],
                       pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, 15, ne), pa.int64()),
        "event_type": rng.choice(EVENT_TYPES, ne).tolist(),
        "value": _money(rng, 0.01, 330, ne),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)],
    })
    nl, no, nc, npart, ns = 6000, 1500, 150, 200, 10
    qty = rng.integers(1, 51, nl).astype(float)
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, no, nl), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, npart, nl), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, ns, nl), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, nl), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900, 2100, nl), 2),
        "l_discount": np.round(rng.integers(0, 11, nl) / 100, 2),
        "l_tax": np.round(rng.integers(0, 9, nl) / 100, 2),
        "l_returnflag": rng.choice(["A", "N", "R"], nl).tolist(),
        "l_linestatus": rng.choice(["O", "F"], nl).tolist(),
        "l_shipdate": pa.array(_days(rng, (1995, 1, 2), 2498, nl), pa.timestamp("us")),
    })
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(no), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, nc, no), pa.int64()),
        "o_orderstatus": rng.choice(["F", "O", "P"], no).tolist(),
        "o_totalprice": _money(rng, 1000, 500000, no),
        "o_orderdate": pa.array(_days(rng, (1995, 1, 1), 2404, no), pa.timestamp("us")),
        "o_orderpriority": rng.choice(PRIORITIES, no).tolist(),
    })
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(nc), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": pa.array(rng.integers(0, 25, nc), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, nc),
        "c_mktsegment": rng.choice(SEGMENTS, nc).tolist(),
    })
    t["part"] = pa.table({
        "p_partkey": pa.array(np.arange(npart), pa.int64()),
        "p_name": [f"{rng.choice(PART_ADJ)} {rng.choice(PART_NOUN)}" for _ in range(npart)],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, npart)],
        "p_type": rng.choice(PART_TYPES, npart).tolist(),
        "p_size": pa.array(rng.integers(1, 51, npart), pa.int32()),
        "p_retailprice": np.round(900 + np.arange(npart) * 0.1, 2),
    })
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(ns), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
        "s_nationkey": pa.array(rng.integers(0, 25, ns), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, ns),
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(np.arange(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25) % 5, pa.int32()),
    })
    t["region"] = pa.table({
        "r_regionkey": pa.array(np.arange(5), pa.int32()),
        "r_name": REGIONS,
    })
    return t


def write(seed: int, out: Path) -> None:
    out.mkdir(parents=True, exist_ok=True)
    for name, table in tables(seed).items():
        pq.write_table(table, out / f"{name}.parquet")
