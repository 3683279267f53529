"""Seeded synthetic tables with the engine's ten fixture schemas.

The benchmark never reads data from outside its checkout, so it writes
its own inputs: the same TPC-H-ish star schema plus the ``events``,
``documents`` and ``embeddings`` tables that ``correlationapi_spark.io``
pins. Row counts follow the fixture's scale-factor ladder (lineitem is
6,000,000 x sf rows; documents and embeddings floor at 500 rows), value
domains follow the fixture (FIXTURES.md), and every value is a function
of ``(seed, sf)`` alone: the same arguments write byte-identical
parquet.

``row_groups`` splits each large table into that many parquet row
groups, so a scan can run as that many tasks; 1 keeps each table in a
single row group like the shipped fixture.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

_REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
_SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
_PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
_PART_ADJ = ("small", "large", "red", "blue", "green", "cold", "hot", "old")
_PART_NOUN = ("widget", "bolt", "ring", "gear", "valve", "pipe", "nut", "cap")
_PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
_EVENT_TYPES = ("click", "purchase", "error", "signup", "view")
_LANGS = ("en", "fr", "es", "zh", "de")
_LANG_P = (0.4, 0.15, 0.15, 0.15, 0.15)
_VOCAB = (
    "a agg batch big column customer data dup fast filter group hash join "
    "key line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
_DIM = 64
_N_LABELS = 10

# Large tables: the ones split into several row groups on request.
LARGE_TABLES = ("customer", "part", "orders", "lineitem", "events")


def _ts_us(start: dt.datetime, offsets_us: np.ndarray) -> pa.Array:
    base = int((start - dt.datetime(1970, 1, 1)).total_seconds() * 1_000_000)
    return pa.array(base + offsets_us.astype(np.int64), pa.timestamp("us"))


def _days(rng: np.random.Generator, start: dt.date, end: dt.date, n: int) -> pa.Array:
    span = (end - start).days
    start_dt = dt.datetime(start.year, start.month, start.day)
    return _ts_us(start_dt, rng.integers(0, span + 1, n) * 86_400_000_000)


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    # whole cents, as the fixture's 2-dp money columns
    return rng.integers(round(lo * 100), round(hi * 100) + 1, n) / 100.0


def _texts(rng: np.random.Generator, n: int) -> list[str]:
    """Random token documents with planted exact and near duplicates, so
    the dedup operators always find work."""
    vocab = np.array(_VOCAB)
    lengths = rng.integers(10, 101, n)
    docs = [" ".join(vocab[rng.integers(0, len(vocab), k)]) for k in lengths]
    n_exact = max(2, n // 500)
    n_near = max(4, n // 50)
    picks = rng.choice(n, n_exact + 2 * n_near, replace=False)
    for i in range(n_exact):
        docs[picks[2 * n_near + i]] = docs[picks[i]]
    for j in range(n_near):
        words = docs[picks[n_exact + j]].split()
        pos = rng.integers(0, len(words))
        words[pos] = str(vocab[rng.integers(0, len(vocab))])
        docs[picks[n_exact + n_near + j]] = " ".join(words)
    return docs


def _embeddings(rng: np.random.Generator, n: int) -> tuple[pa.Array, np.ndarray]:
    centers = rng.normal(size=(_N_LABELS, _DIM))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    labels = rng.integers(0, _N_LABELS, n).astype(np.int32)
    vecs = 0.6 * centers[labels] + rng.normal(size=(n, _DIM))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    flat = pa.array(vecs.astype(np.float32).ravel(), pa.float32())
    offsets = pa.array(np.arange(0, (n + 1) * _DIM, _DIM, dtype=np.int32))
    return pa.ListArray.from_arrays(offsets, flat), labels


def tables(seed: int, sf: float) -> dict[str, pa.Table]:
    """The ten tables at scale factor ``sf``, drawn from ``seed``."""
    rng = np.random.default_rng(seed)
    n_supp = max(10, round(10_000 * sf))
    n_cust = max(150, round(150_000 * sf))
    n_part = max(200, round(200_000 * sf))
    n_ord = max(1_500, round(1_500_000 * sf))
    n_line = max(6_000, round(6_000_000 * sf))
    n_ev = max(1_000, round(1_000_000 * sf))
    n_users = max(15, round(15_000 * sf))
    n_docs = max(500, round(50_000 * sf))
    n_emb = max(500, round(20_000 * sf))

    out: dict[str, pa.Table] = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": list(_REGIONS),
    })
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    out["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": np.array(_SEGMENTS)[rng.integers(0, 5, n_cust)],
    })
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    })
    adj = np.array(_PART_ADJ)[rng.integers(0, len(_PART_ADJ), n_part)]
    noun = np.array(_PART_NOUN)[rng.integers(0, len(_PART_NOUN), n_part)]
    out["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": np.char.add(np.char.add(adj, " "), noun),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)),
        "p_type": np.array(_PART_TYPES)[rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 1),
    })
    out["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": np.array(("F", "O", "P"))[rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
        "o_orderdate": _days(rng, dt.date(1995, 1, 1), dt.date(2001, 8, 1), n_ord),
        "o_orderpriority": np.array(_PRIORITIES)[rng.integers(0, 5, n_ord)],
    })
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, n_line),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": np.array(("A", "N", "R"))[rng.integers(0, 3, n_line)],
        "l_linestatus": np.array(("F", "O"))[rng.integers(0, 2, n_line)],
        "l_shipdate": _days(rng, dt.date(1995, 1, 2), dt.date(2001, 11, 4), n_line),
    })
    month_us = 30 * 86_400_000_000
    out["events"] = pa.table({
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": _ts_us(dt.datetime(2024, 1, 1), np.sort(rng.integers(0, month_us, n_ev))),
        "user_id": pa.array(rng.integers(0, n_users, n_ev), pa.int64()),
        "event_type": np.array(_EVENT_TYPES)[rng.integers(0, 5, n_ev)],
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })
    texts = _texts(rng, n_docs)
    out["documents"] = pa.table({
        "doc_id": pa.array(np.arange(n_docs), pa.int64()),
        "text": texts,
        "lang": np.array(_LANGS)[rng.choice(5, n_docs, p=_LANG_P)],
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    emb, labels = _embeddings(rng, n_emb)
    out["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_emb), pa.int64()),
        "embedding": emb,
        "label": pa.array(labels, pa.int32()),
    })
    return out


def write(out_dir: str, data: dict[str, pa.Table], row_groups: int = 1) -> dict[str, int]:
    """Write ``data`` as ``out_dir/<table>.parquet``; returns bytes per
    table. Large tables get ``row_groups`` row groups each."""
    os.makedirs(out_dir, exist_ok=True)
    sizes: dict[str, int] = {}
    for name, table in data.items():
        path = os.path.join(out_dir, f"{name}.parquet")
        groups = row_groups if name in LARGE_TABLES else 1
        rg_rows = max(1, -(-table.num_rows // groups))
        pq.write_table(table, path, row_group_size=rg_rows)
        sizes[name] = os.path.getsize(path)
    return sizes
