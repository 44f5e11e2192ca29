"""Seeded input generator for the benchmark (pyarrow + numpy, no Spark).

The engine reads ten parquet tables from one directory (``<dir>/<t>.parquet``):
a TPC-H-like star schema, an ``events`` stream stand-in and the two
LLM-pipeline tables ``documents`` and ``embeddings``. This module builds
them in two steps:

1. :func:`build_tables` makes the canonical tables for a scale factor from a
   fixed base seed. Schemas, value domains and date ranges follow the engine's
   test fixtures (``FIXTURES.md``): sf0.01 gives lineitem 60k rows, orders
   15k, events 10k, documents 500 and embeddings 500. The three timestamp
   columns (``o_orderdate``, ``l_shipdate``, ``events.ts``) are
   ``timestamp[us]``, as in the current fixture files. Documents are 10-99
   words drawn uniformly from a 30-word vocabulary, and 5% of them are
   near-duplicates (another document's text plus ``" dup"``), which gives
   the fixtures' SimHash pair density. Embeddings are unit vectors around
   ten label centroids.
2. :func:`permuted_copy` writes a row-permuted copy of the canonical tables
   into a new directory, seeded by ``(seed, iteration)``. Values, schemas and
   parquet types are unchanged, so every answer is the canonical answer, but
   the directory is new: every memo and load cache keyed on the input
   directory misses.
"""

from __future__ import annotations

import hashlib
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

BASE_SEED = 42
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["de", "en", "es", "fr", "zh"]
LANG_P = [0.1475, 0.41, 0.1475, 0.1475, 0.1475]
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key line merge "
    "order part query row scan slow small sort spark stream table the value vector window"
).split()
EMB_DIM = 64


def _day(s: str) -> np.datetime64:
    return np.datetime64(s, "us")


def _dates(rng: np.random.Generator, n: int, lo: str, hi: str) -> np.ndarray:
    days = (np.datetime64(hi, "D") - np.datetime64(lo, "D")).astype(int)
    return _day(lo) + rng.integers(0, days + 1, n) * np.timedelta64(86_400_000_000, "us")


def _money(rng: np.random.Generator, n: int, lo: float, hi: float) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng: np.random.Generator, words: list[str], n: int, p=None) -> pa.Array:
    return pa.array(np.asarray(words, dtype=object)[rng.choice(len(words), n, p=p)], pa.string())


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    texts = [
        " ".join(VOCAB[w] for w in rng.choice(len(VOCAB), int(rng.integers(10, 100))))
        for _ in range(n)
    ]
    # As in the fixtures: exactly n/20 rows become another row's text plus
    # " dup". The source row may be anywhere, even an earlier copy, so two
    # copies of one source are exact duplicates and a copy of a copy ends
    # in " dup dup".
    for i in rng.choice(n, n // 20, replace=False):
        j = (i + int(rng.integers(1, n))) % n
        texts[i] = texts[j] + " dup"
    ids = np.arange(n, dtype=np.int64)
    return pa.table(
        {
            "doc_id": ids,
            "text": pa.array(texts, pa.string()),
            "lang": _pick(rng, LANGS, n, LANG_P),
            "source": pa.array([f"src{i % 20}" for i in range(n)], pa.string()),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def _embeddings(rng: np.random.Generator, n: int) -> pa.Table:
    centroids = rng.normal(0.0, 0.0125, (10, EMB_DIM))
    label = rng.integers(0, 10, n).astype(np.int32)
    x = centroids[label] + rng.normal(0.0, 0.125, (n, EMB_DIM))
    x = (x / np.linalg.norm(x, axis=1, keepdims=True)).astype(np.float32)
    emb = pa.FixedSizeListArray.from_arrays(pa.array(x.ravel(), pa.float32()), EMB_DIM)
    return pa.table(
        {
            "vec_id": np.arange(n, dtype=np.int64),
            "embedding": emb.cast(pa.list_(pa.float32())),
            "label": label,
        }
    )


def build_tables(sf: float, seed: int = BASE_SEED) -> dict[str, pa.Table]:
    """The canonical tables at scale factor ``sf`` (deterministic in ``seed``)."""
    rng = np.random.default_rng(seed)
    n_cust = max(10, int(150_000 * sf))
    n_supp = max(5, int(10_000 * sf))
    n_part = max(20, int(200_000 * sf))
    n_ord = max(100, int(1_500_000 * sf))
    n_li = max(400, int(6_000_000 * sf))
    n_ev = max(100, int(1_000_000 * sf))
    n_doc = max(500, int(50_000 * sf))
    n_emb = max(500, int(20_000 * sf))
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table(
        {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": pa.array(REGIONS)}
    )
    t["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    t["customer"] = pa.table(
        {
            "c_custkey": np.arange(n_cust, dtype=np.int64),
            "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
            "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
            "c_acctbal": _money(rng, n_cust, -999.99, 9999.99),
            "c_mktsegment": _pick(rng, SEGMENTS, n_cust),
        }
    )
    t["supplier"] = pa.table(
        {
            "s_suppkey": np.arange(n_supp, dtype=np.int64),
            "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
            "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
            "s_acctbal": _money(rng, n_supp, -999.99, 9999.99),
        }
    )
    adj = rng.integers(0, len(PART_ADJ), n_part)
    noun = rng.integers(0, len(PART_NOUN), n_part)
    t["part"] = pa.table(
        {
            "p_partkey": np.arange(n_part, dtype=np.int64),
            "p_name": pa.array([f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in zip(adj, noun)]),
            "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)]),
            "p_type": _pick(rng, PART_TYPES, n_part),
            "p_size": rng.integers(1, 51, n_part).astype(np.int32),
            "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 1),
        }
    )
    t["orders"] = pa.table(
        {
            "o_orderkey": np.arange(n_ord, dtype=np.int64),
            "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
            "o_orderstatus": _pick(rng, ["F", "O", "P"], n_ord),
            "o_totalprice": _money(rng, n_ord, 1000.0, 500000.0),
            "o_orderdate": _dates(rng, n_ord, "1995-01-01", "2001-08-01"),
            "o_orderpriority": _pick(rng, PRIORITIES, n_ord),
        }
    )
    t["lineitem"] = pa.table(
        {
            "l_orderkey": rng.integers(0, n_ord, n_li).astype(np.int64),
            "l_partkey": rng.integers(0, n_part, n_li).astype(np.int64),
            "l_suppkey": rng.integers(0, n_supp, n_li).astype(np.int64),
            "l_linenumber": rng.integers(1, 8, n_li).astype(np.int32),
            "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
            "l_extendedprice": _money(rng, n_li, 900.0, 105000.0),
            "l_discount": rng.integers(0, 11, n_li) / 100.0,
            "l_tax": rng.integers(0, 9, n_li) / 100.0,
            "l_returnflag": _pick(rng, ["A", "N", "R"], n_li),
            "l_linestatus": _pick(rng, ["F", "O"], n_li),
            "l_shipdate": _dates(rng, n_li, "1995-01-02", "2001-11-04"),
        }
    )
    span_us = 30 * 86_400_000_000
    ts_us = np.sort(rng.integers(0, span_us, n_ev))
    t["events"] = pa.table(
        {
            "event_id": np.arange(n_ev, dtype=np.int64),
            "ts": pa.array(_day("2024-01-01") + ts_us.astype("timedelta64[us]"), pa.timestamp("us")),
            "user_id": rng.integers(0, max(1, n_cust // 10), n_ev).astype(np.int64),
            "event_type": _pick(rng, EVENT_TYPES, n_ev),
            "value": np.maximum(np.round(rng.exponential(50.0, n_ev), 2), 0.01),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]),
        }
    )
    t["documents"] = _documents(rng, n_doc)
    t["embeddings"] = _embeddings(rng, n_emb)
    return t


def write_tables(tables: dict[str, pa.Table], out_dir: str) -> None:
    os.makedirs(out_dir, exist_ok=True)
    for name, tab in tables.items():
        pq.write_table(tab, os.path.join(out_dir, f"{name}.parquet"))


def fingerprint(tables: dict[str, pa.Table]) -> str:
    """Content hash of a table set: schemas plus every value, in row order."""
    h = hashlib.sha256()
    for name in TABLES:
        tab = tables[name]
        h.update(name.encode())
        h.update(str(tab.schema).encode())
        for col in tab.columns:
            for chunk in col.chunks:
                for buf in chunk.buffers():
                    if buf is not None:
                        h.update(buf)
    return h.hexdigest()[:16]


def permuted_copy(
    tables: dict[str, pa.Table], out_dir: str, seed: int, iteration: int
) -> None:
    """Write a row-permuted copy of ``tables`` and check it against them."""
    rng = np.random.default_rng([seed, iteration])
    os.makedirs(out_dir, exist_ok=True)
    for name, tab in tables.items():
        perm = rng.permutation(tab.num_rows)
        path = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(tab.take(pa.array(perm)), path)
        meta = pq.read_metadata(path)
        got = pq.read_schema(path)
        if meta.num_rows != tab.num_rows or not got.equals(tab.schema, check_metadata=False):
            raise RuntimeError(
                f"generator: {name} copy has {meta.num_rows} rows / schema {got}, "
                f"expected {tab.num_rows} / {tab.schema}"
            )
