"""Seeded synthetic inputs in the engine's star-schema layout.

``generate(out_dir, seed, sf)`` writes one parquet file per table of
``sparsity_spark.data.TABLES`` with the same column names, types and value
distributions as the repository's reference testdata (TPC-H-shaped orders,
lineitem, customer, supplier and part; an ``events`` stream; a
``documents`` corpus with near-duplicates; ``embeddings``). Row counts scale
with ``sf`` the way the reference directories do (sf0.01: 15,000 orders,
60,000 lineitems, 10,000 events, 500 documents). The same ``(seed, sf)``
always gives byte-identical tables.

Only numpy and pyarrow are used, so the inputs exist before the engine
starts and the engine receives nothing but these files.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = (
    "a agg batch big column customer data fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the "
    "value vector window"
).split()
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_ADJ = "small large red blue hot cold steel brass".split()
PART_NOUN = "ring bolt widget gear nut pipe valve spring".split()
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_US_PER_DAY = 86_400_000_000


def _ts(micros: np.ndarray) -> pa.Array:
    return pa.array(micros.astype("int64"), type=pa.timestamp("us"))


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _date_micros(rng, start: str, days: int, n: int) -> np.ndarray:
    base = np.datetime64(start, "us").astype("int64")
    return base + rng.integers(0, days, n) * _US_PER_DAY


def _tables(rng, sf: float) -> dict[str, pa.Table]:
    n_cust, n_supp, n_part = int(150_000 * sf), max(10, int(10_000 * sf)), int(200_000 * sf)
    n_orders, n_lines = int(1_500_000 * sf), int(6_000_000 * sf)
    n_users, n_events = int(15_000 * sf), int(1_000_000 * sf)
    n_docs, n_vecs = max(200, int(50_000 * sf)), max(200, int(50_000 * sf))
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table(
        {
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
        }
    )
    t["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    t["customer"] = pa.table(
        {
            "c_custkey": np.arange(n_cust, dtype="int64"),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": rng.integers(0, 25, n_cust).astype("int32"),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": rng.choice(SEGMENTS, n_cust),
        }
    )
    t["supplier"] = pa.table(
        {
            "s_suppkey": np.arange(n_supp, dtype="int64"),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": rng.integers(0, 25, n_supp).astype("int32"),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
        }
    )
    t["part"] = pa.table(
        {
            "p_partkey": np.arange(n_part, dtype="int64"),
            "p_name": [
                f"{a} {b}"
                for a, b in zip(rng.choice(PART_ADJ, n_part), rng.choice(PART_NOUN, n_part))
            ],
            "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
            "p_type": rng.choice(PART_TYPES, n_part),
            "p_size": rng.integers(1, 51, n_part).astype("int32"),
            "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 2),
        }
    )
    t["orders"] = pa.table(
        {
            "o_orderkey": np.arange(n_orders, dtype="int64"),
            "o_custkey": rng.integers(0, n_cust, n_orders).astype("int64"),
            "o_orderstatus": rng.choice(["F", "O", "P"], n_orders),
            "o_totalprice": _money(rng, 1000.0, 500_000.0, n_orders),
            "o_orderdate": _ts(_date_micros(rng, "1995-01-01", 2400, n_orders)),
            "o_orderpriority": rng.choice(PRIORITIES, n_orders),
        }
    )
    t["lineitem"] = pa.table(
        {
            "l_orderkey": rng.integers(0, n_orders, n_lines).astype("int64"),
            "l_partkey": rng.integers(0, n_part, n_lines).astype("int64"),
            "l_suppkey": rng.integers(0, n_supp, n_lines).astype("int64"),
            "l_linenumber": rng.integers(1, 8, n_lines).astype("int32"),
            "l_quantity": rng.integers(1, 51, n_lines).astype("float64"),
            "l_extendedprice": _money(rng, 900.0, 105_000.0, n_lines),
            "l_discount": rng.integers(0, 11, n_lines) / 100.0,
            "l_tax": rng.integers(0, 9, n_lines) / 100.0,
            "l_returnflag": rng.choice(["A", "N", "R"], n_lines),
            "l_linestatus": rng.choice(["F", "O"], n_lines),
            "l_shipdate": _ts(_date_micros(rng, "1995-01-02", 2500, n_lines)),
        }
    )
    start = np.datetime64("2024-01-01", "us").astype("int64")
    ev_ts = np.sort(start + rng.integers(0, 30 * _US_PER_DAY, n_events))
    t["events"] = pa.table(
        {
            "event_id": np.arange(n_events, dtype="int64"),
            "ts": _ts(ev_ts),
            "user_id": rng.integers(0, n_users, n_events).astype("int64"),
            "event_type": rng.choice(EVENT_TYPES, n_events),
            "value": np.round(rng.exponential(50.0, n_events), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)],
        }
    )
    # ~5% of the corpus are copies of an earlier document with a " dup"
    # suffix. With the chance overlaps of the random texts (31 words), the
    # engine's LSH clustering then merges as many documents as it does in
    # the reference testdata: 3,624 and 3,654 clusters of 5,000 at sf0.1
    # (seeds 1, 2; reference 3,645), 453 and 439 of 500 at sf0.01
    # (reference 442). Without the copies: 3,808 and 3,790 at sf0.1.
    texts: list[str] = []
    for i in range(n_docs):
        if i > 10 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(rng.choice(WORDS, int(rng.integers(10, 101)))))
    t["documents"] = pa.table(
        {
            "doc_id": np.arange(n_docs, dtype="int64"),
            "text": texts,
            "lang": rng.choice(LANGS, n_docs, p=LANG_P),
            "source": [f"src{i % 20}" for i in range(n_docs)],
            "n_chars": np.array([len(x) for x in texts], dtype="int64"),
        }
    )
    emb = rng.normal(0.0, 0.12, (n_vecs, 64)).astype("float32")
    t["embeddings"] = pa.table(
        {
            "vec_id": np.arange(n_vecs, dtype="int64"),
            "embedding": pa.array(list(emb), type=pa.list_(pa.float32())),
            "label": rng.integers(0, 10, n_vecs).astype("int32"),
        }
    )
    return t


def generate(out_dir: str, seed: int, sf: float) -> dict[str, int]:
    """Write every table under ``out_dir``; returns {table: bytes}."""
    os.makedirs(out_dir, exist_ok=True)
    sizes = {}
    for name, table in _tables(np.random.default_rng(seed), sf).items():
        path = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(table, path, row_group_size=max(1024, table.num_rows // 16))
        sizes[name] = os.path.getsize(path)
    return sizes


def split_stream(docs_path: str, out_dir: str, seed: int, batches: int) -> list[str]:
    """Hold out ``doc_id % 10 == 0`` as the stream and write it as
    ``batches`` parquet files; ``seed`` picks the file each document lands
    in. Returns the file paths in delivery order."""
    docs = pq.read_table(docs_path, columns=["doc_id", "text"])
    ids = docs.column("doc_id").to_numpy()
    held = np.flatnonzero(ids % 10 == 0)
    slot = np.random.default_rng(seed).permutation(len(held)) % batches
    os.makedirs(out_dir, exist_ok=True)
    paths = []
    for b in range(batches):
        path = os.path.join(out_dir, f"part-{b:03d}.parquet")
        pq.write_table(docs.take(pa.array(np.sort(held[slot == b]))), path)
        paths.append(path)
    return paths
