"""Seeded generator for the benchmark's input tables.

Writes the ten tables the engine's catalog reads (``region nation customer
supplier part orders lineitem events documents embeddings``), one parquet
file each, with the same schemas, key ranges and value domains as the
engine's driver-generated test data. The same ``(seed, sf)`` always gives
byte-identical tables, so every benchmark run is reproducible from its
``--seed`` alone and needs no data outside its checkout.

Row counts follow the test data's scale steps: at ``sf=0.1`` there are
15,000 customers, 150,000 orders, 600,000 line items, 100,000 events over
1,500 users, 5,000 documents and 2,000 embeddings.
"""

from __future__ import annotations

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

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PART_ADJ = ["large", "hot", "small", "cold", "bright", "dark", "smooth", "rough"]
_PART_NOUN = ["ring", "bolt", "gear", "nut", "pipe", "spring", "valve", "screw"]
_PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
_LANGS = ["en", "es", "zh", "de", "fr"]
_LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
_EMB_DIM = 64

_DAY_US = 86_400 * 1_000_000


def _days_us(start: str, n_days: int, rng: np.random.Generator, n: int) -> np.ndarray:
    base = np.datetime64(start, "us").astype(np.int64)
    return base + rng.integers(0, n_days, n) * _DAY_US


def _ts(values_us: np.ndarray) -> pa.Array:
    return pa.array(values_us, type=pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return rng.integers(int(lo * 100), int(hi * 100) + 1, n) / 100.0


def _names(prefix: str, n: int) -> list[str]:
    return [f"{prefix}#{i:09d}" for i in range(n)]


def counts(sf: float) -> dict[str, int]:
    """Row count per table at scale factor ``sf``."""
    return {
        "customer": max(1, round(150_000 * sf)),
        "supplier": max(1, round(10_000 * sf)),
        "part": max(1, round(200_000 * sf)),
        "orders": max(1, round(1_500_000 * sf)),
        "lineitem": max(1, round(6_000_000 * sf)),
        "events": max(1, round(1_000_000 * sf)),
        "users": max(1, round(15_000 * sf)),
        "documents": max(500, round(50_000 * sf)),
        "embeddings": max(500, round(20_000 * sf)),
    }


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    """Word-salad prose over a small vocabulary. About 3% of the documents
    are near-duplicates of an earlier one (one word changed, a trailing
    ``dup``) and about 0.3% are exact copies, so the dedup operators find
    real pairs."""
    lengths = rng.integers(10, 101, n)
    word_ids = rng.integers(0, len(_WORDS), int(lengths.sum()))
    bounds = np.concatenate([[0], np.cumsum(lengths)])
    texts = [
        " ".join(_WORDS[w] for w in word_ids[bounds[i] : bounds[i + 1]])
        for i in range(n)
    ]
    kind = rng.random(n)
    src = rng.integers(0, n, n)
    langs = rng.choice(len(_LANGS), n, p=_LANG_P)
    sources = np.arange(n) % 20
    for i in range(1, n):
        j = int(src[i]) % i
        if kind[i] < 0.033:
            # copies share the original's (lang, source) block, where the
            # near-duplicate search looks for pairs
            langs[i], sources[i] = langs[j], sources[j]
        if kind[i] < 0.03:
            words = texts[j].split(" ")
            words[int(rng.integers(0, len(words)))] = _WORDS[int(rng.integers(0, len(_WORDS)))]
            texts[i] = " ".join(words) + " dup"
        elif kind[i] < 0.033:
            texts[i] = texts[j]
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n), pa.int64()),
            "text": texts,
            "lang": [_LANGS[k] for k in langs],
            "source": [f"src{s}" for s in sources],
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def _embeddings(rng: np.random.Generator, n: int) -> pa.Table:
    """Unit-norm float32 vectors in ten noisy clusters; ``label`` is the
    cluster."""
    centres = rng.normal(size=(10, _EMB_DIM))
    labels = rng.integers(0, 10, n)
    vecs = centres[labels] * 0.35 + rng.normal(size=(n, _EMB_DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    emb = pa.ListArray.from_arrays(
        pa.array(np.arange(0, (n + 1) * _EMB_DIM, _EMB_DIM), pa.int32()),
        pa.array(vecs.reshape(-1), pa.float32()),
    )
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n), pa.int64()),
            "embedding": emb,
            "label": pa.array(labels, pa.int32()),
        }
    )


def _region(rng, c):
    return pa.table({"r_regionkey": pa.array(range(5), pa.int32()), "r_name": _REGIONS})


def _nation(rng, c):
    return pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )


def _customer(rng, c):
    n = c["customer"]
    return pa.table(
        {
            "c_custkey": pa.array(np.arange(n), pa.int64()),
            "c_name": _names("Customer", n),
            "c_nationkey": pa.array(rng.integers(0, 25, n), pa.int32()),
            "c_acctbal": _money(rng, -999.99, 9999.99, n),
            "c_mktsegment": [_SEGMENTS[k] for k in rng.integers(0, 5, n)],
        }
    )


def _supplier(rng, c):
    n = c["supplier"]
    return pa.table(
        {
            "s_suppkey": pa.array(np.arange(n), pa.int64()),
            "s_name": _names("Supplier", n),
            "s_nationkey": pa.array(rng.integers(0, 25, n), pa.int32()),
            "s_acctbal": _money(rng, -999.99, 9999.99, n),
        }
    )


def _part(rng, c):
    n = c["part"]
    keys = np.arange(n)
    return pa.table(
        {
            "p_partkey": pa.array(keys, pa.int64()),
            "p_name": [
                f"{_PART_ADJ[a]} {_PART_NOUN[b]}"
                for a, b in zip(rng.integers(0, 8, n), rng.integers(0, 8, n))
            ],
            "p_brand": [f"Brand#{k}" for k in rng.integers(1, 26, n)],
            "p_type": [_PART_TYPES[k] for k in rng.integers(0, 6, n)],
            "p_size": pa.array(rng.integers(1, 51, n), pa.int32()),
            "p_retailprice": 900.0 + (keys % 1000) / 10.0,
        }
    )


def _orders(rng, c):
    n = c["orders"]
    return pa.table(
        {
            "o_orderkey": pa.array(np.arange(n), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, c["customer"], n), pa.int64()),
            "o_orderstatus": [("F", "O", "P")[k] for k in rng.integers(0, 3, n)],
            "o_totalprice": _money(rng, 1000.0, 500000.0, n),
            "o_orderdate": _ts(_days_us("1995-01-01", 2404, rng, n)),
            "o_orderpriority": [_PRIORITIES[k] for k in rng.integers(0, 5, n)],
        }
    )


def _lineitem(rng, c):
    n = c["lineitem"]
    return pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, c["orders"], n), pa.int64()),
            "l_partkey": pa.array(rng.integers(0, c["part"], n), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, c["supplier"], n), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, n), pa.int32()),
            "l_quantity": rng.integers(1, 51, n).astype(np.float64),
            "l_extendedprice": _money(rng, 900.0, 105000.0, n),
            "l_discount": rng.integers(0, 11, n) / 100.0,
            "l_tax": rng.integers(0, 9, n) / 100.0,
            "l_returnflag": [("A", "N", "R")[k] for k in rng.integers(0, 3, n)],
            "l_linestatus": [("F", "O")[k] for k in rng.integers(0, 2, n)],
            "l_shipdate": _ts(_days_us("1995-01-02", 2498, rng, n)),
        }
    )


def _events(rng, c):
    n = c["events"]
    start = np.datetime64("2024-01-01", "us").astype(np.int64)
    ts = np.sort(start + rng.integers(0, 30 * _DAY_US, n))
    return pa.table(
        {
            "event_id": pa.array(np.arange(n), pa.int64()),
            "ts": _ts(ts),
            "user_id": pa.array(rng.integers(0, c["users"], n), pa.int64()),
            "event_type": [_EVENT_TYPES[k] for k in rng.integers(0, 5, n)],
            "value": np.round(rng.gamma(2.0, 50.0, n), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
        }
    )


_BUILDERS = {
    "region": _region,
    "nation": _nation,
    "customer": _customer,
    "supplier": _supplier,
    "part": _part,
    "orders": _orders,
    "lineitem": _lineitem,
    "events": _events,
    "documents": lambda rng, c: _documents(rng, c["documents"]),
    "embeddings": lambda rng, c: _embeddings(rng, c["embeddings"]),
}


def build_tables(seed: int, sf: float, names=TABLES) -> dict[str, pa.Table]:
    """The named tables as Arrow tables. Each table has its own random
    stream, so a table is a pure function of ``(seed, sf)`` whichever
    other tables are built with it."""
    c = counts(sf)
    return {
        name: _BUILDERS[name](
            np.random.default_rng([seed, int(sf * 1_000_000), TABLES.index(name)]), c
        )
        for name in names
    }


def write_tables(out_dir: str, seed: int, sf: float, names=TABLES) -> str:
    """Write the named tables to ``out_dir/<name>.parquet``, one row group
    each like the test data; returns ``out_dir``."""
    os.makedirs(out_dir, exist_ok=True)
    for name, table in build_tables(seed, sf, names).items():
        pq.write_table(
            table,
            os.path.join(out_dir, f"{name}.parquet"),
            row_group_size=max(1, table.num_rows),
        )
    return out_dir
