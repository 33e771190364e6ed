"""Seeded inputs for the benchmark.

Everything here is a pure function of the seed: the same seed gives the
same rows, keys and op schedule.  The program under test only ever sees
the generated inputs (parquet files or DataFrames built from them).

Tables follow the shapes of the repository's TPC-H-like test data
(``region nation customer supplier part orders lineitem events
documents embeddings``) so the registry queries run on them unchanged;
row counts scale with ``sf`` the same way (lineitem = 6M x sf).
"""

from __future__ import annotations

import os
from datetime import date, datetime

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# new keys written by kv_mixed and keys probed as absent come from
# disjoint index ranges above any base row, so a key is never reused
NEW_KEY_BASE = 1 << 30
ABSENT_KEY_BASE = 1 << 31


def splitmix64(x: np.ndarray) -> np.ndarray:
    """Bijective 64-bit mixer: distinct inputs give distinct keys."""
    with np.errstate(over="ignore"):
        z = x.astype(np.uint64) + np.uint64(0x9E3779B97F4A7C15)
        z = (z ^ (z >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
        z = (z ^ (z >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
        return z ^ (z >> np.uint64(31))


def row_keys(seed: int, idx: np.ndarray) -> np.ndarray:
    """16-hex digest of (seed, row index), as a numpy unicode array."""
    mixed = splitmix64((np.uint64(seed) << np.uint64(32)) + idx.astype(np.uint64))
    return np.array([f"{int(v):016x}" for v in mixed])


def _epoch_days(d: date) -> int:
    return (d - date(1970, 1, 1)).days


def lineitem_columns(rng: np.random.Generator, n: int, n_orders: int,
                     n_parts: int, n_supp: int) -> dict[str, np.ndarray]:
    price = np.round(rng.uniform(900.0, 105000.0, n), 2)
    lo, hi = _epoch_days(date(1995, 1, 1)), _epoch_days(date(2001, 11, 5))
    return {
        "orderkey": rng.integers(0, n_orders, n),
        "partkey": rng.integers(0, n_parts, n),
        "suppkey": rng.integers(0, n_supp, n),
        "linenumber": rng.integers(1, 8, n).astype(np.int32),
        "quantity": rng.integers(1, 51, n).astype(np.float64),
        "extendedprice": price,
        "discount": rng.integers(0, 11, n) / 100.0,
        "tax": rng.integers(0, 9, n) / 100.0,
        "returnflag": rng.choice(np.array(["A", "N", "R"]), n),
        "linestatus": rng.choice(np.array(["F", "O"]), n),
        "shipdate": rng.integers(lo, hi, n).astype("datetime64[D]"),
    }


# -- keyed table rows ---------------------------------------------------------

KV_FAMILY = "l"
# the model's checked value per key: a revision counter that upserts
# overwrite and mutate increments
KV_VALUE_COL = f"{KV_FAMILY}:rev"
KV_COLUMNS = {
    "orderkey": "long", "partkey": "long", "suppkey": "long",
    "linenumber": "int", "quantity": "double", "extendedprice": "double",
    "discount": "double", "tax": "double", "returnflag": "string",
    "linestatus": "string", "shipdate": "date", "rev": "long",
}


def kv_rows(seed: int, stream: int, idx: np.ndarray) -> pa.Table:
    """Keyed rows for the given row indexes: lineitem columns under one
    family plus the checked ``l:rev`` value.  ``stream`` separates the
    random streams of the base table, the appended runs and each write."""
    rng = np.random.default_rng([seed, stream])
    n = len(idx)
    cols = lineitem_columns(rng, n, 150_000, 20_000, 1_000)
    data = {"row_key": row_keys(seed, idx)}
    for name, arr in cols.items():
        data[f"{KV_FAMILY}:{name}"] = arr
    data[KV_VALUE_COL] = rng.integers(0, 1_000_000_000, n)
    return pa.table(data)



# -- analytics tables ---------------------------------------------------------

_WORDS = (
    "join hash row batch scan column customer filter small slow merge order "
    "vector line table data agg value key stream window a spark part group "
    "big sort query fast the"
).split()


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    """Random word documents; one in ten is a near-copy of an earlier one
    (a few words replaced), so the near-dup operators find pairs."""
    texts: list[str] = []
    for i in range(n):
        if i > 20 and rng.random() < 0.1:
            words = texts[int(rng.integers(0, i))].split()
            for j in rng.integers(0, len(words), max(1, len(words) // 20)):
                words[j] = _WORDS[int(rng.integers(0, len(_WORDS)))]
            words.append("dup")
        else:
            words = [_WORDS[k] for k in rng.integers(0, len(_WORDS), int(rng.integers(8, 90)))]
        texts.append(" ".join(words))
    langs = np.array(["en", "en", "en", "zh", "es", "de", "fr"])
    return pa.table({
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(langs, n),
        "source": np.array([f"src{k}" for k in rng.integers(0, 20, n)]),
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })


def _embeddings(rng: np.random.Generator, n: int, dim: int = 64) -> pa.Table:
    centroids = rng.normal(size=(10, dim))
    label = rng.integers(0, 10, n)
    vecs = centroids[label] + rng.normal(scale=1.5, size=(n, dim))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    flat = pa.array(vecs.astype(np.float32).ravel())
    emb = pa.ListArray.from_arrays(np.arange(0, n * dim + 1, dim, dtype=np.int32), flat)
    return pa.table({
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": emb,
        "label": label.astype(np.int32),
    })


def _events(rng: np.random.Generator, n: int, n_users: int) -> pa.Table:
    start = np.datetime64(datetime(2024, 1, 1), "us")
    offs = np.sort(rng.integers(0, 30 * 86_400 * 10**6, n))
    return pa.table({
        "event_id": np.arange(n, dtype=np.int64),
        "ts": start + offs.astype("timedelta64[us]"),
        "user_id": rng.integers(0, n_users, n),
        "event_type": rng.choice(np.array(["click", "view", "purchase", "signup", "error"]), n),
        "value": np.round(rng.exponential(50.0, n), 2),
        "props": np.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
    })


def write_analytics_tables(seed: int, sf: float, out_dir: str) -> dict[str, int]:
    """Write the ten analytics tables at scale ``sf`` into ``out_dir``
    (one ``<name>.parquet`` each); returns row counts."""
    rng = np.random.default_rng([seed, 7])
    n_li, n_ord = int(6_000_000 * sf), int(1_500_000 * sf)
    n_part, n_supp, n_cust = int(200_000 * sf), int(10_000 * sf), int(150_000 * sf)
    names = np.array(["ring", "bolt", "plate", "gear", "nut", "pipe", "rod", "valve"])
    adjs = np.array(["large", "hot", "blue", "old", "small", "red", "cold", "new"])
    li = lineitem_columns(rng, n_li, n_ord, n_part, n_supp)
    tables = {
        "region": pa.table({
            "r_regionkey": np.arange(5, dtype=np.int32),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
        }),
        "nation": pa.table({
            "n_nationkey": np.arange(25, dtype=np.int32),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": (np.arange(25) % 5).astype(np.int32),
        }),
        "customer": pa.table({
            "c_custkey": np.arange(n_cust, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
            "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
            "c_mktsegment": rng.choice(np.array(
                ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]), n_cust),
        }),
        "supplier": pa.table({
            "s_suppkey": np.arange(n_supp, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
            "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2),
        }),
        "part": pa.table({
            "p_partkey": np.arange(n_part, dtype=np.int64),
            "p_name": np.char.add(np.char.add(rng.choice(adjs, n_part), " "),
                                  rng.choice(names, n_part)),
            "p_brand": np.array([f"Brand#{k}" for k in rng.integers(1, 26, n_part)]),
            "p_type": rng.choice(np.array(
                ["LARGE", "ECONOMY", "SMALL", "STANDARD", "MEDIUM", "PROMO"]), n_part),
            "p_size": rng.integers(1, 51, n_part).astype(np.int32),
            "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 2),
        }),
        "orders": pa.table({
            "o_orderkey": np.arange(n_ord, dtype=np.int64),
            "o_custkey": rng.integers(0, n_cust, n_ord),
            "o_orderstatus": rng.choice(np.array(["F", "O", "P"]), n_ord),
            "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, n_ord), 2),
            "o_orderdate": (np.datetime64("1995-01-01") + rng.integers(0, 2404, n_ord)
                            .astype("timedelta64[D]")).astype("datetime64[us]"),
            "o_orderpriority": rng.choice(np.array(
                ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]), n_ord),
        }),
        "lineitem": pa.table({
            "l_orderkey": li["orderkey"], "l_partkey": li["partkey"],
            "l_suppkey": li["suppkey"], "l_linenumber": li["linenumber"],
            "l_quantity": li["quantity"], "l_extendedprice": li["extendedprice"],
            "l_discount": li["discount"], "l_tax": li["tax"],
            "l_returnflag": li["returnflag"], "l_linestatus": li["linestatus"],
            "l_shipdate": li["shipdate"].astype("datetime64[us]"),
        }),
        "events": _events(rng, int(1_000_000 * sf), max(1, int(15_000 * sf))),
        "documents": _documents(rng, int(50_000 * sf)),
        "embeddings": _embeddings(rng, int(20_000 * sf)),
    }
    os.makedirs(out_dir, exist_ok=True)
    for name, tbl in tables.items():
        pq.write_table(tbl, os.path.join(out_dir, f"{name}.parquet"))
    return {name: tbl.num_rows for name, tbl in tables.items()}
