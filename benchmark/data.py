"""Inputs of the benchmark, made from seeds and nothing else.

`write_fixture` writes sf0.1-shaped tables: the schemas, row counts and
value domains of the engine's sf0.1 test fixture (TPC-H-style star
schema plus `events`, `documents` and `embeddings`), drawn from one fixed
generator seed so every run and every checkout sees the same tables.
The per-run `--seed` only picks what a run does with them: the dashboard
statement sequence, the curation row permutation and the ingest batches.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

FIXTURE_SEED = 20240101
TABLES = (
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
)
WORDS = (
    "a the batch part spark line column order small sort fast value scan "
    "hash slow group agg filter big key window row table stream merge "
    "data query join vector customer"
).split()
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
PART_ADJ = ("large", "small", "blue", "red", "green", "shiny", "tiny", "big")
PART_NOUN = ("ring", "widget", "anvil", "gear", "bolt", "spring", "lever",
             "valve")
PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
LANGS = ("en", "de", "es", "fr", "zh")
EPOCH_1995 = np.datetime64("1995-01-01", "us")
DAY_US = 86_400_000_000


def _money(rng, n, lo, hi):
    return np.round(rng.uniform(lo, hi, n), 2)


def _choice(rng, values, n, p=None):
    return pa.array(np.asarray(values, dtype=object)[
        rng.choice(len(values), n, p=p)].tolist(), pa.string())


def fixture_tables() -> dict[str, pa.Table]:
    """The sf0.1-shaped tables, identical on every call."""
    rng = np.random.default_rng(FIXTURE_SEED)
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    n = 15_000
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n)],
        "c_nationkey": pa.array(rng.integers(0, 25, n), pa.int32()),
        "c_acctbal": _money(rng, n, -999.99, 9999.99),
        "c_mktsegment": _choice(rng, SEGMENTS, n),
    })
    n = 1_000
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n)],
        "s_nationkey": pa.array(rng.integers(0, 25, n), pa.int32()),
        "s_acctbal": _money(rng, n, -999.99, 9999.99),
    })
    n = 20_000
    names = [f"{a} {b}" for a in PART_ADJ for b in PART_NOUN]
    keys = np.arange(n)
    t["part"] = pa.table({
        "p_partkey": pa.array(keys, pa.int64()),
        "p_name": _choice(rng, names, n),
        "p_brand": _choice(rng, [f"Brand#{i}" for i in range(1, 26)], n),
        "p_type": _choice(rng, PART_TYPES, n),
        "p_size": pa.array(rng.integers(1, 51, n), pa.int32()),
        "p_retailprice": 900.0 + (keys % 1000) / 10.0,
    })
    n = 150_000
    odate = EPOCH_1995 + rng.integers(0, 2404, n) * np.timedelta64(1, "D")
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, 15_000, n), pa.int64()),
        "o_orderstatus": _choice(rng, ("F", "O", "P"), n),
        "o_totalprice": _money(rng, n, 1000.0, 500_000.0),
        "o_orderdate": pa.array(odate, pa.timestamp("us")),
        "o_orderpriority": _choice(rng, PRIORITIES, n),
    })
    n = 600_000
    okey = rng.integers(0, 150_000, n)
    qty = rng.integers(1, 51, n).astype(np.float64)
    pkey = rng.integers(0, 20_000, n)
    ship = odate[okey] + rng.integers(1, 122, n) * np.timedelta64(1, "D")
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(okey, pa.int64()),
        "l_partkey": pa.array(pkey, pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, 1_000, n), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * (900.0 + (pkey % 1000) / 10.0)
                                    * rng.uniform(1.0, 2.33, n), 2),
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": _choice(rng, ("A", "N", "R"), n),
        "l_linestatus": _choice(rng, ("F", "O"), n),
        "l_shipdate": pa.array(ship, pa.timestamp("us")),
    })
    n = 100_000
    ts = np.sort(rng.integers(0, 30 * DAY_US, n))
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(n), pa.int64()),
        "ts": pa.array(np.datetime64("2024-01-01", "us") + ts.astype(
            "timedelta64[us]"), pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, 1_500, n), pa.int64()),
        "event_type": _choice(rng, EVENT_TYPES, n),
        "value": np.round(rng.exponential(60.0, n), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
    })
    n = 5_000
    words = np.asarray(WORDS, dtype=object)
    texts = [" ".join(words[rng.integers(0, len(WORDS), k)])
             for k in rng.integers(8, 100, n)]
    for dup in range(8):  # a few exact duplicates, as in the fixture
        texts[n - 1 - dup] = texts[dup * 7]
    t["documents"] = pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": texts,
        "lang": _choice(rng, LANGS, n, p=(0.41, 0.1475, 0.1475, 0.1475,
                                          0.1475)),
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": pa.array([len(x) for x in texts], pa.int64()),
    })
    n = 2_000
    vec = rng.normal(0.0, 1.0, (n, 64)).astype(np.float32)
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    t["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.array(list(vec), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n), pa.int32()),
    })
    return t


def write_fixture(out_dir: str) -> None:
    """Write every fixture table as `<out_dir>/<name>.parquet`."""
    os.makedirs(out_dir, exist_ok=True)
    for name, table in fixture_tables().items():
        tmp = os.path.join(out_dir, f".{name}.parquet.tmp")
        pq.write_table(table, tmp)
        os.replace(tmp, os.path.join(out_dir, f"{name}.parquet"))


def permute_rows(table: pa.Table, seed: int) -> pa.Table:
    """The same rows in a seed-chosen order."""
    order = np.random.default_rng(seed).permutation(table.num_rows)
    return table.take(pa.array(order))
