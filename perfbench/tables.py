"""Seeded generator of the engine's ten input tables (TPC-H-ish star
schema plus ``events``, ``documents`` and ``embeddings``).

The suite queries read ``{sf_dir}/{table}.parquet`` with the schema of
the engine's test fixtures: the same column names, types and value
domains, at the fixtures' sf0.001 row counts (``documents`` and
``embeddings`` keep the 500 rows every fixture has). Values are uniform draws
from those domains; 5% of the documents get a near-duplicate twin (the
original text plus one trailing word), as in the fixtures. The same
seed gives byte-identical tables.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

ROWS = {
    "region": 5,
    "nation": 25,
    "customer": 150,
    "supplier": 10,
    "part": 200,
    "orders": 1500,
    "lineitem": 6000,
    "events": 1000,
    "documents": 500,
    "embeddings": 500,
}

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "old", "small", "new", "red", "hot", "large", "cold"]
PART_NOUN = ["widget", "gizmo", "bolt", "plate", "anvil", "rod", "ring", "gear"]
PART_TYPES = ["ECONOMY", "STANDARD", "LARGE", "PROMO", "SMALL", "MEDIUM"]
STATUSES = ["F", "O", "P"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["view", "click", "signup", "purchase", "error"]
WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
N_SOURCES = 20
EMB_DIM = 64
N_LABELS = 10
N_USERS = 150


def _days(rng, n, start, stop):
    """n random midnight timestamps (microseconds) in [start, stop)."""
    lo = np.datetime64(start, "D").astype("int64")
    hi = np.datetime64(stop, "D").astype("int64")
    return (rng.integers(lo, hi, n) * 86_400_000_000).astype("datetime64[us]")


def _money(rng, n, lo, hi):
    return np.round(rng.uniform(lo, hi, n), 2)


def make_tables(seed: int) -> dict:
    """{table name: pyarrow.Table} for one seed."""
    rng = np.random.default_rng(seed % 2**32)
    n = ROWS
    t = {}
    t["region"] = pa.table(
        {
            "r_regionkey": pa.array(np.arange(5), pa.int32()),
            "r_name": REGIONS,
        }
    )
    nk = np.arange(n["nation"])
    t["nation"] = pa.table(
        {
            "n_nationkey": pa.array(nk, pa.int32()),
            "n_name": [f"NATION_{k}" for k in nk],
            "n_regionkey": pa.array(nk % 5, pa.int32()),
        }
    )
    ck = np.arange(n["customer"])
    t["customer"] = pa.table(
        {
            "c_custkey": pa.array(ck, pa.int64()),
            "c_name": [f"Customer#{k:09d}" for k in ck],
            "c_nationkey": pa.array(rng.integers(0, 25, len(ck)), pa.int32()),
            "c_acctbal": _money(rng, len(ck), -999.99, 9999.99),
            "c_mktsegment": rng.choice(SEGMENTS, len(ck)).tolist(),
        }
    )
    sk = np.arange(n["supplier"])
    t["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(sk, pa.int64()),
            "s_name": [f"Supplier#{k:09d}" for k in sk],
            "s_nationkey": pa.array(rng.integers(0, 25, len(sk)), pa.int32()),
            "s_acctbal": _money(rng, len(sk), -999.99, 9999.99),
        }
    )
    pk = np.arange(n["part"])
    t["part"] = pa.table(
        {
            "p_partkey": pa.array(pk, pa.int64()),
            "p_name": [
                f"{PART_ADJ[a]} {PART_NOUN[b]}"
                for a, b in zip(rng.integers(0, 8, len(pk)), rng.integers(0, 8, len(pk)))
            ],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, len(pk))],
            "p_type": rng.choice(PART_TYPES, len(pk)).tolist(),
            "p_size": pa.array(rng.integers(1, 51, len(pk)), pa.int32()),
            "p_retailprice": np.round(900.0 + (pk % 1000) / 10.0, 1),
        }
    )
    ok = np.arange(n["orders"])
    t["orders"] = pa.table(
        {
            "o_orderkey": pa.array(ok, pa.int64()),
            "o_custkey": pa.array(rng.integers(0, n["customer"], len(ok)), pa.int64()),
            "o_orderstatus": rng.choice(STATUSES, len(ok)).tolist(),
            "o_totalprice": _money(rng, len(ok), 1000.0, 500000.0),
            "o_orderdate": _days(rng, len(ok), "1995-01-01", "2001-08-02"),
            "o_orderpriority": rng.choice(PRIORITIES, len(ok)).tolist(),
        }
    )
    nl = n["lineitem"]
    t["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, n["orders"], nl), pa.int64()),
            "l_partkey": pa.array(rng.integers(0, n["part"], nl), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, n["supplier"], nl), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, nl), pa.int32()),
            "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
            "l_extendedprice": _money(rng, nl, 900.0, 105000.0),
            "l_discount": rng.integers(0, 11, nl) / 100.0,
            "l_tax": rng.integers(0, 9, nl) / 100.0,
            "l_returnflag": rng.choice(["A", "N", "R"], nl).tolist(),
            "l_linestatus": rng.choice(["F", "O"], nl).tolist(),
            "l_shipdate": _days(rng, nl, "1995-01-02", "2001-11-05"),
        }
    )
    ne = n["events"]
    start = np.datetime64("2024-01-01T00:00:00", "us").astype("int64")
    span = 30 * 86_400_000_000
    ts = np.sort(rng.integers(start, start + span, ne))
    t["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(ne), pa.int64()),
            "ts": ts.astype("datetime64[us]"),
            "user_id": pa.array(rng.integers(0, N_USERS, ne), pa.int64()),
            "event_type": rng.choice(EVENT_TYPES, ne).tolist(),
            "value": np.maximum(np.round(rng.exponential(50.0, ne), 2), 0.01),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)],
        }
    )
    t["documents"] = _documents(rng, n["documents"])
    emb = rng.standard_normal((n["embeddings"], EMB_DIM))
    emb = (emb / np.linalg.norm(emb, axis=1, keepdims=True)).astype(np.float32)
    t["embeddings"] = pa.table(
        {
            "vec_id": pa.array(np.arange(len(emb)), pa.int64()),
            "embedding": pa.array(list(emb), pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, N_LABELS, len(emb)), pa.int32()),
        }
    )
    return t


def _documents(rng, nd: int) -> pa.Table:
    texts = [
        " ".join(rng.choice(WORDS, int(rng.integers(10, 100))))
        for _ in range(nd)
    ]
    # near-duplicate twins: the later doc repeats an earlier one, with
    # one extra trailing word on one side of the pair
    n_dup = nd // 20
    src = rng.choice(nd // 2, n_dup, replace=False)
    dst = rng.choice(np.arange(nd // 2, nd), n_dup, replace=False)
    for a, b in zip(src, dst):
        texts[b] = texts[a]
        if rng.random() < 0.5:
            texts[b] += " dup"
        else:
            texts[a] += " dup"
    return pa.table(
        {
            "doc_id": pa.array(np.arange(nd), pa.int64()),
            "text": texts,
            "lang": rng.choice(LANGS, nd, p=LANG_P).tolist(),
            "source": [f"src{s}" for s in rng.integers(0, N_SOURCES, nd)],
            "n_chars": pa.array([len(x) for x in texts], pa.int64()),
        }
    )


def write_tables(seed: int, out_dir: str) -> int:
    """Write every table to ``out_dir/<name>.parquet`` (one row group
    each, like the fixtures); returns the bytes written."""
    os.makedirs(out_dir, exist_ok=True)
    total = 0
    for name, table in make_tables(seed).items():
        path = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(table, path)
        total += os.path.getsize(path)
    return total
