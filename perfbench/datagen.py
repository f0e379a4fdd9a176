"""Seeded generator for the benchmark's input tables.

Writes the star schema the registered queries read (``region nation
customer supplier part orders lineitem events documents embeddings``)
as one parquet file per table, with the column names, types and value
domains of the TPC-H-ish test data the queries are written for: independent uniform
columns, TIMESTAMP_NTZ dates, 64-d unit embeddings, and documents drawn
from a 30-word vocabulary of which 5 % are planted near-duplicates
(another document's text plus `` dup``). Row counts scale linearly in
``sf`` with the same per-table ratios (lineitem 6M x sf, orders 1.5M x
sf, ...). The same ``(sf, seed)`` always gives byte-identical tables.

With ``replicas > 1`` every table becomes a directory of part files: a
key-offset replica in the way of ``tools/make_scaled.build`` (its
``KEYED`` map says which columns of which table shift), with replica
``r`` adding ``r * offset`` to each key column.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

VOCAB = (
    "a agg batch big column customer data fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the "
    "value vector window"
).split()
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.41, 0.1475, 0.1475, 0.1475, 0.1475]
DAY_US = 86_400 * 1_000_000
EPOCH_1995 = np.datetime64("1995-01-01", "us").astype(np.int64)
EPOCH_2024 = np.datetime64("2024-01-01", "us").astype(np.int64)


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype(np.int64), type=pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _tables(sf: float, seed: int) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    n_cust = max(150, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(200, int(200_000 * sf))
    n_ord = max(1_500, int(1_500_000 * sf))
    n_line = max(6_000, int(6_000_000 * sf))
    n_ev = max(1_000, int(1_000_000 * sf))
    n_users = max(15, int(15_000 * sf))
    n_docs = max(500, int(50_000 * sf))
    n_vec = max(500, int(20_000 * sf))

    t: dict[str, pa.Table] = {}
    t["region"] = pa.table(
        {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": REGIONS}
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
            "c_custkey": np.arange(n_cust, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": rng.choice(SEGMENTS, n_cust),
        }
    )
    t["supplier"] = pa.table(
        {
            "s_suppkey": np.arange(n_supp, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
        }
    )
    t["part"] = pa.table(
        {
            "p_partkey": np.arange(n_part, dtype=np.int64),
            "p_name": [
                f"{ADJ[a]} {NOUN[b]}"
                for a, b in zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))
            ],
            "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
            "p_type": rng.choice(PTYPES, n_part),
            "p_size": rng.integers(1, 51, n_part).astype(np.int32),
            "p_retailprice": np.round(900.0 + rng.integers(0, 1000, n_part) / 10, 1),
        }
    )
    t["orders"] = pa.table(
        {
            "o_orderkey": np.arange(n_ord, dtype=np.int64),
            "o_custkey": rng.integers(0, n_cust, n_ord),
            "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
            "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
            "o_orderdate": _ts(EPOCH_1995 + rng.integers(0, 2404, n_ord) * DAY_US),
            "o_orderpriority": rng.choice(PRIORITIES, n_ord),
        }
    )
    # 1-7 lines per order, numbered from 1, until n_line rows are used
    okeys = np.sort(rng.integers(0, n_ord, n_line))
    starts = np.r_[0, np.flatnonzero(np.diff(okeys)) + 1]
    lineno = np.arange(n_line) - np.repeat(starts, np.diff(np.r_[starts, n_line])) + 1
    qty = rng.integers(1, 51, n_line).astype(np.float64)
    t["lineitem"] = pa.table(
        {
            "l_orderkey": okeys,
            "l_partkey": rng.integers(0, n_part, n_line),
            "l_suppkey": rng.integers(0, n_supp, n_line),
            "l_linenumber": lineno.astype(np.int32),
            "l_quantity": qty,
            "l_extendedprice": np.round(qty * rng.uniform(18.0, 2100.0, n_line), 2),
            "l_discount": rng.integers(0, 11, n_line) / 100,
            "l_tax": rng.integers(0, 9, n_line) / 100,
            "l_returnflag": rng.choice(["A", "N", "R"], n_line),
            "l_linestatus": rng.choice(["F", "O"], n_line),
            "l_shipdate": _ts(EPOCH_1995 + rng.integers(1, 2500, n_line) * DAY_US),
        }
    )
    ev_ts = np.sort(EPOCH_2024 + rng.integers(0, 30 * DAY_US, n_ev))
    t["events"] = pa.table(
        {
            "event_id": np.arange(n_ev, dtype=np.int64),
            "ts": _ts(ev_ts),
            "user_id": rng.integers(0, n_users, n_ev),
            "event_type": rng.choice(EVENT_TYPES, n_ev),
            "value": _money(rng, 0.01, 500.0, n_ev),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
        }
    )
    vocab = np.array(VOCAB)
    texts = [" ".join(vocab[rng.integers(0, len(VOCAB), k)]) for k in rng.integers(10, 101, n_docs)]
    for i in rng.choice(n_docs, n_docs // 20, replace=False):
        texts[i] = texts[(i + 1 + int(rng.integers(0, n_docs - 1))) % n_docs] + " dup"
    t["documents"] = pa.table(
        {
            "doc_id": np.arange(n_docs, dtype=np.int64),
            "text": texts,
            "lang": rng.choice(LANGS, n_docs, p=LANG_P),
            "source": [f"src{i % 20}" for i in range(n_docs)],
            "n_chars": np.array([len(s) for s in texts], dtype=np.int64),
        }
    )
    vec = rng.standard_normal((n_vec, 64)).astype(np.float32)
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    t["embeddings"] = pa.table(
        {
            "vec_id": np.arange(n_vec, dtype=np.int64),
            "embedding": pa.array(list(vec), type=pa.list_(pa.float32())),
            "label": rng.integers(0, 10, n_vec).astype(np.int32),
        }
    )
    return t


def generate(out_dir: str, sf: float, seed: int, replicas: int = 1, offset: int = 0) -> None:
    """Write every table of scale ``sf`` for ``seed`` under ``out_dir``."""
    os.makedirs(out_dir, exist_ok=True)
    tables = _tables(sf, seed)
    if replicas == 1:
        for name, table in tables.items():
            pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
        return
    from tools.make_scaled import KEYED

    for name, table in tables.items():
        keys = KEYED[name]
        d = os.path.join(out_dir, f"{name}.parquet")
        os.makedirs(d)
        for r in range(replicas if keys else 1):
            part = table
            for k in keys:
                shifted = pc.add(part[k], pa.scalar(r * offset, part.schema.field(k).type))
                part = part.set_column(part.schema.get_field_index(k), k, shifted)
            pq.write_table(part, os.path.join(d, f"part-{r:05d}.parquet"))
