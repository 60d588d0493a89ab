"""Seeded generator for the benchmark's input tables.

Writes the ten tables the engine reads (``region`` .. ``embeddings``, one
parquet file each) with the same column names and types as the engine's
TPC-H-ish test corpus, so every registered query and ``run_etl`` runs on
them unchanged. The same ``(seed, sf)`` always gives the same bytes of
data; nothing is read from outside the target directory.

Row counts follow the corpus convention: ``lineitem`` is about
6,000,000 x sf rows, ``orders`` 1,500,000 x sf, ``events`` 1,000,000 x sf.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "zh", "es", "de", "fr"]
LANG_WEIGHTS = [0.44, 0.14, 0.14, 0.14, 0.14]
WORDS = (
    "a agg batch big column customer data fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the "
    "value vector window"
).split()

_DAY_US = 86_400_000_000
_EPOCH_1995 = np.datetime64("1995-01-01", "us").astype(np.int64)
_EPOCH_2024 = np.datetime64("2024-01-01", "us").astype(np.int64)
_ORDER_DAYS = 2404  # 1995-01-01 .. 2001-08-01


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype(np.int64), type=pa.timestamp("us"))


def _write(table: pa.Table, path: str) -> None:
    pq.write_table(table, path, row_group_size=max(1, table.num_rows))


def _names(prefix: str, n: int) -> list[str]:
    return [f"{prefix}#{i:09d}" for i in range(n)]


def _lineitem(rng: np.random.Generator, orders: pa.Table, n_part: int, n_supp: int) -> pa.Table:
    okeys = orders.column("o_orderkey").to_numpy()
    odates = orders.column("o_orderdate").cast(pa.int64()).to_numpy()
    lines = rng.integers(1, 8, size=len(okeys))
    n = int(lines.sum())
    order_idx = np.repeat(np.arange(len(okeys)), lines)
    starts = np.cumsum(lines) - lines
    linenumber = (np.arange(n) - np.repeat(starts, lines) + 1).astype(np.int32)
    quantity = rng.integers(1, 51, size=n).astype(np.float64)
    price = np.round(quantity * rng.uniform(900.0, 2100.0, size=n), 2)
    ship = odates[order_idx] + rng.integers(1, 122, size=n) * _DAY_US
    perm = rng.permutation(n)  # the corpus stores lineitem unsorted
    return pa.table(
        {
            "l_orderkey": pa.array(okeys[order_idx][perm], pa.int64()),
            "l_partkey": pa.array(rng.integers(0, n_part, size=n)[perm], pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, n_supp, size=n)[perm], pa.int64()),
            "l_linenumber": pa.array(linenumber[perm], pa.int32()),
            "l_quantity": pa.array(quantity[perm]),
            "l_extendedprice": pa.array(price[perm]),
            "l_discount": pa.array(rng.integers(0, 11, size=n)[perm] / 100.0),
            "l_tax": pa.array(rng.integers(0, 9, size=n)[perm] / 100.0),
            "l_returnflag": pa.array(rng.choice(["A", "N", "R"], size=n)[perm]),
            "l_linestatus": pa.array(rng.choice(["F", "O"], size=n)[perm]),
            "l_shipdate": _ts(ship[perm]),
        }
    )


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    texts: list[str] = []
    for i in range(n):
        if i >= 20 and rng.random() < 0.05:
            # near-duplicate of an earlier document, as in the corpus
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            k = int(rng.integers(8, 100))
            texts.append(" ".join(rng.choice(WORDS, size=k)))
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n), pa.int64()),
            "text": pa.array(texts),
            "lang": pa.array(rng.choice(LANGS, size=n, p=LANG_WEIGHTS)),
            "source": pa.array([f"src{i % 20}" for i in range(n)]),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def _embeddings(rng: np.random.Generator, n: int, dim: int = 64, labels: int = 10) -> pa.Table:
    centers = rng.normal(size=(labels, dim))
    label = rng.integers(0, labels, size=n)
    vecs = centers[label] + rng.normal(scale=1.5, size=(n, dim))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n), pa.int64()),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array(label, pa.int32()),
        }
    )


def generate(out_dir: str, seed: int, sf: float, orders: int | None = None) -> dict[str, pa.Table]:
    """Write all ten tables under ``out_dir``; return them (lineitem too).

    ``orders`` overrides the ``orders`` row count (and so ``lineitem``'s);
    the other tables keep their sf sizes.
    """
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    n_cust = max(150, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(200, int(200_000 * sf))
    n_ord = orders if orders is not None else max(1500, int(1_500_000 * sf))
    n_evt = max(1000, int(1_000_000 * sf))
    n_doc = max(500, int(50_000 * sf))
    n_emb = max(500, int(20_000 * sf))
    n_users = max(15, int(15_000 * sf))

    tables: dict[str, pa.Table] = {}
    tables["region"] = pa.table(
        {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": pa.array(REGIONS)}
    )
    tables["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    tables["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
            "c_name": pa.array(_names("Customer", n_cust)),
            "c_nationkey": pa.array(rng.integers(0, 25, size=n_cust), pa.int32()),
            "c_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, size=n_cust), 2)),
            "c_mktsegment": pa.array(rng.choice(SEGMENTS, size=n_cust)),
        }
    )
    tables["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
            "s_name": pa.array(_names("Supplier", n_supp)),
            "s_nationkey": pa.array(rng.integers(0, 25, size=n_supp), pa.int32()),
            "s_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, size=n_supp), 2)),
        }
    )
    tables["part"] = pa.table(
        {
            "p_partkey": pa.array(np.arange(n_part), pa.int64()),
            "p_name": pa.array(
                [f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in rng.integers(0, 8, size=(n_part, 2))]
            ),
            "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, size=n_part)]),
            "p_type": pa.array(rng.choice(PART_TYPES, size=n_part)),
            "p_size": pa.array(rng.integers(1, 51, size=n_part), pa.int32()),
            "p_retailprice": pa.array(np.round(900.0 + (np.arange(n_part) % 2000) / 10.0, 2)),
        }
    )
    tables["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, n_cust, size=n_ord), pa.int64()),
            "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], size=n_ord)),
            "o_totalprice": pa.array(np.round(rng.uniform(1000.0, 500_000.0, size=n_ord), 2)),
            "o_orderdate": _ts(_EPOCH_1995 + rng.integers(0, _ORDER_DAYS, size=n_ord) * _DAY_US),
            "o_orderpriority": pa.array(rng.choice(PRIORITIES, size=n_ord)),
        }
    )
    tables["lineitem"] = _lineitem(rng, tables["orders"], n_part, n_supp)
    ts = np.sort(_EPOCH_2024 + rng.integers(0, 30 * _DAY_US, size=n_evt))
    tables["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(n_evt), pa.int64()),
            "ts": _ts(ts),
            "user_id": pa.array(rng.integers(0, n_users, size=n_evt), pa.int64()),
            "event_type": pa.array(rng.choice(EVENT_TYPES, size=n_evt)),
            "value": pa.array(np.round(rng.uniform(0.01, 500.0, size=n_evt), 2)),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, size=n_evt)]),
        }
    )
    tables["documents"] = _documents(rng, n_doc)
    tables["embeddings"] = _embeddings(rng, n_emb)
    for name, table in tables.items():
        _write(table, os.path.join(out_dir, f"{name}.parquet"))
    return tables
