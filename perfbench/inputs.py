"""Seeded input tables for the benchmark.

Writes the ten parquet tables the query registry and the DuckDB
oracles read (``region`` ... ``embeddings``), with the same schemas and
the same kind of value distributions as the project's synthetic test
data: uniform keys and measures, an events stream sorted by time, a
30-word document vocabulary with planted near-duplicates (a copy of an
earlier document plus `` dup``), and random unit embeddings.

One difference is deliberate: order dates rise with the order key and
every line ships 1-30 days after its order, as in a binlog where ids
grow with time. The CDC workload splits its backlog by order key, so
its files then arrive roughly in event-time order and the watermark
has real work to do.

The same seed and scale always give byte-identical tables.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

_VOCAB = (
    "a agg batch big column customer data fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the value "
    "vector window"
).split()
_PART_WORDS = (
    ["small", "red", "blue", "hot", "old", "large", "cold", "new"],
    ["ring", "widget", "bolt", "gear", "gizmo", "plate", "anvil", "rod"],
)
_DAY_US = 86_400 * 1_000_000
_EPOCH_1995 = np.datetime64("1995-01-01", "us")
_EPOCH_2024 = np.datetime64("2024-01-01", "us")


def _money(x: np.ndarray) -> np.ndarray:
    return np.round(x, 2)


def _write(out_dir: str, name: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))


def generate(out_dir: str, seed: int, sf: float, docs: int = 500) -> dict[str, int]:
    """Write every table under ``out_dir``; return rows per table."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    n_cust, n_supp = int(150_000 * sf), max(10, int(10_000 * sf))
    n_part, n_ord = int(200_000 * sf), int(1_500_000 * sf)
    n_line, n_ev = int(6_000_000 * sf), int(1_000_000 * sf)

    _write(out_dir, "region", {
        "r_regionkey": pa.array(np.arange(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    _write(out_dir, "nation", {
        "n_nationkey": pa.array(np.arange(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25) % 5, pa.int32()),
    })
    segments = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
    _write(out_dir, "customer", {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng.uniform(-999.99, 9999.99, n_cust)),
        "c_mktsegment": segments[rng.integers(0, 5, n_cust)],
    })
    _write(out_dir, "supplier", {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng.uniform(-999.99, 9999.99, n_supp)),
    })
    a, b = _PART_WORDS
    types = np.array(["ECONOMY", "SMALL", "MEDIUM", "PROMO", "STANDARD", "LARGE"])
    retail = np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 1)
    _write(out_dir, "part", {
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": [f"{a[i]} {b[j]}" for i, j in rng.integers(0, 8, (n_part, 2))],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
        "p_type": types[rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": retail,
    })

    # orders: dates rise with the key (binlog order), 1995-01-01 .. ~2001-08
    span_days = 2400
    odate_day = np.sort(rng.integers(0, span_days, n_ord))
    odate = _EPOCH_1995 + odate_day.astype("timedelta64[D]")
    prio = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
    _write(out_dir, "orders", {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng.uniform(1000.0, 500_000.0, n_ord)),
        "o_orderdate": pa.array(odate, pa.timestamp("us")),
        "o_orderpriority": prio[rng.integers(0, 5, n_ord)],
    })

    # 1..7 lines per order, numbered 1..k within it, so (orderkey,
    # linenumber) is unique as in TPC-H: cdc_gen builds line primary keys
    # as orderkey*8+linenumber, and a binlog never repeats a primary key.
    per_order = rng.integers(1, 8, n_ord)
    short = n_line - int(per_order.sum())  # pin the total line count
    room = np.flatnonzero(per_order < 7 if short > 0 else per_order > 1)
    per_order[rng.choice(room, abs(short), replace=False)] += np.sign(short)
    l_order = np.repeat(np.arange(n_ord), per_order)
    l_number = np.arange(n_line) - np.repeat(np.cumsum(per_order) - per_order, per_order) + 1
    perm = rng.permutation(n_line)  # stored unsorted, like the test data
    l_order, l_number = l_order[perm], l_number[perm]
    l_part = rng.integers(0, n_part, n_line)
    qty = rng.integers(1, 51, n_line).astype(np.float64)
    ship_day = odate_day[l_order] + rng.integers(1, 31, n_line)
    _write(out_dir, "lineitem", {
        "l_orderkey": l_order.astype(np.int64),
        "l_partkey": l_part.astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_line),
        "l_linenumber": pa.array(l_number, pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": _money(qty * retail[l_part] * rng.uniform(0.02, 2.3, n_line)),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_line)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_line)],
        "l_shipdate": pa.array(
            _EPOCH_1995 + ship_day.astype("timedelta64[D]"), pa.timestamp("us")
        ),
    })

    gaps = rng.exponential(30 * _DAY_US / max(n_ev, 1), n_ev).astype(np.int64)
    ev_ts = _EPOCH_2024 + np.cumsum(gaps).astype("timedelta64[us]")
    _write(out_dir, "events", {
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": pa.array(ev_ts, pa.timestamp("us")),
        "user_id": rng.integers(0, max(10, n_ev // 66), n_ev),
        "event_type": np.array(["click", "error", "purchase", "signup", "view"])[
            rng.integers(0, 5, n_ev)
        ],
        "value": np.maximum(_money(rng.exponential(50.0, n_ev)), 0.01),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })

    vocab = np.array(_VOCAB)
    texts: list[str] = []
    for i in range(docs):
        if i > 20 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(vocab[rng.integers(0, len(vocab), rng.integers(10, 100))]))
    langs = np.array(["en", "en", "en", "de", "es", "fr", "zh"])
    _write(out_dir, "documents", {
        "doc_id": np.arange(docs, dtype=np.int64),
        "text": texts,
        "lang": langs[rng.integers(0, len(langs), docs)],
        "source": [f"src{i % 20}" for i in range(docs)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })

    emb = rng.standard_normal((docs, 64)).astype(np.float32)
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    _write(out_dir, "embeddings", {
        "vec_id": np.arange(docs, dtype=np.int64),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, docs), pa.int32()),
    })
    return {
        "customer": n_cust, "supplier": n_supp, "part": n_part, "orders": n_ord,
        "lineitem": n_line, "events": n_ev, "documents": docs, "embeddings": docs,
    }
