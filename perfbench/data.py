"""Seeded input generators. The same seed always yields the same inputs.

Everything the benchmark feeds the engine is made here, from
``numpy.random.default_rng(seed)``: the TPC-H-ish star schema that the
registry's queries and DuckDB oracles read (same table and column names
and value domains as the project's fixture tables), the lineitem rows
replayed over NATS subjects, and the Zipf-keyed event stream.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

_EPOCH_1995 = np.datetime64("1995-01-01", "D")
_VOCAB = (
    "a the row scan slow fast table value part hash merge sort join key "
    "spark agg line order data small big customer query window stream "
    "group filter column batch vector"
).split()
_LANGS = ["en", "en", "en", "es", "zh", "de", "fr"]


def _days(rng, n: int, span_days: int) -> np.ndarray:
    return (_EPOCH_1995 + rng.integers(0, span_days, n)).astype("datetime64[us]")


def lineitem_table(seed: int, n_rows: int, n_orders: int) -> pa.Table:
    rng = np.random.default_rng([seed, 1])
    qty = rng.integers(1, 51, n_rows).astype(np.float64)
    price = np.round(qty * rng.uniform(900.0, 2100.0, n_rows), 2)
    return pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, n_orders, n_rows), pa.int64()),
            "l_partkey": pa.array(rng.integers(0, max(1, n_rows // 30), n_rows), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, max(1, n_rows // 600), n_rows), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, n_rows), pa.int32()),
            "l_quantity": qty,
            "l_extendedprice": price,
            "l_discount": np.round(rng.integers(0, 11, n_rows) / 100.0, 2),
            "l_tax": np.round(rng.integers(0, 9, n_rows) / 100.0, 2),
            "l_returnflag": pa.array(rng.choice(["A", "N", "R"], n_rows)),
            "l_linestatus": pa.array(rng.choice(["F", "O"], n_rows)),
            "l_shipdate": pa.array(_days(rng, n_rows, 2500), pa.timestamp("us")),
        }
    )


def star_schema(seed: int, n_lineitem: int) -> dict[str, pa.Table]:
    """All ten fixture tables, sized from the lineitem row count (the
    fixture ratios: orders = lineitem/4, customer = lineitem/40, ...)."""
    rng = np.random.default_rng([seed, 0])
    n_orders = max(4, n_lineitem // 4)
    n_cust = max(5, n_lineitem // 40)
    n_part = max(5, n_lineitem // 30)
    n_supp = max(5, n_lineitem // 600)
    n_events = max(10, n_lineitem // 6)
    n_docs = max(20, min(500, n_lineitem // 120))
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
            "c_custkey": pa.array(range(n_cust), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
            "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
            "c_mktsegment": pa.array(
                rng.choice(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], n_cust)
            ),
        }
    )
    t["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(range(n_supp), pa.int64()),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
            "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2),
        }
    )
    adj = ["small", "large", "red", "blue", "hot", "cold", "old", "new"]
    noun = ["ring", "widget", "bolt", "rod", "gear", "plate", "anvil", "gizmo"]
    t["part"] = pa.table(
        {
            "p_partkey": pa.array(range(n_part), pa.int64()),
            "p_name": [f"{adj[a]} {noun[b]}" for a, b in rng.integers(0, 8, (n_part, 2))],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
            "p_type": pa.array(
                rng.choice(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"], n_part)
            ),
            "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
            "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 2),
        }
    )
    t["orders"] = pa.table(
        {
            "o_orderkey": pa.array(range(n_orders), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_orders), pa.int64()),
            "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], n_orders)),
            "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, n_orders), 2),
            "o_orderdate": pa.array(_days(rng, n_orders, 2400), pa.timestamp("us")),
            "o_orderpriority": pa.array(
                rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_orders)
            ),
        }
    )
    t["lineitem"] = lineitem_table(seed, n_lineitem, n_orders)
    ev_us = np.sort(rng.integers(0, 30 * 86400 * 10**6, n_events))
    t["events"] = pa.table(
        {
            "event_id": pa.array(range(n_events), pa.int64()),
            "ts": pa.array(np.datetime64("2024-01-01", "us") + ev_us, pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, max(5, n_events // 66), n_events), pa.int64()),
            "event_type": pa.array(rng.choice(["click", "view", "purchase", "signup", "error"], n_events)),
            "value": np.round(rng.exponential(50.0, n_events) + 0.01, 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)],
        }
    )
    texts: list[str] = []
    for i in range(n_docs):
        if i >= 10 and rng.random() < 0.08:  # near-duplicate of an earlier doc
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            n_words = int(rng.integers(10, 100))
            texts.append(" ".join(rng.choice(_VOCAB, n_words)))
    t["documents"] = pa.table(
        {
            "doc_id": pa.array(range(n_docs), pa.int64()),
            "text": texts,
            "lang": pa.array(rng.choice(_LANGS, n_docs)),
            "source": [f"src{s}" for s in rng.integers(0, 20, n_docs)],
            "n_chars": pa.array([len(s) for s in texts], pa.int64()),
        }
    )
    labels = rng.integers(0, 10, n_docs)
    centers = rng.normal(0.0, 1.0, (10, 64))
    vecs = centers[labels] + rng.normal(0.0, 0.5, (n_docs, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    t["embeddings"] = pa.table(
        {
            "vec_id": pa.array(range(n_docs), pa.int64()),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array(labels, pa.int32()),
        }
    )
    return t


def write_star_schema(tables: dict[str, pa.Table], out_dir: str) -> None:
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))


# -- NATS wire rows ---------------------------------------------------------

# The seven wire-legal lineitem columns replayed over NATS subjects.
LINEITEM_WIRE_SCHEMA = (
    "l_orderkey INT, l_quantity DOUBLE, l_extendedprice DOUBLE, "
    "l_discount DOUBLE, l_returnflag STRING, l_linestatus STRING, "
    "l_shipdate TIMESTAMP"
)
LINEITEM_WIRE_COLUMNS = [
    "l_orderkey",
    "l_quantity",
    "l_extendedprice",
    "l_discount",
    "l_returnflag",
    "l_linestatus",
    "l_shipdate",
]


def lineitem_wire_rows(table: pa.Table, seed: int) -> list[tuple]:
    """The lineitem rows in a seed-fixed shuffled order, as Python tuples
    of the seven wire columns (shipdate as a naive datetime)."""
    order = np.random.default_rng([seed, 2]).permutation(table.num_rows)
    cols = table.select(LINEITEM_WIRE_COLUMNS).take(pa.array(order)).to_pydict()
    return list(zip(*(cols[c] for c in LINEITEM_WIRE_COLUMNS)))


def encode_csv(row: tuple) -> bytes:
    """The wire line for a row: comma-joined, no quoting, timestamps as
    ``%Y-%m-%d %H:%M:%S`` (the reference codec's format)."""
    out = []
    for v in row:
        if isinstance(v, dt.datetime):
            out.append(v.strftime("%Y-%m-%d %H:%M:%S"))
        elif isinstance(v, float):
            out.append(repr(v))
        else:
            out.append(str(v))
    return ",".join(out).encode()


# -- stream events ------------------------------------------------------------

# One column of every wire type, so decode does real work per event.
EVENT_SCHEMA = "k INT, v DOUBLE, ts TIMESTAMP, tag STRING, ok BOOLEAN, day DATE"
_TAGS = ["click", "view", "purchase", "signup", "error"]


def event_lines(seed: int, salt: int, n: int, n_keys: int) -> tuple[list[int], list[bytes]]:
    """``n`` seeded events as (keys, CSV wire lines)."""
    rng = np.random.default_rng([seed, 4, salt])
    keys = zipf_keys(seed * 7919 + salt, n, n_keys).tolist()
    vals = np.round(rng.uniform(0, 100, n), 2).tolist()
    secs = rng.integers(0, 86400 * 365, n)
    stamps = (np.datetime64("2024-01-01T00:00:00") + secs).astype(str)
    tags = rng.integers(0, len(_TAGS), n).tolist()
    flags = rng.integers(0, 2, n).tolist()
    lines = [
        f"{k},{v!r},{t[:10]} {t[11:19]},{_TAGS[g]},{'true' if f else 'false'},{t[:10]}".encode()
        for k, v, t, g, f in zip(keys, vals, stamps.tolist(), tags, flags)
    ]
    return keys, lines


def zipf_keys(seed: int, n: int, n_keys: int, skew: float = 1.1) -> np.ndarray:
    """Bounded Zipf keys in [0, n_keys): rank r drawn with weight r^-skew."""
    rng = np.random.default_rng([seed, 3])
    w = 1.0 / np.arange(1, n_keys + 1) ** skew
    return rng.choice(n_keys, size=n, p=w / w.sum()).astype(np.int64)
