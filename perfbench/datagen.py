"""Deterministic input generation for the benchmark.

Everything the program under test reads is made here from a seed: the
TPC-H-shaped tables (same names, columns and types as the engine's test
data), the change events of the CDC workloads, and the envelope files the
stream source consumes. The same seed gives byte-identical inputs.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]

# Rows per table at scale factor 1: the engine's test data ratios (sf0.1 has
# 150k orders and 600k lineitems), except documents, which are ten times
# fewer because the DuckDB oracle of the near-duplicate entries compares
# every pair of documents.
_ROWS_PER_SF = {
    "customer": 150_000,
    "supplier": 10_000,
    "part": 200_000,
    "orders": 1_500_000,
    "events": 1_000_000,
    "documents": 5_000,
    "embeddings": 20_000,
}

_WORDS = (
    "join hash row batch scan column customer filter small slow merge order "
    "vector line table data agg value key stream window a spark part group "
    "big sort query fast the"
).split()
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_STATUSES = ["F", "O", "P"]
_EPOCH_1995_US = 788_918_400_000_000  # 1995-01-01T00:00:00Z in microseconds
_DAY_US = 86_400_000_000

ORDERS_SCHEMA = pa.schema([
    ("o_orderkey", pa.int64()),
    ("o_custkey", pa.int64()),
    ("o_orderstatus", pa.string()),
    ("o_totalprice", pa.float64()),
    ("o_orderdate", pa.timestamp("us")),
    ("o_orderpriority", pa.string()),
])


def _n(name: str, sf: float) -> int:
    return max(1, int(_ROWS_PER_SF[name] * sf))


def _ts(days: np.ndarray) -> pa.Array:
    return pa.array(_EPOCH_1995_US + days.astype(np.int64) * _DAY_US, pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def orders_table(rng: np.random.Generator, n_orders: int, n_cust: int) -> pa.Table:
    return pa.table(
        {
            "o_orderkey": np.arange(n_orders, dtype=np.int64),
            # every third customer places no order, so orphan checks find some
            "o_custkey": (rng.integers(0, max(1, n_cust * 2 // 3), n_orders) * 3 // 2).astype(np.int64),
            "o_orderstatus": rng.choice(_STATUSES, n_orders),
            "o_totalprice": _money(rng, 900.0, 500_000.0, n_orders),
            "o_orderdate": _ts(rng.integers(0, 2400, n_orders)),
            "o_orderpriority": rng.choice(_PRIORITIES, n_orders),
        },
        schema=ORDERS_SCHEMA,
    )


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    words = np.array(_WORDS)
    texts: list[str] = []
    for i in range(n):
        # one doc in twenty re-publishes an earlier one with a suffix, so the
        # near-duplicate operators find real families
        if i > 10 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(words[rng.integers(0, len(words), int(rng.integers(8, 90)))]))
    return pa.table({
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(["en", "en", "en", "de", "es", "fr", "zh"], n),
        "source": [f"src{k}" for k in rng.integers(0, 20, n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })


def generate_tables(seed: int, sf: float) -> dict[str, pa.Table]:
    """All ten analytic tables at scale factor ``sf``."""
    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part = _n("customer", sf), _n("supplier", sf), _n("part", sf)
    n_orders = _n("orders", sf)
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
    t["customer"] = pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": rng.choice(_SEGMENTS, n_cust),
    })
    t["supplier"] = pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    })
    adj = np.array(["small", "red", "blue", "hot", "old", "large"])
    noun = np.array(["ring", "widget", "bolt", "gear", "gizmo", "plate"])
    t["part"] = pa.table({
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": np.char.add(np.char.add(rng.choice(adj, n_part), " "), rng.choice(noun, n_part)),
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"], n_part),
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 2),
    })
    t["orders"] = orders_table(rng, n_orders, n_cust)
    lines = rng.integers(1, 8, n_orders)
    okey = np.repeat(np.arange(n_orders, dtype=np.int64), lines)
    lnum = (np.arange(len(okey)) - np.repeat(np.cumsum(lines) - lines, lines) + 1).astype(np.int32)
    n_li = len(okey)
    perm = rng.permutation(n_li)
    # parts follow a skewed popularity, so part pairs co-occur in orders
    part = (rng.zipf(1.3, n_li) % n_part).astype(np.int64)
    t["lineitem"] = pa.table({
        "l_orderkey": okey[perm],
        "l_partkey": part[perm],
        "l_suppkey": rng.integers(0, n_supp, n_li).astype(np.int64),
        "l_linenumber": lnum[perm],
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 100_000.0, n_li),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_li),
        "l_linestatus": rng.choice(["F", "O"], n_li),
        "l_shipdate": _ts(rng.integers(1, 2500, n_li)),
    })
    n_ev = _n("events", sf)
    ev_ts = np.sort(rng.integers(0, 30 * _DAY_US, n_ev)) + 1_704_067_200_000_000
    t["events"] = pa.table({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": pa.array(ev_ts, pa.timestamp("us")),
        "user_id": rng.integers(0, max(10, n_ev // 60), n_ev).astype(np.int64),
        "event_type": rng.choice(["click", "error", "purchase", "signup", "view"], n_ev),
        "value": _money(rng, 0.0, 100.0, n_ev),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })
    t["documents"] = _documents(rng, _n("documents", sf))
    n_emb = _n("embeddings", sf)
    t["embeddings"] = pa.table({
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": pa.array(list(rng.normal(0, 0.12, (n_emb, 64)).astype(np.float32)),
                              pa.list_(pa.float32())),
        "label": rng.integers(0, 10, n_emb).astype(np.int32),
    })
    return t


def write_tables(tables: dict[str, pa.Table], out_dir: str) -> None:
    """One parquet file per table at ``<out_dir>/<name>.parquet``, the
    layout ``cdc_connector_spark.tables.load_table`` reads."""
    os.makedirs(out_dir, exist_ok=True)
    for name, tbl in tables.items():
        pq.write_table(tbl, os.path.join(out_dir, f"{name}.parquet"))


# -- change events -----------------------------------------------------------

@dataclass
class Events:
    """A change log over ``orders``, in commit (seq) order.

    ``after`` holds the new row image (None for deletes); ``key`` is the
    order key. ``ts_ms`` is non-decreasing with seq, and several events may
    share one ``ts_ms`` (the tie that seq breaks)."""

    key: np.ndarray
    op: list[str]
    ts_ms: np.ndarray
    seq: np.ndarray
    after: list[dict | None]

    def __len__(self) -> int:
        return len(self.key)


def generate_events(
    seed: int,
    base: pa.Table,
    n_events: int,
    delete_frac: float = 0.1,
    zipf_a: float | None = None,
    seq0: int = 0,
    ts0_ms: int = 1_700_000_000_000,
    live: set[int] | None = None,
) -> Events:
    """``n_events`` changes over the keys of ``base`` (an orders table).

    Keys are uniform, or Zipf-skewed with exponent ``zipf_a``. A key that
    is live is updated, or deleted with probability ``delete_frac``; a
    deleted key comes back as an insert. ``live`` carries the live-key set
    between calls and is updated in place."""
    rng = np.random.default_rng(seed)
    n_keys = base.num_rows
    if zipf_a is None:
        keys = rng.integers(0, n_keys, n_events)
    else:
        # rank -> key through a seeded permutation, so hot keys spread over buckets
        keys = rng.permutation(n_keys)[(rng.zipf(zipf_a, n_events) - 1) % n_keys]
    if live is None:
        live = set(range(n_keys))
    cust = base.column("o_custkey").to_numpy()
    status = rng.choice(_STATUSES, n_events)
    price = _money(rng, 900.0, 500_000.0, n_events)
    days = rng.integers(0, 2400, n_events)
    prio = rng.choice(_PRIORITIES, n_events)
    coin = rng.random(n_events)
    # 2-3 events share each millisecond, so (ts, seq) ties are common
    ts = ts0_ms + np.cumsum(rng.integers(0, 2, n_events))
    ops: list[str] = []
    after: list[dict | None] = []
    for i, k in enumerate(keys.tolist()):
        if k in live and coin[i] < delete_frac:
            ops.append("d")
            after.append(None)
            live.discard(k)
            continue
        ops.append("u" if k in live else "c")
        live.add(k)
        after.append({
            "o_orderkey": k,
            "o_custkey": int(cust[k]),
            "o_orderstatus": str(status[i]),
            "o_totalprice": float(price[i]),
            "o_orderdate": int(_EPOCH_1995_US + int(days[i]) * _DAY_US),
            "o_orderpriority": str(prio[i]),
        })
    return Events(
        key=keys.astype(np.int64),
        op=ops,
        ts_ms=ts.astype(np.int64),
        seq=np.arange(seq0, seq0 + n_events, dtype=np.int64),
        after=after,
    )


def envelope_table(ev: Events, idx: np.ndarray | list[int]) -> pa.Table:
    """The envelope rows (``cdc_connector_spark.changelog.envelope``) for
    the events at positions ``idx``."""
    row_t = pa.struct(list(ORDERS_SCHEMA))
    rows, befores = [], []
    for i in idx:
        a = ev.after[i]
        rows.append(a)
        befores.append({"o_orderkey": int(ev.key[i])} if a is None else None)
    n = len(rows)
    return pa.table({
        "before": pa.array(befores, row_t),
        "after": pa.array(rows, row_t),
        "op": pa.array([ev.op[i] for i in idx], pa.string()),
        "ts_ms": pa.array(ev.ts_ms[idx], pa.int64()),
        "source_db": pa.array(["bench"] * n, pa.string()),
        "source_table": pa.array(["orders"] * n, pa.string()),
        "seq": pa.array(ev.seq[idx], pa.int64()),
    })


def write_envelope_file(tbl: pa.Table, out_dir: str, name: str, mtime: float | None = None) -> str:
    """Write under a hidden name, then rename, so the file source never
    lists a half-written file. ``mtime`` pins the modification time the
    file source orders by."""
    tmp = os.path.join(out_dir, f".{name}.tmp")
    final = os.path.join(out_dir, name)
    pq.write_table(tbl, tmp)
    if mtime is not None:
        os.utime(tmp, (mtime, mtime))
    os.rename(tmp, final)
    return final
