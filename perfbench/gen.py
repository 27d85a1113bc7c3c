"""Seeded input generator for the benchmark.

Builds a TPC-H-ish star schema plus the events / documents / embeddings
extension tables with the same names, column types and value domains as
the engine's test data (region, nation, customer, supplier, part,
orders, lineitem, events, documents, embeddings), from a seed alone.
Nothing outside the generated directory is read. Every foreign key is
kept: lineitem -> orders/part/supplier, orders -> customer,
customer/supplier -> nation -> region, events.user_id -> customer.

The same (seed, sf) writes byte-identical parquet files: the tables are
built from one ``numpy.random.Generator`` in a fixed order and written
by pyarrow without pandas metadata or timestamps.
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

REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PART_ADJ = ("blue", "cold", "hot", "large", "new", "old", "red", "small")
PART_NOUN = ("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget")
PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
LANGS = ("de", "en", "es", "fr", "zh")
LANG_P = (0.14, 0.41, 0.15, 0.15, 0.15)
WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
EMBED_DIM = 64
N_LABELS = 10
N_ITEM_REFS = 100  # events.props {"k": 0..99}: the item catalog of the stream

DAY_US = 86_400_000_000
ORDER_EPOCH_US = 788_918_400_000_000  # 1995-01-01
ORDER_SPAN_DAYS = 2404  # .. 2001-08-01
EVENT_EPOCH_US = 1_704_067_200_000_000  # 2024-01-01
EVENT_SPAN_US = 30 * DAY_US


def table_sizes(sf: float) -> dict[str, int]:
    """Row counts per table at scale factor ``sf`` (the test data's
    proportions: lineitem ~ 6M x sf, events 1M x sf)."""
    return {
        "customer": max(50, int(150_000 * sf)),
        "supplier": max(10, int(10_000 * sf)),
        "part": max(100, int(200_000 * sf)),
        "orders": max(500, int(1_500_000 * sf)),
        "events": max(1_000, int(1_000_000 * sf)),
        "event_users": max(50, int(15_000 * sf)),
        "documents": max(500, int(50_000 * sf)),
        "embeddings": max(500, int(20_000 * sf)),
    }


def _strings(fmt: str, n: int) -> pa.Array:
    return pa.array([fmt % i for i in range(n)], pa.string())


def _pick(rng: np.random.Generator, choices, n: int, p=None) -> pa.Array:
    idx = rng.choice(len(choices), size=n, p=p)
    return pa.DictionaryArray.from_arrays(
        pa.array(idx, pa.int32()), pa.array(choices, pa.string())
    ).cast(pa.string())


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype(np.int64), pa.timestamp("us"))


def build_tables(seed: int, sf: float) -> dict[str, pa.Table]:
    """All ten tables, drawn in a fixed order from one seeded generator."""
    rng = np.random.default_rng(seed)
    n = table_sizes(sf)
    t: dict[str, pa.Table] = {}

    t["region"] = pa.table(
        {
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": pa.array(REGIONS, pa.string()),
        }
    )
    t["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": _strings("NATION_%d", 25),
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    nc = n["customer"]
    t["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(nc), pa.int64()),
            "c_name": _strings("Customer#%09d", nc),
            "c_nationkey": pa.array(rng.integers(0, 25, nc), pa.int32()),
            "c_acctbal": _money(rng, -999.99, 9999.99, nc),
            "c_mktsegment": _pick(rng, SEGMENTS, nc),
        }
    )
    ns = n["supplier"]
    t["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(ns), pa.int64()),
            "s_name": _strings("Supplier#%09d", ns),
            "s_nationkey": pa.array(rng.integers(0, 25, ns), pa.int32()),
            "s_acctbal": _money(rng, -999.99, 9999.99, ns),
        }
    )
    npart = n["part"]
    adj = rng.integers(0, len(PART_ADJ), npart)
    noun = rng.integers(0, len(PART_NOUN), npart)
    t["part"] = pa.table(
        {
            "p_partkey": pa.array(np.arange(npart), pa.int64()),
            "p_name": pa.array(
                [f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in zip(adj, noun)],
                pa.string(),
            ),
            "p_brand": pa.array(
                [f"Brand#{b}" for b in rng.integers(1, 26, npart)], pa.string()
            ),
            "p_type": _pick(rng, PART_TYPES, npart),
            "p_size": pa.array(rng.integers(1, 51, npart), pa.int32()),
            "p_retailprice": np.round(900.0 + (np.arange(npart) % 1000) * 0.1, 1),
        }
    )
    no = n["orders"]
    odate = ORDER_EPOCH_US + rng.integers(0, ORDER_SPAN_DAYS + 1, no) * DAY_US
    t["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(no), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, nc, no), pa.int64()),
            "o_orderstatus": _pick(rng, ("F", "O", "P"), no),
            "o_totalprice": _money(rng, 1000.0, 500_000.0, no),
            "o_orderdate": _ts(odate),
            "o_orderpriority": _pick(rng, PRIORITIES, no),
        }
    )
    lines = rng.integers(1, 8, no)
    nl = int(lines.sum())
    okey = np.repeat(np.arange(no), lines)
    starts = np.repeat(np.cumsum(lines) - lines, lines)
    linenumber = np.arange(nl) - starts + 1
    order = rng.permutation(nl)  # the test data stores lineitem unclustered
    qty = rng.integers(1, 51, nl).astype(np.float64)
    ship = odate[okey] + rng.integers(-2400, 2500, nl) * DAY_US
    ship = np.clip(ship, ORDER_EPOCH_US, ORDER_EPOCH_US + ORDER_SPAN_DAYS * DAY_US)
    t["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(okey[order], pa.int64()),
            "l_partkey": pa.array(rng.integers(0, npart, nl), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, ns, nl), pa.int64()),
            "l_linenumber": pa.array(linenumber[order], pa.int32()),
            "l_quantity": qty,
            "l_extendedprice": _money(rng, 900.0, 105_000.0, nl),
            "l_discount": np.round(rng.integers(0, 11, nl) * 0.01, 2),
            "l_tax": np.round(rng.integers(0, 9, nl) * 0.01, 2),
            "l_returnflag": _pick(rng, ("A", "N", "R"), nl),
            "l_linestatus": _pick(rng, ("F", "O"), nl),
            "l_shipdate": _ts(ship[order]),
        }
    )
    ne = n["events"]
    ets = np.sort(EVENT_EPOCH_US + rng.integers(0, EVENT_SPAN_US, ne))
    t["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(ne), pa.int64()),
            "ts": _ts(ets),
            "user_id": pa.array(rng.integers(0, n["event_users"], ne), pa.int64()),
            "event_type": _pick(rng, EVENT_TYPES, ne),
            "value": np.round(rng.exponential(50.0, ne), 2),
            "props": pa.array(
                [f'{{"k": {k}}}' for k in rng.integers(0, N_ITEM_REFS, ne)],
                pa.string(),
            ),
        }
    )
    nd = n["documents"]
    texts = [
        " ".join(WORDS[w] for w in rng.integers(0, len(WORDS), rng.integers(10, 101)))
        for _ in range(nd)
    ]
    # ~5% near-duplicates (another document's text plus " dup") and a
    # few exact copies, so the dedup family has pairs to find
    near = rng.choice(nd, size=nd // 20, replace=False)
    for i in near:
        texts[i] = texts[int(rng.integers(0, nd))] + " dup"
    for i in rng.choice(nd, size=max(2, nd // 600), replace=False):
        texts[i] = texts[int(rng.integers(0, nd))]
    t["documents"] = pa.table(
        {
            "doc_id": pa.array(np.arange(nd), pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": _pick(rng, LANGS, nd, p=LANG_P),
            "source": pa.array([f"src{i % 20}" for i in range(nd)], pa.string()),
            "n_chars": pa.array([len(s) for s in texts], pa.int64()),
        }
    )
    nv = n["embeddings"]
    vec = rng.standard_normal((nv, EMBED_DIM)).astype(np.float32)
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    t["embeddings"] = pa.table(
        {
            "vec_id": pa.array(np.arange(nv), pa.int64()),
            "embedding": pa.array(list(vec), pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, N_LABELS, nv), pa.int32()),
        }
    )
    return t


def write_tables(tables: dict[str, pa.Table], out_dir: str) -> None:
    os.makedirs(out_dir, exist_ok=True)
    for name, tbl in tables.items():
        pq.write_table(tbl, os.path.join(out_dir, f"{name}.parquet"))


def generate(out_dir: str, seed: int, sf: float) -> dict[str, int]:
    """Write the ten tables under ``out_dir``; returns their row counts."""
    tables = build_tables(seed, sf)
    write_tables(tables, out_dir)
    return {name: tbl.num_rows for name, tbl in tables.items()}

