"""Seeded synthetic inputs for the benchmark.

Writes the ten tables the suite queries read (``region nation customer
supplier part orders lineitem events documents embeddings``), one
parquet file each, with the column names, types and value domains of
the project's TPC-H-ish test data. Same seed, same bytes.

Documents carry near-duplicates on purpose: about one in eight is a
lightly edited copy of a document at most ``DUP_REACH`` ids earlier, so
the dedup operators, the indexes and the streaming dedup leg all find
real matches. Copies sit close to their originals in id (and so in the
streaming spool's event time), inside every horizon the benchmark uses.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")

# Row counts of the project's sf0.01 test data (lineitem ~60,000). At
# the sf0.1 counts a batch pass takes about 30% longer, and the
# relational tables add no work the ingest workload would measure.
SIZES = {
    "customer": 1500, "supplier": 100, "part": 2000, "orders": 15000,
    "events": 10000, "documents": 500, "embeddings": 500,
}
DUP_REACH = 40
DIM = 64

WORDS = ("a agg batch big column customer data dup fast filter group hash "
         "join key line merge order part query row scan slow small sort "
         "spark stream table the value vector window").split()
PART_WORDS = ("anvil blue bolt cold gear gizmo hot large new old plate red "
              "ring rod small widget").split()
P_TYPES = ["ECONOMY", "SMALL", "MEDIUM", "PROMO", "STANDARD", "LARGE"]
SEGMENTS = ["HOUSEHOLD", "MACHINERY", "FURNITURE", "BUILDING", "AUTOMOBILE"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["signup", "error", "click", "view", "purchase"]
LANGS = ["en", "en", "en", "zh", "es", "de", "fr"]

_DAY_US = 86_400_000_000
_EPOCH_1995 = 788_918_400_000_000   # 1995-01-01T00:00:00Z in µs
_EPOCH_2024 = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z in µs


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("int64"), type=pa.timestamp("us"))


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def documents_text(rng, n: int) -> list[str]:
    """Random word sequences over the suite vocabulary, with near-copies."""
    texts: list[str] = []
    for i in range(n):
        if i >= DUP_REACH and rng.random() < 0.125:
            src = texts[i - int(rng.integers(1, DUP_REACH + 1))].split()
            for _ in range(int(rng.integers(1, 3))):
                src[int(rng.integers(len(src)))] = WORDS[int(rng.integers(len(WORDS)))]
            texts.append(" ".join(src))
        else:
            k = int(rng.integers(10, 100))
            texts.append(" ".join(WORDS[j] for j in rng.integers(0, len(WORDS), k)))
    return texts


def generate(seed: int, out_dir: str) -> None:
    """Write every table under ``out_dir`` as ``<table>.parquet``."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    n = SIZES
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
        "c_custkey": pa.array(range(n["customer"]), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n["customer"])],
        "c_nationkey": pa.array(rng.integers(0, 25, n["customer"]), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n["customer"]),
        "c_mktsegment": [SEGMENTS[j] for j in rng.integers(0, 5, n["customer"])],
    })
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(range(n["supplier"]), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n["supplier"])],
        "s_nationkey": pa.array(rng.integers(0, 25, n["supplier"]), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n["supplier"]),
    })
    np_ = n["part"]
    t["part"] = pa.table({
        "p_partkey": pa.array(range(np_), pa.int64()),
        "p_name": [f"{PART_WORDS[a]} {PART_WORDS[b]}"
                   for a, b in rng.integers(0, len(PART_WORDS), (np_, 2))],
        "p_brand": [f"Brand#{j}" for j in rng.integers(1, 26, np_)],
        "p_type": [P_TYPES[j] for j in rng.integers(0, len(P_TYPES), np_)],
        "p_size": pa.array(rng.integers(1, 51, np_), pa.int32()),
        "p_retailprice": np.round(900.0 + 0.1 * np.arange(np_), 2),
    })
    no = n["orders"]
    odate = _EPOCH_1995 + rng.integers(0, 2400, no) * _DAY_US
    t["orders"] = pa.table({
        "o_orderkey": pa.array(range(no), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n["customer"], no), pa.int64()),
        "o_orderstatus": [("P", "F", "O")[j] for j in rng.integers(0, 3, no)],
        "o_totalprice": _money(rng, 1000.0, 500000.0, no),
        "o_orderdate": _ts(odate),
        "o_orderpriority": [PRIORITIES[j] for j in rng.integers(0, 5, no)],
    })
    lines_per = rng.integers(1, 8, no)
    okey = np.repeat(np.arange(no), lines_per)
    lnum = np.concatenate([np.arange(1, k + 1) for k in lines_per])
    nl = len(okey)
    qty = rng.integers(1, 51, nl).astype("float64")
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(okey, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, np_, nl), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n["supplier"], nl), pa.int64()),
        "l_linenumber": pa.array(lnum, pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, nl), 2),
        "l_discount": rng.integers(0, 11, nl) / 100.0,
        "l_tax": rng.integers(0, 9, nl) / 100.0,
        "l_returnflag": [("A", "N", "R")[j] for j in rng.integers(0, 3, nl)],
        "l_linestatus": [("F", "O")[j] for j in rng.integers(0, 2, nl)],
        "l_shipdate": _ts(odate[okey] + rng.integers(1, 122, nl) * _DAY_US),
    })
    ne = n["events"]
    # strictly increasing event time over 30 days (µs precision)
    gaps = rng.integers(1, 2 * 30 * _DAY_US // ne, ne)
    t["events"] = pa.table({
        "event_id": pa.array(range(ne), pa.int64()),
        "ts": _ts(_EPOCH_2024 + np.cumsum(gaps)),
        "user_id": pa.array(rng.integers(0, 30, ne), pa.int64()),
        "event_type": [EVENT_TYPES[j] for j in rng.integers(0, 5, ne)],
        "value": np.round(rng.exponential(50.0, ne) + 0.01, 2),
        "props": [f'{{"k": {j}}}' for j in rng.integers(0, 100, ne)],
    })
    nd = n["documents"]
    texts = documents_text(rng, nd)
    t["documents"] = pa.table({
        "doc_id": pa.array(range(nd), pa.int64()),
        "text": texts,
        "lang": [LANGS[j] for j in rng.integers(0, len(LANGS), nd)],
        "source": [f"src{j}" for j in rng.integers(0, 20, nd)],
        "n_chars": pa.array([len(s) for s in texts], pa.int64()),
    })
    nv = n["embeddings"]
    centers = rng.normal(size=(10, DIM))
    label = rng.integers(0, 10, nv)
    vec = centers[label] + rng.normal(scale=1.5, size=(nv, DIM))
    vec = (vec / np.linalg.norm(vec, axis=1, keepdims=True)).astype("float32")
    t["embeddings"] = pa.table({
        "vec_id": pa.array(range(nv), pa.int64()),
        "embedding": pa.array(list(vec), pa.list_(pa.float32())),
        "label": pa.array(label, pa.int32()),
    })

    for name in TABLES:
        pq.write_table(t[name], os.path.join(out_dir, f"{name}.parquet"))
