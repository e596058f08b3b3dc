"""Seeded synthetic input tables for the benchmark.

Writes the ten tables the registry reads (``region nation customer
supplier part orders lineitem events documents embeddings``), one parquet
file each, with the column names, types and value domains of the
TPC-H-ish test data the registry's oracles were written against:

- the star schema draws keys, prices, dates and flags uniformly;
- ``events`` is a 30-day stream from 2024-01-01 with exponential
  inter-arrival gaps (about 139 events an hour at scale 0.1), five event
  types, an exponential ``value`` and a ``{"k": n}`` JSON ``props``;
- ``documents`` draws 10-100 words from a 30-word vocabulary; 5 % are
  near duplicates (another document's text plus `` dup``) and a few are
  exact duplicates, so the dedup and LSH paths have work to do;
- ``embeddings`` are 64-d unit float32 vectors with a label 0-9.

The same ``(scale, seed)`` always writes the same files.
"""

from __future__ import annotations

import hashlib
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)

EVENT_TYPES = ("signup", "purchase", "view", "click", "error")
EVENTS_START = np.datetime64("2024-01-01T00:00:00", "us")
EVENTS_DAYS = 30

_WORDS = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
_ADJ = ("large", "hot", "blue", "old", "cold", "red", "small", "new")
_NOUN = ("ring", "bolt", "plate", "gear", "widget", "rod", "anvil", "gizmo")
_P_TYPES = ("LARGE", "MEDIUM", "ECONOMY", "PROMO", "SMALL", "STANDARD")
_SEGMENTS = ("MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE")
_PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
_LANGS = ("en", "zh", "es", "fr", "de")
_LANG_P = (0.4, 0.15, 0.15, 0.15, 0.15)


def row_counts(scale: float) -> dict[str, int]:
    n = lambda per_unit, floor=1: max(floor, int(round(per_unit * scale)))  # noqa: E731
    return {
        "region": 5,
        "nation": 25,
        "customer": n(150_000),
        "supplier": n(10_000, 10),
        "part": n(200_000),
        "orders": n(1_500_000),
        "lineitem": n(6_000_000),
        "events": n(1_000_000),
        "documents": n(50_000, 500),
        "embeddings": n(20_000, 500),
    }


def _days(rng, lo: str, hi: str, size: int) -> np.ndarray:
    a = np.datetime64(lo, "D").astype(np.int64)
    b = np.datetime64(hi, "D").astype(np.int64)
    d = rng.integers(a, b + 1, size=size).astype("datetime64[D]")
    return d.astype("datetime64[us]")


def _money(rng, lo: float, hi: float, size: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, size=size), 2)


def _pick(rng, choices, size: int, p=None) -> np.ndarray:
    return np.asarray(choices, dtype=object)[
        rng.choice(len(choices), size=size, p=p)
    ]


def _tables(scale: float, seed: int) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    c = row_counts(scale)
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(np.arange(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(np.arange(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25) % 5, pa.int32()),
    })
    nc = c["customer"]
    t["customer"] = pa.table({
        "c_custkey": np.arange(nc, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": pa.array(rng.integers(0, 25, nc), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, nc),
        "c_mktsegment": _pick(rng, _SEGMENTS, nc),
    })
    ns = c["supplier"]
    t["supplier"] = pa.table({
        "s_suppkey": np.arange(ns, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
        "s_nationkey": pa.array(rng.integers(0, 25, ns), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, ns),
    })
    npart = c["part"]
    names = [f"{a} {b}" for a in _ADJ for b in _NOUN]
    t["part"] = pa.table({
        "p_partkey": np.arange(npart, dtype=np.int64),
        "p_name": _pick(rng, names, npart),
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, npart)],
        "p_type": _pick(rng, _P_TYPES, npart),
        "p_size": pa.array(rng.integers(1, 51, npart), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(npart) % 1000) / 10, 1),
    })
    no = c["orders"]
    t["orders"] = pa.table({
        "o_orderkey": np.arange(no, dtype=np.int64),
        "o_custkey": rng.integers(0, nc, no),
        "o_orderstatus": _pick(rng, ("O", "F", "P"), no),
        "o_totalprice": _money(rng, 1000.0, 500000.0, no),
        "o_orderdate": _days(rng, "1995-01-01", "2001-08-01", no),
        "o_orderpriority": _pick(rng, _PRIORITIES, no),
    })
    nl = c["lineitem"]
    t["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, no, nl),
        "l_partkey": rng.integers(0, npart, nl),
        "l_suppkey": rng.integers(0, ns, nl),
        "l_linenumber": pa.array(rng.integers(1, 8, nl), pa.int32()),
        "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, nl),
        "l_discount": rng.integers(0, 11, nl) / 100.0,
        "l_tax": rng.integers(0, 9, nl) / 100.0,
        "l_returnflag": _pick(rng, ("N", "R", "A"), nl),
        "l_linestatus": _pick(rng, ("F", "O"), nl),
        "l_shipdate": _days(rng, "1995-01-02", "2001-11-04", nl),
    })
    ne = c["events"]
    span_us = EVENTS_DAYS * 86400 * 1_000_000
    gaps = rng.exponential(1.0, ne + 1)
    offs = (np.cumsum(gaps)[:-1] / gaps.sum() * span_us).astype(np.int64)
    t["events"] = pa.table({
        "event_id": np.arange(ne, dtype=np.int64),
        "ts": pa.array(EVENTS_START + offs.astype("timedelta64[us]"),
                       pa.timestamp("us")),
        "user_id": rng.integers(0, max(15, ne // 66), ne),
        "event_type": _pick(rng, EVENT_TYPES, ne),
        "value": np.round(rng.exponential(50.0, ne), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)],
    })
    nd = c["documents"]
    vocab = np.asarray(_WORDS, dtype=object)
    texts = [
        " ".join(vocab[rng.integers(0, len(vocab), rng.integers(10, 101))])
        for _ in range(nd)
    ]
    # 5 % near duplicates of an earlier document, then a few exact copies.
    for i in rng.choice(np.arange(1, nd), size=nd // 20, replace=False):
        texts[i] = texts[rng.integers(0, i)] + " dup"
    for i in rng.choice(np.arange(1, nd), size=max(2, nd // 600), replace=False):
        texts[i] = texts[rng.integers(0, i)]
    t["documents"] = pa.table({
        "doc_id": np.arange(nd, dtype=np.int64),
        "text": texts,
        "lang": _pick(rng, _LANGS, nd, p=_LANG_P),
        "source": [f"src{i % 20}" for i in rng.permutation(nd)],
        "n_chars": np.asarray([len(x) for x in texts], dtype=np.int64),
    })
    nv = c["embeddings"]
    v = rng.standard_normal((nv, 64)).astype(np.float32)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    t["embeddings"] = pa.table({
        "vec_id": np.arange(nv, dtype=np.int64),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, nv), pa.int32()),
    })
    return t


def inputs_key(scale: float, seed: int) -> str:
    """A key that changes whenever the tables ``write_tables`` writes
    could: this file, the scale, the seed and the library versions."""
    with open(__file__, "rb") as fh:
        h = hashlib.sha256(fh.read())
    h.update(f"\0{scale}\0{seed}\0{np.__version__}\0{pa.__version__}".encode())
    return h.hexdigest()


def write_tables(out_dir: str, scale: float, seed: int) -> int:
    """Write every table under ``out_dir``; return the bytes written."""
    os.makedirs(out_dir, exist_ok=True)
    total = 0
    for name, table in _tables(scale, seed).items():
        path = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(table, path, compression="snappy")
        total += os.path.getsize(path)
    return total
