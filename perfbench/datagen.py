"""Seeded generator for the benchmark's input tables.

Writes the star schema (``region nation customer supplier part orders
lineitem``), ``events``, ``documents`` and ``embeddings`` as one parquet
file each, with the column names and physical types the engine's query
registry reads (``crocus_spark.io.FIXTURE_SCHEMAS``). Row counts scale
with ``sf`` as in the engine's fixture tables (lineitem = 6M x sf).

The same ``seed`` gives byte-identical tables. The text and vector
tables come from ``corpus_variant(seed)`` rather than the seed itself,
so the queries that have no SQL oracle can be checked against a digest
recorded for each of the few corpus variants.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

N_CORPUS_VARIANTS = 4
TABLES = (
    "region", "nation", "customer", "supplier", "part", "orders", "lineitem",
    "events", "documents", "embeddings",
)

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
_PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_LANGS = ["en", "en", "en", "de", "es", "fr", "zh"]
_WORDS = (
    "a agg batch big column customer data dup fast filter group hash join "
    "key line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()


def corpus_variant(seed: int) -> int:
    return seed % N_CORPUS_VARIANTS


def table_sizes(sf: float) -> dict[str, int]:
    return {
        "customer": max(10, int(150_000 * sf)),
        "supplier": max(5, int(10_000 * sf)),
        "part": max(10, int(200_000 * sf)),
        "orders": max(100, int(1_500_000 * sf)),
        "lineitem": max(400, int(6_000_000 * sf)),
        "events": max(100, int(1_000_000 * sf)),
        "documents": max(500, int(50_000 * sf)),
        "embeddings": max(500, int(20_000 * sf)),
    }


def _days(rng, n, start: dt.date, end: dt.date) -> np.ndarray:
    span = (end - start).days
    base = np.datetime64(start.isoformat(), "us")
    return base + rng.integers(0, span + 1, n).astype("timedelta64[D]")


def _money(rng, n, lo, hi) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _write(out_dir: str, name: str, cols: dict) -> None:
    tbl = pa.table(cols)
    pq.write_table(
        tbl, os.path.join(out_dir, f"{name}.parquet"), row_group_size=len(tbl) + 1
    )


def _star(rng, sizes, out_dir) -> None:
    _write(out_dir, "region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": _REGIONS,
    })
    _write(out_dir, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    nc = sizes["customer"]
    _write(out_dir, "customer", {
        "c_custkey": pa.array(np.arange(nc), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": pa.array(rng.integers(0, 25, nc), pa.int32()),
        "c_acctbal": _money(rng, nc, -999.99, 9999.99),
        "c_mktsegment": np.array(_SEGMENTS)[rng.integers(0, 5, nc)],
    })
    ns = sizes["supplier"]
    _write(out_dir, "supplier", {
        "s_suppkey": pa.array(np.arange(ns), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
        "s_nationkey": pa.array(rng.integers(0, 25, ns), pa.int32()),
        "s_acctbal": _money(rng, ns, -999.99, 9999.99),
    })
    npart = sizes["part"]
    keys = np.arange(npart)
    _write(out_dir, "part", {
        "p_partkey": pa.array(keys, pa.int64()),
        "p_name": [
            f"{_ADJ[a]} {_NOUN[b]}"
            for a, b in zip(rng.integers(0, 8, npart), rng.integers(0, 8, npart))
        ],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, npart)],
        "p_type": np.array(_PTYPES)[rng.integers(0, 6, npart)],
        "p_size": pa.array(rng.integers(1, 51, npart), pa.int32()),
        "p_retailprice": np.round(900.0 + (keys % 1000) / 10.0, 1),
    })
    no = sizes["orders"]
    _write(out_dir, "orders", {
        "o_orderkey": pa.array(np.arange(no), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, nc, no), pa.int64()),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, no)],
        "o_totalprice": _money(rng, no, 1000.0, 500_000.0),
        "o_orderdate": pa.array(
            _days(rng, no, dt.date(1995, 1, 1), dt.date(2001, 8, 1)),
            pa.timestamp("us"),
        ),
        "o_orderpriority": np.array(_PRIORITIES)[rng.integers(0, 5, no)],
    })
    nl = sizes["lineitem"]
    _write(out_dir, "lineitem", {
        "l_orderkey": pa.array(rng.integers(0, no, nl), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, npart, nl), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, ns, nl), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, nl), pa.int32()),
        "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
        "l_extendedprice": _money(rng, nl, 900.0, 105_000.0),
        "l_discount": rng.integers(0, 11, nl) / 100.0,
        "l_tax": rng.integers(0, 9, nl) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, nl)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, nl)],
        "l_shipdate": pa.array(
            _days(rng, nl, dt.date(1995, 1, 2), dt.date(2001, 11, 4)),
            pa.timestamp("us"),
        ),
    })


def _events(rng, sizes, out_dir) -> None:
    ne = sizes["events"]
    span_us = 30 * 86_400 * 1_000_000
    ts = np.sort(rng.integers(0, span_us, ne))
    _write(out_dir, "events", {
        "event_id": pa.array(np.arange(ne), pa.int64()),
        "ts": pa.array(
            np.datetime64("2024-01-01T00:00:00", "us") + ts.astype("timedelta64[us]"),
            pa.timestamp("us"),
        ),
        "user_id": pa.array(rng.integers(0, sizes["customer"], ne), pa.int64()),
        "event_type": np.array(_EVENT_TYPES)[rng.integers(0, 5, ne)],
        "value": np.round(rng.uniform(0.01, 490.0, ne), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)],
    })


def _corpus(rng, sizes, out_dir) -> None:
    nd = sizes["documents"]
    words = np.array(_WORDS)
    texts = []
    for i in range(nd):
        roll = rng.random()
        if texts and roll < 0.02:  # exact duplicate of an earlier doc
            texts.append(texts[int(rng.integers(0, len(texts)))])
        elif texts and roll < 0.08:  # near duplicate: one word swapped
            toks = texts[int(rng.integers(0, len(texts)))].split()
            toks[int(rng.integers(0, len(toks)))] = str(rng.choice(words))
            texts.append(" ".join(toks))
        else:
            n = int(rng.integers(10, 100))
            texts.append(" ".join(words[rng.integers(0, len(words), n)]))
    _write(out_dir, "documents", {
        "doc_id": pa.array(np.arange(nd), pa.int64()),
        "text": texts,
        "lang": np.array(_LANGS)[rng.integers(0, len(_LANGS), nd)],
        "source": [f"src{s}" for s in rng.integers(0, 20, nd)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    nv = sizes["embeddings"]
    v = rng.normal(size=(nv, 64))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    _write(out_dir, "embeddings", {
        "vec_id": pa.array(np.arange(nv), pa.int64()),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, nv), pa.int32()),
    })


def generate(out_dir: str, sf: float, seed: int) -> dict[str, int]:
    """Write every table under ``out_dir``; returns the row counts."""
    os.makedirs(out_dir, exist_ok=True)
    sizes = table_sizes(sf)
    _star(np.random.default_rng([seed, 1]), sizes, out_dir)
    _events(np.random.default_rng([seed, 2]), sizes, out_dir)
    _corpus(np.random.default_rng([corpus_variant(seed), 3]), sizes, out_dir)
    return sizes
