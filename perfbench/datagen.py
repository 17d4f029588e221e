"""Deterministic input tables for the benchmark.

The tables follow the package's fixture catalog (``catalog.SCHEMAS``):
the TPC-H-like star schema, the ``events`` stream and the two LLM tables.
Values are drawn from one fixed seed, so every checkout that runs the
benchmark builds byte-identical parquet files; the workload seed only
decides query order and arrival chunks, never the table contents.

Tables are written once per scale into ``<cache>/data/<scale>-<version>``
(the version is a hash of this file), together with the DuckDB oracle
digests the correctness checks compare against.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import json
import os
import shutil
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA_SEED = 20240101

# Rows per table.  "bench" is what the workloads measure: half the package's
# sf0.1 fixture (sf0.05) for the star schema and ``events``, a fifth of its
# 5000 documents (sf0.02, enough for the Jaccard operators to take the
# same token-set collapse branch as at sf0.1), and its 2000 embeddings.
# "tiny" is the self-test size (about the sf0.001 fixture).
SCALES: dict[str, dict[str, int]] = {
    "bench": {
        "customer": 7_500,
        "supplier": 500,
        "part": 10_000,
        "orders": 75_000,
        "lineitem": 300_000,
        "events": 50_000,
        "documents": 1_000,
        "embeddings": 2_000,
    },
    "tiny": {
        "customer": 150,
        "supplier": 10,
        "part": 200,
        "orders": 1_500,
        "lineitem": 6_000,
        "events": 1_000,
        "documents": 200,
        "embeddings": 300,
    },
}

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_WORDS = ["blue", "hot", "large", "red", "small", "bolt", "ring", "nut", "gear"]
EVENT_TYPES = ["signup", "click", "view", "purchase", "error"]
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]
# The fixture's document shape (sf0.01 and sf0.1 alike): 10-99 tokens drawn
# uniformly from a 30-word query-domain vocabulary, so long documents cover
# the whole vocabulary and many token SETS coincide; 5% of documents are a
# re-crawl of an earlier one with the marker token "dup" appended.
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
RECRAWL_P = 0.05

_EPOCH = dt.datetime(1970, 1, 1)


def version() -> str:
    return hashlib.sha256(Path(__file__).read_bytes()).hexdigest()[:12]


def data_dir(cache: Path, scale: str) -> Path:
    return cache / "data" / f"{scale}-{version()}"


def _days(start: dt.date, rng: np.random.Generator, n: int, span: int) -> np.ndarray:
    """Midnight timestamps (micros) uniformly over ``span`` days."""
    base = (dt.datetime.combine(start, dt.time()) - _EPOCH) // dt.timedelta(
        microseconds=1
    )
    return base + rng.integers(0, span, n).astype(np.int64) * 86_400_000_000


def _ts(micros: np.ndarray) -> pa.Array:
    return pa.array(micros, type=pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def build_tables(sizes: dict[str, int]) -> dict[str, pa.Table]:
    rng = np.random.default_rng(DATA_SEED)
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table(
        {
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": REGIONS,
        }
    )
    t["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    nc = sizes["customer"]
    t["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(nc), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(nc)],
            "c_nationkey": pa.array(rng.integers(0, 25, nc), pa.int32()),
            "c_acctbal": _money(rng, -999.99, 9999.99, nc),
            "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, nc)],
        }
    )
    ns = sizes["supplier"]
    t["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(ns), pa.int64()),
            "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
            "s_nationkey": pa.array(rng.integers(0, 25, ns), pa.int32()),
            "s_acctbal": _money(rng, -999.99, 9999.99, ns),
        }
    )
    npart = sizes["part"]
    words = np.array(PART_WORDS)
    t["part"] = pa.table(
        {
            "p_partkey": pa.array(np.arange(npart), pa.int64()),
            "p_name": np.char.add(
                np.char.add(words[rng.integers(0, 5, npart)], " "),
                words[rng.integers(5, 9, npart)],
            ),
            "p_brand": np.char.add("Brand#", rng.integers(1, 26, npart).astype(str)),
            "p_type": np.array(PART_TYPES)[rng.integers(0, 6, npart)],
            "p_size": pa.array(rng.integers(1, 51, npart), pa.int32()),
            "p_retailprice": np.round(900 + (np.arange(npart) % 1000) / 10, 2),
        }
    )
    no = sizes["orders"]
    t["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(no), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, nc, no), pa.int64()),
            "o_orderstatus": np.array(["O", "F", "P"])[rng.integers(0, 3, no)],
            "o_totalprice": _money(rng, 1000, 500000, no),
            "o_orderdate": _ts(_days(dt.date(1995, 1, 1), rng, no, 2405)),
            "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, no)],
        }
    )
    nl = sizes["lineitem"]
    t["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, no, nl), pa.int64()),
            "l_partkey": pa.array(rng.integers(0, npart, nl), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, ns, nl), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, nl), pa.int32()),
            "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
            "l_extendedprice": _money(rng, 900, 105000, nl),
            "l_discount": rng.integers(0, 11, nl) / 100.0,
            "l_tax": rng.integers(0, 9, nl) / 100.0,
            "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, nl)],
            "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, nl)],
            "l_shipdate": _ts(_days(dt.date(1995, 1, 2), rng, nl, 2498)),
        }
    )
    ne = sizes["events"]
    start = (dt.datetime(2024, 1, 1) - _EPOCH) // dt.timedelta(microseconds=1)
    gaps = rng.integers(1, 2 * 30 * 86_400_000_000 // ne, ne)
    t["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(ne), pa.int64()),
            "ts": _ts(start + np.cumsum(gaps)),
            "user_id": pa.array(rng.integers(0, max(1, ne // 66), ne), pa.int64()),
            "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, ne)],
            "value": _money(rng, 0, 200, ne),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)],
        }
    )
    nd = sizes["documents"]
    vocab = np.array(VOCAB)
    texts: list[str] = []
    for i in range(nd):
        if i and rng.random() < RECRAWL_P:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
            continue
        n = int(rng.integers(10, 100))
        texts.append(" ".join(vocab[rng.integers(0, len(vocab), n)]))
    t["documents"] = pa.table(
        {
            "doc_id": pa.array(np.arange(nd), pa.int64()),
            "text": texts,
            "lang": np.array(LANGS)[rng.choice(5, nd, p=LANG_P)],
            "source": [f"src{i % 19}" for i in range(nd)],
            "n_chars": pa.array([len(x) for x in texts], pa.int64()),
        }
    )
    nv = sizes["embeddings"]
    labels = rng.integers(0, 10, nv)
    centers = rng.normal(0, 1, (10, 64))
    vecs = centers[labels] * 0.35 + rng.normal(0, 1, (nv, 64))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    t["embeddings"] = pa.table(
        {
            "vec_id": pa.array(np.arange(nv), pa.int64()),
            "embedding": pa.array(
                list(vecs.astype(np.float32)), pa.list_(pa.float32())
            ),
            "label": pa.array(labels, pa.int32()),
        }
    )
    return t


def ensure(cache: Path, scale: str) -> Path:
    """Write the tables for ``scale`` unless they exist; return the dir."""
    out = data_dir(cache, scale)
    if (out / "_SUCCESS").exists():
        return out
    tmp = out.with_name(out.name + f".tmp{os.getpid()}")
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    sizes = SCALES[scale]
    for name, tbl in build_tables(sizes).items():
        pq.write_table(tbl, tmp / f"{name}.parquet")
    (tmp / "sizes.json").write_text(json.dumps(sizes, sort_keys=True))
    (tmp / "_SUCCESS").write_text("")
    shutil.rmtree(out, ignore_errors=True)
    os.replace(tmp, out)
    return out


def row_counts(data: Path) -> dict[str, int]:
    return {
        p.stem: pq.read_metadata(p).num_rows for p in sorted(data.glob("*.parquet"))
    }
