"""Seeded input generator for the benchmark.

Writes the ten tables the engine reads (the TPC-H-style star schema plus
``events``, ``documents`` and ``embeddings``) as one parquet file each,
with the column names and types of the engine's reference test data.
Everything is drawn from ``numpy.random.default_rng(seed)``, so one seed
always gives byte-identical files; the benchmark never reads data from
outside its own working directory.

Also generates the append batches of the store workloads
(:func:`vector_batch`, :func:`document_batch`, :func:`write_batches`).
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: table sizes per unit of scale: scale 1.0 is TPC-H sf1 (1.5M orders,
#: about 6M line items), so scale 0.1 matches the engine's sf0.1 test
#: data and 0.01 its sf0.01. Events: scale 0.1 is sf0.1's 100k rows.
#: Text and vector corpora are sized by row count, because some of
#: their queries scale quadratically.
STAR_ROWS = {"customer": 150_000, "supplier": 10_000, "part": 200_000, "orders": 1_500_000}
EVENT_ROWS = 1_000_000
EVENT_USERS = 15_000

WORDS = (
    "spark window merge table column vector stream value data small join filter "
    "big group hash customer sort order slow line part fast row the agg key query "
    "a scan batch"
).split()
LANGS = np.array(["en", "zh", "es", "fr", "de"])
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]
N_SOURCES = 20
EMB_DIM = 64
EVENT_TYPES = np.array(["signup", "purchase", "view", "click", "error"])


def _ts(start: str, seconds: np.ndarray) -> pa.Array:
    base = np.datetime64(start, "us")
    return pa.array(base + (seconds * 1e6).astype("timedelta64[us]"), pa.timestamp("us"))


def _write(out_dir: str, name: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))


def _texts(rng: np.random.Generator, n: int) -> list[str]:
    out = []
    for n_tok, n_chars in zip(rng.integers(8, 110, n), rng.integers(44, 578, n)):
        words = np.array(WORDS)[rng.integers(0, len(WORDS), n_tok)]
        out.append(" ".join(words)[: max(int(n_chars), 10)].rstrip())
    return out


def star_schema(rng: np.random.Generator, out_dir: str, scale: float) -> None:
    n_cust = int(STAR_ROWS["customer"] * scale)
    n_supp = max(int(STAR_ROWS["supplier"] * scale), 10)
    n_part = int(STAR_ROWS["part"] * scale)
    n_ord = int(STAR_ROWS["orders"] * scale)
    _write(out_dir, "region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    _write(out_dir, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    segs = np.array(["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE"])
    _write(out_dir, "customer", {
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": segs[rng.integers(0, 5, n_cust)],
    })
    _write(out_dir, "supplier", {
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2),
    })
    adj = np.array(["small", "red", "new", "hot", "cold", "large", "old"])
    noun = np.array(["ring", "widget", "bolt", "anvil", "rod", "plate", "gear"])
    types = np.array(["LARGE", "MEDIUM", "ECONOMY", "PROMO", "SMALL", "STANDARD"])
    pk = np.arange(n_part)
    _write(out_dir, "part", {
        "p_partkey": pa.array(pk, pa.int64()),
        "p_name": np.char.add(np.char.add(adj[rng.integers(0, 7, n_part)], " "),
                              noun[rng.integers(0, 7, n_part)]),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)),
        "p_type": types[rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (pk % 1000) * 0.1, 2),
    })
    span = (dt.date(2001, 8, 1) - dt.date(1995, 1, 1)).days
    odays = rng.integers(0, span + 1, n_ord)
    prios = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
    _write(out_dir, "orders", {
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": np.array(["P", "O", "F"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, n_ord), 2),
        "o_orderdate": _ts("1995-01-01", odays * 86400.0),
        "o_orderpriority": prios[rng.integers(0, 5, n_ord)],
    })
    lines = np.clip(rng.poisson(3.1, n_ord) + 1, 1, 17)
    okey = np.repeat(np.arange(n_ord), lines)
    lnum = np.concatenate([np.arange(1, k + 1) for k in lines])
    n_li = len(okey)
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    partkey = rng.integers(0, n_part, n_li)
    ship = np.repeat(odays, lines) + rng.integers(1, 122, n_li)
    li = {
        "l_orderkey": pa.array(okey, pa.int64()),
        "l_partkey": pa.array(partkey, pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(lnum, pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * (900.0 + (partkey % 1000) * 0.1) * rng.uniform(0.9, 1.1, n_li), 2),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": np.array(["N", "R", "A"])[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
        "l_shipdate": _ts("1995-01-01", ship * 86400.0),
    }
    order = rng.permutation(n_li)
    _write(out_dir, "lineitem", {k: (v.take(pa.array(order)) if isinstance(v, pa.Array)
                                     else v[order]) for k, v in li.items()})


def events(rng: np.random.Generator, out_dir: str, scale: float) -> None:
    n = int(EVENT_ROWS * scale)
    secs = np.sort(rng.uniform(0.0, 30 * 86400.0, n))
    _write(out_dir, "events", {
        "event_id": pa.array(np.arange(n), pa.int64()),
        "ts": _ts("2024-01-01", secs),
        "user_id": pa.array(rng.integers(0, max(int(EVENT_USERS * scale), 50), n), pa.int64()),
        "event_type": EVENT_TYPES[rng.integers(0, 5, n)],
        "value": np.round(rng.exponential(50.0, n), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
    })


def documents(rng: np.random.Generator, out_dir: str, n: int) -> None:
    texts = _texts(rng, n)
    # 5% near-duplicates: a copy of an earlier document plus a marker
    for i in rng.choice(np.arange(1, n), n // 20, replace=False):
        texts[i] = texts[int(rng.integers(0, i))] + " dup"
    _write(out_dir, "documents", {
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": texts,
        "lang": LANGS[rng.choice(5, n, p=LANG_P)],
        "source": [f"src{i % N_SOURCES}" for i in range(n)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def _unit(x: np.ndarray) -> np.ndarray:
    return (x / np.linalg.norm(x, axis=1, keepdims=True)).astype(np.float32)


def embeddings(rng: np.random.Generator, out_dir: str, n: int) -> None:
    labels = rng.integers(0, 10, n)
    centers = rng.normal(size=(10, EMB_DIM)) * 0.6
    vecs = _unit(rng.normal(size=(n, EMB_DIM)) + centers[labels])
    _write(out_dir, "embeddings", {
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })


def generate(out_dir: str, seed: int, star_scale: float, event_scale: float,
             n_docs: int, n_vecs: int) -> str:
    """Write every input table under ``out_dir``; returns ``out_dir``.

    Each table draws from its own child stream of ``seed``, so changing
    one table's size leaves the others' bytes unchanged."""
    os.makedirs(out_dir, exist_ok=True)
    streams = np.random.SeedSequence(seed).spawn(4)
    star_schema(np.random.default_rng(streams[0]), out_dir, star_scale)
    events(np.random.default_rng(streams[1]), out_dir, event_scale)
    documents(np.random.default_rng(streams[2]), out_dir, n_docs)
    embeddings(np.random.default_rng(streams[3]), out_dir, n_vecs)
    return out_dir


# --- store_ingest_serve append batches -------------------------------------

def vector_batch(seed: int, cycle: int, base_dir: str, first_id: int, n: int) -> pa.Table:
    """Noisy copies of corpus vectors under fresh ids ``first_id..``."""
    rng = np.random.default_rng([seed, cycle, 1])
    base = pq.read_table(os.path.join(base_dir, "embeddings.parquet"))
    src = np.stack(base.column("embedding").to_numpy(zero_copy_only=False))
    pick = rng.integers(0, len(src), n)
    vecs = _unit(src[pick] + rng.normal(scale=0.05, size=(n, src.shape[1])))
    return pa.table({
        "vec_id": pa.array(np.arange(first_id, first_id + n), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
    })


def document_batch(seed: int, cycle: int, base_dir: str, first_id: int, n: int) -> pa.Table:
    """Near-duplicate clones of corpus documents with 10% token noise
    under fresh ids ``first_id..`` (the clone recipe of
    ``tools/extrapolate_dedup.py``)."""
    rng = np.random.default_rng([seed, cycle, 2])
    base = pq.read_table(os.path.join(base_dir, "documents.parquet"))
    src = base.column("text").to_pylist()
    texts = []
    for i in rng.integers(0, len(src), n):
        toks = src[int(i)].split(" ")
        for j in rng.integers(0, len(toks), max(1, len(toks) // 10)):
            toks[j] = WORDS[int(rng.integers(0, len(WORDS)))]
        texts.append(" ".join(toks))
    return pa.table({
        "doc_id": pa.array(np.arange(first_id, first_id + n), pa.int64()),
        "text": texts,
        "lang": LANGS[rng.choice(5, n, p=LANG_P)],
        "source": [f"src{int(k)}" for k in rng.integers(0, N_SOURCES, n)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def write_batches(out_dir: str, seed: int, base_dir: str, n_vec: int, n_doc: int,
                  rows: int, first_id: int) -> None:
    """Write ``n_vec`` vector batches (``vec-0000.parquet`` ...) and
    ``n_doc`` document batches (``docs-0000/part-0.parquet`` ..., one
    directory each, so that a stream can read one batch) of ``rows``
    rows under ``out_dir``. Batch ``k`` holds ids
    ``first_id + k * rows ...``."""
    os.makedirs(out_dir, exist_ok=True)
    for k in range(n_vec):
        pq.write_table(vector_batch(seed, k, base_dir, first_id + k * rows, rows),
                       os.path.join(out_dir, f"vec-{k:04d}.parquet"))
    for k in range(n_doc):
        d = os.path.join(out_dir, f"docs-{k:04d}")
        os.makedirs(d)
        pq.write_table(document_batch(seed, k, base_dir, first_id + k * rows, rows),
                       os.path.join(d, "part-0.parquet"))
