"""Seeded benchmark inputs: TPC-H-shaped relay tables and an LLM corpus.

Every table is a pure function of its arguments (seed, part, size); the
benchmark writes them as parquet under its per-run work directory during
set-up. Schemas match the tables the demo web (``dataweb_spark.demo``)
and the repo's DuckDB oracle views expect.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# the corpus vocabulary of the repo's synthetic ``documents`` table
WORDS = ("spark window merge table column vector stream value data small "
         "join filter big group hash customer sort order slow line part "
         "fast row the agg key query a scan batch").split()
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
LANGS = ["en", "de", "fr", "es", "zh"]

# relay tables at scale factor 1 (lineitem ≈ 4 rows per order)
_ORDERS_PER_SF = 1_500_000
_CUSTOMERS_PER_SF = 150_000
PARTS_PER_SF = 200_000
_SUPPLIERS_PER_SF = 10_000
_EPOCH = dt.datetime(1992, 1, 1)
_DAYS = 7 * 365


def _ts(days: np.ndarray) -> pa.Array:
    us = (days.astype("int64") * 86_400_000_000
          + int((_EPOCH - dt.datetime(1970, 1, 1)).total_seconds())
          * 1_000_000)
    return pa.array(us, pa.timestamp("us"))


def _pick(rng: np.random.Generator, values: list[str], n: int) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.integers(
        0, len(values), n)], pa.string())


def relay_tables(seed: int, sf: float) -> dict[str, pa.Table]:
    """``customer``, ``orders`` and ``lineitem`` at scale factor ``sf``."""
    rng = np.random.default_rng([seed, 1])
    n_ord = int(_ORDERS_PER_SF * sf)
    n_cust = int(_CUSTOMERS_PER_SF * sf)
    n_part = int(PARTS_PER_SF * sf)
    n_supp = max(int(_SUPPLIERS_PER_SF * sf), 10)
    ck = np.arange(n_cust, dtype="int64")
    customer = pa.table({
        "c_custkey": ck,
        "c_name": pa.array([f"Customer#{k:09d}" for k in ck]),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": _pick(rng, SEGMENTS, n_cust),
    })
    ok = np.arange(n_ord, dtype="int64")
    odays = rng.integers(0, _DAYS - 150, n_ord)
    orders = pa.table({
        "o_orderkey": ok,
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": _pick(rng, ["O", "F", "P"], n_ord),
        "o_totalprice": np.round(rng.uniform(900.0, 450_000.0, n_ord), 2),
        "o_orderdate": _ts(odays),
        "o_orderpriority": _pick(rng, PRIORITIES, n_ord),
    })
    lines = rng.integers(1, 8, n_ord)
    n_li = int(lines.sum())
    l_ok = np.repeat(ok, lines)
    l_no = (np.arange(n_li) - np.repeat(np.cumsum(lines) - lines, lines) + 1)
    qty = rng.integers(1, 51, n_li).astype("float64")
    price = np.round(rng.uniform(900.0, 2100.0, n_li), 2)
    lineitem = pa.table({
        "l_orderkey": l_ok,
        "l_partkey": rng.integers(0, n_part, n_li),
        "l_suppkey": rng.integers(0, n_supp, n_li),
        "l_linenumber": pa.array(l_no, pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * price, 2),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": _pick(rng, ["A", "N", "R"], n_li),
        "l_linestatus": _pick(rng, ["O", "F"], n_li),
        "l_shipdate": _ts(np.repeat(odays, lines)
                          + rng.integers(1, 122, n_li)),
    })
    return {"customer": customer, "orders": orders, "lineitem": lineitem}


def _text(rng: np.random.Generator, n_words: int, vocab=WORDS) -> str:
    return " ".join(vocab[i] for i in rng.integers(0, len(vocab), n_words))


def documents(seed: int, part: int, n_docs: int, inject_share: float
              ) -> tuple[pa.Table, list[tuple[int, int]]]:
    """Document table ``part`` of the seed: ``n_docs`` documents,
    ``inject_share`` of them injected copies of earlier ones — a quarter
    verbatim, the rest near-duplicates (the source text plus one appended
    word, Jaccard of 3-shingles ≥ 0.96 because sources have ≥ 30 words).
    Returns the table and the injected near-duplicate pairs."""
    rng = np.random.default_rng([seed, 2, part])
    n_inj = int(n_docs * inject_share)
    n_orig = n_docs - n_inj
    texts = [_text(rng, int(rng.integers(10, 101))) for _ in range(n_orig)]
    long_ids = [i for i, t in enumerate(texts) if t.count(" ") >= 29]
    near_pairs = []
    for j in range(n_inj):
        src = long_ids[int(rng.integers(0, len(long_ids)))]
        if rng.random() < 0.25:
            texts.append(texts[src])
        else:
            texts.append(texts[src] + " " + WORDS[int(rng.integers(
                0, len(WORDS)))])
            near_pairs.append((src, n_orig + j))
    order = rng.permutation(n_docs)  # injections land anywhere in id order
    texts = [texts[i] for i in order]
    new_id = np.empty(n_docs, dtype="int64")
    new_id[order] = np.arange(n_docs)
    near_pairs = sorted(tuple(sorted((int(new_id[a]), int(new_id[b]))))
                        for a, b in near_pairs)
    table = pa.table({
        "doc_id": np.arange(n_docs, dtype="int64"),
        "text": pa.array(texts, pa.string()),
        "lang": _pick(rng, LANGS, n_docs),
        "source": pa.array([f"src{i % 20}" for i in range(n_docs)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    return table, near_pairs


def novel_texts(seed: int, batch: int, n: int) -> list[str]:
    """Texts no corpus document resembles: words drawn from a batch-keyed
    vocabulary disjoint from ``WORDS`` and from every other batch."""
    rng = np.random.default_rng([seed, 3, batch])
    vocab = [f"b{batch}w{i}" for i in range(400)]
    return [_text(rng, int(rng.integers(20, 81)), vocab) for _ in range(n)]


def embeddings(seed: int, part: int, n: int, dim: int = 64) -> pa.Table:
    """Embedding table ``part`` of the seed: ``n`` random unit vectors."""
    rng = np.random.default_rng([seed, 4, part])
    vec = rng.standard_normal((n, dim)).astype("float32")
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    flat = pa.array(vec.ravel(), pa.float32())
    return pa.table({
        "vec_id": np.arange(n, dtype="int64"),
        "embedding": pa.ListArray.from_arrays(
            pa.array(np.arange(0, n * dim + 1, dim), pa.int32()), flat),
        "label": pa.array(rng.integers(0, 8, n), pa.int32()),
    })


def write_tables(tables: dict[str, pa.Table], out_dir: str) -> None:
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
