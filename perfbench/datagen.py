"""Deterministic input tables for the benchmark.

The tables follow the TPC-H-like star schema the engine's own fixtures use
(region, nation, customer, supplier, part, orders, lineitem) plus the two
LLM-data tables (documents, embeddings).  Row counts scale with ``sf``:
lineitem has 6,000,000 * sf rows, documents max(500, 50,000 * sf),
embeddings max(2,000, 20,000 * sf).

The corpus is built so that the near-duplicate structure is known and
well separated: words come from a 2,000-word synthetic vocabulary, ~8% of
documents are light edits (one substituted word per ~40) of an earlier
document, sometimes chained, and ~2% are exact copies.  Unrelated documents
share almost no character 5-shingles, so every pair is either far below or
far above the Jaccard thresholds the workloads use.  A few documents carry
an e-mail address for the PII scrubber.

Tables depend only on ``sf`` (fixed generator seed); the per-run seed picks
queries, literals and subsets, never the tables, so a cached build is valid
for every run.
"""

from __future__ import annotations

import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VERSION = "1"
BASE_SEED = 42
TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "documents", "embeddings")
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PWORDS = ["red", "blue", "green", "small", "large", "hot", "cold", "steel"]
PNOUNS = ["ring", "bolt", "widget", "gear", "gizmo", "nut", "pipe", "valve"]
STOPWORDS = ["the", "and", "of", "to", "a", "in", "is", "that", "with", "for"]
EPOCH_1995 = np.datetime64("1995-01-01", "ms")
DAYS = 2400  # date span of orders and shipments (1995-01-01 .. ~2001-07)


def _ts(days: np.ndarray) -> pa.Array:
    return pa.array(EPOCH_1995 + days.astype("timedelta64[D]"),
                    type=pa.timestamp("us"))


def _money(x: np.ndarray) -> np.ndarray:
    return np.round(x, 2)


def _star(sf: float, rng: np.random.Generator) -> dict[str, pa.Table]:
    n_cust, n_supp = int(150_000 * sf), max(10, int(10_000 * sf))
    n_part, n_ord = int(200_000 * sf), int(1_500_000 * sf)
    n_line = int(6_000_000 * sf)
    t = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    t["customer"] = pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": _money(rng.uniform(-999.99, 9999.99, n_cust)),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)]})
    t["supplier"] = pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": _money(rng.uniform(-999.99, 9999.99, n_supp))})
    names = [f"{a} {b}" for a in PWORDS for b in PNOUNS]
    t["part"] = pa.table({
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": np.array(names)[rng.integers(0, len(names), n_part)],
        "p_brand": np.array([f"Brand#{i}" for i in range(1, 26)])[
            rng.integers(0, 25, n_part)],
        "p_type": np.array(PTYPES)[rng.integers(0, len(PTYPES), n_part)],
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": _money(900 + (np.arange(n_part) % 1000) * 0.1)})
    o_days = rng.integers(0, DAYS, n_ord)
    t["orders"] = pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng.uniform(1000, 500_000, n_ord)),
        "o_orderdate": _ts(o_days),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_ord)]})
    l_ord = np.sort(rng.integers(0, n_ord, n_line)).astype(np.int64)
    # line numbers 1.. within each order
    first = np.r_[0, np.flatnonzero(np.diff(l_ord)) + 1]
    starts = np.repeat(first, np.diff(np.r_[first, n_line]))
    qty = rng.integers(1, 51, n_line).astype(np.float64)
    t["lineitem"] = pa.table({
        "l_orderkey": l_ord,
        "l_partkey": rng.integers(0, n_part, n_line).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_line).astype(np.int64),
        "l_linenumber": (np.arange(n_line) - starts + 1).astype(np.int32),
        "l_quantity": qty,
        "l_extendedprice": _money(qty * rng.uniform(900, 2100, n_line)),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_line)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_line)],
        "l_shipdate": _ts(np.minimum(o_days[l_ord] + rng.integers(1, 122, n_line),
                                     DAYS + 121))})
    return t


def _vocab(rng: np.random.Generator, n: int = 2000) -> list[str]:
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    words: set[str] = set()
    while len(words) < n:
        words.add("".join(letters[rng.integers(0, 26, rng.integers(3, 10))]))
    return sorted(words)


def _documents(sf: float, rng: np.random.Generator) -> pa.Table:
    n = max(500, int(50_000 * sf))
    vocab = _vocab(rng)
    texts: list[str] = []
    for i in range(n):
        r = rng.random()
        if i > 10 and r < 0.02:  # exact copy
            texts.append(texts[int(rng.integers(0, i))])
            continue
        if i > 10 and r < 0.10:  # light edit of an earlier document
            words = texts[int(rng.integers(0, i))].split(" ")
            for _ in range(max(1, len(words) // 40)):
                words[int(rng.integers(0, len(words)))] = vocab[
                    int(rng.integers(0, len(vocab)))]
            texts.append(" ".join(words))
            continue
        n_words = int(rng.integers(25, 100))
        words = [STOPWORDS[int(rng.integers(0, len(STOPWORDS)))]
                 if rng.random() < 0.25 else vocab[int(rng.integers(0, len(vocab)))]
                 for _ in range(n_words)]
        if rng.random() < 0.05:
            words.insert(int(rng.integers(0, n_words)),
                         f"{vocab[i % len(vocab)]}@example.org")
        texts.append(" ".join(words))
    return pa.table({
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": np.array(["en", "de", "fr", "es", "zh"])[rng.integers(0, 5, n)],
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(s) for s in texts], dtype=np.int64)})


def _embeddings(sf: float, rng: np.random.Generator, dim: int = 64) -> pa.Table:
    n = max(2000, int(20_000 * sf))  # enough exact pairs for a steady recall
    v = rng.standard_normal((n, dim)).astype(np.float32)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    return pa.table({
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": pa.array(list(v), type=pa.list_(pa.float32())),
        "label": rng.integers(0, 10, n).astype(np.int32)})


def ensure(cache_dir: str, sf: float) -> str:
    """Build the tables for ``sf`` under ``cache_dir`` once; return the dir."""
    out = os.path.join(cache_dir, f"sf{sf:g}")
    marker = os.path.join(out, f".complete-v{VERSION}")
    if os.path.exists(marker):
        return out
    tmp = f"{out}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    rng = np.random.default_rng(BASE_SEED)
    tables = _star(sf, rng)
    tables["documents"] = _documents(sf, rng)
    tables["embeddings"] = _embeddings(sf, rng)
    for name, tbl in tables.items():
        pq.write_table(tbl, os.path.join(tmp, f"{name}.parquet"))
    open(os.path.join(tmp, f".complete-v{VERSION}"), "w").close()
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)
    return out
