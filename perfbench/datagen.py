"""Seeded catalog tables for the benchmark.

Writes the ten tables ``gomaxscale_spark.catalog.TABLES`` reads, with
the physical schema of the repository's synthetic test data
(TESTDATA.md: one parquet file per table, ``timestamp[us]`` columns, one
row group) and the same value domains, so every catalog query in the
mixes returns rows. Document text is the exception: the test data draws
it uniformly from 30 words, so every document holds most of them; here
it follows a Zipf law over a 5 000-word vocabulary. Row counts scale with ``sf`` like that data (sf0.1:
600 000 lineitem rows, 5 000 documents, 2 000 embeddings).

The inputs depend only on ``seed`` and ``sf``.
"""

from __future__ import annotations

import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
COLORS = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
NOUNS = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
#: Gopher's stopwords, the most frequent words of English text
STOPWORDS = ["the", "of", "and", "to", "a", "in", "is"]
#: content words the catalog's queries name (BM25 searches "spark",
#: "window" and "hash"); they take frequent ranks right after the
#: stopwords, the rest of the vocabulary is seeded pseudo-words
CONTENT = (
    "data spark query table row column key value join hash window stream "
    "batch filter group order sort scan merge line part customer vector "
    "agg big small fast slow"
).split()
VOCAB_SIZE = 5_000
#: Zipf-Mandelbrot rank-frequency law p(r) ~ 1 / (r + 2.7), the usual
#: fit to English word counts: a long tail of rare words, so most
#: documents share only the frequent words
ZIPF_Q = 2.7
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.41, 0.14, 0.15, 0.15, 0.15]

DAY_US = 86_400_000_000
EPOCH_1995 = 788_918_400 * 1_000_000  # 1995-01-01T00:00:00 in µs
EPOCH_2024 = 1_704_067_200 * 1_000_000  # 2024-01-01T00:00:00 in µs


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("int64"), type=pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _write(out_dir: str, name: str, cols: dict[str, pa.Array | np.ndarray | list]) -> None:
    pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"), compression="snappy")


def _vocabulary(rng: np.random.Generator) -> np.ndarray:
    """Words by frequency rank: the stopwords, then the content words,
    then pseudo-words of 2-12 letters (mean about 6) to ``VOCAB_SIZE``."""
    words = STOPWORDS + CONTENT
    seen = set(words)
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    while len(words) < VOCAB_SIZE:
        w = "".join(letters[rng.integers(0, 26, min(12, 2 + rng.poisson(4)))])
        if w not in seen:
            seen.add(w)
            words.append(w)
    return np.array(words)


def _documents(rng: np.random.Generator, n: int) -> dict:
    lengths = rng.integers(10, 101, n)
    words = _vocabulary(rng)
    p = 1.0 / (np.arange(1, len(words) + 1) + ZIPF_Q)
    p /= p.sum()
    texts = [" ".join(words[rng.choice(len(words), k, p=p)]) for k in lengths]
    # near-duplicates: 5% of documents repeat an earlier one plus a marker
    # word; a few are exact copies (every dedup family has work to find)
    n_near, n_exact = n // 20, max(2, n // 600)
    targets = rng.choice(np.arange(n // 2, n), n_near + n_exact, replace=False)
    for i, dst in enumerate(targets):
        src = int(rng.integers(0, n // 2))
        texts[dst] = texts[src] + " dup" if i < n_near else texts[src]
    return {
        "doc_id": np.arange(n, dtype="int64"),
        "text": texts,
        "lang": list(np.array(LANGS)[rng.choice(len(LANGS), n, p=LANG_P)]),
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(t) for t in texts], dtype="int64"),
    }


def generate(out_dir: str, seed: int, sf: float = 0.1) -> dict[str, int]:
    """Write every table under ``out_dir``; return row counts by table."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_li, n_ev = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    n_doc, n_emb, n_users = int(50_000 * sf), int(20_000 * sf), int(15_000 * sf)

    _write(out_dir, "region", {
        "r_regionkey": pa.array(range(5), pa.int32()), "r_name": REGIONS})
    _write(out_dir, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    _write(out_dir, "customer", {
        "c_custkey": np.arange(n_cust, dtype="int64"),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype("int32"),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": list(np.array(SEGMENTS)[rng.integers(0, 5, n_cust)])})
    _write(out_dir, "supplier", {
        "s_suppkey": np.arange(n_supp, dtype="int64"),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype("int32"),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)})
    keys = np.arange(n_part, dtype="int64")
    _write(out_dir, "part", {
        "p_partkey": keys,
        "p_name": [f"{COLORS[a]} {NOUNS[b]}" for a, b in rng.integers(0, 8, (n_part, 2))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": list(np.array(PART_TYPES)[rng.integers(0, 6, n_part)]),
        "p_size": rng.integers(1, 51, n_part).astype("int32"),
        "p_retailprice": np.round(900.0 + (keys % 1000) / 10.0, 1)})
    _write(out_dir, "orders", {
        "o_orderkey": np.arange(n_ord, dtype="int64"),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype("int64"),
        "o_orderstatus": list(np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)]),
        "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
        "o_orderdate": _ts(EPOCH_1995 + rng.integers(0, 2404, n_ord) * DAY_US),
        "o_orderpriority": list(np.array(PRIORITIES)[rng.integers(0, 5, n_ord)])})
    _write(out_dir, "lineitem", {
        "l_orderkey": rng.integers(0, n_ord, n_li).astype("int64"),
        "l_partkey": rng.integers(0, n_part, n_li).astype("int64"),
        "l_suppkey": rng.integers(0, n_supp, n_li).astype("int64"),
        "l_linenumber": rng.integers(1, 8, n_li).astype("int32"),
        "l_quantity": rng.integers(1, 51, n_li).astype("float64"),
        "l_extendedprice": _money(rng, 900.0, 105_000.0, n_li),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": list(np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)]),
        "l_linestatus": list(np.array(["F", "O"])[rng.integers(0, 2, n_li)]),
        "l_shipdate": _ts(EPOCH_1995 + rng.integers(1, 2499, n_li) * DAY_US)})
    ts = np.sort(rng.integers(0, 30 * DAY_US, n_ev))
    _write(out_dir, "events", {
        "event_id": np.arange(n_ev, dtype="int64"),
        "ts": _ts(EPOCH_2024 + ts),
        "user_id": rng.integers(0, n_users // 10, n_ev).astype("int64"),
        "event_type": list(np.array(EVENT_TYPES)[rng.integers(0, 5, n_ev)]),
        "value": np.round(rng.exponential(60.0, n_ev), 2),
        "props": [json.dumps({"k": int(k)}) for k in rng.integers(0, 100, n_ev)]})
    _write(out_dir, "documents", _documents(rng, n_doc))
    emb = rng.standard_normal((n_emb, 64)).astype("float32")
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    _write(out_dir, "embeddings", {
        "vec_id": np.arange(n_emb, dtype="int64"),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": rng.integers(0, 10, n_emb).astype("int32")})
    return {"lineitem": n_li, "orders": n_ord, "events": n_ev, "documents": n_doc}


#: the value the self-check corrupts, per workload: (table, column, the
#: column whose smallest value picks the row). The earliest shipment
#: passes q1's date filter, so every q1 sum sees the change.
FAULT_TARGET = {
    "olap": ("lineitem", "l_quantity", "l_shipdate"),
    "llm_corpus": ("documents", "text", "doc_id"),
}


def prepare(out_dir: str, seed: int, sf: float, workload: str, corrupt: bool) -> str:
    """Generate the tables; return the directory Spark reads, which is a
    corrupted copy when ``corrupt`` is set (DuckDB keeps the original)."""
    generate(out_dir, seed, sf)
    if not corrupt:
        return out_dir
    return corrupt_copy(out_dir, out_dir + "_fault", workload)


def corrupt_copy(src_dir: str, dst_dir: str, workload: str) -> str:
    """Copy the tables to ``dst_dir`` with one value of one row changed,
    so queries over the copy disagree with their reference."""
    shutil.copytree(src_dir, dst_dir)
    name, col, pick = FAULT_TARGET[workload]
    path = os.path.join(dst_dir, f"{name}.parquet")
    t = pq.read_table(path)
    row = int(np.argmin(t.column(pick).to_numpy()))
    values = t.column(col).to_pylist()
    values[row] = values[row] + (1.0 if isinstance(values[row], float) else " corrupted")
    t = t.set_column(t.schema.get_field_index(col), col, pa.array(values, t.schema.field(col).type))
    pq.write_table(t, path, compression="snappy")
    return dst_dir
