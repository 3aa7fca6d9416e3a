"""Seeded generator for the benchmark's input tables.

Writes one parquet file per table into a directory, in the layout
`graft.sources.ImportSource.table` reads (`<dir>/<name>.parquet`). The
shapes follow the engine's sf0.1 fixtures: uniform TPC-H-like keys and
values, an `events` changelog stream, a 30-word `documents` corpus with
a small share of near-duplicates, and unit-norm 64-dimensional
`embeddings` around ten labelled centres. The same seed gives the same
bytes.

Row counts are those of sf0.1 times `scale`.

Usage: python3 gen_tables.py <out_dir> <seed> <scale> [table ...]
"""
import sys
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SF01 = {"customer": 15_000, "part": 20_000, "orders": 150_000, "events": 100_000,
        "users": 1_500, "documents": 5_000, "embeddings": 2_000}
DIM = 64
LINES_PER_ORDER = 4

WORDS = ("spark window merge table column vector stream value data small "
         "join filter big group hash customer sort order slow line part fast "
         "row the agg key query a scan batch").split()
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_ADJ = "blue hot large small red cold green".split()
PART_NOUN = "anvil bolt ring gear nut spring valve".split()
PART_TYPES = "ECONOMY LARGE MEDIUM PROMO SMALL STANDARD".split()
EVENT_TYPES = ["signup", "click", "view", "purchase", "error"]
LANGS = ["en", "zh", "de", "fr", "es"]
LANG_P = [0.41, 0.15, 0.14, 0.15, 0.15]


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng, start, n_days, n):
    base = np.datetime64(start, "us")
    return base + rng.integers(0, n_days, n).astype("timedelta64[D]")


def customer(rng, n):
    m = n["customer"]
    k = np.arange(m, dtype=np.int64)
    return pa.table({
        "c_custkey": k,
        "c_name": [f"Customer#{i:09d}" for i in k],
        "c_nationkey": rng.integers(0, 25, m).astype(np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, m),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, m)],
    })


def part(rng, n):
    m = n["part"]
    k = np.arange(m, dtype=np.int64)
    names = [f"{a} {b}" for a, b in zip(
        np.array(PART_ADJ)[rng.integers(0, len(PART_ADJ), m)],
        np.array(PART_NOUN)[rng.integers(0, len(PART_NOUN), m)])]
    return pa.table({
        "p_partkey": k,
        "p_name": names,
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, m)],
        "p_type": np.array(PART_TYPES)[rng.integers(0, len(PART_TYPES), m)],
        "p_size": rng.integers(1, 51, m).astype(np.int32),
        "p_retailprice": np.round(900.0 + (k % 1000) / 10.0, 2),
    })


def orders(rng, n):
    m = n["orders"]
    return pa.table({
        "o_orderkey": np.arange(m, dtype=np.int64),
        "o_custkey": rng.integers(0, n["customer"], m).astype(np.int64),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, m)],
        "o_totalprice": _money(rng, 1000.0, 500000.0, m),
        "o_orderdate": _days(rng, "1995-01-01", 2404, m),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, m)],
    })


def lineitem(rng, n):
    # (l_orderkey, l_linenumber) is unique: the catch-up workload keys
    # lineitem by that pair
    m = n["orders"] * LINES_PER_ORDER
    return pa.table({
        "l_orderkey": np.repeat(np.arange(n["orders"], dtype=np.int64), LINES_PER_ORDER),
        "l_partkey": rng.integers(0, n["part"], m).astype(np.int64),
        "l_suppkey": rng.integers(0, 1000, m).astype(np.int64),
        "l_linenumber": (np.arange(m) % LINES_PER_ORDER + 1).astype(np.int32),
        "l_quantity": rng.integers(1, 51, m).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, m),
        "l_discount": rng.integers(0, 11, m) / 100.0,
        "l_tax": rng.integers(0, 9, m) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, m)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, m)],
        "l_shipdate": _days(rng, "1995-01-02", 2498, m),
    })


def events(rng, n):
    m = n["events"]
    start = np.datetime64("2024-01-01T00:00:00", "us")
    span_us = 30 * 86400 * 1_000_000
    ts = start + np.sort(rng.integers(0, span_us, m)).astype("timedelta64[us]")
    return pa.table({
        "event_id": np.arange(m, dtype=np.int64),
        "ts": ts,
        "user_id": rng.integers(0, n["users"], m).astype(np.int64),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, m)],
        "value": np.round(rng.exponential(50.0, m), 2),
        "props": [f'{{"k": {v}}}' for v in rng.integers(0, 100, m)],
    })


def documents(rng, n):
    m = n["documents"]
    words = np.array(WORDS)
    texts = [" ".join(words[rng.integers(0, len(words), rng.integers(10, 101))])
             for _ in range(m)]
    # ~5% near-duplicates: an earlier document plus a marker token
    for i in np.nonzero(rng.random(m) < 0.05)[0]:
        if i > 0:
            texts[i] = texts[rng.integers(0, i)] + " dup"
    return pa.table({
        "doc_id": np.arange(m, dtype=np.int64),
        "text": texts,
        "lang": np.array(LANGS)[rng.choice(len(LANGS), m, p=LANG_P)],
        "source": [f"src{i % 20}" for i in range(m)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })


def embeddings(rng, n):
    m = n["embeddings"]
    centres = rng.normal(0.0, 1.0, (10, DIM))
    label = rng.integers(0, 10, m)
    v = centres[label] + rng.normal(0.0, 1.5, (m, DIM))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": np.arange(m, dtype=np.int64),
        "embedding": pa.array(list(v), type=pa.list_(pa.float32())),
        "label": label.astype(np.int32),
    })


TABLES = {f.__name__: f for f in
          (customer, part, orders, lineitem, events, documents, embeddings)}


def generate(out_dir, seed, scale, names=None):
    sizes = {k: max(1, round(v * scale)) for k, v in SF01.items()}
    out = Path(out_dir)
    out.mkdir(parents=True, exist_ok=True)
    for name in names or TABLES:
        # one stream per table: a table's bytes never depend on which
        # other tables are generated with it
        rng = np.random.default_rng([seed, list(TABLES).index(name)])
        pq.write_table(TABLES[name](rng, sizes), out / f"{name}.parquet")


if __name__ == "__main__":
    generate(sys.argv[1], int(sys.argv[2]), float(sys.argv[3]), sys.argv[4:] or None)
