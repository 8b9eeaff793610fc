"""Seeded generator of the graft test corpus.

Writes the ten tables the engine's queries read (a TPC-H-like star schema
plus `events`, `documents` and `embeddings`) as one parquet file each, with
the column names, types and value shapes of the corpus the engine's oracle
gate was written against. The same (seed, scale) always gives byte-identical
values; nothing here depends on thread timing.

Usage: python3 perfbench/datagen.py <out_dir> <seed> <scale>
"""
import sys
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = ("spark window merge table column vector stream value data small join "
         "filter big group hash customer sort order slow line part fast row the "
         "agg key query a scan batch").split()
PART_ADJ = "blue old large hot cold red small new".split()
PART_NOUN = "widget gizmo ring gear bolt plate rod anvil".split()
PART_TYPES = "LARGE ECONOMY STANDARD PROMO SMALL MEDIUM".split()
SEGMENTS = "MACHINERY AUTOMOBILE HOUSEHOLD BUILDING FURNITURE".split()
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = "signup click error view purchase".split()
LANGS = np.array(["en", "fr", "es", "zh", "de"])
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]

# rows per table at scale 1.0; region/nation are fixed-size dimensions
ROWS = {"supplier": 10_000, "customer": 150_000, "part": 200_000,
        "orders": 1_500_000, "lineitem": 6_000_000, "events": 1_000_000,
        "documents": 50_000, "embeddings": 20_000}


def _ts(days_from: str, offsets_us: np.ndarray) -> pa.Array:
    base = np.datetime64(days_from, "us").astype(np.int64)
    return pa.array(base + offsets_us.astype(np.int64), pa.timestamp("us"))


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def documents(rng, n: int) -> pa.Table:
    """Word-salad documents; 5% are near-duplicates of an earlier document
    (its text plus one trailing word), which the dedup operators find."""
    words = np.array(WORDS)
    lens = rng.integers(10, 101, n)
    texts = [" ".join(words[rng.integers(0, len(words), k)]) for k in lens]
    dup = rng.random(n) < 0.05
    for i in np.nonzero(dup)[0]:
        if i > 0:
            texts[i] = texts[int(rng.integers(0, i))] + " dup"
    ids = np.arange(n, dtype=np.int64)
    return pa.table({
        "doc_id": ids,
        "text": texts,
        "lang": rng.choice(LANGS, n, p=LANG_P),
        "source": [f"src{i % 20}" for i in ids],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })


def generate(out: Path, seed: int, scale: float,
             tables=("region", "nation", "supplier", "customer", "part",
                     "orders", "lineitem", "events", "documents",
                     "embeddings")) -> None:
    out.mkdir(parents=True, exist_ok=True)
    n = {t: max(int(r * scale), 50) for t, r in ROWS.items()}
    n["embeddings"] = max(n["embeddings"], 500)
    n["documents"] = max(n["documents"], 500)
    # one independent stream per table, so generating a subset of tables
    # gives the same values as generating all of them
    seeds = np.random.SeedSequence(seed).spawn(10)
    rng = {t: np.random.default_rng(s) for t, s in zip(
        ("region", "nation", "supplier", "customer", "part", "orders",
         "lineitem", "events", "documents", "embeddings"), seeds)}
    build = {
        "region": lambda r: pa.table({
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": REGIONS}),
        "nation": lambda r: pa.table({
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())}),
        "supplier": lambda r: pa.table({
            "s_suppkey": np.arange(n["supplier"], dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n["supplier"])],
            "s_nationkey": pa.array(r.integers(0, 25, n["supplier"]), pa.int32()),
            "s_acctbal": _money(r, -999.99, 9999.99, n["supplier"])}),
        "customer": lambda r: pa.table({
            "c_custkey": np.arange(n["customer"], dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n["customer"])],
            "c_nationkey": pa.array(r.integers(0, 25, n["customer"]), pa.int32()),
            "c_acctbal": _money(r, -999.99, 9999.99, n["customer"]),
            "c_mktsegment": r.choice(SEGMENTS, n["customer"])}),
        "part": lambda r: pa.table({
            "p_partkey": np.arange(n["part"], dtype=np.int64),
            "p_name": [f"{a} {b}" for a, b in zip(
                r.choice(PART_ADJ, n["part"]), r.choice(PART_NOUN, n["part"]))],
            "p_brand": [f"Brand#{b}" for b in r.integers(1, 26, n["part"])],
            "p_type": r.choice(PART_TYPES, n["part"]),
            "p_size": pa.array(r.integers(1, 51, n["part"]), pa.int32()),
            "p_retailprice": np.round(
                900.0 + (np.arange(n["part"]) % 1000) / 10.0, 2)}),
        "orders": lambda r: pa.table({
            "o_orderkey": np.arange(n["orders"], dtype=np.int64),
            "o_custkey": r.integers(0, n["customer"], n["orders"]),
            "o_orderstatus": r.choice(["O", "F", "P"], n["orders"]),
            "o_totalprice": _money(r, 1000.0, 500000.0, n["orders"]),
            "o_orderdate": _ts("1995-01-01", r.integers(
                0, 2404, n["orders"]) * 86_400_000_000),
            "o_orderpriority": r.choice(PRIORITIES, n["orders"])}),
        "lineitem": lambda r: pa.table({
            "l_orderkey": r.integers(0, n["orders"], n["lineitem"]),
            "l_partkey": r.integers(0, n["part"], n["lineitem"]),
            "l_suppkey": r.integers(0, n["supplier"], n["lineitem"]),
            "l_linenumber": pa.array(r.integers(1, 8, n["lineitem"]), pa.int32()),
            "l_quantity": r.integers(1, 51, n["lineitem"]).astype(np.float64),
            "l_extendedprice": _money(r, 900.0, 105000.0, n["lineitem"]),
            "l_discount": r.integers(0, 11, n["lineitem"]) / 100.0,
            "l_tax": r.integers(0, 9, n["lineitem"]) / 100.0,
            "l_returnflag": r.choice(["A", "N", "R"], n["lineitem"]),
            "l_linestatus": r.choice(["O", "F"], n["lineitem"]),
            "l_shipdate": _ts("1995-01-02", r.integers(
                0, 2498, n["lineitem"]) * 86_400_000_000)}),
        "events": lambda r: _events(r, n["events"], n["customer"]),
        "documents": lambda r: documents(r, n["documents"]),
        "embeddings": lambda r: _embeddings(r, n["embeddings"]),
    }
    for t in tables:
        pq.write_table(build[t](rng[t]), out / f"{t}.parquet")


def _events(r, n: int, users: int) -> pa.Table:
    # ascending timestamps over 30 days, like an append-only event log
    span = 30 * 86_400_000_000
    offs = np.sort(r.integers(0, span, n))
    return pa.table({
        "event_id": np.arange(n, dtype=np.int64),
        "ts": _ts("2024-01-01", offs),
        "user_id": r.integers(0, max(users // 10, 10), n),
        "event_type": r.choice(EVENT_TYPES, n),
        "value": np.round(r.exponential(50.0, n), 2),
        "props": [f'{{"k": {k}}}' for k in r.integers(0, 100, n)],
    })


def _embeddings(r, n: int, dim: int = 64, labels: int = 10) -> pa.Table:
    label = r.integers(0, labels, n)
    centers = r.normal(0.0, 1.0, (labels, dim))
    x = centers[label] * 0.1 + r.normal(0.0, 1.0, (n, dim))
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    return pa.table({
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": pa.array(list(x.astype(np.float32)), pa.list_(pa.float32())),
        "label": pa.array(label, pa.int32()),
    })


if __name__ == "__main__":
    generate(Path(sys.argv[1]), int(sys.argv[2]), float(sys.argv[3]))
