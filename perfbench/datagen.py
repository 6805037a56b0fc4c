"""Seeded generator for the benchmark's input tables.

Writes the engine's ten-table test schema (a trimmed TPC-H star plus
`events`, `documents` and `embeddings`) as one Parquet file per table, with the column
names, types and value domains of the engine's reference test data:
naive microsecond timestamps, two-decimal money columns, `NATION_<k>`
names, a 31-word document vocabulary. Every value is drawn from
`numpy.random.default_rng(seed)`, so the same seed gives byte-identical
tables and another seed gives another draw of the same distributions.

Row counts scale with `sf` as in TPC-H (lineitem = 6,000,000 x sf).
"""
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
ADJ = ["blue", "old", "small", "new", "red", "hot", "large", "cold"]
NOUN = ["widget", "gizmo", "ring", "gear", "bolt", "plate", "anvil", "rod"]
EVENT_TYPES = ["click", "signup", "error", "view", "purchase"]
LANGS = ["en", "en", "en", "de", "fr", "es", "zh"]
VOCAB = ["query", "row", "stream", "the", "spark", "line", "small", "fast",
         "group", "customer", "part", "column", "order", "scan", "a", "slow",
         "agg", "key", "window", "table", "merge", "vector", "join", "batch",
         "sort", "value", "hash", "filter", "big", "data", "dup"]

_DAY_US = 86_400_000_000
_EPOCH_1995 = np.datetime64("1995-01-01", "us")
_EPOCH_2024 = np.datetime64("2024-01-01", "us")


def rows(sf: float) -> dict:
    """Row count per table at scale factor `sf`."""
    n = lambda base: max(1, int(round(base * sf)))
    return {"region": 5, "nation": 25, "customer": n(150_000),
            "supplier": n(10_000), "part": n(200_000), "orders": n(1_500_000),
            "lineitem": n(6_000_000), "events": n(1_000_000),
            "documents": n(50_000), "embeddings": n(20_000)}


def _money(rng, lo_cents: int, hi_cents: int, size: int) -> np.ndarray:
    return rng.integers(lo_cents, hi_cents + 1, size) / 100.0


def _pick(rng, values, size: int) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.integers(0, len(values), size)],
                    type=pa.string())


def _days(rng, start, n_days: int, size: int) -> pa.Array:
    d = rng.integers(0, n_days, size).astype("int64") * _DAY_US
    return pa.array(start + d.astype("timedelta64[us]"), type=pa.timestamp("us"))


def text(rng, n_words: np.ndarray) -> list:
    """One document per entry of `n_words`, words drawn from VOCAB."""
    words = np.asarray(VOCAB, dtype=object)
    flat = words[rng.integers(0, len(VOCAB), int(n_words.sum()))]
    out, at = [], 0
    for k in n_words:
        out.append(" ".join(flat[at:at + k]))
        at += k
    return out


def build(name: str, rng, r: dict) -> pa.Table:
    if name == "region":
        return pa.table({"r_regionkey": pa.array(range(5), pa.int32()),
                         "r_name": REGIONS})
    if name == "nation":
        return pa.table({"n_nationkey": pa.array(range(25), pa.int32()),
                         "n_name": [f"NATION_{k}" for k in range(25)],
                         "n_regionkey": pa.array([k % 5 for k in range(25)], pa.int32())})
    if name == "customer":
        n = r["customer"]
        return pa.table({
            "c_custkey": np.arange(n, dtype="int64"),
            "c_name": [f"Customer#{k:09d}" for k in range(n)],
            "c_nationkey": rng.integers(0, 25, n).astype("int32"),
            "c_acctbal": _money(rng, -99_999, 999_999, n),
            "c_mktsegment": _pick(rng, SEGMENTS, n)})
    if name == "supplier":
        n = r["supplier"]
        return pa.table({
            "s_suppkey": np.arange(n, dtype="int64"),
            "s_name": [f"Supplier#{k:09d}" for k in range(n)],
            "s_nationkey": rng.integers(0, 25, n).astype("int32"),
            "s_acctbal": _money(rng, -99_999, 999_999, n)})
    if name == "part":
        n = r["part"]
        keys = np.arange(n, dtype="int64")
        adj = np.asarray(ADJ, dtype=object)[rng.integers(0, 8, n)]
        noun = np.asarray(NOUN, dtype=object)[rng.integers(0, 8, n)]
        return pa.table({
            "p_partkey": keys,
            "p_name": [f"{a} {b}" for a, b in zip(adj, noun)],
            "p_brand": [f"Brand#{k}" for k in rng.integers(1, 26, n)],
            "p_type": _pick(rng, PART_TYPES, n),
            "p_size": rng.integers(1, 51, n).astype("int32"),
            "p_retailprice": 900.0 + (keys % 1000) / 10.0})
    if name == "orders":
        n = r["orders"]
        return pa.table({
            "o_orderkey": np.arange(n, dtype="int64"),
            "o_custkey": rng.integers(0, r["customer"], n).astype("int64"),
            "o_orderstatus": _pick(rng, ["O", "F", "P"], n),
            "o_totalprice": _money(rng, 100_000, 50_000_000, n),
            "o_orderdate": _days(rng, _EPOCH_1995, 2404, n),
            "o_orderpriority": _pick(rng, PRIORITIES, n)})
    if name == "lineitem":
        n = r["lineitem"]
        return pa.table({
            "l_orderkey": rng.integers(0, r["orders"], n).astype("int64"),
            "l_partkey": rng.integers(0, r["part"], n).astype("int64"),
            "l_suppkey": rng.integers(0, r["supplier"], n).astype("int64"),
            "l_linenumber": rng.integers(1, 8, n).astype("int32"),
            "l_quantity": rng.integers(1, 51, n).astype("float64"),
            "l_extendedprice": _money(rng, 90_000, 10_500_000, n),
            "l_discount": rng.integers(0, 11, n) / 100.0,
            "l_tax": rng.integers(0, 9, n) / 100.0,
            "l_returnflag": _pick(rng, ["A", "N", "R"], n),
            "l_linestatus": _pick(rng, ["O", "F"], n),
            "l_shipdate": _days(rng, _EPOCH_1995 + np.timedelta64(1, "D"), 2499, n)})
    if name == "events":
        n = r["events"]
        span_us = 30 * _DAY_US
        base = np.arange(n, dtype="int64") * (span_us // n)
        jitter = rng.integers(0, max(1, span_us // n), n)
        return pa.table({
            "event_id": np.arange(n, dtype="int64"),
            "ts": pa.array(_EPOCH_2024 + (base + jitter).astype("timedelta64[us]"),
                           type=pa.timestamp("us")),
            "user_id": rng.integers(0, max(1, n * 3 // 200), n).astype("int64"),
            "event_type": _pick(rng, EVENT_TYPES, n),
            "value": _money(rng, 1, 49_002, n),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]})
    if name == "documents":
        n = r["documents"]
        docs = text(rng, rng.integers(8, 100, n))
        return pa.table({
            "doc_id": np.arange(n, dtype="int64"),
            "text": docs,
            "lang": _pick(rng, LANGS, n),
            "source": [f"src{k % 20}" for k in range(n)],
            "n_chars": np.array([len(t) for t in docs], dtype="int64")})
    if name == "embeddings":
        n = r["embeddings"]
        emb = rng.normal(0.0, 0.12, (n, 64)).astype("float32")
        return pa.table({
            "vec_id": np.arange(n, dtype="int64"),
            "embedding": pa.FixedSizeListArray.from_arrays(emb.reshape(-1), 64)
                .cast(pa.list_(pa.float32())),
            "label": rng.integers(0, 10, n).astype("int32")})
    raise ValueError(f"unknown table {name}")


def generate(out_dir: str, sf: float, seed: int, tables=TABLES) -> dict:
    """Write `tables` at scale `sf` under `out_dir`; returns row counts."""
    os.makedirs(out_dir, exist_ok=True)
    r = rows(sf)
    counts = {}
    for k, name in enumerate(TABLES):
        if name not in tables:
            continue
        # one stream per table: adding or dropping a table never shifts
        # another table's draw
        rng = np.random.default_rng([seed, k])
        t = build(name, rng, r)
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))
        counts[name] = t.num_rows
    return counts


BATCH_BASE = 10_000_000  # batch doc id = BATCH_BASE + batch * 1000 + position


def stream_batches(out_dir: str, corpus: list, n_batches: int, seed: int,
                   docs: int = 200) -> list:
    """Write `n_batches` ingest files of `docs` docs each, plus a manifest.

    Per doc: ~2% have NULL text (they fail the expectation), ~49% are a
    corpus doc with two doc-unique tokens appended (5-gram Jaccard with
    their source >= 4/6, so they must die at threshold 0.5), the rest are
    novel: 8-20 doc-unique tokens, sharing no 5-gram with anything, so
    they must survive. The manifest lists each file's survivors.
    """
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng([seed, 1000])
    manifest = []
    for b in range(n_batches):
        ids, texts, bad, keep = [], [], 0, []
        for j in range(docs):
            doc_id = BATCH_BASE + b * 1000 + j
            u = rng.random()
            if u < 0.02:
                t = None
                bad += 1
            elif u < 0.51:
                t = f"{corpus[rng.integers(len(corpus))]} m{b}x{j}a m{b}x{j}b"
            else:
                t = " ".join(f"n{b}x{j}w{k}" for k in range(rng.integers(8, 21)))
                keep.append(doc_id)
            ids.append(doc_id)
            texts.append(t)
        name = f"batch-{b:05d}.parquet"
        pq.write_table(pa.table({"doc_id": pa.array(ids, pa.int64()),
                                 "text": pa.array(texts, pa.string())}),
                       os.path.join(out_dir, name))
        manifest.append({"file": name, "docs": docs, "bad": bad, "survivors": keep})
    with open(os.path.join(out_dir, "manifest.json"), "w") as f:
        json.dump(manifest, f)
    return manifest
