#!/usr/bin/env python3
"""Seeded input generator for the benchmark.

Derives one input directory from the base tables in `base/` (the
engine's deterministic synthetic star schema plus events, documents and
embeddings). The derivation keeps every table's size and the structure
the queries depend on, and changes the values a cache or a memo could
key on:

- every key domain is rotated by a seed-chosen offset modulo its size,
  the same offset in every table that carries it, so joins match the
  same partners and range filters such as `vec_id < 5` keep their row
  counts. `events.user_id` stays put: the committed encoder golden
  (`tools/fixtures/q_encoder_embed`) is keyed by it;
- `documents.text` is Caesar-rotated over the letters by a seed-chosen
  amount, which keeps lengths, token counts and near-duplicate
  structure;
- every `embeddings` vector gets the same seed-chosen coordinate sign
  flips, an isometry that keeps norms and all pairwise cosines.

Usage: python3 gen.py <seed> <out_dir>
"""
import random
import string
import sys
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

BASE = Path(__file__).resolve().parent / "base"

# key domain -> the (table, column) pairs that carry it
DOMAINS = {
    "orderkey": [("lineitem", "l_orderkey"), ("orders", "o_orderkey")],
    "partkey": [("lineitem", "l_partkey"), ("part", "p_partkey")],
    "suppkey": [("lineitem", "l_suppkey"), ("supplier", "s_suppkey")],
    "custkey": [("orders", "o_custkey"), ("customer", "c_custkey")],
    "event_id": [("events", "event_id")],
    "doc_id": [("documents", "doc_id")],
    "vec_id": [("embeddings", "vec_id")],
}
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def rng(seed: int, what: str) -> random.Random:
    return random.Random(f"{seed}/{what}")


def caesar(shift: int):
    lo = string.ascii_lowercase
    rot = lo[shift:] + lo[:shift]
    return str.maketrans(lo + lo.upper(), rot + rot.upper())


def generate(seed: int, out: Path) -> None:
    tables = {t: pq.read_table(BASE / f"{t}.parquet") for t in TABLES}
    for domain, cols in DOMAINS.items():
        values = [tables[t].column(c).to_numpy() for t, c in cols]
        lo = min(int(v.min()) for v in values)
        size = max(int(v.max()) for v in values) - lo + 1
        off = rng(seed, domain).randrange(size)
        for t, c in cols:
            tab = tables[t]
            col = tab.column(c)
            moved = (col.to_numpy() - lo + off) % size + lo
            tables[t] = tab.set_column(tab.schema.get_field_index(c), c,
                                       pa.array(moved, type=col.type))

    docs = tables["documents"]
    table = caesar(rng(seed, "text").randrange(26))
    text = [s.translate(table) if s is not None else None
            for s in docs.column("text").to_pylist()]
    tables["documents"] = docs.set_column(
        docs.schema.get_field_index("text"), "text", pa.array(text, pa.string()))

    emb = tables["embeddings"]
    col = emb.column("embedding").combine_chunks()
    lengths = np.diff(col.offsets.to_numpy())
    dim = int(lengths.max())
    r = rng(seed, "signs")
    signs = np.array([r.choice((-1.0, 1.0)) for _ in range(dim)], np.float32)
    pos = np.arange(len(col.values)) - np.repeat(col.offsets.to_numpy()[:-1], lengths)
    flipped = col.values.to_numpy() * signs[pos]
    arr = pa.ListArray.from_arrays(col.offsets, pa.array(flipped, pa.float32()),
                                   type=col.type)
    tables["embeddings"] = emb.set_column(
        emb.schema.get_field_index("embedding"), "embedding", arr)

    out.mkdir(parents=True, exist_ok=True)
    for t, tab in tables.items():
        pq.write_table(tab, out / f"{t}.parquet")


if __name__ == "__main__":
    generate(int(sys.argv[1]), Path(sys.argv[2]))
