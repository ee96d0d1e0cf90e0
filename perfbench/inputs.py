"""Seeded benchmark inputs.

The committed base fixture (`perfbench/base/`) is a key-hash cut of the
project's sf0.1 star schema (see `make_base.py`). For each seed the
benchmark derives its input directory from the base by a second, seeded
key-hash cut, so the same seed always yields the same tables and the
program sees only the derived directory:

- orders and lineitem are cut on the same key (`o_orderkey` /
  `l_orderkey`), so every kept order keeps all of its line items;
- events are cut on `user_id`, so each kept user keeps its whole event
  sequence (key skew, near-duplicate events and the timestamp encoding
  survive as they are in the base);
- the small dimension tables, documents and embeddings are copied whole.
"""
import os
import shutil

import numpy as np
import pyarrow.compute as pc
import pyarrow.parquet as pq

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
# table -> key column of the seeded cut
CUT_KEYS = {"orders": "o_orderkey", "lineitem": "l_orderkey",
            "events": "user_id"}
# share of keys a seed keeps
KEEP_NUM, KEEP_DEN = 2, 3


def mix64(keys, salt):
    """splitmix64 finalizer over int64 keys; deterministic on every platform."""
    with np.errstate(over="ignore"):
        z = keys.astype(np.uint64) + np.uint64(salt) * np.uint64(0x9E3779B97F4A7C15)
        z = (z ^ (z >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
        z = (z ^ (z >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
        return z ^ (z >> np.uint64(31))


def keep_mask(keys, salt, num, den):
    return (mix64(keys, salt) % np.uint64(den)) < np.uint64(num)


def cut_table(src, dst, key, salt, num, den):
    t = pq.read_table(src)
    t = t.replace_schema_metadata(None)
    keys = t.column(key).to_numpy()
    t = t.filter(keep_mask(keys, salt, num, den))
    pq.write_table(t, dst, compression="zstd")
    return t.num_rows


def derive(base_dir, out_dir, seed):
    """Write the seed's input tables to `out_dir`; returns rows per table."""
    os.makedirs(out_dir, exist_ok=True)
    rows = {}
    for name in TABLES:
        src = os.path.join(base_dir, f"{name}.parquet")
        dst = os.path.join(out_dir, f"{name}.parquet")
        if name in CUT_KEYS:
            rows[name] = cut_table(src, dst, CUT_KEYS[name], seed + 1,
                                   KEEP_NUM, KEEP_DEN)
        else:
            shutil.copyfile(src, dst)
            rows[name] = pq.ParquetFile(dst).metadata.num_rows
    return rows


def permute(names, seed):
    """Seeded query order; independent of Python's hash randomisation."""
    order = np.argsort(mix64(np.arange(len(names), dtype=np.int64), seed + 7919),
                       kind="stable")
    return [names[i] for i in order]
