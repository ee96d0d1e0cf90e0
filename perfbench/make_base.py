#!/usr/bin/env python3
"""Cut the committed base fixture from a full sf0.1 table directory.

Usage: python3 perfbench/make_base.py <sf0.1-dir>

Run once when the fixture is (re)made; the benchmark itself never reads
outside the checkout. orders/lineitem are cut on the order key and events
on the user id (a fixed-salt key hash keeping 3 keys in 10); every other
table is copied whole. Each seed then cuts this base again (inputs.py).
"""
import os
import sys

import pyarrow.parquet as pq

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import inputs  # noqa: E402

BASE_SALT = 0x5EED


def main():
    src = sys.argv[1]
    dst = os.path.join(os.path.dirname(os.path.abspath(__file__)), "base")
    os.makedirs(dst, exist_ok=True)
    for name in inputs.TABLES:
        s = os.path.join(src, f"{name}.parquet")
        d = os.path.join(dst, f"{name}.parquet")
        if name in inputs.CUT_KEYS:
            n = inputs.cut_table(s, d, inputs.CUT_KEYS[name], BASE_SALT, 3, 10)
        else:
            t = pq.read_table(s).replace_schema_metadata(None)
            pq.write_table(t, d, compression="zstd")
            n = t.num_rows
        print(f"{name}: {n} rows, {os.path.getsize(d)} bytes")


if __name__ == "__main__":
    main()
