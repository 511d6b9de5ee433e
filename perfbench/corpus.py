"""Benchmark inputs: the committed sf0.001 test tables, rows permuted by seed.

Seed 42 copies the tables byte for byte. Any other seed writes every
table with its rows in a seeded random order and nothing else changed:
same columns, types, parquet schema and pandas metadata. Every declared
query is order-insensitive up to its output row order, so the expected
digests in ``expected.json`` hold for every seed.
"""

from __future__ import annotations

import os
import shutil
import zlib

import numpy as np
import pyarrow.parquet as pq

DATA_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data")
UNPERMUTED_SEED = 42


def build(sf: str, seed: int, out_dir: str) -> str:
    """Write the ``sf`` corpus for ``seed`` into ``out_dir``; return it."""
    src_dir = os.path.join(DATA_DIR, f"sf{sf}")
    os.makedirs(out_dir, exist_ok=True)
    for fname in sorted(os.listdir(src_dir)):
        src = os.path.join(src_dir, fname)
        dst = os.path.join(out_dir, fname)
        if seed == UNPERMUTED_SEED:
            shutil.copyfile(src, dst)
            continue
        table = pq.read_table(src)
        rng = np.random.default_rng([seed, zlib.crc32(fname.encode())])
        pq.write_table(table.take(rng.permutation(table.num_rows)), dst,
                       compression="snappy")
        if not pq.read_schema(dst).equals(pq.read_schema(src),
                                          check_metadata=True):
            raise RuntimeError(f"permuted {fname} changed its parquet schema")
    return out_dir
