"""Seeded benchmark corpus: a row permutation of the shipped tables.

The seed fixes one row permutation per table; the values and schemas are
the shipped ones, so every operator and its DuckDB oracle see the same
logical data on every seed, in a different physical order.  Two layouts:

* ``shipped`` -- one row group per file, as the shipped testdata is, so
  every parquet scan is structurally one task;
* ``wide`` -- the same single file per table cut into ``WIDE_ROW_GROUPS``
  row groups, so scans split into several tasks while
  ``tables.load_table`` and ``tests/oracle_diff.duck_connect`` still read
  ``<dir>/<table>.parquet`` unchanged.

Writing is deterministic: the same seed and layout give byte-identical
files.
"""

from __future__ import annotations

import os
import time
import zlib

import numpy as np
import pyarrow.parquet as pq

from un_datapipeline_spark.tables import TABLE_NAMES

LAYOUTS = ("shipped", "wide")

# Enough row groups that the largest table (lineitem, ~16 MB in this
# layout) splits into at least four scan tasks under Spark's 4 MB
# minimum split size.
WIDE_ROW_GROUPS = 64


def permutation(seed: int, table: str, n: int) -> np.ndarray:
    """The row order of ``table`` under ``seed`` (independent per table)."""
    rng = np.random.default_rng([seed, zlib.crc32(table.encode())])
    return rng.permutation(n)


def write_table(src_dir: str, out_dir: str, table: str, seed: int, layout: str) -> int:
    """Write one permuted table; returns the bytes written."""
    t = pq.read_table(f"{src_dir}/{table}.parquet")
    n = t.num_rows
    t = t.take(permutation(seed, table, n))
    groups = 1 if layout == "shipped" else WIDE_ROW_GROUPS
    path = f"{out_dir}/{table}.parquet"
    pq.write_table(t, path, row_group_size=max(1, -(-n // groups)))
    return os.path.getsize(path)


def generate(src_dir: str, out_dir: str, seed: int, layout: str) -> dict:
    """Write all ten tables under ``out_dir``; returns sizes and timing."""
    if layout not in LAYOUTS:
        raise ValueError(f"unknown layout {layout!r}; expected one of {LAYOUTS}")
    os.makedirs(out_dir, exist_ok=True)
    t0 = time.perf_counter()
    sizes = {t: write_table(src_dir, out_dir, t, seed, layout) for t in TABLE_NAMES}
    return {
        "dir": out_dir,
        "seed": seed,
        "layout": layout,
        "bytes": sizes,
        "generate_s": time.perf_counter() - t0,
    }
