"""Seeded benchmark inputs.

The pipeline synthesizes its transcript table from a TPC-H ``lineitem``
parquet file (``sources/transcripts.py``).  The benchmark writes its own
``lineitem.parquet`` from the seed, with the column types and value
distributions of the dbgen sf0.01 file: order keys drawn uniformly
(about 4 lines per order, so conversation lengths follow the same
spread), part and supplier keys drawn uniformly, half the rows at
quantity >= 25 (the second entity mention).  The same seed always gives
the same file; every seed gives the same row count.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq


def write_lineitem(out_dir: str, seed: int, rows: int) -> str:
    """Write ``<out_dir>/lineitem.parquet`` with ``rows`` rows; return
    ``out_dir`` (the ``sf_dir`` the pipeline's sources read)."""
    rng = np.random.default_rng(seed)
    n_orders = max(rows // 4, 1)
    quantity = rng.integers(1, 51, rows).astype(np.float64)
    # unique per row, so the transcript window's row_number sort key
    # (linenumber, partkey, suppkey, quantity, extendedprice) has no ties
    extendedprice = np.round(quantity * 901.0 + np.arange(rows) * 0.01, 2)
    start = np.datetime64("1995-01-01", "us")
    table = pa.table({
        "l_orderkey": rng.integers(0, n_orders, rows).astype(np.int64),
        "l_partkey": rng.integers(0, 2000, rows).astype(np.int64),
        "l_suppkey": rng.integers(0, 100, rows).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, rows).astype(np.int32),
        "l_quantity": quantity,
        "l_extendedprice": extendedprice,
        "l_discount": np.round(rng.integers(0, 11, rows) * 0.01, 2),
        "l_tax": np.round(rng.integers(0, 9, rows) * 0.01, 2),
        "l_returnflag": rng.choice(np.array(["A", "N", "R"]), rows),
        "l_linestatus": rng.choice(np.array(["O", "F"]), rows),
        "l_shipdate": start + rng.integers(0, 2500, rows) * np.timedelta64(86_400_000_000, "us"),
    })
    os.makedirs(out_dir, exist_ok=True)
    pq.write_table(table, os.path.join(out_dir, "lineitem.parquet"))
    return out_dir
