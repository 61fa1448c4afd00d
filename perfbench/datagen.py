"""Seeded input data for the benchmark.

The tables come from the repo's own generator (`tools/gen_sf.py`), run
with the workload seed in place of its fixed one. That generator leaves
out `orders.o_orderpriority`, which TPC-H q4/q12 and the grouping-set
queries read, so it is added here from the same seed (uniform over the
five TPC-H priorities, as in the TPC-H spec).
"""

from __future__ import annotations

import contextlib
import io
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq


def generate(sf: float, seed: int, outdir: str) -> None:
    from tools import gen_sf

    gen_sf.SEED = seed
    with contextlib.redirect_stdout(io.StringIO()):
        gen_sf.generate(sf, outdir)

    path = os.path.join(outdir, "orders.parquet")
    orders = pq.read_table(path)
    rng = np.random.default_rng([seed, 1])
    pri = gen_sf.PRIORITIES[rng.integers(0, len(gen_sf.PRIORITIES), orders.num_rows)]
    orders = orders.append_column("o_orderpriority", pa.array(pri, type=pa.string()))
    pq.write_table(orders, path)
