"""Input tables for the graft benchmark.

`data/sf0.001/` holds a copy of the repo's sf0.001 reference test tables:
the ten tables graft reads (a TPC-H-shaped star schema plus `events`,
`documents` and `embeddings`), one parquet file each. Their content is
fixed, so the goldens hold for every workload seed.

`write_inputs(src_dir, out_dir, seed)` writes the copy one run reads: each
table's rows in a seed-chosen order, split over a seed-chosen number of
parquet files under `<out_dir>/<table>.parquet/`. A correct program gives
the same output for every seed.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data")


def write_inputs(src_dir, out_dir, seed):
    """Write each table of `src_dir` with its rows permuted and split over
    1-4 files, both chosen by `seed`. Returns the number of rows written."""
    rng = np.random.default_rng(seed)
    names = sorted(f[:-len(".parquet")] for f in os.listdir(src_dir) if f.endswith(".parquet"))
    if not names:
        raise FileNotFoundError(f"no input tables under {src_dir}")
    rows = 0
    for name in names:
        tab = pq.read_table(os.path.join(src_dir, f"{name}.parquet"))
        n = tab.num_rows
        perm = rng.permutation(n)
        n_files = min(n, int(rng.integers(1, 5)))
        d = os.path.join(out_dir, f"{name}.parquet")
        os.makedirs(d)
        for k, chunk in enumerate(np.array_split(perm, n_files)):
            pq.write_table(tab.take(pa.array(chunk)), os.path.join(d, f"part-{k:03d}.parquet"))
        rows += n
    return rows
