"""Build ``perfbench/ref/``, the reference sample the analyst and corpus
inputs are drawn from, out of the repo's sf0.1 test tables.

    python3 perfbench/make_ref.py --src <dir holding the sf0.1 parquet files>

The benchmark reads only files inside its own checkout, so the reference
rows travel with it. The sample keeps what the queries are sensitive to:

* ``customer``: a fixed 20% of customers; ``orders``: every order of
  those customers; ``lineitem``: every line of those orders. Orders per
  customer, lines per order, date spans and value distributions stay as
  in the source;
* ``events``: every event of a fixed 20% of users, so per-user sessions
  stay whole;
* ``documents``: all of them (the waves draw fresh documents from here);
* ``region``, ``nation``, ``supplier``, ``part``: whole, so per-line
  join selectivity is unchanged;
* ``embeddings``: schema only (no query of the mix reads it, but the
  DuckDB oracle views every table).

The choice of rows is fixed (seed 0), so rebuilding from the same source
gives the same sample.
"""

from __future__ import annotations

import argparse
import os
import shutil
import sys

import numpy as np
import pyarrow.parquet as pq

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
from gen import REF_DIR, TABLES, sample_tables  # noqa: E402

SHARE = 0.2


def build(src: str, out: str) -> dict[str, int]:
    tables = {name: pq.read_table(os.path.join(src, f"{name}.parquet")) for name in TABLES}
    tables["embeddings"] = tables["embeddings"].slice(0, 0)
    tables = sample_tables(tables, SHARE, np.random.default_rng(0))

    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    for name, table in tables.items():
        pq.write_table(table.replace_schema_metadata(None), os.path.join(out, f"{name}.parquet"),
                       compression="zstd", compression_level=19)
    return {name: t.num_rows for name, t in tables.items()}


def main() -> None:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--src", required=True, help="directory of the sf0.1 parquet tables")
    p.add_argument("--out", default=REF_DIR)
    args = p.parse_args()
    for name, n in sorted(build(args.src, args.out).items()):
        print(f"{name}: {n} rows")


if __name__ == "__main__":
    main()
