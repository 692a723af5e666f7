"""Copy the benchmark's inputs out of the repository's test data.

    python3 perfbench/make_data.py <testdata-root>

``<testdata-root>`` holds the test data's ``sf0.01/`` and ``sf0.1/``
directories (see TESTDATA.md).  The benchmark reads only what this
script writes under ``perfbench/data/``, so a run needs nothing outside
its checkout:

- ``sf0.01/documents.parquet``: the shared file, byte for byte, so
  the engine sees the same input bytes (and takes the same
  size-dependent code paths) as on the shared test data;
- ``lineitem_sf0.1.parquet``: the sf0.1 lineitem rows of the orders
  with ``l_orderkey % 32 < KEPT_SLICES``, i.e. the first
  ``KEPT_SLICES`` of the 32 order-key slices ``store_ingest`` cuts the
  table into (all 32 would add ~11 MB to the repository).
"""

from __future__ import annotations

import os
import shutil
import sys

import pyarrow.compute as pc
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
DATA = os.path.join(HERE, "data")
SLICES = 32
KEPT_SLICES = 12


def main(src: str) -> None:
    os.makedirs(os.path.join(DATA, "sf0.01"), exist_ok=True)
    shutil.copyfile(
        os.path.join(src, "sf0.01", "documents.parquet"),
        os.path.join(DATA, "sf0.01", "documents.parquet"),
    )
    table = pq.read_table(os.path.join(src, "sf0.1", "lineitem.parquet"))
    keep = pc.less(pc.bit_wise_and(table["l_orderkey"], SLICES - 1), KEPT_SLICES)
    pq.write_table(
        table.filter(keep),
        os.path.join(DATA, "lineitem_sf0.1.parquet"),
        compression="zstd",
    )


if __name__ == "__main__":
    if len(sys.argv) != 2:
        sys.exit(__doc__.split("\n\n")[1].strip())
    main(sys.argv[1])
